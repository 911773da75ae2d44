package graft
package board

/** The multimodal family: media metadata, perceptual hashes, content
  * fingerprints and cross-modal dedup (`Multimodal`). */
object MultimodalQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // cross-modal governance ledger: union-closure attrition decomposed
    // by channel (text-only / payload-only / cross-channel losers are a
    // disjoint partition — single-channel components nest in the union
    // component, so their min labels only decrease); rides the memoized
    // text-CC, payload-CC and xcc fixpoints
    QueryDef("q_crossmodal_savings", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.multimodal.Multimodal.crossModalSavings(
        docs, graft.multimodal.Multimodal.fromDocuments(docs), 3, 8, 4, 0.5)
    },
      // channel-decomposed savings: three recursive closures (text-only,
      // payload-only, union) — single-channel losers nest in the union's,
      // so text/payload/cross classes partition the union losers
      s"""WITH $dedupEdgesCtes,
         |$fingerprint64Ctes,
         |mp AS (SELECT a.id AS doc_a, b.id AS doc_b
         |       FROM ph a JOIN ph b ON a.id < b.id
         |       WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         |medges AS (SELECT doc_a, doc_b FROM mp
         |           UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM mp),
         |alledges AS (SELECT doc_a, doc_b FROM edges
         |             UNION SELECT doc_a, doc_b FROM medges),
         |treach AS (
         |  WITH RECURSIVE r(id, m) AS (
         |    SELECT doc_a AS id, doc_a AS m FROM edges
         |    UNION
         |    SELECT e.doc_a, r.m FROM edges e JOIN r ON r.id = e.doc_b
         |  ) SELECT id, min(m) AS label FROM r GROUP BY id),
         |mreach AS (
         |  WITH RECURSIVE r(id, m) AS (
         |    SELECT doc_a AS id, doc_a AS m FROM medges
         |    UNION
         |    SELECT e.doc_a, r.m FROM medges e JOIN r ON r.id = e.doc_b
         |  ) SELECT id, min(m) AS label FROM r GROUP BY id),
         |xreach AS (
         |  WITH RECURSIVE r(id, m) AS (
         |    SELECT doc_a AS id, doc_a AS m FROM alledges
         |    UNION
         |    SELECT e.doc_a, r.m FROM alledges e JOIN r ON r.id = e.doc_b
         |  ) SELECT id, min(m) AS label FROM r GROUP BY id),
         |lt AS (SELECT id FROM treach WHERE label < id),
         |lm AS (SELECT id FROM mreach WHERE label < id),
         |lu AS (SELECT id FROM xreach WHERE label < id)
         |SELECT d.source,
         |       count(*) AS docs_in,
         |       CAST(sum(CASE WHEN lu.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
         |       CAST(sum(CASE WHEN lt.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lost_text_docs,
         |       CAST(sum(CASE WHEN lt.id IS NULL AND lm.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lost_payload_docs,
         |       CAST(sum(CASE WHEN lu.id IS NOT NULL AND lt.id IS NULL AND lm.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lost_cross_docs,
         |       CAST(sum(d.n_chars) AS BIGINT) AS chars_in,
         |       CAST(sum(CASE WHEN lu.id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
         |       CAST(sum(CASE WHEN lt.id IS NOT NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS lost_text_chars,
         |       CAST(sum(CASE WHEN lt.id IS NULL AND lm.id IS NOT NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS lost_payload_chars,
         |       CAST(sum(CASE WHEN lu.id IS NOT NULL AND lt.id IS NULL AND lm.id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS lost_cross_chars
         |FROM documents d
         |LEFT JOIN lt ON lt.id = d.doc_id
         |LEFT JOIN lm ON lm.id = d.doc_id
         |LEFT JOIN lu ON lu.id = d.doc_id
         |GROUP BY d.source""".stripMargin),
    // --- multimodal plumbing ---
    QueryDef("q_multimodal_meta", (s, d) =>
      graft.multimodal.Multimodal.mediaMeta(
        graft.multimodal.Multimodal.fromDocuments(Tables.documents(s, d))),
      """SELECT doc_id AS id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |       cast(octet_length(encode(text)) AS bigint) AS n_bytes,
        |       md5(text) AS content_md5
        |FROM documents""".stripMargin),
    // content-level dedup for binary payloads: 64-bit window-SimHash
    // fingerprint computed in the batched decoder, banded Hamming
    // join (recall 1.0 ⟹ blocking-independent), exact-bytes flag
    QueryDef("q_multimodal_dedup", (s, d) =>
      graft.multimodal.Multimodal.fingerprintDedup(
        graft.multimodal.Multimodal.fromDocuments(Tables.documents(s, d))),
      // brute-force replay of the window-SimHash fingerprint (recall-1.0
      // banding makes the engine result blocking-independent); is_exact
      // compares the payloads' full hex — byte equality, not a hash
      s"""$fingerprint64Sql
         |SELECT a.id AS id_a, b.id AS id_b,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming,
         |       CAST(CASE WHEN ma.hx = mb.hx THEN 1 ELSE 0 END AS BIGINT) AS is_exact
         |FROM ph a JOIN ph b ON a.id < b.id
         |JOIN fp_m ma ON ma.id = a.id
         |JOIN fp_m mb ON mb.id = b.id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin),
    // perceptual-hash media near-dup over STRUCTURED synthetic
    // payloads (Synthetic.mediaPayloads: concentrated md5-palette
    // byte profiles — the non-degenerate aHash input the text-derived
    // demo bytes cannot be): banded Hamming join over the 64-bit
    // histogram hash; the oracle replays the histogram ALGEBRAICALLY
    // from the palette counts, then brute-forces all pairs
    QueryDef("q_media_phash", (s, d) =>
      graft.multimodal.Multimodal.mediaNearDupPairs(
        graft.sources.Synthetic.mediaPayloads(Tables.documents(s, d)), 3),
      // the aHash replayed ALGEBRAICALLY: mediaPayloads' content is
      // repeated single-byte palette chunks, so the 64-bin byte
      // histogram is exactly the per-bin sum of palette counts — no
      // byte unnesting; bit j iff 64*cnt > 240 (integer-exact form of
      // the engine's cnt > len/64.0), then brute-force Hamming pairs
      mediaPhashOracleSql),
    // perceptual hash over REAL DECODED PIXELS: deterministic binary
    // PPM payloads genuinely parsed back by PpmDecoder (header,
    // comments, bounds — a real format parse, not the byte-histogram
    // stub), 8x8 block aHash on the integer lumas, banded Hamming
    // join. The oracle replays the pixels algebraically from the
    // generator's md5 definition, so a one-byte parse error fails the
    // gate.
    QueryDef("q_media_phash_px", (s, d) =>
      graft.multimodal.Multimodal.mediaNearDupPairsPixels(
        graft.sources.Synthetic.ppmPayloads(Tables.documents(s, d)), 3),
      mediaPhashPxOracleSql),
    // per-frame video dedup: videos sharing >= 2 distinct sampled
    // frame contents, via a df-capped frame-digest inverted index.
    // The df cap (autoDocFreqCap(n), floor 1000) is ENGINE-side only:
    // it never binds at the gated scales, so the uncapped DuckDB
    // replay matches exactly; at scales where it starts binding the
    // engine deliberately drops hotter-than-√n frame digests (with a
    // runtime warn) and would diverge from this uncapped oracle.
    QueryDef("q_multimodal_frame_dup", (s, d) =>
      graft.multimodal.Multimodal.frameDedupPairs(
        graft.multimodal.Multimodal.fromDocuments(Tables.documents(s, d))),
      // frame equality replays on the hex windows directly (hex is
      // injective, so joining fr strings == joining frame bytes; the
      // engine's md5 digesting is internal to its join key). This
      // oracle is UNCAPPED: it matches while the engine's df cap
      // (autoDocFreqCap(n), floor 1000) does not bind — true at every
      // gated SF; a corpus with a frame digest hotter than the cap
      // would make the engine (correctly, with a warn) drop that
      // digest and diverge from this brute-force replay.
      """WITH v AS (SELECT doc_id AS id, hex(encode(text)) AS hx
        |           FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT DISTINCT id, substring(hx, (i-1)*32+1, 32) AS fr
        |      FROM v, UNNEST(range(1, length(hx)//32 + 1, 2)) AS u(i)),
        |p AS (SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
        |      FROM f a JOIN f b ON a.fr = b.fr AND a.id < b.id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 2""".stripMargin),
    // ONE duplicate graph across BOTH channels: text (exact + minhash)
    // edges unioned with payload-fingerprint edges, one CC, min-id
    // survivors — dup chains may cross channels
    QueryDef("q_crossmodal_dedup", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      graft.multimodal.Multimodal.crossModalDedup(
          docs, graft.multimodal.Multimodal.fromDocuments(docs), 3, 8, 4, 0.5)
        .select(col("doc_id"), col("n_chars"))
    },
      // cross-modal closure: text edges ∪ fingerprint (hamming <= 3)
      // edges, one recursive reachability, min-id survivors
      s"""WITH $dedupEdgesCtes,
         |$fingerprint64Ctes,
         |mp AS (SELECT a.id AS doc_a, b.id AS doc_b
         |       FROM ph a JOIN ph b ON a.id < b.id
         |       WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         |alledges AS (SELECT doc_a, doc_b FROM edges
         |             UNION SELECT doc_a, doc_b FROM mp
         |             UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM mp),
         |xreach AS (
         |  WITH RECURSIVE r(id, m) AS (
         |    SELECT doc_a AS id, doc_a AS m FROM alledges
         |    UNION
         |    SELECT e.doc_a, r.m FROM alledges e JOIN r ON r.id = e.doc_b
         |  ) SELECT id, min(m) AS label FROM r GROUP BY id),
         |losers AS (SELECT id AS doc_id FROM xreach WHERE label < id)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |LEFT JOIN losers l ON l.doc_id = d.doc_id WHERE l.doc_id IS NULL""".stripMargin),
  )

  /** DuckDB replay of the perceptual-hash family over
    * `Synthetic.mediaPayloads`: the payload is repeated single-byte
    * palette chunks, so `Multimodal.perceptualHash`'s 64-bin byte
    * histogram equals the per-bin SUM OF PALETTE COUNTS (bin =
    * byte/4; same-bin palette collisions merge on both sides) — the
    * oracle never unnests bytes. Bit j is set iff 64·cnt > 240, the
    * integer-exact form of the engine's `cnt > len/64.0` (len = 240,
    * counts integral). The hash assembles in HUGEINT (bit 63) and
    * wraps to signed BIGINT — `simhash64Sql`'s convention — then all
    * pairs brute-force through bit_count(xor) ≤ 3, certifying the
    * engine's banded pigeonhole join (recall 1.0 for hamming < bands
    * by construction). */
  /** Decoded-pixel perceptual hash replay (`q_media_phash_px`): the
    * pixels are recomputed ALGEBRAICALLY from `Synthetic.ppmPayloads`'
    * md5 definition (luma = (r+g+b)//3 over the three payload bytes of
    * md5('px'||base||'_'||p); pixel 0 of id%20==1 reads the '_alt'
    * hash), the 8×8 aHash bit p is 64·luma_p > Σluma, the HUGEINT bit
    * sum wraps to signed int64 exactly like the simhash oracles, and
    * pairs brute-force at Hamming <= 3 (banding invisible by the
    * recall-1.0 pigeonhole). The ENGINE path instead decodes real P6
    * bytes through PpmDecoder — a parse error of even one byte
    * hash-diverges here. */
  private lazy val mediaPhashPxOracleSql: String = {
    val bitRows = (0 until 64).map(j => s"($j, ${BigInt(1) << j}::HUGEINT)").mkString(", ")
    s"""WITH pal AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 20 = 1 THEN doc_id - 1
       |              WHEN doc_id % 20 = 2 THEN doc_id - 2
       |              ELSE doc_id END AS base
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, p,
       |         CASE WHEN p = 0 AND doc_id % 20 = 1
       |              THEN md5(concat('px', doc_id, '_alt'))
       |              ELSE md5(concat('px', base, '_', p)) END AS h
       |  FROM pal CROSS JOIN (SELECT unnest(range(64)) AS p) ps),
       |lum AS (
       |  SELECT doc_id, p,
       |         (CAST('0x' || substring(h, 1, 2) AS BIGINT)
       |        + CAST('0x' || substring(h, 3, 2) AS BIGINT)
       |        + CAST('0x' || substring(h, 5, 2) AS BIGINT)) // 3 AS luma
       |  FROM px),
       |tot AS (SELECT doc_id, sum(luma) AS t FROM lum GROUP BY doc_id),
       |bitv AS (SELECT * FROM (VALUES $bitRows) t(bin, v)),
       |phu AS (SELECT l.doc_id, sum(v) AS s
       |        FROM lum l JOIN tot USING (doc_id) JOIN bitv ON bitv.bin = l.p
       |        WHERE 64 * l.luma > tot.t GROUP BY l.doc_id),
       |phz AS (SELECT pal.doc_id, coalesce(phu.s, 0::HUGEINT) AS s
       |        FROM pal LEFT JOIN phu USING (doc_id)),
       |ph2 AS (SELECT doc_id,
       |               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
       |                         THEN s - 18446744073709551616::HUGEINT
       |                         ELSE s END AS BIGINT) AS ph
       |        FROM phz)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
       |FROM ph2 a JOIN ph2 b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.ph, b.ph)) <= 3""".stripMargin
  }

  private lazy val mediaPhashOracleSql: String = {
    val bitRows = (0 until 64).map(j => s"($j, ${BigInt(1) << j}::HUGEINT)").mkString(", ")
    s"""WITH pal AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 20 = 1 THEN doc_id - 1
       |              WHEN doc_id % 20 = 2 THEN doc_id - 2
       |              ELSE doc_id END AS base
       |  FROM documents),
       |chunks AS (
       |  SELECT doc_id,
       |         CAST('0x' || substring(md5(concat('pal', base, '_', k)), 1, 2) AS BIGINT) AS b,
       |         CASE WHEN k = 0 AND doc_id % 20 = 1 THEN 112
       |              WHEN k = 0 THEN 120
       |              WHEN k = 1 THEN 60 WHEN k = 2 THEN 24 WHEN k = 3 THEN 16
       |              WHEN k = 4 THEN 12 ELSE 8 END AS cnt
       |  FROM pal CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5]) AS k) ks
       |  UNION ALL
       |  SELECT doc_id,
       |         CAST('0x' || substring(md5(concat('pal', doc_id, '_x')), 1, 2) AS BIGINT) AS b,
       |         8 AS cnt
       |  FROM pal WHERE doc_id % 20 = 1),
       |hbins AS (SELECT doc_id, b // 4 AS bin, sum(cnt) AS c
       |          FROM chunks GROUP BY 1, 2),
       |bitv AS (SELECT * FROM (VALUES $bitRows) t(bin, v)),
       |phu AS (SELECT doc_id, sum(v) AS s
       |        FROM hbins JOIN bitv USING (bin)
       |        WHERE 64 * c > 240 GROUP BY doc_id),
       |ph2 AS (SELECT doc_id,
       |               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
       |                         THEN s - 18446744073709551616::HUGEINT
       |                         ELSE s END AS BIGINT) AS ph
       |        FROM phu)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
       |FROM ph2 a JOIN ph2 b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.ph, b.ph)) <= 3""".stripMargin
  }

  /** DuckDB replay of `Multimodal.contentFingerprint64`: each sliding
    * 4-byte window of the payload becomes the token
    * `substring(hex(content), (i-1)*2+1, 8)` (UPPERCASE hex — exactly
    * the string the engine's decoder hashes), then the simhash64Sql
    * vote/bit convention verbatim. Payloads under 4 bytes have no
    * windows and are excluded on both sides. */
  private val fingerprint64Ctes = {
    val votes = (0 until 64).map { j =>
      val digits =
        if (j < 32) "('8','9','a','b','c','d','e','f')"
        else "('2','3','6','7','a','b','e','f')"
      s"sum(CASE WHEN substring(md5(tok), ${(j % 32) + 1}, 1) IN $digits THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n       ")
    val bits = (0 until 64).map(j =>
      s"(CASE WHEN v$j > 0 THEN ${BigInt(1) << j}::HUGEINT ELSE 0::HUGEINT END)")
      .mkString(" + ")
    // CTE names are fp_-prefixed so these compose collision-free with
    // the text dedup CTEs (q_crossmodal_dedup unions both families)
    raw"""fp_m AS (SELECT doc_id AS id, hex(encode(text)) AS hx
       |           FROM documents WHERE octet_length(encode(text)) >= 4),
       |fp_e AS (SELECT id, substring(hx, (i-1)*2+1, 8) AS tok
       |      FROM fp_m, UNNEST(range(1, length(hx)//2 - 2)) AS u(i)),
       |fp_v AS (SELECT id,
       |       $votes
       |      FROM fp_e GROUP BY id),
       |fp_u AS (SELECT id, $bits AS s FROM fp_v),
       |ph AS (SELECT id,
       |         CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
       |              THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS fp
       |       FROM fp_u)""".stripMargin
  }

  private val fingerprint64Sql = "WITH " + fingerprint64Ctes
}
