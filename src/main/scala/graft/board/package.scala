package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query board: one `QueryDef` per query, declared in the per-family
  * `*Queries` objects of this package and indexed by `SparkEntry.board`.
  * This package object holds only the plan and oracle helpers that more
  * than one family uses; a helper one family uses lives in that family's
  * object. */
package object board {

  /** The transactions view (the reference's upload-summary analog,
    * SURVEY.md §7.1) that the spending, temporal, quality, sketch and
    * dedup queries read; `txSql` is the same view for their oracles. */
  private[board] def tx(s: SparkSession, dir: String): DataFrame = Tables.transactions(s, dir)

  private[board] val txSql =
    "SELECT cast(ts AS date) AS txn_date, event_type AS category, " +
      "'u' || user_id AS vendor, value AS amount FROM events"

  /** Distinct word-3-gram shingle sets per document (mirror of
    * Dedup.shingles(n=3)), parameterized by the docs source so the
    * composed curation-ledger oracle can shingle intermediate stages
    * (r15). */
  private[board] def shinglesSqlFrom(src: String): String =
    s"""SELECT doc_id, lang, source,
       |       list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
       |         i -> array_to_string(toks[i:i+2], ' '))) AS sh
       |FROM (SELECT doc_id, lang, source,
       |             string_split_regex(trim(lower(text)), '\\s+') AS toks
       |      FROM $src)""".stripMargin

  /** Exact + MinHash-LSH dup-edge CTE chain over an arbitrary docs
    * source, with every CTE name suffixed so TWO independent dedup
    * chains can coexist in one statement (the curation ledger runs one
    * over the filtered corpus and another over the decontaminated one,
    * r15). `dedupEdgesCtes` keeps the historical unsuffixed form over
    * `documents` for the existing oracles. */
  private[board] def dedupEdgesCtesFrom(src: String, x: String): String = {
    val mins = (0 until 8).map(i => s"min(h1 + $i * h2) AS s$i").mkString(",\n       ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(s${2 * b} || '|' || s${2 * b + 1}) AS bkey FROM sig$x")
      .mkString("\n      UNION ALL ")
    raw"""s$x AS MATERIALIZED (${shinglesSqlFrom(src)}),
       |e$x AS (SELECT doc_id,
       |             CAST('0x' || substring(md5(sh), 1, 8) AS BIGINT) AS h1,
       |             CAST('0x' || substring(md5(sh), 9, 8) AS BIGINT) AS h2
       |      FROM (SELECT doc_id, unnest(sh) AS sh FROM s$x)),
       |sig$x AS MATERIALIZED (SELECT doc_id,
       |       $mins
       |        FROM e$x GROUP BY doc_id),
       |bands$x AS ($bandRows),
       |bcap$x AS (SELECT GREATEST(1000, CAST(ceil(4.0 * sqrt(count(*))) AS BIGINT)) AS c FROM sig$x),
       |bsz$x AS (SELECT band, bkey, count(*) AS cnt FROM bands$x GROUP BY 1, 2),
       |coldb$x AS (SELECT bands$x.* FROM bands$x JOIN bsz$x USING (band, bkey)
       |          WHERE bsz$x.cnt <= (SELECT c FROM bcap$x)),
       |candn$x AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM coldb$x x JOIN coldb$x y
       |            ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |nearp$x AS (SELECT c.doc_a, c.doc_b
       |          FROM candn$x c
       |          JOIN s$x sa ON sa.doc_id = c.doc_a
       |          JOIN s$x sb ON sb.doc_id = c.doc_b
       |          WHERE cast(len(list_intersect(sa.sh, sb.sh)) AS double)
       |                  / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5),
       |exactp$x AS (SELECT mn AS doc_a, doc_id AS doc_b FROM (
       |             SELECT doc_id,
       |                    min(doc_id) OVER (PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS mn
       |             FROM $src) WHERE doc_id > mn),
       |edges$x AS MATERIALIZED (SELECT doc_a, doc_b FROM nearp$x UNION SELECT doc_a, doc_b FROM exactp$x
       |          UNION SELECT doc_b, doc_a FROM nearp$x UNION SELECT doc_b, doc_a FROM exactp$x)""".stripMargin
  }

  /** Text-channel duplicate EDGES only (exact + banded MinHash near-dup,
    * both orientations) — the reusable prefix `dedupCorpusBaseSql`
    * closes over with `reach`; `q_crossmodal_dedup` instead unions
    * these edges with the fingerprint channel's before ITS closure. */
  private[board] lazy val dedupEdgesCtes = dedupEdgesCtesFrom("documents", "")

  /** Min-label reachability (connected components) over an `edges$x`
    * CTE emitted by `dedupEdgesCtesFrom`. */
  private[board] def reachCteFrom(x: String): String =
    raw"""reach$x AS (
       |  WITH RECURSIVE r(id, m) AS (
       |    SELECT doc_a AS id, doc_a AS m FROM edges$x
       |    UNION
       |    SELECT e.doc_a, r.m FROM edges$x e JOIN r ON r.id = e.doc_b
       |  ) SELECT id, min(m) AS label FROM r GROUP BY id)""".stripMargin
}
