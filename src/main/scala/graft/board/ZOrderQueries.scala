package graft
package board

/** The layout family: z-order clustering and the data skipping it buys
  * (`ZOrder`). */
object ZOrderQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // Z-order layout manifest: Morton-interleave min-max-quantized
    // (l_partkey, l_suppkey), bucket by curve prefix, emit per-bucket
    // min/max stats + the 0/1 scanned flag for a 2-D predicate
    // rectangle — all integer bit algebra, bit-exact in DuckDB
    QueryDef("q_zorder_skip", (s, d) =>
      graft.sources.ZOrder.zOrderSkipStats(Tables.lineitem(s, d),
        "l_partkey", "l_suppkey", 8, 8, 100L, 300L, 10L, 40L),
      // the z-order manifest replayed bit-exactly: integer quantization,
      // Morton interleave as disjoint-bit addition, prefix buckets
      s"""WITH $zOrderStatsCtes
         |SELECT z_bucket, n_rows, min_a, max_a, min_b, max_b, scanned
         |FROM zf""".stripMargin),
    // what interleaving buys: z-order vs single-key prefix layout at
    // the same bucket count, buckets/rows scanned for one rectangle
    QueryDef("q_zorder_compare", (s, d) =>
      graft.sources.ZOrder.zOrderCompare(Tables.lineitem(s, d),
        "l_partkey", "l_suppkey", 8, 8, 100L, 300L, 10L, 40L),
      s"""WITH $zOrderStatsCtes,
         |zrow AS (SELECT 'zorder' AS layout, count(*) AS n_buckets,
         |                CAST(sum(scanned) AS BIGINT) AS buckets_scanned,
         |                CAST(sum(scanned * n_rows) AS BIGINT) AS rows_scanned
         |         FROM zf),
         |ls AS (SELECT aq AS bucket, count(*) AS n_rows,
         |              min(a) AS min_a, max(a) AS max_a,
         |              min(b2) AS min_b, max(b2) AS max_b
         |       FROM zv GROUP BY 1),
         |lf AS (SELECT CASE WHEN max_a >= 100 AND min_a <= 300
         |                    AND max_b >= 10 AND min_b <= 40
         |                   THEN 1 ELSE 0 END AS scanned, n_rows
         |       FROM ls),
         |lrow AS (SELECT 'linear_a' AS layout, count(*) AS n_buckets,
         |                CAST(sum(scanned) AS BIGINT) AS buckets_scanned,
         |                CAST(sum(scanned * n_rows) AS BIGINT) AS rows_scanned
         |         FROM lf)
         |SELECT * FROM zrow UNION ALL SELECT * FROM lrow""".stripMargin),
  )

  /** Morton interleave of two quantized `bits`-bit ints as portable
    * SQL: target bits are disjoint, so `+` assembles the OR exactly. */
  private def zInterleaveSql(aq: String, bq: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($aq >> $i) & 1) << ${2 * i}) + ((($bq >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Shared CTE prefix for the z-order oracles: min-max bounds, exact
    * integer quantization (DuckDB `//` floor == Spark `div` truncation
    * on the non-negative operands), interleave, and the per-bucket
    * stats + scanned flag for the gate rectangle [100,300]×[10,40]
    * (bits = 8, prefixBits = 8 ⟹ bucket = z >> 8). */
  private lazy val zOrderStatsCtes: String =
    s"""zb AS (SELECT min(l_partkey) AS amn, max(l_partkey) AS amx,
       |             min(l_suppkey) AS bmn, max(l_suppkey) AS bmx
       |      FROM lineitem),
       |zq AS (SELECT l.l_partkey AS a, l.l_suppkey AS b2,
       |              CASE WHEN zb.amx > zb.amn
       |                   THEN ((l.l_partkey - zb.amn) * 255) // (zb.amx - zb.amn)
       |                   ELSE 0 END AS aq,
       |              CASE WHEN zb.bmx > zb.bmn
       |                   THEN ((l.l_suppkey - zb.bmn) * 255) // (zb.bmx - zb.bmn)
       |                   ELSE 0 END AS bq
       |       FROM lineitem l CROSS JOIN zb),
       |zv AS (SELECT a, b2, aq, (${zInterleaveSql("aq", "bq", 8)}) AS z FROM zq),
       |zs AS (SELECT z >> 8 AS z_bucket, count(*) AS n_rows,
       |              min(a) AS min_a, max(a) AS max_a,
       |              min(b2) AS min_b, max(b2) AS max_b
       |       FROM zv GROUP BY 1),
       |zf AS (SELECT z_bucket, n_rows, min_a, max_a, min_b, max_b,
       |              CAST(CASE WHEN max_a >= 100 AND min_a <= 300
       |                         AND max_b >= 10 AND min_b <= 40
       |                        THEN 1 ELSE 0 END AS BIGINT) AS scanned
       |       FROM zs)""".stripMargin
}
