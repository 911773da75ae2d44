package graft
package board

import org.apache.spark.sql.DataFrame

/** The migration-validation family: order- and partition-invariant
  * table checksums (`Checksum`). */
object ChecksumQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // --- migration-validation checksums (Checksum.scala) — the
    // engine's own oracle philosophy as a first-class operator ---
    QueryDef("q_table_checksum", (s, d) =>
      graft.functions.Checksum.tableChecksum(Tables.orders(s, d), ordersChecksumCols),
      s"""WITH c AS (SELECT $ordersDigestSql AS h FROM orders)
         |SELECT count(*) AS n_rows,
         |       CAST(SUM(CAST('0x' || substring(h, 1, 15) AS BIGINT)) AS VARCHAR) AS checksum_a,
         |       CAST(SUM(CAST('0x' || substring(h, 17, 15) AS BIGINT)) AS VARCHAR) AS checksum_b
         |FROM c""".stripMargin),
    QueryDef("q_checksum_groups", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Checksum.groupedChecksum(Tables.orders(s, d),
        substring(col("o_orderdate").cast("date").cast("string"), 1, 4),
        "order_year", ordersChecksumCols)
    },
      s"""WITH c AS (SELECT substring(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 1, 4) AS order_year,
         |                  $ordersDigestSql AS h
         |           FROM orders)
         |SELECT order_year, count(*) AS n_rows,
         |       CAST(SUM(CAST('0x' || substring(h, 1, 15) AS BIGINT)) AS VARCHAR) AS checksum_a,
         |       CAST(SUM(CAST('0x' || substring(h, 17, 15) AS BIGINT)) AS VARCHAR) AS checksum_b
         |FROM c GROUP BY order_year""".stripMargin),
    // grouped-checksum DIFF between the table and a deterministic
    // perturbation (drop the min-orderkey row, drop the last year):
    // exercises match / mismatch / only_left in one gated result
    QueryDef("q_checksum_diff", (s, d) => {
      import org.apache.spark.sql.functions._
      val o = Tables.orders(s, d)
        .withColumn("order_year",
          substring(col("o_orderdate").cast("date").cast("string"), 1, 4))
      val bounds = o.agg(min(col("o_orderkey")).as("min_k"),
                         max(col("order_year")).as("max_y"))
      val right = o.join(broadcast(bounds))
        .filter(col("o_orderkey") =!= col("min_k") &&
                col("order_year") < col("max_y"))
      def grouped(df: DataFrame) =
        graft.functions.Checksum.groupedChecksum(df, col("order_year"),
          "order_year", ordersChecksumCols)
      graft.functions.Checksum
        .compareChecksums(grouped(o), grouped(right), "order_year")
    },
      s"""WITH o AS (SELECT *, substring(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 1, 4) AS order_year
         |           FROM orders),
         |lc AS (SELECT order_year, count(*) AS l_rows,
         |              CAST(SUM(CAST('0x' || substring(h, 1, 15) AS BIGINT)) AS VARCHAR) AS l_a,
         |              CAST(SUM(CAST('0x' || substring(h, 17, 15) AS BIGINT)) AS VARCHAR) AS l_b
         |       FROM (SELECT order_year, $ordersDigestSql AS h FROM o) GROUP BY order_year),
         |o2 AS (SELECT * FROM o
         |       WHERE o_orderkey <> (SELECT min(o_orderkey) FROM o)
         |         AND order_year < (SELECT max(order_year) FROM o)),
         |rc AS (SELECT order_year, count(*) AS r_rows,
         |              CAST(SUM(CAST('0x' || substring(h, 1, 15) AS BIGINT)) AS VARCHAR) AS r_a,
         |              CAST(SUM(CAST('0x' || substring(h, 17, 15) AS BIGINT)) AS VARCHAR) AS r_b
         |       FROM (SELECT order_year, $ordersDigestSql AS h FROM o2) GROUP BY order_year)
         |SELECT COALESCE(lc.order_year, rc.order_year) AS order_year,
         |       l_rows, l_a, l_b, r_rows, r_a, r_b,
         |       CASE WHEN l_rows IS NULL THEN 'only_right'
         |            WHEN r_rows IS NULL THEN 'only_left'
         |            WHEN l_rows = r_rows AND l_a = r_a AND l_b = r_b THEN 'match'
         |            ELSE 'mismatch' END AS status
         |FROM lc FULL OUTER JOIN rc ON lc.order_year = rc.order_year""".stripMargin),
  )

  /** Engine-portable canonical rendering of `orders` for the checksum
    * queries: ints/strings directly, the timestamp through DATE, money
    * exactly quantized to cents (double→string rendering differs
    * across engines; floor-quantized ints never do). */
  private def ordersChecksumCols: Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      floor(col("o_totalprice") * 100).cast("long"),
      col("o_orderdate").cast("date"), col("o_orderpriority"))
  }

  /** DuckDB rendering of the SAME canonical orders row the Spark side
    * hashes (ordersChecksumCols): chr(1) separator, chr(2) NULL mark,
    * money floor-quantized to cents before stringification. */
  private val ordersDigestSql =
    """md5(concat_ws(chr(1),
      |  COALESCE(CAST(o_orderkey AS VARCHAR), chr(2)),
      |  COALESCE(CAST(o_custkey AS VARCHAR), chr(2)),
      |  COALESCE(o_orderstatus, chr(2)),
      |  COALESCE(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), chr(2)),
      |  COALESCE(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), chr(2)),
      |  COALESCE(o_orderpriority, chr(2))))""".stripMargin.replace("\n", " ")
}
