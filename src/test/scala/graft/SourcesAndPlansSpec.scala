package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.plans.DotI64
import graft.sources.UploadSource

class UploadSourceSpec extends SparkSpec {

  private def writeJson(lines: String*): String = {
    val dir = Files.createTempDirectory("graft_json")
    Files.writeString(dir.resolve("part-0.json"), lines.mkString("\n"))
    dir.toString
  }

  test("S1: uploaded file id projection casts and flattens") {
    val dir = writeJson("""{"uploaded_files": [{"id": "1"}, {"id": "7"}]}""",
      """{"uploaded_files": [{"id": "12"}]}""")
    val ids = UploadSource.uploadedFileIds(spark, dir).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 7L, 12L))
  }

  test("S2/P4: summaries parse maps and dates; malformed/empty rows drop") {
    val dir = writeJson(
      """{"upload_id": 1, "begin_date": "2024-01-01", "end_date": "2024-01-31", "total_spent": 10.5, "total_transactions": 3, "spending_per_category": {"food": 10.5}, "spending_per_vendor": {"v": 10.5}}""",
      """{"upload_id": 2}""",                       // empty-ish: required fields missing
      """this is not json at all""",                // malformed
      """{"upload_id": 3, "begin_date": "2024-02-01", "end_date": "2024-02-28", "total_spent": 4.0, "total_transactions": 1, "spending_per_category": {"toys": 4.0}, "spending_per_vendor": {"w": 4.0}}""")
    val rows = UploadSource.uploadSummaries(spark, dir).orderBy("upload_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Map[String, Double]]("spending_per_category") == Map("food" -> 10.5))
    assert(rows(0).getDate(1).toString == "2024-01-01")
    // F10: map-explode to long form
    val tx = UploadSource.transactionsFromSummaries(
      UploadSource.uploadSummaries(spark, dir), "spending_per_category")
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSet
    assert(tx == Set(("food", 10.5), ("toys", 4.0)))
  }
}

class DotI64Spec extends SparkSpec {
  import spark.implicits._

  test("native dot product: eval, codegen, and SQL registration agree") {
    val df = Seq((Array(1L, 2L, 3L), Array(4L, 5L, 6L))).toDF("a", "b")
    // Column API (codegen path)
    assert(df.select(DotI64.dot_i64(col("a"), col("b"))).head().getLong(0) == 32L)
    // SQL registration
    DotI64.register(spark)
    assert(df.selectExpr("dot_i64(a, b)").head().getLong(0) == 32L)
    // agrees with the HOF fold it replaced
    val hof = df.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)")
      .head().getLong(0)
    assert(hof == 32L)
  }

  test("null array yields null; empty arrays yield 0") {
    val df = Seq((Array(1L), Option.empty[Array[Long]]), (Array.empty[Long], Some(Array.empty[Long])))
      .toDF("a", "b")
    val out = df.select(DotI64.dot_i64(col("a"), col("b")).as("d")).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getLong(0) == 0L)
  }

  test("type mismatch is rejected at analysis") {
    val df = Seq((Array(1.0), Array(1L))).toDF("a", "b")
    intercept[Exception] { df.select(DotI64.dot_i64(col("a"), col("b"))).head() }
  }

  test("top_k SQL registration: literal k, smallest-first structs") {
    import graft.plans.TopK
    TopK.register(spark)
    val df = Seq((1, 5L, 3.0), (1, 2L, 1.0), (1, 9L, 2.0), (2, 4L, 7.0))
      .toDF("g", "id", "v")
    val out = df.groupBy(col("g"))
      .agg(expr("top_k(struct(v, id), 2)").as("t"))
      .selectExpr("g", "transform(t, s -> s.id) AS ids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toList).toMap
    assert(out(1) == List(2L, 9L), s"got $out") // v asc: 1.0, 2.0
    assert(out(2) == List(4L))
    // non-literal k rejected
    intercept[Exception] {
      df.groupBy(col("g")).agg(expr("top_k(struct(v, id), g)")).collect()
    }
  }

  test("top_k forSql argument errors are readable; NaN ordering contract enforced") {
    import graft.plans.TopK
    TopK.register(spark)
    val df = Seq((1, 5L, 3.0), (1, 2L, 1.0)).toDF("g", "id", "v")
    // null k -> named message, not an NPE
    val eNull = intercept[Exception] {
      df.groupBy(col("g")).agg(expr("top_k(struct(v, id), CAST(NULL AS INT))")).collect()
    }
    assert(eNull.getMessage.contains("non-null integer"), eNull.getMessage)
    // non-integral k -> named message, not a ClassCastException
    val eFrac = intercept[Exception] {
      df.groupBy(col("g")).agg(expr("top_k(struct(v, id), 2.5)")).collect()
    }
    assert(eFrac.getMessage.contains("integer literal"), eFrac.getMessage)
    val eStr = intercept[Exception] {
      df.groupBy(col("g")).agg(expr("top_k(struct(v, id), 'two')")).collect()
    }
    assert(eStr.getMessage.contains("integer literal"), eStr.getMessage)
    // k < 1 -> named message
    val eZero = intercept[Exception] {
      df.groupBy(col("g")).agg(expr("top_k(struct(v, id), 0)")).collect()
    }
    assert(eZero.getMessage.contains("k >= 1"), eZero.getMessage)
    // NaN contract (scaladoc at TopK.scala): struct natural ASCENDING
    // ordering — NaN is the LARGEST double, so NaN-keyed rows rank
    // LAST and can only enter a top-k that isn't already full of real
    // keys. Pinned here, deterministically, incl. under repartition —
    // the behavior is enforced by test, not assumed prose.
    val nan = Seq((1, 10L, Double.NaN), (1, 2L, 1.0), (1, 9L, 2.0), (1, 11L, Double.NaN))
      .toDF("g", "id", "v")
    def ids(d: org.apache.spark.sql.DataFrame, k: Int) = d.groupBy(col("g"))
      .agg(expr(s"top_k(struct(v, id), $k)").as("t"))
      .selectExpr("transform(t, s -> s.id) AS ids")
      .head().getSeq[Long](0).toList
    assert(ids(nan, 2) == List(2L, 9L), "real keys must crowd out NaN")
    assert(ids(nan, 3) == List(2L, 9L, 10L), "NaN ranks last, id breaks the NaN tie")
    assert(ids(nan.repartition(5), 3) == List(2L, 9L, 10L), "repartition-invariant")
  }
}
