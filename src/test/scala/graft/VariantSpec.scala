package graft

/** Spark 4 VariantType coverage — the literal analog of the reference's
  * Snowflake VARIANT `details` column (/root/reference/README.md:44-52,
  * PARSE_JSON at transformer.py:114). The oracle-gated query
  * `q_variant_extract` must round-trip struct -> JSON -> VARIANT ->
  * typed scalars with values identical to the plain JSON-string path. */
class VariantSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("variant_get extraction matches the JSON-string path bit-for-bit") {
    def canon(name: String) =
      SparkEntry.query(name).run(spark, sf).collect()
        .map(r => (r.getDate(0).toString, r.getDouble(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val v = canon("q_variant_extract")
    val j = canon("q_json_roundtrip")
    assert(v.nonEmpty && v == j, s"variant path diverged: ${v.take(3)} vs ${j.take(3)}")
  }

  test("parse_json produces a true VariantType column") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1)
      .select(parse_json(lit("""{"a": 1, "b": [1.5, true]}""")).as("v"))
    assert(df.schema("v").dataType.isInstanceOf[org.apache.spark.sql.types.VariantType],
      s"expected VariantType, got ${df.schema("v").dataType}")
    assert(df.select(variant_get(col("v"), "$.b[0]", "double")).head().getDouble(0) == 1.5)
  }
}
