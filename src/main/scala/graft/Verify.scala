package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each `SparkEntry.board` query's result →
  * parquet, plus oracle_sql.json (the whole board's oracles, keys
  * sorted), for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Builder-side iteration aid: run only the named queries (comma-sep;
    // an unknown name throws). The driver never sets this, so the gate
    // always sees the full surface.
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Round-open drift guard: an input TYPE change must announce itself
    // here, not as 60 AnalysisExceptions at the correctness gate.
    // Footer-only, so this costs milliseconds.
    Tables.warnDrift(spark, sfDir, "verify")
    selected.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.board.sortBy(_.name)
      .map(q => s"${Json.str(q.name)}: ${Json.str(q.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
