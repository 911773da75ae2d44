package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially under sbt's default test execution). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
}

/** Shared test-reference helpers. */
object TestRefs {
  /** UTF-8 BYTE order (= code-point order) — matches the engine's
    * UTF8String and DuckDB's binary collation; Scala String/tuple
    * ordering would compare UTF-16 code units, which diverges for
    * supplementary-plane chars vs U+E000..U+FFFF. Shared by both
    * driver-side BPE reference trainers so their tie-breaks can never
    * drift apart. */
  def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0; val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  val utf8PairOrd: Ordering[(String, String)] =
    (p: (String, String), q: (String, String)) => {
      val c = utf8Cmp(p._1, q._1); if (c != 0) c else utf8Cmp(p._2, q._2)
    }
}
