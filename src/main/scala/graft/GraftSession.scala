package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session's configuration is written: `Bench`,
  * `Verify`, `Smoke` and the test session all start from here. */
object GraftSession {

  /** A local session builder on `cores` threads with one shuffle
    * partition per thread, UTC session time and the UI off. */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Sketch UDAF aggregations (KLL/theta/HLL) run under
      // ObjectHashAggregate, whose sort-based fallback triggers at a
      // DEFAULT of 128 distinct groups per task -- our per-day slice
      // sketches exceed that on every map partition, silently turning
      // a hash aggregation into a full sort of the fact (measured
      // super-linear at the 32x scale probe, r15). 64k groups of
      // KB-sized sketch buffers is comfortably in-memory.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
