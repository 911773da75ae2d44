package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.board._
import graft.operators.SpendingReport

/** Driver contract — see SURVEY.md §7. `entry` is the flagship
  * pipeline; `board` is every query with its DuckDB oracle, declared
  * once per query in the per-family `graft.board.*Queries` objects. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full reference pipeline: fold → report → enrichment stub. */
  def entry(spark: SparkSession): DataFrame =
    SpendingReport.enriched(Tables.transactions(spark, "/root/testdata/sf0.001"))

  lazy val board: Seq[QueryDef] = Seq(
    SpendingQueries.defs, RelationalQueries.defs, TemporalQueries.defs,
    SketchQueries.defs, QualityQueries.defs, ChecksumQueries.defs,
    TextQueries.defs, DedupQueries.defs, SamplingQueries.defs,
    SimilarityQueries.defs, MultimodalQueries.defs, ZOrderQueries.defs).flatten

  private lazy val byName: Map[String, QueryDef] = board.map(q => q.name -> q).toMap

  /** The board query called `name`; throws naming it if there is none. */
  def query(name: String): QueryDef =
    byName.getOrElse(name, throw new IllegalArgumentException(s"not on the board: $name"))

  /** The queries a comma-separated name filter selects, in its order, or
    * the whole board when there is no filter. A name that is not on the
    * board, or a filter that names nothing, throws: a misspelled filter
    * must not run an empty set and report success. */
  def select(filter: Option[String]): Seq[QueryDef] = filter match {
    case None => board
    case Some(list) =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
      require(names.nonEmpty, s"query filter '$list' names no query")
      val missing = names.filterNot(byName.contains)
      require(missing.isEmpty, s"not on the board: ${missing.mkString(", ")}")
      names.map(byName)
  }
}
