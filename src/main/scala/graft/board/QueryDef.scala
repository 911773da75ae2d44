package graft.board

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query on the board, declared once: its Spark plan, its oracle and
  * its tier.
  *
  * `run` builds the plan over a scale-factor directory. `oracleSql` is
  * the ANSI-SQL statement DuckDB runs over the same parquet tables,
  * named bare (events/lineitem/...); column names are aligned between
  * the plan and the SQL because the driver's compare sorts columns by
  * name before hashing.
  *
  * `demo` marks the DEMO/DIAGNOSTIC tier: queries kept on the board as
  * oracle-portability or measurement vehicles, but excluded from
  * scale-up runs and capacity planning because their cost is not a
  * serving cost (each one's comment says why). `Bench` reports them as
  * `value_demo` and skips them under SPARK_GRAFT_SKIP_DEMO=1. */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String,
    demo: Boolean = false)
