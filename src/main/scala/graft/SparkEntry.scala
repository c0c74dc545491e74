package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Tables
import graft.operators.EventPipelines
import graft.queries.QuerySpec

/** Driver contract — see SURVEY.md §7.
  *
  * Every entry in [[queries]] produces a deterministic result: rows ordered
  * by a unique key, `collect_set` outputs `sort_array`-ed, timestamps
  * formatted as strings, and floating-point aggregates rounded — so the
  * driver's DuckDB hash-compare is stable (SURVEY.md §7 "hard parts").
  *
  * Each query is defined once, as a [[graft.queries.QuerySpec]] in its
  * family's list under `graft.queries`; the maps here are derived from
  * [[QuerySpec.all]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Batch analog of the reference's Q3 (1-minute tumbling window +
    * collect_set — srapk_structure_streaming.py:150-165).
    */
  def entry(spark: SparkSession): DataFrame =
    EventPipelines.windowDistinct(
      Tables.events(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = builds

  private lazy val builds = QuerySpec.all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. The driver-facing constant form pins the
    * driver's correctness sf; [[oracleSqlFor]] is the dir-derived source
    * of truth.
    */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  /** [[oracleSql]] with every published-table `read_parquet` path DERIVED
    * from the data directory — the same slug defs the constructors publish
    * under (round-14 verdict item 5: the oracle paths were sf0.01 string
    * literals while the Spark side derived its publish slugs from the data
    * dir, so a correctness run at any other sf would read a stale or
    * missing table). `Verify` dumps THIS map at the driver's actual sfDir;
    * OracleParamSpec asserts no literal sf survives.
    */
  def oracleSqlFor(d: String): Map[String, String] =
    QuerySpec.all.map(q => q.name -> q.oracle(d)).toMap
}
