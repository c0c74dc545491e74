package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query, defined once: `build(spark, dataDir)` constructs the
  * Spark frame and `oracle(dataDir)` is the DuckDB SQL the driver's
  * correctness compare runs for it over the same parquet tables, with
  * every published-table path derived from `dataDir`. Keeping the pair in
  * one value means a query cannot lose its oracle or the other way round.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String => String)

object QuerySpec {

  /** Every family's specs. A name defined twice fails here: the maps
    * derived from this list would otherwise keep only one of them.
    */
  val all: Seq[QuerySpec] = {
    val specs = RelationalQueries.specs ++ TextQueries.specs ++
      CurationQueries.specs ++ SimilarityQueries.specs ++
      MultimodalQueries.specs ++ GraphQueries.specs ++ SequenceQueries.specs
    val dupes = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dupes.isEmpty, s"query names defined twice: ${dupes.toSeq.sorted.mkString(", ")}")
    specs
  }
}
