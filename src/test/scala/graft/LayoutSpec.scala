package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Layout, Tables}

/** Layout.clusteredWrite: a range-clustered rewrite must (a) preserve rows
  * exactly and (b) make filtered scans file-prunable — the parquet footer
  * min/max on the cluster column lets the planner skip files whose range
  * cannot match. (b) is the whole point of the operator, so the spec
  * asserts the numFiles scan metric, not just correctness.
  */
class LayoutSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = graft.engine.Sessions
    .builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  test("clustered rewrite preserves rows and prunes the month scan to few files") {
    val dst = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val li = Tables.lineitem(spark, sf)
    val expected = li.count()
    val written = Layout.clusteredWrite(li, "l_shipdate", dst, nFiles = 16)
    assert(written == expected, "Observation row count must match the input")
    assert(spark.read.parquet(dst).count() == expected,
      "clustered table lost or duplicated rows")

    // ~82 months of shipdates tiled over 16 files: a one-month filter's
    // rows live in 1, at most 2, of them — everything else is reader-skippable
    val month =
      "l_shipdate >= TIMESTAMP '1995-03-01' AND l_shipdate < TIMESTAMP '1995-04-01'"
    val clustered = Layout.filesHoldingMatches(spark, dst, month)
    assert(clustered <= 2, s"expected <= 2 of 16 files with matches, got $clustered")

    // control: the same filter over an arrival-order (unclustered) copy
    // has matches in EVERY file — no locality, nothing skippable
    val flat = java.nio.file.Files.createTempDirectory("graft-flat").toString
    li.repartition(16).write.mode("overwrite").parquet(flat)
    val unclustered = Layout.filesHoldingMatches(spark, flat, month)
    assert(unclustered == 16, s"control should hit all 16 files, got $unclustered")
  }

  test("partitioned rewrite prunes directories at planning time") {
    val dst = java.nio.file.Files.createTempDirectory("graft-part").toString
    val docs = Tables.documents(spark, sf)
    val expected = docs.count()
    val written = Layout.partitionedWrite(docs, "source", dst)
    assert(written == expected, "Observation row count must match the input")
    assert(spark.read.parquet(dst).count() == expected,
      "partitioned table lost or duplicated rows")

    val total = Layout.filesListedByScan(spark, dst, "1 = 1")
    val sources = docs.select("source").distinct().count()
    // one source's partition filter must list ~1/sources of the files —
    // the planner never even lists the other directories
    val one = Layout.filesListedByScan(spark, dst, "source = 'src0'")
    assert(one < total, s"partition pruning did not reduce listing: $one/$total")
    assert(one <= total / sources + 1,
      s"expected ~1/$sources of $total files, got $one")
  }

  test("z-order clusters two dimensions; single-column control prunes one") {
    val li = Tables.lineitem(spark, sf)
    val expected = li.count()
    val zdst = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val written = Layout.zorderWrite(li, Seq("l_shipdate", "l_partkey"),
      zdst, nFiles = 16)
    assert(written == expected, "Observation row count must match the input")
    assert(spark.read.parquet(zdst).count() == expected,
      "z-ordered table lost or duplicated rows")

    val parts = li.agg(max(col("l_partkey"))).head().getLong(0)
    val keyOct = s"l_partkey <= ${parts / 8}"
    val month =
      "l_shipdate >= TIMESTAMP '1995-03-01' AND l_shipdate < TIMESTAMP '1995-04-01'"

    // single-column date clustering (the control): the month filter
    // prunes hard, but a key-only filter finds matches in EVERY file
    val cdst = java.nio.file.Files.createTempDirectory("graft-zctl").toString
    Layout.clusteredWrite(li, "l_shipdate", cdst, nFiles = 16)
    assert(Layout.filesHoldingMatches(spark, cdst, keyOct) >= 15,
      "control: key filter should hit ~all date-clustered files")

    // z-order: EACH single-dimension filter prunes (≈ sqrt selectivity —
    // a 1/8-key slice on a 16-file 2-D curve touches a strip, not all),
    // and the combined box prunes multiplicatively
    val zKey = Layout.filesHoldingMatches(spark, zdst, keyOct)
    val zMonth = Layout.filesHoldingMatches(spark, zdst, month)
    val zBoth = Layout.filesHoldingMatches(spark, zdst, s"$month AND $keyOct")
    assert(zKey <= 8, s"z-order: key-octile filter should prune, got $zKey/16")
    assert(zMonth <= 12, s"z-order: month filter should prune, got $zMonth/16")
    assert(zBoth <= 4 && zBoth <= zKey && zBoth <= zMonth,
      s"z-order: combined box should prune multiplicatively, got $zBoth/16")
  }

  test("z-order on an empty input fails with a usable error, not an NPE") {
    val li = Tables.lineitem(spark, sf).where(lit(false))
    val dst = java.nio.file.Files.createTempDirectory("graft-zempty").toString
    val e = intercept[IllegalArgumentException] {
      Layout.zorderWrite(li, Seq("l_shipdate", "l_partkey"), dst, nFiles = 4)
    }
    assert(e.getMessage.contains("no non-null values"))
  }

  test("bucketed tables join with NO exchange on either side") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val wrote = Layout.bucketedWrite(orders, "graft_spec_b_orders",
      "o_orderkey", buckets = 8)
    assert(wrote == orders.count(), "Observation row count must match the input")
    Layout.bucketedWrite(li, "graft_spec_b_lineitem", "l_orderkey", buckets = 8)
    try {
      val joined = spark.table("graft_spec_b_orders").hint("merge")
        .join(spark.table("graft_spec_b_lineitem").hint("merge"),
          col("o_orderkey") === col("l_orderkey"))
      // the co-location contract: a sort-merge join whose BOTH subtrees
      // read bucketed output partitioning straight off disk — zero
      // Exchange below the join (the write pre-paid the shuffle)
      val n = joined.count()
      val plan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, s"expected a SortMergeJoin:\n$plan")
      val exchangesBelow = smjs.flatMap(_.children).flatMap(
        _.collect { case e: ShuffleExchangeExec => e })
      assert(exchangesBelow.isEmpty,
        s"bucketed join must not shuffle either side:\n$plan")
      // identity with the plain-parquet join
      val expected = orders.join(li,
        col("o_orderkey") === col("l_orderkey")).count()
      assert(n == expected, "bucketed join changed the result row count")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_spec_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_spec_b_lineitem")
    }
  }

  test("pipeline_bucketed_join's own frame plans with no exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plan = graft.queries.CurationQueries.bucketedJoinFrame(spark, sf)
      .queryExecution.executedPlan
    // the helper's collect descends into the adaptive plan's current tree
    val aqe = new AdaptiveSparkPlanHelper {}
    assert(aqe.collect(plan) { case j: SortMergeJoinExec => j }.nonEmpty,
      s"expected a SortMergeJoin:\n$plan")
    assert(aqe.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"the bucketed join frame must not shuffle:\n$plan")
  }

  test("mergeSchema read widens old-generation files with nulls, loses no rows") {
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables.documents(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("graft-evolved-spec").toString
    Layout.evolvedWrite(docs, s"$base/v1", s"$base/v2")
    val merged = Layout.evolvedRead(spark, s"$base/v1", s"$base/v2")
    // the union schema surfaces the new columns for EVERY file
    assert(Seq("lang", "n_chars").forall(merged.columns.contains),
      s"merged schema missing evolved columns: ${merged.columns.toSeq}")
    assert(merged.count() === docs.count(), "generation split lost rows")
    // old-generation rows widen with nulls; new-generation rows keep values
    val v1Nulls = merged.where(col("doc_id") % 2 === 0 && col("lang").isNotNull).count()
    val v2Nulls = merged.where(col("doc_id") % 2 === 1 && col("lang").isNull).count()
    assert(v1Nulls === 0, s"$v1Nulls old-generation rows carry a lang value")
    assert(v2Nulls === 0, s"$v2Nulls new-generation rows lost their lang")
    // the merge is metadata-only: pushdown still reaches each scan
    val plan = merged.where(col("doc_id") === 42L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,42)]"),
      s"pushdown lost under mergeSchema:\n$plan")
  }

  test("manifest: covers every file, prunes the planned list, read equals direct filter") {
    val table = java.nio.file.Files.createTempDirectory("graft-mtable").toString
    val mdir = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val li = Tables.lineitem(spark, sf)
    val wrote = Layout.clusteredWrite(li, "l_shipdate", table, nFiles = 16)
    val nFiles = Layout.buildManifest(spark, table, "l_shipdate", mdir)
    val manifest = spark.read.parquet(mdir).collect()
    // the manifest accounts for every file and every row exactly
    assert(manifest.length === nFiles && nFiles >= 8)
    assert(manifest.map(_.getLong(3)).sum === wrote)

    val (lo, hi) = ("1995-03-01", "1995-04-01")
    // planning prunes: few files qualify on the clustered table
    // (counted through the same column exprs the reader uses — the
    // manifest may carry NTZ timestamps depending on the writer)
    val qualifying = spark.read.parquet(mdir)
      .where(col("max_v") >= lit(lo).cast("timestamp") &&
        col("min_v") < lit(hi).cast("timestamp"))
      .count()
    assert(qualifying < nFiles / 2,
      s"manifest planned $qualifying of $nFiles files — no pruning")
    // and the pruned read is EXACTLY the direct filtered read
    val pruned = Layout.manifestPrunedRead(
      spark, table, mdir, "l_shipdate", lo, hi)
    val direct = li.where(
      col("l_shipdate") >= lit(lo).cast("timestamp") &&
        col("l_shipdate") < lit(hi).cast("timestamp"))
    assert(pruned.count() === direct.count())
    assert(pruned.agg(sum(col("l_orderkey")).as("s")).collect().head.getLong(0)
      === direct.agg(sum(col("l_orderkey")).as("s")).collect().head.getLong(0))
    // an empty range short-circuits to an empty frame with the schema
    val empty = Layout.manifestPrunedRead(
      spark, table, mdir, "l_shipdate", "2050-01-01", "2050-02-01")
    assert(empty.isEmpty && empty.columns.contains("l_orderkey"))
  }
}
