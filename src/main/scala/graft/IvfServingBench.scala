package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Graph
import graft.queries.GraphQueries

/** Measures the PRODUCTION IVF serving spelling at a query cohort that
  * NEEDS pruning — every customer node, not the 10-node oracle cohort
  * (round-15 verdict item 2: the `_ivf` queries deliberately run the
  * exact chain too for the `in_exact` honesty bit, so the pruned path's
  * cost and recall were asserted from plan shape, never measured).
  *
  * Per scale dir this records, over `SPARK_GRAFT_BENCH_RUNS` (default 3)
  * samples each:
  *  - `pruned_sec`: [[Graph.embeddingNeighborsIvfPruned]] over the FULL
  *    customer cohort (|Q| = every c: node in the published embedding
  *    table) — candidates ≈ nprobe·250 per query under the nlist rule;
  *  - `pruned_shuffled_sec`: the SAME chain with the cohort-side
  *    broadcast disabled (broadcastQueries=false + auto-broadcast off) —
  *    the over-cap spelling the size gate degrades to when |Q|·nprobe
  *    crosses MaxBroadcastProbeRows (round-16 verdict item 1: the price
  *    of scale-safety, measured, never assumed);
  *  - `hier_pruned_sec`: the same chain with TWO-LEVEL probe selection
  *    (gprobe groups of the published √nlist-group quantizer — round-16
  *    verdict item 2's sub-linear selection path) + `hier_recall_at_5`;
  *  - `linkpred_pruned_sec`: [[Graph.linkPredictionIvfPruned]] over the
  *    same cohort at its nprobe=8 default (round-16 verdict item 4 —
  *    the 0.91-vs-0.66 recall floor);
  *  - `exact_sample_sec`: the exact broadcast scan over a deterministic
  *    128-query sample — the exact chain at the full cohort would be
  *    |Q|·corpus cosines (quadratic in the node count, the very thing
  *    pruning removes), so the full-cohort exact cost is reported as
  *    per-query × |Q| (labeled an extrapolation);
  *  - `recall_at_5` / `linkpred_recall_at_5` / `hier_recall_at_5`:
  *    |pruned ∩ exact| / |exact| over the sampled queries — measured,
  *    not asserted.
  *
  * `SPARK_GRAFT_IVF_NLIST_SWEEP=1` additionally re-runs the pruned and
  * hier spellings at 10× nlist (fresh centroid publish) — the flatness
  * evidence for two-level selection: exact selection scales ~linearly
  * with nlist, two-level as its square root.
  *
  * First run per scale window pays the one-time centroid publish
  * (train-once contract); the MEDIAN measures serving. Output: one JSON
  * line, recorded per round by round_close.sh (BENCH_ivf_serving_r<N>)
  * and summarized in BASELINE.md.
  */
object IvfServingBench {

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val nlistEnv = sys.env.get("SPARK_GRAFT_IVF_NLIST").map(_.toInt)
    val nprobe = sys.env.getOrElse("SPARK_GRAFT_IVF_NPROBE", "4").toInt
    val lpNprobe = sys.env.getOrElse("SPARK_GRAFT_IVF_LP_NPROBE", "8").toInt
    val gprobe = sys.env.getOrElse("SPARK_GRAFT_IVF_GPROBE", "4").toInt
    val nlistSweep = sys.env.get("SPARK_GRAFT_IVF_NLIST_SWEEP").contains("1")
    val k = 5
    val spark = graft.engine.Sessions.builder("graft-ivf-bench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wh = graft.engine.PublishGuard.ArtifactWarehouse
    val edges = Graph.sharedTradeEdges(
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir),
      cacheKey = sfDir)
    val emb = Graph.publishedNodeEmbeddings(
      Graph.sharedWalkCorpus(edges, cacheKey = sfDir),
      baseDir = wh, slug = GraphQueries.nodeEmbSlug(sfDir))
    val corpusN = emb.count()
    // the IVF deployment contract: nlist ∝ corpus (~250 vectors/bucket),
    // so candidates/query ≈ nprobe·250 stay BOUNDED as the corpus grows —
    // the pruned path is then linear in |Q| and flat in corpus. Probe
    // SELECTION under this rule is O(nlist) = O(corpus/250) per query —
    // the two-level hier rows below are the sub-linear fix (round-16
    // verdict item 2), measured side by side.
    val nlist = nlistEnv.getOrElse(
      math.max(16, math.min(512, (corpusN / 250).toInt)))
    // the every-user cohort: EVERY customer node in the published table
    val cohort = emb.where(col("node").startsWith("c:")).select(col("node"))
    val nq = cohort.count()
    // deterministic sampled queries for the exact side (bounded: the
    // exact chain is |sample|·corpus cosines, the pruned-vs-exact recall
    // needs exact truth only on the sample)
    val sampleEvery = math.max(1L, nq / 128L)
    val sample = cohort.where(
      abs(xxhash64(col("node"))) % sampleEvery === 0L)
    val nSample = sample.count()
    val slug = GraphQueries.nodeEmbIvfSlug(sfDir)
    def act(df: DataFrame): Unit = {
      df.selectExpr("bit_xor(xxhash64(struct(*)))").collect(): Unit
    }
    def sweep(f: () => DataFrame): Seq[Double] = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      act(f())
      val dt = (System.nanoTime() - t0) / 1e9
      graft.engine.OpCache.release(spark)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      dt
    }
    // the over-cap spelling: hint off AND planner auto-broadcast off, so
    // the probe join genuinely shuffles on cluster (at bench scale the
    // planner would otherwise re-broadcast the small side from stats)
    def sweepShuffled(f: () => DataFrame): Seq[Double] = {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try sweep(f)
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
    // gprobe = 0 FORCES exact selection on the "pruned" rows (the
    // production default is AUTO, which would silently go two-level at
    // the sweep's 10× nlist and erase the A/B this bench exists to show)
    def prunedAt(nl: Int, q: DataFrame) = () =>
      Graph.embeddingNeighborsIvfPruned(emb, q, wh, slug, k, nl, nprobe,
        gprobe = 0)
    def hierAt(nl: Int, q: DataFrame) = () =>
      Graph.embeddingNeighborsIvfPruned(emb, q, wh, slug, k, nl, nprobe,
        gprobe = gprobe)
    val prunedSec = sweep(prunedAt(nlist, cohort))
    val prunedShufSec = sweepShuffled(() =>
      Graph.embeddingNeighborsIvfPruned(emb, cohort, wh, slug, k, nlist,
        nprobe, broadcastQueries = Some(false), gprobe = 0))
    val hierSec = sweep(hierAt(nlist, cohort))
    val lpPrunedSec = sweep(() => Graph.linkPredictionIvfPruned(
      emb, edges, cohort, wh, slug, k, nlist, lpNprobe, gprobe = 0))
    val exactSec = sweep(() => Graph.embeddingNeighbors(emb, sample, k))
    val lpExactSec = sweep(() => Graph.linkPrediction(emb, edges, sample, k))
    // measured recall over the sampled queries: |pruned ∩ exact|/|exact|
    def pairs(df: DataFrame): Set[(String, String)] =
      df.select("query", "node").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val exactPairs = pairs(Graph.embeddingNeighbors(emb, sample, k))
    def recallOf(df: DataFrame): Double =
      (exactPairs intersect pairs(df)).size.toDouble /
        math.max(1, exactPairs.size)
    val recall = recallOf(Graph.embeddingNeighborsIvfPruned(
      emb, sample, wh, slug, k, nlist, nprobe, gprobe = 0))
    val hierRecall = recallOf(Graph.embeddingNeighborsIvfPruned(
      emb, sample, wh, slug, k, nlist, nprobe, gprobe = gprobe))
    val lpExactPairs = pairs(Graph.linkPrediction(emb, edges, sample, k))
    val lpPrunedPairs = pairs(Graph.linkPredictionIvfPruned(
      emb, edges, sample, wh, slug, k, nlist, lpNprobe, gprobe = 0))
    val lpRecall = (lpExactPairs intersect lpPrunedPairs).size.toDouble /
      math.max(1, lpExactPairs.size)
    def triple(xs: Seq[Double]): String =
      s"""{"min":${xs.min},"median":${median(xs)},"max":${xs.max}}"""
    // the flatness evidence: probe selection at 10× nlist (exact grows
    // ~linearly in nlist, two-level as ~√nlist). One fresh centroid +
    // group publish at the swept nlist — a one-time training cost, paid
    // only when the sweep flag is set.
    val sweepJson = if (!nlistSweep) "" else {
      val nl10 = math.min(math.max(nlist * 10, 16), (corpusN / 2).toInt)
      val p10 = sweep(prunedAt(nl10, cohort))
      val h10 = sweep(hierAt(nl10, cohort))
      s""""nlist_sweep":{"nlist":$nl10,""" +
        s""""pruned_sec":${triple(p10)},""" +
        s""""hier_pruned_sec":${triple(h10)}},"""
    }
    // the full-cohort exact cost is an EXTRAPOLATION (per-sampled-query
    // median × |Q|) — running it would be the |Q|·corpus scan pruning
    // exists to avoid
    val exactExtrapolated = median(exactSec) / math.max(1, nSample) * nq
    val json =
      s"""{"metric":"ivf_serving","sf":"$sfDir","corpus":$corpusN,""" +
        s""""queries":$nq,"sample_queries":$nSample,"k":$k,""" +
        s""""nlist":$nlist,"nprobe":$nprobe,"lp_nprobe":$lpNprobe,""" +
        s""""gprobe":$gprobe,""" +
        s""""pruned_sec":${triple(prunedSec)},""" +
        s""""pruned_shuffled_sec":${triple(prunedShufSec)},""" +
        s""""hier_pruned_sec":${triple(hierSec)},""" +
        s""""linkpred_pruned_sec":${triple(lpPrunedSec)},""" +
        s""""exact_sample_sec":${triple(exactSec)},""" +
        s""""linkpred_exact_sample_sec":${triple(lpExactSec)},""" +
        s""""exact_full_cohort_sec_extrapolated":$exactExtrapolated,""" +
        sweepJson +
        s""""recall_at_5":$recall,"hier_recall_at_5":$hierRecall,""" +
        s""""linkpred_recall_at_5":$lpRecall}"""
    println(json)
    spark.stop()
  }
}
