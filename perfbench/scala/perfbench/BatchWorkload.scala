package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The two batch workloads: warm passes over a fixed list of
  * `SparkEntry.queries`, each call being construction (`build`) plus the
  * result fold (`action`) that `graft.Bench` also uses.
  */
object BatchWorkload {

  val lists: Map[String, Seq[String]] = Map(
    "artifact_serving" -> Seq(
      "sim_ivf_topk", "sim_ivf_hier_topk", "pipeline_release_gate",
      "dedup_ngram_jaccard", "dedup_containment", "dedup_cross_corpus"),
    "graph_loops" -> Seq(
      "graph_pagerank", "graph_hits", "graph_components", "graph_kcore",
      "graph_ppr_cohort", "graph_betweenness_sampled"))

  /** The program writes these artifacts to a fixed absolute path whatever
    * the session says; the run maps that path into its work directory.
    */
  val HardCodedWarehouse = "/tmp/graft_warehouse"

  /** Measured passes per run, at least; with two or three, the pass-time
    * median of a run moved with a short burst of host load.
    */
  val MinPasses = 4

  private final case class Call(buildS: Double, actionS: Double, fold: Option[Long],
      df: DataFrame) {
    def totalS: Double = buildS + actionS
  }

  private def call(spark: SparkSession, d: String, q: String): Call = {
    val fn = SparkEntry.queries(q)
    val t0 = Stats.now()
    val df: DataFrame = Trace.withPhase(spark, "build")(fn(spark, d))
    val t1 = Stats.now()
    val row = Trace.withPhase(spark, "action")(
      df.selectExpr("bit_xor(xxhash64(struct(*)))").collect().head)
    val t2 = Stats.now()
    Call(t1 - t0, t2 - t1, if (row.isNullAt(0)) None else Some(row.getLong(0)), df)
  }

  private def filesUnder(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.endsWith(".crc")).toList
      finally s.close()
    }
  }

  def run(o: Opts, names: Seq[String]): Result = {
    val r = new Result
    val redirected = s"${o.work}/tmp-graft-warehouse"
    val warehouse = s"${o.work}/graft-warehouse"
    // Known artifact state: nothing this workload could reuse exists yet.
    val preexisting = filesUnder(redirected) ++ filesUnder(warehouse)
    require(preexisting.isEmpty,
      s"artifacts exist before the cold pass: ${preexisting.take(3).mkString(", ")}")
    val spark = Main.session(o, Map(HardCodedWarehouse -> redirected))
    val hfs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    require(!hfs.exists(new org.apache.hadoop.fs.Path(HardCodedWarehouse)),
      s"$HardCodedWarehouse is visible to the session before the cold pass")
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val d = o.data

    // Cold pass: the first call of every query, which publishes artifacts.
    val coldSnap = trace.map(_.snapshot())
    val tc0 = Stats.now()
    val cold = names.map(q => q -> call(spark, d, q)).toMap
    val coldPassS = Stats.now() - tc0
    val coldJobs = trace.map(t => (t.snapshot() - coldSnap.get).jobs)
    val published = filesUnder(redirected) ++ filesUnder(warehouse)
    // One unmeasured warm pass: the first warm pass runs about 20% slower
    // (warm-only code paths still compiling), and whether it fell inside a
    // run's median would depend on how many passes fit in the run.
    names.foreach(q => call(spark, d, q))
    val setupS = Stats.sinceJvmStart()

    val passS = ArrayBuffer.empty[Double]
    val perQuery = names.map(_ -> ArrayBuffer.empty[Double]).toMap
    val layer = ArrayBuffer.empty[Map[String, Double]]
    var last = Map.empty[String, DataFrame]
    var mismatched = 0L
    val t0 = Stats.now()
    while (passS.size < MinPasses || Stats.now() - t0 < o.seconds) {
      val snap = trace.map(_.snapshot())
      val w0 = System.currentTimeMillis()
      val p0 = Stats.now()
      val calls = names.map { q =>
        val c = call(spark, d, q)
        perQuery(q) += c.totalS
        if (c.fold != cold(q).fold) mismatched += 1
        c
      }
      val wall = Stats.now() - p0
      passS += wall
      last = names.zip(calls.map(_.df)).toMap
      r.attempted += names.size
      trace.foreach { t =>
        val w1 = System.currentTimeMillis()
        val s = t.snapshot() - snap.get
        val spanS = t.jobSpanMs(w0, w1) / 1000.0
        val cores = spark.sparkContext.defaultParallelism
        layer += Map(
          "entry.build_s" -> calls.map(_.buildS).sum,
          "entry.build_jobs" -> s.phaseJobs("build").toDouble,
          "entry.action_s" -> calls.map(_.actionS).sum,
          "entry.action_jobs" -> s.phaseJobs("action").toDouble,
          "spark.driver_only_s" -> math.max(0.0, wall - spanS),
          "spark.job_span_s" -> spanS,
          "spark.planning_ms" -> s.planningMs.toDouble,
          "spark.executions" -> s.executions.toDouble,
          "spark.jobs" -> s.jobs.toDouble,
          "spark.stages" -> s.stages.toDouble,
          "spark.tasks" -> s.tasks.toDouble,
          "spark.executor_run_s" -> s.runMs / 1000.0,
          "spark.executor_cpu_s" -> s.cpuNs / 1e9,
          "spark.executor_busy" -> s.runMs / 1000.0 / (wall * cores),
          "spark.shuffle_write_bytes" -> s.shuffleWrite.toDouble,
          "spark.shuffle_read_bytes" -> s.shuffleRead.toDouble,
          "spark.spill_bytes" -> s.spill.toDouble,
          "spark.gc_s" -> s.gcMs / 1000.0)
      }
    }
    r.failed += mismatched

    // Per-query medians, so that no statistic ranks calls of different
    // queries against each other.
    val queryMedianS = names.map(q => Stats.median(perQuery(q).toSeq))
    val callsPerS = names.size * passS.size / passS.sum
    if (!o.trace) {
      r.put("setup_s", setupS, "s")
      r.put("pass_s", Stats.median(passS.toSeq), "s")
      r.put("query_geomean_s", Stats.geomean(queryMedianS), "s")
      r.put("events_per_s", callsPerS, "1/s")
      r.put("batch_latency_p50_ms", Stats.median(queryMedianS) * 1000, "ms")
    } else {
      Metrics.perLayerUnits.foreach { case (name, unit) =>
        val v = name match {
          case "entry.cold_pass_s" => coldPassS
          case "entry.cold_jobs" => coldJobs.get.toDouble
          case "engine.published_bytes" => published.map(Files.size(_)).sum.toDouble
          case "engine.published_files" => published.size.toDouble
          case "traced.pass_s" => Stats.median(passS.toSeq)
          case "traced.events_per_s" => callsPerS
          case n if layer.head.contains(n) => Stats.median(layer.map(_(n)).toSeq)
          case _ => 0.0 // a streaming layer: this workload runs no stream
        }
        r.put(name, v, unit)
      }
      trace.foreach(_.stop())
    }
    r.note("passes", passS.size)
    r.note("peak_rss_mb", f"${Stats.peakRssMb()}%.1f")
    r.note("cold_call_s", names.map(q => f"$q=${cold(q).totalS}%.3f").mkString(" "))
    r.note("warm_median_s", names.zip(queryMedianS).map { case (q, m) =>
      f"$q=$m%.3f" }.mkString(" "))

    // Outputs for the oracle check (untimed): the last pass's result of each
    // query as parquet, and the oracle SQL derived for this data directory.
    val check = s"${o.work}/check"
    names.foreach(q => last(q).write.parquet(s"file:$check/$q"))
    val sql = SparkEntry.oracleSqlFor(d)
    val entries = names.map(q => s"${Metrics.jsonString(q)}:" +
      sql.get(q).map(Metrics.jsonString).getOrElse("null"))
    Files.write(Paths.get(s"$check/oracle_sql.json"),
      entries.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
    r.note("redirect", s"$HardCodedWarehouse=$redirected")
    spark.stop()
    r
  }
}
