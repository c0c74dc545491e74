package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.sources.{FileEventSink, FileEventSource}
import graft.streaming.RsvpApp

/** The reference app: seeded RSVP envelope files arrive one at a time in a
  * closed loop (the next file is renamed into the source directory only
  * after Q1, Q2 and Q3 have all committed the previous one). Q2 and Q3 write
  * checkpointed JSON sinks, as the reference's two topics; Q1 writes a
  * checkpointed parquet sink.
  */
object StreamWorkload {
  val SmallEvents = 200
  val LargeEvents = 50000
  val WarmupSmall = 3
  val MinSamples = 20
  val LargeBatches = 3
  val SmallStepMs = 5000L
  val LargeStepMs = 20000L
  val StartMs = java.time.Instant.parse("2026-03-01T10:00:00Z").toEpochMilli

  private val LogOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r

  private def logOffset(p: StreamingQueryProgress): Long =
    if (p == null || p.sources.isEmpty || p.sources(0).endOffset == null) -1L
    else LogOffset.findFirstMatchIn(p.sources(0).endOffset).map(_.group(1).toLong).getOrElse(-1L)

  private def watermarkMs(p: StreamingQueryProgress): Long =
    Option(p).flatMap(x => Option(x.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(Long.MinValue)

  private def awaitUntil(what: String, qs: Seq[StreamingQuery])(done: StreamingQuery => Boolean): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    qs.foreach { q =>
      while (!done(q)) {
        q.exception.foreach(e => throw e)
        if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
        LockSupport.parkNanos(200000L)
      }
    }
  }

  def run(o: Opts): Result = {
    val r = new Result
    val base = s"${o.work}/stream"
    val in = s"$base/in"
    val stage = s"$base/stage"
    Seq(in, stage).foreach(d => Files.createDirectories(Paths.get(d)))
    val spark = Main.session(o, Map.empty)
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val gen = new RsvpGen(o.seed)
    val source = FileEventSource(s"file:$in")
    def sink(q: String, format: String) =
      FileEventSink(s"file:$base/out_$q", s"file:$base/checkpoint_$q", format)

    val b0Snap = trace.map(_.snapshot())
    val b0 = Stats.now()
    val q1 = RsvpApp.q1Stream(spark, source, sink("q1", "parquet"))
    val q2 = RsvpApp.q2Stream(spark, source, sink("q2", "json"))
    val q3 = RsvpApp.q3Stream(spark, source, sink("q3", "json"))
    val buildS = Stats.now() - b0
    val buildJobs = trace.map(t => (t.snapshot() - b0Snap.get).jobs)
    val queries = Seq(q1, q2, q3)

    var clock = StartMs
    var files = 0L
    /** Writes one file, renames it into the source, returns the seconds
      * until every query has committed it.
      */
    def feed(step: Long, n: Int, late: Int): Double = {
      clock += step
      val name = f"rsvp-$files%06d.json"
      val staged = Paths.get(stage, name)
      Files.write(staged, gen.file(clock, n, late).getBytes(StandardCharsets.UTF_8))
      val t0 = Stats.now()
      Files.move(staged, Paths.get(in, name), StandardCopyOption.ATOMIC_MOVE)
      val target = files
      awaitUntil(s"file $target", queries)(q => logOffset(q.lastProgress) >= target)
      files += 1
      Stats.now() - t0
    }

    // Warm-up: the first (cold) batch, two more small ones, one large one.
    val coldSnap = trace.map(_.snapshot())
    val coldS = feed(SmallStepMs, SmallEvents, 0)
    val coldJobs = trace.map(t => (t.snapshot() - coldSnap.get).jobs)
    (1 until WarmupSmall).foreach(_ => feed(SmallStepMs, SmallEvents, 0))
    feed(LargeStepMs, LargeEvents, 2)
    val setupS = Stats.sinceJvmStart()

    // Small batches: per-batch overhead (listing, planning, commit).
    val smallFirst = files
    val smallSnap = trace.map(_.snapshot())
    val latencyMs = ArrayBuffer.empty[Double]
    val s0 = Stats.now()
    while (latencyMs.size < MinSamples || Stats.now() - s0 < o.seconds * 0.75)
      latencyMs += feed(SmallStepMs, SmallEvents, 1) * 1000
    val smallFiles = files - smallFirst
    val smallSpark = trace.map(t => t.snapshot() - smallSnap.get)

    // Large batches: from_json CPU dominates.
    val largeFirst = files
    val largeSnap = trace.map(_.snapshot())
    val lw0 = System.currentTimeMillis()
    val drainS = (0 until LargeBatches).map(_ => feed(LargeStepMs, LargeEvents, 5))
    val lw1 = System.currentTimeMillis()
    val largeSpark = trace.map(t => t.snapshot() - largeSnap.get)
    val perQueryLarge = queries.map(q => q.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 && logOffset(p) >= largeFirst)
      .map(_.durationMs.get("triggerExecution").doubleValue / 1000.0))

    // Final file: moves the watermark past every window, then Q3 runs its
    // no-data batch that emits them.
    feed(5 * 60000L, 1, 0)
    val finalWatermark = gen.maxTs - 60000L
    awaitUntil("final watermark", Seq(q3))(q => watermarkMs(q.lastProgress) >= finalWatermark)
    r.attempted = files * queries.size
    val peakRss = Stats.peakRssMb()
    queries.foreach(_.stop())

    if (!o.trace) {
      r.put("setup_s", setupS, "s")
      r.put("pass_s", Stats.median(drainS), "s")
      r.put("query_geomean_s", Stats.geomean(perQueryLarge.map(Stats.median)), "s")
      r.put("events_per_s", Stats.median(drainS.map(LargeEvents / _)), "1/s")
      r.put("batch_latency_p50_ms", Stats.quantile(latencyMs.toSeq, 0.5), "ms")
    } else {
      val t = trace.get
      t.drain()
      val progress = t.progress.synchronized(t.progress.toList)
      def data(from: Long, until: Long) = progress.filter(p =>
        p.numInputRows > 0 && logOffset(p) >= from && logOffset(p) < until)
      def ms(p: StreamingQueryProgress, keys: String*) =
        keys.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
      val small = data(smallFirst, largeFirst)
      val large = data(largeFirst, largeFirst + LargeBatches)
      val q3State = progress.filter(_.id == q3.id).flatMap(_.stateOperators.headOption)
      val dropped = q3State.map(_.numRowsDroppedByWatermark).sum
      // The generator's own late count: every late row must be dropped.
      r.failed += math.abs(dropped - gen.lateRows)
      val ls = largeSpark.get
      val largeWall = drainS.sum
      val cores = spark.sparkContext.defaultParallelism
      val spanS = t.jobSpanMs(lw0, lw1) / 1000.0
      val perLarge = (x: Double) => x / LargeBatches
      val v = Map(
        "sources.get_batch_ms" -> Stats.median(small.map(ms(_, "latestOffset", "getBatch"))),
        "streaming.planning_ms" -> Stats.median(small.map(ms(_, "queryPlanning"))),
        "streaming.commit_ms" -> Stats.median(small.map(ms(_, "walCommit", "commitOffsets"))),
        "streaming.jobs_per_batch" -> smallSpark.get.jobs.toDouble / (smallFiles * queries.size),
        "streaming.add_batch_ms" -> Stats.median(large.map(ms(_, "addBatch"))),
        "streaming.state_rows" -> q3State.map(_.numRowsTotal).max.toDouble,
        "streaming.state_memory_bytes" -> q3State.map(_.memoryUsedBytes).max.toDouble,
        "streaming.late_rows_dropped" -> dropped.toDouble,
        "entry.build_s" -> buildS,
        "entry.build_jobs" -> buildJobs.get.toDouble,
        "entry.cold_pass_s" -> coldS,
        "entry.cold_jobs" -> coldJobs.get.toDouble,
        "spark.driver_only_s" -> perLarge(math.max(0.0, (lw1 - lw0) / 1000.0 - spanS)),
        "spark.job_span_s" -> perLarge(spanS),
        "spark.planning_ms" -> perLarge(ls.planningMs.toDouble),
        "spark.executions" -> perLarge(ls.executions.toDouble),
        "spark.jobs" -> perLarge(ls.jobs.toDouble),
        "spark.stages" -> perLarge(ls.stages.toDouble),
        "spark.tasks" -> perLarge(ls.tasks.toDouble),
        "spark.executor_run_s" -> perLarge(ls.runMs / 1000.0),
        "spark.executor_cpu_s" -> perLarge(ls.cpuNs / 1e9),
        "spark.executor_busy" -> ls.runMs / 1000.0 / (largeWall * cores),
        "spark.shuffle_write_bytes" -> perLarge(ls.shuffleWrite.toDouble),
        "spark.shuffle_read_bytes" -> perLarge(ls.shuffleRead.toDouble),
        "spark.spill_bytes" -> perLarge(ls.spill.toDouble),
        "spark.gc_s" -> perLarge(ls.gcMs / 1000.0),
        "traced.pass_s" -> Stats.median(drainS),
        "traced.events_per_s" -> Stats.median(drainS.map(LargeEvents / _)))
      // entry.action_*, engine.*: no query calls and no published artifacts
      Metrics.perLayerUnits.foreach { case (n, u) => r.put(n, v.getOrElse(n, 0.0), u) }
      t.stop()
    }
    r.note("files", files)
    r.note("events", gen.events)
    r.note("late_rows", gen.lateRows)
    r.note("samples", latencyMs.size)
    r.note("peak_rss_mb", f"$peakRss%.1f")

    // Output checks against the generator's expectation (untimed).
    import spark.implicits._
    def multiset(xs: Seq[String]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    def diff(a: Map[String, Int], b: Map[String, Int]) =
      (a.keySet ++ b.keySet).toSeq.map(k => math.abs(a.getOrElse(k, 0) - b.getOrElse(k, 0)).toLong).sum
    val got1 = spark.read.parquet(s"file:$base/out_q1").select("rsvp_id").as[Long].collect().toSet
    val got2 = multiset(spark.read.json(s"file:$base/out_q2").select("value").as[String].collect().toSeq)
    val got3 = multiset(spark.read.json(s"file:$base/out_q3").select("value").as[String].collect().toSeq)
    val bad1 = (got1 -- gen.usIds).size + (gen.usIds -- got1).size
    val bad2 = diff(got2, gen.q2.toMap)
    val bad3 = diff(got3, gen.q3(finalWatermark))
    r.note("mismatch_q1_q2_q3", s"$bad1 $bad2 $bad3")
    r.note("expected_q2_q3", s"${gen.q2.values.sum} ${gen.q3(finalWatermark).values.sum}")
    r.failed = math.min(r.attempted, r.failed + bad1 + bad2 + bad3)
    spark.stop()
    r
  }
}
