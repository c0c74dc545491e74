package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming operators beyond the reference's surface, for the `events`
  * stream shape (event_id, ts, user_id, event_type, value): watermarked
  * windowed aggregation, streaming dedup, and custom sessionization state —
  * the stateful palette (SURVEY.md §2.9 T7) of Structured Streaming.
  *
  * Every transform is `DataFrame => DataFrame` and source-agnostic; tests
  * drive them through MemoryStream (no Kafka connector in this env,
  * SURVEY.md §7), production would swap in `readStream.format(...)` with a
  * checkpoint location for exactly-once (reference: checkpoint/ dir,
  * srapk_structure_streaming.py:176,184).
  */
object StreamOps {

  /** Watermarked tumbling-window aggregation (append mode): count + sum per
    * (window, event_type). State is bounded by the watermark; at scale the
    * shuffle key (window, event_type) keeps state partitioned evenly.
    */
  def windowedTypeCounts(
      events: DataFrame,
      windowLength: String = "1 minute",
      watermark: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total"))

  /** Streaming exact dedup on a business key within the watermark horizon —
    * `dropDuplicatesWithinWatermark` keeps state only for the watermark
    * window (unbounded-state-safe at 100 TB/day), unlike plain
    * `dropDuplicates` which accumulates keys forever.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream–stream inner join with watermarks on both sides and a time-
    * interval condition (SURVEY.md §2.3 "absent" row): each purchase joined
    * to the same user's clicks in the preceding `horizon`. State on both
    * sides is bounded by the watermarks + interval; the join shuffles both
    * streams on user_id — the standard attribution-join topology.
    */
  def clickToPurchase(
      clicks: DataFrame,
      purchases: DataFrame,
      watermark: String = "10 minutes",
      horizonMinutes: Int = 10): DataFrame =
    attributionJoin(clicks, purchases, watermark, horizonMinutes, "inner")

  /** Stream–stream FULL OUTER interval join: the attribution topology of
    * [[clickToPurchase]], but every click and every purchase appears
    * exactly once — matches emit as they meet; an unmatched row emits
    * null-padded when the watermark passes the last instant a partner
    * could still arrive (purchase_ts for a purchase; click_ts + horizon
    * for a click). Spark supports outer stream-stream joins only with
    * watermarks on BOTH sides and a time-bounded condition — exactly this
    * shape — and state stays watermark-bounded as in the inner form.
    */
  def clickToPurchaseFullOuter(
      clicks: DataFrame,
      purchases: DataFrame,
      watermark: String = "10 minutes",
      horizonMinutes: Int = 10): DataFrame =
    attributionJoin(clicks, purchases, watermark, horizonMinutes, "full_outer")

  /** Stream–stream LEFT OUTER interval join (purchase side preserved):
    * every purchase emits exactly once — attributed rows as they meet a
    * click, unattributed ones null-padded once the watermark passes the
    * last instant a qualifying click could still arrive. The
    * conversion-accounting shape: the full-outer form also surfaces
    * clicks that never converted; this one keeps the output
    * purchase-keyed. Same watermark-bounded state as the inner form.
    */
  def clickToPurchaseLeftOuter(
      clicks: DataFrame,
      purchases: DataFrame,
      watermark: String = "10 minutes",
      horizonMinutes: Int = 10): DataFrame =
    attributionJoin(clicks, purchases, watermark, horizonMinutes, "left_outer")

  /** Streaming trending terms: watermarked tumbling-window token counts
    * over a documents-shaped stream (doc_id, ts, text) — the streaming
    * leg of the [[graft.operators.TextAnalysis]] term surface. Append
    * mode: a window's counts emit once, when the watermark closes it.
    *
    * Ranking ("top k per window") deliberately stays OUT of the stream:
    * a per-window rank can only be final when the window is, so the
    * serve-side finisher [[topTermsPerWindow]] ranks the closed-window
    * table instead — the same streaming-agg → batch-serve split as the
    * stats/CDC sinks. Scale: one shuffle on (window, term) with map-side
    * partial counts; state bounded by watermark × live-window count.
    */
  def trendingTermCounts(
      docs: DataFrame,
      windowLength: String = "1 minute",
      watermark: String = "1 minute"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(window(col("ts"), windowLength), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("term"), col("n"))

  /** Batch finisher for [[trendingTermCounts]]'s closed-window table:
    * top `k` terms per window (count desc, term asc — deterministic).
    * Window-partitioned rank, never a global reducer.
    */
  def topTermsPerWindow(counts: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("term"))
    counts.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("window_start"), col("rank"), col("term"), col("n"))
  }

  /** Watermarked delivery-dedup FEEDING the stream-stream attribution
    * join (chained stateful operators, append mode): an at-least-once
    * upstream that replays a click must not double-attribute a purchase,
    * so clicks pass `dropDuplicatesWithinWatermark(event_id)` before the
    * join. Two stateful stages, each watermark-bounded.
    */
  def dedupedClickToPurchase(
      clicks: DataFrame,
      purchases: DataFrame,
      watermark: String = "10 minutes",
      horizonMinutes: Int = 10): DataFrame = {
    // the dedup stage's watermark PROPAGATES through the rename into the
    // join (re-applying withWatermark downstream is a disallowed
    // redefinition under multiple-stateful-operator propagation)
    val deduped = clicks
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
        col("user_id").as("c_user"))
    joinShapedSides(deduped, purchases, watermark, horizonMinutes, "inner")
  }

  private def attributionJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      watermark: String,
      horizonMinutes: Int,
      joinType: String): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
        col("user_id").as("c_user"))
      .withWatermark("click_ts", watermark)
    joinShapedSides(c, purchases, watermark, horizonMinutes, joinType)
  }

  /** Core attribution join; `c` is already click-shaped AND watermarked. */
  private def joinShapedSides(
      c: DataFrame,
      purchases: DataFrame,
      watermark: String,
      horizonMinutes: Int,
      joinType: String): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("user_id").as("p_user"), col("value"))
      .withWatermark("purchase_ts", watermark)
    p.join(c,
      col("c_user") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizonMinutes MINUTES"),
      joinType)
      .select(col("purchase_id"),
        coalesce(col("p_user"), col("c_user")).as("user_id"),
        col("click_id"), col("value"))
  }

  /** Streaming curation over a documents-shaped stream (doc_id, ts, text):
    * the batch [[graft.operators.Curation]] enrichment — language ID,
    * quality score, token count, all pure column expressions, hence
    * stateless map stages in streaming — followed by exact-dup
    * suppression on the content fingerprint within the watermark horizon.
    * Near-dup clustering is inherently batch (it needs the global pair
    * graph), so the streaming side gates on language/quality/exact
    * content and defers near-dup canonicalization to the periodic batch
    * pass — the standard split for continuous corpus ingestion.
    */
  def curateStream(
      docs: DataFrame,
      minQuality: Double = 0.5,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.TextAnalysis
    docs
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("lang_pred", TextAnalysis.langPredOf(col("toks")))
      .withColumn("quality", TextAnalysis.qualityOf(col("text"), col("toks")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("fp_exact", md5(TextAnalysis.normalize(col("text"))))
      .where(col("lang_pred") === "en" && col("quality") >= minQuality)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp_exact")
      .select("doc_id", "ts", "lang_pred", "quality", "n_tokens", "fp_exact")
  }

  /** Windowed curation telemetry over a documents stream (doc_id, ts,
    * text): per tumbling window — documents seen, documents passing the
    * language+quality gate, mean quality, and token mass. The monitoring
    * stream a continuous ingestion publishes NEXT TO [[curateStream]]'s
    * curated output, so gate-rate drift is visible while the corpus
    * builds. Watermarked append-mode aggregation: state is one row per
    * open window, bounded by the watermark; the enrichment columns are
    * the same pure expressions as the batch operators, so the stream and
    * batch tell the same numbers.
    */
  def curationTelemetryStream(
      docs: DataFrame,
      minQuality: Double = 0.5,
      windowLength: String = "1 minute",
      watermark: String = "1 minute",
      classifierWeights: Option[Array[Double]] = None): DataFrame = {
    import graft.operators.{Curation, TextAnalysis}
    // classifier gate-rate beside the heuristic gate-rate when the
    // published weights are supplied: the same map-only margin expression
    // as the batch scorer, so the window rates are consistent with the
    // batch gate by construction (ClassifierMarginExpr scores empty-token
    // docs NULL itself since round 16 — the size guard here is now a
    // belt-and-braces mirror of the batch scorer's explicit drop, not
    // the only thing standing between an n=0 NaN and a silent gate pass)
    val clfPass = classifierWeights match {
      case Some(w) => count(when(size(col("toks")) > 0 &&
        Curation.classifierMarginExpr(col("toks"), w) >= 0.0, 1))
      case None => lit(null).cast("long")
    }
    docs
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("lang_pred", TextAnalysis.langPredOf(col("toks")))
      .withColumn("quality", TextAnalysis.qualityOf(col("text"), col("toks")))
      .withColumn("n_tokens", size(col("toks")))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("lang_pred") === "en" &&
          col("quality") >= minQuality, 1)).as("n_pass"),
        clfPass.as("n_pass_clf"),
        graft.functions.OracleRound.round4(avg(col("quality"))).as("avg_quality"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("window.start").as("window_start"),
        col("n_docs"), col("n_pass"), col("n_pass_clf"),
        col("avg_quality"), col("n_tokens"))
  }

  /** Streaming curation gated by the PUBLISHED quality classifier — the
    * round-13 verdict's ask: the streaming gate scores each micro-batch
    * map-only with the broadcast published weights
    * ([[graft.operators.Curation.classifierMarginExpr]] — the SAME
    * expression the batch scorer runs, so the streaming margin equals
    * the batch margin bit-for-bit), keeps classifier-positive documents,
    * and suppresses exact dups within the watermark horizon exactly like
    * [[curateStream]]. Stateless map stages + one watermarked dedup —
    * per-batch cost is O(batch), no state beyond the dedup horizon.
    */
  def classifierCurateStream(
      docs: DataFrame,
      weights: Array[Double],
      buckets: Int = 64,
      targetLang: String = "en",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.{Curation, TextAnalysis}
    docs
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .where(size(col("toks")) > 0)
      .withColumn("label",
        (TextAnalysis.langPredOf(col("toks")) === targetLang).cast("int"))
      .withColumn("n_grams", size(col("toks")).cast("long"))
      .withColumn("z", Curation.classifierMarginExpr(col("toks"), weights, buckets))
      .withColumn("margin", graft.functions.OracleRound.roundN(col("z"), 6))
      .withColumn("predicted", col("z") >= 0.0)
      .withColumn("fp_exact", md5(TextAnalysis.normalize(col("text"))))
      .where(col("predicted"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp_exact")
      .select("doc_id", "ts", "label", "n_grams", "margin", "predicted",
        "fp_exact")
  }

  /** Streaming classifier scoring landed as a replay-idempotent state
    * table — the [[minhashSink]] contract for the published-classifier
    * scores: each micro-batch scores map-only against the broadcast
    * weights and lands `batch_id=N` via dynamic partition overwrite, so
    * an at-least-once redelivery overwrites its own partition with
    * value-identical rows (margins are a pure function of text ×
    * published weights). The stored scores therefore equal the batch
    * [[graft.operators.Curation.qualityClassifierScores]] values across
    * any checkpointed restart — StreamOpsSpec asserts it bit-for-bit.
    */
  def classifierScoreSink(
      docs: DataFrame,
      weights: Array[Double],
      stateDir: String,
      checkpointDir: String,
      buckets: Int = 64,
      targetLang: String = "en"): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Curation, TextAnalysis}
    StateTable.sink(docs, stateDir, checkpointDir) { batch =>
      val toks = TextAnalysis.tokens(col("text"))
      batch
        .select(col("doc_id"),
          (TextAnalysis.langPredOf(toks) === targetLang).cast("int")
            .as("label"),
          size(toks).cast("long").as("n_grams"),
          Curation.classifierMarginExpr(toks, weights, buckets).as("z"))
        .where(col("n_grams") > 0)
        .select(col("doc_id"), col("label"), col("n_grams"),
          graft.functions.OracleRound.roundN(col("z"), 6).as("margin"),
          (col("z") >= 0.0).as("predicted"))
    }
  }

  /** The accumulated classifier-score store (one row per doc_id — an
    * at-least-once replay lands value-identical rows, so keeping either
    * is exact). `asOfBatch` = the store as of batch N.
    */
  def readClassifierScores(
      spark: SparkSession, stateDir: String,
      asOfBatch: Option[Long] = None): DataFrame =
    StateTable.read(spark, stateDir, asOfBatch).drop("batch_id")
      .dropDuplicates("doc_id")

  /** Continuous corpus ingestion with incremental dedup — the foreachBatch
    * production loop that keeps a parquet corpus near-dup-free while a
    * document stream lands. Per micro-batch:
    *   1. exact in-batch canonicalization (min doc_id per content
    *      fingerprint),
    *   2. greedy in-batch near-dup drop (every `doc_b` of a jaccard pair
    *      goes; chains keep only their smallest-id representative — the
    *      standard greedy policy, cheaper than per-batch connected
    *      components and equal for the dominant pair/template cases),
    *   3. [[graft.operators.Dedup.crossCorpusPairs]] against the corpus
    *      published so far (increment ⋈ corpus prefix join — never
    *      new × existing),
    *   4. survivors appended as a `batch_id=N` partition via DYNAMIC
    *      partition overwrite, so a replayed micro-batch (foreachBatch is
    *      at-least-once) overwrites its own partition instead of
    *      double-appending — idempotent without a transactional sink.
    *
    * At scale each batch is small against the corpus, which is exactly
    * crossCorpusPairs' design point (shared-df prefix order, broadcast-
    * free). Near-dup state lives in the published corpus itself — no
    * unbounded streaming state.
    */
  def incrementalCorpusSink(
      docs: DataFrame,
      corpusDir: String,
      checkpointDir: String,
      threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Dedup, TextAnalysis}
    StateTable.foreachBatch(docs, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      // same fresh-checkpoint clobber hazard as the stats/CDC sinks —
      // and here batch ids restarting at 0 would ALSO empty the
      // cross-corpus dedup reference (batch_id < 0 matches nothing)
      StateTable.guardBatchContinuation(s, corpusDir, batchId)
      // scoped, not session-global release: a shared session may have
      // concurrent operator users (another stream, a batch job) whose
      // caches a global release would free from under them
      graft.engine.OpCache.scoped(s) {
        val withFp = batch
          .withColumn("fp_exact", md5(TextAnalysis.normalize(col("text"))))
        val keepIds = withFp.groupBy(col("fp_exact"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        // checkpoint the join results: each feeds multiple consumers, and
        // the jaccard operators' scan-parallelism probe requires scan-
        // shaped (lineage-cut) inputs — a LogicalRDD leaf is both
        val exactCanon = graft.engine.OpCache.checkpoint(
          batch.join(keepIds, "doc_id"))
        val inBatchDups = Dedup.ngramJaccardPairs(
            exactCanon.select("doc_id", "text"), threshold = threshold)
          .select(col("doc_b").as("doc_id")).distinct()
        val afterInBatch = graft.engine.OpCache.checkpoint(
          exactCanon.join(inBatchDups, Seq("doc_id"), "left_anti"))
        // "corpus does not exist yet" must be decided by an explicit FS
        // probe, not by swallowing AnalysisException: a corrupt footer or
        // permission failure also surfaces as AnalysisException, and
        // treating it as first-batch would silently skip cross-corpus
        // dedup and republish duplicates. Other errors fail the batch.
        // The probe looks for COMMITTED parquet data, not bare directory
        // existence — a crashed first write leaves the dir with only
        // _temporary/ inside, and treating that as readable would turn
        // the replay into a permanent schema-inference crash loop.
        val corpusPath = new org.apache.hadoop.fs.Path(corpusDir)
        val fs = corpusPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        def hasCommittedData: Boolean = {
          if (!fs.exists(corpusPath)) return false
          val it = fs.listFiles(corpusPath, true)
          while (it.hasNext) {
            val f = it.next().getPath
            if (f.getName.endsWith(".parquet") &&
              !f.toString.contains("_temporary")) return true
          }
          false
        }
        // exclude THIS batch's partition (and any later one) from the
        // dedup reference: a replay after a partial job-commit would
        // otherwise see the batch's own half-published rows, flag them as
        // duplicates of themselves, and the dynamic overwrite would then
        // rewrite batch_id=N WITHOUT them — deleting committed data
        val existing =
          if (hasCommittedData)
            s.read.parquet(corpusDir)
              .where(col("batch_id") < lit(batchId))
              .select("doc_id", "text")
          else
            s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("doc_id",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("text",
                  org.apache.spark.sql.types.StringType))))
        val corpusDups = Dedup.crossCorpusPairs(
            afterInBatch.select("doc_id", "text"), existing, threshold = threshold)
          .select(col("new_id").as("doc_id")).distinct()
        StateTable.land(
          afterInBatch.join(corpusDups, Seq("doc_id"), "left_anti"),
          corpusDir, batchId)
        // the jaccard operators' internal materializations registered into
        // this thread's scope — freed as the scoped block exits
      }
    }
  }

  /** Streaming side of [[graft.operators.Incremental]]'s mergeable
    * statistics: each micro-batch folds to its tiny per-group algebraic
    * state ([[graft.operators.Incremental.statsPartial]] — count/sum/
    * sumsq/min/max) and lands as a `batch_id=N` parquet partition via
    * dynamic partition overwrite, so a replayed micro-batch (foreachBatch
    * is at-least-once) overwrites its own partition instead of
    * double-counting — the same idempotence design as
    * [[incrementalCorpusSink]]. Per-batch work is O(batch); the corpus is
    * never rescanned; there is no unbounded streaming state (the state IS
    * the published table). Readers merge-on-read via [[readRunningStats]];
    * a compaction job can fold old partitions into one at any time
    * because the merge is associative.
    */
  def incrementalStatsSink(
      docs: DataFrame,
      stateDir: String,
      checkpointDir: String,
      groupCol: String = "source",
      valueCol: String = "n_chars"): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(docs, stateDir, checkpointDir)(
      graft.operators.Incremental.statsPartial(_, groupCol, valueCol))

  /** Streaming rate-anomaly detector: watermarked tumbling-window event
    * counts, each CLOSED window scored against the RUNNING per-type count
    * statistics of all previously closed windows — z = (n − mean)/std
    * over the prior history, flagged when std > 0 and |z| exceeds the
    * threshold (a zero-variance history cannot score; the first windows
    * have no priors and emit unflagged with null mean/z). The volume-
    * spike / pipeline-stall alarm a continuous ingestion runs next to its
    * corpus.
    *
    * Architecture: the windowed agg's append stream delivers ONLY
    * finalized windows to foreachBatch; each batch (a) scores its windows
    * against the merge-on-read stats of STRICTLY EARLIER batches — so a
    * replayed batch rescores identically and never sees itself — and
    * lands the scored rows as a replay-idempotent `batch_id=N` partition,
    * then (b) folds its windows into the stats state table
    * ([[incrementalStatsSink]]'s algebraic design, O(batch) per batch,
    * no unbounded streaming state).
    */
  def rateAnomalySink(
      events: DataFrame,
      stateDir: String,
      outDir: String,
      checkpointDir: String,
      windowLength: String = "1 minute",
      watermark: String = "1 minute",
      zThreshold: Double = 3.0): org.apache.spark.sql.streaming.StreamingQuery = {
    val counts = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"))
    StateTable.foreachBatch(counts, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      // guard BOTH tables before writing either; the stats table's
      // listing also tells whether any priors exist
      val statsMax = StateTable.guardBatchContinuation(s, stateDir, batchId)
      StateTable.guardBatchContinuation(s, outDir, batchId)
      val scored = statsMax match {
        case Some(_) =>
          val priors = graft.operators.Incremental.finalizeStats(
            mergeStats(StateTable.read(s, stateDir, upToBatch = batchId - 1)))
            .select(col("event_type"), col("val_mean").as("mean_prev"),
              col("val_std").as("std_prev"))
          val z = (col("n") - col("mean_prev")) / col("std_prev")
          batch.join(priors, Seq("event_type"), "left")
            .select(col("window_start"), col("event_type"), col("n"),
              col("mean_prev"),
              when(col("std_prev") > 0,
                graft.functions.OracleRound.roundN(z, 4)).as("z"),
              coalesce(col("std_prev") > 0 &&
                abs(z) > lit(zThreshold), lit(false)).as("anomalous"))
        case None =>
          batch.select(col("window_start"), col("event_type"), col("n"),
            lit(null).cast("double").as("mean_prev"),
            lit(null).cast("double").as("z"),
            lit(false).as("anomalous"))
      }
      StateTable.land(scored, outDir, batchId)
      StateTable.land(
        graft.operators.Incremental.statsPartial(batch, "event_type", "n"),
        stateDir, batchId)
    }
  }

  /** The stats store's merge: fold the partials per group, after
    * restoring the (group, state...) column layout — parquet round-trips
    * do not guarantee the group column stays first, and `mergeAllStats`
    * keys off the first column.
    */
  private def mergeStats(state: DataFrame): DataFrame = {
    val stateCols = Seq("n_rows", "val_sum", "val_sumsq", "val_min", "val_max")
    val s = state.drop("batch_id")
    graft.operators.Incremental.mergeAllStats(
      s.select(s.columns.filterNot(stateCols.toSet).map(col) ++
        stateCols.map(col): _*))
  }

  /** Merge-on-read view of an [[incrementalStatsSink]] state table: fold
    * every batch partition's partials and derive the moments. The result
    * is identical to running the whole history through one batch
    * aggregate — IncrementalSpec asserts the algebra, the streaming
    * golden asserts it across micro-batches and a checkpoint restart.
    */
  def readRunningStats(
      spark: org.apache.spark.sql.SparkSession, stateDir: String,
      asOfBatch: Option[Long] = None): DataFrame =
    graft.operators.Incremental.finalizeStats(
      mergeStats(StateTable.read(spark, stateDir, asOfBatch)))

  /** Merge-on-read over a compacted table PLUS the live batches it does
    * not cover: the compacted rows stand in for every batch_id ≤ the
    * sidecar watermark, live partitions above it merge on top. Identical
    * to [[readRunningStats]] over the uncompacted table — and because the
    * ≤-watermark partitions are never consulted, [[vacuumStateTable]] can
    * retire them without changing any reader's result.
    *
    * `asOfBatch` = snapshot-as-of (time travel): the table as it stood
    * after batch N. For N at or above the compaction watermark the
    * snapshot stands in for everything it folded and live partitions in
    * (watermark, N] merge on top — vacuum never touches those, so an
    * as-of read in this range survives the full compact → vacuum
    * lifecycle. For N BELOW the watermark the snapshot cannot be
    * un-merged; the read routes to the live partitions if their prefix
    * still survives (compacted-but-not-yet-vacuumed), and refuses loudly
    * once vacuum has retired them — never a silent undercount.
    */
  def readRunningStats(
      spark: org.apache.spark.sql.SparkSession, stateDir: String,
      compactedDir: String, asOfBatch: Option[Long]): DataFrame =
    if (asOfBatch.exists(_ < StateTable.readCompactedThrough(spark, compactedDir)))
      readRunningStats(spark, stateDir, asOfBatch)
    else
      graft.operators.Incremental.finalizeStats(mergeStats(
        StateTable.readCompacted(spark, compactedDir, stateDir,
          upToBatch = asOfBatch.getOrElse(Long.MaxValue))))

  def readRunningStats(
      spark: org.apache.spark.sql.SparkSession, stateDir: String,
      compactedDir: String): DataFrame =
    readRunningStats(spark, stateDir, compactedDir, None)

  /** Streaming side of [[graft.operators.Quality]]: evaluate a declared
    * constraint suite over every micro-batch and land the per-constraint
    * report as a `batch_id=N` parquet partition (dynamic overwrite —
    * replay-idempotent, the [[incrementalStatsSink]] design). The report
    * table IS the DQ time series: one row per (batch, constraint), so
    * gate-rate drift, a schema break, or a poisoned upstream shows up as
    * `passed=false` rows the moment the batch lands — the monitoring
    * stream a continuous ingestion publishes next to its corpus. Each
    * batch pays the constraint mix's cost (one shared row-level pass +
    * per-unique/per-FK branches) over BATCH-sized input only.
    */
  def constraintReportSink(
      rows: DataFrame,
      constraints: Seq[graft.operators.Quality.Constraint],
      reportDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(rows, reportDir, checkpointDir)(
      graft.operators.Quality.checkConstraints(_, constraints))

  /** Fold an [[incrementalStatsSink]] state table's accumulated batch
    * partitions into one state row per group, published to a NEW
    * directory — the compaction the merge's associativity licenses
    * ([[StateTable.compact]]: never in place, coverage pinned in the
    * sidecar). Readers move to `outDir` when they choose. A compacted
    * table is itself a valid state table: [[readRunningStats]] reads
    * either.
    */
  def compactStats(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      outDir: String): Unit =
    StateTable.compact(spark, stateDir, outDir)(mergeStats)

  /** Retire the live batch partitions a compacted table supersedes,
    * keeping the newest `keepLast` ([[StateTable.vacuum]]); returns the
    * number of partitions removed. Every combined reader gives the same
    * result before and after.
    */
  def vacuumStateTable(
      spark: SparkSession,
      stateDir: String,
      compactedDir: String,
      keepLast: Int = 2): Long =
    StateTable.vacuum(spark, stateDir, compactedDir, keepLast)

  // ── CDC: streaming changeset apply (merge-on-read) ─────────────────────

  /** Streaming side of [[graft.operators.Incremental.applyChangeset]] —
    * the production shape of CDC maintenance. Each micro-batch reduces to
    * its per-key winner (highest `seqCol`, the batch operator's own rule)
    * and lands as a replay-idempotent `batch_id=N` parquet partition via
    * dynamic partition overwrite; the base snapshot is NEVER rewritten
    * per batch — per-batch work is O(batch), not O(base). The current
    * table materializes on read ([[readCdcTable]]: ONE window over
    * base ∪ changes, no per-batch join cascade); [[compactCdc]] folds
    * history into a new base snapshot and [[vacuumStateTable]] retires
    * the partitions it covers.
    *
    * Contract (inherited and sharpened from `applyChangeset`): (key, seq)
    * unique, and `seqCol` globally monotone ACROSS batches — the CDC log
    * position. That is what makes one global highest-seq-wins pass equal
    * the batch-at-a-time fold (which lets later batches win regardless of
    * seq); a non-monotone seq would make the two diverge.
    */
  def cdcApplySink(
      changes: DataFrame,
      changesDir: String,
      checkpointDir: String,
      keyCol: String,
      seqCol: String = "seq",
      opCol: String = "op"): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(changes, changesDir, checkpointDir) { batch =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(keyCol)).orderBy(col(seqCol).desc)
      batch
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .drop("__rn")
    }

  /** Merge-on-read view of a [[cdcApplySink]] changes table over a base
    * snapshot: one key-partitioned window (never a global sort) picks the
    * winner among the base row (lowest precedence) and every change row
    * (highest seq wins); winners whose op is D disappear. Column set and
    * order mirror `base`. `sinceBatch`/`upToBatch` bound the change
    * partitions consulted — the combined-reader and race-free-compaction
    * levers. Equals `applyChangeset(base, allChanges)` under the sink's
    * monotone-seq contract (StreamOpsSpec pins it, restart included).
    *
    * `asOfBatch` = snapshot-as-of over the ORIGINAL base: the table as it
    * stood after change batch N (time travel for CDC debugging). Unlike
    * the raw `upToBatch` bound it also VERIFIES the prefix of change
    * partitions up to N still exists, refusing loudly after vacuum
    * rather than reconstructing a silently incomplete past.
    */
  def readCdcTable(
      spark: SparkSession,
      base: DataFrame,
      changesDir: String,
      keyCol: String,
      seqCol: String = "seq",
      opCol: String = "op",
      sinceBatch: Long = Long.MinValue,
      upToBatch: Long = Long.MaxValue,
      asOfBatch: Option[Long] = None): DataFrame =
    mergeCdc(base,
      StateTable.read(spark, changesDir, asOfBatch, sinceBatch, upToBatch),
      keyCol, seqCol, opCol)

  /** The CDC store's merge: `base` rows overlaid by `state`'s change rows. */
  private def mergeCdc(
      base: DataFrame, state: DataFrame,
      keyCol: String, seqCol: String, opCol: String): DataFrame = {
    val payload = base.columns.filterNot(_ == keyCol)
    val changes = state.drop("batch_id")
    val seqType = changes.schema(seqCol).dataType
    val all = changes
      .withColumn("__chg", lit(1))
      .select((Seq(keyCol, opCol, seqCol, "__chg") ++ payload).map(col): _*)
      .unionByName(base
        .withColumn(opCol, lit("I"))
        .withColumn(seqCol, lit(null).cast(seqType))
        .withColumn("__chg", lit(0))
        .select((Seq(keyCol, opCol, seqCol, "__chg") ++ payload).map(col): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col("__chg").desc, col(seqCol).desc)
    all
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && col(opCol) =!= "D")
      .select((keyCol +: payload).map(col): _*)
  }

  /** Fold a changes table into a NEW base snapshot (the [[compactStats]]
    * design: never rewrite in place, never race the live sink — coverage
    * is pinned before the read and recorded in the sidecar). The output
    * is a plain snapshot; read it directly, or through [[readCdcCompacted]]
    * to merge the live batches landed since.
    */
  def compactCdc(
      spark: SparkSession,
      base: DataFrame,
      changesDir: String,
      outDir: String,
      keyCol: String,
      seqCol: String = "seq",
      opCol: String = "op"): Unit =
    StateTable.compact(spark, changesDir, outDir)(
      mergeCdc(base, _, keyCol, seqCol, opCol))

  /** Current CDC table from a compacted snapshot plus the live batches
    * above its watermark — identical to [[readCdcTable]] over the original
    * base and the FULL changes table, which is what licenses
    * [[vacuumStateTable]] on the covered partitions.
    *
    * `asOfBatch` = snapshot-as-of: the table after change batch N. Valid
    * for N at or above the snapshot's watermark (the partitions in
    * (watermark, N] are exactly the ones vacuum never touches, so the
    * read survives the full compact → vacuum lifecycle). For N BELOW the
    * watermark the snapshot has already folded later changes and cannot
    * be un-merged — the reader refuses loudly and names the fallback
    * ([[readCdcTable]] over the original base, while its live prefix
    * survives) instead of returning a wrong past.
    */
  def readCdcCompacted(
      spark: SparkSession,
      compactedDir: String,
      changesDir: String,
      keyCol: String,
      seqCol: String = "seq",
      opCol: String = "op",
      asOfBatch: Option[Long] = None): DataFrame = {
    val through = StateTable.readCompactedThrough(spark, compactedDir)
    asOfBatch.filter(_ < through).foreach { n =>
      throw new IllegalStateException(
        s"compacted snapshot at $compactedDir already folds change " +
          s"batches ≤ $through; as-of-batch=$n predates it and a fold " +
          "cannot be un-merged — read the ORIGINAL base through " +
          "readCdcTable(asOfBatch=...) while the live change prefix " +
          "survives, or retain an earlier snapshot")
    }
    readCdcTable(spark, spark.read.parquet(compactedDir), changesDir,
      keyCol, seqCol, opCol,
      sinceBatch = through,
      upToBatch = asOfBatch.getOrElse(Long.MaxValue))
  }

  /** Per-user running aggregate emitted each micro-batch. */
  case class RunningTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Spark 4 arbitrary-state processor: one `ValueState` cell per user
    * holding (count, sum). `transformWithState` is the successor API to
    * mapGroupsWithState — typed state cells (value/list/map), TTL, and
    * timers on the RocksDB state store, the backend that keeps huge
    * per-key state off-heap at 100 TB/day. TTLConfig.NONE here; a
    * production pipeline would set a TTL to bound abandoned-key state.
    */
  private class RunningTotalProcessor
      extends StatefulProcessor[Long, (Long, Double), RunningTotal] {
    @transient private var state: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)](
        "agg",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[RunningTotal] = {
      var (n, total) = if (state.exists()) state.get() else (0L, 0.0)
      rows.foreach { case (_, v) => n += 1; total += v }
      state.update((n, total))
      Iterator.single(RunningTotal(userId, n, total))
    }
  }

  /** Per-user running (count, sum) over the event stream via
    * `transformWithState` (update mode: one refreshed row per user per
    * micro-batch). Requires the RocksDB state store provider — the
    * operator rejects the default HDFS-backed store by design.
    */
  def runningTotals(spark: SparkSession, events: DataFrame): Dataset[RunningTotal] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new RunningTotalProcessor,
        TimeMode.None(),
        OutputMode.Update())
  }

  /** One completed funnel conversion (step-1 time, final-step time,
    * whole-funnel gap in seconds).
    */
  case class FunnelConversion(
      user_id: Long,
      t_first: Timestamp,
      t_converted: Timestamp,
      gap_seconds: Long)

  /** Per-user funnel progress. `stage` is an explicit enum — 0 = no step
    * reached, 1 = step-1 seen (at `t1`), 2 = step-2 seen (at `t2`),
    * 3 = converted (done marker) — NOT a negative-millis sentinel, so a
    * legitimate pre-1970 event time (negative epoch millis) records and
    * progresses correctly instead of reading as "not reached".
    */
  case class FunnelProgress(stage: Int, t1: Long, t2: Long)

  /** Streaming funnel: the real-time form of
    * [[graft.operators.Sequence.funnel]] — per-user
    * `flatMapGroupsWithState` tracking view → click → purchase progress
    * across micro-batches and emitting a conversion row the moment the
    * final step lands. Ordering is STRICT (each step must be later than
    * the previous step's recorded time; a click before any view does not
    * advance), events inside a batch are processed in event-time order,
    * and a converted user's state collapses to a done marker so repeat
    * purchases never re-emit. State is one int + two longs per active
    * user — the per-key state-store shape that scales with user count,
    * not event count — and is BOUNDED by event-time eviction: once the
    * watermark passes a user's last recorded step plus `horizonMs`, the
    * key times out and its state is removed (the [[sessionize]]
    * `EventTimeTimeout` pattern), so never-converting users cannot grow
    * the store without bound on an unbounded user space. Eviction also
    * retires converted users' done markers; a user active again AFTER
    * eviction starts a fresh funnel (a new full view → click → purchase
    * within a horizon re-emits — per-horizon funnel semantics). Cross-
    * batch ARRIVAL order is trusted batch-to-batch (the batch funnel is
    * the reprocessing backstop for late data — the same batch-serves-
    * truth split as the stats/CDC sinks).
    */
  def funnelStream(
      spark: SparkSession,
      events: DataFrame,
      steps: (String, String, String) = ("view", "click", "purchase"),
      watermark: String = "30 minutes",
      horizonMs: Long = 24 * 3600 * 1000L): Dataset[FunnelConversion] = {
    import spark.implicits._
    val typed = events
      .select(
        col("user_id").cast("long"),
        col("event_type").cast("string"),
        col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .as[(Long, String, Timestamp)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelProgress, FunnelConversion](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, String, Timestamp)],
         state: GroupState[FunnelProgress]) =>
          if (state.hasTimedOut) {
            // watermark passed last step + horizon: evict (partial
            // progress is abandoned; the batch funnel reprocesses truth)
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelProgress(0, 0L, 0L))
            var lastSeen = Long.MinValue
            val out = scala.collection.mutable.ListBuffer.empty[FunnelConversion]
            rows.toSeq.sortBy(_._3.getTime).foreach { case (_, tpe, ts) =>
              val t = ts.getTime
              lastSeen = math.max(lastSeen, t)
              st.stage match {
                case 0 =>
                  if (tpe == steps._1) st = FunnelProgress(1, t, 0L)
                case 1 =>
                  if (tpe == steps._2 && t > st.t1) st = st.copy(stage = 2, t2 = t)
                case 2 =>
                  if (tpe == steps._3 && t > st.t2) {
                    out += FunnelConversion(userId, new Timestamp(st.t1),
                      new Timestamp(t), t / 1000L - st.t1 / 1000L)
                    st = st.copy(stage = 3)
                  }
                case _ => () // 3: already converted, suppress re-emission
              }
            }
            state.update(st)
            // the timeout timestamp must sit strictly past the current
            // watermark (Spark rejects an already-expired value); a key
            // whose horizon has in fact lapsed evicts on the next batch
            state.setTimeoutTimestamp(
              math.max(lastSeen + horizonMs, state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }
  }

  /** One user session: contiguous activity with gaps < the timeout. */
  /** Output row of [[asOfEnrich]]: the left event plus the latest
    * reference row at-or-before its event time (None = no reference
    * existed yet).
    */
  case class AsOfEnriched(
      user_id: Long,
      event_id: Long,
      ts: Timestamp,
      value: Double,
      ref_ts: Option[Timestamp],
      ref_value: Option[Double])

  /** Internal tagged union row and per-key state for [[asOfEnrich]]
    * (public: Catalyst's encoders generate Java that must reach the
    * constructors).
    */
  case class AsOfTagged(
      user_id: Long, is_ref: Boolean, event_id: Long, ts: Timestamp,
      v: Double)
  case class AsOfRef(ts: Long, v: Double)
  case class AsOfPending(ts: Long, id: Long, v: Double)
  case class AsOfState(refs: List[AsOfRef], pending: List[AsOfPending])

  /** Streaming AS-OF enrichment join — each left event paired with the
    * LATEST reference row at-or-before its event time ("enrich the trade
    * with the quote in force"), correct under out-of-order arrival on
    * BOTH sides. Spark's stream–stream joins express interval overlap,
    * not as-of (a time-bounded equi-join returns ALL quotes in the
    * window, and "latest" cannot be finalized row-wise in append mode),
    * so this is a custom stateful operator: the two streams union under
    * a side tag, group by key, and a flatMapGroupsWithState body holds
    *
    *  - the reference buffer: every ref above the watermark plus ONE
    *    latest ref at-or-below it (any future left has ts > watermark,
    *    and its as-of answer is either an above-watermark ref or exactly
    *    that latest-below one — older refs are provably dead);
    *  - pending left events (ts above the watermark): a ref with an
    *    EARLIER event time can still arrive, so a left finalizes only
    *    when the watermark passes its timestamp (event-time timeout
    *    pinned to the earliest pending left).
    *
    * State per key is watermark-bounded on both buffers plus one
    * persistent latest-ref row — the compacted-KTable contract of a
    * keyed enrichment (S3's state lookup, with history semantics).
    * Determinism: refs tie-break (ts, value) and the as-of pick is the
    * max under that order; emission sorts (ts, event_id).
    */
  def asOfEnrich(
      spark: SparkSession,
      left: DataFrame,
      ref: DataFrame,
      watermark: String = "10 minutes"): Dataset[AsOfEnriched] = {
    import spark.implicits._
    val l = left.select(
        col("user_id").cast("long"), lit(false),
        col("event_id").cast("long"), col("ts").cast("timestamp"),
        col("value").cast("double"))
      .toDF("user_id", "is_ref", "event_id", "ts", "v")
      .withWatermark("ts", watermark).as[AsOfTagged]
    val r = ref.select(
        col("user_id").cast("long"), lit(true), lit(-1L),
        col("ts").cast("timestamp"), col("ref_value").cast("double"))
      .toDF("user_id", "is_ref", "event_id", "ts", "v")
      .withWatermark("ts", watermark).as[AsOfTagged]

    l.unionByName(r)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfEnriched](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[AsOfTagged],
         state: GroupState[AsOfState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prior = state.getOption.getOrElse(AsOfState(Nil, Nil))
          var refs = prior.refs
          var pending = prior.pending
          if (!state.hasTimedOut) {
            rows.foreach { t =>
              if (t.is_ref) refs ::= AsOfRef(t.ts.getTime, t.v)
              else pending ::= AsOfPending(t.ts.getTime, t.event_id, t.v)
            }
          }
          val sortedRefs = refs.sortBy(r => (r.ts, r.v))
          val (emit, stay) = pending.partition(_.ts <= wm)
          val out = emit.sortBy(e => (e.ts, e.id)).map { e =>
            // latest ts ≤ e.ts; equal-ts refs resolve to the max value
            // (sortedRefs is ascending, lastOption takes the greatest)
            val m = sortedRefs.takeWhile(_.ts <= e.ts).lastOption
            AsOfEnriched(userId, e.id, new Timestamp(e.ts), e.v,
              m.map(r => new Timestamp(r.ts)), m.map(_.v))
          }
          // prune: one latest-at-or-below-watermark ref + everything above
          val below = sortedRefs.filter(_.ts <= wm)
          val kept = below.lastOption.toList ::: sortedRefs.filter(_.ts > wm)
          if (stay.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AsOfState(kept, stay))
            if (stay.nonEmpty)
              state.setTimeoutTimestamp(stay.map(_.ts).min)
            else {
              // refs-only key: without a timeout, a key that goes quiet
              // after a burst of refs would hold its above-watermark ref
              // buffer forever (nothing re-invokes the group). Pin a
              // timeout to the earliest above-watermark ref so a later
              // invocation compacts the buffer down to the single
              // latest-ref row once the watermark passes it.
              val above = kept.filter(_.ts > wm)
              if (above.nonEmpty)
                state.setTimeoutTimestamp(above.map(_.ts).min)
            }
          }
          out.iterator
      }
  }

  case class SessionUpdate(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double)

  /** Internal per-user state buffer (public: Catalyst's state encoder
    * generates Java that must reach the constructor).
    */
  case class SessionState(
      start: Long, end: Long, n: Long, total: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState: emits a
    * session row when a user is idle past `gapMs` (event-time driven via
    * the watermark). The canonical mapGroupsWithState pattern the reference
    * never needed but a pipeline at scale does (per-key state store,
    * timeout-driven eviction).
    */
  def sessionize(
      spark: SparkSession,
      events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "30 minutes"): Dataset[SessionUpdate] = {
    import spark.implicits._
    // project first, watermark last: a cast re-creates the attribute and
    // would strip the event-time watermark tag from `ts`
    val typed = events
      .select(
        col("user_id").cast("long"),
        col("ts").cast("timestamp"),
        col("value").cast("double"))
      .withWatermark("ts", watermark)
      .as[(Long, Timestamp, Double)]

    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Timestamp, Double)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionUpdate(
              userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_._2.getTime)
            var closed = List.empty[SessionUpdate]
            var cur = state.getOption
            // cross-batch stragglers (older than the open session's reach)
            // accumulate into their own provisional session — consecutive
            // stragglers within gapMs of each other merge instead of
            // fragmenting into single-event sessions
            var strag: Option[SessionState] = None
            def closeStrag(): Unit = strag.foreach { st =>
              closed ::= SessionUpdate(
                userId, new Timestamp(st.start), new Timestamp(st.end), st.n, st.total)
              strag = None
            }
            sorted.foreach { case (_, ts, v) =>
              val t = ts.getTime
              cur match {
                // merge when t falls inside the session's gap-extended
                // interval [start−gap, end+gap] — an in-watermark straggler
                // just before the session start must LOWER start, not
                // inflate the counts under an unchanged one
                case Some(s) if t >= s.start - gapMs && t - s.end <= gapMs =>
                  strag match {
                    case Some(st) if t - st.end <= gapMs =>
                      // t bridges the straggler session into the open one:
                      // a single gap-free chain is ONE session
                      cur = Some(s.copy(
                        start = math.min(math.min(s.start, st.start), t),
                        end = math.max(s.end, t),
                        n = s.n + st.n + 1, total = s.total + st.total + v))
                      strag = None
                    case _ =>
                      cur = Some(s.copy(
                        start = math.min(s.start, t),
                        end = math.max(s.end, t), n = s.n + 1, total = s.total + v))
                  }
                case Some(s) if t < s.start - gapMs =>
                  // a cross-batch straggler OLDER than the open session by
                  // more than the gap can never merge with it (and newer
                  // peers of its own era were already closed) — grow the
                  // provisional straggler session, or start a fresh one if
                  // this straggler is itself past the previous one's gap.
                  // Within one batch this branch is unreachable (events
                  // are processed in time order).
                  strag match {
                    case Some(st) if t - st.end <= gapMs =>
                      strag = Some(st.copy(
                        end = math.max(st.end, t), n = st.n + 1, total = st.total + v))
                    case _ =>
                      closeStrag()
                      strag = Some(SessionState(t, t, 1, v))
                  }
                case Some(s) =>
                  closed ::= SessionUpdate(
                    userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, v))
                case None =>
                  cur = Some(SessionState(t, t, 1, v))
              }
            }
            // any straggler session left open is closed with the batch: all
            // later events (this batch was sorted; later batches only grow
            // the watermark past it) are newer than the OPEN session's
            // reach, which starts more than a gap after the stragglers
            closeStrag()
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** One event of a session's path head (public for the state encoder). */
  case class PathEvent(us: Long, id: Long, tpe: String)
  /** Per-user path-session state: interval (epoch MICROS — the testdata
    * carries µs precision and the batch operator orders and gaps in µs,
    * so ms-grain state would mis-order same-ms events and close sessions
    * on different boundaries) + the first `maxLen` events by
    * (us, event_id) — the buffer is CAPPED at maxLen by construction
    * (insert-sort-truncate), the streaming twin of the batch operator's
    * row_number pre-cut, so a bot session carries ≤ maxLen structs here
    * too.
    */
  case class PathSessionState(start: Long, end: Long, head: List[PathEvent])
  /** A closed session with its rendered `a>b>c` path. */
  case class ClosedSessionPath(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      path: String)

  /** Closed sessions WITH their behavioral path — the streaming feed for
    * [[topPathsSink]]. Same gaps-and-islands session semantics (and the
    * same straggler merge/split handling) as [[sessionize]], but the
    * state additionally carries the session's first `maxLen` events by
    * exact (µs, event_id) — out-of-order arrivals insert into the sorted
    * capped buffer, so the rendered path equals the batch
    * [[graft.operators.Sequence.topPaths]] head for the same events.
    */
  def sessionPaths(
      spark: SparkSession,
      events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "30 minutes",
      maxLen: Int = 8): Dataset[ClosedSessionPath] = {
    import spark.implicits._
    val typed = events
      .select(
        col("user_id").cast("long"),
        col("event_id").cast("long"),
        col("event_type").cast("string"),
        col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .as[(Long, Long, String, Timestamp)]

    val gapUs = gapMs * 1000L
    // local defs only (no object-method calls): the fMGWS closure must
    // not capture the StreamOps module, which is not serializable
    def epochUs(ts: Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
    def usTimestamp(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000L))
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    def insert(head: List[PathEvent], e: PathEvent): List[PathEvent] =
      ((e :: head).sortBy(x => (x.us, x.id))).take(maxLen)
    def merge(a: List[PathEvent], b: List[PathEvent]): List[PathEvent] =
      (a ::: b).sortBy(x => (x.us, x.id)).take(maxLen)
    def render(userId: Long, s: PathSessionState): ClosedSessionPath =
      ClosedSessionPath(userId, usTimestamp(s.start), usTimestamp(s.end),
        s.head.map(_.tpe).mkString(">"))

    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[PathSessionState, ClosedSessionPath](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, String, Timestamp)],
         state: GroupState[PathSessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(render(userId, s))
          } else {
            // sort by (µs, event_id) — the batch operator's exact order
            val sorted = rows.toSeq.sortBy(r => (epochUs(r._4), r._2))
            var closed = List.empty[ClosedSessionPath]
            var cur = state.getOption
            var strag: Option[PathSessionState] = None
            def closeStrag(): Unit = strag.foreach { st =>
              closed ::= render(userId, st)
              strag = None
            }
            sorted.foreach { case (_, id, tpe, ts) =>
              val t = epochUs(ts)
              val e = PathEvent(t, id, tpe)
              cur match {
                case Some(s) if t >= s.start - gapUs && t - s.end <= gapUs =>
                  strag match {
                    case Some(st) if t - st.end <= gapUs =>
                      cur = Some(PathSessionState(
                        math.min(math.min(s.start, st.start), t),
                        math.max(s.end, t),
                        insert(merge(s.head, st.head), e)))
                      strag = None
                    case _ =>
                      cur = Some(PathSessionState(
                        math.min(s.start, t), math.max(s.end, t),
                        insert(s.head, e)))
                  }
                case Some(s) if t < s.start - gapUs =>
                  strag match {
                    case Some(st) if t - st.end <= gapUs =>
                      strag = Some(PathSessionState(
                        st.start, math.max(st.end, t), insert(st.head, e)))
                    case _ =>
                      closeStrag()
                      strag = Some(PathSessionState(t, t, List(e)))
                  }
                case Some(s) =>
                  closed ::= render(userId, s)
                  cur = Some(PathSessionState(t, t, List(e)))
                case None =>
                  cur = Some(PathSessionState(t, t, List(e)))
              }
            }
            closeStrag()
            cur.foreach { s =>
              state.update(s)
              // timeout is ms-grain: ceil so it never fires before the
              // µs-exact gap boundary the batch operator closes on
              state.setTimeoutTimestamp(
                Math.floorDiv(s.end + gapUs + 999L, 1000L))
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming top-paths maintenance: each micro-batch's CLOSED sessions
    * ([[sessionPaths]]) roll up to per-path session counts landed as a
    * replay-idempotent `batch_id=N` partition — path counts are ADDITIVE
    * (the simplest monoid), so [[readTopPaths]] answers the whole-history
    * ranking by one sum over a (paths × batches)-bounded table, never
    * rescanning the stream. Same exactly-once contract as the other
    * partitioned sinks (dynamic overwrite + continuation guard).
    */
  def topPathsSink(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
      gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "30 minutes",
      maxLen: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(
        sessionPaths(events.sparkSession, events, gapMs, watermark, maxLen).toDF(),
        stateDir, checkpointDir)(
      _.groupBy(col("path")).agg(count(lit(1)).as("n_sessions")))

  /** Whole-history top paths, merged on read: per-path counts sum across
    * the batch partitions (additive monoid), ranked (sessions desc, path
    * asc), cut to `k` — the streaming answer to the batch
    * [[graft.operators.Sequence.topPaths]] ranking over every session
    * CLOSED so far. `asOfBatch` = the ranking as of batch N.
    */
  def readTopPaths(
      spark: SparkSession, stateDir: String, k: Int = 20,
      asOfBatch: Option[Long] = None): DataFrame =
    StateTable.read(spark, stateDir, asOfBatch)
      .groupBy(col("path"))
      .agg(sum(col("n_sessions")).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)

  /** Streaming Count-Min sink: each micro-batch's term stream folds
    * through the bounded [[graft.functions.CountMinAgg]] into ONE
    * counter-array row, landed as a replay-idempotent `batch_id=N`
    * partition (same design as [[incrementalStatsSink]] — foreachBatch is
    * at-least-once, the dynamic overwrite makes it exactly-once at the
    * table). The CMS monoid (element-wise add) is what makes the state
    * mergeable across batches with no rescan: the merged matrix equals
    * the sketch of the whole history, exactly (StreamOpsSpec proves the
    * identity). An empty batch lands an all-zero row — the monoid
    * identity — rather than skipping (the batch-id sequence stays dense
    * for the continuation guard). Per-batch state is depth×width longs
    * regardless of batch size; readers estimate any key's frequency over
    * the FULL stream history from a constant-size table.
    */
  def cmsSink(
      docs: DataFrame,
      stateDir: String,
      checkpointDir: String,
      depth: Int = 3,
      width: Int = 256): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(docs, stateDir, checkpointDir) { batch =>
      graft.functions.GraftFunctions.register(batch.sparkSession)
      batch
        .select(explode(
          graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
        .where(length(col("term")) > 0)
        .select(expr(s"graft_cms(term, $depth, $width)").as("counters"))
    }

  /** Merge-on-read for [[cmsSink]]'s state: element-wise sum across the
    * batch rows — depth×width result rows, a bounded frame whatever the
    * stream's history length. `asOfBatch` folds only batches ≤ N — the
    * sketch exactly as it stood then (the monoid makes any prefix a
    * valid sketch).
    */
  def readCmsCounters(
      spark: SparkSession, stateDir: String,
      asOfBatch: Option[Long] = None): Array[Long] =
    StateTable.read(spark, stateDir, asOfBatch)
      .select(posexplode(col("counters")).as(Seq("i", "c")))
      .groupBy(col("i")).agg(sum(col("c")).as("c"))
      .orderBy(col("i"))
      .collect().map(_.getLong(1))

  /** Incremental inverted-index sink: each micro-batch folds its documents
    * into per-term partial postings — `(term, df, cf, postings)` where
    * `postings` is the batch's (doc_id, tf) struct array — landed as a
    * replay-idempotent `batch_id=N` partition (the [[cmsSink]]/[[hllSink]]
    * monoid pattern). df/cf sums and postings concatenation are
    * associative and commutative across batches when each document
    * arrives in exactly ONE batch (the deduped-corpus contract
    * [[incrementalCorpusSink]] produces; a same-checkpoint replay
    * overwrites its own partition, so at-least-once delivery stays
    * exactly-once at the table), so the merged index EQUALS
    * [[graft.operators.TextAnalysis.invertedIndex]] rebuilt on the whole
    * corpus — with no rescan of history. Per-batch work is O(batch
    * tokens): the same two partial-agg shuffles as the batch operator,
    * over batch-sized input only.
    *
    * `minDf`/`maxPostings` are READ-time parameters, deliberately not
    * applied here: a term below `minDf` within one batch may cross it
    * after a merge, and truncating postings per batch would make the fold
    * lossy. The state rows keep FULL per-batch postings; the head
    * truncation is [[readInvertedIndex]]'s display contract.
    */
  def invertedIndexSink(
      docs: DataFrame,
      stateDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(docs, stateDir, checkpointDir)(
      _.select(col("doc_id"), explode(
          graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
          collect_list(struct(col("doc_id"), col("tf"))).as("postings")))

  /** The inverted-index store's merge: per term, df/cf sums plus the
    * flattened postings arrays — one row per term with FULL postings.
    */
  private def mergePostings(state: DataFrame): DataFrame =
    state
      .groupBy(col("term"))
      .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"),
        flatten(collect_list(col("postings"))).as("postings"))

  /** The batch operator's exact read contract over merged postings (minDf
    * floor, doc-sorted head truncated to maxPostings, `doc:tf`
    * serialization) — so merged-index == rebuilt-index is a column-level
    * identity, not an approximation.
    */
  private def servePostings(
      merged: DataFrame, minDf: Long, maxPostings: Int): DataFrame =
    merged
      .where(col("df") >= minDf)
      .select(col("term"), col("df"), col("cf"),
        concat_ws(",", transform(
          slice(sort_array(col("postings")), 1, maxPostings),
          p => concat(p.getField("doc_id"), lit(":"), p.getField("tf"))))
          .as("postings"))

  /** Merge-on-read for [[invertedIndexSink]]: identical output (schema
    * and values) to `TextAnalysis.invertedIndex` over the full ingested
    * corpus, from (terms × batches) partial rows — StreamOpsSpec pins the
    * identity across a checkpointed restart. `asOfBatch` = the index as
    * it stood after batch N (the snapshot-as-of contract).
    */
  def readInvertedIndex(
      spark: SparkSession, stateDir: String,
      minDf: Long = 2, maxPostings: Int = 20,
      asOfBatch: Option[Long] = None): DataFrame =
    servePostings(mergePostings(StateTable.read(spark, stateDir, asOfBatch)),
      minDf, maxPostings)

  /** Fold the postings history into one row per term in a NEW directory
    * (the [[compactStats]] design: coverage pinned before the read,
    * recorded in the sidecar, never rewritten in place). Postings stay
    * FULL — compaction bounds the ROW count (one per term instead of one
    * per term×batch), not the postings length, so later reads at any
    * `maxPostings` remain exact.
    */
  def compactInvertedIndex(
      spark: SparkSession, stateDir: String, outDir: String): Unit =
    StateTable.compact(spark, stateDir, outDir)(mergePostings)

  /** Merged index from a compacted snapshot plus the live batches above
    * its watermark — identical to [[readInvertedIndex]] over the
    * uncompacted table, which licenses [[vacuumStateTable]] on the
    * covered partitions (the combined-reader contract).
    */
  def readInvertedIndexCompacted(
      spark: SparkSession, compactedDir: String, stateDir: String,
      minDf: Long = 2, maxPostings: Int = 20): DataFrame =
    servePostings(
      mergePostings(StateTable.readCompacted(spark, compactedDir, stateDir)),
      minDf, maxPostings)

  /** Streaming ANN index maintenance: each micro-batch of NEW embeddings
    * is assigned to its nearest published IVF centroid — a map-only pass,
    * the centroids are frozen training artifacts
    * ([[graft.operators.Similarity.publishedIvfCentroids]]) — and landed
    * under `batch_id=N/cluster=C` partitions (replay-idempotent dynamic
    * overwrite). The partition layout IS the inverted file: a serving
    * query probing `nprobe` centroids reads exactly those `cluster=`
    * directories (partition pruning), never the corpus; per-batch work is
    * O(batch × nlist) with zero shuffles. Because each vector's cluster
    * depends only on (vector, centroids), the merged table equals batch
    * assignment of the whole corpus exactly — the index never needs a
    * rebuild until the CENTROIDS are retrained (which is a new artifact
    * version and a new state dir, not an in-place mutation).
    */
  def ivfAssignSink(
      embeddings: DataFrame,
      centroids: Array[Array[Double]],
      stateDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(embeddings, stateDir, checkpointDir, Seq("cluster"))(
      graft.operators.Similarity.assignVectors(_, centroids))

  /** The maintained inverted file, merged on read: (vec_id, cluster, v,
    * nrm) for the full ingested corpus — or, with `clusters`, ONLY the
    * probed lists (partition-pruned: the scan touches the named
    * `cluster=` directories and nothing else — the serving path's read).
    * `asOfBatch` = the index as of batch N (snapshot-as-of contract).
    */
  def readIvfAssignments(
      spark: SparkSession, stateDir: String,
      clusters: Seq[Int] = Nil,
      asOfBatch: Option[Long] = None): DataFrame = {
    requireIvfBatches(spark, stateDir)
    val all = StateTable.read(spark, stateDir, asOfBatch).drop("batch_id")
    if (clusters.isEmpty) all
    else all.where(col("cluster").isin(clusters: _*))
  }

  /** A version directory holding only underscore artifacts (centroids +
    * commit marker, no `batch_id=` partitions) is a COMMITTED BUT EMPTY
    * index — v1 before any ingest, or a rotation performed on an empty
    * index. A raw parquet read of it dies with an opaque schema-inference
    * error; fail with the operational story instead. Returns the batch
    * ids present.
    */
  private def requireIvfBatches(spark: SparkSession, stateDir: String): Seq[Long] = {
    val ids = StateTable.batchIds(spark, stateDir)
    if (ids.isEmpty)
      throw new IllegalStateException(
        s"index state at $stateDir holds no ingested batch partitions — " +
          "the assign sink has not committed a batch yet (or the version " +
          "was rotated from an empty index); ingest first or read a " +
          "version that holds data")
    ids
  }

  // ── centroid-version rotation for the maintained ANN index ──────────
  //
  // [[ivfAssignSink]]'s scaladoc names the one event the incremental
  // index cannot absorb in place: retraining the centroids. Rotation
  // OPERATES that event: each centroid generation is its own version
  // directory `v=N` under an index root, carrying (a) the centroids that
  // define it (`_centroids`, a bounded nlist×dim parquet), (b) a
  // batch_id=-1 "rebase" partition holding the whole already-ingested
  // corpus re-assigned against the new centroids, and (c) a commit
  // marker written LAST, so half-built versions are invisible to
  // readers. Readers resolve the max committed version by default or PIN
  // any retained version explicitly (old versions stay exact until
  // vacuumed). The continuing stream keeps its ORIGINAL checkpoint and
  // simply points its sink at the new version's directory: source
  // offsets and batch ids carry over, so nothing is re-ingested and the
  // rebase partition plus post-rotation batches partition the corpus.

  /** Commit marker inside a `v=N` directory (leading `_` keeps it out of
    * parquet listings). Present ⇔ the version is fully built.
    */
  val IvfVersionMarker = "_GRAFT_VERSION_COMMITTED"

  /** The rebase partition id: below every real micro-batch, so
    * [[StateTable.guardBatchContinuation]] still catches fresh-checkpoint restarts
    * (max(-1) never exceeds a real batch id) and as-of reads include the
    * rebase as the base snapshot.
    */
  val IvfRebaseBatchId = -1L

  def ivfVersionDir(indexRoot: String, version: Int): String =
    s"$indexRoot/v=$version"

  /** Committed versions under the root, ascending (uncommitted build
    * dirs — no marker — are invisible).
    */
  def ivfVersions(spark: SparkSession, indexRoot: String): Seq[Int] = {
    val root = new org.apache.hadoop.fs.Path(indexRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toInt)
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(
        ivfVersionDir(indexRoot, v), IvfVersionMarker)))
      .sorted
  }

  def currentIvfVersion(spark: SparkSession, indexRoot: String): Int = {
    val vs = ivfVersions(spark, indexRoot)
    require(vs.nonEmpty, s"no committed index versions under $indexRoot")
    vs.max
  }

  private def writeIvfVersionArtifacts(
      spark: SparkSession, verDir: String,
      centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cluster_id", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$verDir/_centroids")
    val fs = new org.apache.hadoop.fs.Path(verDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(verDir, IvfVersionMarker), true)
      .close()
  }

  /** The centroids a version was built with — the serving side loads
    * THESE to compute probe lists for a pinned version (bounded pull:
    * nlist rows).
    */
  def readIvfVersionCentroids(
      spark: SparkSession, indexRoot: String,
      version: Option[Int] = None): Array[Array[Double]] = {
    val v = version.getOrElse(currentIvfVersion(spark, indexRoot))
    spark.read.parquet(s"${ivfVersionDir(indexRoot, v)}/_centroids")
      .orderBy("cluster_id").collect()
      .map(_.getSeq[Double](1).toArray)
  }

  /** Create version 1 (empty index, committed centroids) and return the
    * state dir to hand to [[ivfAssignSink]].
    */
  def initIvfIndex(
      spark: SparkSession, indexRoot: String,
      centroids: Array[Array[Double]]): String = {
    val verDir = ivfVersionDir(indexRoot, 1)
    writeIvfVersionArtifacts(spark, verDir, centroids)
    verDir
  }

  /** Retrain-and-rotate: re-assign the whole ingested corpus (the current
    * version's merged state) against `newCentroids` into version N+1's
    * rebase partition, publish the centroids, commit the marker, and
    * return the new version. One map-only pass over the corpus — O(corpus
    * × nlist), the unavoidable cost of new centroids — plus a
    * cluster-partitioned write; no shuffle beyond the partitioned layout.
    * The caller then restarts its [[ivfAssignSink]] against
    * [[ivfVersionDir]](root, newVersion) KEEPING the original checkpoint
    * (offsets/batch ids continue; nothing re-ingests). Old versions stay
    * readable and exact until [[vacuumIvfVersions]].
    */
  def rotateIvfIndex(
      spark: SparkSession, indexRoot: String,
      newCentroids: Array[Array[Double]]): Int = {
    val cur = currentIvfVersion(spark, indexRoot)
    val next = cur + 1
    val verDir = ivfVersionDir(indexRoot, next)
    val curDir = ivfVersionDir(indexRoot, cur)
    if (StateTable.batchIds(spark, curDir).nonEmpty) {
      val corpus = readIvfAssignments(spark, curDir)
        .select(col("vec_id"), col("v").as("embedding"))
      StateTable.land(
        graft.operators.Similarity.assignVectors(corpus, newCentroids)
          // carry at most one row per vector into the rebase (replay dups
          // in the source version are value-identical); dedup AFTER the
          // map-only assignment — its input must stay a scan-only frame
          .dropDuplicates("vec_id"),
        verDir, IvfRebaseBatchId, Seq("cluster"))
    }
    writeIvfVersionArtifacts(spark, verDir, newCentroids)
    next
  }

  /** Versioned read of the maintained index: default = the max committed
    * version, or PIN any retained `version`. Same probed-cluster pruning
    * as [[readIvfAssignments]]. Rows are deduplicated by vec_id: a crash
    * between a version's parquet commit and the checkpoint commit makes
    * the restarted sink replay its last batch, and after a rotation that
    * replay can double a vector already captured by the rebase partition
    * — duplicates are value-identical (assignment is a pure function of
    * (vector, this version's centroids)), so keeping either row is exact.
    */
  def readIvfIndex(
      spark: SparkSession, indexRoot: String,
      version: Option[Int] = None,
      clusters: Seq[Int] = Nil,
      asOfBatch: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(currentIvfVersion(spark, indexRoot))
    readIvfAssignments(spark, ivfVersionDir(indexRoot, v), clusters, asOfBatch)
      .dropDuplicates("vec_id")
  }

  /** The rotation TRIGGER for the live index: PSI of the cluster-
    * assignment distribution between this version's rebase partition
    * (the training-era corpus snapshot) and the batches ingested since
    * (`sinceBatch` restricts to the recent window). A version with no
    * rebase (v1) uses its earliest batch as the base cohort. Both
    * cohorts are nlist-sized partial-agg counts off the partition
    * columns — the corpus is never rescanned beyond one count per
    * partition — and the PSI core is
    * [[graft.operators.Similarity.psiOverClusterCounts]] (integer
    * counts, Laplace smoothing, sorted fold, `drifted` at the standard
    * 0.2 cut). `drifted = true` is the signal to retrain and
    * [[rotateIvfIndex]].
    */
  def ivfDriftStats(
      spark: SparkSession, indexRoot: String,
      version: Option[Int] = None,
      sinceBatch: Long = 0L): DataFrame = {
    val v = version.getOrElse(currentIvfVersion(spark, indexRoot))
    // the batch_id= listing stands in for a distinct-batch_id row scan: a
    // partition lands only for a batch with rows. The one row-less
    // directory is a commit that crashed between creating `batch_id=N/`
    // and renaming its first `cluster=` directory in. The sink replays N
    // before landing any later batch, so N is the newest batch: it adds
    // no rows to the current cohort, and it is the base only when it is
    // the version's sole batch, where the parquet read fails either way
    val ids = requireIvfBatches(spark, ivfVersionDir(indexRoot, v)).sorted
    require(ids.nonEmpty, s"version $v of $indexRoot holds no batches")
    val state = spark.read.parquet(ivfVersionDir(indexRoot, v))
    val baseId = ids.head
    def cohort(cond: org.apache.spark.sql.Column) = state.where(cond)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    val nlist = readIvfVersionCentroids(spark, indexRoot, Some(v)).length
    graft.operators.Similarity.psiOverClusterCounts(
      cohort(col("batch_id") === baseId),
      cohort(col("batch_id") > baseId && col("batch_id") >= sinceBatch),
      nlist)
  }

  /** Retire old index versions, keeping the newest `keepLast` committed
    * ones (readers pinned to a vacuumed version fail loudly — its marker
    * is gone with the directory). Returns the number of versions removed.
    */
  def vacuumIvfVersions(
      spark: SparkSession, indexRoot: String, keepLast: Int = 1): Long = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val vs = ivfVersions(spark, indexRoot)
    val doomed = vs.sorted.dropRight(keepLast)
    val fs = new org.apache.hadoop.fs.Path(indexRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(ivfVersionDir(indexRoot, v)), true)
    }
    doomed.length.toLong
  }

  /** Streaming near-dup maintenance: each micro-batch of NEW documents
    * lands its MinHash signatures (deterministic per document — md5-based
    * permutation hashes over word shingles,
    * [[graft.operators.Dedup.minhashSignatures]]) as a replay-idempotent
    * `batch_id=N` partition. The signature store is the incremental
    * dedup index: candidate pairs come from band-bucket joins over the
    * STORED signatures — the corpus text is never re-shingled, and
    * [[newMinhashPairsForBatch]] pairs each arriving batch against the
    * accumulated store without ever re-joining old×old (the
    * cross-corpus-dedup contract, continuously maintained). Per-batch
    * work is O(batch); state is one numHashes-long array per document.
    */
  def minhashSink(
      docs: DataFrame,
      stateDir: String,
      checkpointDir: String,
      numHashes: Int = 32,
      k: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(docs, stateDir, checkpointDir)(
      graft.operators.Dedup.minhashSignatures(_, numHashes, k))

  /** The signature stores' ownership rule (the minhash store and both
    * hamming stores): each doc_id resolves to its EARLIEST occurrence,
    * min (batch_id, sig) struct, kept as (doc_id, batch_id, sig). Replays
    * land value-identical rows (signatures are a pure function of the
    * content), and a doc_id redelivered in a LATER batch (source retry,
    * not a same-batch replay) resolves deterministically — the doc is new
    * exactly once, in the first batch that carried it — so whole-store
    * and incremental reads agree on which batch owns each document. An
    * arbitrary duplicate pick would let them double- or never-surface its
    * pairs. On [[StateTable.readCompacted]] rows the snapshot ranks below
    * every live batch, so compacted and live reads agree too, even if a
    * redelivered doc_id carried a DIFFERENT sig.
    */
  private def signatureOwners(state: DataFrame): DataFrame =
    state.groupBy(col("doc_id"))
      .agg(min(struct(col("batch_id"), col("sig"))).as("m"))
      .select(col("doc_id"),
        col("m.batch_id").as("batch_id"), col("m.sig").as("sig"))

  /** The signature stores' merge: one `(doc_id, sig)` row per document,
    * by [[signatureOwners]].
    */
  private def mergeSignatures(state: DataFrame): DataFrame =
    signatureOwners(state).drop("batch_id")

  /** The accumulated signature store (doc_id, sig), one row per doc_id
    * ([[signatureOwners]]). `asOfBatch` = the store as of batch N.
    */
  def readMinhashSignatures(
      spark: SparkSession, stateDir: String,
      asOfBatch: Option[Long] = None): DataFrame =
    mergeSignatures(StateTable.read(spark, stateDir, asOfBatch))

  /** Fold the signature store's batch partitions into one compacted
    * snapshot (one row per doc) with the standard `through`-watermark
    * sidecar: [[readMinhashSignaturesCompacted]] over (snapshot + batches
    * above the watermark) equals [[readMinhashSignatures]] over the live
    * table, which licenses [[vacuumStateTable]] on the covered
    * partitions. Without periodic compaction a long-running sink grows
    * one partition per micro-batch forever.
    */
  def compactMinhashSignatures(
      spark: SparkSession, stateDir: String, outDir: String): Unit =
    StateTable.compact(spark, stateDir, outDir)(mergeSignatures)

  /** [[readMinhashSignatures]] through a compacted snapshot plus the
    * live batches above its watermark — the combined-reader contract.
    */
  def readMinhashSignaturesCompacted(
      spark: SparkSession, compactedDir: String, stateDir: String): DataFrame =
    mergeSignatures(StateTable.readCompacted(spark, compactedDir, stateDir))

  /** Whole-store near-dup pairs, merged on read: band-bucket candidates +
    * signature-estimate threshold over the STORED signatures — the
    * identical plan (and therefore the identical pair set) as the batch
    * [[graft.operators.Dedup.minhashLshPairs]] over the full corpus,
    * without re-reading any document text.
    */
  def readNearDupPairs(
      spark: SparkSession, stateDir: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      asOfBatch: Option[Long] = None): DataFrame =
    graft.operators.Dedup.lshPairsFromSignatures(
      readMinhashSignatures(spark, stateDir, asOfBatch),
      numHashes, bands, threshold)

  /** The INCREMENTAL read: near-dup pairs with at least one endpoint in
    * `batchId`, against everything ingested up to and including it. The
    * band join is new×store — old×old is never recomputed, which is the
    * whole point of maintaining the signature store: per batch the dedup
    * cost is O(batch × collisions), not O(corpus²). Pairs are
    * canonicalized (doc_a < doc_b), so the UNION of this read over all
    * batches is exactly [[readNearDupPairs]]'s whole-store pair set,
    * each pair surfacing once — when its later endpoint arrives
    * (StreamOpsSpec proves the partition).
    */
  def newMinhashPairsForBatch(
      spark: SparkSession, stateDir: String, batchId: Long,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val upTo = signatureOwners(StateTable.read(spark, stateDir, Some(batchId)))
    val newSigs = upTo.where(col("batch_id") === batchId).drop("batch_id")
    val allSigs = upTo.drop("batch_id")
    val bandedNew = graft.operators.Dedup
      .bandedSignatures(newSigs, numHashes, bands)
    val bandedAll = graft.operators.Dedup
      .bandedSignatures(allSigs, numHashes, bands)
    val cands = bandedNew.as("x").join(bandedAll.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    graft.operators.Dedup.sigEstimatePairs(
      cands, allSigs, numHashes, threshold)
  }

  /** Streaming canary / memorization audit — the continuous form of
    * [[graft.operators.Curation.canaryScan]]: every micro-batch of
    * arriving documents is scanned against the (request-sized, broadcast)
    * canary set and its hits `(canary_id, doc_id, pos)` land as a
    * replay-idempotent `batch_id` partition. A hit is a PURE FUNCTION of
    * (document text, canary set), so at-least-once redelivery lands
    * value-identical rows and the store read's (canary_id, doc_id)
    * dedup restores exactly-once semantics — the minhashSink contract.
    * Per batch the cost is the batch's k-gram explode + one equi-join
    * against the broadcast anchors; the store grows only by actual
    * leaks, which is the audit's whole output. (The canary SET is fixed
    * for a sink's lifetime — changing it mid-stream would make stored
    * prefixes unrepresentative; start a new state table per canary-set
    * version instead.)
    */
  def canarySink(
      docs: DataFrame,
      canaries: DataFrame,
      stateDir: String,
      checkpointDir: String,
      k: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(docs, stateDir, checkpointDir)(
      graft.operators.Curation.canaryScan(_, canaries, k))

  /** The canary store's merge: one row per (canary_id, doc_id) — replays
    * land value-identical rows (pos is a pure function of the text), so
    * keeping either is exact.
    */
  private def mergeCanaryHits(state: DataFrame): DataFrame =
    state.drop("batch_id").dropDuplicates("canary_id", "doc_id")

  /** The accumulated canary-hit store `(canary_id, doc_id, pos)`,
    * deduplicated on (canary_id, doc_id). `asOfBatch` = the audit as of
    * batch N.
    */
  def readCanaryHits(
      spark: SparkSession, stateDir: String,
      asOfBatch: Option[Long] = None): DataFrame =
    mergeCanaryHits(StateTable.read(spark, stateDir, asOfBatch))

  /** Fold the canary-hit store's batch partitions into one compacted
    * snapshot with the standard `through`-watermark sidecar — the
    * [[compactMinhashSignatures]] contract (set-union monoid).
    */
  def compactCanaryHits(
      spark: SparkSession, stateDir: String, outDir: String): Unit =
    StateTable.compact(spark, stateDir, outDir)(mergeCanaryHits)

  /** [[readCanaryHits]] through a compacted snapshot plus the live
    * batches above its watermark — the combined-reader contract that
    * licenses [[vacuumStateTable]] on the covered partitions.
    */
  def readCanaryHitsCompacted(
      spark: SparkSession, compactedDir: String, stateDir: String): DataFrame =
    mergeCanaryHits(StateTable.readCompacted(spark, compactedDir, stateDir))

  // ── streaming multimodal fingerprint maintenance ───────────────────
  // The image/audio twin of the minhash near-dup maintenance above: the
  // stored signature is one 56-bit hamming fingerprint per blob instead
  // of a minhash array, and the pair machinery is the shared 7×8-bit
  // banded join ([[graft.operators.Multimodal.bandedHammingPairs]]). Each
  // micro-batch of NEW media blobs lands its `(doc_id, sig)` signatures
  // (a pure function of the payload, so an at-least-once replay lands
  // value-identical rows) as a replay-idempotent `batch_id=N` partition.
  // Per-batch work is O(batch); state is 8 bytes per blob — the raw media
  // bytes are decoded exactly once, at ingest, and never re-read by any
  // pair read below.

  /** Streaming IMAGE near-dup maintenance: lands the 56-bit perceptual
    * hash of each arriving blob (REAL pixel decode —
    * [[graft.operators.Multimodal.imagePerceptualHash]]; undecodable
    * blobs are dropped at ingest, exactly as the batch operator drops
    * them) into the signature store consumed by [[readHammingNearDupPairs]]
    * / [[newHammingPairsForBatch]]. Input rows need `(doc_id, payload)`.
    */
  def phashSink(
      media: DataFrame,
      stateDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(media, stateDir, checkpointDir)(b =>
      graft.operators.Multimodal.imagePerceptualHash(b.sparkSession, b)
        .select(col("doc_id"), col("phash").as("sig")))

  /** Streaming AUDIO near-dup maintenance: lands the 56-bit
    * energy-envelope fingerprint (REAL 16-bit PCM decode —
    * [[graft.operators.Multimodal.audioFingerprint]]) of each arriving
    * audio blob. Input rows need the [[graft.operators.Multimodal.MediaRecord]]
    * shape (`doc_id`, `media_type`, `payload`); non-audio rows are
    * filtered at ingest, as in the batch operator. Shares the store
    * schema (and every reader) with [[phashSink]] — keep the two
    * modalities in SEPARATE state tables, the signature spaces are
    * unrelated.
    */
  def audioFingerprintSink(
      media: DataFrame,
      stateDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(media, stateDir, checkpointDir)(b =>
      graft.operators.Multimodal.audioFingerprint(b.sparkSession, b)
        .select(col("doc_id"), col("afp").as("sig")))

  /** The accumulated fingerprint store `(doc_id, sig)`, one row per
    * doc_id by the earliest-occurrence rule ([[signatureOwners]]), so
    * whole-store and incremental reads agree on which batch owns each
    * document. `asOfBatch` = the store as of batch N.
    */
  def readHammingSignatures(
      spark: SparkSession, stateDir: String,
      asOfBatch: Option[Long] = None): DataFrame =
    mergeSignatures(StateTable.read(spark, stateDir, asOfBatch))

  /** Whole-store near-dup pairs, merged on read: the IDENTICAL banded
    * plan (and therefore the identical pair set) as the batch
    * [[graft.operators.Multimodal.imageNearDupPairs]] /
    * `audioNearDupPairs` over the full corpus — without ever re-decoding
    * a blob. Uncapped banding, complete for `maxHamming` ≤ 6 by the
    * 7-band pigeonhole.
    */
  def readHammingNearDupPairs(
      spark: SparkSession, stateDir: String,
      maxHamming: Int = 6,
      asOfBatch: Option[Long] = None): DataFrame =
    graft.operators.Multimodal.bandedHammingPairs(
      readHammingSignatures(spark, stateDir, asOfBatch), "sig",
      maxHamming, Int.MaxValue)

  /** The INCREMENTAL read: canonicalized near-dup pairs with at least
    * one endpoint NEW in `batchId`, against everything ingested up to
    * and including it ([[graft.operators.Multimodal.bandedHammingPairsBetween]]
    * — new×store only, old×old never recomputed). Per batch the dedup
    * cost is O(batch × band collisions), not O(corpus²), and because a
    * pair surfaces exactly when its LATER endpoint arrives, the union
    * of this read over all batches partitions [[readHammingNearDupPairs]]'s
    * whole-store pair set (StreamOpsSpec proves the partition for both
    * modalities).
    */
  def newHammingPairsForBatch(
      spark: SparkSession, stateDir: String, batchId: Long,
      maxHamming: Int = 6): DataFrame = {
    val upTo = signatureOwners(StateTable.read(spark, stateDir, Some(batchId)))
    val newSigs = upTo.where(col("batch_id") === batchId).drop("batch_id")
    val allSigs = upTo.drop("batch_id")
    graft.operators.Multimodal.bandedHammingPairsBetween(
      newSigs, allSigs, "sig", maxHamming)
  }

  /** Fold the fingerprint store's batch partitions into one compacted
    * snapshot with the standard `through`-watermark sidecar — the
    * [[compactMinhashSignatures]] contract: the combined reader below
    * over (snapshot + batches above the watermark) equals
    * [[readHammingSignatures]] over the live table, which licenses
    * [[vacuumStateTable]] on the covered partitions.
    */
  def compactHammingSignatures(
      spark: SparkSession, stateDir: String, outDir: String): Unit =
    StateTable.compact(spark, stateDir, outDir)(mergeSignatures)

  /** [[readHammingSignatures]] through a compacted snapshot plus the
    * live batches above its watermark — the combined-reader contract,
    * by the same [[signatureOwners]] rule as the live reader.
    */
  def readHammingSignaturesCompacted(
      spark: SparkSession, compactedDir: String, stateDir: String): DataFrame =
    mergeSignatures(StateTable.readCompacted(spark, compactedDir, stateDir))

  // ── streaming VIDEO frame-hash maintenance ─────────────────────────
  // The video twin of the hamming-fingerprint maintenance above: the
  // stored signature is a SET of per-frame 56-bit dHashes per container
  // (multi-row), and the pair machinery is the shared frame-overlap
  // equi-join ([[graft.operators.Multimodal.frameOverlapPairs]]).

  /** Streaming VIDEO near-dup maintenance: each micro-batch of NEW video
    * containers lands its DISTINCT `(doc_id, fhash)` per-frame hashes
    * (REAL per-frame pixel decode —
    * [[graft.operators.Multimodal.videoFrameHashes]]; the frame-hash
    * set is a pure function of the payload, so at-least-once replays
    * land value-identical rows) as a replay-idempotent `batch_id=N`
    * partition. Per-batch work is O(batch); state is 8 bytes × frames
    * per container — the container is decoded exactly once, at ingest,
    * and never re-read by any pair read below. Input rows need
    * `(doc_id, payload)`.
    */
  def videoFrameHashSink(
      media: DataFrame,
      stateDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(media, stateDir, checkpointDir)(b =>
      graft.operators.Multimodal.videoFrameHashes(b.sparkSession, b)
        .select(col("doc_id"), col("fhash")).distinct())

  /** The frame-hash store's ownership rule: a doc_id REDELIVERED in a
    * later batch resolves to its EARLIEST batch's rows (min batch_id per
    * doc — the multi-row form of [[signatureOwners]]; rows are
    * value-identical across replays, ownership only fixes which batch
    * the incremental read treats as "new"). Kept as
    * (doc_id, batch_id, fhash).
    */
  private def ownedFrameHashes(state: DataFrame): DataFrame = {
    val own = state.groupBy(col("doc_id"))
      .agg(min(col("batch_id")).as("batch_id"))
    state.join(own, Seq("doc_id", "batch_id"))
      .select(col("doc_id"), col("batch_id"), col("fhash")).distinct()
  }

  /** The frame-hash store's merge: the owned `(doc_id, fhash)` rows. */
  private def mergeFrameHashes(state: DataFrame): DataFrame =
    ownedFrameHashes(state).select(col("doc_id"), col("fhash")).distinct()

  /** The accumulated frame-hash store, ownership-resolved
    * ([[ownedFrameHashes]]). `asOfBatch` = the store as of batch N.
    */
  def readVideoFrameHashes(
      spark: SparkSession, stateDir: String,
      asOfBatch: Option[Long] = None): DataFrame =
    mergeFrameHashes(StateTable.read(spark, stateDir, asOfBatch))

  /** Whole-store video near-dup pairs, merged on read: the IDENTICAL
    * frame-overlap plan as the batch
    * [[graft.operators.Multimodal.videoNearDupPairs]] over the full
    * corpus — without ever re-decoding a container. Default UNCAPPED
    * (`hotCap = Int.MaxValue`) so the whole-store read is exactly what
    * the union of [[newVideoPairsForBatch]] increments partitions — the
    * increments are uncapped by contract (a frame crossing a df cap in
    * a later batch would retroactively disagree with pairs already
    * surfaced). Pass the batch operator's cap (1024) to reproduce its
    * hot-frame-pruned pair set instead.
    */
  def readVideoNearDupPairs(
      spark: SparkSession, stateDir: String,
      minShared: Int = 2, hotCap: Int = Int.MaxValue,
      asOfBatch: Option[Long] = None): DataFrame =
    graft.operators.Multimodal.frameOverlapPairs(
      readVideoFrameHashes(spark, stateDir, asOfBatch), minShared, hotCap)

  /** The INCREMENTAL read: frame-overlap pairs with at least one
    * endpoint NEW in `batchId`, against everything ingested up to and
    * including it — new×store only, old×old never recomputed. UNCAPPED
    * (no hot-frame df cut), the minhash/hamming incremental precedent:
    * the df cut is corpus-wide batch-analysis pruning, and a frame
    * crossing the cap in a LATER batch would retroactively disagree
    * with pairs already surfaced. Containers arrive whole, so a pair's
    * shared-frame count is final the moment its later endpoint lands —
    * the union of this read over all batches partitions the uncapped
    * [[readVideoNearDupPairs]] pair set (StreamOpsSpec proves it).
    * The canonicalized `(doc_a, doc_b, fhash)` rows are DISTINCT before
    * the count, so a both-endpoints-new pair (emitted once per side by
    * the new×all join) still counts each shared frame exactly once.
    */
  def newVideoPairsForBatch(
      spark: SparkSession, stateDir: String, batchId: Long,
      minShared: Int = 2): DataFrame = {
    val rows = ownedFrameHashes(StateTable.read(spark, stateDir, Some(batchId)))
    val newRows = rows.where(col("batch_id") === batchId).drop("batch_id")
    val allRows = rows.drop("batch_id")
    newRows.as("x").join(allRows.as("y"),
        col("x.fhash") === col("y.fhash") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        col("x.fhash").as("fhash"))
      .distinct()
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .where(col("shared_frames") >= minShared)
  }

  /** Fold the frame-hash store's batch partitions into one compacted
    * snapshot with the standard `through`-watermark sidecar — the
    * [[compactHammingSignatures]] contract for the multi-row store.
    */
  def compactVideoFrameHashes(
      spark: SparkSession, stateDir: String, outDir: String): Unit =
    StateTable.compact(spark, stateDir, outDir)(mergeFrameHashes)

  /** [[readVideoFrameHashes]] through a compacted snapshot plus the
    * live batches above its watermark — the combined-reader contract
    * that licenses [[vacuumStateTable]] on the covered partitions.
    */
  def readVideoFrameHashesCompacted(
      spark: SparkSession, compactedDir: String, stateDir: String): DataFrame =
    mergeFrameHashes(StateTable.readCompacted(spark, compactedDir, stateDir))

  // ── serving straight off the fingerprint stores ────────────────────
  // Query-by-example against the continuously-maintained state tables:
  // the IDENTICAL ranking plans as the batch serving operators
  // (Multimodal.phashSearch/audioSearch/videoSearch), with the corpus
  // side read from the store — raw media is decoded once at ingest and
  // NEVER re-decoded to serve a query. The request decodes only its own
  // blobs.

  /** [[graft.operators.Multimodal.phashSearch]] against the
    * [[phashSink]] store: external query images are pixel-decoded and
    * hashed; stored corpus hashes rank by (hamming asc, doc_id asc).
    */
  def phashSearchStored(
      spark: SparkSession, stateDir: String,
      queries: DataFrame, k: Int = 5,
      asOfBatch: Option[Long] = None): DataFrame =
    graft.operators.Multimodal.rankByHamming(
      readHammingSignatures(spark, stateDir, asOfBatch),
      graft.operators.Multimodal.imagePerceptualHash(spark, queries)
        .select(col("doc_id").as("query_id"), col("phash").as("qsig")),
      k)

  /** [[graft.operators.Multimodal.audioSearch]] against the
    * [[audioFingerprintSink]] store. The two hamming stores share a
    * schema but NOT a signature space — point this at the audio store.
    */
  def audioSearchStored(
      spark: SparkSession, stateDir: String,
      queries: DataFrame, k: Int = 5,
      asOfBatch: Option[Long] = None): DataFrame =
    graft.operators.Multimodal.rankByHamming(
      readHammingSignatures(spark, stateDir, asOfBatch),
      graft.operators.Multimodal.audioFingerprint(spark, queries)
        .select(col("doc_id").as("query_id"), col("afp").as("qsig")),
      k)

  /** [[graft.operators.Multimodal.videoSearch]] against the
    * [[videoFrameHashSink]] store: ranked by DISTINCT shared frame
    * hashes via the exact-hash equi-join — bucketed, never a corpus
    * scan, exactly as the batch operator.
    */
  def videoSearchStored(
      spark: SparkSession, stateDir: String,
      queries: DataFrame, k: Int = 5,
      asOfBatch: Option[Long] = None): DataFrame =
    graft.operators.Multimodal.rankBySharedFrames(
      readVideoFrameHashes(spark, stateDir, asOfBatch),
      graft.operators.Multimodal.videoFrameHashes(spark, queries)
        .select(col("doc_id").as("query_id"), col("fhash")).distinct(),
      k)

  /** Text query-by-example against the [[minhashSink]] signature store:
    * EXTERNAL query documents are shingled + signed once, then probe
    * the STORED signatures through the band index
    * ([[graft.operators.Dedup.minhashSearchEstimated]] — the identical
    * plan the batch form runs from freshly-computed signatures, so
    * stored == batch by construction). The corpus text is never
    * re-read: the store answers "is this new document already in the
    * corpus?" from 32 longs per document — the text modality's sibling
    * of [[phashSearchStored]]/[[audioSearchStored]]/[[videoSearchStored]].
    */
  def minhashSearchStored(
      spark: SparkSession, stateDir: String,
      queries: DataFrame,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      shingleK: Int = 3,
      asOfBatch: Option[Long] = None): DataFrame =
    // (numHashes, shingleK) must match the sink that built the store — a
    // query signed with a different shingle width probes a foreign space
    // and finds nothing; the defaults mirror minhashSink's (named
    // shingleK because `k` means result count in the serving APIs)
    graft.operators.Dedup.minhashSearchEstimated(
      readMinhashSignatures(spark, stateDir, asOfBatch),
      graft.operators.Dedup.minhashSignatures(queries, numHashes, shingleK),
      numHashes, bands, threshold)

  /** Streaming distinct-users sink: each micro-batch lands one HLL sketch
    * per event type as a replay-idempotent `batch_id=N` partition.
    * Distinct counts are the canonical NON-additive statistic — per-batch
    * counts cannot be summed because a user may appear in many batches —
    * but HLL registers merge by max, so the state table stays
    * (types × batches) sketch rows and [[readDistinctUsers]] answers
    * whole-history distinct counts without ever rescanning the stream.
    * Merging batch sketches is EXACTLY the sketch of the full history
    * (register-max is order- and partition-insensitive), so a restart
    * replay changes nothing (StreamOpsSpec proves both identities).
    */
  def hllSink(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(events, stateDir, checkpointDir)(
      _.groupBy(col("event_type")).agg(hll_sketch_agg(col("user_id")).as("sk")))

  /** Merge-on-read for [[hllSink]]: per event type, the union of all
    * batch sketches, estimated. Bounded work: (types × batches) rows in,
    * types rows out. `asOfBatch` unions only batches ≤ N — the distinct
    * count exactly as of that batch (register-max over any prefix IS the
    * prefix's sketch).
    */
  def readDistinctUsers(
      spark: SparkSession, stateDir: String,
      asOfBatch: Option[Long] = None): DataFrame =
    StateTable.read(spark, stateDir, asOfBatch)
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("distinct_users"))

  /** Streaming value-distribution sink: each micro-batch folds its
    * `value` column into a FIXED-edge histogram — bucket =
    * clamp(floor((v−lo)/width), 0, n−1), the top bucket catching the
    * overflow tail — landed as a replay-idempotent `batch_id=N`
    * partition of (bucket, n) rows. Fixed edges are what make the
    * sketch EXACTLY mergeable (bucket counts are a plain monoid —
    * unlike adaptive sketches whose bins depend on the data seen), so
    * the merged histogram equals the whole-history histogram with no
    * rescan, replays included; the price is a fixed value range chosen
    * up front, the right trade for monitoring a telemetry stream whose
    * domain is known. State per batch is ≤ nBuckets longs.
    */
  def histogramSink(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
      lo: Double = 0.0,
      width: Double = 25.0,
      nBuckets: Int = 20): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(events, stateDir, checkpointDir)(
      _.select(least(greatest(
          floor((col("value") - lit(lo)) / lit(width)), lit(0L)),
          lit(nBuckets - 1L)).cast("int").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n")))

  /** Merge-on-read for [[histogramSink]]: per bucket, the count sum plus
    * the bucket's value edges. (buckets × batches) rows in, ≤ nBuckets
    * rows out. `asOfBatch` = the distribution as of batch N.
    */
  def readHistogram(
      spark: SparkSession, stateDir: String,
      lo: Double = 0.0, width: Double = 25.0,
      asOfBatch: Option[Long] = None): DataFrame =
    StateTable.read(spark, stateDir, asOfBatch)
      .groupBy(col("bucket")).agg(sum(col("n")).as("n"))
      .select(col("bucket"),
        (lit(lo) + col("bucket") * lit(width)).as("lo_edge"),
        (lit(lo) + (col("bucket") + 1) * lit(width)).as("hi_edge"),
        col("n"))
      .orderBy("bucket")

  /** Quantile estimates over the maintained histogram: walk the
    * cumulative counts to the bucket containing rank q·total and
    * interpolate linearly inside it. The driver pull is the merged
    * histogram — ≤ nBuckets rows by construction (the bounded-pull
    * contract), whatever the stream's history. Estimates are within one
    * bucket width of the true quantile by the pigeonhole bound; the
    * walk and interpolation are deterministic given the (exact, merged)
    * counts. Returns (q, estimate) per requested quantile.
    */
  def readQuantiles(
      spark: SparkSession, stateDir: String,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
      lo: Double = 0.0, width: Double = 25.0,
      asOfBatch: Option[Long] = None): Seq[(Double, Double)] = {
    val hist = readHistogram(spark, stateDir, lo, width, asOfBatch)
      .select(col("bucket"), col("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = hist.map(_._2).sum
    require(total > 0, s"empty histogram at $stateDir")
    qs.map { q =>
      require(q > 0.0 && q <= 1.0, s"quantile out of range: $q")
      val rank = q * total
      var cum = 0L
      var hit: Option[(Int, Long, Long)] = None
      hist.foreach { case (b, n) =>
        if (hit.isEmpty && cum + n >= rank) hit = Some((b, n, cum))
        cum += n
      }
      val (bucket, inBucket, prevCum) =
        hit.getOrElse((hist.last._1, hist.last._2, total - hist.last._2))
      val frac = if (inBucket == 0) 0.0 else (rank - prevCum) / inBucket
      q -> (lo + bucket * width + width * frac)
    }
  }

  /** Streaming cohort assignment: each micro-batch lands its users'
    * first-seen-IN-BATCH day as a replay-idempotent `batch_id=N`
    * partition; per-user cohort day is the MIN across batch rows — a
    * true semilattice (idempotent, commutative, associative), so
    * merge-on-read equals the batch-computed assignment EXACTLY no
    * matter how arrivals split across batches or replays, with no
    * rescan and O(batch users) work per batch. The streaming feeder for
    * [[graft.operators.Sequence.retention]]'s cohort side.
    */
  def cohortSink(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StateTable.sink(events, stateDir, checkpointDir)(
      _.select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy(col("user_id")).agg(min(col("day")).as("cohort_day")))

  /** Merge-on-read for [[cohortSink]]: the per-user min across batch
    * partials — (users × batches) rows in, users rows out. `asOfBatch`
    * folds only batches ≤ N (the min-semilattice over any prefix is that
    * prefix's assignment): which cohort each user belonged to as of N.
    */
  def readCohorts(
      spark: SparkSession, stateDir: String,
      asOfBatch: Option[Long] = None): DataFrame =
    StateTable.read(spark, stateDir, asOfBatch)
      .groupBy(col("user_id")).agg(min(col("cohort_day")).as("cohort_day"))
}
