package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, date_format, explode, expr, length, lit, min}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** MemoryStream goldens for the extension streaming operators: watermarked
  * window agg (append emission), dedup-within-watermark, sessionization.
  */
class StreamOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions
    .builder("graft-streamops-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** (event_id, ts, user_id, event_type, value) rows fed in batches. */
  private def feed(
      name: String,
      batches: Seq[Seq[(Long, Timestamp, Long, String, Double)]],
      pipeline: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
  : Array[org.apache.spark.sql.Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = pipeline(df).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => stream.addData(b); query.processAllAvailable() }
      spark.table(name).collect()
    } finally query.stop()
  }

  test("streaming curation gates language/quality and dedups exact content") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog and then runs far away home"
    val german = "der hund ist nicht ein kleines tier und das haus ist gross hier heute"
    val stream = MemoryStream[(Long, Timestamp, String)]
    val df = stream.toDF().toDF("doc_id", "ts", "text")
    val query = StreamOps.curateStream(df).writeStream
      .format("memory").queryName("curate_out").outputMode("append").start()
    try {
      stream.addData(Seq(
        (1L, ts("2024-01-01 00:00:01"), good),
        (2L, ts("2024-01-01 00:00:02"), good), // exact dup, different id
        (3L, ts("2024-01-01 00:00:03"), german), // language-gated
        (4L, ts("2024-01-01 00:00:04"), "short junk"))) // quality-gated
      query.processAllAvailable()
      val out = spark.table("curate_out").collect()
      assert(out.map(_.getLong(0)).toSet == Set(1L),
        s"expected only doc 1 to survive, got ${out.map(_.getLong(0)).toSeq}")
      assert(out.head.getString(2) == "en")
      assert(out.head.getDouble(3) >= 0.5)
    } finally query.stop()
  }

  test("incremental corpus sink dedups within batch and against published corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docA = "the quick brown fox jumps over the lazy dog and then runs far away home"
    // near-dup of docA: one trailing word changed → high shingle jaccard
    val docAish = "the quick brown fox jumps over the lazy dog and then runs far away tonight"
    val docB = "completely different content about spark engines and distributed query planning at scale"
    val docC = "yet another unrelated document mentioning streams watermarks state stores and sinks"
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-corpus").toString
    val stream = MemoryStream[(Long, Timestamp, String)]
    val df = stream.toDF().toDF("doc_id", "ts", "text")
    val query = StreamOps.incrementalCorpusSink(
      df, s"$dir/corpus", s"$dir/chk")
    try {
      // batch 0: exact dup pair (1,2) + an in-batch near-dup (3 ~ 1)
      stream.addData(Seq(
        (1L, ts("2024-01-01 00:00:01"), docA),
        (2L, ts("2024-01-01 00:00:02"), docA),
        (3L, ts("2024-01-01 00:00:03"), docAish),
        (4L, ts("2024-01-01 00:00:04"), docB)))
      query.processAllAvailable()
      val after0 = spark.read.parquet(s"$dir/corpus")
      assert(after0.select("doc_id").as[Long].collect().toSet == Set(1L, 4L),
        "batch 0: expected exact dup 2 and near-dup 3 dropped")
      // batch 1: near-dup of the PUBLISHED doc 1 + a genuinely new doc
      stream.addData(Seq(
        (5L, ts("2024-01-01 00:01:01"), docAish),
        (6L, ts("2024-01-01 00:01:02"), docC)))
      query.processAllAvailable()
      val after1 = spark.read.parquet(s"$dir/corpus")
      assert(after1.select("doc_id").as[Long].collect().toSet == Set(1L, 4L, 6L),
        "batch 1: expected cross-corpus near-dup 5 dropped, 6 kept")
      // partitioned by batch_id → a replayed batch overwrites, not appends
      assert(after1.where($"batch_id" === 1).select("doc_id")
        .as[Long].collect().toSet == Set(6L))
    } finally query.stop()
  }

  test("incremental stats sink: merge-on-read equals direct stats, across a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-stats").toString
    def directOver(rows: Seq[(String, Long)]) =
      graft.operators.Incremental.finalizeStats(
        graft.operators.Incremental.statsPartial(
          rows.toDF("source", "n_chars"))).collect().toSeq

    // one file source + ONE checkpoint across all query instances (the
    // curateStream restart pattern): restarts continue the batch-id
    // sequence, so the dynamic partition overwrite can never clobber a
    // historical batch's partition
    val srcDir = java.nio.file.Files.createTempDirectory("graft-inc-stats-src").toString
    val b0 = Seq(("web", 10L), ("web", 30L), ("books", 100L))
    val b1 = Seq(("web", 20L), ("code", 7L))
    val b2 = Seq(("books", 50L), ("web", 40L))
    val schema = b0.toDF("source", "n_chars").schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.incrementalStatsSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    b0.toDF("source", "n_chars").write.mode("overwrite").json(srcDir)
    runOnce()
    b1.toDF("source", "n_chars").write.mode("append").json(srcDir)
    runOnce()
    assert(StreamOps.readRunningStats(spark, s"$dir/state").collect().toSeq
      === directOver(b0 ++ b1),
      "two micro-batches must merge to the direct whole-history stats")
    // a third restart folds new data onto the surviving state — history
    // is not re-read, not double-counted
    b2.toDF("source", "n_chars").write.mode("append").json(srcDir)
    runOnce()
    assert(StreamOps.readRunningStats(spark, s"$dir/state").collect().toSeq
      === directOver(b0 ++ b1 ++ b2),
      "post-restart stats must fold new batches onto the surviving state")

    // compaction to a NEW dir reads back identically (associativity),
    // and the compacted table is itself a valid state table
    StreamOps.compactStats(spark, s"$dir/state", s"$dir/state_c")
    assert(StreamOps.readRunningStats(spark, s"$dir/state_c").collect().toSeq
      === directOver(b0 ++ b1 ++ b2),
      "compacted state must read back identical to the partitioned state")
  }

  test("cms sink: merged counters equal the whole-history sketch, across a restart") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-cms-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cms-src").toString
    val b0 = Seq((1L, "the cat sat"), (2L, "the dog"))
    val b1 = Seq((3L, "the cat ran far"))
    val b2 = Seq((4L, "dog dog dog"))
    val schema = b0.toDF("doc_id", "text").schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.cmsSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    def directCms(rows: Seq[(Long, String)]): Seq[Long] =
      rows.toDF("doc_id", "text")
        .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
        .where(length(col("term")) > 0)
        .select(expr("graft_cms(term, 3, 256)").as("c"))
        .head.getAs[scala.collection.Seq[Long]]("c").toSeq

    b0.toDF("doc_id", "text").write.mode("overwrite").json(srcDir)
    runOnce()
    b1.toDF("doc_id", "text").write.mode("append").json(srcDir)
    runOnce() // restart continues the batch-id sequence
    assert(StreamOps.readCmsCounters(spark, s"$dir/state").toSeq
      === directCms(b0 ++ b1),
      "merged batch sketches must equal the whole-history sketch")
    b2.toDF("doc_id", "text").write.mode("append").json(srcDir)
    runOnce()
    val merged = StreamOps.readCmsCounters(spark, s"$dir/state")
    assert(merged.toSeq === directCms(b0 ++ b1 ++ b2),
      "post-restart merge must fold new batches onto the surviving state")
    // point estimates over the merged history never undercount
    val terms = (b0 ++ b1 ++ b2).flatMap(_._2.split(" "))
    terms.distinct.foreach { t =>
      val exact = terms.count(_ == t).toLong
      val est = (0 until 3).map { d =>
        merged(d * 256 + graft.functions.CountMinAgg.bucket(d, t, 256))
      }.min
      assert(est >= exact, s"merged CMS undercounts '$t'")
    }
  }

  test("hll sink: merged batch sketches equal the whole-history sketch, across a restart") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hll-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-hll-src").toString
    val b0 = Seq(("click", 1L), ("click", 2L), ("purchase", 1L))
    val b1 = Seq(("click", 2L), ("click", 3L)) // user 2 returns: counts must NOT add
    val b2 = Seq(("purchase", 9L), ("click", 1L))
    val schema = b0.toDF("event_type", "user_id").schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.hllSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    def direct(rows: Seq[(String, Long)]): Map[String, Long] =
      rows.toDF("event_type", "user_id")
        .groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    b0.toDF("event_type", "user_id").write.mode("overwrite").json(srcDir)
    runOnce()
    b1.toDF("event_type", "user_id").write.mode("append").json(srcDir)
    runOnce() // restart continues the batch-id sequence
    def merged(): Map[String, Long] =
      StreamOps.readDistinctUsers(spark, s"$dir/state")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged() === direct(b0 ++ b1),
      "merged batch sketches must equal the whole-history sketch")
    b2.toDF("event_type", "user_id").write.mode("append").json(srcDir)
    runOnce()
    assert(merged() === direct(b0 ++ b1 ++ b2),
      "post-restart union must fold new batches onto the surviving state")
    // at these cardinalities the sketch is in exact (sparse) range:
    // returning user 2 must not double-count
    val exact = (b0 ++ b1 ++ b2).groupBy(_._1)
      .map { case (t, rs) => t -> rs.map(_._2).distinct.length.toLong }
    assert(merged() === exact, "distinct counts added instead of merging")
    // snapshot-as-of: unioning only batches ≤ 1 IS the sketch as it
    // stood after batch 1 (register-max over a prefix)
    assert(StreamOps.readDistinctUsers(spark, s"$dir/state", asOfBatch = Some(1))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === direct(b0 ++ b1),
      "as-of-batch-1 read must reconstruct the post-batch-1 sketch")
  }

  test("ivf assign sink: maintained inverted file equals whole-corpus assignment; cluster layout prunes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ivf-src").toString
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .where(col("vec_id") < 64)
    val cents = graft.operators.Similarity.trainIvfCentroids(emb, nlist = 4, iters = 2)
    // ship the stream through json; the identity compares against the SAME
    // json-round-tripped frame so float serialization cancels out
    emb.where(col("vec_id") < 32).select("vec_id", "embedding")
      .write.mode("overwrite").json(srcDir)
    val schema = emb.select("vec_id", "embedding").schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.ivfAssignSink(fileDf, cents, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    emb.where(col("vec_id") >= 32).select("vec_id", "embedding")
      .write.mode("append").json(srcDir)
    runOnce() // checkpointed restart continues the batch-id sequence
    def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("vec_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val merged = toMap(StreamOps.readIvfAssignments(spark, s"$dir/state"))
    val direct = toMap(graft.operators.Similarity.assignVectors(
      spark.read.schema(schema).json(srcDir), cents))
    assert(merged.size === 64)
    assert(merged === direct,
      "incrementally maintained assignments diverged from the whole-corpus pass")
    // the partition layout IS the inverted file: cluster= directories
    // under each batch, so a probed read touches only its lists
    val b0 = new java.io.File(s"$dir/state/batch_id=0").list()
      .filter(_.startsWith("cluster=")).toSet
    assert(b0.nonEmpty, "no cluster partitions under batch 0")
    val probed = direct.values.head
    val pruned = toMap(StreamOps.readIvfAssignments(
      spark, s"$dir/state", clusters = Seq(probed)))
    assert(pruned === direct.filter(_._2 == probed),
      "probed-cluster read diverged")
  }

  test("ivf rotation: post-rotation reads == whole-corpus assignment on new centroids; pinned old version stays exact; vacuum retires it") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-rot").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ivf-rot-src").toString
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .where(col("vec_id") < 96)
    val centsA = graft.operators.Similarity.trainIvfCentroids(
      emb.where(col("vec_id") < 48), nlist = 4, iters = 2)
    val centsB = graft.operators.Similarity.trainIvfCentroids(
      emb, nlist = 6, iters = 2) // retrained on more data, different nlist
    val schema = emb.select("vec_id", "embedding").schema
    def pump(where: org.apache.spark.sql.Column, stateDir: String): Unit = {
      emb.where(where).select("vec_id", "embedding")
        .write.mode("append").json(srcDir)
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      // the ONE checkpoint survives rotation: offsets/batch ids continue
      val q = StreamOps.ivfAssignSink(
        fileDf, StreamOps.readIvfVersionCentroids(spark, root),
        stateDir, s"$root/chk")
      try q.processAllAvailable() finally q.stop()
    }
    def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("vec_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val jsonCorpus = () => spark.read.schema(schema).json(srcDir)

    // v1: init + two ingested windows against centroids A
    val v1Dir = StreamOps.initIvfIndex(spark, root, centsA)
    pump(col("vec_id") < 32, v1Dir)
    pump(col("vec_id") >= 32 && col("vec_id") < 64, v1Dir)
    assert(StreamOps.currentIvfVersion(spark, root) === 1)
    assert(toMap(StreamOps.readIvfIndex(spark, root)) ===
      toMap(graft.operators.Similarity.assignVectors(jsonCorpus(), centsA)))

    // rotate to centroids B; corpus-at-rotation snapshot for the pin check
    val atRotation = toMap(
      graft.operators.Similarity.assignVectors(jsonCorpus(), centsA))
    val v2 = StreamOps.rotateIvfIndex(spark, root, centsB)
    assert(v2 === 2 && StreamOps.currentIvfVersion(spark, root) === 2)
    // post-rotation read == whole-corpus assignment against NEW centroids
    assert(toMap(StreamOps.readIvfIndex(spark, root)) ===
      toMap(graft.operators.Similarity.assignVectors(jsonCorpus(), centsB)),
      "rebase partition diverged from whole-corpus assignment on new centroids")
    // the version's own centroids round-trip for serving-side probes
    assert(StreamOps.readIvfVersionCentroids(spark, root).map(_.toSeq).toSeq
      === centsB.map(_.toSeq).toSeq)

    // the stream continues into v2 on the SAME checkpoint: only the new
    // window is processed, and the merged read covers rebase + new batches
    pump(col("vec_id") >= 64, StreamOps.ivfVersionDir(root, v2))
    assert(toMap(StreamOps.readIvfIndex(spark, root)) ===
      toMap(graft.operators.Similarity.assignVectors(jsonCorpus(), centsB)),
      "post-rotation ingestion diverged from whole-corpus assignment")

    // pinned old version: still exact for the corpus as of rotation,
    // against the OLD centroids
    assert(toMap(StreamOps.readIvfIndex(spark, root, version = Some(1)))
      === atRotation, "pinned old version no longer exact")
    assert(StreamOps.readIvfVersionCentroids(spark, root, Some(1))
      .map(_.toSeq).toSeq === centsA.map(_.toSeq).toSeq)

    // vacuum retires v1; current is untouched, pinned v1 reads now fail
    assert(StreamOps.vacuumIvfVersions(spark, root, keepLast = 1) === 1L)
    assert(StreamOps.ivfVersions(spark, root) === Seq(2))
    assert(toMap(StreamOps.readIvfIndex(spark, root)) ===
      toMap(graft.operators.Similarity.assignVectors(jsonCorpus(), centsB)))
    intercept[Exception] {
      StreamOps.readIvfIndex(spark, root, version = Some(1)).collect()
    }
  }

  test("rotating an empty index yields a version readers refuse with the operational story") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-empty").toString
    val cents = Array.tabulate(2)(i => Array(i.toDouble, 1.0))
    StreamOps.initIvfIndex(spark, root, cents)
    // rotation before ANY ingest: the new version is committed (marker +
    // centroids) but holds no batch partitions — a raw read would die
    // with an opaque parquet schema-inference error
    val v2 = StreamOps.rotateIvfIndex(spark, root, cents)
    assert(v2 === 2 && StreamOps.currentIvfVersion(spark, root) === 2)
    val e = intercept[IllegalStateException] {
      StreamOps.readIvfIndex(spark, root)
    }
    assert(e.getMessage.contains("no ingested batch"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      StreamOps.ivfDriftStats(spark, root)
    }
    assert(e2.getMessage.contains("no ingested batch"), e2.getMessage)
    // the version's centroids still serve (bounded artifacts are intact)
    assert(StreamOps.readIvfVersionCentroids(spark, root).length === 2)
  }

  test("minhash incremental reads resolve a redelivered doc_id to its first batch") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft-mh-redeliver").toString
    def land(batch: Long, rows: Seq[(Long, Seq[Long])]): Unit =
      rows.toDF("doc_id", "sig").withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("batch_id").parquet(state)
    // numHashes=4, bands=2 (band width 2): docs 1 and 7 identical sigs,
    // doc 2 shares the first band with both (estimate 3/4)
    land(0L, Seq(1L -> Seq(1L, 2L, 3L, 4L), 2L -> Seq(1L, 2L, 3L, 9L)))
    land(1L, Seq(7L -> Seq(1L, 2L, 3L, 4L)))
    // REDELIVERY: doc 7 lands again in a LATER batch (source retry, not a
    // same-batch-id replay). Whether 7 counts as "new" in batch 2 must
    // not depend on which duplicate a dropDuplicates happened to keep.
    land(2L, Seq(7L -> Seq(1L, 2L, 3L, 4L)))
    def pairsAt(b: Long): Set[(Long, Long)] =
      StreamOps.newMinhashPairsForBatch(spark, state, b,
        numHashes = 4, bands = 2, threshold = 0.5)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAt(0L) === Set((1L, 2L)))
    assert(pairsAt(1L) === Set((1L, 7L), (2L, 7L)))
    // doc 7 is NOT new in batch 2: its pairs surfaced at batch 1 and must
    // not double-surface here
    assert(pairsAt(2L) === Set.empty[(Long, Long)])
    // and the union of the incremental reads is exactly the whole store
    val whole = StreamOps.readNearDupPairs(spark, state,
        numHashes = 4, bands = 2, threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAt(0L) ++ pairsAt(1L) ++ pairsAt(2L) === whole)
  }

  test("ivf drift stats: uniform continuation undrifted, skewed ingest drifts and flags") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-drift").toString
    // centroid VALUES are irrelevant to drift (it reads only the partition
    // columns); their count fixes nlist = 4
    val cents = Array.tabulate(4)(i => Array(i.toDouble, 1.0))
    val v1Dir = StreamOps.initIvfIndex(spark, root, cents)
    def land(batch: Long, perCluster: Seq[Int]): Unit =
      perCluster.zipWithIndex.flatMap { case (n, c) =>
        (0 until n).map(i => (batch * 1000 + c * 100 + i.toLong, batch, c))
      }.toDF("vec_id", "batch_id", "cluster")
        .write.mode("append").partitionBy("batch_id", "cluster").parquet(v1Dir)
    land(0, Seq(10, 10, 10, 10)) // training-era base
    land(1, Seq(10, 10, 10, 10)) // continuation with the same distribution
    val calm = StreamOps.ivfDriftStats(spark, root).head()
    // identical distribution ⇒ p == q in every cell ⇒ psi exactly 0
    assert(calm.getLong(0) === 40L && calm.getLong(1) === 40L)
    assert(calm.getDouble(2) === 0.0 && !calm.getBoolean(3))
    land(2, Seq(40, 0, 0, 0)) // the corpus walks into one hot list
    val drifted = StreamOps.ivfDriftStats(spark, root).head()
    assert(drifted.getLong(1) === 80L)
    assert(drifted.getDouble(2) > 0.2 && drifted.getBoolean(3),
      s"skewed ingest must flag: psi=${drifted.getDouble(2)}")
    // windowed check: only the newest batch as the current cohort is
    // even more skewed
    val recent = StreamOps.ivfDriftStats(spark, root, sinceBatch = 2L).head()
    assert(recent.getLong(1) === 40L && recent.getBoolean(3))
    assert(recent.getDouble(2) >= drifted.getDouble(2))
  }

  test("asOfEnrich: latest-ref-at-or-before pairing survives out-of-order arrival on both sides") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // left: (user_id, event_id, ts, value); ref: (user_id, ts, ref_value)
    val lStream = MemoryStream[(Long, Long, Timestamp, Double)]
    val rStream = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamOps.asOfEnrich(spark,
      lStream.toDF().toDF("user_id", "event_id", "ts", "value"),
      rStream.toDF().toDF("user_id", "ts", "ref_value"),
      watermark = "2 minutes")
    val q = out.writeStream.format("memory").queryName("asof_golden")
      .outputMode("append").start()
    try {
      // trigger 1: a left arrives BEFORE any ref; a ref for user 2
      lStream.addData((1L, 10L, ts("2024-01-01 10:05:00"), 5.0))
      rStream.addData((2L, ts("2024-01-01 10:00:00"), 200.0))
      q.processAllAvailable()
      // trigger 2: the matching ref for user 1 arrives LATE but with an
      // EARLIER event time (10:03 < 10:05) — the pending left must wait
      // and then pair with it, not finalize as unmatched
      rStream.addData((1L, ts("2024-01-01 10:03:00"), 100.0))
      lStream.addData((2L, 20L, ts("2024-01-01 10:06:00"), 6.0))
      q.processAllAvailable()
      // trigger 3: a newer ref for user 1 (10:04) still at-or-before the
      // pending left; then advance the watermark far past everything
      rStream.addData((1L, ts("2024-01-01 10:04:00"), 101.0))
      q.processAllAvailable()
      lStream.addData((3L, 99L, ts("2024-01-01 10:30:00"), 1.0)) // wm pusher
      rStream.addData((3L, ts("2024-01-01 10:30:00"), 0.0))
      q.processAllAvailable()
      lStream.addData((3L, 98L, ts("2024-01-01 11:30:00"), 1.0))
      rStream.addData((3L, ts("2024-01-01 11:30:00"), 0.0))
      q.processAllAvailable()
      // one more cycle so the advanced watermark fires the timeouts
      q.processAllAvailable()

      val got = spark.table("asof_golden")
        .select("user_id", "event_id", "ref_ts", "ref_value").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.getTimestamp(2)).map(_.toString),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
      // user 1 event 10 (ts 10:05): latest ref ≤ 10:05 is 10:04/101.0 —
      // BOTH out-of-order refs arrived after the left did
      assert(got.contains((1L, 10L, Some("2024-01-01 10:04:00.0"), Some(101.0))),
        s"out-of-order refs not applied: $got")
      // user 2 event 20 (ts 10:06): ref 10:00/200.0
      assert(got.contains((2L, 20L, Some("2024-01-01 10:00:00.0"), Some(200.0))))
      // user 3 event 99 (ts 10:30): its same-instant ref qualifies (≤)
      assert(got.contains((3L, 99L, Some("2024-01-01 10:30:00.0"), Some(0.0))))
      assert(got.map(t => (t._1, t._2)).count(_ == ((1L, 10L))) === 1,
        "a left event must emit exactly once")
    } finally q.stop()
  }

  test("asOfEnrich: left with no prior ref emits unmatched; equal-ts refs pick the max value") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lStream = MemoryStream[(Long, Long, Timestamp, Double)]
    val rStream = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamOps.asOfEnrich(spark,
      lStream.toDF().toDF("user_id", "event_id", "ts", "value"),
      rStream.toDF().toDF("user_id", "ts", "ref_value"),
      watermark = "1 minute")
    val q = out.writeStream.format("memory").queryName("asof_golden2")
      .outputMode("append").start()
    try {
      lStream.addData((7L, 70L, ts("2024-01-01 09:00:00"), 1.0))
      rStream.addData(
        (7L, ts("2024-01-01 09:30:00"), 1.0),  // AFTER the left: not eligible
        (8L, ts("2024-01-01 09:10:00"), 5.0),
        (8L, ts("2024-01-01 09:10:00"), 7.0))  // equal-ts tie → max value
      q.processAllAvailable()
      lStream.addData((8L, 80L, ts("2024-01-01 09:20:00"), 2.0))
      q.processAllAvailable()
      lStream.addData((9L, 90L, ts("2024-01-01 12:00:00"), 0.0)) // wm pusher
      rStream.addData((9L, ts("2024-01-01 12:00:00"), 0.0))
      q.processAllAvailable()
      lStream.addData((9L, 91L, ts("2024-01-01 13:00:00"), 0.0))
      rStream.addData((9L, ts("2024-01-01 13:00:00"), 0.0))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("asof_golden2")
        .select("user_id", "event_id", "ref_value").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      assert(got.contains((7L, 70L, None)),
        s"left before any eligible ref must emit unmatched: $got")
      assert(got.contains((8L, 80L, Some(7.0))),
        s"equal-ts refs must resolve to the max value: $got")
    } finally q.stop()
  }

  test("asOfEnrich: a refs-only key compacts on timeout and still answers a late left") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lStream = MemoryStream[(Long, Long, Timestamp, Double)]
    val rStream = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamOps.asOfEnrich(spark,
      lStream.toDF().toDF("user_id", "event_id", "ts", "value"),
      rStream.toDF().toDF("user_id", "ts", "ref_value"),
      watermark = "2 minutes")
    val q = out.writeStream.format("memory").queryName("asof_refsonly")
      .outputMode("append").start()
    try {
      // user 5 receives ONLY refs, then goes quiet — the refs-only
      // timeout must re-invoke the group once the watermark passes them
      // and compact the buffer to the single latest-ref row (without the
      // timeout nothing would ever touch key 5 again until new data)
      rStream.addData(
        (5L, ts("2024-01-01 10:00:00"), 100.0),
        (5L, ts("2024-01-01 10:10:00"), 110.0))
      q.processAllAvailable()
      // unrelated traffic pushes the watermark far past user 5's refs and
      // gives the fired timeout a data-less invocation for key 5
      lStream.addData((9L, 90L, ts("2024-01-01 11:00:00"), 0.0))
      rStream.addData((9L, ts("2024-01-01 11:00:00"), 0.0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout fires on the post-watermark batch
      // a late left for user 5 must pair with the KEPT latest ref (the
      // compaction may only discard the 10:00 row, never the 10:10 one)
      lStream.addData((5L, 50L, ts("2024-01-01 11:05:00"), 1.0))
      q.processAllAvailable()
      // wm pushers on BOTH streams (the query watermark is their min)
      lStream.addData((9L, 91L, ts("2024-01-01 12:00:00"), 0.0))
      rStream.addData((9L, ts("2024-01-01 12:00:00"), 0.0))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("asof_refsonly")
        .select("user_id", "event_id", "ref_value").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      assert(got.contains((5L, 50L, Some(110.0))),
        s"compaction must keep the latest ref for a quiet key: $got")
    } finally q.stop()
  }

  test("asOfEnrich: seeded randomized batches match the brute-force as-of oracle") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch centers 8 min apart with ±4 min jitter under a 10 min
    // watermark: rows overlap neighboring batches (out-of-order on both
    // streams) but none ever falls below the watermark, so the
    // brute-force expectation needs no drop model
    val rnd = new scala.util.Random(42)
    val base = ts("2024-01-01 00:00:00").getTime
    def jts(batch: Int): Timestamp =
      new Timestamp(base + batch * 8 * 60000L + (rnd.nextInt(481) - 240) * 1000L)
    val nBatches = 6
    val lefts = scala.collection.mutable.ArrayBuffer[(Int, (Long, Long, Timestamp, Double))]()
    val refs = scala.collection.mutable.ArrayBuffer[(Int, (Long, Timestamp, Double))]()
    var nextId = 0L
    (0 until nBatches).foreach { b =>
      (0 until 8).foreach { _ =>
        val key = 1L + rnd.nextInt(5)
        if (rnd.nextBoolean()) {
          nextId += 1
          lefts += b -> ((key, nextId, jts(b), rnd.nextInt(100).toDouble))
        } else refs += b -> ((key, jts(b), rnd.nextInt(1000).toDouble))
      }
    }
    val lStream = MemoryStream[(Long, Long, Timestamp, Double)]
    val rStream = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamOps.asOfEnrich(spark,
      lStream.toDF().toDF("user_id", "event_id", "ts", "value"),
      rStream.toDF().toDF("user_id", "ts", "ref_value"),
      watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("asof_rand")
      .outputMode("append").start()
    try {
      (0 until nBatches).foreach { b =>
        val lb = lefts.filter(_._1 == b).map(_._2).toSeq
        val rb = refs.filter(_._1 == b).map(_._2).toSeq
        if (lb.nonEmpty) lStream.addData(lb)
        if (rb.nonEmpty) rStream.addData(rb)
        q.processAllAvailable()
      }
      // push the watermark far past everything on both streams
      val far = new Timestamp(base + 6 * 3600000L)
      nextId += 1
      lStream.addData((99L, nextId, far, 0.0))
      rStream.addData((99L, far, 0.0))
      q.processAllAvailable()
      val far2 = new Timestamp(base + 12 * 3600000L)
      nextId += 1
      lStream.addData((99L, nextId, far2, 0.0))
      rStream.addData((99L, far2, 0.0))
      q.processAllAvailable()
      q.processAllAvailable()

      // the far2 pusher left stays pending by design — the watermark
      // never passes the newest event, so it cannot finalize yet
      val allLefts = lefts.map(_._2).toSeq :+ ((99L, nextId - 1, far, 0.0))
      val allRefs = refs.map(_._2).toSeq ++
        Seq((99L, far, 0.0), (99L, far2, 0.0))
      val expected = allLefts.map { case (k, id, t, v) =>
        val m = allRefs.filter(r => r._1 == k && !r._2.after(t))
          .sortBy(r => (r._2.getTime, r._3)).lastOption
        (k, id, m.map(_._2.getTime), m.map(_._3))
      }.toSet
      val got = spark.table("asof_rand").collect().map { r =>
        (r.getLong(0), r.getLong(1),
          Option(r.getTimestamp(4)).map(_.getTime),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))
      }.toSet
      assert(got.size === allLefts.size, "exactly-once emission per left")
      assert(got === expected,
        s"diff: missing=${expected -- got} extra=${got -- expected}")
    } finally q.stop()
  }

  test("minhash sink: stored-signature pairs equal the batch operator; per-batch incremental reads partition the pair set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mh-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-mh-src").toString
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val schema = docs.schema
    def pump(where: org.apache.spark.sql.Column): Unit = {
      docs.where(where).write.mode("append").json(srcDir)
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.minhashSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    // three arrival windows; the second run is a checkpointed restart
    pump(col("doc_id") < 150)
    docs.where(col("doc_id") >= 150 && col("doc_id") < 300)
      .write.mode("append").json(srcDir)
    docs.where(col("doc_id") >= 300).write.mode("append").json(srcDir)
    val fileDf = spark.readStream.schema(schema).json(srcDir)
    val q = StreamOps.minhashSink(fileDf, s"$dir/state", s"$dir/chk")
    try q.processAllAvailable() finally q.stop()

    type Pair = (Long, Long, Double)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[Pair] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the merged store replays the batch operator's exact pair set —
    // values included — against the json-round-tripped corpus
    val stored = toSet(StreamOps.readNearDupPairs(spark, s"$dir/state"))
    val direct = toSet(graft.operators.Dedup.minhashLshPairs(
      spark.read.schema(schema).json(srcDir)))
    assert(stored === direct, "stored-signature pairs diverged from the batch operator")
    assert(stored.nonEmpty, "fixture produced no near-dup pairs — nothing proven")
    // incremental reads: each pair surfaces exactly once, when its later
    // endpoint arrives — the union partitions the whole-store pair set
    val perBatch = (0L to 2L).map(b =>
      toSet(StreamOps.newMinhashPairsForBatch(spark, s"$dir/state", b)))
    assert(perBatch.map(_.size).sum === stored.size,
      s"incremental reads overlap or drop: ${perBatch.map(_.size)} vs ${stored.size}")
    assert(perBatch.reduce(_ ++ _) === stored)
    // and the store holds one signature row per document
    val sigs = StreamOps.readMinhashSignatures(spark, s"$dir/state")
    assert(sigs.count() === docs.count())
    // serving straight off the store == the estimate-form batch search
    // over freshly-signed corpus signatures (the corpus text is never
    // re-read by the stored path)
    val corpus = spark.read.schema(schema).json(srcDir)
    val queries = graft.operators.Dedup.syntheticQueryDocs(corpus)
    def searchRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val storedServe = searchRows(
      StreamOps.minhashSearchStored(spark, s"$dir/state", queries))
    assert(storedServe === searchRows(graft.operators.Dedup.minhashSearchEstimated(
      graft.operators.Dedup.minhashSignatures(corpus),
      graft.operators.Dedup.minhashSignatures(queries))),
      "stored-serving search diverged from the batch estimate form")
    assert(storedServe.nonEmpty, "query set matched nothing — nothing proven")
    // compaction + vacuum: the combined reader reproduces the live
    // store, pairs included, after the covered partitions are retired
    StreamOps.compactMinhashSignatures(spark, s"$dir/state", s"$dir/compact")
    def sigSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Seq[Long])] =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSet
    val combined = StreamOps.readMinhashSignaturesCompacted(
      spark, s"$dir/compact", s"$dir/state")
    assert(sigSet(combined) === sigSet(sigs))
    assert(StreamOps.vacuumStateTable(
      spark, s"$dir/state", s"$dir/compact", keepLast = 1) >= 1L)
    val afterVacuum = StreamOps.readMinhashSignaturesCompacted(
      spark, s"$dir/compact", s"$dir/state")
    assert(sigSet(afterVacuum) === sigSet(sigs),
      "combined reader diverged after vacuum")
    assert(toSet(graft.operators.Dedup.lshPairsFromSignatures(
      afterVacuum, 32, 8, 0.5)) === stored,
      "pairs from the compacted store diverged")
  }

  test("topPaths sink: merged path counts equal the batch operator across a checkpointed restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tp-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-tp-src").toString
    val batchDir = java.nio.file.Files.createTempDirectory("graft-tp-batch").toString
    val events = graft.engine.Tables.events(spark, "/root/testdata/sf0.001")
    // batch truth: the (fixed) topPaths operator over the full event set
    events.write.mode("overwrite").parquet(s"$batchDir/events.parquet")
    val expect = graft.operators.Sequence.topPaths(spark, batchDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(expect.nonEmpty)
    // stream in three TIME windows (arrival tracks event time, so nothing
    // falls below the watermark); the second run restarts the checkpoint
    val schema = events.schema
    def pump(where: org.apache.spark.sql.Column): Unit = {
      events.where(where).write.mode("append").parquet(srcDir)
      val fileDf = spark.readStream.schema(schema).parquet(srcDir)
      val q = StreamOps.topPathsSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    val qs = events.selectExpr("unix_micros(ts) AS us")
      .stat.approxQuantile("us", Array(0.4, 0.7), 0.0)
    pump(expr("unix_micros(ts)") <= qs(0))
    // windows 2+3 land as two micro-batches under ONE restarted query
    events.where(expr("unix_micros(ts)") > qs(0) && expr("unix_micros(ts)") <= qs(1))
      .write.mode("append").parquet(srcDir)
    events.where(expr("unix_micros(ts)") > qs(1)).write.mode("append").parquet(srcDir)
    // watermark pusher: a far-future lone event closes every real
    // session; its own session stays open and never lands
    import spark.implicits._
    val maxTs = events.selectExpr("max(ts)").head().getTimestamp(0)
    Seq((-1L, -1L, "view", new Timestamp(maxTs.getTime + 48L * 3600 * 1000), 0.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "props")
      .select(schema.fieldNames.map(col): _*)
      .write.mode("append").parquet(srcDir)
    val fileDf = spark.readStream.schema(schema).parquet(srcDir)
    val q = StreamOps.topPathsSink(fileDf, s"$dir/state", s"$dir/chk")
    try { q.processAllAvailable(); q.processAllAvailable() } finally q.stop()
    val got = StreamOps.readTopPaths(spark, s"$dir/state")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got === expect,
      s"streamed path ranking diverged: got $got\nexpect $expect")
  }

  test("inverted-index sink: merged postings equal the whole-corpus rebuild, across restart/compact/vacuum") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-invidx-src").toString
    val b0 = Seq((1L, "the cat sat on the mat"), (2L, "the dog sat"))
    val b1 = Seq((3L, "cat and dog and bird"))
    val b2 = Seq((4L, "the bird sat on the cat"))
    val b3 = Seq((5L, "cat mat dog"))
    val schema = b0.toDF("doc_id", "text").schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.invertedIndexSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    type Rowt = (String, Long, Long, String)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[Rowt] =
      df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    def rebuilt(rows: Seq[(Long, String)]): Set[Rowt] =
      toSet(graft.operators.TextAnalysis.invertedIndex(rows.toDF("doc_id", "text")))
    def merged(): Set[Rowt] =
      toSet(StreamOps.readInvertedIndex(spark, s"$dir/state"))
    b0.toDF("doc_id", "text").write.mode("overwrite").json(srcDir)
    runOnce()
    b1.toDF("doc_id", "text").write.mode("append").json(srcDir)
    runOnce() // checkpointed restart continues the batch-id sequence
    assert(merged() === rebuilt(b0 ++ b1),
      "merged index must equal the whole-corpus rebuild after a restart")
    b2.toDF("doc_id", "text").write.mode("append").json(srcDir)
    runOnce()
    val all = b0 ++ b1 ++ b2
    assert(merged() === rebuilt(all), "third batch did not fold in")
    // the minDf floor is read-time: 'bird' has df 1 in each of two
    // batches and must appear once the MERGED df crosses 2
    assert(merged().exists(_._1 == "bird"),
      "a term crossing minDf only across batches was lost")
    assert(!rebuilt(b0 ++ b1).exists(_._1 == "bird"), "fixture broken")

    // compaction folds rows per-term (postings kept FULL), combined
    // reader identical; vacuum retires covered partitions unchanged
    StreamOps.compactInvertedIndex(spark, s"$dir/state", s"$dir/state_c")
    def combined(): Set[Rowt] =
      toSet(StreamOps.readInvertedIndexCompacted(
        spark, s"$dir/state_c", s"$dir/state"))
    assert(combined() === rebuilt(all), "compacted reader diverged")
    StreamOps.vacuumStateTable(spark, s"$dir/state", s"$dir/state_c", keepLast = 1)
    assert(combined() === rebuilt(all), "vacuum changed the combined reader")
    // a post-vacuum batch folds on top through the surviving checkpoint
    b3.toDF("doc_id", "text").write.mode("append").json(srcDir)
    runOnce()
    assert(combined() === rebuilt(all ++ b3),
      "post-vacuum batch did not merge through the combined reader")
  }

  test("funnel stream: strict cross-batch progression, single emission, ordering enforced") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = stream.toDF().toDF("user_id", "event_type", "ts")
    // wide watermark: this test exercises cross-batch ordering, not late-
    // data drop — user 2's view arrives a batch after newer user-1 events,
    // and under EventTimeTimeout the watermark filter drops rows behind it
    val q = StreamOps.funnelStream(spark, df, watermark = "2 hours").writeStream
      .format("memory").queryName("funnel_out").outputMode("append").start()
    def rows() = spark.table("funnel_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    try {
      // batch 0: user 1 view+click; user 2 click only (no view yet)
      stream.addData(Seq(
        (1L, "view", ts("2020-01-01 10:00:00")),
        (1L, "click", ts("2020-01-01 10:10:00")),
        (2L, "click", ts("2020-01-01 09:00:00"))))
      q.processAllAvailable()
      assert(rows().isEmpty, "no funnel completed yet")
      // batch 1: user 1 converts (state crossed the batch boundary);
      // user 2's purchase WITHOUT an ordered view→click must not
      stream.addData(Seq(
        (1L, "purchase", ts("2020-01-01 10:20:00")),
        (2L, "view", ts("2020-01-01 09:30:00")),
        (2L, "purchase", ts("2020-01-01 09:40:00"))))
      q.processAllAvailable()
      assert(rows().toSeq === Seq(
        (1L, ts("2020-01-01 10:00:00"), ts("2020-01-01 10:20:00"), 1200L)))
      // batch 2: a second purchase by user 1 does NOT re-emit; user 2
      // finally clicks (after the view) then converts next batch
      stream.addData(Seq(
        (1L, "purchase", ts("2020-01-01 10:30:00")),
        (2L, "click", ts("2020-01-01 09:50:00"))))
      q.processAllAvailable()
      assert(rows().length === 1, "conversion re-emitted")
      stream.addData(Seq((2L, "purchase", ts("2020-01-01 09:55:00"))))
      q.processAllAvailable()
      assert(rows().sortBy(_._1).toSeq === Seq(
        (1L, ts("2020-01-01 10:00:00"), ts("2020-01-01 10:20:00"), 1200L),
        (2L, ts("2020-01-01 09:30:00"), ts("2020-01-01 09:55:00"), 1500L)))
    } finally q.stop()
  }

  test("funnel stream: event-time eviction bounds state; an evicted user cannot convert late") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = stream.toDF().toDF("user_id", "event_type", "ts")
    // 10-minute watermark, 20-minute eviction horizon past the last step
    val q = StreamOps.funnelStream(
        spark, df, watermark = "10 minutes", horizonMs = 20 * 60 * 1000L)
      .writeStream
      .format("memory").queryName("funnel_evict").outputMode("append").start()
    def rows() = spark.table("funnel_evict").collect()
      .map(r => (r.getLong(0), r.getTimestamp(2)))
    def stateRows() = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      // user 1 stalls mid-funnel; user 2 never passes step 1
      stream.addData(Seq(
        (1L, "view", ts("2020-01-01 10:00:00")),
        (1L, "click", ts("2020-01-01 10:05:00")),
        (2L, "view", ts("2020-01-01 10:00:00"))))
      q.processAllAvailable()
      val activeBefore = stateRows()
      assert(activeBefore >= 2L, "both mid-funnel users hold state")
      // user 3 advances the watermark to 11:50, far past both users'
      // horizon (last step + 20 min ≤ 10:25); one more batch lets the
      // timeout fire under the advanced watermark
      stream.addData(Seq((3L, "view", ts("2020-01-01 12:00:00"))))
      q.processAllAvailable()
      stream.addData(Seq((3L, "click", ts("2020-01-01 12:30:00"))))
      q.processAllAvailable()
      assert(stateRows() < activeBefore + 1,
        s"eviction must shrink state: before=$activeBefore after=${stateRows()}")
      // user 1's purchase lands AFTER eviction: with its view/click state
      // gone the purchase must NOT convert (a fresh funnel needs a new
      // ordered view → click first)
      stream.addData(Seq((1L, "purchase", ts("2020-01-01 12:40:00"))))
      q.processAllAvailable()
      assert(!rows().exists(_._1 == 1L), "evicted user converted on a late purchase")
      // user 3 converts inside the horizon — eviction does not disturb
      // an active funnel
      stream.addData(Seq((3L, "purchase", ts("2020-01-01 12:35:00"))))
      q.processAllAvailable()
      assert(rows().toSeq === Seq((3L, ts("2020-01-01 12:35:00"))))
    } finally q.stop()
  }

  test("histogram sink: fixed edges merge exactly; quantiles within a bucket width") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hist-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-hist-src").toString
    // values spanning under/overflow and several interior buckets
    val b0 = Seq(-3.0, 2.0, 27.0, 51.0, 52.0, 260.0)
    val b1 = Seq(26.0, 28.0, 53.0, 999.0)
    val b2 = Seq(0.0, 75.0, 77.0, 78.0)
    val schema = b0.toDF("value").schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.histogramSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    b0.toDF("value").write.mode("overwrite").json(srcDir)
    runOnce()
    b1.toDF("value").write.mode("append").json(srcDir)
    runOnce() // checkpointed restart continues the batch-id sequence
    b2.toDF("value").write.mode("append").json(srcDir)
    runOnce()
    val all = b0 ++ b1 ++ b2
    def direct(rows: Seq[Double]): Map[Int, Long] =
      rows.groupBy(v => math.min(math.max(math.floor(v / 25.0).toLong, 0L), 19L).toInt)
        .view.mapValues(_.size.toLong).toMap
    val merged = StreamOps.readHistogram(spark, s"$dir/state").collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(merged === direct(all),
      "merged histogram must equal the whole-history histogram")
    // as-of: only the first two batches
    assert(StreamOps.readHistogram(spark, s"$dir/state", asOfBatch = Some(1))
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap === direct(b0 ++ b1),
      "as-of-1 histogram must see batches 0..1")
    // quantiles: within one bucket width (25) of the exact order stat
    val sorted = all.sorted
    StreamOps.readQuantiles(spark, s"$dir/state", Seq(0.5, 0.9)).foreach {
      case (q, est) =>
        val exact = sorted(math.ceil(q * sorted.size).toInt - 1)
        // clamp the exact value the way the histogram does (tails fold
        // into the edge buckets)
        val clamped = math.min(math.max(exact, 0.0), 500.0)
        assert(math.abs(est - clamped) <= 25.0,
          s"q=$q estimate $est too far from exact $clamped")
    }
  }

  test("cohort sink: per-user min is a semilattice — merge equals direct, across a restart") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cohort-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cohort-src").toString
    // user 1's EARLIER day arrives in a LATER batch: only a true min
    // merge assigns the right cohort
    val b0 = Seq((1L, "2020-01-10 08:00:00"), (2L, "2020-01-11 09:00:00"))
    val b1 = Seq((1L, "2020-01-03 07:00:00"), (3L, "2020-01-12 10:00:00"))
    val b2 = Seq((2L, "2020-01-01 06:00:00"))
    def toDf(rows: Seq[(Long, String)]) =
      rows.toDF("user_id", "ts_s")
        .select(col("user_id"), col("ts_s").cast("timestamp").as("ts"))
    val schema = toDf(b0).schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.cohortSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    def direct(rows: Seq[(Long, String)]): Map[Long, String] =
      toDf(rows).groupBy(col("user_id"))
        .agg(date_format(min(org.apache.spark.sql.functions.to_date(col("ts"))),
          "yyyy-MM-dd").as("d"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def merged(): Map[Long, String] =
      StreamOps.readCohorts(spark, s"$dir/state")
        .select(col("user_id"), date_format(col("cohort_day"), "yyyy-MM-dd").as("d"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    toDf(b0).write.mode("overwrite").json(srcDir)
    runOnce()
    toDf(b1).write.mode("append").json(srcDir)
    runOnce() // restart continues the batch-id sequence
    assert(merged() === direct(b0 ++ b1),
      "late-arriving earlier day must win the cohort assignment")
    assert(merged()(1L) === "2020-01-03")
    toDf(b2).write.mode("append").json(srcDir)
    runOnce()
    assert(merged() === direct(b0 ++ b1 ++ b2))
  }

  test("constraint report sink lands a per-batch DQ time series") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Quality
    val dir = java.nio.file.Files.createTempDirectory("graft-dq-stream").toString
    val stream = MemoryStream[(Long, Double)]
    val df = stream.toDF().toDF("k", "amount")
    val q = StreamOps.constraintReportSink(df, Seq(
      Quality.NotNull("k"),
      Quality.InRange("amount", 0.0, 100.0)),
      s"$dir/report", s"$dir/chk")
    try {
      // batch 0: clean
      stream.addData(Seq((1L, 10.0), (2L, 20.0)))
      q.processAllAvailable()
      // batch 1: one range violation
      stream.addData(Seq((3L, 30.0), (4L, 5000.0)))
      q.processAllAvailable()
      val report = spark.read.parquet(s"$dir/report")
        .select("batch_id", "constraint", "violations", "passed")
        .as[(Long, String, Long, Boolean)].collect().toSet
      assert(report === Set(
        (0L, "not_null(k)", 0L, true),
        (0L, "range(amount)", 0L, true),
        (1L, "not_null(k)", 0L, true),
        (1L, "range(amount)", 1L, false)),
        s"unexpected DQ time series: $report")
    } finally q.stop()
  }

  test("incremental corpus sink recovers from a crashed, uncommitted first write") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-crash").toString
    // simulate a first write that died mid-commit: the corpus dir exists
    // but holds only the committer's _temporary scratch — no parquet. A
    // bare exists() probe would treat this as a readable corpus and turn
    // every replay into a schema-inference failure (permanent crash loop)
    val temp = new java.io.File(s"$dir/corpus/_temporary/0")
    assert(temp.mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/corpus/_temporary/0/part-stub"), "junk")
    val stream = MemoryStream[(Long, Timestamp, String)]
    val df = stream.toDF().toDF("doc_id", "ts", "text")
    val query = StreamOps.incrementalCorpusSink(df, s"$dir/corpus", s"$dir/chk")
    try {
      stream.addData(Seq((1L, ts("2024-01-01 00:00:01"),
        "a perfectly ordinary document about streams and state stores")))
      query.processAllAvailable() // must not throw: uncommitted ⇒ empty corpus
      assert(spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().toSet == Set(1L))
    } finally query.stop()
  }

  test("windowed type counts emit closed windows only (append mode)") {
    val out = feed("wtc_out", Seq(
      Seq(
        (1L, ts("2024-01-01 00:00:10"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 00:00:20"), 2L, "click", 2.0),
        (3L, ts("2024-01-01 00:00:30"), 1L, "view", 5.0)),
      // advances watermark past 00:01 → closes the 00:00 window
      Seq((4L, ts("2024-01-01 00:03:00"), 3L, "click", 1.0))),
      df => StreamOps.windowedTypeCounts(df))
    val rows = out.map(r => (r.getTimestamp(0).toString, r.getString(1),
      r.getLong(2), r.getDouble(3))).toSet
    assert(rows == Set(
      ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 00:00:00.0", "view", 1L, 5.0)))
  }

  test("windowed type counts in UPDATE mode re-emit growing open windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    // same operator, update output mode: every micro-batch emits the
    // CURRENT value of each changed (window, type) row — the running-total
    // semantics append mode withholds until the window closes
    val q = StreamOps.windowedTypeCounts(df).writeStream
      .format("memory").queryName("wtc_update_out").outputMode("update").start()
    try {
      stream.addData(Seq((1L, ts("2024-01-01 00:00:10"), 1L, "click", 1.0)))
      q.processAllAvailable()
      stream.addData(Seq((2L, ts("2024-01-01 00:00:20"), 2L, "click", 2.0)))
      q.processAllAvailable()
      val emissions = spark.table("wtc_update_out").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toList
      // two emissions for the SAME open window: count 1, then count 2 —
      // the second is the update, not a duplicate closed row
      assert(emissions.sortBy(_._2) == List(("click", 1L, 1.0), ("click", 2L, 3.0)),
        s"unexpected update-mode emissions: $emissions")
    } finally q.stop()
  }

  test("windowed agg runs on the RocksDB state store (large-state backend)") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = feed("wtc_rocks_out", Seq(
        Seq((1L, ts("2024-01-01 00:00:10"), 1L, "click", 1.0),
          (2L, ts("2024-01-01 00:00:20"), 2L, "click", 2.0)),
        Seq((3L, ts("2024-01-01 00:03:00"), 3L, "click", 1.0))),
        df => StreamOps.windowedTypeCounts(df))
      assert(out.map(r => (r.getString(1), r.getLong(2))).toSet ==
        Set(("click", 2L)))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val df = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
      val query = StreamOps.runningTotals(spark, df).writeStream
        .format("memory").queryName("tws_out").outputMode("update").start()
      try {
        stream.addData(Seq(
          (1L, ts("2024-01-01 00:00:10"), 1L, "click", 1.0),
          (2L, ts("2024-01-01 00:00:20"), 1L, "click", 2.0),
          (3L, ts("2024-01-01 00:00:30"), 2L, "view", 5.0)))
        query.processAllAvailable()
        stream.addData(Seq(
          (4L, ts("2024-01-01 00:01:00"), 1L, "click", 4.0)))
        query.processAllAvailable()
        val rows = spark.table("tws_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        // batch 1: user 1 → (2, 3.0), user 2 → (1, 5.0);
        // batch 2 refreshes user 1 → (3, 7.0) from restored state
        assert(rows.toSet == Set((1L, 2L, 3.0), (2L, 1L, 5.0), (1L, 3L, 7.0)))
      } finally query.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("dropDuplicatesWithinWatermark dedups within the horizon") {
    val out = feed("dedup_out", Seq(Seq(
      (1L, ts("2024-01-01 00:00:10"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 00:00:20"), 1L, "click", 1.0), // dup key
      (3L, ts("2024-01-01 00:00:30"), 1L, "view", 1.0),
      (4L, ts("2024-01-01 00:00:40"), 2L, "click", 1.0))),
      df => StreamOps.dedupWithinWatermark(df))
    assert(out.length == 3)
    assert(out.map(r => (r.getLong(2), r.getString(3))).toSet ==
      Set((1L, "click"), (1L, "view"), (2L, "click")))
  }

  test("stream-stream interval join attributes purchases to recent clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clickStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val purchaseStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def df(s: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      s.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val joined = StreamOps.clickToPurchase(df(clickStream), df(purchaseStream))
    val q = joined.writeStream
      .format("memory").queryName("attr_out").outputMode("append").start()
    try {
      clickStream.addData(Seq(
        (1L, ts("2024-01-01 00:00:00"), 1L, "click", 0.0),   // within 10 min
        (2L, ts("2024-01-01 00:20:00"), 1L, "click", 0.0),   // after purchase
        (3L, ts("2024-01-01 00:01:00"), 2L, "click", 0.0)))  // other user
      purchaseStream.addData(Seq(
        (10L, ts("2024-01-01 00:05:00"), 1L, "purchase", 9.99)))
      q.processAllAvailable()
      val out = spark.table("attr_out").collect()
      assert(out.map(r => (r.getLong(0), r.getLong(2))).toSet == Set((10L, 1L)),
        s"expected purchase 10 attributed to click 1 only, got ${out.mkString(",")}")
    } finally q.stop()
  }

  test("stream-stream FULL outer join emits unmatched rows after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clickStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val purchaseStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def df(s: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      s.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val joined = StreamOps.clickToPurchaseFullOuter(df(clickStream), df(purchaseStream))
    val q = joined.writeStream
      .format("memory").queryName("outer_attr_out").outputMode("append").start()
    try {
      clickStream.addData(Seq(
        (1L, ts("2024-01-01 00:00:00"), 1L, "click", 0.0),   // matches purchase 10
        (2L, ts("2024-01-01 00:20:00"), 1L, "click", 0.0)))  // no purchase follows
      purchaseStream.addData(Seq(
        (10L, ts("2024-01-01 00:05:00"), 1L, "purchase", 9.99),
        (11L, ts("2024-01-01 00:06:00"), 3L, "purchase", 5.00))) // user never clicked
      q.processAllAvailable()
      // advance BOTH watermarks far past every possible match window so
      // the unmatched rows are evicted and emitted null-padded
      clickStream.addData(Seq((90L, ts("2024-01-01 01:00:00"), 9L, "click", 0.0)))
      purchaseStream.addData(Seq((91L, ts("2024-01-01 01:00:00"), 9L, "purchase", 1.0)))
      q.processAllAvailable()
      val out = spark.table("outer_attr_out").collect()
        .map(r => (Option(r.get(0)), r.getLong(1), Option(r.get(2)))).toSet
      // matched pair + null-padded unmatched click AND unmatched purchase
      // (the two 01:00 flush rows match each other and emit as a pair)
      assert(out == Set(
        (Some(10L), 1L, Some(1L)),
        (Some(11L), 3L, None),
        (None, 1L, Some(2L)),
        (Some(91L), 9L, Some(90L))),
        s"unexpected outer-join output: $out")
    } finally q.stop()
  }

  test("stream-stream LEFT outer join preserves unattributed purchases only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clickStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val purchaseStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def df(s: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      s.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val joined = StreamOps.clickToPurchaseLeftOuter(df(clickStream), df(purchaseStream))
    val q = joined.writeStream
      .format("memory").queryName("left_attr_out").outputMode("append").start()
    try {
      clickStream.addData(Seq(
        (1L, ts("2024-01-01 00:00:00"), 1L, "click", 0.0),   // matches purchase 10
        (2L, ts("2024-01-01 00:20:00"), 1L, "click", 0.0)))  // never converts
      purchaseStream.addData(Seq(
        (10L, ts("2024-01-01 00:05:00"), 1L, "purchase", 9.99),
        (11L, ts("2024-01-01 00:06:00"), 3L, "purchase", 5.00))) // no click
      q.processAllAvailable()
      clickStream.addData(Seq((90L, ts("2024-01-01 01:00:00"), 9L, "click", 0.0)))
      purchaseStream.addData(Seq((91L, ts("2024-01-01 01:00:00"), 9L, "purchase", 1.0)))
      q.processAllAvailable()
      val out = spark.table("left_attr_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
      // purchase-preserving: 11 emits null-padded, click 2 does NOT emit
      assert(out == Set(
        (10L, 1L, Some(1L)),
        (11L, 3L, None),
        (91L, 9L, Some(90L))),
        s"unexpected left-outer output: $out")
    } finally q.stop()
  }

  test("trending terms: closed windows only, then the batch finisher ranks them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String)]
    val df = stream.toDF().toDF("doc_id", "ts", "text")
    val q = StreamOps.trendingTermCounts(df).writeStream
      .format("memory").queryName("trend_out").outputMode("append").start()
    try {
      stream.addData(Seq(
        (1L, ts("2024-01-01 00:00:10"), "alpha beta alpha"),
        (2L, ts("2024-01-01 00:00:40"), "beta gamma")))
      q.processAllAvailable()
      assert(spark.table("trend_out").isEmpty,
        "open window must not emit in append mode")
      // advance the watermark past the first window
      stream.addData(Seq((3L, ts("2024-01-01 00:03:00"), "delta")))
      q.processAllAvailable()
      val counts = spark.table("trend_out")
      val got = counts.collect()
        .map(r => (r.getString(1), r.getLong(2))).toSet
      assert(got == Set(("alpha", 2L), ("beta", 2L), ("gamma", 1L)),
        s"unexpected closed-window counts: $got")
      val top = StreamOps.topTermsPerWindow(counts, k = 2).collect()
        .map(r => (r.getInt(1), r.getString(2), r.getLong(3))).toSeq
      // count desc, term asc: alpha(2) then beta(2); gamma cut at k=2
      assert(top == Seq((1, "alpha", 2L), (2, "beta", 2L)),
        s"unexpected top-k: $top")
    } finally q.stop()
  }

  test("rate-anomaly sink flags a spike window against prior-window stats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-anomaly").toString
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamOps.rateAnomalySink(df,
      s"$dir/state", s"$dir/out", s"$dir/chk", zThreshold = 3.0)
    def clicks(minute: Int, n: Int): Seq[(Long, Timestamp, Long, String, Double)] =
      (0 until n).map(i =>
        (minute * 1000L + i, ts(f"2024-01-01 00:$minute%02d:01"), 1L, "click", 0.0))
    try {
      // priors with non-zero variance: click windows of 9, 10, 11
      stream.addData(clicks(0, 9) ++ clicks(1, 10) ++ clicks(2, 11))
      q.processAllAvailable()
      // close them: a 'tick' sentinel far past the watermark horizon
      stream.addData(Seq((1L, ts("2024-01-01 00:10:00"), 9L, "tick", 0.0)))
      q.processAllAvailable()
      // a 100-count spike and a normal 10-count window, then close both
      stream.addData(clicks(12, 100) ++ clicks(13, 10))
      q.processAllAvailable()
      stream.addData(Seq((2L, ts("2024-01-01 00:30:00"), 9L, "tick", 0.0)))
      q.processAllAvailable()
      val out: Map[String, (Long, Option[Double], Boolean)] =
        spark.read.parquet(s"$dir/out")
          .where(org.apache.spark.sql.functions.col("event_type") === "click")
          .collect()
          .map(r => r.getString(0).takeRight(8) ->
            Tuple3(r.getLong(2),
              Option(r.get(4)).map(_.asInstanceOf[Double]),
              r.getBoolean(5))).toMap
      // the first three windows closed together with no priors: unflagged
      Seq("00:00:00", "00:01:00", "00:02:00").foreach { w =>
        assert(out(w)._2.isEmpty && !out(w)._3, s"window $w wrongly scored: $out")
      }
      // priors {9,10,11}: mean 10, std 0.816497 → spike z = 110.2 →
      // anomalous; the normal window's z = 0 → not
      val (spikeN, spikeZ, spikeFlag) = out("00:12:00")
      assert(spikeN == 100 && spikeFlag, s"spike not flagged: $out")
      assert(math.abs(spikeZ.get - 110.2275) < 1e-3, s"spike z off: $spikeZ")
      val (_, normZ, normFlag) = out("00:13:00")
      assert(!normFlag && math.abs(normZ.get) < 1e-9,
        s"normal window misflagged: $out")
    } finally q.stop()
  }

  test("rate-anomaly sink survives a checkpointed restart and keeps its priors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-anomaly-restart").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-anomaly-src").toString
    def rows(minute: Int, n: Int, typ: String = "click") =
      (0 until n).map(i => (minute * 1000L + i,
        Timestamp.valueOf(f"2024-01-01 00:$minute%02d:01"), 1L, typ, 0.0))
    val schema = rows(0, 1).toDF("event_id", "ts", "user_id", "event_type", "value").schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.rateAnomalySink(fileDf,
        s"$dir/state", s"$dir/out", s"$dir/chk", zThreshold = 3.0)
      try q.processAllAvailable() finally q.stop()
    }
    // first run: three prior windows + a closing tick
    (rows(0, 9) ++ rows(1, 10) ++ rows(2, 11) ++ rows(10, 1, "tick"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").json(srcDir)
    runOnce()
    // RESTART from the same checkpoint: the spike must score against the
    // priors the previous run's state table accumulated
    (rows(12, 100) ++ rows(30, 1, "tick"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").json(srcDir)
    runOnce()
    val spike = spark.read.parquet(s"$dir/out")
      .where(org.apache.spark.sql.functions.col("n") === 100).collect()
    assert(spike.length == 1 && spike.head.getBoolean(5),
      s"spike not flagged across the restart: ${spike.toSeq}")
    assert(math.abs(spike.head.getDouble(4) - 110.2275) < 1e-3,
      s"restart lost the priors: z = ${spike.head.getDouble(4)}")
  }

  test("delivery-level dedup upstream of the join stops double attribution") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clickStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val purchaseStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def df(s: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      s.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val joined = StreamOps.dedupedClickToPurchase(df(clickStream), df(purchaseStream))
    val q = joined.writeStream
      .format("memory").queryName("dedup_attr_out").outputMode("append").start()
    try {
      // the same click delivered twice (at-least-once replay)
      clickStream.addData(Seq(
        (1L, ts("2024-01-01 00:00:00"), 1L, "click", 0.0),
        (1L, ts("2024-01-01 00:00:00"), 1L, "click", 0.0)))
      purchaseStream.addData(Seq(
        (10L, ts("2024-01-01 00:05:00"), 1L, "purchase", 9.99)))
      q.processAllAvailable()
      val out = spark.table("dedup_attr_out").collect()
      assert(out.length == 1 &&
        out.head.getLong(0) == 10L && out.head.getLong(2) == 1L,
        s"expected ONE attribution despite the replayed click, got ${out.mkString(",")}")
    } finally q.stop()
  }

  test("curation telemetry emits per-window gate rates (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog and then runs far away home"
    val german = "der hund ist nicht ein kleines tier und das haus ist gross hier heute"
    val stream = MemoryStream[(Long, Timestamp, String)]
    val df = stream.toDF().toDF("doc_id", "ts", "text")
    val query = StreamOps.curationTelemetryStream(df).writeStream
      .format("memory").queryName("telemetry_out").outputMode("append").start()
    try {
      stream.addData(Seq(
        (1L, ts("2024-01-01 00:00:01"), good),
        (2L, ts("2024-01-01 00:00:02"), german),
        (3L, ts("2024-01-01 00:00:03"), "short junk")))
      query.processAllAvailable()
      // close the 00:00 window
      stream.addData(Seq((4L, ts("2024-01-01 00:03:00"), good)))
      query.processAllAvailable()
      val out = spark.table("telemetry_out").collect()
      assert(out.length == 1, s"one closed window expected, got ${out.length}")
      val r = out.head
      assert(r.getAs[Long]("n_docs") == 3L)
      assert(r.getAs[Long]("n_pass") == 1L) // german + junk gated
      assert(r.getAs[Long]("n_tokens") > 0L)
    } finally query.stop()
  }

  test("classifier score sink: stored streaming scores equal the batch scorer across a checkpointed restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-clf-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-clf-src").toString
    val wh = java.nio.file.Files.createTempDirectory("graft-clf-wh").toString
    val sf = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.documents(spark, sf)
    // train once, publish, read the weights back — the batch gate's table
    val w = graft.operators.Curation.publishedClassifierWeights(
      docs, wh, "clf_spec", iters = 40)
    val streamDocs = docs.select("doc_id", "text")
    val schema = streamDocs.schema
    def pump(where: org.apache.spark.sql.Column): Unit = {
      streamDocs.where(where).write.mode("append").json(srcDir)
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.classifierScoreSink(
        fileDf, w, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    // two arrival windows; the second run is a checkpointed restart
    pump(col("doc_id") < 250)
    pump(col("doc_id") >= 250)
    type Score = (Long, Int, Long, Double, Boolean)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[Score] =
      df.select("doc_id", "label", "n_grams", "margin", "predicted")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4))).toSet
    val stored = toSet(StreamOps.readClassifierScores(spark, s"$dir/state"))
    // the batch gate over the same corpus + the same published weights —
    // SAME hyperparams (iters rides the published path since round 15),
    // so the table is REUSED, not retrained — margins must agree
    // bit-for-bit
    val batch = toSet(graft.operators.Curation.qualityClassifierScores(
      docs, wh, "clf_spec", targetLang = "en", iters = 40))
    assert(stored === batch,
      s"streaming scores diverged from the batch gate: " +
        s"missing=${(batch -- stored).take(3)} extra=${(stored -- batch).take(3)}")
    assert(stored.nonEmpty && stored.exists(_._5) && stored.exists(!_._5),
      "fixture must exercise both gate outcomes")
    // replay-idempotence: re-running the LAST batch's partition lands
    // value-identical rows — one row per doc after the dedup read
    assert(StreamOps.readClassifierScores(spark, s"$dir/state").count() ===
      batch.size.toLong)
  }

  test("classifier-gated curation stream + telemetry rates match the map-only batch expression") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val wh = java.nio.file.Files.createTempDirectory("graft-clf-wh2").toString
    val docs = graft.engine.Tables.documents(spark, sf)
    val w = graft.operators.Curation.publishedClassifierWeights(
      docs, wh, "clf_spec2", iters = 40)
    val fixture = docs.select("doc_id", "text").orderBy("doc_id").limit(30)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // batch truth via the shared map-only expression
    val batchRows = fixture.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.OracleRound.roundN(
          graft.operators.Curation.classifierMarginExpr(
            graft.operators.TextAnalysis.tokens(col("text")), w), 6)
          .as("margin"),
        (graft.operators.Curation.classifierMarginExpr(
          graft.operators.TextAnalysis.tokens(col("text")), w) >= 0.0)
          .as("predicted"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2))))
      .toMap
    // gated stream: one batch inside the 00:00 window, then a pusher
    val stream = MemoryStream[(Long, Timestamp, String)]
    val df = stream.toDF().toDF("doc_id", "ts", "text")
    val gated = StreamOps.classifierCurateStream(df, w).writeStream
      .format("memory").queryName("clf_gate_out").outputMode("append").start()
    val tele = StreamOps.curationTelemetryStream(
      stream.toDF().toDF("doc_id", "ts", "text"),
      classifierWeights = Some(w)).writeStream
      .format("memory").queryName("clf_tele_out").outputMode("append").start()
    try {
      val base = fixture.zipWithIndex.map { case ((id, text), i) =>
        (id, ts(f"2024-01-01 00:00:${i % 50}%02d"), text)
      }
      stream.addData(base.toSeq)
      gated.processAllAvailable(); tele.processAllAvailable()
      stream.addData(Seq((9999L, ts("2024-01-01 00:05:00"),
        "window closing pusher document")))
      gated.processAllAvailable(); tele.processAllAvailable()
      // gate: exactly the predicted-positive docs, margins bit-equal
      val out = spark.table("clf_gate_out")
        .select("doc_id", "margin", "predicted").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
        .filter(_._1 != 9999L)
      val expectPass = batchRows.filter(_._2._2).keySet
      assert(out.map(_._1).toSet === expectPass)
      out.foreach { case (id, m, p) =>
        assert(p && m === batchRows(id)._1, s"doc $id margin drifted")
      }
      // telemetry: the closed 00:00 window counts the classifier passes
      val win = spark.table("clf_tele_out").collect()
        .filter(_.getAs[Long]("n_docs") == 30L)
      assert(win.length === 1, "the 00:00 window must have closed")
      assert(win.head.getAs[Long]("n_pass_clf") === expectPass.size.toLong)
    } finally { gated.stop(); tele.stop() }
  }

  test("curateStream dedup state survives a checkpointed restart (RocksDB)") {
    // the production continuous-ingestion contract: stop the curation
    // stream, restart from the checkpoint, and (a) committed output is not
    // re-emitted, (b) the dropDuplicatesWithinWatermark fingerprint state
    // still suppresses an exact dup that arrives AFTER the restart
    import spark.implicits._
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val srcDir = tmp("graft-curate-src")
    val outDir = tmp("graft-curate-out")
    val ckpt = tmp("graft-curate-ckpt")
    val good = "the quick brown fox jumps over the lazy dog and then runs far away home"
    val other = "a completely different well formed english sentence with many unique words inside it"
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mkDf = (rows: Seq[(Long, Timestamp, String)]) =>
        rows.toDF("doc_id", "ts", "text")
      val schema = mkDf(Seq.empty).schema
      def runOnce(): Unit = {
        val stream = spark.readStream.schema(schema).json(srcDir)
        val q = StreamOps.curateStream(stream).writeStream
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      mkDf(Seq((1L, ts("2024-01-01 00:00:01"), good)))
        .write.mode("overwrite").json(srcDir)
      runOnce()
      val ids1 = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids1 == Set(1L), s"first run should emit doc 1, got $ids1")
      // restart input: an exact dup of doc 1 (within the 10 min watermark
      // horizon) plus a genuinely new doc
      mkDf(Seq(
        (2L, ts("2024-01-01 00:00:05"), good),
        (3L, ts("2024-01-01 00:00:06"), other)))
        .write.mode("append").json(srcDir)
      runOnce()
      val ids2 = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(ids2 == Seq(1L, 3L),
        s"restart must suppress the dup (2) and keep 1,3 exactly once: $ids2")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("sessionize closes a session after the idle gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val sessions = StreamOps.sessionize(spark, df, gapMs = 60000L, watermark = "1 minute")
    val query = sessions.toDF().writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // user 1: two events 10s apart (one session)
      stream.addData(Seq(
        (1L, ts("2024-01-01 00:00:10"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 00:00:20"), 1L, "click", 2.0)))
      query.processAllAvailable()
      // 10 minutes later: watermark sails past session end + gap → timeout
      stream.addData(Seq((3L, ts("2024-01-01 00:10:00"), 2L, "click", 1.0)))
      query.processAllAvailable()
      // one more batch so the timed-out state is actually fired
      stream.addData(Seq((4L, ts("2024-01-01 00:11:00"), 2L, "click", 1.0)))
      query.processAllAvailable()
      val out = spark.table("sess_out").collect()
      assert(out.exists { r =>
        r.getAs[Long]("user_id") == 1L &&
          r.getAs[Long]("n_events") == 2L &&
          r.getAs[Double]("total_value") == 3.0
      }, s"expected user 1 session, got ${out.mkString(",")}")
    } finally query.stop()
  }

  test("sessionize handles in-watermark stragglers: start lowers, far-late splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val sessions = StreamOps.sessionize(spark, df,
      gapMs = 5 * 60 * 1000L, watermark = "2 hours")
    val query = sessions.toDF().writeStream
      .format("memory").queryName("sess_straggler_out").outputMode("append").start()
    try {
      stream.addData(Seq((1L, ts("2024-01-01 12:00:00"), 1L, "click", 1.0)))
      query.processAllAvailable()
      // both events are LATE but inside the 2h watermark: 11:58 is within
      // the gap of the open session's start (must merge and LOWER start);
      // 11:20 is older than start by far more than the gap (can never
      // merge — emitted as its own session, not folded into the counts)
      stream.addData(Seq(
        (2L, ts("2024-01-01 11:58:00"), 1L, "click", 2.0),
        (3L, ts("2024-01-01 11:20:00"), 1L, "click", 4.0)))
      query.processAllAvailable()
      // a much later event closes the merged session (gap exceeded)
      stream.addData(Seq((4L, ts("2024-01-01 14:00:00"), 1L, "click", 8.0)))
      query.processAllAvailable()
      val out = spark.table("sess_straggler_out").collect()
        .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString,
          r.getLong(3), r.getDouble(4))).toSet
      assert(out == Set(
        ("2024-01-01 11:20:00.0", "2024-01-01 11:20:00.0", 1L, 4.0),
        ("2024-01-01 11:58:00.0", "2024-01-01 12:00:00.0", 2L, 3.0)),
        s"unexpected sessions: $out")
    } finally query.stop()
  }

  test("sessionize merges consecutive cross-batch stragglers into one session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val sessions = StreamOps.sessionize(spark, df,
      gapMs = 5 * 60 * 1000L, watermark = "2 hours")
    val query = sessions.toDF().writeStream
      .format("memory").queryName("sess_strag_merge_out").outputMode("append").start()
    try {
      stream.addData(Seq((1L, ts("2024-01-01 12:00:00"), 1L, "click", 1.0)))
      query.processAllAvailable()
      // three in-watermark stragglers, all older than the open session's
      // start by far more than the gap: 11:20 and 11:23 are within the gap
      // of each other (ONE session, not two single-event fragments); 11:40
      // is past 11:23's gap (its own session)
      stream.addData(Seq(
        (2L, ts("2024-01-01 11:20:00"), 1L, "click", 2.0),
        (3L, ts("2024-01-01 11:23:00"), 1L, "click", 4.0),
        (4L, ts("2024-01-01 11:40:00"), 1L, "click", 8.0)))
      query.processAllAvailable()
      // close the open session (gap exceeded) so the output is complete
      stream.addData(Seq((5L, ts("2024-01-01 14:00:00"), 1L, "click", 16.0)))
      query.processAllAvailable()
      val out = spark.table("sess_strag_merge_out").collect()
        .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString,
          r.getLong(3), r.getDouble(4))).toSet
      assert(out == Set(
        ("2024-01-01 11:20:00.0", "2024-01-01 11:23:00.0", 2L, 6.0),
        ("2024-01-01 11:40:00.0", "2024-01-01 11:40:00.0", 1L, 8.0),
        ("2024-01-01 12:00:00.0", "2024-01-01 12:00:00.0", 1L, 1.0)),
        s"unexpected sessions: $out")
    } finally query.stop()
  }

  test("cdc apply sink: merge-on-read equals batch applyChangeset across restart") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-sink").toString
    val base = Seq((1L, "alice", 10.0), (2L, "bob", 20.0), (3L, "carol", 30.0))
      .toDF("k", "name", "amount")
    // (k, name, amount, op, seq): upserts, a delete, an in-batch seq rivalry
    val b0 = Seq((4L, "dave", 40.0, "I", 1L), (1L, "alice2", 11.0, "U", 2L))
    val b1 = Seq((2L, "", 0.0, "D", 3L), (4L, "dave2", 44.0, "U", 4L),
      (3L, "carolX", 31.0, "U", 5L), (3L, "carolY", 33.0, "U", 6L))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cdc-src").toString
    val schema = b0.toDF("k", "name", "amount", "op", "seq").schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.cdcApplySink(fileDf, s"$dir/changes", s"$dir/chk", "k")
      try q.processAllAvailable() finally q.stop()
    }
    // batch 0, then a checkpointed RESTART carries batch ids forward for 1
    b0.toDF("k", "name", "amount", "op", "seq").write.mode("overwrite").json(srcDir)
    runOnce()
    b1.toDF("k", "name", "amount", "op", "seq").write.mode("append").json(srcDir)
    runOnce()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
      df.select("k", "name", "amount").as[(Long, String, Double)].collect().toSet
    val expected = rows(graft.operators.Incremental.applyChangeset(
      base, (b0 ++ b1).toDF("k", "name", "amount", "op", "seq"), "k"))
    val got = rows(StreamOps.readCdcTable(spark, base, s"$dir/changes", "k"))
    assert(got === expected, s"merge-on-read diverged: got=$got expected=$expected")
    assert(got === Set((1L, "alice2", 11.0), (3L, "carolY", 33.0),
      (4L, "dave2", 44.0)), s"unexpected table: $got")
    // an EMPTY micro-batch must be a no-op, not a corruption: a literal
    // empty file guarantees the source registers a new file → 0-row batch
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(srcDir, "empty.json"), "")
    runOnce()
    assert(rows(StreamOps.readCdcTable(spark, base, s"$dir/changes", "k"))
      === expected, "empty batch changed the table")
    // compact to a NEW snapshot; compacted + live reader is identical
    StreamOps.compactCdc(spark, base, s"$dir/changes", s"$dir/snap", "k")
    assert(rows(StreamOps.readCdcCompacted(spark, s"$dir/snap", s"$dir/changes", "k"))
      === expected, "compacted reader diverged")
    // vacuum the covered partitions; reader identical before/after, and a
    // post-vacuum batch folds on top through the surviving checkpoint
    StreamOps.vacuumStateTable(spark, s"$dir/changes", s"$dir/snap", keepLast = 1)
    assert(rows(StreamOps.readCdcCompacted(spark, s"$dir/snap", s"$dir/changes", "k"))
      === expected, "vacuum changed the compacted reader")
    val b3 = Seq((5L, "erin", 50.0, "I", 7L), (1L, "", 0.0, "D", 8L))
    b3.toDF("k", "name", "amount", "op", "seq").write.mode("append").json(srcDir)
    runOnce()
    assert(rows(StreamOps.readCdcCompacted(spark, s"$dir/snap", s"$dir/changes", "k"))
      === Set((3L, "carolY", 33.0), (4L, "dave2", 44.0), (5L, "erin", 50.0)),
      "post-vacuum batch did not fold onto the compacted snapshot")
  }

  test("partitioned sinks refuse a fresh checkpoint against an existing table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-guard").toString
    val rows = Seq((1L, "a", 1.0, "I", 1L))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cdc-guard-src").toString
    val schema = rows.toDF("k", "name", "amount", "op", "seq").schema
    rows.toDF("k", "name", "amount", "op", "seq").write.mode("overwrite").json(srcDir)
    def run(chk: String): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.cdcApplySink(fileDf, s"$dir/changes", chk, "k")
      try q.processAllAvailable() finally q.stop()
    }
    run(s"$dir/chk")
    rows.toDF("k", "name", "amount", "op", "seq").write.mode("append").json(srcDir)
    run(s"$dir/chk") // same checkpoint: continues at batch 1, legal
    // fresh checkpoint restarts batch ids at 0 — the guard must fail the
    // batch rather than let dynamic overwrite clobber batch_id=0
    val e = intercept[Exception] { run(s"$dir/chk_fresh") }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("fresh checkpoint")),
      s"expected the continuation-guard error, got: ${messages(e)}")
    def refusesFresh(run: => Unit): Unit = {
      val e = intercept[Exception](run)
      assert(messages(e).exists(_.contains("fresh checkpoint")),
        s"expected the continuation-guard error, got: ${messages(e)}")
    }
    def batchDirs(table: String): Set[String] =
      Option(new java.io.File(table).list()).toSet.flatten
        .filter(_.startsWith("batch_id="))

    // the (batch_id, cluster) layout: a refused batch leaves batch 0's
    // cluster= directories as they were
    val ivfSrc = java.nio.file.Files.createTempDirectory("graft-ivf-guard-src").toString
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    vecs.write.mode("overwrite").json(ivfSrc)
    def ivfRun(chk: String): Unit = {
      val q = StreamOps.ivfAssignSink(
        spark.readStream.schema(vecs.schema).json(ivfSrc),
        Array(Array(1.0, 0.0), Array(0.0, 1.0)), s"$dir/ivf", chk)
      try q.processAllAvailable() finally q.stop()
    }
    ivfRun(s"$dir/ivf_chk")
    Seq((3L, Seq(1.0, 0.1))).toDF("vec_id", "embedding").write.mode("append").json(ivfSrc)
    ivfRun(s"$dir/ivf_chk")
    def clusterDirs = new java.io.File(s"$dir/ivf/batch_id=0").list().toSet
    val batch0 = clusterDirs
    assert(batch0 === Set("cluster=0", "cluster=1"), s"batch 0 layout: $batch0")
    assert(batchDirs(s"$dir/ivf") === Set("batch_id=0", "batch_id=1"))
    refusesFresh(ivfRun(s"$dir/ivf_chk_fresh"))
    assert(clusterDirs === batch0, "the refused batch rewrote batch 0")

    // rateAnomalySink writes two tables: a fresh checkpoint is refused
    // when EITHER one is ahead, and the other (new) table stays empty
    val rateSrc = java.nio.file.Files.createTempDirectory("graft-rate-guard-src").toString
    val clicks = (0 until 3).map(i => (i.toLong,
      Timestamp.valueOf(f"2024-01-01 00:0$i%d:01"), 1L, "click", 0.0)) :+
      ((9L, Timestamp.valueOf("2024-01-01 00:10:00"), 1L, "tick", 0.0))
    val events = clicks.toDF("event_id", "ts", "user_id", "event_type", "value")
    events.write.mode("overwrite").json(rateSrc)
    def rateRun(state: String, out: String, chk: String): Unit = {
      val q = StreamOps.rateAnomalySink(
        spark.readStream.schema(events.schema).json(rateSrc),
        s"$dir/$state", s"$dir/$out", s"$dir/$chk")
      try q.processAllAvailable() finally q.stop()
    }
    rateRun("stats", "scored", "rate_chk")
    assert(batchDirs(s"$dir/stats").nonEmpty && batchDirs(s"$dir/scored").nonEmpty,
      "the first run closed no windows")
    refusesFresh(rateRun("stats_new", "scored", "rate_chk_a"))
    assert(batchDirs(s"$dir/stats_new").isEmpty, "stats table written before the refusal")
    refusesFresh(rateRun("stats", "scored_new", "rate_chk_b"))
    assert(batchDirs(s"$dir/scored_new").isEmpty, "scored table written before the refusal")
  }

  test("stats-table vacuum bounds files and preserves the combined reader") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-vac").toString
    def directOver(rows: Seq[(String, Long)]) =
      graft.operators.Incremental.finalizeStats(
        graft.operators.Incremental.statsPartial(
          rows.toDF("source", "n_chars"))).collect().toSeq
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stats-vac-src").toString
    val b0 = Seq(("web", 10L), ("books", 100L))
    val b1 = Seq(("web", 20L), ("code", 7L))
    val b2 = Seq(("books", 50L), ("web", 40L))
    val schema = b0.toDF("source", "n_chars").schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.incrementalStatsSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    b0.toDF("source", "n_chars").write.mode("overwrite").json(srcDir)
    runOnce()
    b1.toDF("source", "n_chars").write.mode("append").json(srcDir)
    runOnce()
    b2.toDF("source", "n_chars").write.mode("append").json(srcDir)
    runOnce()
    StreamOps.compactStats(spark, s"$dir/state", s"$dir/state_c")
    val before = StreamOps.readRunningStats(spark, s"$dir/state", s"$dir/state_c")
      .collect().toSeq
    assert(before === directOver(b0 ++ b1 ++ b2),
      "combined reader must equal direct whole-history stats")
    val removed = StreamOps.vacuumStateTable(
      spark, s"$dir/state", s"$dir/state_c", keepLast = 1)
    assert(removed === 2L, s"expected batches 0,1 vacuumed, removed=$removed")
    val left = new java.io.File(s"$dir/state").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    assert(left === Set("batch_id=2"), s"unexpected survivors: $left")
    assert(StreamOps.readRunningStats(spark, s"$dir/state", s"$dir/state_c")
      .collect().toSeq === before, "vacuum changed the combined reader")
    // the surviving checkpoint continues past the vacuum: new data folds in
    val b3 = Seq(("code", 70L))
    b3.toDF("source", "n_chars").write.mode("append").json(srcDir)
    runOnce()
    assert(StreamOps.readRunningStats(spark, s"$dir/state", s"$dir/state_c")
      .collect().toSeq === directOver(b0 ++ b1 ++ b2 ++ b3),
      "post-vacuum batch did not merge through the combined reader")
  }

  test("stats snapshot-as-of equals the first-N-batches fold, across compact + vacuum") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-asof").toString
    def directOver(rows: Seq[(String, Long)]) =
      graft.operators.Incremental.finalizeStats(
        graft.operators.Incremental.statsPartial(
          rows.toDF("source", "n_chars"))).collect().toSeq
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stats-asof-src").toString
    val b0 = Seq(("web", 10L), ("books", 100L))
    val b1 = Seq(("web", 20L), ("code", 7L))
    val b2 = Seq(("books", 50L), ("web", 40L))
    val schema = b0.toDF("source", "n_chars").schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.incrementalStatsSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    b0.toDF("source", "n_chars").write.mode("overwrite").json(srcDir)
    runOnce()
    b1.toDF("source", "n_chars").write.mode("append").json(srcDir)
    runOnce()
    b2.toDF("source", "n_chars").write.mode("append").json(srcDir)
    runOnce()
    def live(asOf: Long) =
      StreamOps.readRunningStats(spark, s"$dir/state", asOfBatch = Some(asOf))
        .collect().toSeq
    // time travel on the live table: as-of-N == the fold of batches 0..N
    assert(live(0) === directOver(b0), "as-of-0 must see only batch 0")
    assert(live(1) === directOver(b0 ++ b1), "as-of-1 must see batches 0..1")
    assert(live(2) === directOver(b0 ++ b1 ++ b2), "as-of-2 must equal current")

    StreamOps.compactStats(spark, s"$dir/state", s"$dir/state_c")
    def combined(asOf: Long) =
      StreamOps.readRunningStats(spark, s"$dir/state", s"$dir/state_c", Some(asOf))
        .collect().toSeq
    // at/above the watermark the snapshot serves; below it the read
    // routes to the still-surviving live prefix
    assert(combined(2) === directOver(b0 ++ b1 ++ b2),
      "combined as-of at the watermark must equal the snapshot")
    assert(combined(1) === directOver(b0 ++ b1),
      "combined as-of below the watermark must route to live partitions")

    // vacuum retires the covered prefix: pre-watermark history is GONE
    // and every reader must refuse rather than silently undercount
    StreamOps.vacuumStateTable(spark, s"$dir/state", s"$dir/state_c", keepLast = 1)
    assert(combined(2) === directOver(b0 ++ b1 ++ b2),
      "vacuum must not disturb as-of reads at/above the watermark")
    val e1 = intercept[IllegalStateException] { live(1) }
    assert(e1.getMessage.contains("vacuumed"), s"wrong refusal: ${e1.getMessage}")
    val e2 = intercept[IllegalStateException] { combined(1) }
    assert(e2.getMessage.contains("vacuumed"), s"wrong refusal: ${e2.getMessage}")
  }

  test("cdc snapshot-as-of reconstructs any past table state; refuses below the fold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-asof").toString
    val base = Seq((1L, "alice", 10.0), (2L, "bob", 20.0))
      .toDF("k", "name", "amount")
    val b0 = Seq((3L, "carol", 30.0, "I", 1L), (1L, "alice2", 11.0, "U", 2L))
    val b1 = Seq((2L, "", 0.0, "D", 3L), (3L, "carol2", 33.0, "U", 4L))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cdc-asof-src").toString
    val schema = b0.toDF("k", "name", "amount", "op", "seq").schema
    def runOnce(): Unit = {
      val fileDf = spark.readStream.schema(schema).json(srcDir)
      val q = StreamOps.cdcApplySink(fileDf, s"$dir/changes", s"$dir/chk", "k")
      try q.processAllAvailable() finally q.stop()
    }
    b0.toDF("k", "name", "amount", "op", "seq").write.mode("overwrite").json(srcDir)
    runOnce()
    b1.toDF("k", "name", "amount", "op", "seq").write.mode("append").json(srcDir)
    runOnce()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
      df.select("k", "name", "amount").as[(Long, String, Double)].collect().toSet
    def applied(chg: Seq[(Long, String, Double, String, Long)]) =
      rows(graft.operators.Incremental.applyChangeset(
        base, chg.toDF("k", "name", "amount", "op", "seq"), "k"))
    // as-of-0: carol's later update and bob's delete have not happened yet
    assert(rows(StreamOps.readCdcTable(spark, base, s"$dir/changes", "k",
        asOfBatch = Some(0))) === applied(b0),
      "as-of-0 must reconstruct the table after change batch 0")
    assert(rows(StreamOps.readCdcTable(spark, base, s"$dir/changes", "k",
        asOfBatch = Some(1))) === applied(b0 ++ b1),
      "as-of-1 must equal the current table")

    StreamOps.compactCdc(spark, base, s"$dir/changes", s"$dir/snap", "k")
    // at the fold watermark the snapshot serves the as-of read; below it
    // the fold cannot be un-merged and the reader must refuse loudly
    assert(rows(StreamOps.readCdcCompacted(spark, s"$dir/snap",
        s"$dir/changes", "k", asOfBatch = Some(1))) === applied(b0 ++ b1),
      "compacted as-of at the watermark diverged")
    val eFold = intercept[IllegalStateException] {
      StreamOps.readCdcCompacted(spark, s"$dir/snap", s"$dir/changes", "k",
        asOfBatch = Some(0))
    }
    assert(eFold.getMessage.contains("cannot be un-merged"),
      s"wrong refusal: ${eFold.getMessage}")
    // ... but the ORIGINAL base still answers while the prefix survives
    assert(rows(StreamOps.readCdcTable(spark, base, s"$dir/changes", "k",
        asOfBatch = Some(0))) === applied(b0),
      "pre-fold as-of must still route through the original base")

    // vacuum retires batch 0: the pre-fold past is unrecoverable — refuse
    StreamOps.vacuumStateTable(spark, s"$dir/changes", s"$dir/snap", keepLast = 1)
    val eVac = intercept[IllegalStateException] {
      StreamOps.readCdcTable(spark, base, s"$dir/changes", "k",
        asOfBatch = Some(0))
    }
    assert(eVac.getMessage.contains("vacuumed"), s"wrong refusal: ${eVac.getMessage}")
    assert(rows(StreamOps.readCdcCompacted(spark, s"$dir/snap",
        s"$dir/changes", "k", asOfBatch = Some(1))) === applied(b0 ++ b1),
      "vacuum must not disturb the at-watermark as-of read")
  }

  test("phash sink: stored pairs equal batch imageNearDupPairs; incremental reads partition the pair set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ph-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ph-src").toString
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val media = graft.operators.Multimodal.attachPixelImages(docs)
    val schema = media.schema
    def pump(): Unit = {
      val fileDf = spark.readStream.schema(schema).parquet(srcDir)
      val q = StreamOps.phashSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    // three arrival windows; the last run is a checkpointed restart that
    // picks up two windows at once
    media.where(col("doc_id") < 200).write.mode("append").parquet(srcDir)
    pump()
    media.where(col("doc_id") >= 200 && col("doc_id") < 400)
      .write.mode("append").parquet(srcDir)
    media.where(col("doc_id") >= 400).write.mode("append").parquet(srcDir)
    pump()

    type Pair = (Long, Long, Int)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[Pair] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // merged store replays the batch operator's exact pair set, hamming
    // values included, with no blob ever decoded twice
    val stored = toSet(StreamOps.readHammingNearDupPairs(spark, s"$dir/state"))
    val direct = toSet(graft.operators.Multimodal.imageNearDupPairs(spark, media))
    assert(stored === direct, "stored phash pairs diverged from the batch operator")
    assert(stored.nonEmpty, "fixture produced no image near-dup pairs — nothing proven")
    // incremental reads: each pair surfaces exactly once, when its later
    // endpoint arrives — the union partitions the whole-store pair set
    val perBatch = (0L to 1L).map(b =>
      toSet(StreamOps.newHammingPairsForBatch(spark, s"$dir/state", b)))
    assert(perBatch.map(_.size).sum === stored.size,
      s"incremental reads overlap or drop: ${perBatch.map(_.size)} vs ${stored.size}")
    assert(perBatch.reduce(_ ++ _) === stored)
    // one signature row per decodable blob
    val sigs = StreamOps.readHammingSignatures(spark, s"$dir/state")
    assert(sigs.count() === media.count())
    // serving straight off the store == the batch serving operator
    // (query decoded fresh, corpus never re-decoded)
    val queries = graft.operators.Multimodal.syntheticQueryImages(
      spark, Seq((3, 5), (17, 6)))
    def rankRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Int)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
        .toSeq.sortBy(t => (t._1, t._2))
    assert(rankRows(StreamOps.phashSearchStored(spark, s"$dir/state", queries))
      === rankRows(graft.operators.Multimodal.phashSearch(spark, media, queries)),
      "stored-serving ranking diverged from the batch operator")
    // compaction + vacuum: the combined reader reproduces the live store
    def sigSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    StreamOps.compactHammingSignatures(spark, s"$dir/state", s"$dir/compact")
    assert(sigSet(StreamOps.readHammingSignaturesCompacted(
      spark, s"$dir/compact", s"$dir/state")) === sigSet(sigs))
    assert(StreamOps.vacuumStateTable(
      spark, s"$dir/state", s"$dir/compact", keepLast = 1) >= 1L)
    val afterVacuum = StreamOps.readHammingSignaturesCompacted(
      spark, s"$dir/compact", s"$dir/state")
    assert(sigSet(afterVacuum) === sigSet(sigs),
      "combined reader diverged after vacuum")
    assert(toSet(graft.operators.Multimodal.bandedHammingPairs(
      afterVacuum, "sig", 6, Int.MaxValue)) === stored,
      "pairs from the compacted store diverged")
  }

  test("audio fingerprint sink: stored pairs equal batch audioNearDupPairs across a restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-afp-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-afp-src").toString
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val media = graft.operators.Multimodal.attachMedia(docs)
    val schema = media.schema
    def pump(): Unit = {
      val fileDf = spark.readStream.schema(schema).parquet(srcDir)
      val q = StreamOps.audioFingerprintSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    media.where(col("doc_id") < 300).write.mode("append").parquet(srcDir)
    pump()
    media.where(col("doc_id") >= 300).write.mode("append").parquet(srcDir)
    pump() // checkpointed restart
    type Pair = (Long, Long, Int)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[Pair] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val stored = toSet(StreamOps.readHammingNearDupPairs(spark, s"$dir/state"))
    val direct = toSet(graft.operators.Multimodal.audioNearDupPairs(spark, media))
    assert(stored === direct, "stored audio pairs diverged from the batch operator")
    assert(stored.nonEmpty, "fixture produced no audio near-dup pairs — nothing proven")
    val perBatch = (0L to 1L).map(b =>
      toSet(StreamOps.newHammingPairsForBatch(spark, s"$dir/state", b)))
    assert(perBatch.map(_.size).sum === stored.size &&
      perBatch.reduce(_ ++ _) === stored,
      s"incremental reads overlap or drop: ${perBatch.map(_.size)} vs ${stored.size}")
    // serving straight off the store == the batch serving operator
    val queries = graft.operators.Multimodal.syntheticQueryAudio(
      spark, Seq(11, 42))
    def rankRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Int)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
        .toSeq.sortBy(t => (t._1, t._2))
    assert(rankRows(StreamOps.audioSearchStored(spark, s"$dir/state", queries))
      === rankRows(graft.operators.Multimodal.audioSearch(spark, media, queries)),
      "stored-serving ranking diverged from the batch operator")
  }

  test("hamming incremental reads resolve a redelivered doc_id to its first batch") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft-ph-redeliver").toString
    def land(batch: Long, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("doc_id", "sig").withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("batch_id").parquet(state)
    // docs 1 and 7 identical sigs (hamming 0); doc 2 one bit off (hamming 1)
    land(0L, Seq(1L -> 0x0102030405060708L, 2L -> 0x0102030405060709L))
    land(1L, Seq(7L -> 0x0102030405060708L))
    // REDELIVERY: doc 7 lands again in a LATER batch
    land(2L, Seq(7L -> 0x0102030405060708L))
    def pairsAt(b: Long): Set[(Long, Long)] =
      StreamOps.newHammingPairsForBatch(spark, state, b)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAt(0L) === Set((1L, 2L)))
    assert(pairsAt(1L) === Set((1L, 7L), (2L, 7L)))
    // doc 7 is NOT new in batch 2: its pairs surfaced at batch 1
    assert(pairsAt(2L) === Set.empty[(Long, Long)])
    val whole = StreamOps.readHammingNearDupPairs(spark, state)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAt(0L) ++ pairsAt(1L) ++ pairsAt(2L) === whole)
  }

  test("compacted hamming reader resolves differing-sig redelivery by the live min-(batch_id, sig) rule") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ph-compact-det").toString
    val state = s"$dir/state"; val compact = s"$dir/compact"
    def land(batch: Long, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("doc_id", "sig").withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("batch_id").parquet(state)
    // doc 5 is redelivered in a LIVE batch with a DIFFERENT sig — an
    // updated payload. The live reader resolves to its first batch's
    // sig; the combined reader must agree (an arbitrary duplicate pick
    // would make the two readers diverge nondeterministically).
    land(0L, Seq(5L -> 100L, 1L -> 7L))
    land(1L, Seq(2L -> 8L))
    StreamOps.compactHammingSignatures(spark, state, compact) // through = 1
    land(2L, Seq(5L -> 999L, 3L -> 9L))
    def sigMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val live = sigMap(StreamOps.readHammingSignatures(spark, state))
    val combined = sigMap(
      StreamOps.readHammingSignaturesCompacted(spark, compact, state))
    assert(live(5L) === 100L, "live reader lost the min-batch rule")
    assert(combined === live,
      "combined reader diverged from the live reader on a differing-sig redelivery")
  }

  test("video frame-hash sink: stored pairs equal batch videoNearDupPairs; incremental reads partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vfh-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-vfh-src").toString
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val media = graft.operators.Multimodal.attachVideoFrames(docs)
    val schema = media.schema
    def pump(): Unit = {
      val fileDf = spark.readStream.schema(schema).parquet(srcDir)
      val q = StreamOps.videoFrameHashSink(fileDf, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    // two arrival windows; the second run is a checkpointed restart
    media.where(col("doc_id") < 300).write.mode("append").parquet(srcDir)
    pump()
    media.where(col("doc_id") >= 300).write.mode("append").parquet(srcDir)
    pump()
    type Pair = (Long, Long, Long)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[Pair] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // merged store at the batch operator's cap replays its exact pair
    // set, shared-frame counts included, with no container decoded twice
    val stored = toSet(StreamOps.readVideoNearDupPairs(
      spark, s"$dir/state", hotCap = 1024))
    val direct = toSet(graft.operators.Multimodal.videoNearDupPairs(spark, media))
    assert(stored === direct, "stored video pairs diverged from the batch operator")
    assert(stored.nonEmpty, "fixture produced no video near-dups — nothing proven")
    // the DEFAULT whole-store read is uncapped, so it is exactly what
    // the incremental reads partition (the df cut is batch-analysis
    // pruning, excluded from increments)
    val uncapped = toSet(StreamOps.readVideoNearDupPairs(spark, s"$dir/state"))
    val perBatch = (0L to 1L).map(b =>
      toSet(StreamOps.newVideoPairsForBatch(spark, s"$dir/state", b)))
    assert(perBatch.map(_.size).sum === uncapped.size,
      s"incremental reads overlap or drop: ${perBatch.map(_.size)} vs ${uncapped.size}")
    assert(perBatch.reduce(_ ++ _) === uncapped)
    // a cross-window pair exists (surfaced by batch 1), or the restart
    // path proved nothing
    assert(perBatch(1).nonEmpty, "no pair surfaced at the later endpoint")
    // one frame-hash row per (video, distinct frame hash)
    val fh = StreamOps.readVideoFrameHashes(spark, s"$dir/state")
    val directFh = graft.operators.Multimodal.videoFrameHashes(spark, media)
      .select("doc_id", "fhash").distinct()
    assert(fh.count() === directFh.count())
    // serving straight off the store == the batch serving operator
    val queries = graft.operators.Multimodal.syntheticQueryVideos(
      spark, Seq((3, 0), (9, 5)))
    def rankRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(t => (t._1, t._2))
    assert(rankRows(StreamOps.videoSearchStored(spark, s"$dir/state", queries))
      === rankRows(graft.operators.Multimodal.videoSearch(spark, media, queries)),
      "stored-serving ranking diverged from the batch operator")
    // compaction + vacuum: the combined reader reproduces the live store
    def fhSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    StreamOps.compactVideoFrameHashes(spark, s"$dir/state", s"$dir/compact")
    assert(fhSet(StreamOps.readVideoFrameHashesCompacted(
      spark, s"$dir/compact", s"$dir/state")) === fhSet(fh))
    assert(StreamOps.vacuumStateTable(
      spark, s"$dir/state", s"$dir/compact", keepLast = 1) >= 1L)
    val afterVacuum = StreamOps.readVideoFrameHashesCompacted(
      spark, s"$dir/compact", s"$dir/state")
    assert(fhSet(afterVacuum) === fhSet(fh),
      "combined reader diverged after vacuum")
    assert(toSet(graft.operators.Multimodal.frameOverlapPairs(
      afterVacuum, 2, 1024)) === stored,
      "pairs from the compacted store diverged")
  }

  test("video incremental reads resolve a redelivered video to its first batch") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft-vfh-redeliver").toString
    def land(batch: Long, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("doc_id", "fhash").withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("batch_id").parquet(state)
    // videos 1 and 7 share frames {10, 11}; video 2 shares only {10} with them
    land(0L, Seq(1L -> 10L, 1L -> 11L, 2L -> 10L, 2L -> 12L))
    land(1L, Seq(7L -> 10L, 7L -> 11L))
    // REDELIVERY: video 7 lands again in a LATER batch
    land(2L, Seq(7L -> 10L, 7L -> 11L))
    def pairsAt(b: Long): Set[(Long, Long)] =
      StreamOps.newVideoPairsForBatch(spark, state, b)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch 0: 1 and 2 share only frame 10 — below minShared, no pair
    assert(pairsAt(0L) === Set.empty[(Long, Long)])
    assert(pairsAt(1L) === Set((1L, 7L)))
    // video 7 is NOT new in batch 2: its pair surfaced at batch 1
    assert(pairsAt(2L) === Set.empty[(Long, Long)])
    val whole = StreamOps.readVideoNearDupPairs(spark, state)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAt(0L) ++ pairsAt(1L) ++ pairsAt(2L) === whole)
  }

  test("canary sink: stored hits equal the batch scan across a checkpointed restart") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-canary-stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-canary-src").toString
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    // the fixed canary set for this sink's lifetime — 12-token spans
    // lifted from a deterministic doc subset (the batch query's rule)
    val canaries = docs
      .select(col("doc_id"), graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
      .where(col("doc_id") % 83 === 5 && size(col("toks")) >= 22)
      .select(col("doc_id").as("canary_id"),
        concat_ws(" ", slice(col("toks"), 11, 12)).as("canary_text"))
    val schema = docs.schema
    def pump(): Unit = {
      val fileDf = spark.readStream.schema(schema).parquet(srcDir)
      val q = StreamOps.canarySink(fileDf, canaries, s"$dir/state", s"$dir/chk")
      try q.processAllAvailable() finally q.stop()
    }
    // three arrival windows; the last run is a checkpointed restart that
    // picks up two windows at once
    docs.where(col("doc_id") < 60).write.mode("append").parquet(srcDir)
    pump()
    docs.where(col("doc_id") >= 60 && col("doc_id") < 80)
      .write.mode("append").parquet(srcDir)
    docs.where(col("doc_id") >= 80).write.mode("append").parquet(srcDir)
    pump()

    type Hit = (Long, Long, Int)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[Hit] =
      df.select("canary_id", "doc_id", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val stored = toSet(StreamOps.readCanaryHits(spark, s"$dir/state"))
    val direct = toSet(graft.operators.Curation.canaryScan(docs, canaries))
    assert(stored === direct, "stored canary hits diverged from the batch scan")
    assert(stored.nonEmpty, "fixture produced no canary hits — nothing proven")
    // as-of batch 0 == the batch scan restricted to the first window's docs
    val asOf0 = toSet(StreamOps.readCanaryHits(spark, s"$dir/state", Some(0L)))
    val window0 = toSet(graft.operators.Curation.canaryScan(
      docs.where(col("doc_id") < 60), canaries))
    assert(asOf0 === window0, "as-of read diverged from the first window's scan")
    // compaction + vacuum: the combined reader reproduces the live store
    StreamOps.compactCanaryHits(spark, s"$dir/state", s"$dir/compact")
    assert(toSet(StreamOps.readCanaryHitsCompacted(
      spark, s"$dir/compact", s"$dir/state")) === stored)
    assert(StreamOps.vacuumStateTable(
      spark, s"$dir/state", s"$dir/compact", keepLast = 1) >= 1L)
    assert(toSet(StreamOps.readCanaryHitsCompacted(
      spark, s"$dir/compact", s"$dir/state")) === stored,
      "combined reader diverged after vacuum")
  }

  test("StateTable is the only writer of batch partitions and compaction sidecars") {
    val allowed = "src/main/scala/graft/streaming/StateTable.scala"
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    val files = scalaFiles(new java.io.File("src/main/scala"))
    // the scan must see the code it guards
    assert(files.exists(_.getPath == allowed))
    assert(files.exists(_.getPath == "src/main/scala/graft/streaming/StreamOps.scala"))
    val offenders = files.filterNot(_.getPath == allowed).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try {
        val text = src.mkString
        text.contains("partitionOverwriteMode") || text.contains("CompactedThroughFile")
      } finally src.close()
    }.map(_.getPath)
    assert(offenders.isEmpty,
      "land, compact and read state tables through StateTable instead: " +
        offenders.sorted.mkString(", "))
  }
}
