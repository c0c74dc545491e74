package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators._

/** Per-operator sanity specs complementing the DuckDB oracle (which checks
  * exact values at sf0.01): invariants that must hold at any scale factor.
  */
class OperatorsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.engine.Sessions
    .builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  test("saltedJoin stays a sort-merge join on (key, salt) and bounds the hot key's groups") {
    import spark.implicits._
    // a deliberately-skewed fact: one hot key with 20k rows, 100 cold keys
    val salts = 16
    val hot = 20000
    val fact = ((0 until hot).map(i => (i.toLong, 7L)) ++
      (0 until 100).map(i => (hot + i.toLong, 1000L + i)))
      .toDF("row_id", "key")
    val dim = (7L +: (0 until 100).map(1000L + _.toLong)).map(k => (k, k * 10))
      .toDF("key", "payload")
    val joined = Relational.saltedJoin(fact, dim, "key", col("row_id"), salts)

    // plan shape: the salt must reach the shuffle — a SortMergeJoin whose
    // join keys include __salt (broadcast would make the demo moot)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin:\n$plan")
    assert("SortMergeJoin \\[[^\\]]*__salt".r.findFirstIn(plan).isDefined,
      s"__salt is not a join key:\n$plan")

    // correctness: identical to the plain join
    assert(joined.count() === hot + 100)

    // task-size bound: the hot key's rows must spread ~evenly over the
    // `salts` shuffle groups — no group above 2× the even share (xxhash64
    // over a unique row id; 2× is a generous i.i.d. bound at 20k rows)
    val groups = fact
      .withColumn("salt", pmod(xxhash64(col("row_id")), lit(salts)))
      .where(col("key") === 7L)
      .groupBy("salt").count().collect()
    assert(groups.length === salts, s"hot key missing salt groups: ${groups.length}")
    val maxGroup = groups.map(_.getLong(1)).max
    assert(maxGroup <= 2L * hot / salts,
      s"hot key not spread: max salt group $maxGroup of $hot rows")
  }

  test("AQE skew-join splits the same hot key at runtime (the no-salt lever)") {
    import spark.implicits._
    // same deliberately-skewed shape as the salted demo above: the engine
    // documents BOTH skew levers — manual salting (static, works on any
    // Spark) and AQE's OptimizeSkewedJoin (runtime, zero code) — and this
    // spec pins that the AQE lever actually fires and agrees with the
    // salted result. Thresholds are scaled to test-SF partition sizes;
    // at 100 TB the defaults (256 MB) play the same role.
    val hot = 20000
    val fact = ((0 until hot).map(i => (i.toLong, 7L)) ++
      (0 until 100).map(i => (hot + i.toLong, 1000L + i)))
      .toDF("row_id", "key")
    val dim = (7L +: (0 until 100).map(1000L + _.toLong)).map(k => (k, k * 10))
      .toDF("key", "payload")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // AQE finalizes the plan during execution — collect THIS frame's
      // queryExecution, then read its final plan
      val joined = fact.join(dim, "key").select("row_id", "payload")
      val got = joined.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire on the hot partition:\n$plan")
      val viaSalt = Relational.saltedJoin(fact, dim, "key", col("row_id"), 16)
        .select("row_id", "payload").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == viaSalt && got.size == hot + 100,
        "AQE skew split and manual salting must produce the identical join")
    } finally {
      saved.foreach { case (k, vOpt) =>
        vOpt.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
    }
  }

  test("trainOrder ranks are an exact permutation and reproducible") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val ranks = Curation.trainOrder(docs).select("train_rank")
      .collect().map(_.getLong(0)).sorted
    graft.engine.OpCache.release(spark)
    assert(ranks.toSeq == (1L to n).toSeq, "ranks must be a 1..N permutation")
    // same salt → identical order; different salt → different order
    val o1 = Curation.trainOrder(docs).orderBy("doc_id").collect().map(_.getLong(2))
    graft.engine.OpCache.release(spark)
    val o2 = Curation.trainOrder(docs).orderBy("doc_id").collect().map(_.getLong(2))
    graft.engine.OpCache.release(spark)
    val o3 = Curation.trainOrder(docs, salt = "epoch2")
      .orderBy("doc_id").collect().map(_.getLong(2))
    graft.engine.OpCache.release(spark)
    assert(o1.toSeq == o2.toSeq, "same salt must reproduce the same order")
    assert(o1.toSeq != o3.toSeq, "a different salt must shuffle differently")
  }

  test("stripBoilerplate conserves tokens and strips only the learned list") {
    val docs = Tables.documents(spark, sf)
    val out = Curation.stripBoilerplate(docs, topN = 5)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .collect()
    assert(out.length == docs.count())
    val removedTokens = scala.collection.mutable.Set.empty[String]
    out.foreach { r =>
      val orig = r.getAs[String]("text").split(" ").toSeq
      val clean = r.getAs[String]("clean_text") match {
        case "" => Seq.empty; case s => s.split(" ").toSeq
      }
      assert(clean.size + r.getAs[Long]("n_removed") == orig.size,
        s"doc ${r.getAs[Long]("doc_id")}: token count not conserved")
      // order-preservation: clean must be a subsequence of orig
      var i = 0
      clean.foreach { t =>
        i = orig.indexOf(t, i)
        assert(i >= 0, s"doc ${r.getAs[Long]("doc_id")}: order not preserved")
        i += 1
      }
      removedTokens ++= orig.diff(clean)
    }
    assert(removedTokens.size <= 5,
      s"more distinct tokens removed than the top-5 list: $removedTokens")
  }

  test("corpusDiff classifies added/removed/changed and is all-unchanged on identity") {
    val docs = Tables.documents(spark, sf)
    val ident = Curation.corpusDiff(docs, docs).select("status").distinct().collect()
    assert(ident.map(_.getString(0)).toSeq == Seq("unchanged"))
    val prev = docs.where(col("doc_id") =!= 1)
    val cur = docs.where(col("doc_id") =!= 2)
      .withColumn("text",
        when(col("doc_id") === 3, concat(col("text"), lit(" x")))
          .otherwise(col("text")))
    val byId = Curation.corpusDiff(prev, cur).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1L) == "added" && byId(2L) == "removed" && byId(3L) == "changed")
    assert(byId(4L) == "unchanged")
  }

  test("approx_count_distinct within 5% of exact per event_type") {
    val rows = SqlSurface.approxUserCounts(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("session windows partition each user's events") {
    val sessions = SqlSurface.sessionWindows(spark, sf)
    val total = sessions.agg(sum(col("n_events"))).collect().head.getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("windowDistinct buckets partition the events (counts add up)") {
    val win = EventPipelines.windowDistinct(Tables.events(spark, sf))
    val total = win.agg(sum(col("n"))).collect().head.getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("language id predicts a language from the declared palette") {
    val langs = (TextAnalysis.langMarkers.map(_._1) :+ "und").toSet
    val preds = TextAnalysis.languageId(Tables.documents(spark, sf))
      .select("lang_pred").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(langs), s"unexpected predictions: ${preds -- langs}")
  }

  test("winnowed fingerprints are non-empty and sorted per doc") {
    val fp = TextAnalysis.winnowedFingerprints(Tables.documents(spark, sf)).collect()
    assert(fp.nonEmpty)
    fp.foreach { r =>
      val hs = r.getAs[scala.collection.Seq[Long]]("fingerprint_hashes")
      assert(hs.nonEmpty && hs == hs.sorted)
    }
  }

  test("SQL-winnow fingerprints match the production winnow's structure") {
    // same corpus, same (k, w): the md5-keyed variant must select the SAME
    // NUMBER of fingerprints per doc whenever the hash choice doesn't
    // change which positions win ties — statistically both are uniform
    // hashes, so the per-doc counts should be broadly similar; assert the
    // hard invariants (non-empty, count == parsed CSV length, sorted)
    val rows = TextAnalysis.winnowedFingerprintsSql(Tables.documents(spark, sf))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fps = r.getAs[String]("fingerprints").split(",").map(_.toLong).toSeq
      assert(fps.nonEmpty && fps == fps.sorted,
        s"doc ${r.getLong(0)}: fingerprints not sorted")
      assert(fps.size == r.getAs[Int]("n_fingerprints"))
      // 60-bit hashes: all values non-negative and under 2^60
      assert(fps.forall(h => h >= 0L && h < (1L << 60)))
    }
  }

  test("pricing summary groups cover all (returnflag, linestatus) pairs") {
    val got = Relational.pricingSummary(spark, sf)
      .select("l_returnflag", "l_linestatus").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val expected = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_linestatus").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected)
  }

  test("multimodal decode preserves row count and typed schema") {
    val docs = Tables.documents(spark, sf)
    val out = Multimodal.decodeFeatures(spark, Multimodal.attachMedia(docs))
    assert(out.count() == docs.count())
    assert(out.schema.fieldNames.toSeq ==
      Seq("doc_id", "media_type", "size_bytes", "checksum", "width", "height",
        "channels", "n_frames"))
  }

  test("langPredOf / qualityOf expression forms agree with the operator frames") {
    val docs = Tables.documents(spark, sf)
    val viaOps = TextAnalysis.languageId(docs).select(col("doc_id"), col("lang_pred"))
      .join(TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality")), "doc_id")
    val viaExprs = docs
      .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextAnalysis.langPredOf(col("toks")).as("lang_pred"),
        TextAnalysis.qualityOf(col("text"), col("toks")).as("quality"))
    assert(viaOps.except(viaExprs).isEmpty && viaExprs.except(viaOps).isEmpty)
  }

  test("curatedCorpus keeps only canonical, predicted-en, quality-gated docs") {
    val docs = Tables.documents(spark, sf)
    val kept = Curation.curatedCorpus(docs).collect()
    assert(kept.nonEmpty)
    assert(kept.forall(_.getAs[String]("lang_pred") == "en"))
    assert(kept.forall(_.getAs[Double]("quality") >= 0.5))
    // canonical = smallest doc_id of its near-dup cluster: no kept doc may
    // appear as the larger side of a qualifying pair
    val dupBs = Dedup.ngramJaccardPairs(docs)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    assert(kept.forall(r => !dupBs.contains(r.getAs[Long]("doc_id"))))
  }

  test("stratified sample keeps full strata at fraction 1.0 and thins the rest") {
    val docs = Tables.documents(spark, sf)
    val sampled = Curation.stratifiedSample(docs,
      Map("en" -> 0.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 1.0))
    val byLang = sampled.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    total.foreach { case (lang, n) =>
      if (lang == "en")
        assert(byLang.getOrElse("en", 0L) < n, "en stratum must be thinned")
      else
        assert(byLang.getOrElse(lang, 0L) == n, s"$lang stratum must be kept whole")
    }
    // deterministic for a fixed seed
    val again = Curation.stratifiedSample(docs,
      Map("en" -> 0.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 1.0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == sampled.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("groupSample keeps exactly k docs per group, stable across partitionings") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val sampled = Curation.groupSample(docs, k = 3)
    val perGroup = sampled.groupBy(col("source")).count().collect()
    assert(perGroup.nonEmpty && perGroup.forall(_.getLong(1) == 3))
    // partial-agg merge correctness: a different partitioning must fold to
    // the identical sample (the heap merge is order-insensitive)
    val repart = Curation.groupSample(docs.repartition(7, col("doc_id")), k = 3)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(asSet(sampled) == asSet(repart))
    // the SQL registration path resolves too
    graft.functions.GraftFunctions.register(spark)
    docs.createOrReplaceTempView("docs_gs")
    val viaSql = spark.sql(
      """SELECT source, explode(graft_bottom_k(md5(CAST(doc_id AS STRING)), doc_id, 3)) AS doc_id
        |FROM docs_gs GROUP BY source""".stripMargin)
    assert(asSet(viaSql) == asSet(sampled))
  }

  test("scrubPii redacts synthetic emails, urls and phone numbers") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact me at jane.doe@example.com or on 555-123-4567 today"),
      (2L, "see https://example.com/path?q=1 for details"),
      (3L, "clean text with no pii at all"),
      // email inside a URL: swallowed by the URL pass, so it must count
      // as a URL (not an email) — counts equal redactions by construction
      (4L, "auth at https://jane.doe@example.com/login please")
    ).toDF("doc_id", "text")
    val out = Curation.scrubPii(docs).orderBy("doc_id").collect()
    assert(out(0).getInt(1) == 1 && out(0).getInt(3) == 1) // email + phone
    assert(out(0).getString(4) ==
      "contact me at <EMAIL> or on <PHONE> today")
    assert(out(1).getInt(2) == 1)
    assert(out(1).getString(4) == "see <URL> for details")
    assert(out(2).getInt(1) == 0 && out(2).getInt(2) == 0 &&
      out(2).getInt(3) == 0 && out(2).getString(4) == out(2).getString(4))
    assert(out(3).getInt(1) == 0 && out(3).getInt(2) == 1 && out(3).getInt(3) == 0)
    assert(out(3).getString(4) == "auth at <URL> please")
  }

  test("decontaminate flags benchmark overlap and spares disjoint docs") {
    import spark.implicits._
    val leaked = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma"
    val docs = Seq(
      (1L, leaked),                                   // verbatim benchmark copy
      (2L, s"prefix words here $leaked suffix words"), // contains the benchmark span
      (3L, "totally different content about nothing shared with anything else at all")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, leaked)).toDF("doc_id", "text")
    val out = Curation.decontaminate(docs, bench, minOverlap = 10)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L)._2, "verbatim benchmark copy must flag")
    assert(out(2L)._2, "embedded benchmark span must flag")
    assert(out(2L)._1 >= 16, "all 16 benchmark shingles appear in doc 2")
    assert(!out(3L)._2 && out(3L)._1 == 0, "disjoint doc must come back clean")
  }

  test("ngramNovelty credits first occurrences and zero-fills short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),   // 3 bigrams, all first seen here
      (2L, "alpha beta gamma epsilon"), // 2 of 3 bigrams first seen in doc 1
      (3L, "single")                    // no bigram → zeros
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 3L, 1.0)), s"got ${out(1L)}")
    assert(out(2L) == ((3L, 1L, 0.3333)), s"got ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0.0)), s"got ${out(3L)}")
  }

  test("contaminationReport attributes leaks per benchmark doc, zeros when clean") {
    import spark.implicits._
    val leaked = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma"
    val clean = "nothing in common with any corpus document whatsoever " +
      "truly fully disjoint text entirely separate corpus material here"
    val docs = Seq(
      (1L, leaked),
      (2L, s"prefix words here $leaked suffix words"),
      (3L, "totally different content about nothing shared with anything else at all")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, leaked), (101L, clean)).toDF("doc_id", "text")
    val out = Curation.contaminationReport(docs, bench, minOverlap = 10)
      .orderBy("bench_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(100L)._1 == 2L, "both leaking docs attributed to bench doc 100")
    assert(out(100L)._2 >= 16L, "worst overlap carries the full shingle count")
    assert(out(101L) == ((0L, 0L)), "clean benchmark doc reports zeros")
  }

  test("dedupReport counts exact groups and near clusters consistently") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, a), (2L, a),                        // exact dup pair
      (3L, a + " lambda"),                     // near-dup of 1 (high jaccard)
      (4L, "completely different words about other things entirely here now")
    ).toDF("doc_id", "text")
    val clusters = graft.operators.Dedup.nearDupClusters(docs)
    val r = Curation.dedupReport(docs, clusters).collect().head
    assert(r.getLong(0) == 4L)                         // n_docs
    assert(r.getLong(1) == 3L && r.getLong(2) == 1L)   // exact groups / surplus
    assert(r.getLong(3) == 2L && r.getLong(4) == 2L,   // {1,2,3} + {4}
      s"near clusters ${r.getLong(3)}, surplus ${r.getLong(4)}")
  }

  test("observe() gives single-pass gate accounting (no second scan)") {
    // pipeline accounting the cheap way: observation metrics ride the
    // SAME job as the gated action — pre-gate totals without a second
    // pass over the corpus (at 100 TB a separate count() doubles the scan)
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{col, count, lit, size, sum}
    val obs = Observation("gate")
    val enriched = Tables.documents(spark, sf)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextAnalysis.langPredOf(col("toks")).as("lang_pred"),
        size(col("toks")).as("n"))
      .observe(obs, count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    val enCount = enriched.where(col("lang_pred") === "en").count()
    val m = obs.get
    assert(m("n_docs").asInstanceOf[Long] == 500L, s"got ${m("n_docs")}")
    assert(m("n_tokens").asInstanceOf[Long] > 0L)
    assert(enCount > 0L && enCount < 500L,
      "the gate must actually filter, or the metric proves nothing")
  }

  test("repetitionStats measures bigram concentration") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam"),     // 4 bigrams, all "spam spam"
      (2L, "one two three four five"),      // 4 distinct bigrams
      (3L, "single")                        // no bigram
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 4L, 1.0)), s"got ${out(1L)}")
    assert(out(2L) == ((4L, 1L, 0.25)), s"got ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0.0)), s"got ${out(3L)}")
  }

  test("sequence packing bins are contiguous, ordered, and offset-consistent") {
    val packed = Curation.packSequences(Tables.documents(spark, sf), tokenBudget = 512)
      .orderBy("doc_id").collect()
    assert(packed.nonEmpty)
    var prevCum = 0L
    var prevBin = 0L
    packed.foreach { r =>
      val (n, cum, bin) = (r.getInt(1), r.getLong(2), r.getLong(3))
      assert(cum == prevCum + n, "cumulative sum must be exact")
      assert(bin == (cum - n) / 512, "bin = floor(start offset / budget)")
      assert(bin >= prevBin, "bin ids are nondecreasing in corpus order")
      prevCum = cum; prevBin = bin
    }
  }

  test("intervalJoin matches the naive overlap join on adversarial data") {
    import spark.implicits._
    // negatives, zero-length, multi-bucket-spanning and EMPTY (lo > hi)
    // intervals; points straddling bucket boundaries and zero
    val points = (-40L to 40L by 3L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("pid", "pt")
    val intervals = Seq(
      (0L, -35L, -20L), (1L, -5L, 5L), (2L, 0L, 0L), (3L, -1L, 30L),
      (4L, 10L, 9L) /* empty */, (5L, 7L, 7L), (6L, -40L, 40L))
      .toDF("iid", "lo", "hi")
    val expected = points.join(intervals,
        col("pt") >= col("lo") && col("pt") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    for (width <- Seq(1L, 7L, 100L)) {
      val got = Relational.intervalJoin(points, "pt", intervals, "lo", "hi", width)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      assert(got == expected, s"width=$width diverged from the naive join")
    }
    assert(expected.nonEmpty, "degenerate fixture: no overlapping pairs")
    // the safe-width helper bounds every interval to <= 2 buckets
    val w = Relational.maxIntervalWidth(
      intervals.where(col("lo") <= col("hi")), "lo", "hi")
    assert(w == 81L, s"max length + 1 expected, got $w")
  }

  test("bloomPrunedJoin prunes the fact scan and matches the plain join") {
    import spark.implicits._
    // spark.range, not toDF: a LocalRelation fixture would have the
    // might_contain filter constant-folded away by ConvertToLocalRelation
    // and the plan assertion below could not see it
    val fact = spark.range(5000).select(col("id").as("fid"),
      (col("id") % 1000L).as("fk"), (col("id") * 3L).as("payload"))
    // selective dim: 50 of the 1000 fact key values
    val dim = (0 until 50).map(i => (i * 20L, s"d$i")).toDF("dk", "dname")
    val plain = fact.join(dim, col("fk") === col("dk"))
      .select("fid", "dname").collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted.toSeq
    val bloomed = Relational.bloomPrunedJoin(fact, "fk", dim, "dk", 1000L)
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom filter missing from the plan:\n$plan")
    val got = bloomed.select("fid", "dname").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == plain, "bloom pruning changed the join result")
    assert(got.nonEmpty, "degenerate fixture: no matches")
    // the pre-filter must actually reduce the fact side: 250 true
    // matches out of 5000 rows, plus only bloom false positives
    val survivors =
      Relational.bloomPruneFact(fact, "fk", dim, "dk", 1000L).count()
    assert(survivors < 1000L,
      s"bloom filter barely pruned: $survivors of 5000 fact rows survive")
  }

  test("systematicSample places exactly n PPS points, matching brute force") {
    val docs = Tables.documents(spark, sf)
    // ground truth: materialize (doc_id, w, cum) in doc_id order and
    // count the odd multiples of total/(2n) falling in each range
    val weights = docs
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = weights.map(_._2).sum
    for (n <- Seq(1, 37, 100)) {
      val expected = {
        var cum = 0L
        weights.flatMap { case (id, w) =>
          val lo = cum; cum += w
          // point i falls in [lo, lo+w) ⇔ 2n·lo ≤ (2i+1)·total < 2n·cum
          val draws = (0 until n).count(i =>
            2L * n * lo <= (2L * i + 1) * total &&
              (2L * i + 1) * total < 2L * n * cum)
          if (draws > 0) Some(id -> draws.toLong) else None
        }.toMap
      }
      val got = Curation.systematicSample(docs, n).collect()
        .map(r => (r.getLong(0), r.getLong(3))).toMap
      assert(got == expected, s"n=$n diverged from brute-force placement")
      assert(got.values.sum == n.toLong, s"n=$n: total draws must be exactly n")
    }
  }

  test("profileTable profiles per column without an Expand over the table") {
    val docs = Tables.documents(spark, sf)
    val prof = Curation.profileTable(docs, Seq("doc_id", "source"))
    val plan = prof.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"profile must not multi-distinct-Expand the fact table:\n$plan")
    val rows = prof.collect().map(r => r.getString(0) -> r).toMap
    val n = docs.count()
    assert(rows("doc_id").getLong(1) == n && rows("source").getLong(1) == n)
    assert(rows("doc_id").getLong(3) == n, "doc_id must be unique")
    assert(rows("doc_id").getLong(2) == n, "doc_id must be non-null")
    val nSources = docs.select("source").distinct().count()
    assert(rows("source").getLong(3) == nSources)
  }

  test("approxProfileTable profiles every column in ONE pass") {
    val docs = Tables.documents(spark, sf)
    val cols = Seq("doc_id", "source", "lang", "n_chars")
    val prof = Curation.approxProfileTable(docs, cols)
    val plan = prof.queryExecution.executedPlan.toString
    // the wide-table contract: one scan of the source, one aggregate, no
    // Expand — vs profileTable's one scan per column
    assert(!plan.contains("Expand"),
      s"approx profile must not Expand the fact table:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected ONE source scan for 4 columns, got $scans:\n$plan")
    val rows = prof.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == cols.toSet)
    val n = docs.count()
    val exactSources = docs.select("source").distinct().count()
    assert(cols.forall(c => rows(c).getLong(1) == n), "n_rows exact")
    assert(rows("doc_id").getLong(2) == n, "doc_id non-null")
    // HLL at these cardinalities: within 3×rsd of exact
    assert(math.abs(rows("source").getLong(3) - exactSources) <=
      math.max(3, (exactSources * 0.15).toLong), "source distinct within 3×rsd")
    assert(math.abs(rows("doc_id").getLong(3) - n) <= (n * 0.15).toLong,
      "doc_id distinct within 3×rsd")
    // the checked form agrees with the exact profiler and its booleans hold
    val checked = Curation.approxProfileTableChecked(docs, cols).collect()
    assert(checked.forall(_.getBoolean(6)), "3×rsd booleans must hold")
    val exact = Curation.profileTable(docs, cols).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(checked.forall(r => r.getLong(3) == exact(r.getString(0))),
      "checked form must carry the EXACT distinct counts")
  }

  test("topKSketchChecked pins the sketch within its error bound in-query") {
    val docs = Tables.documents(spark, sf)
    val out = TextAnalysis.topKSketchChecked(docs).collect()
    assert(out.length == 10, s"expected exact top-10, got ${out.length}")
    // default maxTracked covers the synthetic vocab → sketch error is 0
    // and the 4·N/maxTracked bound holds trivially
    assert(out.forall(r => r.getBoolean(2) && r.getBoolean(3)),
      "sketch bounds must hold when every item is tracked")
    // counts are sorted desc with the term tiebreak
    val counts = out.map(_.getLong(1)).toSeq
    assert(counts == counts.sorted.reverse, "rows must be ordered by count desc")
    // degraded sketch (fewer tracked items than vocab) must still produce
    // the exact top-10 rows and HONEST booleans, not an error or a lie:
    // if it reports exact counts, they must actually be exact
    // smallest legal tracking budget (= k), still below the 31-term vocab
    val tight = TextAnalysis.topKSketchChecked(docs, k = 10, maxTracked = 10)
      .collect()
    assert(tight.length == 10, "exact rows are independent of sketch quality")
    assert(tight.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      out.map(r => (r.getString(0), r.getLong(1))).toSeq,
      "exact top-10 must not depend on the sketch parameters")
  }

  test("bm25 serving probes the postings via broadcast, never a term shuffle") {
    val docs = Tables.documents(spark, sf)
    val out = TextAnalysis.bm25TopK(docs, nQueries = 3, topDocs = 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term probe should broadcast:\n$plan")
    val rows = out.collect()
    assert(rows.nonEmpty, "bm25 returned nothing")
    // per query term: ranks are 1..k dense and scores non-increasing
    rows.groupBy(_.getString(0)).foreach { case (term, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length).toSeq,
        s"ranks not dense for $term")
      val scores = sorted.map(_.getDouble(3)).toSeq
      assert(scores == scores.sorted.reverse, s"scores not sorted for $term: $scores")
    }
  }

  test("leakageSafeSplit: no cluster spans splits, all docs covered, deterministic") {
    val docs = Tables.documents(spark, sf)
    val clusters = Dedup.nearDupClusters(docs)
    val got = Curation.leakageSafeSplit(docs, clusters).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length === docs.count())
    // THE property: every member of a cluster carries the same split
    got.groupBy(_._2).foreach { case (c, ms) =>
      assert(ms.map(_._3).distinct.length === 1,
        s"cluster $c spans splits: ${ms.map(_._3).distinct.toSeq}")
    }
    // all three splits are populated and train holds the plurality
    val bySplit = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit.keySet === Set("train", "validation", "test"),
      s"missing split: ${bySplit.keySet}")
    assert(bySplit("train") > bySplit("validation") &&
      bySplit("train") > bySplit("test"),
      s"train is not the plurality: $bySplit")
    // a second run reproduces the assignment bit-for-bit
    val again = Curation.leakageSafeSplit(docs, clusters).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    // and at least one multi-doc cluster exercised the property
    assert(got.groupBy(_._2).exists(_._2.length > 1),
      "no multi-doc cluster — the leak guard proved nothing")
  }

  test("keySkewProfile: exact stats on a hand-built key distribution") {
    import spark.implicits._
    // 10 keys with counts 1..9 and one hot key with 81 rows:
    // n_keys=10, n_rows=126, max=81
    val rows = (1 to 9).flatMap(k => Seq.fill(k)(s"k$k")) ++
      Seq.fill(81)("hot")
    val df = rows.toDF("key_col")
    val got = Curation.keySkewProfile(df, Seq("key_col")).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getString(0) === "key_col")
    assert(r.getLong(1) === 126L && r.getLong(2) === 10L &&
      r.getLong(3) === 81L)
    // ascending counts (1..9, 81): p50 = rank 5 -> 5, p90 = rank 9 -> 9,
    // p99 = rank 10 -> 81
    assert(r.getLong(4) === 5L && r.getLong(5) === 9L && r.getLong(6) === 81L)
    // skew = 81 / (126/10) = 6.4286 (4 dp); top1 = 81/126 = 0.642857 (6 dp)
    assert(r.getDouble(7) === math.floor(81.0 * 10 / 126 * 1e4 + 0.5) / 1e4)
    assert(r.getDouble(8) === math.floor(81.0 / 126 * 1e6 + 0.5) / 1e6)
    // the profile flags real skew on the events user_id vs event_type
    val ev = Curation.keySkewProfile(Tables.events(spark, sf),
      Seq("user_id", "event_type")).collect()
      .map(r2 => r2.getString(0) -> r2.getDouble(8)).toMap
    assert(ev("event_type") > ev("user_id"),
      "low-cardinality key should carry the fatter top-1 share")
  }

  test("ClassifierMarginExpr: bit-identical to the HOF spelling it replaced (codegen + interpreted)") {
    val buckets = 16
    val salt = "dsir"
    val w = Array.tabulate(buckets + 1)(j =>
      ((j * 2654435761L) % 997) / 997.0 - 0.5)
    // the round-14 HOF spelling this expression replaced (round-15
    // verdict item 3): one interpreted lambda per token for the md5
    // bucket, then `buckets` per-bucket filter scans, transform /
    // zip_with / aggregate for the ordered fold
    def hofSpelling(toks: org.apache.spark.sql.Column) = {
      val wLit = array(w.init.map(lit).toIndexedSeq: _*)
      val bs = transform(toks, tk =>
        conv(substring(md5(concat(lit(s"$salt:"), tk)), 1, 13), 16, 10)
          .cast("long") % buckets)
      val n = size(toks).cast("long")
      val x = transform(sequence(lit(0L), lit(buckets - 1L)),
        j => size(filter(bs, b => b === j)).cast("long")
          .cast("double") * buckets / n)
      aggregate(zip_with(x, wLit, (a, b) => a * b),
        lit(0.0), (acc, t) => acc + t) + w.last
    }
    val docs = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
      // edge cases: a null token inside the array (counts toward n, no
      // bucket) and a single-token doc
      .unionByName(spark.range(1).select(
        lit(-1L).as("doc_id"),
        array(lit("alpha"), lit(null).cast("string"), lit("beta"))
          .as("toks")))
      .unionByName(spark.range(1).select(
        lit(-2L).as("doc_id"), array(lit("solo")).as("toks")))
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val rows = docs.select(col("doc_id"),
          graft.operators.Curation
            .classifierMarginExpr(col("toks"), w, buckets, salt).as("fast"),
          hofSpelling(col("toks")).as("ref")).collect()
        assert(rows.length >= 52)
        rows.foreach { r =>
          assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
            java.lang.Double.doubleToLongBits(r.getDouble(2)),
            s"margin diverged for doc ${r.getLong(0)} (codegen=$codegen): " +
              s"${r.getDouble(1)} vs ${r.getDouble(2)}")
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // the length contract fails loudly (round-14 advice), not via NULLs
    intercept[IllegalArgumentException] {
      graft.operators.Curation.classifierMarginExpr(
        col("toks"), w.init, buckets, salt)
    }
    // EMPTY arrays score NULL, never NaN (round-16 advice: 0·buckets/0 =
    // NaN, and NaN >= 0.0 is TRUE under Spark's NaN-greatest ordering —
    // an unguarded gate would silently PASS empty docs); both engines
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val empty = spark.range(1)
          .select(array().cast("array<string>").as("toks"),
            lit(null).cast("array<string>").as("noToks"))
          .select(
            graft.operators.Curation
              .classifierMarginExpr(col("toks"), w, buckets, salt).as("e"),
            graft.operators.Curation
              .classifierMarginExpr(col("noToks"), w, buckets, salt).as("n"),
            (graft.operators.Curation
              .classifierMarginExpr(col("toks"), w, buckets, salt) >= 0.0)
              .as("gate"))
          .collect().head
        assert(empty.isNullAt(0), s"empty toks must score NULL (codegen=$codegen)")
        assert(empty.isNullAt(1), s"null toks must score NULL (codegen=$codegen)")
        assert(empty.isNullAt(2),
          s"the >= 0 gate over an empty doc must be NULL, not TRUE (codegen=$codegen)")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("CentroidProbesExpr: bit-identical to the literal array_sort spelling it replaced (codegen + interpreted)") {
    // the round-16 spelling this expression replaced (verdict item 2):
    // nlist·dim literal nodes — array(struct(dot(nv, array(lit…)), i)…)
    // sorted/sliced per row. Reconstructed here as the reference.
    def literalSpelling(nv: org.apache.spark.sql.Column,
        cents: Array[Array[Double]], nprobe: Int) = {
      val scored = array(cents.zipWithIndex.map { case (c, i) =>
        struct(graft.functions.VectorOps.dot(nv, array(c.map(lit).toIndexedSeq: _*)).as("d"),
          lit(i).as("i"))
      }.toIndexedSeq: _*)
      slice(reverse(array_sort(scored)), 1, nprobe)
    }
    // deterministic centroids INCLUDING exact duplicates (indices 3 and 7
    // share values → equal dots force the ties-to-larger-id branch)
    val dim = 8
    val nlist = 12
    val cents = Array.tabulate(nlist, dim) { (i, t) =>
      val base = if (i == 7) 3 else i // centroid 7 duplicates centroid 3
      (((base * 31 + t) * 2654435761L) % 1009).toDouble / 1009.0 - 0.5
    }
    val vecs = Tables.embeddings(spark, sf).limit(64)
      .select(col("vec_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        transform(col("v"), x =>
          x / graft.functions.VectorOps.l2Norm(col("v"))).as("nv"))
      .select(col("vec_id"), slice(col("nv"), 1, dim).as("nv"))
    for (codegen <- Seq("true", "false"); nprobe <- Seq(1, 4, nlist)) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val rows = vecs.select(col("vec_id"),
          Similarity.probeStructs(col("nv"), cents, nprobe).as("fast"),
          literalSpelling(col("nv"), cents, nprobe).as("ref")).collect()
        assert(rows.length === 64)
        rows.foreach { r =>
          val fast = r.getSeq[org.apache.spark.sql.Row](1)
          val ref = r.getSeq[org.apache.spark.sql.Row](2)
          assert(fast.length === nprobe && ref.length === nprobe)
          fast.zip(ref).zipWithIndex.foreach { case ((f, g), slot) =>
            assert(java.lang.Double.doubleToLongBits(f.getDouble(0)) ===
              java.lang.Double.doubleToLongBits(g.getDouble(0)) &&
              f.getInt(1) === g.getInt(1),
              s"probe slot $slot diverged for vec ${r.getLong(0)} " +
                s"(codegen=$codegen nprobe=$nprobe): $f vs $g")
          }
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // plan text renders the matrix by shape and content, not JVM identity
    val nvAttr = org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("nv")
    assert(graft.functions.CentroidProbesExpr(nvAttr, cents.map(_.clone), 4).toString ===
      graft.functions.CentroidProbesExpr(nvAttr, cents.map(_.clone), 4).toString)
    // the parameter contract fails loudly
    intercept[IllegalArgumentException] {
      Similarity.probeStructs(col("nv"), cents, nlist + 1)
    }
    intercept[IllegalArgumentException] {
      Similarity.probeStructs(col("nv"), Array.empty[Array[Double]], 1)
    }
  }

  test("LshBucketExpr: bit-identical to the per-plane when-dot spelling it replaced (codegen + interpreted)") {
    def literalBucket(v: org.apache.spark.sql.Column,
        planes: Array[Array[Double]]) =
      planes.zipWithIndex.map { case (p, b) =>
        when(graft.functions.VectorOps.dot(v,
          array(p.map(lit).toIndexedSeq: _*)) > 0, lit(1L << b))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    val planes = Similarity.mdHyperplanes(tables = 1, bits = 16, dim = 8)(0)
    val vecs = Tables.embeddings(spark, sf).limit(64)
      .select(col("vec_id"),
        slice(graft.functions.VectorOps.asDouble(col("embedding")), 1, 8)
          .as("v"))
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val rows = vecs.select(col("vec_id"),
          Similarity.bucketId(col("v"), planes).as("fast"),
          literalBucket(col("v"), planes).as("ref")).collect()
        assert(rows.length === 64)
        rows.foreach(r => assert(r.getLong(1) === r.getLong(2),
          s"bucket diverged for vec ${r.getLong(0)} (codegen=$codegen)"))
        assert(rows.map(_.getLong(1)).distinct.length > 1,
          "fixture degenerate: all vectors hashed to one bucket")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    intercept[IllegalArgumentException] {
      Similarity.bucketId(col("v"), Array.empty[Array[Double]])
    }
  }

  test("PqCodesExpr: bit-identical to the literal per-subspace argmax it replaced (codegen + interpreted)") {
    // the literal spelling (round 16): per subspace an
    // array_max(array(struct(dot(sv, array(lit…)) − bias, j)…)) tree —
    // m·ksub literal arrays. Reconstructed as the reference.
    def literalCode(sv: org.apache.spark.sql.Column,
        book: Array[Array[Double]]) =
      array_max(array(book.zipWithIndex.map { case (c, j) =>
        val bias = c.map(x => x * x).sum / 2.0
        struct((graft.functions.VectorOps.dot(sv,
          array(c.map(lit).toIndexedSeq: _*)) - lit(bias)).as("d"),
          lit(j).as("i"))
      }.toIndexedSeq: _*)).getField("i")
    val m = 4
    val dsub = 4
    val ksub = 6
    // deterministic books with a duplicated entry per subspace (indices
    // 1 and 4 share values → exact ties exercise the larger-code branch)
    val books = Array.tabulate(m, ksub, dsub) { (s, j, t) =>
      val base = if (j == 4) 1 else j
      (((s * 131 + base * 31 + t) * 2654435761L) % 1013).toDouble / 1013.0 - 0.5
    }
    val vecs = Tables.embeddings(spark, sf).limit(64)
      .select(col("vec_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        transform(col("v"), x =>
          x / graft.functions.VectorOps.l2Norm(col("v"))).as("nv"))
      .select(col("vec_id"), slice(col("nv"), 1, m * dsub).as("nv"))
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val rows = vecs.select(
          (col("vec_id") +:
            Similarity.pqCodes(col("nv"), books, dsub).as("fast") +:
            (0 until m).map(s => literalCode(
              slice(col("nv"), s * dsub + 1, dsub), books(s)).as(s"r$s"))): _*)
          .collect()
        assert(rows.length === 64)
        rows.foreach { r =>
          val fast = r.getSeq[Int](1)
          val ref = (0 until m).map(s => r.getInt(2 + s))
          assert(fast === ref,
            s"codes diverged for vec ${r.getLong(0)} (codegen=$codegen): " +
              s"$fast vs $ref")
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    intercept[IllegalArgumentException] {
      Similarity.pqCodes(col("nv"), Array.empty[Array[Array[Double]]], dsub)
    }
  }

  test("HierCentroidProbesExpr: gprobe=ngroups equals exact selection; restricted selection equals brute force over probed members") {
    val dim = 8
    val nlist = 12
    val cents = Array.tabulate(nlist, dim) { (i, t) =>
      val base = if (i == 7) 3 else i
      (((base * 31 + t) * 2654435761L) % 1009).toDouble / 1009.0 - 0.5
    }
    val gcents = Similarity.trainCentroidGroups(cents, ngroups = 3, iters = 3)
    val groupOf = cents.map(Similarity.assignGroup(_, gcents))
    val vecs = Tables.embeddings(spark, sf).limit(64)
      .select(col("vec_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        transform(col("v"), x =>
          x / graft.functions.VectorOps.l2Norm(col("v"))).as("nv"))
      .select(col("vec_id"), slice(col("nv"), 1, dim).as("nv"))
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        // 1. probing EVERY group scores every member → bit-identical to
        //    the exact one-level selection
        val rows = vecs.select(col("vec_id"),
          Similarity.hierProbeStructs(col("nv"), gcents, cents,
            gprobe = 3, nprobe = 4).as("hier"),
          Similarity.probeStructs(col("nv"), cents, 4).as("exact")).collect()
        rows.foreach { r =>
          val h = r.getSeq[org.apache.spark.sql.Row](1)
          val e = r.getSeq[org.apache.spark.sql.Row](2)
          assert(h.map(x => (x.getDouble(0), x.getInt(1))) ===
            e.map(x => (x.getDouble(0), x.getInt(1))),
            s"gprobe=ngroups diverged from exact for vec ${r.getLong(0)} " +
              s"(codegen=$codegen)")
        }
        // 2. restricted selection (gprobe=1) == the exact selection over
        //    exactly the winning group's members, computed independently
        //    on the driver from the same doubles
        val one = vecs.select(col("vec_id"), col("nv"),
          Similarity.hierProbeStructs(col("nv"), gcents, cents,
            gprobe = 1, nprobe = 4).as("hier")).collect()
        one.foreach { r =>
          val v = r.getSeq[Double](1).toArray
          def dot(c: Array[Double]) = {
            var s = 0.0; var t = 0
            while (t < math.min(v.length, c.length)) { s += v(t) * c(t); t += 1 }
            s
          }
          val g = Similarity.assignGroup(v, gcents)
          val expect = cents.indices.filter(groupOf(_) == g)
            .map(i => (dot(cents(i)), i))
            .sortBy { case (d, i) => (-d, -i) }.take(4)
          val got = r.getSeq[org.apache.spark.sql.Row](2)
            .map(x => (x.getDouble(0), x.getInt(1)))
          assert(got === expect,
            s"gprobe=1 selection mismatch for vec ${r.getLong(0)} " +
              s"(codegen=$codegen): $got vs $expect")
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // plan text renders every matrix by shape and content, not JVM identity
    def hierText(): String = graft.functions.HierCentroidProbesExpr(
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("nv"),
      gcents.map(_.clone), groupOf.clone, cents.map(_.clone), 1, 4).toString
    assert(hierText() === hierText())
    // contracts fail loudly
    intercept[IllegalArgumentException] {
      Similarity.hierProbeStructs(col("nv"), gcents, cents, 4, 4) // gprobe > ngroups
    }
    intercept[IllegalArgumentException] {
      Similarity.trainCentroidGroups(cents, nlist + 1, 1)
    }
    // the production AUTO policy: exact selection below HierAutoNlist
    // (oracle-scale defaults stay bit-identical), two-level at 4 groups
    // above; explicit values pass through untouched
    assert(Similarity.resolveGprobe(-1, 16) === 0)
    assert(Similarity.resolveGprobe(-1, Similarity.HierAutoNlist - 1) === 0)
    assert(Similarity.resolveGprobe(-1, Similarity.HierAutoNlist) === 4)
    assert(Similarity.resolveGprobe(-1, 5120) === 4)
    assert(Similarity.resolveGprobe(0, 5120) === 0)
    assert(Similarity.resolveGprobe(2, 16) === 2)
  }

  test("quality classifier: published-weights margins recompute exactly, model beats the all-positive baseline") {
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files
      .createTempDirectory("graft-clf").toString
    val scores = Curation.qualityClassifierScores(docs, base, "clfspec")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(scores.length === docs.count())
    // third derivation: the margin from the PUBLISHED table + raw
    // token counts in plain JVM code — bit-exact per doc
    val w = Curation.publishedClassifierWeights(docs, base, "clfspec")
    assert(w.length === 65)
    val toks = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.tokens(col("text")).as("tks"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
    def bucket(t: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dsir:$t".getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        d.map(b => f"${b & 0xff}%02x").mkString.take(13), 16) % 64).toInt
    }
    val expect = toks.map { case (id, ts) =>
      val c = new Array[Long](64)
      ts.foreach(t => c(bucket(t)) += 1)
      val n = ts.size.toDouble
      var z = 0.0
      var j = 0
      while (j < 64) { z += (c(j).toDouble * 64 / n) * w(j); j += 1 }
      z += w(64)
      id -> (math.floor(z * 1e6 + 0.5) / 1e6, z >= 0.0)
    }.toMap
    scores.foreach { case (id, _, _, margin, pred) =>
      assert((margin, pred) === expect(id), s"doc $id margin diverged")
    }
    // the model LEARNED: accuracy beats predicting the majority class
    val acc = scores.count(s => s._5 == (s._2 == 1)).toDouble / scores.length
    val baseRate = math.max(
      scores.count(_._2 == 1), scores.count(_._2 == 0)).toDouble / scores.length
    assert(acc > baseRate,
      s"classifier does not beat the all-positive baseline: $acc <= $baseRate")
    assert(scores.exists(s => !s._5 && s._2 == 0),
      "no true negative — nothing was actually separated")
    // the eval row is consistent with the scored frame
    val ev = Curation.qualityClassifierEval(docs, base, "clfspec").head()
    assert(ev.getLong(0) === scores.length.toLong)
    assert(ev.getLong(1) === scores.count(s => s._5 && s._2 == 1).toLong)
    assert(ev.getLong(3) === scores.count(s => !s._5 && s._2 == 0).toLong)
    assert(ev.getDouble(5) === math.floor(
      (ev.getLong(1) + ev.getLong(3)).toDouble / ev.getLong(0) * 1e4 + 0.5) / 1e4)
  }

  test("dsir: weights tilt toward the target language, gram counts exact, sample is k-exact") {
    val docs = Tables.documents(spark, sf)
    val w = Curation.dsirLogWeights(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // every doc with >= 2 tokens scores, and its gram count is tokens-1
    val tokCounts = docs.select(col("doc_id"),
        size(graft.operators.TextAnalysis.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(w.keySet === tokCounts.filter(_._2 >= 2).keySet)
    w.foreach { case (id, (ng, _)) =>
      assert(ng === tokCounts(id) - 1L, s"doc $id gram count")
    }
    // THE point of DSIR: target-language docs carry higher importance
    val langs = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (en, rest) = w.toSeq.partition { case (id, _) => langs(id) == "en" }
    val enAvg = en.map(_._2._2).sum / en.size
    val restAvg = rest.map(_._2._2).sum / rest.size
    assert(enAvg > restAvg,
      s"target docs not up-weighted: en=$enAvg rest=$restAvg")
    assert(en.map(_._2._2).max > 0 && rest.map(_._2._2).min < 0,
      "weights never cross zero — fixture too weak to prove a tilt")
    // Gumbel top-k: exactly k rows, keys recompute from the weights
    val s1 = Curation.dsirSample(docs, k = 32).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(s1.length === 32)
    s1.foreach { case (id, lw, key) =>
      assert(lw === w(id)._2)
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dsir-s:$id".getBytes("UTF-8"))
      val u = java.lang.Long.parseLong(
        d.map(b => f"${b & 0xff}%02x").mkString.take(13), 16).toDouble /
        4503599627370496.0
      val g = -math.log(-math.log(math.max(u, 1.0e-15)))
      assert(key === math.floor((lw + g) * 1e9 + 0.5) / 1e9,
        s"doc $id sample key diverged from the hash-Gumbel recompute")
    }
    // the resample prefers heavy log-weights: sampled mean beats corpus mean
    val sampleAvg = s1.map(_._2).sum / s1.length
    val corpusAvg = w.values.map(_._2).sum / w.size
    assert(sampleAvg > corpusAvg, "importance resample shows no tilt")
  }

  test("weightedSample is exact-size, reproducible, and weight-biased") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val k = 20
    val a = Curation.weightedSample(docs, k).collect()
    val b = Curation.weightedSample(docs, k).collect()
    assert(a.length == k, s"expected exactly $k rows, got ${a.length}")
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq,
      "same salt must reproduce the same sample in the same order")
    // weight-proportional on a SKEWED synthetic corpus (the testdata's
    // weights are near-uniform, which carries no bias signal): 10 docs at
    // weight 5000 among 200 at weight 1 — an unweighted draw of 10 picks
    // ≈0.5 heavy docs, E-S with these weights picks nearly all of them
    val skewed = ((0L until 200L).map(i => (i, 1L)) ++
      (1000L until 1010L).map(i => (i, 5000L))).toDF("doc_id", "n_chars")
    val heavy = Curation.weightedSample(skewed, 10).collect()
      .map(_.getLong(0)).count(_ >= 1000L)
    assert(heavy >= 8, s"only $heavy/10 heavy docs selected — not weight-biased")
    // a different salt draws a different set
    val c = Curation.weightedSample(docs, k, salt = "other").collect()
    assert(c.map(_.getLong(0)).toSet != a.map(_.getLong(0)).toSet,
      "independent salts should not agree on the full selection")
  }

  test("sourceOverlap rows satisfy the set-algebra bounds") {
    val out = Curation.sourceOverlap(Tables.documents(spark, sf)).collect()
    assert(out.nonEmpty, "testdata sources share no shingles at all?")
    out.foreach { r =>
      val (inter, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (j, ca, cb) = (r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(inter >= 1 && inter <= math.min(na, nb),
        s"intersection out of bounds: $r")
      // jaccard ≤ each containment ≤ 1 (within the 6 dp rounding grain)
      assert(j <= ca + 5e-7 && j <= cb + 5e-7 && ca <= 1.0 && cb <= 1.0,
        s"set-algebra violation: $r")
      assert(r.getString(0) < r.getString(1), s"pair not canonical: $r")
    }
  }

  test("invertedIndex postings are doc-sorted, df-consistent, and head-capped") {
    val out = TextAnalysis.invertedIndex(
      Tables.documents(spark, sf), minDf = 2, maxPostings = 7).collect()
    assert(out.nonEmpty, "inverted index is empty")
    out.foreach { r =>
      val (term, df, postings) = (r.getString(0), r.getLong(1), r.getString(3))
      val entries = postings.split(",").map(_.split(":")(0).toLong).toSeq
      assert(entries == entries.sorted, s"postings unsorted for $term")
      assert(entries.length == math.min(df, 7L).toInt,
        s"head length ${entries.length} disagrees with df=$df (cap 7) for $term")
      assert(df >= 2, s"minDf leaked: $term df=$df")
    }
  }

  test("nearest as-of equals brute force over the user's orders, backward on ties") {
    val nearest = AsOfJoin.eventsToNearestOrder(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val orders = Tables.orders(spark, sf)
      // o_orderdate may arrive NTZ: route through session-tz timestamp
      // (UTC session → value-identical) before the epoch-seconds cast
      .select(col("o_custkey"),
        col("o_orderdate").cast("timestamp").cast("long"), col("o_orderkey"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) =>
        // min-id per (cust, time): the operator's dedup convention
        (k, rs.groupBy(_.getLong(1)).map { case (t, g) =>
          (t, g.map(_.getLong(2)).min)
        }.toSeq)
      }
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts").cast("long"))
      .collect()
    assert(events.nonEmpty && nearest.size === events.length)
    events.foreach { e =>
      val (eid, uid, ts) = (e.getLong(0), e.getLong(1), e.getLong(2))
      val got = nearest(eid)
      orders.get(uid).map(_.map { case (t, okMin) => (math.abs(t - ts), t, okMin) }) match {
        case None | Some(Seq()) =>
          assert(got.isNullAt(2), s"event $eid matched with no orders")
        case Some(cands) =>
          // smallest gap; ties prefer backward (t <= ts); then the
          // deduped min order id — mirror of the operator's contract
          val best = cands.minBy { case (gap, t, ok) => (gap, t > ts, ok) }
          assert(got.getLong(4) === best._1, s"event $eid gap")
          assert(got.getLong(2) === best._3, s"event $eid orderkey")
          assert(got.getString(3) === (if (best._2 <= ts) "backward" else "forward"),
            s"event $eid direction")
      }
    }
  }

  test("driftPsi: zero on identical snapshots, nonnegative, moved tail detected") {
    val docs = graft.engine.Tables.documents(spark, sf)
    // identical snapshots: every band share pair is equal → PSI exactly 0
    val same = graft.operators.Curation.driftPsi(docs, docs).collect()
    assert(same.nonEmpty)
    same.foreach { r =>
      assert(r.getDouble(3) === 0.0, s"psi nonzero on identical snapshots: $r")
      assert(!r.getBoolean(4))
    }
    // PSI terms (q−p)·ln(q/p) are individually nonnegative — any drift
    // can only raise the index
    val moved = graft.operators.Curation.driftPsi(
      docs, docs.where(col("n_chars") < 300)).collect()
    moved.foreach { r =>
      assert(r.getDouble(3) >= 0.0, s"negative psi: $r")
    }
    // chopping everything above the median length is a drift the gate
    // must see somewhere
    assert(moved.exists(_.getDouble(3) > 0.0), "hard length cut left psi at 0")
  }

  test("canaryScan: hand fixture confirms anchor prune + containment; equals direct scan on real data") {
    import spark.implicits._
    // d1 = the canary source; d2 embeds the full canary mid-text;
    // d3 shares a PARTIAL prefix only (anchor mismatch at token 5);
    // d4 carries the 8-token anchor but then diverges (candidate that
    // the containment confirm must drop)
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj kk ll"),
      (2L, "zz yy aa bb cc dd ee ff gg hh ii jj kk ll ww"),
      (3L, "aa bb cc dd XX ff gg hh ii jj kk ll"),
      (4L, "aa bb cc dd ee ff gg hh QQ rr ss tt"))
      .toDF("doc_id", "text")
    val canary = Seq((100L, "aa bb cc dd ee ff gg hh ii jj kk ll"))
      .toDF("canary_id", "canary_text")
    val got = Curation.canaryScan(docs, canary).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((100L, 1L, 1), (100L, 2L, 7)),
      s"hand fixture diverged: $got")
    // real data: anchor-join candidates lose nothing vs a direct
    // containment scan (a different plan computing the same answer)
    val real = Tables.documents(spark, sf)
    val canaries = real
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .where(col("doc_id") % 83 === 5 && size(col("toks")) >= 22)
      .select(col("doc_id").as("canary_id"),
        concat_ws(" ", slice(col("toks"), 11, 12)).as("canary_text"))
    val viaAnchors = Curation.canaryScan(real, canaries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = real
      .select(col("doc_id"),
        concat_ws(" ", TextAnalysis.tokens(col("text"))).as("nt"))
      .crossJoin(broadcast(canaries
        .select(col("canary_id"),
          concat_ws(" ", TextAnalysis.tokens(col("canary_text"))).as("cn"))))
      .where(instr(col("nt"), col("cn")) > 0)
      .select(col("canary_id"), col("doc_id"),
        instr(col("nt"), col("cn")).as("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaAnchors === direct, "anchor-pruned scan diverged from direct scan")
    // every canary finds at least its own source document
    val hitsBySelf = viaAnchors.map(h => (h._1, h._2))
    canaries.collect().map(_.getLong(0))
      .foreach(c => assert(hitsBySelf.contains((c, c)), s"canary $c lost its source"))
  }

  test("epochPlan: water-fill invariants hold and the budget is met to rounding") {
    val plan = Curation.epochPlan(Tables.documents(spark, sf)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(plan.nonEmpty)
    // epochs never exceed the cap and never go negative
    plan.foreach { case (s, _, cap, ep, _) =>
      assert(ep >= 0.0 && ep <= cap + 1e-9, s"$s epochs $ep vs cap $cap")
    }
    // every source strictly below its cap shares ONE water level λ
    val uncapped = plan.filter { case (_, _, cap, ep, _) => ep < cap - 1e-9 }
      .map(_._4).distinct
    assert(uncapped.size <= 1, s"multiple water levels: $uncapped")
    // capped sources sit exactly at their (integer) cap
    plan.filter { case (_, _, cap, ep, _) => ep >= cap - 1e-9 }
      .foreach { case (s, _, cap, ep, _) =>
        assert(ep === cap.toDouble, s"$s capped epochs $ep != $cap") }
    // the allocation meets the 2x-token target to per-source rounding,
    // unless the plan saturated (every source at cap)
    val target = 2L * plan.map(_._2).sum
    val alloc = plan.map(_._5).sum
    val saturated = uncapped.isEmpty
    if (!saturated)
      assert(math.abs(alloc - target) <= plan.length,
        s"alloc $alloc misses target $target")
    else assert(alloc <= target)
    // per-source allocation is the rounded product of its epochs
    plan.foreach { case (s, t, _, ep, a) =>
      assert(a === math.floor(ep * t + 0.5).toLong, s"$s alloc") }
    // deterministic: a second run is identical
    val again = Curation.epochPlan(Tables.documents(spark, sf)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(plan.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("temperatureMixture: quotas sum to k, track size^0.25, sample honors them") {
    val docs = Tables.documents(spark, sf)
    val grid = Curation.temperatureMixtureGrid(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    assert(grid.nonEmpty)
    // largest-remainder exactness: Σ quota = k, quotas within ±1 of k·p
    assert(grid.map(_._5).sum === 100, "quotas must sum to k exactly")
    grid.foreach { case (s, _, _, p, q) =>
      assert(math.abs(q - 100 * p) <= 1.0 + 1e-6, s"$s quota $q vs p $p")
    }
    // the α = 0.25 weights: recompute p from the collected sizes
    val wts = grid.sortBy(_._1)
      .map { case (s, _, sz, _, _) => s -> math.sqrt(math.sqrt(sz.toDouble)) }
    val tot = wts.map(_._2).foldLeft(0.0)(_ + _)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    grid.foreach { case (s, _, _, p, _) =>
      val expect = r6(wts.toMap.apply(s) / tot)
      assert(p === expect, s"$s p $p != $expect")
    }
    // temperature flattening: a bigger source never gets a SMALLER p
    val bySz = grid.sortBy(_._3)
    bySz.zip(bySz.tail).foreach { case ((_, _, s1, p1, _), (_, _, s2, p2, _)) =>
      assert(s1 > s2 || p1 <= p2 + 1e-12, "p must be monotone in size")
    }
    // the sample honors quotas exactly: per-source counts == quota,
    // draw ranks dense from 1, and the drawn set is hash-deterministic
    val sample = Curation.temperatureMixtureSample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(sample.length === 100)
    val byS = sample.groupBy(_._2)
    grid.foreach { case (s, _, _, _, q) =>
      val got = byS.getOrElse(s, Array.empty)
      assert(got.length === q, s"$s drew ${got.length} != quota $q")
      assert(got.map(_._3).sorted.toSeq === (1 to q), s"$s ranks not dense")
    }
    def hexFold(x: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"${b & 0xff}%02x").mkString.take(13), 16)
    }
    val docSrc = docs.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    grid.foreach { case (s, _, _, _, q) =>
      val expectIds = docSrc.filter(_._2 == s).map(_._1)
        .sortBy(id => (hexFold(s"tmix:$id"), id)).take(q).toSet
      assert(byS.getOrElse(s, Array.empty).map(_._1).toSet === expectIds,
        s"$s drew the wrong documents")
    }
  }

  test("published classifier warm-start: appended-docs refresh at half budget stays in the accuracy band") {
    import org.apache.hadoop.fs.Path
    val wh = java.nio.file.Files.createTempDirectory("graft-clf-warm").toString
    val docs = Tables.documents(spark, sf)
    val iters = 40
    // v1: cold publish at the full budget
    Curation.publishedClassifierWeights(docs, wh, "clf_warm", iters = iters)
    val pubPath = new Path(
      Curation.classifierWeightsPath(wh, "clf_warm", iters = iters))
    val fs = pubPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val notes1 = graft.engine.PublishGuard.readSidecarNotes(fs, pubPath)
    assert(notes1.get("schedule") === Some("cold") &&
      notes1.get("iters_run") === Some(iters.toString), s"cold: $notes1")
    // the data changes: 20 appended near-copies
    val docs2 = docs.unionByName(docs.where(col("doc_id") < 20).select(
      (col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit(" zqx")).as("text"),
      col("lang"), col("source"), (col("n_chars") + 4).as("n_chars")))
    graft.engine.PublishGuard.forget("classifier_weights")
    val warm = Curation.publishedClassifierWeights(docs2, wh, "clf_warm", iters = iters)
    val notes2 = graft.engine.PublishGuard.readSidecarNotes(fs, pubPath)
    assert(notes2.get("schedule") === Some("warm") &&
      notes2.get("iters_run") === Some((iters / 2).toString),
      s"warm refresh must run iters/2 and record it: $notes2")
    // accuracy band: the half-budget warm retrain must classify the NEW
    // corpus within 95% of a cold full-budget train (same mini-batch
    // schedule as the publisher's default)
    val cold = Curation.trainQualityClassifier(
      docs2, iters = iters, miniBatches = 4)
    def acc(w: Array[Double]): Double = {
      val rows = docs2.select(
        (Curation.classifierMarginExpr(
          graft.operators.TextAnalysis.tokens(col("text")), w) >= 0.0)
          .as("pred"),
        (graft.operators.TextAnalysis.langPredOf(
          graft.operators.TextAnalysis.tokens(col("text"))) === "en")
          .as("y"))
        .agg(avg(when(col("pred") === col("y"), 1.0).otherwise(0.0)))
        .head().getDouble(0)
      rows
    }
    val (aWarm, aCold) = (acc(warm), acc(cold))
    assert(aWarm >= 0.95 * aCold,
      f"warm half-budget accuracy $aWarm%.4f < 95%% of cold $aCold%.4f")
  }

  test("classifierCalibration: driver-side decile recompute; bins tile the margin axis") {
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files
      .createTempDirectory("graft-calib").toString
    val got = Curation.classifierCalibration(docs, base, "calib_spec")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    val scored = Curation
      .qualityClassifierScores(docs, base, "calib_spec").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
      .sortBy { case (id, _, m) => (m, id) }
    val n = scored.length
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    // SQL ntile closed form: first n % 10 bins take ceil(n/10)
    val expect = (1 to 10).map { b =>
      val q = n / 10; val r = n % 10
      val start = if (b <= r) (b - 1) * (q + 1) else r * (q + 1) + (b - 1 - r) * q
      val len = if (b <= r) q + 1 else q
      val rows = scored.slice(start, start + len)
      (b, rows.length.toLong, rows.count(_._2 == 1).toLong,
        r4(rows.count(_._2 == 1).toDouble / rows.length),
        rows.map(_._3).min, rows.map(_._3).max)
    }
    assert(got.toSeq === expect, "calibration deciles diverged")
    // bins tile the corpus and the margin axis monotonically
    assert(got.map(_._2).sum === n.toLong)
    got.zip(got.tail).foreach { case (a, b) =>
      assert(a._6 <= b._5 + 1e-12, s"bin ${a._1} hi > bin ${b._1} lo")
    }
  }

  test("curationFunnel: cumulative stages, consistent with the curated corpus") {
    val docs = Tables.documents(spark, sf)
    val clusters = graft.operators.Dedup.sharedNearDupClusters(docs, cacheKey = sf)
    val got = Curation.curationFunnel(docs, clusters).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(got.map(t => (t._1, t._2)).toSeq ===
      Seq((1, "ingest"), (2, "canonical"), (3, "lang_en"), (4, "quality")))
    // a funnel only narrows
    got.zip(got.tail).foreach { case ((_, _, n1, t1, _), (_, _, n2, t2, _)) =>
      assert(n2 <= n1 && t2 <= t1, "funnel widened")
    }
    // stage 1 is the corpus; stage 4 equals the curated corpus exactly
    assert(got.head._3 === docs.count())
    val curated = Curation.curatedCorpusFromClusters(docs, clusters)
    assert(got.last._3 === curated.count(), "quality stage != curated corpus")
    assert(got.last._4 ===
      curated.agg(sum("n_tokens")).collect()(0).getLong(0))
    // retained is the exact ratio to ingest
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    got.foreach { case (_, g, n, _, ret) =>
      assert(ret === r6(n.toDouble / got.head._3.toDouble), s"$g retained")
    }
  }
}
