package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators.Dedup

/** Anchors the non-oracle-checkable LSH operators (xxhash64-based) to the
  * exact, oracle-checked n-gram jaccard pairs: LSH candidates must recover
  * the planted near-dup structure of the testdata (pairs ≥0.9 jaccard,
  * background <0.3 — verified empirically, see Dedup scaladoc).
  */
class DedupSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.engine.Sessions
    .builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private def truePairs: Set[(Long, Long)] =
    Dedup.ngramJaccardPairs(Tables.documents(spark, sf))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH recovers the exact-jaccard near-dup pairs") {
    val exact = truePairs
    assert(exact.nonEmpty, "testdata should contain planted near-dup pairs")
    val lsh = Dedup.minhashLshPairs(Tables.documents(spark, sf))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8x4 banding at j>=0.9 has ~100% candidate probability; estimation
    // noise on 32 hashes can drop a pair at the 0.5 cutoff, so require
    // high recall and full precision rather than exact equality.
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low (exact=$exact lsh=$lsh)")
    assert((lsh -- exact).isEmpty, s"LSH false positives: ${lsh -- exact}")
  }

  test("minhash search equals brute-force exact jaccard; every query finds its seed") {
    val docs = Tables.documents(spark, sf)
    val queries = Dedup.syntheticQueryDocs(docs)
    val got = Dedup.minhashSearch(docs, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute-force truth: exact shingle jaccard of every query against
    // every document (the quadratic small-SF verifier)
    def shingleSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[String]] =
      df.select(org.apache.spark.sql.functions.col("doc_id"),
          Dedup.shingles(org.apache.spark.sql.functions.col("text")))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val qs = shingleSets(queries)
    val ds = shingleSets(docs)
    val expect = (for {
      (qid, sa) <- qs.toSeq; (did, sb) <- ds.toSeq
      inter = (sa & sb).size.toDouble
      j = inter / (sa.size + sb.size - inter)
      if j >= 0.5
    } yield (qid, did, j)).toSet
    assert(got === expect,
      s"band-index search diverged from brute force (missing=${expect -- got})")
    // the one-token perturbation keeps every query >= 0.5 to its seed
    qs.keys.foreach { qid =>
      assert(got.exists(t => t._1 == qid && t._2 == qid - (1L << 43)),
        s"query $qid did not find its seed")
    }
  }

  test("simhash candidate pairs overlap the true near-dups") {
    val exact = truePairs
    val sim = Dedup.simhashPairs(Tables.documents(spark, sf))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & sim).size.toDouble / exact.size
    assert(recall >= 0.6, s"simhash recall $recall too low")
  }

  test("exact dedup keeps one row per distinct normalized text") {
    val docs = Tables.documents(spark, sf)
    val n = Dedup.exactDedup(docs).count()
    assert(n > 0 && n <= docs.count())
  }

  test("embedding cosine pairs are symmetric-free and above threshold") {
    val pairs = Dedup.embeddingCosinePairs(Tables.embeddings(spark, sf), 0.4)
      .collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(r => r.getDouble(2) >= 0.4))
  }

  private def naiveJaccardPairs(
      docs: org.apache.spark.sql.DataFrame,
      threshold: Double): Set[(Long, Long, Double)] = {
    import org.apache.spark.sql.functions._
    val e = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("shs"))
    val a = e.select(col("doc_id").as("doc_a"), col("shs").as("sa"))
    val b = e.select(col("doc_id").as("doc_b"), col("shs").as("sb"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (size(col("sa")) + size(col("sb")) - col("inter"))
          .cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("prefix-filtered jaccard equals the naive all-pairs form") {
    val docs = Tables.documents(spark, sf)
    val naive = naiveJaccardPairs(docs, 0.5)
    val fast = Dedup.ngramJaccardPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == naive, s"prefix filter diverged: missing=${naive -- fast} extra=${fast -- naive}")
  }

  test("prefix filter stays complete at a non-dyadic threshold") {
    // 0.3 is not exactly representable in binary: the prefix length must
    // still use the mathematical ceil(t·n) (Dedup guards the double ceil
    // with an epsilon), or a boundary pair silently drops out
    val docs = Tables.documents(spark, sf)
    val naive = naiveJaccardPairs(docs, 0.3)
    val fast = Dedup.ngramJaccardPairs(docs, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty, "expected pairs at the lower threshold")
    assert(fast == naive, s"prefix filter diverged at t=0.3: missing=${naive -- fast} extra=${fast -- naive}")
  }

  test("documents with fewer than k tokens flow through every shingle path") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, ""),
      (2L, "one"),
      (3L, "two words"),
      (4L, "the quick brown fox jumps over the lazy dog runs far"),
      (5L, "the quick brown fox jumps over the lazy dog runs far")
    ).toDF("doc_id", "text")
    val shs = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(shs(1L).isEmpty && shs(2L).isEmpty && shs(3L).isEmpty)
    assert(shs(4L).nonEmpty)
    // pair + signature + cluster paths must not throw on the tiny docs and
    // must pair exactly the planted twins
    val pairs = Dedup.ngramJaccardPairs(docs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 5L)), s"got $pairs")
    val lsh = Dedup.minhashLshPairs(docs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((4L, 5L)), s"got $lsh")
    val clusters = Dedup.nearDupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 4L))
  }

  test("grid-blocked embedding pairs equal the exact all-pairs output") {
    val exact = Dedup.embeddingCosinePairs(Tables.embeddings(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = Dedup.embeddingCosinePairsBlocked(Tables.embeddings(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "testdata should contain planted embedding near-dups")
    assert(blocked == exact,
      s"blocked path diverged: missing=${exact -- blocked} extra=${blocked -- exact}")
  }

  test("LSH embedding near-dup candidates have measurable recall vs exact") {
    val exact = Dedup.embeddingCosinePairs(Tables.embeddings(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // this corpus's qualifying pairs sit at θ ≈ 60° — the hard regime for
    // sign-LSH (16×8-bit default recall ≈ 0.3 here, by design; see
    // scaladoc). 4-bit buckets fit this angle: per-table match prob
    // (1−θ/π)^4 ≈ 0.18, 16 tables → recall ≈ 0.95.
    val lsh = Dedup.embeddingNearDupPairs(Tables.embeddings(spark, sf), bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((lsh -- exact).isEmpty, s"LSH false positives: ${lsh -- exact}")
    val recall = if (exact.isEmpty) 1.0 else (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"sign-LSH recall collapsed: $recall")
  }

  test("cross-corpus prefix join equals the naive cross jaccard") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val naive = naiveJaccardPairs(docs, 0.5).flatMap { case (a, b, j) =>
      if (a % 5 == 0 && b % 5 != 0) Some((a, b, j))
      else if (b % 5 == 0 && a % 5 != 0) Some((b, a, j))
      else None
    }
    val fast = Dedup.crossCorpusPairs(
      docs.where(col("doc_id") % 5 === 0),
      docs.where(col("doc_id") % 5 =!= 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty, "expected planted pairs to straddle the split")
    assert(fast == naive,
      s"cross-corpus diverged: missing=${naive -- fast} extra=${fast -- naive}")
  }

  test("simhash bucket cap keeps candidates sub-quadratic on a template flood") {
    import spark.implicits._
    // 400 near-identical template docs: simhash votes are dominated by the
    // shared 60-token template, so (almost) all docs agree on all four
    // 16-bit bands and pile into the same buckets — the degenerate corpus
    // where the uncapped band join goes m²
    val template = (1 to 60).map(i => s"tok$i").mkString(" ")
    val m = 400
    val docs = (1 to m).map(i => (i.toLong, s"$template unique$i extra$i"))
      .toDF("doc_id", "text")
    val cap = 25
    val uncapped = Dedup.simhashCandidates(docs, bucketCap = Int.MaxValue).count()
    val capped = Dedup.simhashCandidates(docs, bucketCap = cap).count()
    // flood sanity: the uncapped join really is ~quadratic (≥ half of all
    // m(m-1)/2 pairs collide in some band)
    assert(uncapped >= m.toLong * (m - 1) / 4, s"flood not quadratic: $uncapped")
    // capped volume: each of the 4 bands splits a hot bucket of size m into
    // s = ceil(m/cap) salt groups → ≤ m·cap/2 same-salt pairs per band,
    // ≤ 2·m·cap over the union; allow 1.5× for salting imbalance
    assert(capped <= 3L * m * cap,
      s"capped candidates not linear in m: $capped > ${3L * m * cap}")
    assert(capped < uncapped / 2,
      s"cap had no effect: $capped vs uncapped $uncapped")
  }

  test("simhash recall survives an aggressive bucket cap on the real corpus") {
    val exact = truePairs
    // cap=2 forces every bucket of size ≥ 3 to sub-split (s small → per-band
    // survival 1/s with four independent band chances) — recall must degrade
    // gracefully, not collapse
    val sim = Dedup.simhashPairs(Tables.documents(spark, sf), bucketCap = 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & sim).size.toDouble / exact.size
    assert(recall >= 0.6, s"capped simhash recall $recall too low")
  }

  test("minhash bucket cap bounds an exact-dup flood's band join") {
    import spark.implicits._
    // m identical docs → identical signatures → every band lands in ONE
    // bucket: the minhash analog of the simhash template flood
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val m = 400
    val docs = (1 to m).map(i => (i.toLong, s"$text")).toDF("doc_id", "text")
    val uncapped = Dedup.minhashLshPairs(docs).count()
    // flood sanity: uncapped really is all-pairs quadratic
    assert(uncapped == m.toLong * (m - 1) / 2, s"flood not quadratic: $uncapped")
    val cap = 25
    val capped = Dedup.minhashLshPairs(docs, bucketCap = cap).count()
    // s = ceil(m/cap) = 16 salt groups; a pair survives a band with
    // probability 1/s and gets 8 independent band chances:
    // E[recall] = 1-(1-1/16)^8 ≈ 0.40. The salt is a deterministic hash,
    // so bound loosely rather than pin the value.
    val recall = capped.toDouble / uncapped
    assert(recall > 0.2 && recall < 0.7,
      s"capped flood recall $recall outside the 1-(1-1/s)^bands envelope")
  }

  test("minhash recall survives an aggressive bucket cap on the real corpus") {
    val exact = truePairs
    val mh = Dedup.minhashLshPairs(Tables.documents(spark, sf), bucketCap = 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & mh).size.toDouble / exact.size
    assert(recall >= 0.5, s"capped minhash recall $recall too low")
  }

  test("SQL-simhash banded pairs equal the all-pairs hamming filter") {
    val docs = Tables.documents(spark, sf)
    val sigs = Dedup.simhashSqlSignatures(docs)
    // brute-force reference: every pair within hamming 5, no banding
    val brute = sigs.as("a").join(sigs.as("b"),
        org.apache.spark.sql.functions.col("a.doc_id") <
          org.apache.spark.sql.functions.col("b.doc_id"))
      .select(
        org.apache.spark.sql.functions.col("a.doc_id").as("doc_a"),
        org.apache.spark.sql.functions.col("b.doc_id").as("doc_b"),
        org.apache.spark.sql.functions.bit_count(
          org.apache.spark.sql.functions.col("a.simhash").bitwiseXOR(
            org.apache.spark.sql.functions.col("b.simhash"))).cast("int").as("hamming"))
      .where(org.apache.spark.sql.functions.col("hamming") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = Dedup.simhashSqlPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // 6x8-bit banding is pigeonhole-complete for hamming <= 5: the banded
    // equi-join must find EXACTLY the brute-force set
    assert(banded == brute,
      s"missing=${brute -- banded} extra=${banded -- brute}")
    assert(brute.nonEmpty, "expected planted near-dups within hamming 5")
  }

  test("SQL-simhash bucket cap bounds an identical-signature flood") {
    import spark.implicits._
    // m identical docs → identical 48-bit signatures → one bucket per band
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val m = 300
    val docs = (1 to m).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val uncapped = Dedup.simhashSqlPairs(docs).count()
    assert(uncapped == m.toLong * (m - 1) / 2, s"flood not quadratic: $uncapped")
    val capped = Dedup.simhashSqlPairs(docs, bucketCap = 20).count()
    // s = 15 salt groups, 6 band chances: E[recall] = 1-(1-1/15)^6 ≈ 0.34
    val recall = capped.toDouble / uncapped
    assert(recall > 0.15 && recall < 0.6,
      s"capped SQL-simhash flood recall $recall outside the envelope")
  }

  test("verified minhash LSH pairs are value-identical to exact jaccard") {
    val docs = Tables.documents(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // same pair set AND same jaccard values (both sides compute the exact
    // shingle jaccard; banding recall is 1.0 on the planted structure)
    assert(rows(Dedup.minhashLshVerifiedPairs(docs)) ==
      rows(Dedup.ngramJaccardPairs(docs)))
  }

  test("shared cluster table equals the live computation and computes once") {
    val docs = Tables.documents(spark, sf)
    def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val key = s"dedupspec-${System.nanoTime()}" // fresh memo entry
    val first = Dedup.sharedNearDupClusters(docs, cacheKey = key)
    assert(toMap(first) == toMap(Dedup.nearDupClusters(docs)))
    // second call must READ the published table, not recompute: same
    // parquet files back both frames
    val second = Dedup.sharedNearDupClusters(docs, cacheKey = key)
    assert(first.inputFiles.nonEmpty &&
      first.inputFiles.toSet == second.inputFiles.toSet)
  }

  test("warehouse-published cluster table survives a fresh session") {
    val docs = Tables.documents(spark, sf)
    def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = java.nio.file.Files
      .createTempDirectory("graft-warehouse").toString
    val key = s"warehouse-${System.nanoTime()}"
    val published = toMap(
      Dedup.sharedNearDupClusters(docs, cacheKey = key, baseDir = base))
    assert(published == toMap(Dedup.nearDupClusters(docs)))
    // the table must be COMMITTED on the shared dir (the _SUCCESS marker is
    // the cross-session contract), under a path derived from the key
    val tableDirs = new java.io.File(s"$base/near_dup_clusters").listFiles()
    assert(tableDirs != null && tableDirs.length == 1 &&
      tableDirs.head.getName.startsWith(key) &&
      new java.io.File(tableDirs.head, "_SUCCESS").isFile)
    // fresh session: drop the in-JVM memo, ask for the same key with the
    // same docs — the result must come from the PUBLISHED table (its
    // input files live under the warehouse dir), not a recompute
    graft.engine.PublishGuard.forget("near_dup_clusters")
    val rereadDf = Dedup.sharedNearDupClusters(docs, cacheKey = key, baseDir = base)
    assert(rereadDf.inputFiles.nonEmpty &&
      rereadDf.inputFiles.forall(_.contains("near_dup_clusters")),
      "fresh-session reuse did not read the published warehouse table")
    assert(toMap(rereadDf) == published)
    // stale key: same key, DIFFERENT data ⇒ the fingerprint sidecar makes
    // this a loud error, never a silently-served stale cluster table
    graft.engine.PublishGuard.forget("near_dup_clusters")
    val decoy = docs.limit(10)
    val err = intercept[IllegalStateException] {
      Dedup.sharedNearDupClusters(decoy, cacheKey = key, baseDir = base).count()
    }
    assert(err.getMessage.contains("DIFFERENT input"))
  }

  test("warehouse dir can come from the session conf instead of the argument") {
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files
      .createTempDirectory("graft-warehouse-conf").toString
    spark.conf.set("spark.graft.warehouse.dir", base)
    try {
      val key = s"confwh-${System.nanoTime()}"
      Dedup.sharedNearDupClusters(docs, cacheKey = key).count()
      val tableDirs = new java.io.File(s"$base/near_dup_clusters").listFiles()
      assert(tableDirs != null && tableDirs.exists(d =>
        d.getName.startsWith(key) && new java.io.File(d, "_SUCCESS").isFile),
        "conf-provided warehouse dir was not used for the publish")
    } finally spark.conf.unset("spark.graft.warehouse.dir")
  }

  test("clusters from LSH pairs match clusters from exact pairs") {
    val docs = Tables.documents(spark, sf)
    def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = toMap(Dedup.nearDupClusters(docs))
    val viaLsh = toMap(Dedup.clustersFromPairs(docs,
      Dedup.minhashLshPairs(docs).select("doc_a", "doc_b")))
    // cluster ids are canonical (min doc_id), so equal maps ⇔ equal clustering
    assert(viaLsh == exact)
  }

  test("containmentPairs equals the all-pairs verifier (prefix filter is complete)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup.shinglesOf
    import graft.operators.TextAnalysis.tokens
    val docs = Tables.documents(spark, sf)
    // quadratic verifier (test-only): every ordered pair, same shingle +
    // containment math, no candidate pruning — any pair the prefix
    // filter drops incorrectly shows up here
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(transform(shinglesOf(col("toks"), 3),
          s => xxhash64(s))).as("shs"))
    val a = base.select(col("doc_id").as("doc_a"), col("shs").as("sa"))
    val b = base.select(col("doc_id").as("doc_b"), col("shs").as("sb"))
    val expected = a.join(b, col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(col("sa")).cast("double")).as("c"))
      .where(col("c") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Dedup.containmentPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "testdata should contain containment pairs")
    assert(got === expected,
      s"missing=${expected -- got} spurious=${got -- expected}")
    // asymmetry sanity (synthetic, dataset-independent): a short excerpt
    // of a long document scores containment 1.0 while its jaccard stays
    // far below the 0.5 near-dup threshold — the pair class this
    // operator exists for and ngramJaccardPairs structurally misses
    import spark.implicits._
    val words = (0 until 40).map(i => s"w$i")
    val long = (9000L, words.mkString(" "))
    val excerpt = (9001L, words.take(15).mkString(" "))
    val tiny = Seq(long, excerpt).toDF("doc_id", "text")
    val cPair = Dedup.containmentPairs(tiny)
      .where(col("doc_a") === 9001L && col("doc_b") === 9000L)
      .collect()
    assert(cPair.length === 1 && cPair.head.getDouble(2) === 1.0,
      "excerpt must be fully contained in its source")
    assert(Dedup.ngramJaccardPairs(tiny).count() === 0,
      "the same pair must stay below the jaccard near-dup threshold")
  }

  test("editDistanceJoin equals the brute-force pair set on an adversarial alphabet") {
    import spark.implicits._
    // 2-letter alphabet, lengths 4-9: distances 0..k+1 all occur densely,
    // segment blocking gets maximal collision pressure, and the length
    // band is exercised from both sides
    val rnd = new scala.util.Random(42)
    val strs = (0 until 120).map { i =>
      val len = 4 + rnd.nextInt(6)
      (i.toLong, (0 until len).map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString)
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (k <- Seq(1, 2, 3)) {
      val expected = (for {
        (ia, sa) <- strs; (ib, sb) <- strs
        if ia < ib && math.abs(sa.length - sb.length) <= k && lev(sa, sb) <= k
      } yield (ia, ib, lev(sa, sb))).toSet
      val got = Dedup.editDistanceJoin(strs.toDF("id", "s"), k)
        .as[(Long, Long, Int)].collect().toSet
      assert(got === expected,
        s"k=$k: missing=${expected -- got} spurious=${got -- expected}")
    }
  }

  test("editDistanceJoin equals brute force on mixed short/long corpora") {
    import spark.implicits._
    // lengths 0..9 inclusive: empty strings, 1- and 2-char strings (the
    // former raise_error domain hole, now the length-bucketed fallback
    // path), lengths k+1..2k (PassJoin members that are also fallback
    // partners — the cross-path seam), and longer PassJoin-only strings
    val rnd = new scala.util.Random(7)
    val strs = (0 until 100).map { i =>
      val len = rnd.nextInt(10)
      (i.toLong, (0 until len).map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString)
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (k <- Seq(1, 2, 3)) {
      val expected = (for {
        (ia, sa) <- strs; (ib, sb) <- strs
        if ia < ib && lev(sa, sb) <= k
      } yield (ia, ib, lev(sa, sb))).toSet
      // sanity on the fixture: each pair class must actually occur
      val short = strs.filter(_._2.length <= k).map(_._1).toSet
      val longs = strs.filter(_._2.length >= k + 1).map(_._1).toSet
      assert(expected.exists(p => short(p._1) && short(p._2)),
        s"k=$k fixture lacks short-short pairs")
      assert(expected.exists(p =>
        (short(p._1) && longs(p._2)) || (longs(p._1) && short(p._2))),
        s"k=$k fixture lacks short-long seam pairs")
      assert(expected.exists(p => longs(p._1) && longs(p._2)),
        s"k=$k fixture lacks PassJoin pairs")
      val got = Dedup.editDistanceJoin(strs.toDF("id", "s"), k)
        .as[(Long, Long, Int)].collect().toSet
      assert(got === expected,
        s"k=$k: missing=${expected -- got} spurious=${got -- expected}")
    }
  }

  test("containment salting bounds per-key postings and preserves the pair set") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val cap = 8 // force salting: sf0.001 hot shingles have df well above 8
    // assert on the REAL B-side frame containmentPairs joins
    val (_, _, shB) = Dedup.containmentPlan(docs, 3, 0.8, cap)
    val counts = shB.groupBy(col("sh"), col("salt"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"), sum(when(col("salt") > 0, 1L)).as("salted"))
      .collect().head
    // hash scatter is binomial around df/nsalt, not adversarial — pin the
    // documented 2x margin, and that the lever actually engaged
    assert(counts.getLong(0) <= 2L * cap,
      s"max per-(sh,salt) postings ${counts.getLong(0)} exceeds 2x cap $cap")
    assert(counts.getLong(1) > 0L, "no shingle was salted — cap lever inert")
    // identical pair set at a forcing cap vs the default (uncapped at this SF)
    def pairs(hotCap: Int): Set[(Long, Long, Double)] =
      Dedup.containmentPairs(docs, hotShingleCap = hotCap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = pairs(cap)
    val default = pairs(4096)
    assert(salted.nonEmpty && salted === default,
      s"salting changed the pair set: only-salted=${salted -- default} " +
        s"only-default=${default -- salted}")
  }

  test("duplicatedSpans merges overlapping duplicated windows into maximal spans") {
    import spark.implicits._
    // two docs share the 10-token run t0..t9 (doc 3 repeats it internally);
    // doc 2 is all-unique filler, doc 4 is too short to carry any 8-gram
    val run = (0 until 10).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run alpha beta gamma delta epsilon zeta eta theta"),
      (2L, (0 until 30).map(i => s"u$i").mkString(" ")),
      (3L, s"$run filler0 filler1 filler2 filler3 filler4 filler5 filler6 filler7 $run"),
      (4L, "short doc only"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, n = 8, hashKeys = false)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // doc 1: windows 0..2 duplicated → span tokens 0..9
    // doc 3: the run at 0..9 and again at 18..27; the unique filler gap is
    //   10 tokens wide so the islands stay separate (gap > n)
    assert(spans.toSeq === Seq(
      (1L, 0, 9, 10), (3L, 0, 9, 10), (3L, 18, 27, 10)), s"got ${spans.toSeq}")
  }

  test("hash-keyed duplicatedSpans equals the string-keyed form on testdata") {
    val docs = Tables.documents(spark, sf)
    val hashed = Dedup.duplicatedSpans(docs, hashKeys = true)
    val plain = Dedup.duplicatedSpans(docs, hashKeys = false)
    assert(hashed.exceptAll(plain).isEmpty && plain.exceptAll(hashed).isEmpty,
      "xxhash64-keyed spans diverge from string-keyed spans")
    assert(plain.count() > 0,
      "testdata should contain duplicated 8-gram spans (planted near-dups)")
  }
}
