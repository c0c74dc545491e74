package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.{OpCache, Partitioning, PublishGuard}
import graft.functions.VectorOps

/** Deduplication operators for a training-data pipeline, over `documents`
  * (text) and `embeddings` (array<float> vectors).
  *
  * Scale design (100 TB):
  *  - Exact dedup is a hash-groupBy — one shuffle on a 16-byte key.
  *  - MinHash+LSH is the scale path for near-dup text: cost is
  *    O(n · shingles) for signatures plus a band-bucket join whose fan-out
  *    is bounded by bucket size — never the O(n²) all-pairs of
  *    [[ngramJaccardPairs]] (which exists as the exact verifier / oracle
  *    anchor and for small blocked domains).
  *  - SimHash is one 64-bit signature per doc; candidate pairs come from
  *    16-bit band buckets (hamming-LSH), verified with bit_count(xor).
  *  - Embedding near-dup: [[embeddingCosinePairsBlocked]] is the exact
  *    scale path (grid-blocked all-pairs, the distributed-GEMM topology);
  *    [[embeddingNearDupPairs]] is the sign-LSH approximate path for the
  *    high-threshold near-dup regime; the naive all-pairs form is the
  *    small-SF verifier.
  */
object Dedup {

  import TextAnalysis.{normalize, tokens}

  /** Word k-shingles of a token-array column. Pass a MATERIALIZED token
    * column (an attribute), not an inline `tokens(text)` expression: HOF
    * lambdas re-evaluate captured expression subtrees per array element,
    * so an inline tokenizer costs one regex split per SHINGLE instead of
    * per row (~10× on the profile).
    *
    * Docs with fewer than k tokens have no k-shingle and yield an empty
    * array — the `when` guard matters: `sequence(1, size-(k-1))` would
    * otherwise DESCEND for short docs (sequence(1, 0) = [1, 0]) and
    * `slice(toks, 0, k)` throws on index 0.
    */
  def shinglesOf(toks: Column, k: Int = 3): Column =
    when(size(toks) >= k,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k))))))
      .otherwise(lit(Array.empty[String]))

  /** Word k-shingles of the normalized text (default k=3). Convenience
    * form for small inputs/tests; hot paths materialize the token column
    * first and use [[shinglesOf]].
    */
  def shingles(text: Column, k: Int = 3): Column = shinglesOf(tokens(text), k)

  /** The per-doc hashed-shingle-set frame (doc_id, shs) every exact
    * set-similarity operator starts from — one definition shared by the
    * live paths and the [[sharedDocShingles]] publisher.
    */
  private def shingleBase(docs: DataFrame, k: Int): DataFrame =
    Partitioning.ensureParallelism(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(transform(shinglesOf(col("toks"), k),
          s => xxhash64(s))).as("shs"))

  /** The (doc_id, shs) shingle-set frame computed ONCE per (cacheKey, k)
    * and PUBLISHED — the walk-corpus discipline applied to the text
    * set-similarity family: `dedup_ngram_jaccard`, `dedup_containment`,
    * and `dedup_cross_corpus` each re-ran the identical tokenize +
    * shingle + hash pass per call (round 18). k rides the params slug;
    * the fingerprint pins (doc_id, text). `cacheKey` must encode the
    * data version (pass `""` to compute live).
    */
  def sharedDocShingles(
      docs: DataFrame, cacheKey: String, k: Int = 3,
      baseDir: String = ""): DataFrame =
    if (cacheKey.isEmpty) shingleBase(docs, k)
    else {
      val fp = graft.engine.PublishGuard.fingerprint(
        docs, Seq(col("doc_id"), col("text")))
      graft.engine.PublishGuard.sharedTableWithNotes(
        docs.sparkSession, baseDir, "doc_shingles", cacheKey, Seq(s"k$k"),
        fp, "doc shingle-set table")(() => shingleBase(docs, k))._1
    }

  /** Exact dedup: group documents by the md5 of their normalized text; keep
    * the smallest doc_id as canonical, count group size. One shuffle on the
    * digest — the canonical exact-dedup plan at any scale.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    Partitioning.ensureParallelism(docs, col("doc_id"))
      .select(col("doc_id"), md5(normalize(col("text"))).as("fp_exact"))
      .groupBy(col("fp_exact"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups", "fp_exact")

  /** Exact n-gram (word-shingle) Jaccard similarity for all pairs above a
    * threshold, via prefix filtering (SSJoin/PPJoin): order each document's
    * shingles rarest-first by global document frequency, posting-join only
    * on each doc's prefix (the first `n - ceil(t·n) + 1` shingles), then
    * verify candidates with an exact `array_intersect`.
    *
    * Completeness proof (why the prefix join misses nothing): J(A,B) ≥ t
    * implies |A∩B| ≥ t·max(|A|,|B|) ≥ t·|A|. If A and B shared no shingle
    * in A's prefix, every shared shingle would sit in A's last
    * `ceil(t·|A|) − 1` positions, so |A∩B| < t·|A| — contradiction. The
    * (df, shingle) sort key is a total order, so both docs rank a shared
    * shingle identically.
    *
    * Scale: the join fans out only on prefix postings of the RAREST
    * shingles — hot template shingles (high df) sort last and drop out of
    * prefixes, so Σ freq² blowup on skewed corpora is capped; the verify
    * step is one equi-join per candidate pair. The per-doc shingle arrays
    * are computed once (persisted) and reused by both verify sides.
    * Shingles are carried as 64-bit xxhash64 keys end to end, so the
    * posting/verify shuffles move fixed-width longs instead of ~20-byte
    * strings; a hash collision could merge two shingles (probability
    * ≈ shingles²/2⁶⁴ — vanishing, and the DuckDB oracle computes the
    * string form, so any effect would surface as a hash mismatch).
    */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.5,
      shingles: Option[DataFrame] = None): DataFrame = {
    // materialize once: the posting explode + both verify joins reuse it
    // (OpCache so callers can free the blocks once done — see OpCache doc).
    // A published shingle table ([[sharedDocShingles]]) IS materialized
    // storage, so it serves directly.
    val base = shingles.getOrElse(OpCache.materialize(shingleBase(docs, k)))
    val sh = base.select(col("doc_id"), explode(col("shs")).as("sh"))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val ordered = sh.join(dfreq, "sh")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("df"), col("sh"))).as("ord"))
      .select(col("doc_id"),
        transform(array_sort(col("ord")), s => s.getField("sh")).as("ord"))
    // required overlap is the mathematical ceil(t·n); double arithmetic can
    // land an exactly-representable product a hair ABOVE the true value for
    // non-dyadic thresholds (e.g. 0.3), and ceil would then overshoot by one
    // and shorten the prefix — the epsilon keeps ceil on the correct side
    val plen = (size(col("ord")) -
      ceil(size(col("ord")) * lit(threshold) - lit(1e-9)) + 1).cast("int")
    // the prefix postings feed BOTH sides of the candidate self-join, and
    // the subplan above them (dfreq join + collect_list + per-doc sort) is
    // expensive; the static plan shows no ReusedExchange for the two
    // sides, so materialize once (slim rows: two longs each)
    val prefix = OpCache.materialize(ordered
      .select(col("doc_id"), explode(slice(col("ord"), lit(1), plen)).as("sh")))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(base.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter") /
          (size(col("sa")) + size(col("sb")) - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact shingle-CONTAINMENT pairs: c(A→B) = |A∩B| / |A| ≥ threshold,
    * A ≠ B — the asymmetric near-dup modality: a short document whose
    * shingles mostly appear inside a longer one (an excerpt, a quote, a
    * template instantiation) scores high containment while its Jaccard
    * stays low (the union is dominated by the long side), so
    * [[ngramJaccardPairs]] never sees it.
    *
    * Prefix filter, asymmetric form: only the CONTAINED side can prune —
    * if |A∩B| ≥ ceil(t·|A|), then A's rarest-first prefix of length
    * |A| − ceil(t·|A|) + 1 must hit B (pigeonhole: missing all prefix
    * shingles leaves at most ceil(t·|A|) − 1 matches). The containing
    * side posts ALL its shingles — at any threshold B could contain A
    * anywhere, so no B-side pruning is sound. That full B-side posting
    * list is the operator's inherent cost and its skew surface: a
    * corpus-hot shingle fans out on the B side (the A side drops it via
    * the rarest-first order), which is the documented price of
    * containment vs jaccard at 100 TB.
    *
    * The skew surface is CAPPED, not just documented: shingles whose
    * document frequency exceeds `hotShingleCap` are salted — the B side
    * scatters a hot shingle's postings across ceil(df/cap) salt replicas
    * by doc-id hash, and the A-side prefix hit replicates to every salt,
    * so the candidate join meets on (shingle, salt) with per-key B-side
    * posting lists of ~cap rows instead of df rows. The pair set is
    * IDENTICAL for every cap (each (a, b, shingle) meeting lands in
    * exactly the salt bucket b hashes to, and a is present there); only
    * the per-task fan-out changes. A-side replication is the standard
    * salted-join trade: ceil(df/cap) copies of a prefix hit, bounded and
    * tunable, versus one task owning a hot shingle's entire df² fan-out.
    * Hash scatter bounds the per-bucket count statistically (binomial
    * around df/nsalt), not adversarially — DedupSpec pins a 2× margin.
    */
  def containmentPairs(
      docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
      hotShingleCap: Int = 4096,
      shingles: Option[DataFrame] = None): DataFrame = {
    val (base, prefixA, shB) =
      containmentPlan(docs, k, threshold, hotShingleCap, shingles)
    val cands = prefixA
      .join(shB, Seq("sh", "salt"))
      .where(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cands
      .join(base.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(col("sa")).cast("double")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** The plan fragments [[containmentPairs]] joins — exposed (package-
    * private) so DedupSpec asserts the salt cap on the REAL B-side
    * posting frame, not a re-implementation. Returns
    * (base (doc_id, shs) materialized,
    *  salted A prefix (doc_a, sh, salt) — one row per admissible salt,
    *  salted B postings (doc_b, sh, salt)).
    */
  private[graft] def containmentPlan(
      docs: DataFrame, k: Int, threshold: Double,
      hotShingleCap: Int,
      shingles: Option[DataFrame] = None): (DataFrame, DataFrame, DataFrame) = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    require(hotShingleCap >= 1, s"hotShingleCap must be >= 1, got $hotShingleCap")
    val base = shingles.getOrElse(OpCache.materialize(shingleBase(docs, k)))
    val sh = base.select(col("doc_id"), explode(col("shs")).as("sh"))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val ordered = sh.join(dfreq, "sh")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("df"), col("sh"))).as("ord"))
      .select(col("doc_id"),
        transform(array_sort(col("ord")), s => s.getField("sh")).as("ord"))
    // ceil with the same epsilon rationale as ngramJaccardPairs
    val plen = (size(col("ord")) -
      ceil(size(col("ord")) * lit(threshold) - lit(1e-9)) + 1).cast("int")
    // vocab-sized salt plan: nsalt = ceil(df/cap), 1 for everything cold;
    // both join sides consult it on the same equi-key they already shuffle
    // on, so the salting adds no new shuffle topology
    val salts = dfreq.select(col("sh"),
      greatest(lit(1L), ceil(col("df") / lit(hotShingleCap.toDouble))
        .cast("long")).as("nsalt"))
    val prefixA = ordered
      .select(col("doc_id").as("doc_a"),
        explode(slice(col("ord"), lit(1), plen)).as("sh"))
      .join(salts, "sh")
      .select(col("doc_a"), col("sh"),
        explode(sequence(lit(0L), col("nsalt") - 1)).as("salt"))
    val shB = sh.join(salts, "sh")
      .select(col("doc_id").as("doc_b"), col("sh"),
        pmod(xxhash64(col("doc_id")), col("nsalt")).as("salt"))
    (base, prefixA, shB)
  }

  /** Exact cross-corpus near-dup pairs: jaccard ≥ threshold between a NEW
    * corpus and an EXISTING one — dedup the fresh crawl against what the
    * training set already holds, the production shape where re-clustering
    * the full corpus per increment would be wasteful. Same rarest-first
    * prefix filter as [[ngramJaccardPairs]] (completeness proof there
    * carries over verbatim), with the document-frequency order computed
    * over the UNION of both sides so the two prefix sets rank shingles
    * identically; the candidate join is prefix(new) ⋈ prefix(existing) —
    * never new×existing.
    *
    * Scale: the increment is small relative to the corpus, so the
    * new-side posting list is tiny; hot shingles still drop out of both
    * prefixes via the shared df order, capping fan-out on the big side.
    */
  def crossCorpusPairs(
      newDocs: DataFrame,
      existing: DataFrame,
      k: Int = 3,
      threshold: Double = 0.5,
      shingles: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    def shingled(df: DataFrame) = OpCache.materialize(shingleBase(df, k))
    val (bNew, bOld) = shingles match {
      case Some((sn, so)) => (sn, so)
      case None => (shingled(newDocs), shingled(existing))
    }
    // shared df order over BOTH corpora (vocab-sized; feeds two consumers)
    val dfreq = OpCache.materialize(
      bNew.select(explode(col("shs")).as("sh"))
        .union(bOld.select(explode(col("shs")).as("sh")))
        .groupBy(col("sh")).agg(count(lit(1)).as("df")))
    def prefixOf(base: DataFrame): DataFrame = {
      val sh = base.select(col("doc_id"), explode(col("shs")).as("sh"))
      val ordered = sh.join(dfreq, "sh")
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("df"), col("sh"))).as("ord"))
        .select(col("doc_id"),
          transform(array_sort(col("ord")), s => s.getField("sh")).as("ord"))
      val plen = (size(col("ord")) -
        ceil(size(col("ord")) * lit(threshold) - lit(1e-9)) + 1).cast("int")
      ordered.select(col("doc_id"),
        explode(slice(col("ord"), lit(1), plen)).as("sh"))
    }
    val cands = prefixOf(bNew).as("a")
      .join(prefixOf(bOld).as("b"), col("a.sh") === col("b.sh"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .distinct()
    cands
      .join(bNew.select(col("doc_id").as("new_id"), col("shs").as("sa")), "new_id")
      .join(bOld.select(col("doc_id").as("old_id"), col("shs").as("sb")), "old_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .select(col("new_id"), col("old_id"),
        (col("inter") /
          (size(col("sa")) + size(col("sb")) - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** MinHash signatures: `numHashes` independent permutations simulated by
    * seeding xxhash64 with the hash index; signature[i] = min over shingles.
    * Computed by exploding shingles once and taking `numHashes` partial-agg
    * mins — a single pass, map-side combinable, no per-row nested loops.
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 32, k: Int = 3): DataFrame = {
    // hash each shingle string once; the i-th permutation re-hashes only
    // the fixed-width base (int, long) — ~an order of magnitude less
    // hashing work than xxhash64(i, shingle_string) per permutation
    val exploded = Partitioning.ensureParallelism(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shinglesOf(col("toks"), k)).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("base"))
    val minCols = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("base"))).as(s"h$i"))
    exploded
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash + LSH banding: split the signature into `bands` bands of
    * `rows` hashes, bucket-join docs sharing any band hash, then estimate
    * jaccard as the fraction of matching signature components and keep
    * pairs ≥ threshold.
    *
    * With 32 hashes as 8×4, P(candidate) ≈ 1-(1-j⁴)⁸: j=0.9 → ~1.0,
    * j=0.3 → ~6% — matching the planted structure of the testdata
    * (near-dup pairs ≥0.9, background <0.3).
    *
    * `bucketCap` (default uncapped) opts into the shared [[saltBanded]]
    * skew cap: an exact-duplicate flood gives every copy the SAME
    * signature, collapsing all bands into one bucket whose self-join goes
    * m² — the cap bounds it to ~m·cap per band at the cost of hot-bucket
    * recall 1−(1−1/s)^bands (DedupSpec measures both). Exact-dup floods
    * should be removed by [[exactDedup]] upstream; the cap is the
    * belt-and-braces for template floods that survive it.
    */
  /** Skew-cap salting for any banded `(doc_id, band, bh, …)` frame —
    * shared by the simhash AND minhash candidate generators. Buckets
    * larger than `bucketCap` sub-split into s = ceil(m / cap) salt groups
    * by a doc_id hash (per-band reseed), bounding every per-bucket
    * self-join to ~m·cap rows; see [[simhashBuckets]] for the full
    * cap-vs-recall analysis (hot-pair survival 1−(1−1/s)^bands). Buckets
    * at or under the cap keep salt 0 and their exact guarantee. With the
    * default `Int.MaxValue` cap this is a zero-cost constant column — no
    * bucket-size aggregation runs at all.
    */
  private[operators] def saltBanded(banded: DataFrame, bucketCap: Int): DataFrame =
    if (bucketCap == Int.MaxValue) banded.withColumn("salt", lit(0))
    else {
      // only HOT buckets (> cap) enter the size table, so it stays tiny
      // (≤ bands·n/cap rows) and broadcasts; cool buckets keep salt 0 via
      // the left join's null
      val hot = banded.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("m"))
        .where(col("m") > bucketCap)
      banded.join(broadcast(hot), Seq("band", "bh"), "left")
        .withColumn("salt",
          when(col("m").isNotNull,
            pmod(xxhash64(col("doc_id"), col("band")),
              ceil(col("m") / lit(bucketCap)).cast("long")).cast("int"))
            .otherwise(lit(0)))
        .drop("m")
    }

  def minhashLshPairs(
      docs: DataFrame,
      numHashes: Int = 32,
      bands: Int = 8,
      k: Int = 3,
      threshold: Double = 0.5,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    // signatures feed banding AND both verify-join sides: materialize once
    // (the signature computation includes the shingle explode — recomputing
    // it 3× dominated the round-1 bench)
    val sigs = OpCache.materialize(minhashSignatures(docs, numHashes, k))
    lshPairsFromSignatures(sigs, numHashes, bands, threshold, bucketCap)
  }

  /** The LSH candidate/estimate path from an already-computed
    * (doc_id, sig) signature frame — shared by [[minhashLshPairs]] and
    * the streaming signature store
    * ([[graft.streaming.StreamOps.minhashSink]]), whose merged state
    * replays EXACTLY this plan and therefore exactly the batch
    * operator's pair set.
    */
  private[graft] def lshPairsFromSignatures(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    // exact-dup floods collapse ALL bands to one bucket (identical
    // signatures), so the minhash band join has the same hot-bucket m²
    // failure mode as simhash — the shared salt bounds it; both sides of
    // the self-join scan the (materialized, when capped) salted frame
    val bandedRaw = bandedSignatures(sigs, numHashes, bands)
    val banded =
      if (bucketCap == Int.MaxValue) saltBanded(bandedRaw, bucketCap)
      else OpCache.materialize(saltBanded(bandedRaw, bucketCap))

    val cands = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.salt") === col("y.salt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    sigEstimatePairs(cands, sigs, numHashes, threshold)
  }

  /** Per-band bucket hashes of a (doc_id, sig) frame: one (doc_id, band,
    * bh) row per band, bh = xxhash64 over the band's signature rows.
    */
  private[graft] def bandedSignatures(
      sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val bandStructs = array((0 until bands).map { bnd =>
      struct(
        lit(bnd).as("band"),
        xxhash64((0 until rows).map(r =>
          element_at(col("sig"), bnd * rows + r + 1)): _*).as("bh"))
    }: _*)
    sigs.select(col("doc_id"), explode(bandStructs).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Signature-estimate filter over a candidate pair frame: est_jaccard =
    * matching signature positions / numHashes, thresholded.
    */
  private[graft] def sigEstimatePairs(
      cands: DataFrame, sigs: DataFrame,
      numHashes: Int, threshold: Double): DataFrame = {
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("double") / numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** MinHash LSH with EXACT verification: band-bucket candidates (the same
    * generator as [[minhashLshPairs]]) verified by the exact shingle-set
    * jaccard instead of the signature estimate. The output is provably
    * `exactPairs ∩ lshCandidates` — so wherever banding recall is 1.0 (the
    * planted near-dup regime these parameters target; DedupSpec measures
    * it), the result is value-identical to [[ngramJaccardPairs]] and the
    * DuckDB oracle checks it EXACTLY, upgrading the LSH path from a
    * rows-only to a hash-checked query.
    *
    * Scale shape: identical to the estimate form plus one equi-join per
    * candidate against the materialized shingle sets (slim: two longs per
    * posting) — candidates stay bounded by bucket size, never all-pairs.
    */
  def minhashLshVerifiedPairs(
      docs: DataFrame,
      numHashes: Int = 32,
      bands: Int = 8,
      k: Int = 3,
      threshold: Double = 0.5,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // one shingle-set materialization feeds signatures AND both verify sides
    val base = OpCache.materialize(
      Partitioning.ensureParallelism(docs, col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          array_distinct(transform(shinglesOf(col("toks"), k),
            s => xxhash64(s))).as("shs")))
    val minCols = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
    val sigs = base
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
    val bandStructs = array((0 until bands).map { bnd =>
      struct(
        lit(bnd).as("band"),
        xxhash64((0 until rows).map(r =>
          element_at(col("sig"), bnd * rows + r + 1)): _*).as("bh"))
    }: _*)
    val bandedRaw = sigs
      .select(col("doc_id"), explode(bandStructs).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
    val banded =
      if (bucketCap == Int.MaxValue) saltBanded(bandedRaw, bucketCap)
      else OpCache.materialize(saltBanded(bandedRaw, bucketCap))
    val cands = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.salt") === col("y.salt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(base.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter") /
          (size(col("sa")) + size(col("sb")) - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ── text query-by-example: near-dup search against the minhash index ─

  /** Synthetic EXTERNAL query documents for [[minhashSearch]]: every
    * 97th document (doc_id % 97 == 3) re-issued with its FIRST token
    * dropped — near-but-not-identical to its seed (the shingle set loses
    * at most one element), the text twin of the image/audio/video query
    * generators ("a new document arrives: is it already in the corpus?").
    * Query ids sit at bit 43 (the edit-distance synthetics hold bits
    * 40–42), disjoint from any real doc_id at any SF. The rebuilt text
    * is the normalized tail re-joined on single spaces, so re-tokenizing
    * it yields exactly `tokens(text)[2:]` — which is what the DuckDB
    * oracle replays.
    */
  def syntheticQueryDocs(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.where(col("doc_id") % 97 === 3)
      .select((col("doc_id") + (1L << 43)).as("doc_id"),
        array_join(slice(toks, lit(2), greatest(size(toks) - 1, lit(0))), " ")
          .as("text"))
  }

  /** Band-bucket candidates for a query set against a signature store:
    * the query bands equi-join the store bands on `(band, bh)` — the
    * SAME index probe the pair formers run, so serving cost is
    * O(queries × collisions), never a corpus scan. No salt cap: the
    * query side is request-sized, so a hot bucket costs queries×cap at
    * worst, and capping would cost store-side recall.
    */
  private[graft] def searchCandidates(
      storeSigs: DataFrame, querySigs: DataFrame,
      numHashes: Int, bands: Int): DataFrame = {
    val bq = bandedSignatures(querySigs, numHashes, bands)
      .select(col("doc_id").as("query_id"), col("band"), col("bh"))
    bq.join(bandedSignatures(storeSigs, numHashes, bands), Seq("band", "bh"))
      .select(col("query_id"), col("doc_id"))
      .distinct()
  }

  /** Signature-only search: band-bucket candidates scored by the
    * signature-estimate jaccard (matching components / numHashes) — the
    * form the STREAMING store serves ([[graft.streaming.StreamOps
    * .minhashSearchStored]]), because the store holds signatures, not
    * text: a query is answered without re-reading (or ever having kept)
    * any document body. The estimate is the xxhash64 production form —
    * spec-anchored ([[minhashSearch]] is the oracle-exact sibling).
    */
  def minhashSearchEstimated(
      storeSigs: DataFrame, querySigs: DataFrame,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val cands = searchCandidates(storeSigs, querySigs, numHashes, bands)
    val sq = querySigs.select(col("doc_id").as("query_id"), col("sig").as("sig_q"))
    val ss = storeSigs.select(col("doc_id"), col("sig").as("sig_s"))
    cands.join(sq, "query_id").join(ss, "doc_id")
      .select(col("query_id"), col("doc_id"),
        (size(filter(zip_with(col("sig_q"), col("sig_s"), (x, y) => x === y),
          b => b)).cast("double") / numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Text near-dup SEARCH with exact verification: EXTERNAL query
    * documents probe the corpus through the minhash band index
    * (signatures both sides, `(band, bh)` equi-join — bucketed, never a
    * corpus scan), then every candidate is verified by the EXACT
    * shingle-set jaccard, so the output is provably
    * `exactMatches ∩ bandCandidates`. Wherever banding recall is 1.0
    * (the ≥ threshold regime these parameters target — DedupSpec
    * measures it on the planted corpus, and the query generator's
    * one-token perturbation keeps query→seed jaccard near 1), the
    * result is value-identical to the exact all-pairs search and the
    * DuckDB oracle checks it EXACTLY — the [[minhashLshVerifiedPairs]]
    * discipline applied to serving. Completes query-by-example across
    * all four modalities (image/audio/video serve by fingerprint; text
    * serves by the same index its dedup maintains).
    */
  def minhashSearch(
      docs: DataFrame, queries: DataFrame,
      numHashes: Int = 32, bands: Int = 8,
      shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    // named shingleK, not the dedup family's bare `k`: in the serving
    // APIs (phashSearch/audioSearch/videoSearch) `k` means result count,
    // and a caller passing k=5 for "top 5" must not silently re-width
    // the shingles into a foreign signature space
    def shingled(df: DataFrame) = OpCache.materialize(
      Partitioning.ensureParallelism(df, col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          array_distinct(transform(shinglesOf(col("toks"), shingleK),
            s => xxhash64(s))).as("shs")))
    def sigsOf(base: DataFrame) = {
      val minCols = (0 until numHashes).map(i =>
        min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
      base.select(col("doc_id"), explode(col("shs")).as("sh"))
        .groupBy(col("doc_id"))
        .agg(minCols.head, minCols.tail: _*)
        .select(col("doc_id"),
          array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
    }
    val baseS = shingled(docs)
    val baseQ = shingled(queries)
    val cands = searchCandidates(sigsOf(baseS), sigsOf(baseQ), numHashes, bands)
    cands
      .join(baseQ.select(col("doc_id").as("query_id"), col("shs").as("sa")),
        "query_id")
      .join(baseS.select(col("doc_id"), col("shs").as("sb")), "doc_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .select(
        col("query_id"), col("doc_id"),
        (col("inter") /
          (size(col("sa")) + size(col("sb")) - col("inter")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash signatures: per-token xxhash64, each bit votes ±1
    * weighted by term frequency; the signature bit is the vote's sign.
    * Explode + 64 partial-agg sums — one pass, map-side combinable.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val exploded = Partitioning.ensureParallelism(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0, 1).otherwise(-1)).as(s"b$j")
    }
    val sig = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    exploded
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** 48-bit SimHash over an md5-derived token hash — the ORACLE-EXPRESSIBLE
    * variant of [[simhashSignatures]]. Bit j (0..47) of a token's hash is
    * bit (j mod 4) of hex digit (j / 4) of md5(token); every token
    * OCCURRENCE votes ±1 per bit and the signature bit is the vote sum's
    * sign — the same vote arithmetic as the xxhash64 production form, and
    * the same plan shape (one explode, 48 map-side-combinable partial
    * sums, one shuffle on doc_id). DuckDB reproduces it digit-for-digit
    * (strpos on the hex alphabet + shift/mask), which upgrades
    * `dedup_simhash_sigs` / `dedup_simhash_pairs` from rows-only to
    * hash-checked driver rows. 48 bits (not 64) keeps the packed
    * signature and every intermediate sum comfortably inside signed
    * BIGINT on both engines — no HUGEINT drift in the oracle. The
    * xxhash64 64-bit form remains the scale default: one integer hash per
    * token vs an md5 over the string.
    */
  def simhashSqlSignatures(docs: DataFrame): DataFrame = {
    val bits = 48
    val exploded = Partitioning.ensureParallelism(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("hex"))
    val votes = (0 until bits).map { j =>
      val digit = conv(substring(col("hex"), j / 4 + 1, 1), 16, 10).cast("int")
      sum(when(shiftright(digit, j % 4).bitwiseAND(lit(1)) === 1, 1).otherwise(-1))
        .as(s"b$j")
    }
    val sig = (0 until bits).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    exploded
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** Near-dup pairs over [[simhashSqlSignatures]]: band-bucket candidates
    * (six 8-bit bands) refined with bit_count(xor) ≤ `maxHamming`. For
    * maxHamming ≤ 5 the UNCAPPED banding is COMPLETE by pigeonhole — ≤ 5
    * differing bits touch at most 5 of the 6 bands, so every qualifying
    * pair agrees exactly on ≥ 1 band — which makes the banded equi-join
    * provably equal to the all-pairs filter the DuckDB oracle evaluates.
    *
    * The equi-join shape does NOT bound bucket size: an
    * identical-signature template flood still concentrates m copies into
    * one bucket per band (~m² candidates there). `bucketCap` opts into
    * the shared [[saltBanded]] skew cap exactly as in [[simhashBuckets]]
    * — at the cost of hot-bucket recall AND of oracle equality (the salt
    * is a Spark-side hash), which is why the driver's oracle query runs
    * uncapped while flood-prone production call sites should pass a cap
    * (or run [[exactDedup]] upstream, which removes identical-signature
    * floods at the source).
    */
  def simhashSqlPairs(
      docs: DataFrame,
      maxHamming: Int = 5,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= 5, "6x8-bit banding is only complete for hamming <= 5")
    val sigs = OpCache.materialize(simhashSqlSignatures(docs))
    val bandStructs = array((0 until 6).map { bnd =>
      struct(
        lit(bnd).as("band"),
        shiftrightunsigned(col("simhash"), bnd * 8).bitwiseAND(lit(0xFFL)).as("bh"))
    }: _*)
    val bandedRaw = sigs
      .select(col("doc_id"), col("simhash"), explode(bandStructs).as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band").as("band"), col("b.bh").as("bh"))
    val banded =
      if (bucketCap == Int.MaxValue) saltBanded(bandedRaw, bucketCap)
      else OpCache.materialize(saltBanded(bandedRaw, bucketCap))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.salt") === col("y.salt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash band buckets with skew-capped salting — the candidate
    * generator behind [[simhashPairs]], exposed so DedupSpec can measure
    * the candidate volume directly.
    *
    * Base scheme: bucket on each of four 16-bit bands (a pair within
    * hamming distance ≤ 3 of a 64-bit hash shares at least one exact band
    * by pigeonhole). The per-bucket self-join is m² in the bucket size,
    * and with only 4 × 65 536 buckets a template-heavy corpus at 10⁹⁺ docs
    * concentrates into few buckets — quadratic blowup.
    *
    * Skew cap: buckets larger than `bucketCap` are sub-split into
    * s = ceil(m / bucketCap) salt groups by a doc_id hash, bounding the
    * per-bucket join to ~m·bucketCap rows (linear in m for fixed cap).
    * Signature bits can NOT be the salt — template near-dups share those
    * too, so they would all land in one sub-bucket again. The cost is
    * recall inside hot buckets only: a pair in a split bucket collides in
    * a given band with probability 1/s, but gets 4 independent band
    * chances (the salt reseeds per band), so hot-pair recall is
    * 1−(1−1/s)⁴ — and exact-duplicate floods, the usual cause of
    * degenerate buckets, belong to [[exactDedup]] upstream of any simhash
    * pass. Buckets at or under the cap keep salt 0 and the pigeonhole
    * guarantee exactly as before.
    *
    * The DEFAULT is `Int.MaxValue` — exact pigeonhole recall, no capping.
    * Capping trades hot-bucket recall for bounded join size, so it is an
    * explicit opt-in at scale-sensitive call sites (SparkEntry's
    * dedup_simhash_pairs passes 10000), never a silent behavior change.
    */
  def simhashBuckets(docs: DataFrame, bucketCap: Int = Int.MaxValue): DataFrame = {
    // signatures feed the band explode once; the banded frame then feeds
    // the bucket-size agg AND the salted output — materialize both stages
    val sigs = OpCache.materialize(simhashSignatures(docs))
    val bandStructs = array((0 until 4).map { bnd =>
      struct(
        lit(bnd).as("band"),
        shiftrightunsigned(col("simhash"), bnd * 16).bitwiseAND(lit(0xFFFFL)).as("bh"))
    }: _*)
    val banded = sigs
      .select(col("doc_id"), col("simhash"), explode(bandStructs).as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band").as("band"), col("b.bh").as("bh"))
    // both sides of the candidate self-join scan this frame; the salting
    // itself is the shared [[saltBanded]] skew cap
    OpCache.materialize(saltBanded(banded, bucketCap))
  }

  /** SimHash near-dup candidate pairs from the salted band buckets of
    * [[simhashBuckets]], with the hamming distance attached (unfiltered —
    * [[simhashPairs]] applies the threshold).
    */
  def simhashCandidates(docs: DataFrame, bucketCap: Int = Int.MaxValue): DataFrame = {
    val banded = simhashBuckets(docs, bucketCap)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.salt") === col("y.salt") && col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
  }

  /** SimHash near-dup pairs: [[simhashCandidates]] (banded hamming-LSH
    * with skew-capped buckets) verified with bit_count(xor) ≤ maxHamming.
    */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 5,
      bucketCap: Int = Int.MaxValue): DataFrame =
    simhashCandidates(docs, bucketCap).where(col("hamming") <= maxHamming)

  /** Near-dup clusters over the exact jaccard pair graph: candidate pairs
    * from [[ngramJaccardPairs]] (prefix-filtered, computed ONCE), connected
    * components via [[clustersFromPairs]].
    */
  def nearDupClusters(docs: DataFrame, k: Int = 3, threshold: Double = 0.5): DataFrame =
    clustersFromPairs(docs, ngramJaccardPairs(docs, k, threshold).select("doc_a", "doc_b"))

  /** [[nearDupClusters]] computed ONCE per `(cacheKey, k, threshold)` and
    * PUBLISHED as a parquet cluster table that every downstream corpus
    * recipe reads — the production dedup-once shape: curated-corpus
    * builds, release gates and dedup telemetry all consume the same
    * cluster table instead of re-deriving the jaccard pair graph per
    * recipe (round-3 verdict: the three cluster consumers each rebuilt a
    * ~4-5 s subplan).
    *
    * Same memo contract as [[Similarity.ivfCentroids]]: `cacheKey` must
    * encode the DATA VERSION, not just its location — pass a new key (or
    * `""` to compute live) when the corpus changes. Unlike a bare memo,
    * violations are DETECTED: every call re-fingerprints the input
    * (count + order-independent xxhash64 fold — one map-side pass) and
    * checks it against the `_GRAFT_FINGERPRINT` sidecar published beside
    * the table; a stale key raises instead of serving clusters computed
    * from different data.
    *
    * Publish location: `baseDir` (explicit argument, else the
    * `spark.graft.warehouse.dir` session conf) names a SHARED filesystem
    * (DFS/object store) directory — the production topology, where
    * executors on other hosts and LATER SESSIONS read the published table.
    * The table lands at a path derived from `(cacheKey, k, threshold)`,
    * committed with parquet's `_SUCCESS` marker: a fresh JVM with the same
    * key finds the marker and reads the table without recomputing (the
    * in-JVM memo just skips the FS probe). With no baseDir configured the
    * table falls back to driver-local temp — correct in local mode only,
    * and exercised as such by the small-SF harness.
    */
  def sharedNearDupClusters(
      docs: DataFrame,
      cacheKey: String,
      k: Int = 3,
      threshold: Double = 0.5,
      baseDir: String = ""): DataFrame = {
    if (cacheKey.isEmpty) nearDupClusters(docs, k, threshold)
    else {
      // fingerprint of the clustering INPUT (one map-side pass): written
      // beside the table at publish time, re-checked on EVERY reuse —
      // in-JVM memo hits included — so a cache key that went stale after
      // the corpus changed fails loudly instead of silently serving
      // clusters computed from different data. The memo/probe/atomic-
      // publish/verify dance itself is PublishGuard.sharedTableWithNotes.
      val fp = PublishGuard.fingerprint(docs, Seq(col("doc_id"), col("text")))
      PublishGuard.sharedTableWithNotes(
        docs.sparkSession, baseDir, "near_dup_clusters", cacheKey,
        Seq(s"k$k", s"t$threshold"), fp, "near-dup cluster table")(
        () => nearDupClusters(docs, k, threshold))._1
    }
  }

  /** Connected components by iterative min-label propagation over a pair
    * list (exact jaccard pairs here; [[minhashLshPairs]] / [[simhashPairs]]
    * at extreme scale — DedupSpec proves LSH-pair clusters match exact-pair
    * clusters on the testdata). Every document gets cluster_id = smallest
    * doc_id in its component (singletons: itself); "keep the canonical
    * copy" is then `WHERE doc_id = cluster_id`.
    *
    * Scale shape: the edge list is materialized ONCE up front
    * (`localCheckpoint` — eager, lineage cut), each round is one join +
    * partial-agg min over that cached edge set, and each round's labels are
    * checkpointed so lineage stays O(1) instead of growing per iteration.
    * Convergence needs O(diameter) rounds — near-dup components are
    * small/dense (diameter ≤ 3 in practice), so this beats the O(log n)
    * large-star/small-star alternative on constant factors here. The
    * convergence probe is `isEmpty` on the already-materialized round
    * output — a limit-1 scan of cached partitions, NOT a recompute (the
    * round-1 version re-derived the full jaccard graph per probe).
    */
  def clustersFromPairs(docs: DataFrame, pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // checkpoint the pair list BEFORE the symmetric union — the union's two
    // branches would otherwise each evaluate the (expensive) pair plan
    val (p, freeP) = OpCache.checkpointWithHandle(pairs.toDF("doc_a", "doc_b"))
    // size the loop's parallelism to the (materialized, cheap-to-count)
    // edge set — see ccLoopPartitions; AQE cannot re-plan across the
    // loop's actions, so this is sized explicitly
    val spark = pairs.sparkSession
    val parts = ccLoopPartitions(p.count(), spark.sparkContext.defaultParallelism)
    val (edges, freeEdges) = OpCache.checkpointWithHandle(
      p.union(p.select(col("doc_b"), col("doc_a")))
        .toDF("u", "v")
        .repartition(parts, col("v")))
    freeP() // edges is self-contained; the pair blocks are superseded
    // each round's labels supersede the previous round's
    val cuts = new OpCache.RollingCut()
    var labels = cuts.cut(
      edges.select(col("u")).distinct()
        .select(col("u"), col("u").as("lbl")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("u").as("v"), col("lbl").as("nbr_lbl")), "v")
        .groupBy(col("u")).agg(min(col("nbr_lbl")).as("nbr_min"))
      val next = cuts.cut(
        labels.join(nbrMin, Seq("u"), "left")
          .select(col("u"),
            least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("lbl"),
            (col("nbr_min") < col("lbl")).as("chg")))
      converged = next.where(col("chg")).isEmpty
      labels = next.drop("chg")
      iter += 1
    }
    freeEdges() // the returned plan reads only docs + the final labels
    // the final labels' blocks back the returned frame — release()-scoped
    cuts.deferLast()
    docs.select(col("doc_id"))
      .join(labels.select(col("u").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
  }

  /** The CC loop's shuffle width: ~64k edges per partition, growing with
    * the graph and capped at the session default. Near-dup graphs are tiny
    * relative to the corpus, and running O(diameter) rounds of full-width
    * shuffles over a few hundred edges costs more in task overhead than
    * the work itself — the loop's parallelism must stay TIED TO EDGE
    * COUNT, never a constant (the invariant PlanSpec guards).
    */
  private[graft] def ccLoopPartitions(edgeCount: Long, maxParts: Int): Int =
    math.max(1L, math.min(maxParts.toLong, edgeCount / 65536 + 1)).toInt

  /** Dedup telemetry: the cluster-size histogram — how many clusters of
    * each size the near-dup pass found. The table a corpus build publishes
    * per snapshot: a sudden mass at high sizes means a template flood (or
    * a broken shingler), size-1 count tracks the unique share. Input is
    * any `(doc_id, cluster_id)` frame ([[nearDupClusters]] /
    * [[clustersFromPairs]]); two partial-agg shuffles over id pairs.
    */
  def clusterStats(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** Exact thresholded all-pairs cosine, grid-blocked — the distributed
    * exact plan at any threshold. Vectors are hashed into `blocks` blocks;
    * a (bi ≤ bj) block-pair grid drives TWO equi-joins, so each cell's
    * cross product materializes through an ordinary shuffle join (no
    * BroadcastNestedLoopJoin, no full-corpus broadcast). Replication
    * factor is `blocks` per side — the blocked-GEMM topology: at 100 TB,
    * pick blocks ≈ √parallelism and each cell is one partition-sized GEMM
    * tile. Output pairs are canonicalized (least, greatest), so every
    * unordered pair appears exactly once; the cosine expression is the
    * same sequential fold as [[embeddingCosinePairs]], hence bit-identical
    * results.
    *
    * Why not LSH here: sign-LSH candidate recall collapses near θ ≈ 60°
    * (cos 0.45-0.5, where this corpus's qualifying pairs live) — honest
    * recall-1.0 candidates would need hundreds of hyperplane tables. LSH
    * ([[embeddingNearDupPairs]]) is the right path only in the true
    * near-dup regime (cos ≥ ~0.8).
    */
  def embeddingCosinePairsBlocked(
      embeddings: DataFrame,
      threshold: Double = 0.45,
      blocks: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val grid = (for { i <- 0 until blocks; j <- i until blocks } yield (i, j))
      .toDF("bi", "bj")
    val e = OpCache.materialize( // both grid sides scan it
      Partitioning.ensureParallelism(embeddings, col("vec_id"))
        .select(
          col("vec_id"),
          VectorOps.asDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorOps.l2Norm(col("v")))
        .withColumn("blk", pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int")))
    val a = e.select(col("vec_id").as("ida"), col("v").as("va"),
      col("nrm").as("na"), col("blk").as("bi"))
    val b = e.select(col("vec_id").as("idb"), col("v").as("vb"),
      col("nrm").as("nb"), col("blk").as("bj"))
    a.join(broadcast(grid), "bi")
      .join(b, "bj")
      // off-diagonal cells see each unordered pair once (in id-agnostic
      // order); diagonal cells need ida < idb to drop self/dup pairs
      .where(col("bi") =!= col("bj") || col("ida") < col("idb"))
      .select(
        least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"),
        VectorOps.cosineWithNorms(
          VectorOps.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Embedding near-dup clusters: connected components over the exact
    * grid-blocked cosine pair graph ([[embeddingCosinePairsBlocked]] →
    * [[clustersFromPairs]]) — "which vectors are the same content",
    * canonical member = smallest vec_id. The embedding-side twin of
    * [[nearDupClusters]]; at the extreme-scale/near-dup regime swap the
    * pair source for [[embeddingNearDupPairs]] (sign-LSH), same cluster
    * machinery.
    */
  def embeddingNearDupClusters(
      embeddings: DataFrame,
      threshold: Double = 0.45,
      blocks: Int = 16): DataFrame =
    clustersFromPairs(
      embeddings.select(col("vec_id").as("doc_id")),
      embeddingCosinePairsBlocked(embeddings, threshold, blocks)
        .select(col("vec_a"), col("vec_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))

  /** Embedding near-dup via sign-LSH: bucket candidates (vectors sharing a
    * (table, bucket) cell for ANY of `tables` hyperplane tables) verified
    * by exact cosine ≥ threshold. The bucket join is an equi-join on
    * (table, bucket) — candidates per vector ≈ tables · n / 2^bits instead
    * of n². APPROXIMATE: candidate recall is 1−(1−(1−θ/π)^bits)^tables,
    * excellent in the near-dup regime (cos ≥ 0.8) and poor by θ ≈ 60° —
    * use [[embeddingCosinePairsBlocked]] when the threshold is moderate
    * and exactness is required. DedupSpec measures this path's recall
    * against the exact form on the testdata.
    */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      threshold: Double = 0.45,
      tables: Int = 16,
      bits: Int = 8,
      dim: Int = 64): DataFrame = {
    val planes = Similarity.hyperplanes(tables, bits, dim)
    val e = OpCache.materialize( // bucketing + both verify-join sides reuse it
      Partitioning.ensureParallelism(embeddings, col("vec_id"))
        .select(
          col("vec_id"),
          VectorOps.asDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorOps.l2Norm(col("v"))))
    val bucketStructs = array((0 until tables).map { t =>
      struct(lit(t).as("t"), Similarity.bucketId(col("v"), planes(t)).as("bucket"))
    }: _*)
    val bucketed = e
      .select(col("vec_id"), explode(bucketStructs).as("b"))
      .select(col("vec_id"), col("b.t").as("t"), col("b.bucket").as("bucket"))
    val cands = bucketed.as("x").join(bucketed.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cands
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      .select(
        col("vec_a"), col("vec_b"),
        VectorOps.cosineWithNorms(
          VectorOps.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Embedding near-dup: pairs with cosine ≥ threshold. All-pairs with
    * norms precomputed once per row — the exact verifier for
    * [[embeddingNearDupPairs]] (the LSH-bucketed scale path above).
    */
  def embeddingCosinePairs(embeddings: DataFrame, threshold: Double = 0.45): DataFrame = {
    val e = embeddings.select(
      col("vec_id"),
      VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.l2Norm(col("v")))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(
        col("vec_a"), col("vec_b"),
        VectorOps.cosineWithNorms(
          VectorOps.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Exact edit-distance similarity join: all pairs of strings within
    * Levenshtein distance ≤ k — the typo/near-variant dedup modality the
    * token-set joins above can't express (Jaccard is blind to character
    * order; MinHash/SimHash are blind to single-character edits in short
    * keys).
    *
    * Candidate generation is the segment-blocking scheme of the PassJoin
    * family: split every string of length L into k+1 contiguous segments
    * (even integer partition). k edits cannot touch all k+1 segments, so
    * if ed(a,b) ≤ k then b contains SOME segment of a verbatim, shifted
    * by at most k positions. The index side emits its k+1 segments; the
    * probe side emits, for every partner length in [L−k, L+k] and every
    * segment slot, the ≤2k+1 substrings at the admissible positions —
    * O((2k+1)²(k+1)) rows per string, LINEAR in the corpus, never
    * all-pairs. Candidates meet on the (partner_len, slot, substring)
    * equi-key — one hash-shuffle join — then exact `levenshtein`
    * (codegen'd built-in) keeps true pairs.
    *
    * Segment completeness needs every segment non-empty, so the PassJoin
    * path covers strings of length ≥ k+1 only. Shorter strings are NOT a
    * domain hole: a string of length L ≤ k can pair only with partners of
    * length ≤ L + k ≤ 2k (the length band), so pairs touching a short
    * string route through an exact length-bucketed join — the short side
    * explodes to its ≤ 2k+1 admissible partner lengths and BROADCASTS
    * against the (map-side, never shuffled) length-≤2k slice of the
    * corpus. The short set is corpus-bounded by construction (strings of
    * ≤ k characters over a real alphabet repeat heavily; a corpus DOMINATED
    * by ≤k-char keys is a degenerate input for an edit-distance join at
    * k ≥ its string length, since every same-length pair is trivially
    * within k). The two paths partition the pair space exactly — PassJoin
    * emits pairs with BOTH sides ≥ k+1 chars, the fallback emits pairs
    * with at least one side ≤ k chars — so their union is disjoint and
    * complete (DedupSpec pins brute-force equality on mixed corpora).
    *
    * Input: (`idCol`, `strCol`). Output: (id_a, id_b, dist), id_a < id_b.
    */
  def editDistanceJoin(
      strings: DataFrame,
      k: Int = 2,
      idCol: String = "id",
      strCol: String = "s"): DataFrame = {
    require(k >= 1, s"edit-distance bound must be >= 1, got $k")
    // scanned by both paths (PassJoin: 4 scans; fallback: 2) —
    // materialize once, each path filters the cached frame
    val all = OpCache.materialize(strings.select(
      col(idCol).cast("long").as("id"), col(strCol).as("s"),
      length(col(strCol)).as("len")))
    val longPairs = editDistanceJoinImpl(all.where(col("len") >= k + 1), k)
    // fallback: short strings (len ≤ k) × partners (len ≤ 2k), meeting on
    // the partner's exact length — an equi-key with ≤ 2k+1 distinct
    // values, which would skew a shuffle join onto ≤ 2k+1 tasks; the
    // broadcast keeps the partner slice map-side and unshuffled
    val shortProbe = all.where(col("len") <= k)
      .select(col("id").as("qid"), col("s").as("qs"),
        explode(sequence(greatest(col("len") - k, lit(0)),
          col("len") + k)).as("plen"))
    val shortPairs = broadcast(shortProbe)
      .join(all.where(col("len") <= 2 * k)
        .select(col("id").as("pid"), col("s").as("ps"), col("len").as("plen")),
        Seq("plen"))
      .where(col("qid") =!= col("pid"))
      // threshold-bounded levenshtein: the DP early-exits past k (and
      // returns −1, hence the lower bound in the filter) — O(k·len)
      // instead of O(len²) per candidate
      .withColumn("dist", levenshtein(col("qs"), col("ps"), k))
      .where(col("dist") >= 0 && col("dist") <= k)
      .select(least(col("qid"), col("pid")).as("id_a"),
        greatest(col("qid"), col("pid")).as("id_b"), col("dist"))
      // short×short pairs arrive once per direction; dist is functionally
      // determined by the pair, so distinct on all three is exact
      .distinct()
    longPairs.unionByName(shortPairs)
  }

  private def editDistanceJoinImpl(base: DataFrame, k: Int): DataFrame = {
    val parts = lit(k + 1)
    // Postings carry ONLY (id, join key): the strings are needed to
    // COMPUTE the substrings but must not travel through the exploded
    // candidate join — the probe side multiplies every row ~(2k+1)²(k+1)
    // times, so carrying the full string would multiply the shuffle
    // bytes with it. Pairs re-join the slim base for the levenshtein
    // residual AFTER the distinct (the ngramJaccardPairs shape).
    // index side: (partner_len = own len, slot, segment text)
    val idx = base
      .select(col("id").as("id_a"), col("s").as("s_a"), col("len").as("len_a"),
        explode(sequence(lit(0), lit(k))).as("slot"))
      .withColumn("p0",
        floor(col("slot") * col("len_a") / parts).cast("int") + 1)
      .withColumn("seg_len",
        floor((col("slot") + 1) * col("len_a") / parts).cast("int") + 1 - col("p0"))
      .where(col("seg_len") >= 1)
      .select(col("id_a"), col("len_a"), col("slot"),
        expr("substring(s_a, p0, seg_len)").as("sub"))

    // probe side: for every admissible partner length and slot, the
    // substrings at positions within ±k of the partner's segment start
    val probe = base
      .select(col("id").as("id_b"), col("s").as("s_b"), col("len").as("len_b"),
        explode(sequence(
          greatest(col("len") - k, lit(k + 1)), col("len") + k)).as("len_a"))
      .select(col("id_b"), col("s_b"), col("len_b"), col("len_a"),
        explode(sequence(lit(0), lit(k))).as("slot"))
      .withColumn("p0",
        floor(col("slot") * col("len_a") / parts).cast("int") + 1)
      .withColumn("seg_len",
        floor((col("slot") + 1) * col("len_a") / parts).cast("int") + 1 - col("p0"))
      .where(col("seg_len") >= 1)
      .withColumn("positions",
        when(
          greatest(col("p0") - k, lit(1)) <=
            least(col("p0") + lit(k), col("len_b") - col("seg_len") + 1),
          sequence(
            greatest(col("p0") - k, lit(1)),
            least(col("p0") + lit(k), col("len_b") - col("seg_len") + 1)))
          .otherwise(array().cast("array<int>")))
      .select(col("id_b"), col("s_b"), col("len_a"), col("slot"),
        col("seg_len"), explode(col("positions")).as("p"))
      .select(col("id_b"), col("len_a"), col("slot"),
        expr("substring(s_b, p, seg_len)").as("sub"))

    val cands = idx.join(probe, Seq("len_a", "slot", "sub"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cands
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      // threshold-bounded residual: early-exits past k (−1 ⇒ filtered),
      // O(k·len) per surviving candidate instead of O(len²)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), k))
      .where(col("dist") >= 0 && col("dist") <= k)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Maximal duplicated token spans: every span of ≥ `n` consecutive
    * tokens whose every length-`n` window occurs more than once in the
    * corpus (across documents OR repeated within one) — the substring-
    * level dedup report of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL'22, public paper; method re-derived,
    * no code consulted), re-expressed as a linear n-gram pipeline instead
    * of a suffix array: emit every word n-gram with its start position,
    * keep the grams whose corpus-wide count exceeds 1, and merge each
    * document's surviving positions into maximal spans with a
    * gaps-and-islands window (a new span starts when the next duplicated
    * gram begins more than `n` tokens after the previous one — anything
    * closer overlaps or abuts the running span).
    *
    * Output: (doc_id, span_start, span_end, span_tokens), token-indexed,
    * 0-based inclusive.
    *
    * Scale shape: gram rows are one per token (linear); the duplicate
    * filter is one partial-agg count over the gram key plus a semi-join
    * back; the islands window partitions BY DOCUMENT (bounded groups,
    * never a global window). With `hashKeys` (the default) the shuffled
    * key is an 8-byte xxhash64, not the ~n-word string — the oracle query
    * runs `hashKeys = false` because DuckDB has no xxhash64, and
    * DedupSpec asserts both key choices yield identical spans on the
    * testdata (a 64-bit collision is the only possible divergence).
    */
  def duplicatedSpans(docs: DataFrame, n: Int = 8, hashKeys: Boolean = true): DataFrame = {
    val grams = graft.engine.Partitioning.ensureParallelism(docs, col("doc_id"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("toks")) - n),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))))
      .select(col("doc_id"), col("pos"),
        (if (hashKeys) xxhash64(col("col")) else col("col")).as("gkey"))
    val dupKeys = grams.groupBy(col("gkey"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .select(col("gkey"))
    val dupPos = grams.join(dupKeys, Seq("gkey"), "left_semi")
      .select(col("doc_id"), col("pos"))
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= n, lit(0))
          .otherwise(lit(1)))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n - 1).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }
}
