package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{PublishGuard, Tables}
import graft.engine.PublishGuard.ArtifactWarehouse
import graft.operators.{AsOfJoin, Bpe, Curation, Dedup, EventPipelines, FunctionSurface, Graph, Incremental, Multimodal, Quality, Relational, Sequence, Similarity, SqlSurface, TextAnalysis, TimeSeries}
import graft.functions.OracleRound

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] produces a deterministic result: rows ordered
  * by a unique key, `collect_set` outputs `sort_array`-ed, timestamps
  * formatted as strings, and floating-point aggregates rounded — so the
  * driver's DuckDB hash-compare is stable (SURVEY.md §7 "hard parts").
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Batch analog of the reference's Q3 (1-minute tumbling window +
    * collect_set — srapk_structure_streaming.py:150-165).
    */
  def entry(spark: SparkSession): DataFrame =
    EventPipelines.windowDistinct(
      Tables.events(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── reference parity (events = streaming-analog table) ──────────────
    "ref_q1_filter" -> ((s, d) =>
      EventPipelines.filterByType(Tables.events(s, d), "error")
        .select("event_id", "user_id", "value")
        .orderBy("event_id")),
    "ref_q2_join" -> ((s, d) =>
      EventPipelines.joinTypeLookup(Tables.events(s, d))
        .select("event_id", "user_id", "type_name", "value")
        .orderBy("event_id")),
    // array columns are serialized at the oracle edge (concat_ws) because
    // the driver's pandas hash-compare cannot sort ndarray cells; the
    // operator itself still returns a real array<string> (A2 collect_set).
    "ref_q3_window_agg" -> ((s, d) =>
      EventPipelines.windowDistinct(Tables.events(s, d))
        .withColumn("types", concat_ws(",", col("types")))
        .orderBy("window_start")),
    "ref_q4_json_extract" -> ((s, d) =>
      EventPipelines.parseProps(Tables.events(s, d))
        .orderBy("event_id")),
    "ref_q5_datetime" -> ((s, d) =>
      EventPipelines.datetimeParts(Tables.events(s, d))
        .orderBy("event_id")),
    "ref_q6_to_json" -> ((s, d) =>
      EventPipelines.toJsonPayload(Tables.events(s, d))
        .orderBy("event_id")),
    // ── relational / TPC-H-style coverage (SURVEY.md §2.3-2.8) ──────────
    "tpch_q1_pricing" -> ((s, d) => Relational.pricingSummary(s, d)),
    "tpch_q3_top10" -> ((s, d) => Relational.shippingPriority(s, d)),
    "tpch_q5_nation_revenue" -> ((s, d) => Relational.localSupplierVolume(s, d)),
    "tpch_q14_promo_revenue" -> ((s, d) => Relational.promoRevenue(s, d)),
    "tpch_q9_brand_nation_volume" -> ((s, d) => Relational.brandVolumeByNation(s, d)),
    "tpch_q7_trade_volume" -> ((s, d) => Relational.nationTradeVolume(s, d)),
    "join_semi_open_orders" -> ((s, d) => Relational.customersWithOpenOrders(s, d)),
    "join_anti_no_orders" -> ((s, d) => Relational.customersWithoutOrders(s, d)),
    "join_outer_nation_counts" -> ((s, d) => Relational.nationCustomerCounts(s, d)),
    "window_top2_per_customer" -> ((s, d) => Relational.topOrdersPerCustomer(s, d)),
    "topk_orders" -> ((s, d) => Relational.topOrders(s, d)),
    "set_except_click_no_purchase" -> ((s, d) => Relational.clickedNotPurchased(s, d)),
    "dedup_first_event" -> ((s, d) => Relational.firstEventPerUserType(s, d)),
    "rollup_returnflag" -> ((s, d) => Relational.returnFlagRollup(s, d)),
    "scalar_buckets" -> ((s, d) => Relational.orderValueBuckets(s, d)),
    "join_above_cust_avg" -> ((s, d) => Relational.aboveCustomerAverage(s, d)),
    "tpch_q18_big_orders" -> ((s, d) => Relational.bigQuantityOrders(s, d)),
    "agg_distinct_brand_suppliers" -> ((s, d) => Relational.brandSupplierCounts(s, d)),
    // non-equi EXISTS (semi join with a shipdate inequality inside)
    "tpch_q4_late_orders" -> ((s, d) => Relational.latePriorityCounts(s, d)),
    // segment star with date cuts on both fact sides, top-k by rounded
    // revenue (Q3 shape; o_orderpriority stands in for shippriority)
    "tpch_q3_shipping_priority" -> ((s, d) =>
      Relational.shippingPriorityRevenue(s, d)),
    // scan-only scalar aggregate: every predicate pushed to parquet
    "tpch_q6_forecast_revenue" -> ((s, d) => Relational.forecastRevenue(s, d)),
    // conditional aggregation over a fact⋈fact join (Q12 shape)
    "tpch_q12_priority_lines" -> ((s, d) => Relational.lineStatusPriorityCounts(s, d)),
    // stacked aggregation + outer join (Q13 customer distribution)
    "tpch_q13_order_distribution" -> ((s, d) => Relational.orderCountDistribution(s, d)),
    // correlated per-part average threshold (Q17 shape)
    "tpch_q17_small_qty_revenue" -> ((s, d) => Relational.smallQuantityRevenue(s, d)),
    // disjunctive multi-attribute predicate across a join (Q19 shape)
    "tpch_q19_disjunctive_revenue" -> ((s, d) => Relational.disjunctiveRevenue(s, d)),
    // broadcast scalar subquery + anti join (Q22 shape)
    "tpch_q22_dormant_customers" -> ((s, d) => Relational.dormantHighValueCustomers(s, d)),
    // returned-item revenue top-k (Q10 shape)
    "tpch_q10_returned_revenue" -> ((s, d) => Relational.returnedItemRevenue(s, d)),
    // argmax against a broadcast one-row max (Q15 shape)
    "tpch_q15_top_supplier" -> ((s, d) => Relational.topSupplierRevenue(s, d)),
    // double-quantifier per-order aggregate (Q21 shape)
    "tpch_q21_solo_late_suppliers" -> ((s, d) => Relational.soloLateSuppliers(s, d)),
    // decorrelated MIN subquery + equality join-back (Q2 shape)
    "tpch_q2_min_cost_supplier" -> ((s, d) => Relational.minCostSupplier(s, d)),
    // two-sided star + conditional-sum ratio per year (Q8 shape)
    "tpch_q8_market_share" -> ((s, d) => Relational.marketShare(s, d)),
    // HAVING vs a broadcast global-total scalar (Q11 shape)
    "tpch_q11_important_parts" -> ((s, d) => Relational.importantParts(s, d)),
    // NOT IN anti-join + Expand-free distinct counts (Q16 shape)
    "tpch_q16_supplier_counts" -> ((s, d) => Relational.supplierCountsByPartAttrs(s, d)),
    // nested correlated threshold chain, exact arithmetic (Q20 shape)
    "tpch_q20_dominant_shippers" -> ((s, d) => Relational.dominantShippers(s, d)),
    // ROWS-frame moving aggregates + lag per user
    "window_moving_avg" -> ((s, d) => Relational.movingAverages(s, d)),
    // percent_rank / cume_dist / ntile per customer
    "window_order_percentiles" -> ((s, d) => Relational.orderPercentiles(s, d)),
    // ── text analysis over documents (LLM-pipeline operators) ───────────
    "text_token_counts" -> ((s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d)).orderBy("doc_id")),
    "text_lang_id" -> ((s, d) =>
      TextAnalysis.languageId(Tables.documents(s, d)).orderBy("doc_id")),
    "text_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d)).orderBy("doc_id")),
    "text_fingerprints" -> ((s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d)).orderBy("doc_id")),
    // the md5-keyed SQL-expressible winnow, hash-checked against DuckDB
    // (the xxhash64 production form stays the scale default, spec-anchored
    // in OperatorsSpec — same split as dedup_simhash_*)
    "text_winnow_fingerprints" -> ((s, d) =>
      TextAnalysis.winnowedFingerprintsSql(Tables.documents(s, d))
        .orderBy("doc_id")),
    // ── deduplication (LLM-pipeline operators) ──────────────────────────
    "dedup_exact_docs" -> ((s, d) =>
      Dedup.exactDedup(Tables.documents(s, d)).orderBy("keep_id")),
    "dedup_ngram_jaccard" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.ngramJaccardPairs(docs,
        shingles = Some(Dedup.sharedDocShingles(docs, cacheKey = d)))
        .orderBy("doc_a", "doc_b")
    }),
    // LSH candidates verified with the EXACT shingle jaccard: the result
    // is exactPairs ∩ candidates, so with banding recall 1.0 (DedupSpec
    // measures it) the DuckDB exact-pair oracle value-checks this path
    "dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshVerifiedPairs(Tables.documents(s, d))
        .orderBy("doc_a", "doc_b")),
    // text query-by-example: EXTERNAL query docs (every 97th doc minus
    // its first token, ids at bit 43) probe the corpus through the
    // minhash band index, candidates verified by EXACT shingle jaccard
    "dedup_minhash_search" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.minhashSearch(docs, Dedup.syntheticQueryDocs(docs))
        .orderBy("query_id", "doc_id")
    }),
    // exact Levenshtein ≤ 2 join via PassJoin segment blocking (never
    // all-pairs): originals' 24-char prefixes plus a first-char-mutated
    // copy of every 5th doc — distance-1 pairs by construction, exact
    // prefix dupes at distance 0 — plus 1-/2-/3-char strings exercising
    // the length-bucketed short-string fallback and its cross-path seam
    // (3-char strings are PassJoin members AND short-string partners at
    // k=2). Synthetic-row id offsets are disjoint powers of two at bit 40+
    // so they can never collide with real doc_ids at any SF (doc_id would
    // need to exceed 2^40). The naive quadratic form lives only in the
    // DuckDB oracle (documented small-SF verifier).
    "dedup_edit_distance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val orig = docs.select(col("doc_id").as("id"),
        substring(col("text"), 1, 24).as("s"))
      val mut = docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + (1L << 40)).as("id"),
          concat(lit("z"), substring(col("text"), 2, 23)).as("s"))
      val short2 = docs.where(col("doc_id") % 31 === 0)
        .select((col("doc_id") + (1L << 41)).as("id"),
          substring(col("text"), 1, 2).as("s"))
      val short1 = docs.where(col("doc_id") % 47 === 0)
        .select((col("doc_id") + (1L << 42)).as("id"),
          substring(col("text"), 1, 1).as("s"))
      val seam3 = docs.where(col("doc_id") % 53 === 0)
        .select((col("doc_id") + (1L << 43)).as("id"),
          substring(col("text"), 1, 3).as("s"))
      Dedup.editDistanceJoin(
        orig.unionByName(mut).unionByName(short2)
          .unionByName(short1).unionByName(seam3), k = 2)
        .orderBy("id_a", "id_b")
    }),
    // asymmetric containment |A∩B|/|A| ≥ 0.8 (excerpt/quote detection —
    // high containment where jaccard stays low); A-side rarest-first
    // prefix prunes, B-side posts all shingles (no sound B pruning)
    "dedup_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.containmentPairs(docs,
        shingles = Some(Dedup.sharedDocShingles(docs, cacheKey = d)))
        .orderBy("doc_a", "doc_b")
    }),
    // incremental shape: dedup a "new crawl" (every 5th doc) against the
    // rest of the corpus without re-clustering it
    "dedup_cross_corpus" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sh = Dedup.sharedDocShingles(docs, cacheKey = d)
      Dedup.crossCorpusPairs(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0),
        shingles = Some((sh.where(col("doc_id") % 5 === 0),
          sh.where(col("doc_id") % 5 =!= 0))))
        .orderBy("new_id", "old_id")
    }),
    // the md5-keyed SQL-expressible simhash: hash-checked against DuckDB
    // (bit-for-bit signature parity). The xxhash64 production form —
    // including the skew-capped salted buckets — stays the library
    // default and is recall/cap-spec'd in DedupSpec; this driver row
    // pins the vote arithmetic itself to an independent engine. It runs
    // UNCAPPED because oracle equality requires the pigeonhole-complete
    // join (the salt is a Spark-side hash DuckDB can't mirror) — a
    // flood-prone production deployment passes bucketCap (spec'd) or
    // runs exactDedup upstream.
    "dedup_simhash_sigs" -> ((s, d) =>
      Dedup.simhashSqlSignatures(Tables.documents(s, d)).orderBy("doc_id")),
    "dedup_simhash_pairs" -> ((s, d) =>
      Dedup.simhashSqlPairs(Tables.documents(s, d))
        .orderBy("doc_a", "doc_b")),
    // grid-blocked exact plan (equi-join per block-pair cell — no
    // nested-loop/cartesian); the naive all-pairs form is its spec-checked
    // verifier (DedupSpec, sf0.001)
    "dedup_embedding_cosine" -> ((s, d) =>
      Dedup.embeddingCosinePairsBlocked(Tables.embeddings(s, d)).orderBy("vec_a", "vec_b")),
    // dedup_clusters computes the pair graph + connected components LIVE
    // (it IS the clustering benchmark); the three downstream consumers
    // below read the dedup-once published cluster table instead
    // (Dedup.sharedNearDupClusters, keyed on the data dir)
    "dedup_clusters" -> ((s, d) =>
      Dedup.nearDupClusters(Tables.documents(s, d)).orderBy("doc_id")),
    // dedup telemetry: cluster-size histogram over the SHARED cluster table
    "dedup_cluster_stats" -> ((s, d) =>
      Dedup.clusterStats(
        Dedup.sharedNearDupClusters(Tables.documents(s, d), cacheKey = d))
        .orderBy("cluster_size")),
    "text_top_terms" -> ((s, d) =>
      TextAnalysis.topTerms(Tables.documents(s, d)).orderBy("doc_id", "rank")),
    // corpus heavy hitters: approx_top_k sketch bounded in-query against
    // the exact deterministic top-10 (the HLL/GK pattern for frequent items)
    "text_topk_sketch" -> ((s, d) =>
      TextAnalysis.topKSketchChecked(Tables.documents(s, d))),
    // Heaps-law vocabulary growth: distinct vocab at 10 equal-count
    // corpus prefixes — first-appearance min-agg + bounded cut joins,
    // all integer math
    "text_heaps_growth" -> ((s, d) =>
      TextAnalysis.heapsGrowth(Tables.documents(s, d))),
    // Zipf rank-frequency OLS fit over the top-200 terms: one term
    // partial-agg + TakeOrdered cut, then a bounded single-row fold;
    // 9dp-rounded lns, rank-ordered sums, 4dp slope/intercept
    "text_zipf_fit" -> ((s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d))),
    // corpus-level document/collection frequency + per-(doc,term) TF-IDF
    "text_term_stats" -> ((s, d) =>
      TextAnalysis.termStats(Tables.documents(s, d)).orderBy("term")),
    "text_tfidf" -> ((s, d) =>
      TextAnalysis.tfidf(Tables.documents(s, d)).orderBy("doc_id", "term")),
    // PMI collocations: strongest adjacent-bigram associations, count
    // floor 5, ranked by the ROUNDED score (deterministic top-k cut)
    "text_collocations" -> ((s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d))),
    // per-doc keyword extraction: top-3 TF-IDF terms per document
    "text_keywords" -> ((s, d) =>
      TextAnalysis.keywords(Tables.documents(s, d)).orderBy("doc_id", "kw_rank")),
    // corpus quality-distribution telemetry (equal-count deciles; exact
    // distributed ntile via GlobalOrder — no global window)
    "text_quality_deciles" -> ((s, d) =>
      TextAnalysis.qualityDeciles(Tables.documents(s, d)).orderBy("decile")),
    // per-source deciles: partitioned ntile, one reducer per shard
    "text_deciles_by_source" -> ((s, d) =>
      TextAnalysis.qualityDecilesBySource(Tables.documents(s, d))
        .orderBy("source", "decile")),
    // CCNet-style head/middle/tail perplexity split over the corpus-self
    // unigram LM (exact distributed ntile)
    "text_nll_buckets" -> ((s, d) =>
      TextAnalysis.nllBuckets(Tables.documents(s, d)).orderBy("doc_id")),
    // corpus-self unigram LM scoring (perplexity-gate building block)
    "text_unigram_nll" -> ((s, d) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, d)).orderBy("doc_id")),
    // interpolated bigram LM (Jelinek-Mercer λ=0.75, corpus-self model)
    "text_bigram_nll" -> ((s, d) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, d)).orderBy("doc_id")),
    // Gopher-style repetition signals (non-distinct bigram concentration)
    "text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d)).orderBy("doc_id")),
    // Gopher-style heuristic filter ladder: word-stat gates + per-gate
    // booleans (which gate rejected, not just that one did)
    "text_gopher_filters" -> ((s, d) =>
      TextAnalysis.gopherFilters(Tables.documents(s, d)).orderBy("doc_id")),
    // per-source unigram KL vs the corpus blend (mixture drift telemetry)
    "text_source_divergence" -> ((s, d) =>
      TextAnalysis.sourceDivergence(Tables.documents(s, d)).orderBy("source")),
    // corpus-wide bigram novelty (memorization-risk signal)
    "text_ngram_novelty" -> ((s, d) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, d)).orderBy("doc_id")),
    // benchmark-leakage guard: every 50th doc stands in as the "benchmark"
    // suite; its distinct shingle set is broadcast, the corpus pass stays
    // map-side
    "pipeline_decontaminate" -> ((s, d) =>
      Curation.decontaminate(Tables.documents(s, d),
        Tables.documents(s, d).where(col("doc_id") % 50 === 0))
        .orderBy("doc_id")),
    // one-row dedup dashboard over the shared cluster table
    "pipeline_dedup_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.dedupReport(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d))
    }),
    // attribution side of decontamination: per benchmark doc, how many
    // corpus docs leak it and the worst overlap
    "pipeline_contamination_report" -> ((s, d) =>
      Curation.contaminationReport(Tables.documents(s, d),
        Tables.documents(s, d).where(col("doc_id") % 50 === 0))
        .orderBy("bench_id")),
    // C4-style PII redaction (map-only counts + scrub; synthetic-PII
    // redaction behavior is spec-anchored in OperatorsSpec)
    "pipeline_scrub_pii" -> ((s, d) =>
      Curation.scrubPii(Tables.documents(s, d)).orderBy("doc_id")),
    // best-quality prefix under a token budget (corpus assembly step);
    // exact distributed prefix sum (GlobalOrder) — no global window
    "pipeline_token_budget" -> ((s, d) =>
      Curation.tokenBudgetSelect(Tables.documents(s, d), 10000L)
        .orderBy("doc_id")),
    // per-source budgets through a partitioned window — one prefix-sum
    // reducer per shard, the production corpus-mix shape
    "pipeline_budget_by_source" -> ((s, d) =>
      Curation.tokenBudgetSelectBy(Tables.documents(s, d), "source", 3000L)
        .orderBy("doc_id")),
    // composed end-to-end curation: language ID + quality gate + near-dup
    // canonical selection + token accounting in one declarative plan,
    // consuming the dedup-once shared cluster table
    "pipeline_curated_corpus" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.curatedCorpusFromClusters(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("doc_id")
    }),
    // stage-survival funnel over the same gate chain: ingest → near-dup
    // canonical → lang → quality, cumulative conditional sums in ONE
    // corpus pass, 4-row report assembled map-only
    "pipeline_funnel_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.curationFunnel(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("stage")
    }),
    // quality-argmax canonicalization: keep each cluster's BEST copy
    // (not its smallest id) — same shared cluster table
    "pipeline_best_of_cluster" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.curatedCorpusBestOfCluster(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("doc_id")
    }),
    // the pre-training release gate: dedup-canonical + language + quality
    // + decontamination + PII exposure, one composed plan over the same
    // shared cluster table
    "pipeline_release_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.releaseGate(docs, Dedup.sharedNearDupClusters(docs, cacheKey = d),
        docs.where(col("doc_id") % 50 === 0),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("doc_id")
    }),
    // the MULTIMODAL release gate: the text gate (dedup-canonical +
    // lang + quality over the shared text cluster table) composed with
    // image-canonical selection over the phash cluster table — a doc
    // with an image releases only as its image cluster's canonical
    // copy, so near-dup images ship once even when their surrounding
    // text dodges the text dedup
    "pipeline_multimodal_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.multimodalReleaseGate(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d),
        Multimodal.sharedImageClusters(s, docs, cacheKey = d),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("doc_id")
    }),
    // the FULL multimodal gate: text + image + audio + video cluster
    // tables composed in one release decision — every near-dup blob in
    // every modality ships exactly once
    "pipeline_multimodal_gate_full" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.multimodalReleaseGateFull(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d),
        Multimodal.sharedImageClusters(s, docs, cacheKey = d),
        Multimodal.sharedAudioClusters(s, docs, cacheKey = d),
        Multimodal.sharedVideoClusters(s, docs, cacheKey = d),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("doc_id")
    }),
    // sliding-window passage chunking (RAG / training-window split);
    // map-only explode, zero shuffle
    "pipeline_chunk_docs" -> ((s, d) =>
      Curation.chunkDocuments(Tables.documents(s, d))
        .orderBy("doc_id", "chunk_idx")),
    // the operational small-file loop, oracle-anchored end-to-end: the
    // corpus is deliberately fragmented into 64 micro-batch-sized files,
    // compacted (Compaction.compactTo — shuffle-free coalesce, row count
    // observed on the write job), and the QUERY READS THE COMPACTED
    // OUTPUT — so a compaction that lost, duplicated, or mangled rows
    // fails the DuckDB compare against the original table
    "pipeline_compacted_corpus" -> ((s, d) =>
      s.read.parquet(compactedDocsDir(s, d))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("char_mass"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("source")),
    // source-partitioned layout rewrite + a partition-filtered read: the
    // planner prunes non-matching directories before listing (LayoutSpec
    // asserts the numFiles metric); the oracle reads the ORIGINAL table
    "pipeline_partitioned_scan" -> ((s, d) =>
      s.read.parquet(partitionedDocsDir(s, d))
        .where(col("source").isin("src0", "src7", "src13"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("char_mass"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("source")),
    // bucketed-table co-located join: orders ⋈ lineitem both bucketed
    // 8-ways on the order key, sort-merge join with NO Exchange on
    // either side (the write pre-paid the shuffle — LayoutSpec asserts
    // the plan); reading the BUCKETED tables against the original-table
    // oracle catches any rewrite loss
    "pipeline_bucketed_join" -> ((s, d) =>
      bucketedJoinFrame(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          graft.functions.OracleRound.round2(
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
        .orderBy("o_orderstatus")),
    // z-order layout rewrite + a 2-D filtered read: BOTH the month and
    // the part-key predicate prune files on the Morton-clustered table
    // (LayoutSpec measures each dimension against a single-column
    // control); reading the REWRITTEN table against the original-table
    // oracle catches any loss
    "pipeline_zorder_scan" -> ((s, d) =>
      s.read.parquet(zorderedLineitemDir(s, d))
        .where(col("l_shipdate") >= lit("1995-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-04-01").cast("timestamp") &&
          col("l_partkey") <= lit(250L))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy("l_linestatus")),
    // range-clustered layout rewrite + a filtered read of the clustered
    // output: parquet min/max footers make the month scan file-prunable
    // (LayoutSpec asserts numFiles read ≪ files written)
    "pipeline_clustered_scan" -> ((s, d) =>
      s.read.parquet(clusteredLineitemDir(s, d))
        .where(col("l_shipdate") >= lit("1995-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          graft.functions.OracleRound.round2(
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
        .orderBy("l_linestatus")),
    // manifest-pruned scan: the file list is planned from the per-file
    // min/max MANIFEST table (O(files) metadata, one read — the
    // Iceberg/Delta planning shape), the exact predicate re-applied as
    // the residual; reads the same clustered table, different month
    "pipeline_manifest_scan" -> ((s, d) => {
      val (table, mdir) = manifestLineitemDirs(s, d)
      graft.engine.Layout.manifestPrunedRead(
        s, table, mdir, "l_shipdate", "1996-06-01", "1996-07-01")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          graft.functions.OracleRound.round2(
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
        .orderBy("l_linestatus")
    }),
    "pipeline_pack_sequences" -> ((s, d) =>
      Curation.packSequences(Tables.documents(s, d)).orderBy("doc_id")),
    // sharded form: partitioned window → one prefix-sum reducer per source
    "pipeline_pack_by_source" -> ((s, d) =>
      Curation.packSequencesBy(Tables.documents(s, d)).orderBy("doc_id")),
    // deterministic global training order: md5 shuffle key + exact
    // distributed global rank (GlobalOrder — no single-reducer window)
    "pipeline_train_order" -> ((s, d) =>
      Curation.trainOrder(Tables.documents(s, d)).orderBy("doc_id")),
    // systematic PPS sample: exact integer point placement along the
    // token prefix-sum axis — sum(n_draws) = 100 by construction
    "pipeline_systematic_sample" -> ((s, d) =>
      Curation.systematicSample(Tables.documents(s, d))),
    // per-column ingest profile: one pruned agg branch per column,
    // unioned — never a multi-distinct Expand over the fact table
    "pipeline_profile_docs" -> ((s, d) =>
      Curation.profileTable(Tables.documents(s, d),
        Seq("doc_id", "source", "lang", "n_chars"))),
    // wide-table profile: ONE aggregate pass for all columns (HLL
    // distinct, no per-column scans, no Expand); exact columns hash-match
    // the oracle and the HLL contract rides a 3×rsd boolean pinned TRUE
    "pipeline_profile_docs_approx" -> ((s, d) =>
      Curation.approxProfileTableChecked(Tables.documents(s, d),
        Seq("doc_id", "source", "lang", "n_chars"))),
    // corpus-learned boilerplate strip: top-20 corpus-frequent tokens
    // removed from every doc, remaining order preserved
    "pipeline_strip_boilerplate" -> ((s, d) =>
      Curation.stripBoilerplate(Tables.documents(s, d)).orderBy("doc_id")),
    // snapshot diff: prev = docs minus (id%17==3) with (id%13==5) texts
    // mutated; cur = docs minus (id%23==11) — added/removed/changed/
    // unchanged per id, both sides derived deterministically so the
    // oracle rebuilds the identical snapshots
    // PSI length-distribution drift between snapshots: prev drops
    // (id%17==3); cur drops (id%23==11) AND truncates the long tail
    // (n_chars < 450) so the banded shares genuinely move
    "pipeline_drift_psi" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.driftPsi(
        docs.where(col("doc_id") % 17 =!= 3),
        docs.where(col("doc_id") % 23 =!= 11 && col("n_chars") < 450))
        .orderBy("source")
    }),
    "pipeline_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val prev = docs.where(col("doc_id") % 17 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 13 === 5, concat(col("text"), lit(" v1")))
            .otherwise(col("text")))
      val cur = docs.where(col("doc_id") % 23 =!= 11)
      Curation.corpusDiff(prev, cur).orderBy("doc_id")
    }),
    // temperature-weighted source mixing table (alpha=0.7 upsampling)
    "pipeline_mixture_weights" -> ((s, d) =>
      Curation.mixtureWeights(Tables.documents(s, d)).orderBy("source")),
    // rebalance the corpus to the temperature mixture via deterministic
    // hash-threshold sampling (reproducible across runs/engines)
    "pipeline_mixture_sample" -> ((s, d) =>
      Curation.mixtureSample(Tables.documents(s, d)).orderBy("doc_id")),
    // data-constrained epoch plan: water-fill token allocation under
    // per-source repetition caps (hash-derived cap grid, λ from exact
    // integer prefix quantities + one IEEE division)
    "pipeline_epoch_plan" -> ((s, d) =>
      Curation.epochPlan(Tables.documents(s, d)).orderBy("source")),
    // temperature-scaled mixture quotas: p_s ∝ (Σ n_chars)^0.25 via two
    // IEEE sqrts (bit-exact cross-engine where pow is not), integer
    // largest-remainder fill so Σ quota = k exactly
    "pipeline_temperature_quota" -> ((s, d) =>
      Curation.temperatureMixtureGrid(Tables.documents(s, d))
        .orderBy("source")),
    // the draw against the quotas: per source the first quota docs by
    // the deterministic md5 fold of tmix:doc_id
    "pipeline_temperature_sample" -> ((s, d) =>
      Curation.temperatureMixtureSample(Tables.documents(s, d))
        .orderBy("source", "draw_rank")),
    // canary/memorization audit: which canary leaked into which doc at
    // what position — anchor-gram equi-join candidates, instr confirm;
    // canaries = 12-token spans lifted from a deterministic doc subset
    "pipeline_canary_scan" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val canaries = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .where(col("doc_id") % 83 === 5 && size(col("toks")) >= 22)
        .select(col("doc_id").as("canary_id"),
          concat_ws(" ", slice(col("toks"), 11, 12)).as("canary_text"))
      Curation.canaryScan(docs, canaries).orderBy("canary_id", "doc_id")
    }),
    // k-per-source deterministic sample through the custom bounded
    // TypedImperativeAggregate (map-side k-fold, not a full window sort)
    "pipeline_group_sample" -> ((s, d) =>
      Curation.groupSample(Tables.documents(s, d)).orderBy("source", "doc_id")),
    // deterministic hash-threshold stratified sampling — value-checked
    // by the oracle (same md5/hex arithmetic both engines); the seeded
    // sampleBy form stays spec-anchored in OperatorsSpec as API parity
    "pipeline_stratified_sample" -> ((s, d) =>
      Curation.stratifiedSampleDeterministic(Tables.documents(s, d),
        Map("en" -> 0.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 1.0))
        .select("doc_id", "lang").orderBy("doc_id")),
    // declarative DQ constraint suite: row-level checks share ONE
    // aggregate pass; unique gets a pruned distinct branch; the FK
    // anti-joins the broadcast customer key set (single-row aggregate
    // cross-joins are constant-size)
    "pipeline_constraint_checks" -> ((s, d) =>
      Quality.checkConstraints(Tables.orders(s, d), Seq(
        Quality.NotNull("o_custkey"),
        Quality.InRange("o_totalprice", 0.0, 300000.0),
        Quality.AcceptedValues("o_orderstatus", Seq("O", "F")),
        Quality.Unique(Seq("o_orderkey")),
        Quality.ReferencedIn("o_custkey", Tables.customer(s, d),
          "c_custkey", "customer")))),
    // mergeable per-source stats: three doc_id%3 batches fold to
    // algebraic states, merge pairwise, finalize — the oracle computes
    // the whole-table state directly, proving merge == direct
    "pipeline_incremental_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val states = (0 to 2).map(i =>
        Incremental.statsPartial(docs.where(col("doc_id") % 3 === i)))
      Incremental.finalizeStats(states.reduce(Incremental.mergeStats))
    }),
    // CDC changeset apply on orders: U(+1000 price, seq2) on key%5,
    // D(seq3) on key%7, I(new key, seq1) on key%11 — latest seq wins
    // per key (key%35 gets U then D → deleted), derived from orders
    // itself so the oracle rebuilds the identical changeset
    "pipeline_cdc_apply" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      val updates = base.where(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("op", lit("U")).withColumn("seq", lit(2L))
      val deletes = base.where(col("o_orderkey") % 7 === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(3L))
      val inserts = base.where(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
        .withColumn("o_orderstatus", lit("O"))
        .withColumn("o_totalprice", lit(42.0))
        .withColumn("o_orderpriority", lit("1-URGENT"))
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      Incremental.applyChangeset(
        base, updates.unionByName(deletes).unionByName(inserts),
        "o_orderkey")
        .withColumn("o_totalprice",
          graft.functions.OracleRound.round2(col("o_totalprice")))
        .orderBy("o_orderkey")
    }),
    // batch form of StreamOps.windowedTypeCounts (same plan minus the
    // watermark, which only bounds state in streaming mode)
    "stream_window_type_counts" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.functions.OracleRound.round2(sum(col("value"))).as("total"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("total"))
        .orderBy("window_start", "event_type")),
    // ── similarity search (LLM-pipeline operators) ──────────────────────
    "sim_bruteforce_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d)).orderBy("query_id", "rank")),
    // radius (range) search: every corpus vector with cosine >= 0.3 to
    // each query — the range complement of top-k serving; exact scan by
    // design (a radius answer may not miss), blocked/IVF stay the
    // approximate cut
    "sim_radius_search" -> ((s, d) =>
      Similarity.radiusSearch(Tables.embeddings(s, d))
        .orderBy("query_id", "vec_id")),
    // k-NN majority-label vote over the exact top-k (embedding eval)
    "sim_knn_label" -> ((s, d) =>
      Similarity.knnLabel(Tables.embeddings(s, d)).orderBy("query_id")),
    // contrastive hard-negative mining: top-k nearest DIFFERENT-label
    // vectors per query — the bruteForce scoring chain with the label
    // predicate pushed into the candidate join
    "sim_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d))
        .orderBy("query_id", "rank")),
    // cluster-quality QA gate: per-cluster simplified silhouette against
    // the SAME published centroid artifact as sim_ivf_topk — per-vector
    // values bit-exact (fold dots vs table literals, 6 dp), summary 4 dp
    "sim_silhouette" -> ((s, d) =>
      Similarity.silhouettePublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"ivf_centroids_${d.split('/').last}")
        .orderBy("cluster")),
    // index promotion gate: recall@5 of the published-IVF search vs the
    // exact scan, per query — both chains already oracle-checked, the
    // intersection count and the single-division recall are exact
    "sim_recall_eval" -> ((s, d) =>
      Similarity.recallEvalPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"ivf_centroids_${d.split('/').last}")
        .orderBy("query_id")),
    // Matryoshka truncation eval: recall@5 of the exact search run on
    // the FIRST 16 of 64 dims vs the full-dim exact scan — both sides
    // the bruteForce chain, hits an equi-join intersection count,
    // recall one IEEE division (how far may the serving tier truncate?)
    "sim_truncation_recall" -> ((s, d) =>
      Similarity.truncationRecall(Tables.embeddings(s, d))
        .orderBy("query_id")),
    // cluster labeling: top-5 most DISTINCTIVE terms per published-IVF
    // cluster by lift (in-cluster vs corpus relative frequency, floor 3
    // occurrences) — documents join the assignment on doc_id = vec_id;
    // integer counts, one rounded multiply-divide, rank cut after
    "sim_cluster_terms" -> ((s, d) =>
      Similarity.clusterTermsPublished(
        Tables.embeddings(s, d), Tables.documents(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"ivf_centroids_${d.split('/').last}")
        .orderBy("cluster", "rank")),
    // hybrid search: embedding top-20 + lexical rarity-weighted-overlap
    // top-20 fused by reciprocal rank (1/(60+rank) per list, two-term
    // IEEE sum rounded 6 dp before the final top-5 cut); lexical score
    // is INTEGER Σ (N − df) over distinct shared terms
    "sim_hybrid_rrf" -> ((s, d) =>
      Similarity.hybridRrf(Tables.embeddings(s, d), Tables.documents(s, d))
        .orderBy("query_id", "rank")),
    // maximal-marginal-relevance re-rank: greedy 5 picks from the exact
    // top-10 pool, each maximizing 0.5·rel − 0.5·max-sim-to-picked
    // (pool² pairwise cosines, k−1 unrolled argmax steps — serving-tier
    // cost, corpus touched only by the candidate former)
    "sim_mmr_rerank" -> ((s, d) =>
      Similarity.mmrRerank(Tables.embeddings(s, d))
        .orderBy("query_id", "pick")),
    // k-center greedy coreset (farthest-point sampling): 10 picks, each
    // the max-min-cosine-distance vector from the picked set (9 dp
    // round before the argmax, vec_id tie-break); mindist = the
    // coverage radius at pick time
    "sim_kcenter_coreset" -> ((s, d) =>
      Similarity.kCenterCoreset(Tables.embeddings(s, d))
        .orderBy("pick")),
    // contrastive triplets: per query the top same-label positive and
    // top different-label hard negative from ONE scored pass, plus the
    // pos − neg margin a triplet loss would see
    "sim_triplets" -> ((s, d) =>
      Similarity.triplets(Tables.embeddings(s, d))
        .orderBy("query_id")),
    // per-label class prototypes: one row per (label, dimension)
    "sim_label_centroids" -> ((s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d)).orderBy("label", "pos")),
    // nearest-centroid classification accuracy per label (embedding eval)
    "sim_centroid_agreement" -> ((s, d) =>
      Similarity.centroidAgreement(Tables.embeddings(s, d)).orderBy("label")),
    // per-label norm stats (collapsed/exploding-vector telemetry)
    "sim_norm_stats" -> ((s, d) =>
      Similarity.normStats(Tables.embeddings(s, d)).orderBy("label")),
    // int8 scalar quantization + reconstruction-error telemetry — map-only
    // compression pass; codes AND mse are IEEE-deterministic so the
    // oracle checks them bit-for-bit
    "sim_quantize_int8" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d)).orderBy("vec_id")),
    // connected components over the exact blocked cosine pair graph
    "dedup_embedding_clusters" -> ((s, d) =>
      Dedup.embeddingNearDupClusters(Tables.embeddings(s, d)).orderBy("vec_id")),
    // md5-keyed deterministic hyperplanes (no RNG) — the whole LSH
    // pipeline (planes, buckets, candidates, exact-cosine rerank) is
    // reproduced in DuckDB, so this is hash-checked; the seeded-gaussian
    // family stays recall-spec'd in SimilaritySpec
    "sim_lsh_topk" -> ((s, d) =>
      Similarity.lshTopKSql(Tables.embeddings(s, d)).orderBy("query_id", "rank")),
    // training/serving split: centroids PUBLISHED as parquet, serving
    // (assignment + probe + exact rerank) reproduced by the oracle from
    // the same published table — k-means means aren't SQL-reproducible,
    // but serving against fixed centroids is
    "sim_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopKPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"ivf_centroids_${d.split('/').last}")
        .orderBy("query_id", "rank")),
    // two-level probe selection on the Similarity ANN surface (round 17;
    // the Graph serving sibling is graph_embedding_neighbors_ivf_hier):
    // the SAME published centroids plus the published √nlist-group
    // quantizer — probes restricted to the top-2 of 4 groups' members
    "sim_ivf_hier_topk" -> ((s, d) =>
      Similarity.ivfTopKPublishedHier(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"ivf_centroids_${d.split('/').last}")
        .orderBy("query_id", "rank")),
    // binary sign-quantization ANN (round 17): 63-bit sign codes +
    // Hamming rank — the 1-bit point of the quantization family, one
    // long per vector; agreement with cosine measured in SimilaritySpec
    "sim_hamming_topk" -> ((s, d) =>
      Similarity.hammingTopK(Tables.embeddings(s, d))
        .orderBy("query_id", "rank")),
    // the retrieval deployment: an EXTERNAL query table (here a held-out
    // id subset, so DuckDB can replay it) served against the SAME
    // published centroid artifact as sim_ivf_topk — same assignment,
    // probe and rerank math, query set swapped
    "sim_ivf_external_topk" -> ((s, d) =>
      Similarity.ivfTopKPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"ivf_centroids_${d.split('/').last}",
        queryTable = Some(Tables.embeddings(s, d)
          .where(col("vec_id") % 97 === 1).select("vec_id", "embedding")))
        .orderBy("query_id", "rank")),
    // SemDeDup semantic prune: within-cluster cosine groups over the
    // SAME published centroid artifact, one representative kept per
    // group — the pair former is cluster-bucketed, never corpus²
    "sim_semantic_prune" -> ((s, d) =>
      Similarity.semanticPrunePublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"ivf_centroids_${d.split('/').last}")
        .orderBy("vec_id")),
    // the retrain trigger: PSI of the cluster-assignment distribution
    // between the even/odd vec_id cohorts against the SAME published
    // centroids — map-only assignment + nlist-sized partial-aggs, the
    // PSI itself constant-size (quantifies when rotateIvfIndex is due)
    "sim_centroid_drift" -> ((s, d) =>
      Similarity.centroidDriftPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"ivf_centroids_${d.split('/').last}")),
    // PQ/ADC compressed-index scan with exact rerank — same split: the
    // trained codebooks are published and the oracle replays code
    // assignment + the ADC sum + rerank from the published table
    "sim_pq_topk" -> ((s, d) =>
      Similarity.pqTopKPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"pq_codebooks_${d.split('/').last}")
        .orderBy("query_id", "rank")),
    // IVF coarse pruning × PQ compressed scan — the production ANN
    // pairing; publishes both artifacts, oracle replays the full chain
    "sim_ivfpq_topk" -> ((s, d) =>
      Similarity.ivfPqTopKPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"ivfpq_${d.split('/').last}")
        .orderBy("query_id", "rank")),
    // PCA train/serve split: covariance folds distributed, the (dim×dim)
    // moment matrix Jacobi-solves on the driver, the canonical rotation
    // publishes as parquet, and serving is one codegen'd map pass whose
    // sequential folds the oracle replays bit-for-bit
    "sim_pca_project" -> ((s, d) =>
      Similarity.pcaProjectPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"pca_${d.split('/').last}")
        .orderBy("vec_id")),
    // PCA whitening: the published projection scaled per component by
    // the PUBLISHED 1/sqrt(variance) table — serving map-only, both
    // artifacts as literals, every output replayable from the tables
    "sim_whiten" -> ((s, d) =>
      Similarity.whitenPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        pcaSlug = s"pca_${d.split('/').last}",
        slug = s"whiten_${d.split('/').last}")
        .orderBy("vec_id")),
    // ── SQL surface / approx / session windows ──────────────────────────
    "sql_revenue_by_status" -> ((s, d) => SqlSurface.revenueByStatus(s, d)),
    "sql_graft_dot" -> ((s, d) => SqlSurface.sqlDotProducts(s, d)),
    // both custom TypedImperativeAggregates through pure spark.sql —
    // the registration path, constant-folded md5 bucket indexes in SQL
    "sql_graft_sketches" -> ((s, d) => SqlSurface.sqlSketchSurface(s, d)),
    // an LLM-pipeline OPERATOR driven purely through spark.sql (round 16:
    // SqlSurface.registerLlmViews registers minhash pairs / IVF top-k /
    // BM25 as table entry points) — the SELECT executes the same lazy
    // Catalyst pipeline the Column API builds, value-checked by the
    // exact-jaccard oracle
    "sql_graft_minhash_pairs" -> ((s, d) => {
      SqlSurface.registerLlmViews(s, d)
      s.sql("""SELECT doc_a, doc_b, jaccard FROM graft_minhash_pairs
              |ORDER BY doc_a, doc_b""".stripMargin)
    }),
    // query-by-example from pure SQL (round 17): the caller registers a
    // query view — here a held-out id subset so DuckDB can replay it —
    // and SELECTs ANN results from graft_ivf_search, served against the
    // SAME published centroid artifact as graft_ivf_topk
    "sql_graft_ivf_search" -> ((s, d) => {
      Tables.embeddings(s, d).where(col("vec_id") % 89 === 2)
        .select("vec_id", "embedding")
        .createOrReplaceTempView("graft_spec_external_queries")
      SqlSurface.registerSearchViews(s, d,
        ivfQueryView = Some("graft_spec_external_queries"))
      s.sql("""SELECT query_id, rank, vec_id, cosine FROM graft_ivf_search
              |ORDER BY query_id, rank""".stripMargin)
    }),
    "agg_salted_user_counts" -> ((s, d) => Relational.saltedUserTypeCounts(s, d)),
    // deliberately-skewed shuffle join, salted: results must be identical
    // to the plain join (the salt is a physical-plan rewrite only)
    "join_salted_event_orders" -> ((s, d) => Relational.saltedEventOrderJoin(s, d)),
    // banded event-time range join: hour-bucket equi-join + exact range
    // filter instead of a nested-loop over the cross space
    "join_range_click_context" -> ((s, d) => Relational.purchaseClickContext(s, d)),
    // variable-width interval overlap join: points bucket once, intervals
    // explode to covering buckets — never a nested loop
    "join_interval_overlap" -> ((s, d) => Relational.userDayPurchaseOverlap(s, d)),
    // Bloom semi-join reduction: fact rows that cannot match a selective
    // dim are dropped at the scan, before the join's exchange
    "join_bloom_pruned_revenue" -> ((s, d) => Relational.bloomPrunedUrgentRevenue(s, d)),
    // GK quantile sketch bounded in-query (the HLL pattern for quantiles)
    "agg_percentile_sketch" -> ((s, d) => Relational.approxPercentilesChecked(s, d)),
    "join_asof_latest_order" -> ((s, d) =>
      AsOfJoin.eventsToLatestOrder(s, d).orderBy("event_id")),
    // forward direction: earliest order AT/after each event
    "join_asof_next_order" -> ((s, d) =>
      AsOfJoin.eventsToNextOrder(s, d).orderBy("event_id")),
    // nearest direction (completes the as-of trio): both carries in one
    // pass, smaller second-granularity gap wins, backward breaks ties
    "join_asof_nearest_order" -> ((s, d) =>
      AsOfJoin.eventsToNearestOrder(s, d).orderBy("event_id")),
    "agg_order_stats" -> ((s, d) => Relational.orderStats(s, d)),
    "fn_array" -> ((s, d) => FunctionSurface.arrayFunctions(s, d).orderBy("vec_id")),
    "fn_datetime" -> ((s, d) => FunctionSurface.datetimeFunctions(s, d)),
    "cube_status_priority" -> ((s, d) => FunctionSurface.statusPriorityCube(s, d)),
    // explicit GROUPING SETS list + grouping_id
    "agg_grouping_sets" -> ((s, d) => FunctionSurface.returnFlagGroupingSets(s, d)),
    // string-function palette (reverse/pad/extract/position/editdist)
    "fn_string" -> ((s, d) => FunctionSurface.stringFunctions(s, d)),
    // generated calendar spine + gap fill (zero-order days kept)
    "fn_date_spine" -> ((s, d) => FunctionSurface.orderDateSpine(s, d)),
    // MapType palette over schema-free JSON props
    "fn_map" -> ((s, d) => FunctionSurface.mapFunctions(s, d)),
    "set_intersect_hours" -> ((s, d) => FunctionSurface.clickAndPurchaseHours(s, d)),
    "pivot_event_types" -> ((s, d) => FunctionSurface.eventTypePivot(s, d)),
    // wide→long melt (Dataset.unpivot → Expand, map-side) + per-metric fold
    "fn_unpivot_metrics" -> ((s, d) => FunctionSurface.metricUnpivot(s, d)),
    "approx_distinct_users" -> ((s, d) => SqlSurface.approxUserCountsChecked(s, d)),
    "session_windows" -> ((s, d) => SqlSurface.sessionWindows(s, d)),
    // ── multimodal binary-column plumbing (stubbed decode) ──────────────
    // modality accounting: (source, media_type) counts + byte mass
    "multimodal_media_stats" -> ((s, d) =>
      Multimodal.mediaStats(Tables.documents(s, d))
        .orderBy("source", "media_type")),
    "multimodal_decode" -> ((s, d) =>
      Multimodal.decodeFeatures(s,
        Multimodal.attachMedia(Tables.documents(s, d))).toDF().orderBy("doc_id")),
    "multimodal_frames" -> ((s, d) =>
      Multimodal.sampleFrames(s,
        Multimodal.attachMedia(Tables.documents(s, d)))
        .orderBy("doc_id", "frame_idx")),
    "multimodal_resize" -> ((s, d) =>
      Multimodal.resizeImages(s,
        Multimodal.attachMedia(Tables.documents(s, d)))
        .orderBy("doc_id")),
    // pixel-level perceptual hash: REAL PNG pixel decode (zlib inflate +
    // scanline unfilter) → integer luma grid → 56-bit dHash
    "multimodal_phash" -> ((s, d) =>
      Multimodal.imagePerceptualHash(s,
        Multimodal.attachPixelImages(Tables.documents(s, d)))
        .orderBy("doc_id")),
    // the SAME hashes over MIXED containers: odd image slots re-render
    // the identical grid as a REAL baseline grayscale JPEG, decoded
    // through the full Huffman + dequant + IDCT path (block-constant
    // content is lossless under the flat-8 quant table, which is what
    // keeps this oracle digit-exact) — proves the JPEG pixel decode
    // end to end with the same md5 formula as multimodal_phash
    "multimodal_phash_mixed" -> ((s, d) =>
      Multimodal.imagePerceptualHash(s,
        Multimodal.attachPixelImagesMixed(Tables.documents(s, d)))
        .orderBy("doc_id")),
    // image near-dup pairs: hamming-LSH bands (7×8-bit) over the dHash,
    // refined by bit_count(xor) ≤ 6 — minhash-LSH's image analog,
    // bucketed, never all-pairs
    "multimodal_image_neardup" -> ((s, d) =>
      Multimodal.imageNearDupPairs(s,
        Multimodal.attachPixelImages(Tables.documents(s, d)))
        .orderBy("doc_a", "doc_b")),
    // query-by-image serving: three EXTERNAL query PNGs (perturbation
    // blocks the store never uses) decoded through the same real pixel
    // path, ranked top-5 against the stored hashes by (hamming, doc_id)
    "multimodal_phash_search" -> ((s, d) =>
      Multimodal.phashSearch(s,
        Multimodal.attachPixelImages(Tables.documents(s, d)),
        Multimodal.syntheticQueryImages(s, Seq((3, 5), (17, 6), (29, 5))))
        .orderBy("query_id", "rank")),
    // content-level audio features: REAL 16-bit LE PCM decode of the
    // WAV data chunk — sample count, total/peak |amplitude|, zero
    // crossings, all integer-exact
    "multimodal_audio_features" -> ((s, d) =>
      Multimodal.audioContentFeatures(s,
        Multimodal.attachMedia(Tables.documents(s, d)))
        .orderBy("doc_id")),
    // audio near-dup: 56-bit energy-envelope fingerprint (57 balanced
    // windows, cross-multiplied mean comparisons — no floats) through
    // the same 7×8-bit hamming-LSH band machinery as the image phash
    "multimodal_audio_neardup" -> ((s, d) =>
      Multimodal.audioNearDupPairs(s,
        Multimodal.attachMedia(Tables.documents(s, d)))
        .orderBy("doc_a", "doc_b")),
    // image dedup clusters: connected components over the phash pair
    // graph (the shared min-label CC loop), min doc_id as the canonical
    // label; singletons label themselves — completes pairs → clusters
    // for the image modality exactly as the text/embedding dedups do.
    // Compute-once PUBLISHED (round 12): the gates read the same table
    "multimodal_image_clusters" -> ((s, d) =>
      Multimodal.sharedImageClusters(s, Tables.documents(s, d), cacheKey = d)
        .orderBy("doc_id")),
    // REAL video containers: 4 concatenated pixel-PNG frames per video
    // doc, split back out (guarded chunk walk), each frame through the
    // same real pixel decode as the stills → per-frame 56-bit dHash
    "multimodal_video_frames" -> ((s, d) =>
      Multimodal.videoFrameHashes(s,
        Multimodal.attachVideoFrames(Tables.documents(s, d)))
        .orderBy("doc_id", "frame_idx")),
    // video near-dup via frame-hash overlap: distinct (video, fhash)
    // equi-joined on the exact hash (bucketed, never all-pairs) with a
    // hot-frame df cut, pairs sharing >= 2 distinct frames
    "multimodal_video_neardup" -> ((s, d) =>
      Multimodal.videoNearDupPairs(s,
        Multimodal.attachVideoFrames(Tables.documents(s, d)))
        .orderBy("doc_a", "doc_b")),
    // scene-change detection: per-frame dHash hamming vs predecessor
    // over 6-frame scene containers (two 3-frame scenes, never sharing
    // a seed); boundary where hamming > 8 — a threshold the generator
    // separates EXHAUSTIVELY (within-scene <= 3, cross-seed >= 16)
    "multimodal_video_scenes" -> ((s, d) =>
      Multimodal.videoSceneBoundaries(s,
        Multimodal.attachSceneVideos(Tables.documents(s, d)))
        .orderBy("doc_id", "frame_idx")),
    // silence segmentation: per audio doc the quiet-window count,
    // merged quiet segments, and longest quiet run over planted
    // speech/silence WAVs — integer-exact cross-multiplied quiet cut,
    // the trim/VAD accounting before audio feature extraction
    "multimodal_audio_segments" -> ((s, d) =>
      Multimodal.audioSilenceSegments(s,
        Multimodal.attachSegmentedAudio(Tables.documents(s, d)))
        .orderBy("doc_id")),
    // scene-balanced keyframe sampling: one keyframe per (video, scene)
    // with the scene's frame count — per-scene sampling so long static
    // shots don't dominate a frame budget
    "multimodal_scene_keyframes" -> ((s, d) =>
      Multimodal.sceneKeyframes(s,
        Multimodal.attachSceneVideos(Tables.documents(s, d)))
        .orderBy("doc_id", "scene_id")),
    // audio dedup clusters: connected components over the
    // energy-fingerprint pair graph — completing pairs → clusters for
    // the audio modality as for image/video/text/embedding
    // (compute-once published; the full gate reads the same table)
    "multimodal_audio_clusters" -> ((s, d) =>
      Multimodal.sharedAudioClusters(s, Tables.documents(s, d), cacheKey = d)
        .orderBy("doc_id")),
    // video dedup clusters: connected components over the frame-hash
    // overlap pair graph (the shared min-label CC loop) — pairs →
    // clusters for video exactly as the image/text/embedding modalities
    // (compute-once published; the full gate reads the same table)
    "multimodal_video_clusters" -> ((s, d) =>
      Multimodal.sharedVideoClusters(s, Tables.documents(s, d), cacheKey = d)
        .orderBy("doc_id")),
    // query-by-audio serving: three EXTERNAL query WAVs from a
    // closed-form PCM generator (amplitudes the oracle replays
    // digit-exact), decoded + fingerprinted through the same real PCM
    // path as the store, ranked top-5 by (hamming, doc_id)
    "multimodal_audio_search" -> ((s, d) =>
      Multimodal.audioSearch(s,
        Multimodal.attachMedia(Tables.documents(s, d)),
        Multimodal.syntheticQueryAudio(s, Seq(11, 23, 42)))
        .orderBy("query_id", "rank")),
    // query-by-video serving: three EXTERNAL 2-keyframe query
    // containers, split + pixel-decoded through the ingest path,
    // ranked top-5 by DISTINCT shared frame hashes — candidates from
    // the frame-hash equi-join (bucketed, never a corpus scan)
    "multimodal_video_search" -> ((s, d) =>
      Multimodal.videoSearch(s,
        Multimodal.attachVideoFrames(Tables.documents(s, d)),
        Multimodal.syntheticQueryVideos(s, Seq((3, 0), (9, 5), (17, 2))))
        .orderBy("query_id", "rank")),
    // BM25 top-10 retrieval for the corpus's own head terms (scores
    // rounded BEFORE ranking so the rank order is cross-engine exact)
    "text_bm25" -> ((s, d) =>
      TextAnalysis.bm25TopK(Tables.documents(s, d))
        .orderBy("query_term", "rank")),
    // EXTERNAL-query BM25 serving: the caller's own terms probe the
    // index (the ANN queryTable= parity for text retrieval); the fact
    // side never reshuffles for serving
    "text_bm25_external" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.bm25TopK(Tables.documents(s, d),
        queryTable = Some(Seq("vector", "stream", "window").toDF("term")))
        .orderBy("query_term", "rank")
    }),
    // inverted index: df/cf + the head of each term's postings list
    "text_inverted_index" -> ((s, d) =>
      TextAnalysis.invertedIndex(Tables.documents(s, d)).orderBy("term")),
    // positional-index phrase search (the oracle proves the position-join
    // plan equals a direct n-gram scan)
    "text_phrase_search" -> ((s, d) =>
      TextAnalysis.phraseMatches(Tables.documents(s, d)).orderBy("doc_id")),
    // maximal duplicated token spans (substring-level dedup report);
    // string-keyed variant here for the oracle — DedupSpec proves the
    // xxhash64-keyed scale default emits identical spans
    "dedup_substring_spans" -> ((s, d) =>
      Dedup.duplicatedSpans(Tables.documents(s, d), hashKeys = false)
        .orderBy("doc_id", "span_start")),
    // exact-size weight-proportional sample without replacement
    // (Efraimidis–Spirakis keys, deterministic hash uniforms)
    "pipeline_weighted_sample" -> ((s, d) =>
      Curation.weightedSample(Tables.documents(s, d), k = 64)
        .orderBy(col("sample_key").desc, col("doc_id"))),
    // classifier-based quality filtering: logistic regression over
    // hashed unigram buckets distilling the language-ID heuristic,
    // trained once and PUBLISHED (the IVF centroid discipline); scoring
    // is the map-only margin fold against the published weight table —
    // no transcendental in the scored output, so the oracle is exact
    "pipeline_quality_classifier" -> ((s, d) =>
      Curation.qualityClassifierScores(Tables.documents(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"clf_weights_${d.split('/').last}")
        .orderBy("doc_id")),
    // reliability report: margin deciles (exact distributed ntile) vs
    // observed positive-label rate per decile — sigmoid-free
    // calibration for the published classifier
    "pipeline_classifier_calibration" -> ((s, d) =>
      Curation.classifierCalibration(Tables.documents(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"clf_weights_${d.split('/').last}")
        .orderBy("bin")),
    // the promotion gate: confusion matrix + accuracy of the published
    // classifier against its reference labels, one partial aggregate
    "pipeline_classifier_eval" -> ((s, d) =>
      Curation.qualityClassifierEval(Tables.documents(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"clf_weights_${d.split('/').last}")),
    // DSIR hashed-bigram importance weights: per-doc log p_target/p_raw
    // under Laplace-smoothed 64-bucket models (target = the corpus's own
    // English docs) — bucket-bounded per-doc folds, corpus scanned once
    "pipeline_dsir_weights" -> ((s, d) =>
      Curation.dsirLogWeights(Tables.documents(s, d)).orderBy("doc_id")),
    // the resampling step: Gumbel top-k over the same weights with
    // deterministic hash noise — exactly k docs drawn ∝ importance
    "pipeline_dsir_sample" -> ((s, d) =>
      Curation.dsirSample(Tables.documents(s, d))
        .orderBy(col("sample_key").desc, col("doc_id"))),
    // leakage-safe split: train/validation/test assigned per NEAR-DUP
    // CLUSTER (the published cluster table), deterministic md5 rule —
    // a test doc can never have a near-dup in train
    "pipeline_leakage_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.leakageSafeSplit(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d))
        .orderBy("doc_id")
    }),
    // join-key skew profile: exact per-key count distribution stats
    // (GlobalOrder rank percentiles) — the pre-flight shuffle telemetry
    "pipeline_skew_profile" -> ((s, d) =>
      Curation.keySkewProfile(Tables.events(s, d),
        Seq("user_id", "event_type"))
        .orderBy("key_name")),
    // cross-source shingle-overlap matrix: jaccard + both directional
    // containments per source pair (ingest double-count telemetry)
    "pipeline_source_overlap" -> ((s, d) =>
      Curation.sourceOverlap(Tables.documents(s, d))
        .orderBy("source_a", "source_b")),
    // schema evolution: two parquet generations (v1 lacks lang/n_chars)
    // read as ONE table via mergeSchema — old files widen with nulls;
    // the oracle replays the parity split on the original table
    "pipeline_schema_evolution" -> ((s, d) => {
      val (v1, v2) = evolvedDocsDirs(s, d)
      graft.engine.Layout.evolvedRead(s, v1, v2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("lang")).as("n_with_lang"),
          sum(coalesce(col("n_chars"), lit(0L))).as("chars_known"),
          concat_ws(",", sort_array(collect_set(col("lang")))).as("langs"))
        .orderBy("source")
    }),
    // ── graph analytics over relation-derived graphs ────────────────────
    // customer–supplier trade graph: degree histogram per side — all
    // trade-graph consumers read the compute-once published edge table
    // (keyed on the data dir), so the orders⋈lineitem derivation runs
    // once per data key, not once per query
    "graph_degrees" -> ((s, d) =>
      Graph.degreeHistogram(
        Graph.sharedTradeEdges(Tables.orders(s, d), Tables.lineitem(s, d),
          cacheKey = d))
        .orderBy("side", "degree")),
    // deterministic hash-seeded random walks (DeepWalk corpus),
    // computed ONCE per data key and PUBLISHED — every walk consumer
    // (this query, the context-pair miner, the SGNS trainer) reads the
    // same parquet table instead of re-running the 4 frontier joins
    "graph_random_walks" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.sharedWalkCorpus(edges, cacheKey = d)
        .orderBy("walk_id", "step")
    }),
    // node2vec second-order biased walks (p=4, q=0.25 — outward): the
    // return/local/explore weights drawn by a deterministic inverse-CDF
    // over an ORDERED prefix sum, so the biased choice replays exactly;
    // published compute-once beside the DeepWalk corpus
    "graph_node2vec_walks" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.sharedNode2vecCorpus(edges, cacheKey = d)
        .orderBy("walk_id", "step")
    }),
    // GraphSAGE fixed-fanout neighborhood sampling (3 then 2) from a
    // sampled customer cohort: per-edge md5-hash rank picks the sampled
    // adjacency ONCE, each hop is one frontier-sized equi-join —
    // the bounded GNN computation tree, engine-reproducible
    "graph_sage_sample" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.sageSample(edges,
        Tables.customer(s, d).where(col("c_custkey") % 97 === 1)
          .select(concat(lit("c:"), col("c_custkey")).as("seed")),
        adjacency = Some(Graph.sharedSageAdjacency(edges, cacheKey = d)))
        .orderBy("seed", "hop", "parent", "branch")
    }),
    // GraphSAGE 2-layer mean aggregation over the sampled trees:
    // branch-ordered folds, acctbal features, h = (x + mean children)/2
    // per layer (9 dp then 6 dp) — the GNN layer cost is the tree size
    "graph_sage_aggregate" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val tree = Graph.sageSample(edges,
        Tables.customer(s, d).where(col("c_custkey") % 97 === 1)
          .select(concat(lit("c:"), col("c_custkey")).as("seed")),
        adjacency = Some(Graph.sharedSageAdjacency(edges, cacheKey = d)))
      val feats = Tables.customer(s, d)
        .select(concat(lit("c:"), col("c_custkey")).as("node"),
          col("c_acctbal").cast("double").as("x"))
        .unionByName(Tables.supplier(s, d)
          .select(concat(lit("s:"), col("s_suppkey")).as("node"),
            col("s_acctbal").cast("double").as("x")))
      Graph.sageAggregate(tree, feats).orderBy("seed")
    }),
    // skip-gram (center, context) pairs within ±2 steps over the
    // PUBLISHED DeepWalk corpus — the window pass is the query's only
    // compute; the walk generation cost was paid once per data key
    "graph_walk_context_pairs" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.walkContextPairs(Graph.sharedWalkCorpus(edges, cacheKey = d))
        .orderBy("walk_id", "center_step", "offset")
    }),
    // second-order skip-gram pairs — the actual node2vec training
    // input: the same ±2-step window pass over the PUBLISHED node2vec
    // corpus (near-zero marginal cost once the corpus is published)
    "graph_node2vec_context_pairs" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.walkContextPairs(Graph.sharedNode2vecCorpus(edges, cacheKey = d))
        .orderBy("walk_id", "center_step", "offset")
    }),
    // SGNS node embeddings: trained once over the PUBLISHED DeepWalk
    // corpus (skip-gram with 2 hash-drawn negatives, full-batch GD on
    // node-sized DataFrame state), published as (node, vec), served
    // here as exact top-5 cosine neighbors of a 10-customer cohort —
    // the oracle replays serving from the same published table
    "graph_embedding_neighbors" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_${d.split('/').last}")
      Graph.embeddingNeighbors(emb,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct())
        .orderBy("query", "rank")
    }),
    // link prediction — the embeddings' canonical downstream consumer:
    // top-5 NOT-yet-adjacent suppliers per cohort customer by published-
    // embedding cosine (adjacency anti-joined out before the rank)
    "graph_link_prediction" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_${d.split('/').last}")
      Graph.linkPrediction(emb, edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct())
        .orderBy("query", "rank")
    }),
    // link prediction on the IVF-pruned candidate set — the scaled
    // serving shape of the every-user recommendation query: candidates
    // from probed buckets of the SAME published centroid table as
    // graph_embedding_neighbors_ivf, adjacency anti-joined before the
    // rank, in_exact honesty vs the exact chain
    "graph_link_prediction_ivf" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_${d.split('/').last}")
      Graph.linkPredictionIvf(emb, edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct(),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_ivf_${d.split('/').last}")
        .orderBy("query", "rank")
    }),
    // the pruned-only PRODUCTION serving spellings (round 16): the same
    // chains as the _ivf variants with the honesty join dropped — the
    // oracle value-checks the production path on its own, and
    // graft.IvfServingBench measures it at an every-customer cohort
    "graph_embedding_neighbors_ivf_pruned" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_${d.split('/').last}")
      Graph.embeddingNeighborsIvfPruned(emb,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct(),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_ivf_${d.split('/').last}")
        .orderBy("query", "rank")
    }),
    "graph_link_prediction_ivf_pruned" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_${d.split('/').last}")
      Graph.linkPredictionIvfPruned(emb, edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct(),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_ivf_${d.split('/').last}")
        .orderBy("query", "rank")
    }),
    // two-level probe selection (round 17): top-2 of the 4 published
    // centroid groups, then probes among their members only — the
    // sub-linear selection path the oracle replays from the published
    // group table (see ivfServingCtes' hier CTEs)
    "graph_embedding_neighbors_ivf_hier" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_${d.split('/').last}")
      Graph.embeddingNeighborsIvfPruned(emb,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct(),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_ivf_${d.split('/').last}",
        gprobe = 2)
        .orderBy("query", "rank")
    }),
    // the node2vec-trained sibling: the SAME corpus-agnostic SGNS
    // trainer pointed at the published second-order corpus (its own
    // published table — p/q bias changes the mined pairs, so the
    // geometry differs), served identically — the biased walk corpus
    // trains something too, not just the uniform one
    "graph_embedding_neighbors_n2v" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedNode2vecCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_n2v_${d.split('/').last}")
      Graph.embeddingNeighbors(emb,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct())
        .orderBy("query", "rank")
    }),
    // the IVF-pruned serving path over the SAME published embedding
    // table: centroids published once (node_emb_ivf slug), assignment +
    // nprobe probe lists + exact rerank of probed buckets only — with
    // the in_exact honesty column (IVF hit ∈ exact top-5) hash-checked
    // by the oracle replaying BOTH chains from the published tables
    "graph_embedding_neighbors_ivf" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_${d.split('/').last}")
      Graph.embeddingNeighborsIvf(emb,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct(),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_ivf_${d.split('/').last}")
        .orderBy("query", "rank")
    }),
    // embedding promotion-gate report: per bipartite side-pair, counts
    // and 4 dp mean cosine/norm over ONE deterministic hash-drawn
    // partner per node — the classifier-eval discipline applied to the
    // published embedding table before a version serves
    "graph_embedding_eval" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.embeddingEval(Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = s"node_emb_${d.split('/').last}"))
    }),
    // walk-corpus QA: per step, surviving walks and distinct-node
    // coverage — a read + two partial aggregates over the published
    // corpus (a shrinking walk count would mean a broken generator)
    "graph_walk_corpus_stats" -> ((s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.walkCorpusStats(Graph.sharedWalkCorpus(edges, cacheKey = d))
    }),
    // 5-iteration damped PageRank on the symmetrized trade graph
    // (checkpointed contributions loop — one |E| join + sum per round)
    "graph_pagerank" -> ((s, d) => {
      val adj = Graph.sharedSymAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.pageRank(adj.edges, adjacency = Some(adj)).orderBy("node")
    }),
    // per-part triangle counts on the co-purchase (market-basket) graph —
    // a projection of the compute-once published triangle-stats table
    // (shared with graph_clustering_coeff, keyed on the data dir)
    "graph_triangles" -> ((s, d) =>
      Graph.sharedCopurchaseTriangleStats(Tables.lineitem(s, d), cacheKey = d)
        .where(col("triangles") > 0)
        .select(col("part_key"), col("triangles"))
        .orderBy("part_key")),
    // HITS hubs/authorities on the DIRECTED bipartite trade graph
    "graph_hits" -> ((s, d) =>
      Graph.hits(
        Graph.sharedTradeEdges(Tables.orders(s, d), Tables.lineitem(s, d),
          cacheKey = d))
        .orderBy("role", "node")),
    // weighted PageRank: walk probability follows trade volume
    // (order-line counts), not mere adjacency
    "graph_pagerank_weighted" -> ((s, d) => {
      val adj = Graph.sharedSymWeightedAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.weightedPageRank(adj.edges, adjacency = Some(adj))
        .orderBy("node")
    }),
    // harmonic closeness from a sampled 10-customer cohort: per-source
    // hop-bounded BFS in ONE (src, node)-keyed frame, harmonic sum as a
    // fixed-order expression over integer hop counts
    "graph_closeness_sampled" -> ((s, d) => {
      val adj = Graph.sharedSymAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.closenessSampled(adj.edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("src")).distinct(),
        adjacency = Some(adj))
        .orderBy("src")
    }),
    // hop-bounded sampled Brandes betweenness from the same 10-customer
    // cohort: forward BFS carries exact integer path counts, backward
    // dependency folds are successor-ordered at 9 dp — replayable
    "graph_betweenness_sampled" -> ((s, d) => {
      val adj = Graph.sharedSymAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.betweennessSampled(adj.edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("src")).distinct(),
        adjacency = Some(adj))
        .orderBy("node")
    }),
    // personalized PageRank: proximity to a 10-customer cohort (teleport
    // to sources only — the related-supplier recommendation primitive)
    "graph_ppr_cohort" -> ((s, d) => {
      val adj = Graph.sharedSymAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.personalizedPageRank(adj.edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("u")).distinct(),
        adjacency = Some(adj))
        .orderBy("node")
    }),
    // cluster-balanced diversity sample off the PUBLISHED IVF centroids
    // (compute-once shared with the ANN serving paths): map-only
    // assignment + bounded bottom-k per cluster — never a corpus-wide
    // sort across nlist reducers
    "pipeline_diverse_sample" -> ((s, d) =>
      Similarity.diverseSample(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = s"ivf_centroids_${d.split('/').last}")
        .orderBy("cluster", "rank")),
    // connected components of the support-2 co-purchase graph by
    // FIXED-iteration min-label propagation (10 rounds — exact CC once
    // converged, engine-replayable either way; GraphSpec pins convergence)
    "graph_components" -> ((s, d) =>
      Graph.components(
        Graph.sharedCopurchaseEdgesSupported(Tables.lineitem(s, d),
          cacheKey = d))
        .orderBy("part_key")),
    // ── sequence / behavioral analytics ────────────────────────────────
    // earliest-path funnel: one filtered per-user min-agg per step
    // chained by joins — never a per-user event list
    "events_funnel" -> ((s, d) => Sequence.funnel(s, d)),
    // first-order transition matrix: per-user ordered lead + one
    // partial-agg; the normalizer windows over the 5×5 matrix only
    "events_transitions" -> ((s, d) => Sequence.transitions(s, d)),
    // stationary distribution of the transition chain: 5 power-iteration
    // rounds on the event-type grid, from-ordered folds, corpus scanned
    // once for the pair counts
    "events_markov_stationary" -> ((s, d) =>
      Sequence.markovStationary(s, d).orderBy("event_type")),
    // per-user Markov path NLL (behavioral perplexity): MLE transition
    // model over the (row_number pre-cut) first 256 transitions per
    // user, per-user sequential-fold sum — the session-quality filter
    "events_path_nll" -> ((s, d) => Sequence.pathNll(s, d)),
    // cohort retention: first-event-day cohorts × week offsets, all
    // partial-agg; offset-0 counts ARE the cohort sizes
    "events_retention" -> ((s, d) => Sequence.retention(s, d)),
    // Kaplan-Meier signup→purchase survival with right-censoring at
    // last activity; life table bounded by the calendar, product folded
    // in ascending-day order (oracle folds the identical sequence)
    "events_survival" -> ((s, d) =>
      Sequence.survivalCurve(s, d).orderBy("duration_days")),
    // multi-touch attribution: first/last/linear credit in exact integer
    // micro-cents; one user-keyed purchases-touches join, per-purchase
    // windows, anti-joined 'none' channel completes each ledger
    "events_attribution" -> ((s, d) => Sequence.attribution(s, d)),
    // batch sessionization (gaps-and-islands): the oracle-checked batch
    // truth for the streaming sessionize gap rule; exact integer micros
    "events_sessions" -> ((s, d) => Sequence.sessions(s, d)),
    // RFM lifecycle segmentation: exact distributed quintiles (ntile via
    // GlobalOrder, custkey tie-break) over recency/frequency/cents,
    // rolled up to <=125 segments
    "events_rfm_segments" -> ((s, d) =>
      Sequence.rfmSegments(Tables.orders(s, d))),
    // top behavioral paths: sessions' islands rendered as capped
    // event-type sequences, top-20 by (sessions desc, path asc)
    "events_top_paths" -> ((s, d) => Sequence.topPaths(s, d)),
    // rolling distinct via MERGEABLE HLL sketches: one scan → per-day
    // sketches, every 7-day window a union of 7 sketches (distinct
    // counts don't add; registers merge) — exact side is the gate only
    "agg_rolling_distinct_hll" -> ((s, d) =>
      Relational.rollingDistinctUsersHll(s, d)),
    // Count-Min sketch vs exact: one bounded-state custom-aggregate pass
    // (depth×width longs) beside the exact per-term shuffle; md5 buckets
    // make the SKETCH itself oracle-replayable
    "text_cms_freq" -> ((s, d) =>
      TextAnalysis.cmsTermFrequencies(Tables.documents(s, d))
        .orderBy(col("exact").desc, col("term"))),
    // 3-core of the support-2 basket graph: fixed-round peeling (drop
    // degree<k, restrict edges, repeat) — deterministic, unrollable
    "graph_kcore" -> ((s, d) =>
      Graph.kCore(
        Graph.sharedCopurchaseEdgesSupported(Tables.lineitem(s, d),
          cacheKey = d), k = 3)
        .orderBy("part_key")),
    // local clustering coefficient: cc derived node-wise from the SAME
    // published triangle-stats table graph_triangles reads — the full
    // Bloom-pruned triangle enumeration runs once per data key, not once
    // per consumer
    "graph_clustering_coeff" -> ((s, d) =>
      Graph.clusteringFromStats(
        Graph.sharedCopurchaseTriangleStats(Tables.lineitem(s, d), cacheKey = d))
        .orderBy("part_key")),
    // label-propagation communities on the support-2 basket graph:
    // 5 synchronous rounds with self-vote damping and smallest-label
    // ties — deterministic, so the oracle unrolls the rounds
    "graph_label_prop" -> ((s, d) =>
      Graph.labelPropagation(
        Graph.sharedCopurchaseEdgesSupported(Tables.lineitem(s, d),
          cacheKey = d))
        .orderBy("part_key")),
    // Adamic-Adar link prediction on the support-2 basket graph:
    // wedge enumeration + (u,w) partial-agg + anti-join vs edges;
    // 9dp-rounded 1/ln(deg) terms, center-sorted fold, top-100 cut
    "graph_adamic_adar" -> ((s, d) =>
      Graph.adamicAdar(
        Graph.sharedCopurchaseEdgesSupported(Tables.lineitem(s, d),
          cacheKey = d))),
    // hop-bounded BFS from a customer cohort over the trade graph:
    // min-hop distance within 3 hops (supply-chain blast radius)
    "graph_reach" -> ((s, d) => {
      val adj = Graph.sharedSymAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.reach(adj.edges,
        Tables.customer(s, d).where(col("c_nationkey") === 1)
          .select(concat(lit("c:"), col("c_custkey")).as("node")),
        maxHops = 3, adjacency = Some(adj))
        .orderBy("node")
    }),
    // ── BPE tokenizer: train / audit / serve ───────────────────────────
    // the learned merge table (training's audit trail): corpus → ONE word
    // shuffle, then a vocab-sized 24-round argmax loop; published via
    // PublishGuard. The oracle RE-DERIVES training round by round.
    "text_bpe_merges" -> ((s, d) =>
      Bpe.mergeTable(Tables.documents(s, d), ArtifactWarehouse,
        s"bpe_${d.split('/').last}").orderBy("rank")),
    // serving: the merge chain runs once per DISTINCT word (codegen'd
    // literal replaces), then rejoins the (doc, word) stream
    "text_bpe_tokenize" -> ((s, d) =>
      Bpe.tokenizeStats(Tables.documents(s, d), ArtifactWarehouse,
        s"bpe_${d.split('/').last}").orderBy("doc_id")),
    // top-20 words with their learned segmentations (pins the actual
    // subword strings, not just counts)
    "text_bpe_segments" -> ((s, d) =>
      Bpe.topSegmentations(Tables.documents(s, d), ArtifactWarehouse,
        s"bpe_${d.split('/').last}")),
    // ── time series: resample / gap-fill / rolling / decay ─────────────
    // calendar spine + LOCF/NOCB/linear interpolation in one window pair
    // (the carried observation is a (day, value) struct, so interpolation
    // knows neighbor DISTANCE without a self-join)
    "ts_interpolate" -> ((s, d) => TimeSeries.dailyInterpolated(s, d)),
    // rolling 7 calendar days via a RANGE frame over sparse series —
    // revenue stays integer cents through the window sum (exact math)
    "ts_rolling_range" -> ((s, d) => TimeSeries.rollingRange(s, d)),
    // irregular-gap EWMA (1-day half-life): sequential per-key prefix
    // fold with exact 2^-gap weights — bit-deterministic cross-engine
    "ts_ewma" -> ((s, d) => TimeSeries.ewma(s, d)),
    // additive decomposition n = trend + seasonal + resid: centered
    // 7-day mean + day-of-week deviation, all integer-sum/single-
    // division math on the zero-filled calendar spine
    "ts_seasonal_decompose" -> ((s, d) => TimeSeries.seasonalDecompose(s, d)),
    // robust rolling-MAD outlier flags: trailing exclusive 14-day frame,
    // 2·median / 4·MAD kept INTEGER so the 3.5-MAD flag is pure integer
    // comparison (bit-identical cross-engine); 8-obs warm-up
    "ts_anomaly" -> ((s, d) => TimeSeries.anomalies(s, d)),
    // sample ACF at lags 1..7 over the zero-filled series: every
    // aggregate an integer sum, the ratio ONE shared IEEE expression;
    // lag dim = 7 map-side projections (no nested loop)
    "ts_acf" -> ((s, d) => TimeSeries.acf(s, d)),
    // two-sided CUSUM changepoint statistics (Page's scheme, allowance
    // μ/2, threshold 4S) scaled to 2n units so every value is a long —
    // the sustained-shift alarm beside ts_anomaly's pointwise MAD flags
    "ts_cusum" -> ((s, d) => TimeSeries.cusum(s, d)),
    // Holt linear-trend smoothing (α=.5, β=.25 dyadic): running
    // (level, trend) state + one-step-ahead forecast per day — the
    // short-horizon capacity forecast beside ts_ewma's level smoother
    "ts_holt" -> ((s, d) => TimeSeries.holt(s, d)),
    // Holt-Winters additive weekly seasonality (period 7, γ=.25): the
    // (level, trend, seasonal[7]) recurrence + one-step forecast —
    // completes the forecast family (ewma -> holt -> holt_winters)
    "ts_holt_winters" -> ((s, d) => TimeSeries.holtWinters(s, d)),
    // rolling-origin one-step backtest: MAE/RMSE of holt vs holt-winters
    // forecasts against next-day actuals (warm-up skipped) — the eval
    // that picks the smoother, the ts sibling of the embedding evals
    "ts_forecast_eval" -> ((s, d) =>
      TimeSeries.forecastEval(s, d).orderBy("model", "priority")),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. The
    * driver-facing constant form pins the driver's correctness sf;
    * [[oracleSqlFor]] is the dir-derived source of truth.
    */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  /** [[oracleSql]] with every published-table `read_parquet` path DERIVED
    * from the data directory — the same `d.split('/').last` slug rule the
    * `queries` lambdas use (round-14 verdict item 5: the oracle paths were
    * sf0.01 string literals while the Spark side derived its publish slugs
    * from the data dir, so a correctness run at any other sf would read a
    * stale or missing table). `Verify` dumps THIS map at the driver's
    * actual sfDir; OracleParamSpec asserts no literal sf survives.
    */
  def oracleSqlFor(d: String): Map[String, String] = {
    val sf = d.split('/').last
    Map(
    "ref_q1_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'error' ORDER BY event_id""".stripMargin,
    "ref_q2_join" ->
      """SELECT e.event_id, e.user_id, v.type_name, e.value
        |FROM events e
        |JOIN (VALUES ('click','CLICK EVENT'), ('error','ERROR EVENT'),
        |             ('purchase','PURCHASE EVENT'), ('signup','SIGNUP EVENT'),
        |             ('view','VIEW EVENT')) AS v(event_type, type_name)
        |  ON e.event_type = v.event_type
        |ORDER BY e.event_id""".stripMargin,
    "ref_q3_window_agg" ->
      """SELECT strftime(time_bucket(INTERVAL '1 minute', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       strftime(time_bucket(INTERVAL '1 minute', ts::TIMESTAMP) + INTERVAL '1 minute', '%Y-%m-%d %H:%M:%S') AS window_end,
        |       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |       count(*) AS n
        |FROM events
        |GROUP BY time_bucket(INTERVAL '1 minute', ts::TIMESTAMP)
        |ORDER BY window_start""".stripMargin,
    "ref_q4_json_extract" ->
      """SELECT event_id, CAST(props->>'k' AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "ref_q5_datetime" ->
      """SELECT event_id,
        |       CAST(month(ts::TIMESTAMP) AS INTEGER) AS month,
        |       CAST(day(ts::TIMESTAMP) AS INTEGER) AS day,
        |       CAST(hour(ts::TIMESTAMP) AS INTEGER) AS hour,
        |       CAST(minute(ts::TIMESTAMP) AS INTEGER) AS minute
        |FROM events ORDER BY event_id""".stripMargin,
    "ref_q6_to_json" ->
      """SELECT event_id,
        |       to_json(struct_pack(event_type := event_type, user_id := user_id))::VARCHAR AS payload
        |FROM events ORDER BY event_id""".stripMargin,
    "tpch_q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
        |       floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price,
        |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS sum_disc_price,
        |       floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100 + 0.5) / 100 AS sum_charge,
        |       floor((avg(l_quantity)) * 100 + 0.5) / 100 AS avg_qty,
        |       floor((avg(l_extendedprice)) * 100 + 0.5) / 100 AS avg_price,
        |       floor((avg(l_discount)) * 10000 + 0.5) / 10000 AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "tpch_q3_top10" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > TIMESTAMP '1999-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "tpch_q5_nation_revenue" ->
      """SELECT n_name,
        |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "tpch_q14_promo_revenue" ->
      """SELECT floor((100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                    THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
        |         sum(l_extendedprice * (1 - l_discount))) * 10000 + 0.5) / 10000 AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-02-01'""".stripMargin,
    "tpch_q9_brand_nation_volume" ->
      """SELECT n_name, p_brand,
        |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |GROUP BY n_name, p_brand
        |ORDER BY n_name, p_brand""".stripMargin,
    "tpch_q7_trade_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
        |  AND cn.n_name IN ('NATION_1', 'NATION_2')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "pipeline_pack_sequences" -> {
      s"""WITH t AS (SELECT doc_id, CAST(len($duckToks) AS INTEGER) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |             CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM t)
         |SELECT doc_id, n_tokens, cum_tokens,
         |       CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS bin_id
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "pipeline_pack_by_source" -> {
      s"""WITH t AS (SELECT source, doc_id,
         |                  CAST(len($duckToks) AS INTEGER) AS n_tokens
         |           FROM documents),
         |c AS (SELECT source, doc_id, n_tokens,
         |             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM t)
         |SELECT source, doc_id, n_tokens, cum_tokens,
         |       CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS bin_id
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "pipeline_train_order" ->
      """WITH k AS (SELECT doc_id, md5(doc_id || '|shuffle') AS shuffle_key
        |           FROM documents)
        |SELECT doc_id, shuffle_key,
        |       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
        |         AS train_rank
        |FROM k ORDER BY doc_id""".stripMargin,
    "pipeline_profile_docs" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(count(doc_id) AS BIGINT) AS n_nonnull,
        |         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |         CAST(min(doc_id) AS VARCHAR) AS min_value,
        |         CAST(max(doc_id) AS VARCHAR) AS max_value FROM documents
        |  UNION ALL
        |  SELECT 'source', CAST(count(*) AS BIGINT), CAST(count(source) AS BIGINT),
        |         CAST(count(DISTINCT source) AS BIGINT),
        |         CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', CAST(count(*) AS BIGINT), CAST(count(lang) AS BIGINT),
        |         CAST(count(DISTINCT lang) AS BIGINT),
        |         CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', CAST(count(*) AS BIGINT), CAST(count(n_chars) AS BIGINT),
        |         CAST(count(DISTINCT n_chars) AS BIGINT),
        |         CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |  FROM documents)
        |ORDER BY "column"""".stripMargin,
    // exact profile columns hash-match; the HLL estimate is
    // engine-specific so its ≤3×rsd contract rides a boolean the oracle
    // pins TRUE (drift flips it and fails the hash compare)
    "pipeline_profile_docs_approx" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(count(doc_id) AS BIGINT) AS n_nonnull,
        |         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |         CAST(min(doc_id) AS VARCHAR) AS min_value,
        |         CAST(max(doc_id) AS VARCHAR) AS max_value,
        |         TRUE AS approx_distinct_within_tol FROM documents
        |  UNION ALL
        |  SELECT 'source', CAST(count(*) AS BIGINT), CAST(count(source) AS BIGINT),
        |         CAST(count(DISTINCT source) AS BIGINT),
        |         CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR), TRUE
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', CAST(count(*) AS BIGINT), CAST(count(lang) AS BIGINT),
        |         CAST(count(DISTINCT lang) AS BIGINT),
        |         CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR), TRUE
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', CAST(count(*) AS BIGINT), CAST(count(n_chars) AS BIGINT),
        |         CAST(count(DISTINCT n_chars) AS BIGINT),
        |         CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR), TRUE
        |  FROM documents)
        |ORDER BY "column"""".stripMargin,
    // pure integer arithmetic on both sides — DuckDB's // floors where
    // Spark's div truncates, but the only negative operand (x = 0) gives
    // 0 on both paths
    "pipeline_systematic_sample" ->
      s"""WITH t AS (SELECT doc_id,
         |                  CAST(len($duckToks) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |             sum(n_tokens) OVER (ORDER BY doc_id) AS cum_tokens,
         |             (SELECT sum(n_tokens) FROM t) AS total
         |      FROM t)
         |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
         |       CAST(((200 * cum_tokens - 1) // total + 1) // 2
         |          - ((200 * (cum_tokens - n_tokens) - 1) // total + 1) // 2
         |         AS BIGINT) AS n_draws
         |FROM c
         |WHERE ((200 * cum_tokens - 1) // total + 1) // 2
         |    - ((200 * (cum_tokens - n_tokens) - 1) // total + 1) // 2 >= 1
         |ORDER BY doc_id""".stripMargin,
    "pipeline_strip_boilerplate" ->
      """WITH toks AS (SELECT doc_id,
        |                     unnest(string_split(text, ' ')) AS tok,
        |                     unnest(range(1, 1 + len(string_split(text, ' ')))) AS pos
        |              FROM documents),
        |top AS (SELECT tok FROM (
        |          SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
        |          ORDER BY cnt DESC, tok LIMIT 20)),
        |kept AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |                count(*) AS n_kept
        |         FROM toks WHERE tok NOT IN (SELECT tok FROM top)
        |         GROUP BY doc_id)
        |SELECT d.doc_id,
        |       coalesce(k.clean_text, '') AS clean_text,
        |       CAST(len(string_split(d.text, ' ')) - coalesce(k.n_kept, 0) AS BIGINT)
        |         AS n_removed
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // PSI drift: identical banding ladder, Laplace-smoothed shares as
    // single divisions of exact integers, band-sorted sequential fold
    // (list_reduce with a prepended 0.0 ≡ the Spark aggregate's init)
    "pipeline_drift_psi" ->
      """WITH pv AS (SELECT source, n_chars FROM documents WHERE doc_id % 17 <> 3),
        |cu AS (SELECT source, n_chars FROM documents
        |       WHERE doc_id % 23 <> 11 AND n_chars < 450),
        |bp AS (SELECT source,
        |              (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END
        |             + CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
        |             + CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END
        |             + CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END
        |             + CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS band,
        |              count(*) AS cp
        |       FROM pv GROUP BY source, band),
        |bq AS (SELECT source,
        |              (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END
        |             + CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
        |             + CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END
        |             + CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END
        |             + CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS band,
        |              count(*) AS cq
        |       FROM cu GROUP BY source, band),
        |src AS (SELECT DISTINCT source FROM
        |        (SELECT source FROM pv UNION ALL SELECT source FROM cu)),
        |bands AS (SELECT CAST(unnest(range(0, 6)) AS INTEGER) AS band),
        |g AS (SELECT s.source, b.band,
        |             coalesce(bp.cp, 0) AS cp, coalesce(bq.cq, 0) AS cq
        |      FROM src s CROSS JOIN bands b
        |      LEFT JOIN bp ON bp.source = s.source AND bp.band = b.band
        |      LEFT JOIN bq ON bq.source = s.source AND bq.band = b.band),
        |t AS (SELECT source, CAST(sum(cp) AS BIGINT) AS np,
        |             CAST(sum(cq) AS BIGINT) AS nq
        |      FROM g GROUP BY source),
        |c AS (SELECT g.source, t.np, t.nq,
        |             {'band': g.band,
        |              'c': ((CAST(cq + 1 AS DOUBLE) / (nq + 6))
        |                    - (CAST(cp + 1 AS DOUBLE) / (np + 6)))
        |                   * ln((CAST(cq + 1 AS DOUBLE) / (nq + 6))
        |                        / (CAST(cp + 1 AS DOUBLE) / (np + 6)))} AS bc
        |      FROM g JOIN t ON t.source = g.source),
        |f AS (SELECT source, max(np) AS n_prev, max(nq) AS n_cur,
        |             floor(list_reduce(
        |               list_prepend(0.0, list_transform(list_sort(list(bc)),
        |                                                x -> x.c)),
        |               (a, b) -> a + b) * 10000 + 0.5) / 10000 AS psi
        |      FROM c GROUP BY source)
        |SELECT source, n_prev, n_cur, psi, psi >= 0.2 AS drifted
        |FROM f ORDER BY source""".stripMargin,
    "pipeline_corpus_diff" ->
      """WITH prev AS (SELECT doc_id,
        |                     md5(CASE WHEN doc_id % 13 = 5 THEN text || ' v1'
        |                              ELSE text END) AS prev_digest
        |              FROM documents WHERE doc_id % 17 <> 3),
        |cur AS (SELECT doc_id, md5(text) AS cur_digest
        |        FROM documents WHERE doc_id % 23 <> 11)
        |SELECT coalesce(prev.doc_id, cur.doc_id) AS doc_id,
        |       CASE WHEN prev.doc_id IS NULL THEN 'added'
        |            WHEN cur.doc_id IS NULL THEN 'removed'
        |            WHEN prev_digest <> cur_digest THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id
        |ORDER BY doc_id""".stripMargin,
    "pipeline_constraint_checks" ->
      """WITH r AS (
        |  SELECT 'not_null(o_custkey)' AS "constraint",
        |         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |           AS violations,
        |         CAST(count(*) AS BIGINT) AS n_rows
        |  FROM orders
        |  UNION ALL
        |  SELECT 'range(o_totalprice)',
        |         CAST(sum(CASE WHEN o_totalprice IS NOT NULL
        |                        AND NOT (o_totalprice BETWEEN 0 AND 300000)
        |                   THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(count(*) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'accepted_values(o_orderstatus)',
        |         CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |                        AND o_orderstatus NOT IN ('O', 'F')
        |                   THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(count(*) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  -- struct semantics (Quality.Unique scaladoc): null keys form ONE
        |  -- duplicate group, so distinct groups = count(DISTINCT col)
        |  -- + (1 if any null) — plain count(DISTINCT) drops nulls entirely
        |  SELECT 'unique(o_orderkey)',
        |         CAST(count(*) - count(DISTINCT o_orderkey)
        |              - CASE WHEN count(*) > count(o_orderkey)
        |                     THEN 1 ELSE 0 END AS BIGINT),
        |         CAST(count(*) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'fk(o_custkey->customer.c_custkey)',
        |         CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(count(*) AS BIGINT)
        |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |  WHERE o_custkey IS NOT NULL)
        |SELECT "constraint", violations, n_rows, violations = 0 AS passed
        |FROM r ORDER BY "constraint"""".stripMargin,
    // mean/std rounded via OracleRound.duck — DuckDB's round() and
    // Spark's round() disagree on binary-boundary doubles; the shared
    // floor spelling is bit-identical cross-engine
    "pipeline_incremental_stats" -> {
      val meanExpr = "CAST(sum(n_chars) AS DOUBLE) / count(*)"
      val stdExpr =
        "sqrt(greatest(CAST(sum(n_chars * n_chars) AS DOUBLE) / count(*) " +
          s"- ($meanExpr) * ($meanExpr), 0.0))"
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(n_chars) AS BIGINT) AS val_sum,
         |       CAST(min(n_chars) AS BIGINT) AS val_min,
         |       CAST(max(n_chars) AS BIGINT) AS val_max,
         |       ${graft.functions.OracleRound.duck(meanExpr, 6)} AS val_mean,
         |       ${graft.functions.OracleRound.duck(stdExpr, 6)} AS val_std
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },
    "pipeline_cdc_apply" ->
      s"""WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |                     o_totalprice, o_orderpriority FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice + 1000 AS o_totalprice, o_orderpriority,
        |         'U' AS op, 2 AS seq
        |  FROM base WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderpriority, 'D', 3
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, 'O', 42.0, '1-URGENT', 'I', 1
        |  FROM base WHERE o_orderkey % 11 = 0),
        |latest AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |                                 ORDER BY seq DESC) AS rn
        |    FROM changes) WHERE rn = 1)
        |SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
        |       CASE WHEN c.op IS NOT NULL THEN c.o_custkey
        |            ELSE b.o_custkey END AS o_custkey,
        |       CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus
        |            ELSE b.o_orderstatus END AS o_orderstatus,
        |       ${graft.functions.OracleRound.duck(
          "CASE WHEN c.op IS NOT NULL THEN c.o_totalprice " +
            "ELSE b.o_totalprice END", 2)} AS o_totalprice,
        |       CASE WHEN c.op IS NOT NULL THEN c.o_orderpriority
        |            ELSE b.o_orderpriority END AS o_orderpriority
        |FROM base b FULL OUTER JOIN latest c ON b.o_orderkey = c.o_orderkey
        |WHERE c.op IS NULL OR c.op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    "join_semi_open_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "join_anti_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "join_outer_nation_counts" ->
      """SELECT n_nationkey, n_name, count(c_custkey) AS n_customers
        |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY n_nationkey, n_name
        |ORDER BY n_nationkey""".stripMargin,
    "window_top2_per_customer" ->
      """SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice,
        |       floor((o_totalprice / cust_total * 100) * 100 + 0.5) / 100 AS pct_of_cust
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |         sum(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_total
        |  FROM orders)
        |WHERE rn <= 2
        |ORDER BY o_custkey, rn""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "set_except_click_no_purchase" ->
      """SELECT DISTINCT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS hour
        |FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT DISTINCT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S')
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY hour""".stripMargin,
    "dedup_first_event" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts::TIMESTAMP, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "rollup_returnflag" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n,
        |       floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "scalar_buckets" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_totalprice < 100000 THEN 'SMALL'
        |            WHEN o_totalprice < 300000 THEN 'MEDIUM'
        |            ELSE 'LARGE' END AS bucket,
        |       upper(substr(o_orderpriority, 1, 1)) AS prio_code,
        |       CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
        |       CASE WHEN o_orderpriority LIKE '%URGENT%' THEN 1 ELSE 0 END AS is_urgent
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "join_above_cust_avg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |JOIN (SELECT o_custkey AS k, avg(o_totalprice) AS avg_price
        |      FROM orders GROUP BY o_custkey) a
        |  ON o.o_custkey = a.k
        |WHERE o.o_totalprice > a.avg_price
        |ORDER BY o_orderkey""".stripMargin,
    "tpch_q18_big_orders" ->
      """WITH q AS (SELECT l_orderkey,
        |                  floor(sum(l_quantity) * 100 + 0.5) / 100 AS total_qty
        |           FROM lineitem GROUP BY l_orderkey
        |           HAVING floor(sum(l_quantity) * 100 + 0.5) / 100 > 150)
        |SELECT o_orderkey, o_custkey, o_orderstatus, total_qty
        |FROM orders JOIN q ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "agg_distinct_brand_suppliers" ->
      """SELECT p_brand,
        |       count(DISTINCT l_suppkey) AS n_suppliers,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(*) AS n_lineitems
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "tpch_q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "tpch_q3_shipping_priority" ->
      """WITH j AS (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |         floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
        |           / 100 AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1997-03-15'
        |    AND l_shipdate > TIMESTAMP '1997-03-15'
        |  GROUP BY 1, 2, 3)
        |SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_orderpriority, revenue
        |FROM j
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,
    "tpch_q6_forecast_revenue" ->
      """SELECT floor((sum(l_extendedprice * l_discount)) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.06
        |  AND l_quantity < 24""".stripMargin,
    "tpch_q12_priority_lines" ->
      """SELECT l_linestatus,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,
    "tpch_q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "tpch_q17_small_qty_revenue" ->
      """WITH branded AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#5'),
        |lim AS (SELECT l_partkey AS ak, avg(l_quantity) * 0.2 AS qty_limit
        |        FROM branded GROUP BY l_partkey)
        |SELECT floor((sum(l_extendedprice) / 7.0) * 100 + 0.5) / 100 AS avg_yearly
        |FROM branded JOIN lim ON l_partkey = ak
        |WHERE l_quantity < qty_limit""".stripMargin,
    "tpch_q19_disjunctive_revenue" ->
      """SELECT floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "tpch_q22_dormant_customers" ->
      """WITH ab AS (SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |       floor((sum(c_acctbal)) * 100 + 0.5) / 100 AS total_bal
        |FROM customer CROSS JOIN ab
        |WHERE c_acctbal > ab
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "tpch_q10_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-10-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "tpch_q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "tpch_q21_solo_late_suppliers" ->
      """WITH f AS (
        |  SELECT l_orderkey, l_suppkey, l_shipdate > o_orderdate AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |po AS (
        |  SELECT l_orderkey,
        |         count(DISTINCT l_suppkey) AS n_supp,
        |         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp,
        |         max(CASE WHEN late THEN l_suppkey END) AS late_supp
        |  FROM f GROUP BY l_orderkey
        |  HAVING count(DISTINCT l_suppkey) > 1
        |     AND count(DISTINCT CASE WHEN late THEN l_suppkey END) = 1)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM po JOIN supplier ON late_supp = s_suppkey
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey
        |LIMIT 25""".stripMargin,
    // unit cost is rounded PER ROW (identical IEEE op sequence in both
    // engines) so min + the equality join-back compare stable values
    "tpch_q2_min_cost_supplier" ->
      """WITH supply AS (
        |  SELECT l_partkey, l_suppkey,
        |         floor((l_extendedprice / l_quantity) * 100 + 0.5) / 100 AS cost
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                      JOIN nation ON s_nationkey = n_nationkey
        |                      WHERE n_regionkey = 3)
        |    AND l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_type = 'LARGE' AND p_size <= 15)),
        |pc AS (SELECT l_partkey, l_suppkey, min(cost) AS cost
        |       FROM supply GROUP BY 1, 2),
        |mn AS (SELECT l_partkey AS mk, min(cost) AS min_cost FROM pc GROUP BY 1),
        |win AS (SELECT pc.l_partkey AS p_partkey, min_cost,
        |               min(pc.l_suppkey) AS s_suppkey
        |        FROM pc JOIN mn ON pc.l_partkey = mk AND pc.cost = min_cost
        |        GROUP BY 1, 2)
        |SELECT p_partkey, s_suppkey, s_name, min_cost
        |FROM win JOIN supplier USING (s_suppkey)
        |ORDER BY p_partkey""".stripMargin,
    "tpch_q8_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |       ${graft.functions.OracleRound.duck(
              "100.0 * sum(CASE WHEN sn.n_name = 'NATION_7' " +
                "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) " +
                "/ sum(l_extendedprice * (1 - l_discount))", 4)} AS mkt_share
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey AND cn.n_regionkey = 2
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // l_quantity is integral: the sums and the per-mille threshold are
    // exact integer arithmetic in both engines
    "tpch_q11_important_parts" ->
      """WITH v AS (
        |  SELECT l_partkey, sum(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                      JOIN nation ON s_nationkey = n_nationkey
        |                      WHERE n_regionkey = 1)
        |  GROUP BY 1),
        |t AS (SELECT sum(qty) AS tot FROM v)
        |SELECT l_partkey AS p_partkey, CAST(qty AS BIGINT) AS qty
        |FROM v, t WHERE qty * 1000 > tot
        |ORDER BY qty DESC, p_partkey""".stripMargin,
    "tpch_q16_supplier_counts" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                          WHERE s_name LIKE '%3')),
        |d AS (SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
        |      FROM pairs JOIN part ON l_partkey = p_partkey
        |      WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |        AND p_size IN (1, 5, 9, 13, 17, 21))
        |SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt
        |FROM d GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "tpch_q20_dominant_shippers" ->
      """WITH ship AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE 'red%')
        |  GROUP BY 1, 2),
        |tot AS (SELECT l_partkey AS tk, sum(qty) AS tot FROM ship GROUP BY 1)
        |SELECT s_suppkey, s_name, count(*) AS n_dominated
        |FROM ship JOIN tot ON l_partkey = tk AND qty * 2 > tot
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2
        |ORDER BY s_suppkey""".stripMargin,
    "join_asof_next_order" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, min(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, o.o_orderkey AS next_orderkey
        |FROM events e
        |ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts::TIMESTAMP <= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "window_moving_avg" ->
      """SELECT event_id, user_id, value,
        |       floor((avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS mavg3,
        |       floor((value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) * 100 + 0.5) / 100 AS delta,
        |       floor((max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS running_max
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "window_order_percentiles" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       floor((percent_rank() OVER w) * 1000000 + 0.5) / 1000000 AS pct_rank,
        |       floor((cume_dist() OVER w) * 1000000 + 0.5) / 1000000 AS cume,
        |       CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "text_token_counts" ->
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents)
         |SELECT doc_id,
         |       CAST(len(toks) AS INTEGER) AS n_tokens,
         |       CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
         |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_lex_tokens,
         |       CAST(length(text) AS INTEGER) AS n_chars_raw
         |FROM t ORDER BY doc_id""".stripMargin,
    "text_lang_id" -> {
      val scores = TextAnalysis.langMarkers.map { case (l, ws) =>
        val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_intersect(toks, $lst)) AS INTEGER) AS s_$l"
      }.mkString(",\n       ")
      val langs = TextAnalysis.langMarkers.map(_._1)
      val bestExpr = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val caseArms = langs.map(l => s"WHEN s_$l = best THEN '$l'").mkString("\n            ")
      s"""WITH t AS (SELECT doc_id, lang AS lang_actual, list_distinct($duckToks) AS toks FROM documents),
         |s AS (SELECT doc_id, lang_actual,
         |       $scores
         |FROM t),
         |b AS (SELECT *, $bestExpr AS best FROM s)
         |SELECT doc_id, lang_actual,
         |       CASE WHEN best <= 0 THEN 'und'
         |            $caseArms
         |            ELSE 'und' END AS lang_pred,
         |       ${langs.map(l => s"s_$l").mkString(", ")}
         |FROM b ORDER BY doc_id""".stripMargin
    },
    "text_quality" -> {
      val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents),
         |m AS (SELECT doc_id,
         |       CAST(length(text) AS INTEGER) AS n_chars,
         |       CAST(len(toks) AS INTEGER) AS n_tokens,
         |       floor(((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000 AS punct_ratio,
         |       floor((len(list_intersect(list_distinct(toks), $stopList)) / greatest(CAST(len(toks) AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000 AS stop_hits_ratio,
         |       floor((len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)) * 10000 + 0.5) / 10000 AS distinct_ratio
         |FROM t)
         |SELECT *,
         |       floor((CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
         |             + CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END
         |             + distinct_ratio * 0.3) * 10000 + 0.5) / 10000 AS quality
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "text_fingerprints" ->
      s"""WITH t AS (SELECT doc_id, $duckNorm AS norm, $duckToks AS toks FROM documents)
         |SELECT doc_id,
         |       md5(norm) AS fp_exact,
         |       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp_bag
         |FROM t ORDER BY doc_id""".stripMargin,
    // text_winnow_fingerprints: the md5-keyed 60-bit variant is exact SQL —
    // shingle hash = first 15 hex digits of md5(shingle) as base-16
    // (folded digit-by-digit in BIGINT), then min-per-window / distinct /
    // sort, serialized to CSV at the oracle edge. (The xxhash64 form has
    // no DuckDB counterpart and stays spec-anchored.)
    "text_winnow_fingerprints" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |s AS (SELECT doc_id,
         |             [array_to_string(toks[i+1:i+3], ' ')
         |              for i in range(0, greatest(len(toks) - 3, 0) + 1)] AS shs
         |      FROM t),
         |h AS (SELECT doc_id,
         |             [list_reduce([CAST(strpos('0123456789abcdef',
         |                                       substr(md5(sh), d, 1)) - 1 AS BIGINT)
         |                           for d in range(1, 16)],
         |                          (a, b) -> a * 16 + b)
         |              for sh in shs] AS hashes
         |      FROM s),
         |wn AS (SELECT doc_id,
         |              list_distinct([list_min(hashes[i+1:i+4])
         |                             for i in range(0, greatest(len(hashes) - 4, 0) + 1)]) AS winnowed
         |       FROM h)
         |SELECT doc_id,
         |       array_to_string(list_sort(winnowed), ',') AS fingerprints,
         |       CAST(len(winnowed) AS INTEGER) AS n_fingerprints
         |FROM wn ORDER BY doc_id""".stripMargin,
    "dedup_exact_docs" ->
      s"""WITH t AS (SELECT doc_id, md5($duckNorm) AS fp_exact FROM documents)
         |SELECT min(doc_id) AS keep_id, count(*) AS n_dups, fp_exact
         |FROM t GROUP BY fp_exact ORDER BY keep_id""".stripMargin,
    "dedup_edit_distance" ->
      """WITH strs AS (
        |  SELECT doc_id AS id, substr(text, 1, 24) AS s FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, 'z' || substr(text, 2, 23)
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2199023255552, substr(text, 1, 2)
        |  FROM documents WHERE doc_id % 31 = 0
        |  UNION ALL
        |  SELECT doc_id + 4398046511104, substr(text, 1, 1)
        |  FROM documents WHERE doc_id % 47 = 0
        |  UNION ALL
        |  SELECT doc_id + 8796093022208, substr(text, 1, 3)
        |  FROM documents WHERE doc_id % 53 = 0)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
        |FROM strs a JOIN strs b ON a.id < b.id
        |WHERE abs(length(a.s) - length(b.s)) <= 2
        |  AND levenshtein(a.s, b.s) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |s AS (SELECT doc_id,
         |             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
         |                                   for i in range(1, len(toks) - 1)])) AS sh
         |      FROM t),
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id <> b.doc_id
         |      GROUP BY a.doc_id, b.doc_id)
         |SELECT * FROM (
         |  SELECT doc_a, doc_b,
         |         CAST(inter AS DOUBLE) / CAST(na.n AS DOUBLE) AS containment
         |  FROM p JOIN sz na ON na.doc_id = doc_a)
         |WHERE containment >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" -> exactJaccardOracle,
    // same oracle as dedup_ngram_jaccard: the LSH path's exact-jaccard
    // verification makes its result exactPairs ∩ candidates, and banding
    // recall is 1.0 on this corpus (DedupSpec) — so the exact pair set IS
    // the expected value
    "dedup_minhash_lsh" -> exactJaccardOracle,
    // the same operator driven through the SQL surface view (round 16) —
    // same plan, same values, same exact-jaccard expectation
    "sql_graft_minhash_pairs" -> exactJaccardOracle,
    // query-by-example replayed exactly: query q = doc (doc_id % 97 = 3)
    // with its first token dropped, id + 2^43; the expected result is the
    // EXACT query-shingles × corpus-shingles jaccard at >= 0.5 — equal to
    // the operator's band-index + exact-verify output wherever banding
    // recall is 1.0 (this corpus; the near-1 query→seed jaccard regime)
    "dedup_minhash_search" ->
      s"""WITH t AS MATERIALIZED (SELECT doc_id, $duckToks AS toks FROM documents),
         |s AS MATERIALIZED (
         |      SELECT doc_id,
         |             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
         |                                   for i in range(1, len(toks) - 1)])) AS sh
         |      FROM t),
         |qt AS (SELECT doc_id + (1::BIGINT << 43) AS query_id,
         |              toks[2:] AS toks
         |       FROM t WHERE doc_id % 97 = 3),
         |qs AS MATERIALIZED (
         |       SELECT query_id,
         |              unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
         |                                    for i in range(1, len(toks) - 1)])) AS sh
         |       FROM qt),
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |qz AS (SELECT query_id, count(*) AS n FROM qs GROUP BY query_id),
         |p AS (SELECT q.query_id, b.doc_id, count(*) AS inter
         |      FROM qs q JOIN s b ON q.sh = b.sh
         |      GROUP BY q.query_id, b.doc_id)
         |SELECT * FROM (
         |  SELECT p.query_id, p.doc_id,
         |         CAST(inter AS DOUBLE) / CAST(qa.n + nb.n - inter AS DOUBLE) AS jaccard
         |  FROM p
         |  JOIN qz qa ON qa.query_id = p.query_id
         |  JOIN sz nb ON nb.doc_id = p.doc_id)
         |WHERE jaccard >= 0.5
         |ORDER BY query_id, doc_id""".stripMargin,
    "dedup_cross_corpus" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |s AS (SELECT doc_id,
         |             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
         |                                   for i in range(1, len(toks) - 1)])) AS sh
         |      FROM t),
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS inter
         |      FROM s a JOIN s b ON a.sh = b.sh
         |      WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
         |      GROUP BY a.doc_id, b.doc_id)
         |SELECT * FROM (
         |  SELECT new_id, old_id,
         |         CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
         |  FROM p
         |  JOIN sz na ON na.doc_id = new_id
         |  JOIN sz nb ON nb.doc_id = old_id)
         |WHERE jaccard >= 0.5
         |ORDER BY new_id, old_id""".stripMargin,
    // dedup_simhash_* : the md5-keyed 48-bit variant is reproduced
    // digit-for-digit in SQL — bit j of a token's hash is bit (j mod 4)
    // of hex digit (j / 4) of md5(token), every occurrence votes ±1, the
    // signature bit is the vote sum's sign. Spark's banded pair join is
    // pigeonhole-complete for hamming <= 5, so the oracle's all-pairs
    // filter is the same set. (The xxhash64 production form remains
    // spec-anchored in DedupSpec — xxhash64 has no DuckDB counterpart.)
    "dedup_simhash_sigs" ->
      s"""WITH c AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS hex FROM c),
         |v AS (SELECT doc_id, CAST(j AS INTEGER) AS j,
         |             sum(CASE WHEN
         |                   ((strpos('0123456789abcdef',
         |                            substr(hex, CAST(j // 4 AS INTEGER) + 1, 1)) - 1)
         |                    >> CAST(j % 4 AS INTEGER)) & 1 = 1
         |                 THEN 1 ELSE -1 END) AS vote
         |      FROM h CROSS JOIN (SELECT unnest(range(48)) AS j)
         |      GROUP BY doc_id, j)
         |SELECT doc_id,
         |       CAST(sum(CASE WHEN vote > 0
         |                     THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
         |         AS simhash
         |FROM v GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH c AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS hex FROM c),
         |v AS (SELECT doc_id, CAST(j AS INTEGER) AS j,
         |             sum(CASE WHEN
         |                   ((strpos('0123456789abcdef',
         |                            substr(hex, CAST(j // 4 AS INTEGER) + 1, 1)) - 1)
         |                    >> CAST(j % 4 AS INTEGER)) & 1 = 1
         |                 THEN 1 ELSE -1 END) AS vote
         |      FROM h CROSS JOIN (SELECT unnest(range(48)) AS j)
         |      GROUP BY doc_id, j),
         |sig AS (SELECT doc_id,
         |               CAST(sum(CASE WHEN vote > 0
         |                             THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
         |                 AS simhash
         |        FROM v GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e)
        |SELECT * FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         list_reduce([a.v[i] * b.v[i] for i in range(1, 1 + len(a.v))],
        |                     (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |WHERE cosine >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,
    "stream_window_type_counts" ->
      """SELECT strftime(time_bucket(INTERVAL '1 minute', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, count(*) AS n,
        |       floor((sum(value)) * 100 + 0.5) / 100 AS total
        |FROM events
        |GROUP BY time_bucket(INTERVAL '1 minute', ts::TIMESTAMP), event_type
        |ORDER BY window_start, event_type""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |s AS (SELECT doc_id,
         |             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
         |                                   for i in range(1, len(toks) - 1)])) AS sh
         |      FROM t),
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY a.doc_id, b.doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM p
         |  JOIN sz na ON na.doc_id = doc_a
         |  JOIN sz nb ON nb.doc_id = doc_b
         |  WHERE CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.5),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)
         |SELECT d.doc_id, coalesce(min(r.v), d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |s AS (SELECT doc_id,
         |             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
         |                                   for i in range(1, len(toks) - 1)])) AS sh
         |      FROM t),
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY a.doc_id, b.doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM p
         |  JOIN sz na ON na.doc_id = doc_a
         |  JOIN sz nb ON nb.doc_id = doc_b
         |  WHERE CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.5),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
         |cl AS (SELECT d.doc_id, coalesce(min(r.v), d.doc_id) AS cluster_id
         |       FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
         |       GROUP BY d.doc_id)
         |SELECT cluster_size, count(*) AS n_clusters FROM (
         |  SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY cluster_id)
         |GROUP BY cluster_size
         |ORDER BY cluster_size""".stripMargin,
    "pipeline_curated_corpus" -> (curationCtePrefix +
      s"""
         |SELECT c.doc_id, lp.lang_pred, qq.quality, qq.n_tokens
         |FROM clus c
         |JOIN lp ON lp.doc_id = c.doc_id
         |JOIN qq ON qq.doc_id = c.doc_id
         |WHERE c.doc_id = c.cluster_id AND lp.lang_pred = 'en' AND qq.quality >= 0.5
         |ORDER BY c.doc_id""".stripMargin),
    // pipeline_funnel_report: the curated-corpus gate chain as CUMULATIVE
    // conditional sums in one aggregate, the 4-row funnel assembled from
    // that single row; retained = stage count over ingest count
    "pipeline_funnel_report" -> (curationCtePrefix + {
      def r6(e: String) = graft.functions.OracleRound.duck(e, 6)
      val canon = "doc_id = cluster_id"
      val lang = s"$canon AND lang_pred = 'en'"
      val qual = s"$lang AND quality >= 0.5"
      def row(i: Int, name: String) =
        s"""SELECT $i AS stage, '$name' AS gate,
           |       CAST(n$i AS BIGINT) AS n_docs,
           |       CAST(t$i AS BIGINT) AS n_tokens,
           |       ${r6(s"CAST(n$i AS DOUBLE) / CAST(n1 AS DOUBLE)")} AS retained
           |FROM a""".stripMargin
      s""",
         |e AS (SELECT c.doc_id, c.cluster_id, lp.lang_pred, qq.quality,
         |             qq.n_tokens
         |      FROM clus c
         |      JOIN lp ON lp.doc_id = c.doc_id
         |      JOIN qq ON qq.doc_id = c.doc_id),
         |a AS (SELECT count(*) AS n1, sum(n_tokens) AS t1,
         |             sum(CASE WHEN $canon THEN 1 ELSE 0 END) AS n2,
         |             sum(CASE WHEN $canon THEN n_tokens ELSE 0 END) AS t2,
         |             sum(CASE WHEN $lang THEN 1 ELSE 0 END) AS n3,
         |             sum(CASE WHEN $lang THEN n_tokens ELSE 0 END) AS t3,
         |             sum(CASE WHEN $qual THEN 1 ELSE 0 END) AS n4,
         |             sum(CASE WHEN $qual THEN n_tokens ELSE 0 END) AS t4
         |      FROM e)
         |SELECT CAST(stage AS INTEGER) AS stage, gate, n_docs, n_tokens,
         |       retained
         |FROM (${row(1, "ingest")}
         |      UNION ALL ${row(2, "canonical")}
         |      UNION ALL ${row(3, "lang_en")}
         |      UNION ALL ${row(4, "quality")})
         |ORDER BY stage""".stripMargin
    }),
    "pipeline_best_of_cluster" -> (curationCtePrefix +
      s"""
         |SELECT doc_id, cluster_id, lang_pred, quality, n_tokens FROM (
         |  SELECT c.doc_id, c.cluster_id, lp.lang_pred, qq.quality, qq.n_tokens,
         |         row_number() OVER (PARTITION BY c.cluster_id
         |                            ORDER BY qq.quality DESC, c.doc_id) AS rn
         |  FROM clus c
         |  JOIN lp ON lp.doc_id = c.doc_id
         |  JOIN qq ON qq.doc_id = c.doc_id)
         |WHERE rn = 1 AND lang_pred = 'en' AND quality >= 0.5
         |ORDER BY doc_id""".stripMargin),
    "pipeline_release_gate" -> (curationCtePrefix +
      s""",
         |bsh AS (SELECT DISTINCT sh FROM s WHERE doc_id % 50 = 0),
         |ov AS (SELECT s.doc_id, count(*) AS n_overlap
         |       FROM s JOIN bsh USING (sh) GROUP BY s.doc_id),
         |piiu AS (SELECT doc_id, text,
         |                regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g') AS t_url
         |         FROM documents),
         |piie AS (SELECT *,
         |                regexp_replace(t_url, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g') AS t_email
         |         FROM piiu),
         |pii AS (SELECT doc_id,
         |        CAST(len(regexp_extract_all(t_url, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+'))
         |           + len(regexp_extract_all(text, 'https?://[^ ]+'))
         |           + len(regexp_extract_all(t_email, '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]')) AS INTEGER) AS n_pii
         |        FROM piie)
         |SELECT c.doc_id, lp.lang_pred, qq.quality, qq.n_tokens,
         |       coalesce(ov.n_overlap, 0) AS n_overlap, pii.n_pii
         |FROM clus c
         |JOIN lp ON lp.doc_id = c.doc_id
         |JOIN qq ON qq.doc_id = c.doc_id
         |JOIN pii ON pii.doc_id = c.doc_id
         |LEFT JOIN ov ON ov.doc_id = c.doc_id
         |WHERE c.doc_id = c.cluster_id AND lp.lang_pred = 'en' AND qq.quality >= 0.5
         |  AND coalesce(ov.n_overlap, 0) < 10
         |ORDER BY c.doc_id""".stripMargin),
    // the text-gate CTEs plus the image phash-cluster chain (the
    // multimodal_image_clusters oracle, i-prefixed to dodge the prefix's
    // own edges/reach names): canonical text copy AND canonical image
    // copy, has_image from the left join
    "pipeline_multimodal_gate" -> (curationCtePrefix +
      s""",
         |img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS ip
         |        FROM documents WHERE doc_id % 3 = 0),
         |ibits AS (SELECT i.doc_id,
         |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
         |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
         |            + CASE WHEN c.v+1 = ip AND r.v = ip THEN 40 ELSE 0 END
         |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
         |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
         |            + CASE WHEN c.v = ip AND r.v = ip THEN 40 ELSE 0 END
         |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
         |  FROM img i, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
         |iph AS MATERIALIZED (
         |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
         |  FROM ibits GROUP BY doc_id),
         |ibands AS MATERIALIZED (
         |  SELECT doc_id, phash, b.v AS band, (phash >> (b.v*8)) & 255 AS bh
         |  FROM iph, generate_series(0, 6) b(v)),
         |ipr AS MATERIALIZED (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM ibands x JOIN ibands y
         |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.phash, y.phash)) <= 6),
         |iedges AS (SELECT doc_a AS u, doc_b AS v FROM ipr
         |           UNION ALL SELECT doc_b, doc_a FROM ipr),
         |ireach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM iedges)
         |  UNION
         |  SELECT e2.u, r.v FROM iedges e2 JOIN ireach r ON e2.v = r.u),
         |icl AS (SELECT i.doc_id, coalesce(min(r.v), i.doc_id) AS cluster_id
         |        FROM img i LEFT JOIN ireach r ON r.u = i.doc_id
         |        GROUP BY i.doc_id)
         |SELECT c.doc_id, lp.lang_pred, qq.quality, qq.n_tokens,
         |       (icl.doc_id IS NOT NULL) AS has_image
         |FROM clus c
         |JOIN lp ON lp.doc_id = c.doc_id
         |JOIN qq ON qq.doc_id = c.doc_id
         |LEFT JOIN icl ON icl.doc_id = c.doc_id
         |WHERE c.doc_id = c.cluster_id AND lp.lang_pred = 'en'
         |  AND qq.quality >= 0.5
         |  AND (icl.doc_id IS NULL OR icl.cluster_id = c.doc_id)
         |ORDER BY c.doc_id""".stripMargin),
    // the text-gate CTEs plus ALL THREE modality cluster chains (the
    // image phash, audio energy-fingerprint, and video frame-hash
    // oracles, i-/a-/v-prefixed): one release decision per doc
    "pipeline_multimodal_gate_full" -> (curationCtePrefix +
      s""",
         |img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS ip
         |        FROM documents WHERE doc_id % 3 = 0),
         |ibits AS (SELECT i.doc_id,
         |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
         |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
         |            + CASE WHEN c.v+1 = ip AND r.v = ip THEN 40 ELSE 0 END
         |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
         |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
         |            + CASE WHEN c.v = ip AND r.v = ip THEN 40 ELSE 0 END
         |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
         |  FROM img i, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
         |iph AS MATERIALIZED (
         |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
         |  FROM ibits GROUP BY doc_id),
         |ibands AS MATERIALIZED (
         |  SELECT doc_id, phash, b.v AS band, (phash >> (b.v*8)) & 255 AS bh
         |  FROM iph, generate_series(0, 6) b(v)),
         |ipr AS MATERIALIZED (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM ibands x JOIN ibands y
         |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.phash, y.phash)) <= 6),
         |iedges AS (SELECT doc_a AS u, doc_b AS v FROM ipr
         |           UNION ALL SELECT doc_b, doc_a FROM ipr),
         |ireach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM iedges)
         |  UNION
         |  SELECT e2.u, r.v FROM iedges e2 JOIN ireach r ON e2.v = r.u),
         |icl AS (SELECT i.doc_id, coalesce(min(r.v), i.doc_id) AS cluster_id
         |        FROM img i LEFT JOIN ireach r ON r.u = i.doc_id
         |        GROUP BY i.doc_id),
         |aud AS (SELECT doc_id, text, CAST(strlen(text) // 2 AS BIGINT) AS n
         |        FROM documents WHERE doc_id % 3 = 1),
         |asmp AS (SELECT doc_id, n, unnest(range(0, n)) AS i, text FROM aud),
         |asv AS (SELECT doc_id,
         |               CAST(i * 57 // n AS INTEGER) AS w,
         |               CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x
         |        FROM (SELECT doc_id, n, i,
         |                     ascii(text[CAST(2*i+1 AS INTEGER)])
         |                     + 256 * ascii(text[CAST(2*i+2 AS INTEGER)]) AS u
         |              FROM asmp)),
         |ag AS (SELECT doc_id, w, CAST(sum(abs(x)) AS BIGINT) AS sm,
         |              CAST(count(*) AS BIGINT) AS c
         |       FROM asv GROUP BY doc_id, w),
         |abits AS (SELECT aud.doc_id,
         |                 CASE WHEN coalesce(g2.sm, 0) * coalesce(g1.c, 0)
         |                         > coalesce(g1.sm, 0) * coalesce(g2.c, 0)
         |                      THEN 1::BIGINT << wq.v ELSE 0::BIGINT END AS bit
         |          FROM aud CROSS JOIN generate_series(0, 55) wq(v)
         |          LEFT JOIN ag g1 ON g1.doc_id = aud.doc_id AND g1.w = wq.v
         |          LEFT JOIN ag g2 ON g2.doc_id = aud.doc_id AND g2.w = wq.v + 1),
         |aph AS MATERIALIZED (
         |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS afp
         |  FROM abits GROUP BY doc_id),
         |abands AS MATERIALIZED (
         |  SELECT doc_id, afp, b.v AS band, (afp >> (b.v*8)) & 255 AS bh
         |  FROM aph, generate_series(0, 6) b(v)),
         |apr AS MATERIALIZED (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM abands x JOIN abands y
         |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.afp, y.afp)) <= 6),
         |aedges AS (SELECT doc_a AS u, doc_b AS v FROM apr
         |           UNION ALL SELECT doc_b, doc_a FROM apr),
         |areach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM aedges)
         |  UNION
         |  SELECT e2.u, r.v FROM aedges e2 JOIN areach r ON e2.v = r.u),
         |acl AS (SELECT a2.doc_id, coalesce(min(r.v), a2.doc_id) AS cluster_id
         |        FROM aud a2 LEFT JOIN areach r ON r.u = a2.doc_id
         |        GROUP BY a2.doc_id),
         |vvid AS (SELECT doc_id, (doc_id // 3) % 24 AS seed,
         |                ((doc_id // 3) // 24) % 7 AS voff
         |         FROM documents WHERE doc_id % 3 = 2),
         |vfr AS (SELECT doc_id, seed, f.v AS frame_idx, (voff + f.v) % 7 AS vp
         |        FROM vvid, generate_series(0, 3) f(v)),
         |vbits AS (SELECT vfr.doc_id, vfr.frame_idx,
         |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
         |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
         |            + CASE WHEN c.v+1 = vp AND r.v = vp THEN 40 ELSE 0 END
         |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
         |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
         |            + CASE WHEN c.v = vp AND r.v = vp THEN 40 ELSE 0 END
         |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
         |  FROM vfr, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
         |vph AS MATERIALIZED (
         |  SELECT doc_id, frame_idx, CAST(sum(bit) AS BIGINT) AS fhash
         |  FROM vbits GROUP BY doc_id, frame_idx),
         |vfh AS MATERIALIZED (SELECT DISTINCT doc_id, fhash FROM vph),
         |vkeep AS (SELECT fhash FROM vfh GROUP BY fhash HAVING count(*) <= 1024),
         |vfhk AS MATERIALIZED (
         |  SELECT vfh.doc_id, vfh.fhash FROM vfh JOIN vkeep USING (fhash)),
         |vpr AS MATERIALIZED (
         |  SELECT doc_a, doc_b
         |  FROM (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n
         |        FROM vfhk x JOIN vfhk y
         |          ON x.fhash = y.fhash AND x.doc_id < y.doc_id
         |        GROUP BY 1, 2)
         |  WHERE n >= 2),
         |vedges AS (SELECT doc_a AS u, doc_b AS v FROM vpr
         |           UNION ALL SELECT doc_b, doc_a FROM vpr),
         |vreach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM vedges)
         |  UNION
         |  SELECT e2.u, r.v FROM vedges e2 JOIN vreach r ON e2.v = r.u),
         |vcl AS (SELECT vi.doc_id, coalesce(min(r.v), vi.doc_id) AS cluster_id
         |        FROM vvid vi LEFT JOIN vreach r ON r.u = vi.doc_id
         |        GROUP BY vi.doc_id)
         |SELECT c.doc_id, lp.lang_pred, qq.quality, qq.n_tokens,
         |       (icl.doc_id IS NOT NULL) AS has_image,
         |       (acl.doc_id IS NOT NULL) AS has_audio,
         |       (vcl.doc_id IS NOT NULL) AS has_video
         |FROM clus c
         |JOIN lp ON lp.doc_id = c.doc_id
         |JOIN qq ON qq.doc_id = c.doc_id
         |LEFT JOIN icl ON icl.doc_id = c.doc_id
         |LEFT JOIN acl ON acl.doc_id = c.doc_id
         |LEFT JOIN vcl ON vcl.doc_id = c.doc_id
         |WHERE c.doc_id = c.cluster_id AND lp.lang_pred = 'en'
         |  AND qq.quality >= 0.5
         |  AND (icl.doc_id IS NULL OR icl.cluster_id = c.doc_id)
         |  AND (acl.doc_id IS NULL OR acl.cluster_id = c.doc_id)
         |  AND (vcl.doc_id IS NULL OR vcl.cluster_id = c.doc_id)
         |ORDER BY c.doc_id""".stripMargin),
    "text_top_terms" ->
      s"""WITH c AS (
         |  SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term)
         |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY tf DESC, term) AS rank
         |  FROM f)
         |WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,
    // the sketch is engine-internal — the oracle checks the exact top-10
    // and expects both in-query sketch bounds to hold
    "text_topk_sketch" ->
      s"""WITH c AS (SELECT unnest($duckToks) AS term FROM documents),
         |e AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM c
         |      WHERE term <> '' GROUP BY 1)
         |SELECT term, cnt,
         |       TRUE AS sketch_counts_within_bound,
         |       TRUE AS sketch_topk_within_bound
         |FROM e ORDER BY cnt DESC, term LIMIT 10""".stripMargin,
    "text_quality_deciles" ->
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents),
         |m AS (SELECT doc_id,
         |       CAST(len(toks) AS INTEGER) AS n_tokens,
         |       floor(((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000 AS punct_ratio,
         |       floor((len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)) * 10000 + 0.5) / 10000 AS distinct_ratio
         |FROM t),
         |q AS (SELECT doc_id,
         |       floor((CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
         |             + CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END
         |             + distinct_ratio * 0.3) * 10000 + 0.5) / 10000 AS quality
         |FROM m),
         |d AS (SELECT quality, ntile(10) OVER (ORDER BY quality, doc_id) AS decile FROM q)
         |SELECT CAST(decile AS INTEGER) AS decile, count(*) AS n_docs,
         |       min(quality) AS min_quality, max(quality) AS max_quality
         |FROM d GROUP BY decile
         |ORDER BY decile""".stripMargin,
    "text_deciles_by_source" ->
      s"""WITH t AS (SELECT source, doc_id, text, $duckToks AS toks FROM documents),
         |m AS (SELECT source, doc_id,
         |       CAST(len(toks) AS INTEGER) AS n_tokens,
         |       floor(((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000 AS punct_ratio,
         |       floor((len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)) * 10000 + 0.5) / 10000 AS distinct_ratio
         |FROM t),
         |q AS (SELECT source, doc_id,
         |       floor((CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
         |             + CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END
         |             + distinct_ratio * 0.3) * 10000 + 0.5) / 10000 AS quality
         |FROM m),
         |d AS (SELECT source, quality,
         |             ntile(10) OVER (PARTITION BY source ORDER BY quality, doc_id) AS decile
         |      FROM q)
         |SELECT source, CAST(decile AS INTEGER) AS decile, count(*) AS n_docs,
         |       min(quality) AS min_quality, max(quality) AS max_quality
         |FROM d GROUP BY source, decile
         |ORDER BY source, decile""".stripMargin,
    "text_nll_buckets" ->
      s"""WITH c AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
         |m AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM f GROUP BY term),
         |tot AS (SELECT CAST(sum(cf) AS BIGINT) AS total FROM m),
         |nll AS (SELECT f.doc_id,
         |       ${graft.functions.OracleRound.duck(
               "-(sum(CAST(f.tf AS DOUBLE) * ln(CAST(m.cf AS DOUBLE) / CAST(tot.total AS DOUBLE))) " +
                 "/ CAST(sum(f.tf) AS DOUBLE))", 4)} AS nll
         |FROM f JOIN m USING (term) CROSS JOIN tot
         |GROUP BY f.doc_id)
         |SELECT doc_id, nll,
         |       CAST(ntile(3) OVER (ORDER BY nll, doc_id) AS INTEGER) AS bucket
         |FROM nll ORDER BY doc_id""".stripMargin,
    "text_unigram_nll" ->
      s"""WITH c AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
         |m AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM f GROUP BY term),
         |tot AS (SELECT CAST(sum(cf) AS BIGINT) AS total FROM m)
         |SELECT f.doc_id,
         |       CAST(sum(f.tf) AS BIGINT) AS n_tokens,
         |       ${graft.functions.OracleRound.duck(
               "-(sum(CAST(f.tf AS DOUBLE) * ln(CAST(m.cf AS DOUBLE) / CAST(tot.total AS DOUBLE))) " +
                 "/ CAST(sum(f.tf) AS DOUBLE))", 4)} AS nll
         |FROM f JOIN m USING (term) CROSS JOIN tot
         |GROUP BY f.doc_id
         |ORDER BY doc_id""".stripMargin,
    "text_bigram_nll" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id,
         |             unnest(toks[1:len(toks)-1]) AS p,
         |             unnest(toks[2:len(toks)]) AS w
         |      FROM t WHERE len(toks) >= 2),
         |f AS (SELECT doc_id, p, w, count(*) AS tf FROM g GROUP BY doc_id, p, w),
         |big AS (SELECT p, w, CAST(sum(tf) AS BIGINT) AS cb FROM f GROUP BY p, w),
         |ctx AS (SELECT p, CAST(sum(cb) AS BIGINT) AS cp FROM big GROUP BY p),
         |c AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |u AS (SELECT term, count(*) AS cw FROM c GROUP BY term),
         |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS total FROM u),
         |s AS (SELECT f.doc_id,
         |             CAST(sum(f.tf) AS BIGINT) AS n_bigrams,
         |             ${graft.functions.OracleRound.duck(
               "-(sum(CAST(f.tf AS DOUBLE) * ln(" +
                 "0.75 * (CAST(big.cb AS DOUBLE) / CAST(ctx.cp AS DOUBLE)) + " +
                 "0.25 * (CAST(u.cw AS DOUBLE) / CAST(tot.total AS DOUBLE)))) " +
                 "/ CAST(sum(f.tf) AS DOUBLE))", 4)} AS nll2
         |      FROM f
         |      JOIN big USING (p, w)
         |      JOIN ctx USING (p)
         |      JOIN u ON u.term = f.w
         |      CROSS JOIN tot
         |      GROUP BY f.doc_id)
         |SELECT d.doc_id,
         |       coalesce(s.n_bigrams, 0) AS n_bigrams,
         |       coalesce(s.nll2, 0.0) AS nll2
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |b AS (SELECT doc_id,
         |             unnest([array_to_string(toks[i:i+1], ' ')
         |                     for i in range(1, len(toks))]) AS bg
         |      FROM t),
         |c AS (SELECT doc_id, bg, count(*) AS tf FROM b GROUP BY doc_id, bg),
         |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |             CAST(max(tf) AS BIGINT) AS top_bigram_tf
         |      FROM c GROUP BY doc_id)
         |SELECT d.doc_id,
         |       coalesce(a.n_bigrams, 0) AS n_bigrams,
         |       coalesce(a.top_bigram_tf, 0) AS top_bigram_tf,
         |       ${graft.functions.OracleRound.duck(
               "CAST(coalesce(a.top_bigram_tf, 0) AS DOUBLE) / " +
                 "greatest(CAST(coalesce(a.n_bigrams, 0) AS DOUBLE), 1.0)", 4)} AS top_bigram_frac
         |FROM documents d LEFT JOIN a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "text_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |b AS (SELECT doc_id,
         |             unnest([array_to_string(toks[i:i+1], ' ')
         |                     for i in range(1, len(toks))]) AS bg
         |      FROM t),
         |f AS (SELECT doc_id, bg, count(*) AS tf FROM b GROUP BY doc_id, bg),
         |fd AS (SELECT bg, min(doc_id) AS first_doc FROM f GROUP BY bg),
         |a AS (SELECT f.doc_id,
         |             CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |             CAST(sum(CASE WHEN fd.first_doc = f.doc_id THEN tf ELSE 0 END) AS BIGINT) AS n_novel
         |      FROM f JOIN fd USING (bg) GROUP BY f.doc_id)
         |SELECT d.doc_id,
         |       coalesce(a.n_bigrams, 0) AS n_bigrams,
         |       coalesce(a.n_novel, 0) AS n_novel,
         |       floor((CAST(coalesce(a.n_novel, 0) AS DOUBLE) /
         |              greatest(CAST(coalesce(a.n_bigrams, 0) AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000 AS novelty
         |FROM documents d LEFT JOIN a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "pipeline_dedup_report" -> (curationCtePrefix +
      s""",
         |ex AS (SELECT count(*) AS n_exact_groups FROM (
         |         SELECT md5($duckNorm) AS fp FROM documents GROUP BY fp)),
         |nn AS (SELECT count(DISTINCT cluster_id) AS n_clusters FROM clus),
         |nd AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT nd.n_docs, ex.n_exact_groups,
         |       nd.n_docs - ex.n_exact_groups AS n_exact_surplus,
         |       nn.n_clusters,
         |       nd.n_docs - nn.n_clusters AS n_near_surplus
         |FROM nd CROSS JOIN ex CROSS JOIN nn""".stripMargin),
    "text_gopher_filters" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |m AS (SELECT doc_id,
         |       CAST(len(toks) AS INTEGER) AS n_tokens,
         |       floor((list_reduce(list_prepend(0, [length(x) for x in toks]), (a, b) -> a + b) /
         |              greatest(CAST(len(toks) AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000 AS mean_word_len,
         |       floor((len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$$'))) /
         |              greatest(CAST(len(toks) AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000 AS numeric_frac
         |FROM t),
         |c AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
         |tt AS (SELECT doc_id,
         |              floor((CAST(max(tf) AS DOUBLE) /
         |                     greatest(CAST(sum(tf) AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000 AS top_token_frac
         |       FROM f GROUP BY doc_id)
         |SELECT m.doc_id, m.n_tokens, m.mean_word_len, m.numeric_frac,
         |       coalesce(tt.top_token_frac, 0.0) AS top_token_frac,
         |       m.n_tokens >= 20 AS len_ok,
         |       m.mean_word_len >= 2.0 AND m.mean_word_len <= 10.0 AS word_len_ok,
         |       m.numeric_frac <= 0.2 AS numeric_ok,
         |       coalesce(tt.top_token_frac, 0.0) <= 0.2 AS repetition_ok,
         |       m.n_tokens >= 20 AND m.mean_word_len >= 2.0 AND m.mean_word_len <= 10.0
         |         AND m.numeric_frac <= 0.2 AND coalesce(tt.top_token_frac, 0.0) <= 0.2 AS gopher_pass
         |FROM m LEFT JOIN tt USING (doc_id)
         |ORDER BY m.doc_id""".stripMargin,
    "sim_label_centroids" ->
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT label, unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM e)
        |SELECT CAST(label AS INTEGER) AS label, CAST(pos AS INTEGER) AS pos,
        |       count(*) AS n_vecs,
        |       floor((avg(x)) * 10000 + 0.5) / 10000 AS dim_mean
        |FROM x GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin,
    "sim_centroid_agreement" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT label, unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM e),
        |cd AS (SELECT label AS c_label, pos,
        |              floor((avg(x)) * 10000 + 0.5) / 10000 AS m
        |       FROM x GROUP BY label, pos),
        |cv AS (SELECT c_label, list(m ORDER BY pos) AS cv FROM cd GROUP BY c_label),
        |cn AS (SELECT c_label, cv,
        |              sqrt(list_reduce([y * y for y in cv], (a, b) -> a + b)) AS cnrm
        |       FROM cv),
        |n AS (SELECT vec_id, label, v,
        |             sqrt(list_reduce([y * y for y in v], (a, b) -> a + b)) AS nrm
        |      FROM e),
        |s AS (SELECT n.vec_id, n.label, c.c_label,
        |             list_reduce([n.v[i] * c.cv[i] for i in range(1, 1 + len(n.v))],
        |                         (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos
        |      FROM n CROSS JOIN cn c),
        |p AS (SELECT vec_id, label, c_label FROM (
        |        SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                     ORDER BY cos DESC, c_label) AS rn
        |        FROM s)
        |      WHERE rn = 1)
        |SELECT CAST(label AS INTEGER) AS label, count(*) AS n_vecs,
        |       CAST(sum(CASE WHEN label = c_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |       floor((CAST(sum(CASE WHEN label = c_label THEN 1 ELSE 0 END) AS DOUBLE) /
        |              count(*)) * 10000 + 0.5) / 10000 AS accuracy
        |FROM p GROUP BY label
        |ORDER BY label""".stripMargin,
    "pipeline_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |s AS (SELECT doc_id,
         |             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
         |                                   for i in range(1, len(toks) - 1)])) AS sh
         |      FROM t),
         |b AS (SELECT DISTINCT sh FROM s WHERE doc_id % 50 = 0),
         |o AS (SELECT s.doc_id, count(*) AS n_overlap
         |      FROM s JOIN b USING (sh) GROUP BY s.doc_id)
         |SELECT d.doc_id,
         |       coalesce(o.n_overlap, 0) AS n_overlap,
         |       coalesce(o.n_overlap, 0) >= 10 AS contaminated
         |FROM documents d LEFT JOIN o USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "text_source_divergence" ->
      s"""WITH c AS (SELECT source, unnest($duckToks) AS term FROM documents),
         |f AS (SELECT source, term, count(*) AS cs FROM c GROUP BY source, term),
         |st AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM f GROUP BY source),
         |ct AS (SELECT term, CAST(sum(cs) AS BIGINT) AS ct FROM f GROUP BY term),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM ct)
         |SELECT f.source,
         |       CAST(max(st.ns) AS BIGINT) AS n_tokens,
         |       count(*) AS vocab,
         |       floor((sum((CAST(f.cs AS DOUBLE) / CAST(st.ns AS DOUBLE)) *
         |                  ln((CAST(f.cs AS DOUBLE) / CAST(st.ns AS DOUBLE)) /
         |                     (CAST(ct.ct AS DOUBLE) / CAST(tot.nt AS DOUBLE))))) * 10000 + 0.5) / 10000 AS kl
         |FROM f JOIN ct USING (term) JOIN st USING (source) CROSS JOIN tot
         |GROUP BY f.source
         |ORDER BY f.source""".stripMargin,
    "pipeline_contamination_report" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |s AS (SELECT doc_id,
         |             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
         |                                   for i in range(1, len(toks) - 1)])) AS sh
         |      FROM t),
         |b AS (SELECT doc_id AS bench_id, sh FROM s WHERE doc_id % 50 = 0),
         |p AS (SELECT s.doc_id, b.bench_id, count(*) AS n_overlap
         |      FROM s JOIN b USING (sh) GROUP BY s.doc_id, b.bench_id),
         |h AS (SELECT bench_id, count(*) AS n_hit_docs,
         |             CAST(max(n_overlap) AS BIGINT) AS max_overlap
         |      FROM p WHERE n_overlap >= 10 GROUP BY bench_id)
         |SELECT d.doc_id AS bench_id,
         |       coalesce(h.n_hit_docs, 0) AS n_hit_docs,
         |       coalesce(h.max_overlap, 0) AS max_overlap
         |FROM documents d LEFT JOIN h ON h.bench_id = d.doc_id
         |WHERE d.doc_id % 50 = 0
         |ORDER BY bench_id""".stripMargin,
    // counts taken on the progressively redacted text (URL → email →
    // phone), mirroring Curation.scrubPii: n_* = placeholders emitted
    "pipeline_scrub_pii" ->
      """WITH u AS (SELECT doc_id, text,
        |                  regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g') AS t_url
        |           FROM documents),
        |e AS (SELECT *,
        |             regexp_replace(t_url, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g') AS t_email
        |      FROM u)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(t_url, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS INTEGER) AS n_emails,
        |       CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INTEGER) AS n_urls,
        |       CAST(len(regexp_extract_all(t_email, '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]')) AS INTEGER) AS n_phones,
        |       regexp_replace(t_email, '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g') AS scrubbed
        |FROM e ORDER BY doc_id""".stripMargin,
    "pipeline_token_budget" ->
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents),
         |m AS (SELECT doc_id,
         |       CAST(len(toks) AS INTEGER) AS n_tokens,
         |       floor(((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000 AS punct_ratio,
         |       floor((len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)) * 10000 + 0.5) / 10000 AS distinct_ratio
         |FROM t),
         |q AS (SELECT doc_id, n_tokens,
         |       floor((CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
         |             + CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END
         |             + distinct_ratio * 0.3) * 10000 + 0.5) / 10000 AS quality
         |FROM m),
         |c AS (SELECT doc_id, quality, n_tokens,
         |       CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |FROM q)
         |SELECT doc_id, quality, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens - n_tokens < 10000
         |ORDER BY doc_id""".stripMargin,
    "pipeline_budget_by_source" ->
      s"""WITH t AS (SELECT source, doc_id, text, $duckToks AS toks FROM documents),
         |m AS (SELECT source, doc_id,
         |       CAST(len(toks) AS INTEGER) AS n_tokens,
         |       floor(((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000 AS punct_ratio,
         |       floor((len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)) * 10000 + 0.5) / 10000 AS distinct_ratio
         |FROM t),
         |q AS (SELECT source, doc_id, n_tokens,
         |       floor((CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
         |             + CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END
         |             + distinct_ratio * 0.3) * 10000 + 0.5) / 10000 AS quality
         |FROM m),
         |c AS (SELECT source, doc_id, quality, n_tokens,
         |       CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |FROM q)
         |SELECT source, doc_id, quality, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens - n_tokens < 3000
         |ORDER BY doc_id""".stripMargin,
    "pipeline_chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |             unnest(range(0, CAST(floor((len(toks) - 1) / 48.0) AS INTEGER) + 1)) AS chunk_idx
         |      FROM t WHERE len(toks) > 0)
         |SELECT doc_id,
         |       CAST(chunk_idx AS INTEGER) AS chunk_idx,
         |       CAST(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS INTEGER) AS n_chunk_tokens,
         |       array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // oracle reads the ORIGINAL documents table; the Spark side reads the
    // fragment→compact round-trip output — equality proves the compactor
    // preserved every row and value
    "pipeline_compacted_corpus" ->
      """SELECT source,
        |       count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS char_mass,
        |       min(doc_id) AS min_doc,
        |       max(doc_id) AS max_doc
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "pipeline_partitioned_scan" ->
      """SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS char_mass,
        |       min(doc_id) AS min_doc,
        |       max(doc_id) AS max_doc
        |FROM documents
        |WHERE source IN ('src0', 'src7', 'src13')
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // bucketing is a layout rewrite — the oracle joins the ORIGINAL
    // tables, so a lossy bucketed write cannot hash-match
    "pipeline_bucketed_join" ->
      s"""SELECT o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_lines,
         |       ${graft.functions.OracleRound.duck("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // z-ordering is a layout rewrite — the oracle reads the ORIGINAL
    // table, so a lossy Morton rewrite cannot hash-match
    "pipeline_zorder_scan" ->
      """SELECT l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-03-01'
        |  AND l_shipdate < TIMESTAMP '1995-04-01'
        |  AND l_partkey <= 250
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the clustering is a layout rewrite — the oracle reads the ORIGINAL
    // table, so a lossy rewrite cannot hash-match
    "pipeline_clustered_scan" ->
      s"""SELECT l_linestatus,
         |       CAST(count(*) AS BIGINT) AS n_lines,
         |       ${graft.functions.OracleRound.duck("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1995-03-01'
         |  AND l_shipdate < TIMESTAMP '1995-04-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // manifest scan: the oracle reads the ORIGINAL table with the same
    // filter — manifest planning that lost or duplicated a file fails
    // the compare
    "pipeline_manifest_scan" ->
      s"""SELECT l_linestatus,
         |       CAST(count(*) AS BIGINT) AS n_lines,
         |       ${graft.functions.OracleRound.duck("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-06-01'
         |  AND l_shipdate < TIMESTAMP '1996-07-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_knn_label" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |n AS (SELECT vec_id, v, label,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |s AS (SELECT q.query_id, n.vec_id, n.label,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM n JOIN q ON n.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, label FROM (
        |        SELECT *, row_number() OVER (PARTITION BY query_id
        |                                     ORDER BY cosine DESC, vec_id) AS rank
        |        FROM s)
        |      WHERE rank <= 5),
        |v AS (SELECT query_id, label, count(*) AS votes
        |      FROM r GROUP BY query_id, label)
        |SELECT query_id, CAST(label AS INTEGER) AS pred_label, votes FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY votes DESC, label) AS rn
        |  FROM v)
        |WHERE rn = 1
        |ORDER BY query_id""".stripMargin,
    "dedup_embedding_clusters" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |p AS (SELECT * FROM (
        |        SELECT a.vec_id AS va, b.vec_id AS vb,
        |               list_reduce([a.v[i] * b.v[i] for i in range(1, 1 + len(a.v))],
        |                           (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
        |        FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |      WHERE cosine >= 0.45),
        |edges AS (SELECT va AS u, vb AS v FROM p
        |          UNION ALL SELECT vb, va FROM p),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e2.u, r.v FROM edges e2 JOIN reach r ON e2.v = r.u)
        |SELECT emb.vec_id, coalesce(min(r.v), emb.vec_id) AS cluster_id
        |FROM embeddings emb LEFT JOIN reach r ON r.u = emb.vec_id
        |GROUP BY emb.vec_id
        |ORDER BY emb.vec_id""".stripMargin,
    "pipeline_mixture_weights" ->
      s"""WITH t AS (SELECT source, CAST(len($duckToks) AS BIGINT) AS n FROM documents),
         |g AS (SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
         |             pow(CAST(sum(n) AS DOUBLE), 0.7) AS pw
         |      FROM t GROUP BY source),
         |z AS (SELECT sum(pw) AS z FROM g)
         |SELECT source, n_docs, n_tokens,
         |       ${graft.functions.OracleRound.duck("g.pw / z.z", 4)} AS weight
         |FROM g CROSS JOIN z
         |ORDER BY source""".stripMargin,
    // canary scan: the identical canary lift (12-token spans of the
    // doc_id % 83 = 5 subset), distinct 8-gram anchors, equi-join
    // candidates, 1-based strpos confirm — instr ≡ strpos
    "pipeline_canary_scan" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |n AS (SELECT doc_id, array_to_string(toks, ' ') AS nt FROM t),
         |c AS (SELECT doc_id AS canary_id,
         |             array_to_string(toks[11:22], ' ') AS cn,
         |             array_to_string(toks[11:18], ' ') AS anchor
         |      FROM t WHERE doc_id % 83 = 5 AND len(toks) >= 22),
         |g AS (SELECT doc_id,
         |             unnest(list_distinct(
         |               [array_to_string(toks[i:i+7], ' ')
         |                for i in range(1, len(toks) - 6)])) AS anchor
         |      FROM t WHERE len(toks) >= 8),
         |cand AS (SELECT DISTINCT g.doc_id, c.canary_id, c.cn
         |         FROM g JOIN c USING (anchor))
         |SELECT cand.canary_id, cand.doc_id,
         |       CAST(strpos(n.nt, cand.cn) AS INTEGER) AS pos
         |FROM cand JOIN n USING (doc_id)
         |WHERE strpos(n.nt, cand.cn) > 0
         |ORDER BY canary_id, doc_id""".stripMargin,
    // epoch plan: per-source token masses + hash caps, the water-fill λ
    // from the ≤4-row cap grid (first boundary whose uncapped solution
    // clears it), epochs 6 dp BEFORE the allocation product
    // pipeline_temperature_quota / _sample: p_s ∝ sqrt(sqrt(Σ n_chars))
    // — two IEEE sqrts replay bit-exact where pow() would not — with the
    // source-ordered fold total, floor/9dp-remainder largest-remainder
    // fill, and the md5-fold within-source draw
    "pipeline_temperature_quota" ->
      s"""WITH $tempQuotaCtes
        |SELECT source, n_docs, sz, p, quota FROM q
        |ORDER BY source""".stripMargin,
    "pipeline_temperature_sample" -> {
      def hex(expr: String) = duckHexFold(expr)
      s"""WITH $tempQuotaCtes,
        |s AS (SELECT doc_id, source,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY ${hex("'tmix:' || doc_id")},
        |                                         doc_id) AS draw_rank
        |      FROM documents)
        |SELECT s.doc_id, s.source, CAST(s.draw_rank AS INTEGER) AS draw_rank
        |FROM s JOIN q USING (source)
        |WHERE s.draw_rank <= q.quota
        |ORDER BY s.source, draw_rank""".stripMargin
    },
    "pipeline_epoch_plan" ->
      s"""WITH t AS (SELECT source, CAST(len($duckToks) AS BIGINT) AS n FROM documents),
         |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
         |             CAST(list_reduce(
         |               [CAST(strpos('0123456789abcdef',
         |                            substr(md5('cap:' || source), hd, 1)) - 1 AS BIGINT)
         |                for hd in range(1, 14)],
         |               (a, cc) -> a * 16 + cc) AS BIGINT) % 4 + 1 AS cap_epochs
         |      FROM t GROUP BY source),
         |gr AS (SELECT cap_epochs AS m, CAST(sum(n_tokens) AS BIGINT) AS tt
         |       FROM g GROUP BY cap_epochs),
         |tgt AS (SELECT CAST(floor(2.0 * sum(tt)) AS BIGINT) AS target FROM gr),
         |cand AS (SELECT g1.m AS mk,
         |                (CAST((SELECT target FROM tgt) AS DOUBLE)
         |                 - sum(CASE WHEN g2.m < g1.m THEN g2.m * g2.tt ELSE 0 END))
         |                / sum(CASE WHEN g2.m >= g1.m THEN g2.tt ELSE 0 END) AS lam
         |         FROM gr g1 CROSS JOIN gr g2 GROUP BY g1.m),
         |lam AS (SELECT coalesce(
         |          (SELECT lam FROM cand WHERE lam <= mk ORDER BY mk LIMIT 1),
         |          (SELECT CAST(max(m) AS DOUBLE) FROM gr)) AS lambda),
         |ep AS (SELECT source, n_tokens, cap_epochs,
         |              ${graft.functions.OracleRound.duck(
                "least(lambda, CAST(cap_epochs AS DOUBLE))", 6)} AS epochs
         |       FROM g CROSS JOIN lam)
         |SELECT source, n_tokens, cap_epochs, epochs,
         |       CAST(floor(epochs * n_tokens + 0.5) AS BIGINT) AS alloc_tokens
         |FROM ep
         |ORDER BY source""".stripMargin,
    "pipeline_mixture_sample" ->
      s"""WITH t AS (SELECT source, CAST(len($duckToks) AS BIGINT) AS n FROM documents),
         |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
         |             pow(CAST(sum(n) AS DOUBLE), 0.7) AS pw
         |      FROM t GROUP BY source),
         |z AS (SELECT sum(pw) AS z FROM g),
         |w AS (SELECT source, n_tokens,
         |             ${graft.functions.OracleRound.duck("g.pw / z.z", 4)} AS weight
         |      FROM g CROSS JOIN z),
         |c AS (SELECT min(CAST(n_tokens AS DOUBLE) / weight) AS c FROM w),
         |r AS (SELECT source,
         |             c.c * weight / CAST(n_tokens AS DOUBLE) AS p
         |      FROM w CROSS JOIN c)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN r USING (source)
         |WHERE p >= 1.0
         |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
         |      lower(lpad(hex(CAST(floor(p * 4294967296.0) AS BIGINT)), 8, '0'))
         |ORDER BY d.doc_id""".stripMargin,
    "pipeline_group_sample" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
        |  FROM documents)
        |WHERE rn <= 3
        |ORDER BY source, doc_id""".stripMargin,
    // zipf fit: identical top-200 cut, 9dp-rounded lns, rank-ordered
    // prepended-0.0 folds, and the SAME IEEE tree for slope/intercept
    // (intercept uses the UNROUNDED slope, as in Spark)
    "text_zipf_fit" ->
      s"""WITH tok AS (SELECT unnest($duckToks) AS term FROM documents),
         |c AS (SELECT term, count(*) AS cf FROM tok
         |      WHERE term <> '' GROUP BY term
         |      ORDER BY cf DESC, term LIMIT 200),
         |a AS (SELECT list({'ncf': -cf, 'term': term} ORDER BY -cf, term) AS l
         |      FROM c),
         |xy AS (SELECT len(l) AS n,
         |              [{'x': floor(ln(CAST(i AS DOUBLE)) * 1000000000 + 0.5)
         |                     / 1000000000,
         |                'y': floor(ln(CAST(-(l[i].ncf) AS DOUBLE)) * 1000000000 + 0.5)
         |                     / 1000000000}
         |               for i in range(1, len(l) + 1)] AS v
         |       FROM a),
         |s AS (SELECT n,
         |  list_reduce(list_prepend(0.0, list_transform(v, e -> e.x)),
         |              (a, b) -> a + b) AS sx,
         |  list_reduce(list_prepend(0.0, list_transform(v, e -> e.y)),
         |              (a, b) -> a + b) AS sy,
         |  list_reduce(list_prepend(0.0, list_transform(v, e -> e.x * e.y)),
         |              (a, b) -> a + b) AS sxy,
         |  list_reduce(list_prepend(0.0, list_transform(v, e -> e.x * e.x)),
         |              (a, b) -> a + b) AS sxx
         |  FROM xy)
         |SELECT CAST(n AS BIGINT) AS n_terms,
         |       floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 10000 + 0.5)
         |         / 10000 AS slope,
         |       floor(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
         |             * 10000 + 0.5) / 10000 AS intercept
         |FROM s""".stripMargin,
    // heaps growth: identical ntile bucketing over doc_id, term first
    // appearance, earliest covering cut, bucket-joined cumulative —
    // all integers
    "text_heaps_growth" ->
      s"""WITH d AS (SELECT doc_id,
         |                  ntile(10) OVER (ORDER BY doc_id) AS bucket
         |           FROM documents),
         |cuts AS (SELECT bucket, max(doc_id) AS cut, count(*) AS n_docs
         |         FROM d GROUP BY bucket),
         |tok AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |fst AS (SELECT term, min(doc_id) AS first_doc
         |        FROM tok WHERE term <> '' GROUP BY term),
         |fb AS (SELECT f.term, min(c.bucket) AS bucket
         |       FROM fst f JOIN cuts c ON f.first_doc <= c.cut
         |       GROUP BY f.term),
         |nt AS (SELECT bucket, count(*) AS new_terms FROM fb GROUP BY bucket),
         |nd AS (SELECT a.bucket, CAST(sum(b.n_docs) AS BIGINT) AS n_docs_cum
         |       FROM cuts a JOIN cuts b ON b.bucket <= a.bucket
         |       GROUP BY a.bucket)
         |SELECT CAST(nd.bucket AS INTEGER) AS bucket, nd.n_docs_cum,
         |       CAST(sum(nt.new_terms) AS BIGINT) AS vocab
         |FROM nd JOIN nt ON nt.bucket <= nd.bucket
         |GROUP BY nd.bucket, nd.n_docs_cum
         |ORDER BY bucket""".stripMargin,
    "text_term_stats" ->
      s"""WITH c AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term)
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
         |FROM f GROUP BY term
         |ORDER BY term""".stripMargin,
    "text_tfidf" ->
      s"""WITH c AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
         |d AS (SELECT term, count(*) AS df FROM f GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT f.doc_id, f.term, f.tf, d.df,
         |       ${graft.functions.OracleRound.duck(
               "f.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE))", 4)} AS tfidf
         |FROM f JOIN d USING (term) CROSS JOIN n
         |ORDER BY doc_id, term""".stripMargin,
    // PMI collocations: same counts, same single-division-inside-ln
    // expression tree, same rounded-score ranking and tie-break
    "text_collocations" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |uc AS (SELECT term, count(*) AS c1
         |       FROM (SELECT unnest(toks) AS term FROM t) GROUP BY term),
         |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tokens FROM uc),
         |g AS (SELECT unnest([{'a': toks[i], 'b': toks[i+1]}
         |                     for i in range(1, len(toks))],
         |                    recursive := true) FROM t),
         |bg AS (SELECT a, b, count(*) AS cab FROM g GROUP BY a, b
         |       HAVING count(*) >= 5),
         |j AS (SELECT bg.a, bg.b, bg.cab, ua.c1 AS ca, ub.c1 AS cb
         |      FROM bg JOIN uc ua ON ua.term = bg.a
         |      JOIN uc ub ON ub.term = bg.b)
         |SELECT a, b, cab, ca, cb,
         |       ${graft.functions.OracleRound.duck(
               "ln(CAST(n.n_tokens AS DOUBLE) * cab / (CAST(ca AS DOUBLE) * cb))", 4)} AS pmi
         |FROM j CROSS JOIN n
         |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,
    // per-doc keywords: the tfidf frame cut to top-3 per document by
    // (rounded score desc, term) — the same deterministic window cut
    "text_keywords" ->
      s"""WITH c AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
         |d AS (SELECT term, count(*) AS df FROM f GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (SELECT f.doc_id, f.term,
         |             ${graft.functions.OracleRound.duck(
               "f.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE))", 4)} AS tfidf
         |      FROM f JOIN d USING (term) CROSS JOIN n)
         |SELECT doc_id, CAST(kw_rank AS INTEGER) AS kw_rank, term, tfidf FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY tfidf DESC, term) AS kw_rank
         |  FROM s)
         |WHERE kw_rank <= 3
         |ORDER BY doc_id, kw_rank""".stripMargin,
    "sim_bruteforce_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |s AS (SELECT q.query_id, n.vec_id,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM n JOIN q ON n.vec_id <> q.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cosine DESC, vec_id) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // sim_hard_negatives: the bruteforce chain with the label-mismatch
    // predicate in the candidate join — same fold cosine, same rank rule
    "sim_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv, nrm AS qn
        |      FROM n WHERE vec_id < 10),
        |s AS (SELECT q.query_id, q.query_label, n.vec_id, n.label AS neg_label,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM n JOIN q ON n.vec_id <> q.query_id AND n.label <> q.query_label)
        |SELECT query_id, query_label, CAST(rank AS INTEGER) AS rank,
        |       vec_id, neg_label, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cosine DESC, vec_id) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // sim_silhouette: the sim_ivf assignment chain against the SAME
    // published centroid table, rn=1/rn=2 giving the own/next distances,
    // per-vector s rounded 6 dp BEFORE the per-cluster summary
    "sim_silhouette" ->
      s"""WITH c AS (SELECT list_id, centroid
        |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, "ivf_centroids_" + sf)}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS (SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
        |d AS MATERIALIZED (
        |  SELECT nn.vec_id, c.list_id,
        |         list_reduce([nn.nv[i] * c.centroid[i]
        |                      for i in range(1, 1 + len(nn.nv))],
        |                     (x, y) -> x + y) AS dt
        |  FROM nn CROSS JOIN c),
        |r AS MATERIALIZED (
        |  SELECT vec_id, list_id, dt,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY dt DESC, list_id DESC) AS rn
        |  FROM d),
        |ab AS (SELECT a1.vec_id, CAST(a1.list_id AS INTEGER) AS cluster,
        |              1.0 - a1.dt AS a, 1.0 - a2.dt AS b
        |       FROM r a1 JOIN r a2 ON a1.vec_id = a2.vec_id
        |       WHERE a1.rn = 1 AND a2.rn = 2),
        |sv AS (SELECT vec_id, cluster,
        |              ${graft.functions.OracleRound.duck(
                "CASE WHEN greatest(a, b) = 0.0 THEN 0.0 " +
                "ELSE (b - a) / greatest(a, b) END", 6)} AS sil
        |       FROM ab)
        |SELECT cluster, count(*) AS n_vecs,
        |       ${graft.functions.OracleRound.duck("avg(sil)", 4)} AS mean_sil,
        |       min(sil) AS min_sil, max(sil) AS max_sil
        |FROM sv GROUP BY cluster
        |ORDER BY cluster""".stripMargin,
    // sim_recall_eval: the exact bruteforce chain AND the published-IVF
    // chain side by side, hits = the per-query intersection count,
    // recall = one IEEE division
    "sim_recall_eval" ->
      s"""WITH c AS (SELECT list_id, centroid
        |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, "ivf_centroids_" + sf)}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS MATERIALIZED (
        |  SELECT vec_id, v,
        |         sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |ex AS (SELECT query_id, vec_id FROM (
        |         SELECT s.query_id, s.vec_id,
        |                row_number() OVER (PARTITION BY s.query_id
        |                                   ORDER BY s.cosine DESC, s.vec_id) AS rank
        |         FROM (SELECT q.query_id, n.vec_id,
        |                      list_reduce([q.qv[i] * n.v[i]
        |                                   for i in range(1, 1 + len(q.qv))],
        |                                  (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |               FROM n JOIN q ON n.vec_id <> q.query_id) s)
        |       WHERE rank <= 5),
        |nn AS (SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
        |d AS MATERIALIZED (
        |  SELECT nn.vec_id, c.list_id,
        |         list_reduce([nn.nv[i] * c.centroid[i]
        |                      for i in range(1, 1 + len(nn.nv))],
        |                     (x, y) -> x + y) AS dt
        |  FROM nn CROSS JOIN c),
        |a AS (SELECT vec_id, list_id AS cluster FROM (
        |        SELECT vec_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d)
        |      WHERE rn = 1),
        |p AS (SELECT query_id, list_id FROM (
        |        SELECT vec_id AS query_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d WHERE vec_id < 10)
        |      WHERE rn <= 4),
        |cand AS (SELECT p.query_id, a.vec_id
        |         FROM a JOIN p ON a.cluster = p.list_id
        |         WHERE a.vec_id <> p.query_id),
        |iv AS (SELECT query_id, vec_id FROM (
        |         SELECT s.query_id, s.vec_id,
        |                row_number() OVER (PARTITION BY s.query_id
        |                                   ORDER BY s.cosine DESC, s.vec_id) AS rank
        |         FROM (SELECT cand.query_id, cand.vec_id,
        |                      list_reduce([q.qv[i] * n.v[i]
        |                                   for i in range(1, 1 + len(q.qv))],
        |                                  (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |               FROM cand JOIN n ON n.vec_id = cand.vec_id
        |               JOIN q ON q.query_id = cand.query_id) s)
        |       WHERE rank <= 5)
        |SELECT ex.query_id, count(iv.vec_id) AS hits,
        |       CAST(count(iv.vec_id) AS DOUBLE) / 5 AS recall
        |FROM ex LEFT JOIN iv
        |  ON iv.query_id = ex.query_id AND iv.vec_id = ex.vec_id
        |GROUP BY ex.query_id
        |ORDER BY ex.query_id""".stripMargin,
    // sim_truncation_recall: the bruteforce chain twice — once on the
    // full 64 dims (ground truth), once on the v[1:16] prefix slice
    // (norms recomputed on the slice) — hits = the per-query
    // intersection, recall = one IEEE division
    "sim_truncation_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS MATERIALIZED (
        |  SELECT vec_id, v,
        |         sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
        |      FROM n WHERE vec_id < 10),
        |ex AS (SELECT query_id, vec_id FROM (
        |         SELECT s.query_id, s.vec_id,
        |                row_number() OVER (PARTITION BY s.query_id
        |                                   ORDER BY s.cosine DESC, s.vec_id) AS rank
        |         FROM (SELECT q.query_id, n.vec_id,
        |                      list_reduce([q.qv[i] * n.v[i]
        |                                   for i in range(1, 1 + len(q.qv))],
        |                                  (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |               FROM n JOIN q ON n.vec_id <> q.query_id) s)
        |       WHERE rank <= 5),
        |tn AS MATERIALIZED (
        |  SELECT vec_id, v[1:16] AS v,
        |         sqrt(list_reduce([x * x for x in v[1:16]],
        |                          (x, y) -> x + y)) AS nrm
        |  FROM e),
        |tq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
        |       FROM tn WHERE vec_id < 10),
        |tr AS (SELECT query_id, vec_id FROM (
        |         SELECT s.query_id, s.vec_id,
        |                row_number() OVER (PARTITION BY s.query_id
        |                                   ORDER BY s.cosine DESC, s.vec_id) AS rank
        |         FROM (SELECT tq.query_id, tn.vec_id,
        |                      list_reduce([tq.qv[i] * tn.v[i]
        |                                   for i in range(1, 1 + len(tq.qv))],
        |                                  (x, y) -> x + y) / (tq.qn * tn.nrm) AS cosine
        |               FROM tn JOIN tq ON tn.vec_id <> tq.query_id) s)
        |       WHERE rank <= 5)
        |SELECT ex.query_id, count(tr.vec_id) AS hits,
        |       CAST(count(tr.vec_id) AS DOUBLE) / 5 AS recall
        |FROM ex LEFT JOIN tr
        |  ON tr.query_id = ex.query_id AND tr.vec_id = ex.vec_id
        |GROUP BY ex.query_id
        |ORDER BY ex.query_id""".stripMargin,
    // sim_cluster_terms: the sim_ivf assignment chain (rn=1 against the
    // SAME published centroid table) joined to the documents tokens,
    // integer tf counts, lift = (c_tf·g_total)/(c_total·g_tf) rounded
    // 6 dp BEFORE the per-cluster rank cut
    "sim_cluster_terms" ->
      s"""WITH c AS (SELECT list_id, centroid
        |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, "ivf_centroids_" + sf)}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS (SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
        |d AS MATERIALIZED (
        |  SELECT nn.vec_id, c.list_id,
        |         list_reduce([nn.nv[i] * c.centroid[i]
        |                      for i in range(1, 1 + len(nn.nv))],
        |                     (x, y) -> x + y) AS dt
        |  FROM nn CROSS JOIN c),
        |a AS (SELECT vec_id AS doc_id, CAST(list_id AS INTEGER) AS cluster FROM (
        |        SELECT vec_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d)
        |      WHERE rn = 1),
        |tk AS MATERIALIZED (
        |  SELECT t.doc_id, a.cluster, unnest($duckToks) AS term
        |  FROM documents t JOIN a ON a.doc_id = t.doc_id),
        |ct AS (SELECT cluster, term, count(*) AS c_tf FROM tk GROUP BY 1, 2),
        |gt AS (SELECT term, count(*) AS g_tf FROM tk GROUP BY 1),
        |ctot AS (SELECT cluster, count(*) AS c_total FROM tk GROUP BY 1),
        |gtot AS (SELECT count(*) AS g_total FROM tk),
        |sc AS (SELECT ct.cluster, ct.term,
        |              CAST(ct.c_tf AS BIGINT) AS c_tf,
        |              CAST(gt.g_tf AS BIGINT) AS g_tf,
        |              ${graft.functions.OracleRound.duck(
                "(CAST(ct.c_tf AS DOUBLE) * CAST(gtot.g_total AS DOUBLE)) / " +
                "(CAST(ctot.c_total AS DOUBLE) * CAST(gt.g_tf AS DOUBLE))", 6)} AS lift
        |       FROM ct JOIN gt USING (term)
        |       JOIN ctot USING (cluster) CROSS JOIN gtot
        |       WHERE ct.c_tf >= 3)
        |SELECT cluster, CAST(rank AS INTEGER) AS rank, term, c_tf, g_tf, lift
        |FROM (SELECT *, row_number() OVER (PARTITION BY cluster
        |                                   ORDER BY lift DESC, c_tf DESC, term) AS rank
        |      FROM sc)
        |WHERE rank <= 5
        |ORDER BY cluster, rank""".stripMargin,
    // sim_hybrid_rrf: the bruteforce chain at k=20 beside an inverted-
    // index lexical chain (integer Σ (N − df) over distinct shared
    // terms), full-outer fused by 1/(60+rank) reciprocals — the two-term
    // IEEE sum rounded 6 dp before the final top-5 cut
    "sim_hybrid_rrf" ->
      s"""WITH tk AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct($duckToks)) AS term
        |  FROM documents),
        |dfq AS (SELECT term, count(*) AS df FROM tk GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |lex AS MATERIALIZED (
        |  SELECT query_id, doc_id AS vec_id, CAST(rnk AS INTEGER) AS rank_lex
        |  FROM (SELECT s.query_id, s.doc_id,
        |               row_number() OVER (PARTITION BY s.query_id
        |                                  ORDER BY s.score DESC, s.doc_id) AS rnk
        |        FROM (SELECT q.doc_id AS query_id, t.doc_id,
        |                     sum(nd.n_docs - dfq.df) AS score
        |              FROM tk q JOIN tk t USING (term)
        |              JOIN dfq USING (term) CROSS JOIN nd
        |              WHERE q.doc_id < 10 AND t.doc_id <> q.doc_id
        |              GROUP BY 1, 2) s)
        |  WHERE rnk <= 20),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS MATERIALIZED (
        |  SELECT vec_id, v,
        |         sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
        |      FROM n WHERE vec_id < 10),
        |eb AS MATERIALIZED (
        |  SELECT query_id, vec_id, CAST(rnk AS INTEGER) AS rank_emb
        |  FROM (SELECT s.query_id, s.vec_id,
        |               row_number() OVER (PARTITION BY s.query_id
        |                                  ORDER BY s.cosine DESC, s.vec_id) AS rnk
        |        FROM (SELECT q.query_id, n.vec_id,
        |                     list_reduce([q.qv[i] * n.v[i]
        |                                  for i in range(1, 1 + len(q.qv))],
        |                                 (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |              FROM n JOIN q ON n.vec_id <> q.query_id) s)
        |  WHERE rnk <= 20),
        |f AS (SELECT coalesce(eb.query_id, lex.query_id) AS query_id,
        |             coalesce(eb.vec_id, lex.vec_id) AS vec_id,
        |             eb.rank_emb, lex.rank_lex,
        |             ${graft.functions.OracleRound.duck(
                "coalesce(CAST(1 AS DOUBLE) / (60 + eb.rank_emb), 0.0) + " +
                "coalesce(CAST(1 AS DOUBLE) / (60 + lex.rank_lex), 0.0)", 6)} AS rrf
        |      FROM eb FULL OUTER JOIN lex
        |        ON eb.query_id = lex.query_id AND eb.vec_id = lex.vec_id)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, vec_id,
        |       rank_emb, rank_lex, rrf
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY rrf DESC, vec_id) AS rnk
        |      FROM f)
        |WHERE rnk <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // sim_triplets: ONE scored pass (the bruteforce chain keeping the
    // label), then two rn=1 cuts — same-label positive, different-label
    // negative — and the raw-cosine margin subtraction
    "sim_triplets" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv, nrm AS qn
        |      FROM n WHERE vec_id < 10),
        |sc AS MATERIALIZED (
        |  SELECT q.query_id, q.q_label, n.vec_id, n.label,
        |         list_reduce([q.qv[i] * n.v[i]
        |                      for i in range(1, 1 + len(q.qv))],
        |                     (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |  FROM n JOIN q ON n.vec_id <> q.query_id),
        |pos AS (SELECT query_id, q_label AS label, vec_id AS pos_id,
        |               cosine AS pos_cos
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                           ORDER BY cosine DESC, vec_id) AS rn
        |              FROM sc WHERE label = q_label)
        |        WHERE rn = 1),
        |neg AS (SELECT query_id, vec_id AS neg_id, cosine AS neg_cos
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                           ORDER BY cosine DESC, vec_id) AS rn
        |              FROM sc WHERE label <> q_label)
        |        WHERE rn = 1)
        |SELECT p.query_id, p.label, p.pos_id, p.pos_cos,
        |       ng.neg_id, ng.neg_cos, p.pos_cos - ng.neg_cos AS margin
        |FROM pos p JOIN neg ng USING (query_id)
        |ORDER BY p.query_id""".stripMargin,
    // sim_kcenter_coreset: farthest-point sampling unrolled — seed =
    // min vec_id, each step the max of min 9 dp cosine distances to the
    // picked set (vec_id tie-break via ORDER BY ... LIMIT 1)
    "sim_kcenter_coreset" -> {
      def r9(e: String) = graft.functions.OracleRound.duck(e, 9)
      val dist = r9("CAST(1 AS DOUBLE) - list_reduce(" +
        "[nn.nv[i] * s.nv[i] for i in range(1, 1 + len(nn.nv))], " +
        "(x, y) -> x + y)")
      val steps = (2 to 10).map { t =>
        // every step CTE is MATERIALIZED: sel/d/p are each referenced
        // more than once downstream, and un-materialized inlining
        // re-evaluates the whole prefix chain exponentially
        s"""d$t AS MATERIALIZED (SELECT nn.vec_id, min($dist) AS mind
           |      FROM nn CROSS JOIN sel${t - 1} s
           |      WHERE nn.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
           |      GROUP BY nn.vec_id),
           |x$t AS (SELECT max(mind) AS mx FROM d$t),
           |p$t AS MATERIALIZED (SELECT vec_id, mind FROM d$t CROSS JOIN x$t
           |        WHERE mind = mx ORDER BY vec_id LIMIT 1),
           |sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1}
           |          UNION ALL SELECT nn.vec_id, nn.nv FROM nn
           |          JOIN p$t ON nn.vec_id = p$t.vec_id)"""
      }.mkString(",\n")
      val outRows = (2 to 10)
        .map(t => s"      UNION ALL SELECT $t AS pick, vec_id, mind AS mindist FROM p$t")
        .mkString("\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v,
         |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
         |      FROM e),
         |nn AS MATERIALIZED (SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
         |sel1 AS MATERIALIZED (SELECT vec_id, nv FROM nn
         |         WHERE vec_id = (SELECT min(vec_id) FROM nn)),
         |$steps
         |SELECT CAST(pick AS INTEGER) AS pick, vec_id, mindist
         |FROM (SELECT 1 AS pick, vec_id, CAST(NULL AS DOUBLE) AS mindist FROM sel1
         |$outRows)
         |ORDER BY pick""".stripMargin
    },
    // sim_mmr_rerank: candidate pool = the bruteforce chain at k=10
    // (rel = the raw fold cosine), pool² pairwise sims, then 4 unrolled
    // greedy steps — each scores the not-yet-picked pool by
    // round6(0.5·rel − 0.5·max sim-to-picked) and takes the argmax
    "sim_mmr_rerank" -> {
      def r6(e: String) = graft.functions.OracleRound.duck(e, 6)
      val steps = (2 to 5).map { t =>
        s"""p$t AS (SELECT p.query_id, p.a, max(p.sim) AS pen
           |        FROM p JOIN sel${t - 1} s
           |          ON s.query_id = p.query_id AND s.vec_id = p.b
           |        GROUP BY 1, 2),
           |s$t AS MATERIALIZED (
           |  SELECT query_id, vec_id, $t AS pick, mmr FROM (
           |    SELECT query_id, vec_id, mmr,
           |           row_number() OVER (PARTITION BY query_id
           |                              ORDER BY mmr DESC, vec_id) AS rn
           |    FROM (SELECT c.query_id, c.vec_id,
           |                 ${r6(s"0.5 * c.rel - 0.5 * p$t.pen")} AS mmr
           |          FROM c JOIN p$t
           |            ON p$t.query_id = c.query_id AND p$t.a = c.vec_id
           |          LEFT JOIN sel${t - 1} sx
           |            ON sx.query_id = c.query_id AND sx.vec_id = c.vec_id
           |          WHERE sx.vec_id IS NULL))
           |  WHERE rn = 1),
           |sel$t AS (SELECT query_id, vec_id FROM sel${t - 1}
           |          UNION ALL SELECT query_id, vec_id FROM s$t)"""
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS MATERIALIZED (
         |  SELECT vec_id, v,
         |         sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
         |  FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
         |      FROM n WHERE vec_id < 10),
         |c AS MATERIALIZED (
         |  SELECT query_id, vec_id, cosine AS rel
         |  FROM (SELECT s.query_id, s.vec_id, s.cosine,
         |               row_number() OVER (PARTITION BY s.query_id
         |                                  ORDER BY s.cosine DESC, s.vec_id) AS rnk
         |        FROM (SELECT q.query_id, n.vec_id,
         |                     list_reduce([q.qv[i] * n.v[i]
         |                                  for i in range(1, 1 + len(q.qv))],
         |                                 (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
         |              FROM n JOIN q ON n.vec_id <> q.query_id) s)
         |  WHERE rnk <= 10),
         |cv AS (SELECT c.query_id, c.vec_id, n.v, n.nrm
         |       FROM c JOIN n USING (vec_id)),
         |p AS MATERIALIZED (
         |  SELECT x.query_id, x.vec_id AS a, y.vec_id AS b,
         |         list_reduce([x.v[i] * y.v[i]
         |                      for i in range(1, 1 + len(x.v))],
         |                     (xx, yy) -> xx + yy) / (x.nrm * y.nrm) AS sim
         |  FROM cv x JOIN cv y
         |    ON x.query_id = y.query_id AND x.vec_id <> y.vec_id),
         |s1 AS MATERIALIZED (
         |  SELECT query_id, vec_id, 1 AS pick, mmr FROM (
         |    SELECT query_id, vec_id, mmr,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY mmr DESC, vec_id) AS rn
         |    FROM (SELECT query_id, vec_id, ${r6("0.5 * rel")} AS mmr FROM c))
         |  WHERE rn = 1),
         |sel1 AS (SELECT query_id, vec_id FROM s1),
         |$steps
         |SELECT query_id, vec_id, CAST(pick AS INTEGER) AS pick, mmr
         |FROM (SELECT * FROM s1
         |      UNION ALL SELECT * FROM s2
         |      UNION ALL SELECT * FROM s3
         |      UNION ALL SELECT * FROM s4
         |      UNION ALL SELECT * FROM s5)
         |ORDER BY query_id, pick""".stripMargin
    },
    // the bruteforce scoring chain with a threshold cut instead of a
    // rank cut — the sequential-fold cosine is bit-identical on both
    // engines, so the 0.3 threshold selects the same set
    "sim_radius_search" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |s AS (SELECT q.query_id, n.vec_id,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM n JOIN q ON n.vec_id <> q.query_id)
        |SELECT query_id, vec_id, cosine FROM s
        |WHERE cosine >= 0.3
        |ORDER BY query_id, vec_id""".stripMargin,
    // sim_lsh_topk: hyperplane component (t,b,i) = 2u−1, u = (first 13 hex
    // digits of md5('hp:t:b:i') as base-16) / 2^52 — 52 bits is exactly
    // double-representable, so both engines hold the same component, the
    // same sign bits, the same buckets, and (sequential-fold dot, as in
    // sim_bruteforce_topk) the same cosines bit-for-bit.
    "sim_lsh_topk" ->
      """WITH hp AS (
        |  SELECT t.range AS t, b.range AS b, i.range AS i,
        |         (CAST(list_reduce(
        |            [CAST(strpos('0123456789abcdef',
        |                         substr(md5('hp:' || t.range || ':' || b.range || ':' || i.range),
        |                                d, 1)) - 1 AS BIGINT)
        |             for d in range(1, 14)],
        |            (a, c) -> a * 16 + c) AS DOUBLE) / 4503599627370496.0) * 2 - 1 AS comp
        |  FROM range(8) t, range(4) b, range(64) i),
        |pl AS (SELECT t, b, list(comp ORDER BY i) AS plane FROM hp GROUP BY t, b),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |bk AS (SELECT n.vec_id, pl.t,
        |              CAST(sum(CASE WHEN list_reduce(
        |                     [n.v[j] * pl.plane[j] for j in range(1, 1 + len(n.v))],
        |                     (x, y) -> x + y) > 0
        |                   THEN (1 << CAST(pl.b AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
        |       FROM n CROSS JOIN pl
        |       GROUP BY n.vec_id, pl.t),
        |qb AS (SELECT vec_id AS query_id, t, bucket FROM bk WHERE vec_id < 10),
        |cand AS (SELECT DISTINCT qb.query_id, bk.vec_id
        |         FROM bk JOIN qb ON bk.t = qb.t AND bk.bucket = qb.bucket
        |         WHERE bk.vec_id <> qb.query_id),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |s AS (SELECT cand.query_id, cand.vec_id,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM cand JOIN n ON n.vec_id = cand.vec_id
        |      JOIN q ON q.query_id = cand.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cosine DESC, vec_id) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // sim_semantic_prune: the sim_ivf assignment chain against the SAME
    // published centroid table, then within-cluster sequential-fold
    // cosine pairs at 0.45 and the recursive-CTE component collapse
    // (rep = min vec_id) — SemDeDup replayed end to end
    "sim_semantic_prune" ->
      s"""WITH RECURSIVE
        |c AS (SELECT list_id, centroid
        |      FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, "ivf_centroids_" + sf)}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS MATERIALIZED (
        |  SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
        |d AS (SELECT nn.vec_id, c.list_id,
        |             list_reduce([nn.nv[i] * c.centroid[i]
        |                          for i in range(1, 1 + len(nn.nv))],
        |                         (x, y) -> x + y) AS dt
        |      FROM nn CROSS JOIN c),
        |a AS MATERIALIZED (
        |  SELECT vec_id, list_id AS cluster FROM (
        |    SELECT vec_id, list_id,
        |           row_number() OVER (PARTITION BY vec_id
        |                              ORDER BY dt DESC, list_id DESC) AS rn
        |    FROM d)
        |  WHERE rn = 1),
        |av AS MATERIALIZED (
        |  SELECT a.vec_id, a.cluster, nn.nv
        |  FROM a JOIN nn ON nn.vec_id = a.vec_id),
        |pr AS MATERIALIZED (
        |  SELECT p1.vec_id AS doc_a, p2.vec_id AS doc_b
        |  FROM av p1 JOIN av p2
        |    ON p1.cluster = p2.cluster AND p1.vec_id < p2.vec_id
        |  WHERE list_reduce([p1.nv[i] * p2.nv[i]
        |                     for i in range(1, 1 + len(p1.nv))],
        |                    (x, y) -> x + y) >= 0.45),
        |edges AS MATERIALIZED (
        |  SELECT doc_a AS u, doc_b AS v FROM pr
        |  UNION ALL SELECT doc_b, doc_a FROM pr),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e2.u, r.v FROM edges e2 JOIN reach r ON e2.v = r.u),
        |rep AS (SELECT a.vec_id, coalesce(min(r.v), a.vec_id) AS rep_id
        |        FROM a LEFT JOIN reach r ON r.u = a.vec_id
        |        GROUP BY a.vec_id)
        |SELECT a.vec_id, a.cluster, rep.rep_id,
        |       (a.vec_id = rep.rep_id) AS kept
        |FROM a JOIN rep ON rep.vec_id = a.vec_id
        |ORDER BY a.vec_id""".stripMargin,
    // sim_centroid_drift: replays the sim_ivf assignment chain against
    // the published centroid table, then the driftPsi math (Laplace-
    // smoothed shares, cluster-sorted fold with prepended 0.0 ≡ the
    // Spark aggregate's zero init, 4 dp)
    "sim_centroid_drift" ->
      s"""WITH c AS (SELECT list_id, centroid
        |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, "ivf_centroids_" + sf)}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS (SELECT vec_id, v, nrm, [x / nrm for x in v] AS nv FROM n),
        |d AS (SELECT nn.vec_id, c.list_id,
        |             list_reduce([nn.nv[i] * c.centroid[i]
        |                          for i in range(1, 1 + len(nn.nv))],
        |                         (x, y) -> x + y) AS dt
        |      FROM nn CROSS JOIN c),
        |a AS (SELECT vec_id, list_id AS cluster FROM (
        |        SELECT vec_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d)
        |      WHERE rn = 1),
        |cnt AS (SELECT cluster,
        |               CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb,
        |               CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cq
        |        FROM a GROUP BY cluster),
        |grid AS (SELECT g.cluster, coalesce(cnt.cb, 0) AS cb, coalesce(cnt.cq, 0) AS cq
        |         FROM (SELECT CAST(list_id AS INTEGER) AS cluster FROM c) g
        |         LEFT JOIN cnt ON cnt.cluster = g.cluster),
        |t AS (SELECT CAST(sum(cb) AS BIGINT) AS nb, CAST(sum(cq) AS BIGINT) AS nc
        |      FROM grid),
        |bc AS (SELECT t.nb, t.nc,
        |              {'band': grid.cluster,
        |               'c': ((CAST(cq + 1 AS DOUBLE) / (nc + 16))
        |                     - (CAST(cb + 1 AS DOUBLE) / (nb + 16)))
        |                    * ln((CAST(cq + 1 AS DOUBLE) / (nc + 16))
        |                         / (CAST(cb + 1 AS DOUBLE) / (nb + 16)))} AS bc
        |       FROM grid CROSS JOIN t),
        |f AS (SELECT max(nb) AS n_base, max(nc) AS n_cur,
        |             floor(list_reduce(
        |               list_prepend(0.0, list_transform(list_sort(list(bc)),
        |                                                x -> x.c)),
        |               (acc, v) -> acc + v) * 10000 + 0.5) / 10000 AS psi
        |      FROM bc)
        |SELECT n_base, n_cur, psi, psi >= 0.2 AS drifted FROM f""".stripMargin,
    // sim_ivf_topk: the Spark query PUBLISHES its trained centroids as a
    // parquet table and serves against exactly those values; the oracle
    // reads the same table (fixed path — Verify runs before the oracle,
    // and the driver's oracle pass is sf0.01) and replays the serving
    // math: normalize, sequential-fold centroid dots, argmax assignment
    // (ties → larger list_id, mirroring array_max's struct compare),
    // top-nprobe probe lists, exact-cosine rerank.
    "sim_ivf_topk" ->
      s"""WITH c AS (SELECT list_id, centroid
        |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, "ivf_centroids_" + sf)}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS (SELECT vec_id, v, nrm, [x / nrm for x in v] AS nv FROM n),
        |d AS (SELECT nn.vec_id, c.list_id,
        |             list_reduce([nn.nv[i] * c.centroid[i]
        |                          for i in range(1, 1 + len(nn.nv))],
        |                         (x, y) -> x + y) AS dt
        |      FROM nn CROSS JOIN c),
        |a AS (SELECT vec_id, list_id AS cluster FROM (
        |        SELECT vec_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d)
        |      WHERE rn = 1),
        |p AS (SELECT query_id, list_id FROM (
        |        SELECT vec_id AS query_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d WHERE vec_id < 10)
        |      WHERE rn <= 4),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |cand AS (SELECT p.query_id, a.vec_id
        |         FROM a JOIN p ON a.cluster = p.list_id
        |         WHERE a.vec_id <> p.query_id),
        |s AS (SELECT cand.query_id, cand.vec_id,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM cand JOIN n ON n.vec_id = cand.vec_id
        |      JOIN q ON q.query_id = cand.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cosine DESC, vec_id) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // sim_ivf_hier_topk: the sim_ivf_topk replay with TWO-LEVEL probe
    // selection (round 17) — the published √nlist-group quantizer table,
    // the DERIVED centroid→group map (argmax dot, ties → larger group
    // id), each query's top-2 groups, probes restricted to their members
    "sim_ivf_hier_topk" ->
      s"""WITH c AS (SELECT list_id, centroid
        |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, "ivf_centroids_" + sf)}/*.parquet')),
        |g AS (SELECT group_id, centroid
        |      FROM read_parquet('${Similarity.ivfGroupsPath(ArtifactWarehouse, "ivf_centroids_" + sf, 16, 3, 4, 3)}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS (SELECT vec_id, v, nrm, [x / nrm for x in v] AS nv FROM n),
        |d AS (SELECT nn.vec_id, c.list_id,
        |             list_reduce([nn.nv[i] * c.centroid[i]
        |                          for i in range(1, 1 + len(nn.nv))],
        |                         (x, y) -> x + y) AS dt
        |      FROM nn CROSS JOIN c),
        |cmap AS (SELECT list_id, group_id FROM (
        |           SELECT c.list_id, g.group_id,
        |                  row_number() OVER (PARTITION BY c.list_id
        |                    ORDER BY list_reduce(
        |                      [c.centroid[i] * g.centroid[i]
        |                       for i in range(1, 1 + len(c.centroid))],
        |                      (x, y) -> x + y) DESC, g.group_id DESC) AS rn
        |           FROM c CROSS JOIN g)
        |         WHERE rn = 1),
        |qg AS (SELECT vec_id, group_id FROM (
        |         SELECT nn.vec_id, g.group_id,
        |                row_number() OVER (PARTITION BY nn.vec_id
        |                  ORDER BY list_reduce(
        |                    [nn.nv[i] * g.centroid[i]
        |                     for i in range(1, 1 + len(nn.nv))],
        |                    (x, y) -> x + y) DESC, g.group_id DESC) AS rn
        |         FROM nn CROSS JOIN g WHERE nn.vec_id < 10)
        |       WHERE rn <= 2),
        |a AS (SELECT vec_id, list_id AS cluster FROM (
        |        SELECT vec_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d)
        |      WHERE rn = 1),
        |p AS (SELECT query_id, list_id FROM (
        |        SELECT d.vec_id AS query_id, d.list_id,
        |               row_number() OVER (PARTITION BY d.vec_id
        |                                  ORDER BY d.dt DESC, d.list_id DESC) AS rn
        |        FROM d
        |        JOIN cmap m ON m.list_id = d.list_id
        |        JOIN qg ON qg.vec_id = d.vec_id AND qg.group_id = m.group_id
        |        WHERE d.vec_id < 10)
        |      WHERE rn <= 4),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |cand AS (SELECT p.query_id, a.vec_id
        |         FROM a JOIN p ON a.cluster = p.list_id
        |         WHERE a.vec_id <> p.query_id),
        |s AS (SELECT cand.query_id, cand.vec_id,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM cand JOIN n ON n.vec_id = cand.vec_id
        |      JOIN q ON q.query_id = cand.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cosine DESC, vec_id) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // sim_ivf_external_topk: the sim_ivf_topk replay with the query set
    // swapped to the held-out id subset the Spark side passes as an
    // external query table — the artifact and all serving math unchanged
    "sim_ivf_external_topk" ->
      s"""WITH c AS (SELECT list_id, centroid
        |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, "ivf_centroids_" + sf)}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS (SELECT vec_id, v, nrm, [x / nrm for x in v] AS nv FROM n),
        |d AS (SELECT nn.vec_id, c.list_id,
        |             list_reduce([nn.nv[i] * c.centroid[i]
        |                          for i in range(1, 1 + len(nn.nv))],
        |                         (x, y) -> x + y) AS dt
        |      FROM nn CROSS JOIN c),
        |a AS (SELECT vec_id, list_id AS cluster FROM (
        |        SELECT vec_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d)
        |      WHERE rn = 1),
        |p AS (SELECT query_id, list_id FROM (
        |        SELECT vec_id AS query_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d WHERE vec_id % 97 = 1)
        |      WHERE rn <= 4),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 97 = 1),
        |cand AS (SELECT p.query_id, a.vec_id
        |         FROM a JOIN p ON a.cluster = p.list_id
        |         WHERE a.vec_id <> p.query_id),
        |s AS (SELECT cand.query_id, cand.vec_id,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM cand JOIN n ON n.vec_id = cand.vec_id
        |      JOIN q ON q.query_id = cand.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cosine DESC, vec_id) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // sim_hamming_topk: sign codes re-derived in SQL (same strict > 0
    // sign test, bits 0..62 OR-folded into one BIGINT), Hamming =
    // bit_count(xor), rank (hamming asc, vec_id asc) — a deterministic
    // function of the codes, replayed exactly
    "sim_hamming_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS (SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
        |codes AS (SELECT vec_id,
        |            list_reduce(list_prepend(0::BIGINT,
        |              [CASE WHEN nv[t + 1] > 0 THEN (1::BIGINT << t)
        |                    ELSE 0::BIGINT END
        |               for t in range(0, 63)]), (a, x) -> a | x) AS code
        |          FROM nn),
        |q AS (SELECT vec_id AS query_id, code AS qcode FROM codes
        |      WHERE vec_id < 10),
        |s AS (SELECT q.query_id, c.vec_id,
        |             CAST(bit_count(xor(c.code, q.qcode)) AS INTEGER) AS hamming
        |      FROM codes c JOIN q ON c.vec_id <> q.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, hamming FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY hamming, vec_id) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // sql_graft_ivf_search: the SQL-surface query-by-example view — the
    // sim_ivf_external_topk replay against the sqlivf published artifact
    // (the one graft_ivf_topk serves from) with the caller's held-out
    // query subset (vec_id % 89 = 2)
    "sql_graft_ivf_search" ->
      s"""WITH c AS (SELECT list_id, centroid
        |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, "sqlivf_" + sf)}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS (SELECT vec_id, v, nrm, [x / nrm for x in v] AS nv FROM n),
        |d AS (SELECT nn.vec_id, c.list_id,
        |             list_reduce([nn.nv[i] * c.centroid[i]
        |                          for i in range(1, 1 + len(nn.nv))],
        |                         (x, y) -> x + y) AS dt
        |      FROM nn CROSS JOIN c),
        |a AS (SELECT vec_id, list_id AS cluster FROM (
        |        SELECT vec_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d)
        |      WHERE rn = 1),
        |p AS (SELECT query_id, list_id FROM (
        |        SELECT vec_id AS query_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d WHERE vec_id % 89 = 2)
        |      WHERE rn <= 4),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 89 = 2),
        |cand AS (SELECT p.query_id, a.vec_id
        |         FROM a JOIN p ON a.cluster = p.list_id
        |         WHERE a.vec_id <> p.query_id),
        |s AS (SELECT cand.query_id, cand.vec_id,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM cand JOIN n ON n.vec_id = cand.vec_id
        |      JOIN q ON q.query_id = cand.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cosine DESC, vec_id) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // sim_pq_topk: same training/serving split as sim_ivf_topk — the
    // Spark query publishes its trained PQ codebooks (s, j, centroid) and
    // the oracle replays serving: code assignment per subspace
    // (argmax x·c − ‖c‖²/2; ties → larger code, mirroring array_max),
    // per-query ADC lookup tables, the m-term ADC sum folded in subspace
    // order (list(... ORDER BY s) = Spark's reduce over s), approx
    // shortlist of 50, exact-cosine rerank.
    "sim_pq_topk" ->
      s"""WITH b AS (SELECT s, j, centroid,
        |                  list_reduce([x * x for x in centroid],
        |                              (x, y) -> x + y) / 2 AS bias
        |           FROM read_parquet('${Similarity.pqCodebooksPath(ArtifactWarehouse, "pq_codebooks_" + sf)}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS (SELECT vec_id, v, nrm, [x / nrm for x in v] AS nv FROM n),
        |sd AS (SELECT nn.vec_id, b.s, b.j, b.bias,
        |              list_reduce([nn.nv[b.s * 8 + i] * b.centroid[i]
        |                           for i in range(1, 9)],
        |                          (x, y) -> x + y) AS dt
        |       FROM nn CROSS JOIN b),
        |codes AS (SELECT vec_id, s, j AS code FROM (
        |            SELECT vec_id, s, j,
        |                   row_number() OVER (PARTITION BY vec_id, s
        |                                      ORDER BY dt - bias DESC, j DESC) AS rn
        |            FROM sd)
        |          WHERE rn = 1),
        |qt AS (SELECT vec_id AS query_id, s, j, dt FROM sd WHERE vec_id < 10),
        |appr AS (SELECT qt.query_id, codes.vec_id,
        |                list_reduce(list(qt.dt ORDER BY qt.s), (x, y) -> x + y) AS approx
        |         FROM codes JOIN qt ON qt.s = codes.s AND qt.j = codes.code
        |         WHERE codes.vec_id <> qt.query_id
        |         GROUP BY qt.query_id, codes.vec_id),
        |short AS (SELECT query_id, vec_id FROM (
        |            SELECT query_id, vec_id,
        |                   row_number() OVER (PARTITION BY query_id
        |                                      ORDER BY approx DESC, vec_id) AS rn
        |            FROM appr)
        |          WHERE rn <= 50),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |sc AS (SELECT short.query_id, short.vec_id,
        |              list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                          (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |       FROM short JOIN n ON n.vec_id = short.vec_id
        |       JOIN q ON q.query_id = short.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cosine DESC, vec_id) AS rank
        |  FROM sc)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // sim_ivfpq_topk: both published artifacts — centroids for the IVF
    // prune (assignment ties → larger list_id via array_max; probe-list
    // ties → SMALLER list_id: the driver-side stable sortBy keeps
    // ascending index order on equal dots) and codebooks for the ADC
    // scan; candidates = probed clusters only, then ADC shortlist and
    // exact rerank exactly as sim_pq_topk.
    "sim_ivfpq_topk" ->
      s"""WITH c AS (SELECT list_id, centroid
        |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, "ivfpq_" + sf + "_centroids")}/*.parquet')),
        |b AS (SELECT s, j, centroid,
        |             list_reduce([x * x for x in centroid],
        |                         (x, y) -> x + y) / 2 AS bias
        |      FROM read_parquet('${Similarity.pqCodebooksPath(ArtifactWarehouse, "ivfpq_" + sf + "_codebooks")}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS (SELECT vec_id, v, nrm, [x / nrm for x in v] AS nv FROM n),
        |cd AS (SELECT nn.vec_id, c.list_id,
        |              list_reduce([nn.nv[i] * c.centroid[i]
        |                           for i in range(1, 1 + len(nn.nv))],
        |                          (x, y) -> x + y) AS dt
        |       FROM nn CROSS JOIN c),
        |a AS (SELECT vec_id, list_id AS cluster FROM (
        |        SELECT vec_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM cd)
        |      WHERE rn = 1),
        |p AS (SELECT query_id, list_id FROM (
        |        SELECT vec_id AS query_id, list_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id ASC) AS rn
        |        FROM cd WHERE vec_id < 10)
        |      WHERE rn <= 4),
        |sd AS (SELECT nn.vec_id, b.s, b.j, b.bias,
        |              list_reduce([nn.nv[b.s * 8 + i] * b.centroid[i]
        |                           for i in range(1, 9)],
        |                          (x, y) -> x + y) AS dt
        |       FROM nn CROSS JOIN b),
        |codes AS (SELECT vec_id, s, j AS code FROM (
        |            SELECT vec_id, s, j,
        |                   row_number() OVER (PARTITION BY vec_id, s
        |                                      ORDER BY dt - bias DESC, j DESC) AS rn
        |            FROM sd)
        |          WHERE rn = 1),
        |qt AS (SELECT vec_id AS query_id, s, j, dt FROM sd WHERE vec_id < 10),
        |appr AS (SELECT qt.query_id, codes.vec_id,
        |                list_reduce(list(qt.dt ORDER BY qt.s), (x, y) -> x + y) AS approx
        |         FROM codes
        |         JOIN a ON a.vec_id = codes.vec_id
        |         JOIN p ON p.list_id = a.cluster
        |         JOIN qt ON qt.query_id = p.query_id
        |                AND qt.s = codes.s AND qt.j = codes.code
        |         WHERE codes.vec_id <> p.query_id
        |         GROUP BY qt.query_id, codes.vec_id),
        |short AS (SELECT query_id, vec_id FROM (
        |            SELECT query_id, vec_id,
        |                   row_number() OVER (PARTITION BY query_id
        |                                      ORDER BY approx DESC, vec_id) AS rn
        |            FROM appr)
        |          WHERE rn <= 50),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |sc AS (SELECT short.query_id, short.vec_id,
        |              list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                          (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |       FROM short JOIN n ON n.vec_id = short.vec_id
        |       JOIN q ON q.query_id = short.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cosine DESC, vec_id) AS rank
        |  FROM sc)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "sim_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax FROM e),
        |s AS (SELECT *, (vmax - vmin) / 255.0 AS scale FROM m),
        |q AS (SELECT vec_id, v, vmin, vmax, scale,
        |             [CASE WHEN scale = 0 THEN 0
        |                   ELSE CAST(floor((x - vmin) / scale + 0.5) AS BIGINT) END
        |              for x in v] AS codes
        |      FROM s)
        |SELECT vec_id,
        |       array_to_string(codes, ',') AS codes,
        |       vmin, vmax,
        |       list_reduce([(v[i] - (vmin + codes[i] * scale)) *
        |                    (v[i] - (vmin + codes[i] * scale))
        |                    for i in range(1, 1 + len(v))],
        |                   (a, b) -> a + b) / len(v) AS mse
        |FROM q ORDER BY vec_id""".stripMargin,
    "sql_revenue_by_status" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "sql_graft_dot" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       list_reduce([a.v[i] * b.v[i] for i in range(1, 1 + len(a.v))],
        |                   (x, y) -> x + y) AS dot
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY vec_a, vec_b""".stripMargin,
    "agg_salted_user_counts" ->
      """SELECT user_id, count(*) AS n_events,
        |       floor(sum(value) * 100 + 0.5) / 100 AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the salt must be invisible: the oracle is the PLAIN join + rollup
    "join_salted_event_orders" ->
      """WITH dim AS (SELECT o_custkey AS user_id, count(*) AS ord_cnt
        |             FROM orders GROUP BY 1)
        |SELECT e.user_id, e.event_type,
        |       count(*) AS n_events,
        |       CAST(sum(d.ord_cnt) AS BIGINT) AS ord_weight
        |FROM events e JOIN dim d USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY user_id, event_type""".stripMargin,
    // the banding is a physical rewrite — the oracle is the PLAIN range join
    "join_range_click_context" ->
      """WITH p AS (SELECT event_id, ts::TIMESTAMP AS pt FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT ts::TIMESTAMP AS ct FROM events WHERE event_type = 'click')
        |SELECT p.event_id,
        |       strftime(p.pt, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |       CAST(count(c.ct) AS BIGINT) AS n_clicks_prior_hour
        |FROM p LEFT JOIN c ON c.ct > p.pt - INTERVAL 1 HOUR AND c.ct <= p.pt
        |GROUP BY p.event_id, p.pt
        |ORDER BY p.event_id""".stripMargin,
    // the bucketing is a physical rewrite — the oracle is the PLAIN
    // overlap join
    "join_interval_overlap" ->
      """WITH spans AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |                      min(ts::TIMESTAMP) AS lo, max(ts::TIMESTAMP) AS hi
        |               FROM events GROUP BY 1, 2),
        |p AS (SELECT ts::TIMESTAMP AS pt FROM events WHERE event_type = 'purchase')
        |SELECT s.user_id, strftime(s.d, '%Y-%m-%d') AS day,
        |       CAST(count(p.pt) AS BIGINT) AS n_overlap_purchases
        |FROM spans s LEFT JOIN p ON p.pt >= s.lo AND p.pt <= s.hi
        |GROUP BY s.user_id, s.d
        |ORDER BY s.user_id, s.d""".stripMargin,
    // the Bloom pass is a physical reduction — the oracle is the PLAIN join
    "join_bloom_pruned_revenue" ->
      s"""SELECT l.l_linestatus,
         |       CAST(count(*) AS BIGINT) AS n_lines,
         |       ${graft.functions.OracleRound.duck("sum(l.l_extendedprice * (1.0 - l.l_discount))", 2)} AS revenue
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderpriority = '1-URGENT'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_percentile_sketch" ->
      s"""SELECT event_type,
         |       ${graft.functions.OracleRound.duck("quantile_cont(value, 0.5)", 4)} AS exact_p50,
         |       ${graft.functions.OracleRound.duck("quantile_cont(value, 0.9)", 4)} AS exact_p90,
         |       TRUE AS sketch_within_tol
         |FROM events
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    "fn_array" ->
      """SELECT vec_id,
        |       CAST(len(embedding) AS INTEGER) AS dim,
        |       CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive,
        |       CAST(len(list_distinct(embedding)) AS INTEGER) AS n_distinct,
        |       floor(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5) / 1000000 AS first_val,
        |       floor(CAST(list_max(embedding) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS max_val
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "fn_datetime" ->
      """SELECT o_orderkey,
        |       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
        |       CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INTEGER) AS age_days,
        |       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
        |       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        |       CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "cube_status_priority" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "fn_map" ->
      """SELECT event_id,
        |       CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
        |       array_to_string(list_sort(json_keys(props)::VARCHAR[]), ',') AS keys,
        |       CAST(props->>'k' AS INTEGER) AS k_val,
        |       json_extract(props, '$.missing') IS NOT NULL AS has_missing
        |FROM events ORDER BY event_id""".stripMargin,
    "fn_unpivot_metrics" ->
      s"""SELECT metric, count(*) AS n,
         |       ${graft.functions.OracleRound.duck("sum(value)", 2)} AS total
         |FROM (SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem)
         |  UNPIVOT (value FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))
         |GROUP BY metric
         |ORDER BY metric""".stripMargin,
    "fn_date_spine" ->
      """WITH spine AS (
        |  SELECT CAST(unnest(generate_series(DATE '1997-01-01', DATE '1997-03-31',
        |                                     INTERVAL 1 DAY)) AS DATE) AS day),
        |pd AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         count(*) AS n_orders, sum(o_totalprice) AS rev
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-04-01'
        |  GROUP BY CAST(o_orderdate AS DATE))
        |SELECT strftime(spine.day, '%Y-%m-%d') AS day,
        |       coalesce(pd.n_orders, 0) AS n_orders,
        |       floor((coalesce(pd.rev, 0.0)) * 100 + 0.5) / 100 AS revenue
        |FROM spine LEFT JOIN pd USING (day)
        |ORDER BY day""".stripMargin,
    "sim_norm_stats" ->
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT label,
        |             sqrt(list_reduce([y * y for y in v], (a, b) -> a + b)) AS nrm
        |      FROM e)
        |SELECT CAST(label AS INTEGER) AS label, count(*) AS n_vecs,
        |       floor((avg(nrm)) * 10000 + 0.5) / 10000 AS avg_norm,
        |       floor((min(nrm)) * 10000 + 0.5) / 10000 AS min_norm,
        |       floor((max(nrm)) * 10000 + 0.5) / 10000 AS max_norm
        |FROM n GROUP BY label
        |ORDER BY label""".stripMargin,
    // container framing overhead replayed from the encoder's public
    // layout: PNG sig+IHDR+IDAT+IEND = 57, JPEG SOI+SOF0+SOS+EOI = 37,
    // WAV 44-byte RIFF header, raw video = 0
    "multimodal_media_stats" ->
      """SELECT source,
        |       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |       count(*) AS n_docs,
        |       CAST(sum(strlen(text) +
        |                CASE WHEN doc_id % 6 = 0 THEN 57
        |                     WHEN doc_id % 6 = 3 THEN 37
        |                     WHEN doc_id % 3 = 1 THEN 44
        |                     ELSE 0 END) AS BIGINT) AS total_bytes,
        |       CAST(max(strlen(text) +
        |                CASE WHEN doc_id % 6 = 0 THEN 57
        |                     WHEN doc_id % 6 = 3 THEN 37
        |                     WHEN doc_id % 3 = 1 THEN 44
        |                     ELSE 0 END) AS BIGINT) AS max_bytes
        |FROM documents
        |GROUP BY source, media_type
        |ORDER BY source, media_type""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n,
        |       floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
        |       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, returnflag, linestatus""".stripMargin,
    "fn_string" ->
      """SELECT c_custkey,
        |       reverse(c_name) AS rev_name,
        |       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
        |       CASE WHEN contains(c_name, '#')
        |            THEN regexp_extract(c_name, '#([^#]*)$', 1)
        |            ELSE c_name END AS name_num,
        |       CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos,
        |       substr(c_name, 1, 8) AS prefix8,
        |       substr(c_name, length(c_name) - 2, 3) AS suffix3,
        |       CAST(levenshtein(c_mktsegment, 'BUILDING') AS INTEGER) AS seg_dist,
        |       concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "set_intersect_hours" ->
      """SELECT DISTINCT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS hour
        |FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT DISTINCT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S')
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY hour""".stripMargin,
    "pivot_event_types" ->
      """SELECT user_id,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_order_stats" ->
      """SELECT o_orderstatus,
        |       floor(quantile_cont(o_totalprice, 0.5) * 100 + 0.5) / 100 AS median_price,
        |       floor(stddev_samp(o_totalprice) * 100 + 0.5) / 100 AS sd,
        |       floor(corr(o_totalprice, o_custkey) * 10000 + 0.5) / 10000 AS c
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "join_asof_latest_order" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, o.o_orderkey AS matched_orderkey
        |FROM events e
        |ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts::TIMESTAMP >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    // nearest as-of: DuckDB's native ASOF run once per direction
    // (backward inclusive, forward strict — matching the Spark union's
    // (t, side) sort), joined on event and arbitrated by the same
    // second-granularity gap comparison
    "join_asof_nearest_order" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, min(o_orderkey) AS ok
        |           FROM orders GROUP BY o_custkey, o_orderdate),
        |b AS (SELECT e.event_id, e.user_id, e.ts, o.ok AS bok, o.o_orderdate AS bot
        |      FROM events e ASOF LEFT JOIN o
        |        ON e.user_id = o.o_custkey AND e.ts::TIMESTAMP >= o.o_orderdate),
        |f AS (SELECT e.event_id, o.ok AS fok, o.o_orderdate AS fot
        |      FROM events e ASOF LEFT JOIN o
        |        ON e.user_id = o.o_custkey AND e.ts::TIMESTAMP < o.o_orderdate),
        |j AS (SELECT b.event_id, b.user_id,
        |             bok, fok,
        |             date_diff('second', bot, b.ts::TIMESTAMP) AS gp,
        |             date_diff('second', b.ts::TIMESTAMP, fot) AS gn
        |      FROM b JOIN f ON f.event_id = b.event_id)
        |SELECT event_id, user_id,
        |       CASE WHEN bok IS NULL AND fok IS NULL THEN NULL
        |            WHEN fok IS NULL THEN bok
        |            WHEN bok IS NULL THEN fok
        |            WHEN gp <= gn THEN bok ELSE fok END AS nearest_orderkey,
        |       CASE WHEN bok IS NULL AND fok IS NULL THEN NULL
        |            WHEN fok IS NULL THEN 'backward'
        |            WHEN bok IS NULL THEN 'forward'
        |            WHEN gp <= gn THEN 'backward' ELSE 'forward' END AS direction,
        |       CASE WHEN bok IS NULL AND fok IS NULL THEN NULL
        |            WHEN fok IS NULL THEN gp
        |            WHEN bok IS NULL THEN gn
        |            WHEN gp <= gn THEN gp ELSE gn END AS gap_seconds
        |FROM j
        |ORDER BY event_id""".stripMargin,
    "pipeline_stratified_sample" ->
      """WITH r AS (SELECT doc_id, lang,
        |                  CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
        |                            WHEN 'es' THEN 1.0 WHEN 'fr' THEN 1.0
        |                            WHEN 'zh' THEN 1.0 ELSE 0.0 END AS p
        |           FROM documents)
        |SELECT doc_id, lang FROM r
        |WHERE p >= 1.0
        |   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |      lower(lpad(hex(CAST(floor(p * 4294967296.0) AS BIGINT)), 8, '0'))
        |ORDER BY doc_id""".stripMargin,
    // HLL sketch VALUES are engine-specific, so the raw approximation is
    // not oracle-comparable — instead the exact count hash-matches and the
    // ≤3×rsd (15%) contract rides a boolean the oracle pins to TRUE (a
    // sketch drifting out of tolerance flips it and fails the hash compare)
    "approx_distinct_users" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       TRUE AS approx_within_tol
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "session_windows" ->
      """WITH o AS (SELECT user_id, ts::TIMESTAMP AS t FROM events),
        |m AS (SELECT user_id, t,
        |             CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |                    OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= INTERVAL 30 MINUTE
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM o),
        |g AS (SELECT user_id, t,
        |             sum(new_s) OVER (PARTITION BY user_id ORDER BY t
        |                              ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m)
        |SELECT user_id,
        |       strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // the Spark side round-trips these values through REAL container
    // header parsing (PNG IHDR big-endian u32s, JPEG SOF0 u16s, WAV fmt
    // little-endian); the oracle replays the ENCODER's deterministic
    // parameter choices — same published-artifact pattern as the ANN
    // centroid oracles. checksum covers the payload SECTION (PNG IDAT /
    // JPEG entropy segment / WAV data chunk) = the text bytes.
    "multimodal_decode" ->
      """SELECT doc_id,
        |       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |       CAST(strlen(text) + CASE WHEN doc_id % 6 = 0 THEN 57
        |                                WHEN doc_id % 6 = 3 THEN 37
        |                                WHEN doc_id % 3 = 1 THEN 44
        |                                ELSE 0 END AS INTEGER) AS size_bytes,
        |       list_reduce([CAST(ascii(text[i]) AS BIGINT) for i in range(1, CAST(strlen(text) AS INTEGER) + 1)],
        |                   (acc, b) -> (acc * 31 + b) % 1000000007) AS checksum,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN strlen(text) % 251 + 1 ELSE 0 END AS INTEGER) AS width,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN (strlen(text) * 7 + 13) % 251 + 1 ELSE 0 END AS INTEGER) AS height,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN 3
        |                 WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2
        |                 ELSE 0 END AS INTEGER) AS channels,
        |       CAST(CASE WHEN doc_id % 3 = 1 THEN strlen(text) // ((1 + doc_id % 2) * 2)
        |                 WHEN doc_id % 3 = 2 THEN strlen(text) // 100 + 1
        |                 ELSE 1 END AS INTEGER) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_resize" ->
      """WITH f AS (SELECT doc_id,
        |       CAST(strlen(text) + CASE WHEN doc_id % 6 = 0 THEN 57
        |                                ELSE 37 END AS INTEGER) AS size_bytes,
        |       CAST(strlen(text) % 251 + 1 AS INTEGER) AS in_w,
        |       CAST((strlen(text) * 7 + 13) % 251 + 1 AS INTEGER) AS in_h
        |FROM documents WHERE doc_id % 3 = 0),
        |r AS (SELECT *,
        |       floor(CAST(greatest(in_h, 1) AS DOUBLE) * 64 / CAST(greatest(in_w, 1) AS DOUBLE)) AS fith
        |FROM f)
        |SELECT doc_id, size_bytes, in_w, in_h,
        |       CAST(CASE WHEN in_w <= 64 AND in_h <= 64 THEN in_w
        |            WHEN fith <= 64 THEN 64
        |            ELSE CAST(floor(CAST(greatest(in_w, 1) AS DOUBLE) * 64 / CAST(greatest(in_h, 1) AS DOUBLE)) AS INTEGER) END AS INTEGER) AS out_w,
        |       CAST(CASE WHEN in_w <= 64 AND in_h <= 64 THEN in_h
        |            WHEN fith <= 64 THEN CAST(fith AS INTEGER)
        |            ELSE 64 END AS INTEGER) AS out_h,
        |       CAST(floor(CAST(size_bytes AS DOUBLE) *
        |                  CAST(out_w * out_h AS DOUBLE) /
        |                  greatest(CAST(in_w * in_h AS DOUBLE), 1.0)) AS BIGINT) AS out_bytes
        |FROM r ORDER BY doc_id""".stripMargin,
    // the Spark side decodes ACTUAL PNG pixels (zlib inflate + scanline
    // unfilter) and computes the dHash from the luma grid; the oracle
    // replays the pixel GENERATOR's deterministic block formula — gray =
    // first md5 byte of "seed_bx_by" mod 200 (strpos hex parsing, the
    // simhashSql pattern), +40 on the one perturbed block — so any
    // decode/grid/packing slip hash-mismatches.
    // 56 bits (7 rows × 8 comparisons) keep every sum inside BIGINT.
    "multimodal_phash" ->
      """WITH img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS p
        |             FROM documents WHERE doc_id % 3 = 0),
        |bits AS (SELECT i.doc_id,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
        |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
        |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
        |  FROM img i, generate_series(0, 6) r(v), generate_series(0, 7) c(v))
        |SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // IDENTICAL formula to multimodal_phash: the mixed corpus renders
    // the same grid per doc (PNG at 4-px blocks, lossless baseline
    // JPEG at 8-px blocks), so only the Spark-side decode path differs
    "multimodal_phash_mixed" ->
      """WITH img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS p
        |             FROM documents WHERE doc_id % 3 = 0),
        |bits AS (SELECT i.doc_id,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
        |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
        |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
        |  FROM img i, generate_series(0, 6) r(v), generate_series(0, 7) c(v))
        |SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same banding scheme as the Spark side (7×8-bit bands, complete for
    // hamming <= 6 by pigeonhole), pair set refined by bit_count(xor)
    "multimodal_image_neardup" ->
      """WITH img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS p
        |             FROM documents WHERE doc_id % 3 = 0),
        |bits AS (SELECT i.doc_id,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
        |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
        |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
        |  FROM img i, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
        |  FROM bits GROUP BY doc_id),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, phash, b.v AS band, (phash >> (b.v*8)) & 255 AS bh
        |  FROM ph, generate_series(0, 6) b(v)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                x.phash AS pa, y.phash AS pb
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.bh = y.bh
        |          AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(pa, pb)) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin,
    // serving: query hashes replayed from the literal (seed, p) rows,
    // store hashes from the generator formula, exact top-5 per query
    "multimodal_phash_search" ->
      """WITH img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS p
        |             FROM documents WHERE doc_id % 3 = 0),
        |q(doc_id, seed, p) AS (
        |  VALUES (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(5 AS BIGINT)),
        |         (1, 17, 6), (2, 29, 5)),
        |allp AS (SELECT 's' AS side, doc_id, seed, p FROM img
        |         UNION ALL SELECT 'q', doc_id, seed, p FROM q),
        |bits AS (SELECT a.side, a.doc_id,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
        |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
        |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
        |  FROM allp a, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
        |ph AS MATERIALIZED (
        |  SELECT side, doc_id, CAST(sum(bit) AS BIGINT) AS phash
        |  FROM bits GROUP BY side, doc_id),
        |scored AS (SELECT qs.doc_id AS query_id, st.doc_id,
        |                  CAST(bit_count(xor(qs.phash, st.phash)) AS INTEGER) AS hamming
        |           FROM (SELECT * FROM ph WHERE side = 'q') qs
        |           CROSS JOIN (SELECT * FROM ph WHERE side = 's') st)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, hamming
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY hamming, doc_id) AS rank
        |      FROM scored)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // the WAV data chunk IS the text bytes (attachMedia), so the oracle
    // re-derives the 16-bit LE signed samples from character codes and
    // replays the integer feature arithmetic; Spark round-trips through
    // the real container parse + PCM decode
    "multimodal_audio_features" ->
      """WITH a AS (SELECT doc_id, text, CAST(strlen(text) // 2 AS BIGINT) AS n
        |           FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT doc_id, unnest(range(0, n)) AS i, text FROM a),
        |v AS (SELECT doc_id, i,
        |             ascii(text[CAST(2*i+1 AS INTEGER)])
        |             + 256 * ascii(text[CAST(2*i+2 AS INTEGER)]) AS u
        |      FROM s),
        |sv AS (SELECT doc_id, i,
        |              CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x
        |       FROM v),
        |f AS (SELECT doc_id,
        |             count(*) AS n_samples,
        |             sum(abs(x)) AS sum_abs,
        |             max(abs(x)) AS peak_abs,
        |             sum(CASE WHEN prev IS NOT NULL
        |                       AND (x >= 0) != (prev >= 0)
        |                      THEN 1 ELSE 0 END) AS zero_crossings
        |      FROM (SELECT doc_id, x,
        |                   lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |            FROM sv)
        |      GROUP BY doc_id)
        |SELECT a.doc_id,
        |       CAST(coalesce(f.n_samples, 0) AS BIGINT) AS n_samples,
        |       CAST(coalesce(f.sum_abs, 0) AS BIGINT) AS sum_abs,
        |       CAST(coalesce(f.peak_abs, 0) AS BIGINT) AS peak_abs,
        |       CAST(coalesce(f.zero_crossings, 0) AS BIGINT) AS zero_crossings
        |FROM a LEFT JOIN f ON f.doc_id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin,
    // energy-envelope fingerprint replayed in SQL: balanced windows via
    // i*57 // n, cross-multiplied mean comparisons, same 7×8-bit bands
    "multimodal_audio_neardup" ->
      """WITH a AS (SELECT doc_id, text, CAST(strlen(text) // 2 AS BIGINT) AS n
        |           FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i, text FROM a),
        |sv AS (SELECT doc_id,
        |              CAST(i * 57 // n AS INTEGER) AS w,
        |              CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x
        |       FROM (SELECT doc_id, n, i,
        |                    ascii(text[CAST(2*i+1 AS INTEGER)])
        |                    + 256 * ascii(text[CAST(2*i+2 AS INTEGER)]) AS u
        |             FROM s)),
        |g AS (SELECT doc_id, w, CAST(sum(abs(x)) AS BIGINT) AS sm,
        |             CAST(count(*) AS BIGINT) AS c
        |      FROM sv GROUP BY doc_id, w),
        |bits AS (SELECT a.doc_id,
        |                CASE WHEN coalesce(g2.sm, 0) * coalesce(g1.c, 0)
        |                        > coalesce(g1.sm, 0) * coalesce(g2.c, 0)
        |                     THEN 1::BIGINT << wq.v ELSE 0::BIGINT END AS bit
        |         FROM a CROSS JOIN generate_series(0, 55) wq(v)
        |         LEFT JOIN g g1 ON g1.doc_id = a.doc_id AND g1.w = wq.v
        |         LEFT JOIN g g2 ON g2.doc_id = a.doc_id AND g2.w = wq.v + 1),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS afp
        |  FROM bits GROUP BY doc_id),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, afp, b.v AS band, (afp >> (b.v*8)) & 255 AS bh
        |  FROM ph, generate_series(0, 6) b(v)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                x.afp AS pa, y.afp AS pb
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.bh = y.bh
        |          AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(pa, pb)) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin,
    // connected components over the same pair graph via a recursive
    // transitive closure (the embedding-clusters oracle pattern) — min
    // reachable doc_id is the label, singletons label themselves
    "multimodal_image_clusters" ->
      """WITH RECURSIVE
        |img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS p
        |        FROM documents WHERE doc_id % 3 = 0),
        |bits AS (SELECT i.doc_id,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
        |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
        |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
        |  FROM img i, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
        |  FROM bits GROUP BY doc_id),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, phash, b.v AS band, (phash >> (b.v*8)) & 255 AS bh
        |  FROM ph, generate_series(0, 6) b(v)),
        |pr AS MATERIALIZED (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.phash, y.phash)) <= 6),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
        |          UNION ALL SELECT doc_b, doc_a FROM pr),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e2.u, r.v FROM edges e2 JOIN reach r ON e2.v = r.u)
        |SELECT i.doc_id, coalesce(min(r.v), i.doc_id) AS cluster_id
        |FROM img i LEFT JOIN reach r ON r.u = i.doc_id
        |GROUP BY i.doc_id
        |ORDER BY i.doc_id""".stripMargin,
    // per-frame generator replayed in SQL: video u = doc_id//3 renders
    // frames f=0..3 as (seed, p) = (u % 24, ((u//24) % 7 + f) % 7) with
    // the SAME md5 block formula as the stills; Spark genuinely splits
    // the concatenated-PNG container and pixel-decodes every frame
    "multimodal_video_frames" ->
      """WITH vid AS (SELECT doc_id, (doc_id // 3) % 24 AS seed,
        |                    ((doc_id // 3) // 24) % 7 AS off
        |             FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT doc_id, seed, f.v AS frame_idx, (off + f.v) % 7 AS p
        |       FROM vid, generate_series(0, 3) f(v)),
        |bits AS (SELECT fr.doc_id, fr.frame_idx,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
        |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
        |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
        |  FROM fr, generate_series(0, 6) r(v), generate_series(0, 7) c(v))
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |       CAST(36 AS INTEGER) AS width, CAST(28 AS INTEGER) AS height,
        |       CAST(sum(bit) AS BIGINT) AS fhash
        |FROM bits GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // frame-hash overlap replayed: distinct (video, fhash), df cut at
    // 1024, exact-hash self-join, pairs with >= 2 shared frames
    "multimodal_video_neardup" ->
      """WITH vid AS (SELECT doc_id, (doc_id // 3) % 24 AS seed,
        |                    ((doc_id // 3) // 24) % 7 AS off
        |             FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT doc_id, seed, f.v AS frame_idx, (off + f.v) % 7 AS p
        |       FROM vid, generate_series(0, 3) f(v)),
        |bits AS (SELECT fr.doc_id, fr.frame_idx,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
        |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
        |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
        |  FROM fr, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, frame_idx, CAST(sum(bit) AS BIGINT) AS fhash
        |  FROM bits GROUP BY doc_id, frame_idx),
        |fh AS MATERIALIZED (SELECT DISTINCT doc_id, fhash FROM ph),
        |keep AS (SELECT fhash FROM fh GROUP BY fhash HAVING count(*) <= 1024),
        |fhk AS MATERIALIZED (
        |  SELECT fh.doc_id, fh.fhash FROM fh JOIN keep USING (fhash))
        |SELECT doc_a, doc_b, CAST(n AS BIGINT) AS shared_frames
        |FROM (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n
        |      FROM fhk x JOIN fhk y
        |        ON x.fhash = y.fhash AND x.doc_id < y.doc_id
        |      GROUP BY 1, 2)
        |WHERE n >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the scene-container generator replayed per frame (frames 0-2 =
    // (seedA, f), 3-5 = (seedB, f-3), seedB offset 1 + u % 23 on the
    // 24-ring) + lag/xor/bit_count and the running boundary count
    "multimodal_video_scenes" ->
      """WITH vid AS (SELECT doc_id,
        |                    (doc_id // 3) % 24 AS sa,
        |                    ((doc_id // 3) % 24 + 1 + (doc_id // 3) % 23) % 24 AS sb
        |             FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT doc_id, f.v AS frame_idx,
        |              CASE WHEN f.v < 3 THEN sa ELSE sb END AS seed,
        |              f.v % 3 AS p
        |       FROM vid, generate_series(0, 5) f(v)),
        |bits AS (SELECT fr.doc_id, fr.frame_idx,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
        |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
        |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
        |  FROM fr, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
        |ph AS (SELECT doc_id, frame_idx, CAST(sum(bit) AS BIGINT) AS fhash
        |       FROM bits GROUP BY doc_id, frame_idx),
        |lg AS (SELECT doc_id, frame_idx, fhash,
        |              lag(fhash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        |       FROM ph)
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |       CAST(bit_count(xor(fhash, prev)) AS INTEGER) AS hamming_prev,
        |       coalesce(bit_count(xor(fhash, prev)) > 8, FALSE) AS is_boundary,
        |       CAST(sum(CASE WHEN coalesce(bit_count(xor(fhash, prev)) > 8, FALSE)
        |                     THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY frame_idx) AS BIGINT) AS scene_id
        |FROM lg
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // the segmented-audio generator replayed (quiet ranges + closed-form
    // amplitudes as integer formulas of doc_id and sample index), the
    // cross-multiplied quiet cut, and gaps-and-islands run merging
    "multimodal_audio_segments" ->
      """WITH a AS (SELECT doc_id, doc_id // 3 AS u
        |           FROM documents WHERE doc_id % 3 = 1),
        |sv AS (SELECT doc_id, u, i.v AS i, CAST(i.v // 10 AS INTEGER) AS w
        |       FROM a, generate_series(0, 569) i(v)),
        |amp AS (SELECT doc_id, w,
        |          CASE WHEN ((u % 5) > 0 AND w >= (u % 20) AND w < (u % 20) + (u % 5))
        |                 OR (w >= 30 + (u % 15) AND w < 30 + (u % 15) + 2 + (u % 4))
        |               THEN 0::BIGINT
        |               ELSE abs((u * 7919 + i * 104729 + i * i * 31) % 4001 - 2000)
        |          END AS aa
        |        FROM sv),
        |g AS (SELECT doc_id, w, CAST(sum(aa) AS BIGINT) AS sm,
        |             CAST(count(*) AS BIGINT) AS c
        |      FROM amp GROUP BY doc_id, w),
        |tot AS (SELECT doc_id, CAST(sum(sm) AS BIGINT) AS smtot,
        |               CAST(sum(c) AS BIGINT) AS n
        |        FROM g GROUP BY doc_id),
        |q AS (SELECT g.doc_id, g.w,
        |             (g.sm * 4 * t.n < t.smtot * g.c) AS quiet
        |      FROM g JOIN tot t ON t.doc_id = g.doc_id),
        |r AS (SELECT doc_id, w, quiet,
        |             w - row_number() OVER (PARTITION BY doc_id, quiet
        |                                    ORDER BY w) AS grp
        |      FROM q),
        |seg AS (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS len
        |        FROM r WHERE quiet GROUP BY doc_id, grp)
        |SELECT a.doc_id,
        |       coalesce(CAST(sum(seg.len) AS BIGINT), 0) AS quiet_windows,
        |       CAST(count(seg.grp) AS BIGINT) AS quiet_segments,
        |       coalesce(CAST(max(seg.len) AS BIGINT), 0) AS longest_quiet_run
        |FROM a LEFT JOIN seg ON seg.doc_id = a.doc_id
        |GROUP BY a.doc_id
        |ORDER BY a.doc_id""".stripMargin,
    // the scenes chain grouped to one keyframe per (video, scene)
    "multimodal_scene_keyframes" ->
      """WITH vid AS (SELECT doc_id,
        |                    (doc_id // 3) % 24 AS sa,
        |                    ((doc_id // 3) % 24 + 1 + (doc_id // 3) % 23) % 24 AS sb
        |             FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT doc_id, f.v AS frame_idx,
        |              CASE WHEN f.v < 3 THEN sa ELSE sb END AS seed,
        |              f.v % 3 AS p
        |       FROM vid, generate_series(0, 5) f(v)),
        |bits AS (SELECT fr.doc_id, fr.frame_idx,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
        |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
        |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
        |  FROM fr, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
        |ph AS (SELECT doc_id, frame_idx, CAST(sum(bit) AS BIGINT) AS fhash
        |       FROM bits GROUP BY doc_id, frame_idx),
        |lg AS (SELECT doc_id, frame_idx, fhash,
        |              lag(fhash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        |       FROM ph),
        |sc AS (SELECT doc_id, frame_idx,
        |              CAST(sum(CASE WHEN coalesce(bit_count(xor(fhash, prev)) > 8, FALSE)
        |                            THEN 1 ELSE 0 END)
        |                   OVER (PARTITION BY doc_id ORDER BY frame_idx) AS BIGINT) AS scene_id
        |       FROM lg)
        |SELECT doc_id, scene_id, CAST(min(frame_idx) AS INTEGER) AS keyframe_idx,
        |       CAST(count(*) AS BIGINT) AS scene_frames
        |FROM sc GROUP BY doc_id, scene_id
        |ORDER BY doc_id, scene_id""".stripMargin,
    // the audio fingerprint chain + the recursive transitive closure:
    // min reachable doc_id labels the cluster, singletons self-label
    "multimodal_audio_clusters" ->
      """WITH RECURSIVE
        |a AS (SELECT doc_id, text, CAST(strlen(text) // 2 AS BIGINT) AS n
        |      FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i, text FROM a),
        |sv AS (SELECT doc_id,
        |              CAST(i * 57 // n AS INTEGER) AS w,
        |              CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x
        |       FROM (SELECT doc_id, n, i,
        |                    ascii(text[CAST(2*i+1 AS INTEGER)])
        |                    + 256 * ascii(text[CAST(2*i+2 AS INTEGER)]) AS u
        |             FROM s)),
        |g AS (SELECT doc_id, w, CAST(sum(abs(x)) AS BIGINT) AS sm,
        |             CAST(count(*) AS BIGINT) AS c
        |      FROM sv GROUP BY doc_id, w),
        |bits AS (SELECT a.doc_id,
        |                CASE WHEN coalesce(g2.sm, 0) * coalesce(g1.c, 0)
        |                        > coalesce(g1.sm, 0) * coalesce(g2.c, 0)
        |                     THEN 1::BIGINT << wq.v ELSE 0::BIGINT END AS bit
        |         FROM a CROSS JOIN generate_series(0, 55) wq(v)
        |         LEFT JOIN g g1 ON g1.doc_id = a.doc_id AND g1.w = wq.v
        |         LEFT JOIN g g2 ON g2.doc_id = a.doc_id AND g2.w = wq.v + 1),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS afp
        |  FROM bits GROUP BY doc_id),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, afp, b.v AS band, (afp >> (b.v*8)) & 255 AS bh
        |  FROM ph, generate_series(0, 6) b(v)),
        |pr AS MATERIALIZED (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.afp, y.afp)) <= 6),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
        |          UNION ALL SELECT doc_b, doc_a FROM pr),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e2.u, r.v FROM edges e2 JOIN reach r ON e2.v = r.u)
        |SELECT a.doc_id, coalesce(min(r.v), a.doc_id) AS cluster_id
        |FROM a LEFT JOIN reach r ON r.u = a.doc_id
        |GROUP BY a.doc_id
        |ORDER BY a.doc_id""".stripMargin,
    // the video pair chain + the recursive transitive closure (the
    // image-clusters pattern): min reachable doc_id labels the cluster,
    // singleton videos label themselves
    "multimodal_video_clusters" ->
      """WITH RECURSIVE
        |vid AS (SELECT doc_id, (doc_id // 3) % 24 AS seed,
        |               ((doc_id // 3) // 24) % 7 AS off
        |        FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT doc_id, seed, f.v AS frame_idx, (off + f.v) % 7 AS p
        |       FROM vid, generate_series(0, 3) f(v)),
        |bits AS (SELECT fr.doc_id, fr.frame_idx,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
        |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
        |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
        |  FROM fr, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, frame_idx, CAST(sum(bit) AS BIGINT) AS fhash
        |  FROM bits GROUP BY doc_id, frame_idx),
        |fh AS MATERIALIZED (SELECT DISTINCT doc_id, fhash FROM ph),
        |keep AS (SELECT fhash FROM fh GROUP BY fhash HAVING count(*) <= 1024),
        |fhk AS MATERIALIZED (
        |  SELECT fh.doc_id, fh.fhash FROM fh JOIN keep USING (fhash)),
        |pr AS MATERIALIZED (
        |  SELECT doc_a, doc_b
        |  FROM (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n
        |        FROM fhk x JOIN fhk y
        |          ON x.fhash = y.fhash AND x.doc_id < y.doc_id
        |        GROUP BY 1, 2)
        |  WHERE n >= 2),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
        |          UNION ALL SELECT doc_b, doc_a FROM pr),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e2.u, r.v FROM edges e2 JOIN reach r ON e2.v = r.u)
        |SELECT vi.doc_id, coalesce(min(r.v), vi.doc_id) AS cluster_id
        |FROM vid vi LEFT JOIN reach r ON r.u = vi.doc_id
        |GROUP BY vi.doc_id
        |ORDER BY vi.doc_id""".stripMargin,
    // query-by-audio serving: the store fingerprints re-derived from
    // character codes (the audio_neardup chain) + the query PCM's
    // closed-form generator replayed digit-exact — 570 samples, so
    // every one of the 57 balanced windows holds exactly 10
    "multimodal_audio_search" ->
      """WITH a AS (SELECT doc_id, text, CAST(strlen(text) // 2 AS BIGINT) AS n
        |           FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i, text FROM a),
        |sv AS (SELECT doc_id,
        |              CAST(i * 57 // n AS INTEGER) AS w,
        |              CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x
        |       FROM (SELECT doc_id, n, i,
        |                    ascii(text[CAST(2*i+1 AS INTEGER)])
        |                    + 256 * ascii(text[CAST(2*i+2 AS INTEGER)]) AS u
        |             FROM s)),
        |g AS (SELECT doc_id, w, CAST(sum(abs(x)) AS BIGINT) AS sm,
        |             CAST(count(*) AS BIGINT) AS c
        |      FROM sv GROUP BY doc_id, w),
        |bits AS (SELECT a.doc_id,
        |                CASE WHEN coalesce(g2.sm, 0) * coalesce(g1.c, 0)
        |                        > coalesce(g1.sm, 0) * coalesce(g2.c, 0)
        |                     THEN 1::BIGINT << wq.v ELSE 0::BIGINT END AS bit
        |         FROM a CROSS JOIN generate_series(0, 55) wq(v)
        |         LEFT JOIN g g1 ON g1.doc_id = a.doc_id AND g1.w = wq.v
        |         LEFT JOIN g g2 ON g2.doc_id = a.doc_id AND g2.w = wq.v + 1),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS afp
        |  FROM bits GROUP BY doc_id),
        |q(query_id, seed) AS (
        |  VALUES (CAST(0 AS BIGINT), CAST(11 AS BIGINT)), (1, 23), (2, 42)),
        |qs AS (SELECT query_id,
        |              CAST(i.v * 57 // 570 AS INTEGER) AS w,
        |              abs(((seed * 7919 + i.v * 104729 + i.v * i.v * 31)
        |                   % 4001) - 2000) AS ax
        |       FROM q, generate_series(0, 569) i(v)),
        |qg AS (SELECT query_id, w, CAST(sum(ax) AS BIGINT) AS sm,
        |              CAST(count(*) AS BIGINT) AS c
        |       FROM qs GROUP BY query_id, w),
        |qbits AS (SELECT q.query_id,
        |                 CASE WHEN g2.sm * g1.c > g1.sm * g2.c
        |                      THEN 1::BIGINT << wq.v ELSE 0::BIGINT END AS bit
        |          FROM q CROSS JOIN generate_series(0, 55) wq(v)
        |          JOIN qg g1 ON g1.query_id = q.query_id AND g1.w = wq.v
        |          JOIN qg g2 ON g2.query_id = q.query_id AND g2.w = wq.v + 1),
        |qph AS (SELECT query_id, CAST(sum(bit) AS BIGINT) AS qfp
        |        FROM qbits GROUP BY query_id),
        |scored AS (SELECT qph.query_id, ph.doc_id,
        |                  CAST(bit_count(xor(qph.qfp, ph.afp)) AS INTEGER) AS hamming
        |           FROM qph CROSS JOIN ph)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, hamming
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY hamming, doc_id) AS rank
        |      FROM scored)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // query frames replayed through the same per-frame md5 formula as
    // the store; candidates = exact-hash join, rank by shared desc
    "multimodal_video_search" ->
      """WITH vid AS (SELECT doc_id, (doc_id // 3) % 24 AS seed,
        |                    ((doc_id // 3) // 24) % 7 AS off
        |             FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT 's' AS side, doc_id, seed, (off + f.v) % 7 AS p
        |       FROM vid, generate_series(0, 3) f(v)),
        |q(query_id, seed, o) AS (
        |  VALUES (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
        |         (1, 9, 5), (2, 17, 2)),
        |qfr AS (SELECT 'q' AS side, query_id AS doc_id, seed, (o + f.v) % 7 AS p
        |        FROM q, generate_series(0, 1) f(v)),
        |allfr AS (SELECT * FROM fr UNION ALL SELECT * FROM qfr),
        |bits AS (SELECT a.side, a.doc_id, a.p,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
        |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
        |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
        |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit
        |  FROM allfr a, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
        |ph AS MATERIALIZED (
        |  SELECT side, doc_id, CAST(sum(bit) AS BIGINT) AS fhash
        |  FROM bits GROUP BY side, doc_id, p),
        |fh AS (SELECT DISTINCT doc_id, fhash FROM ph WHERE side = 's'),
        |qfh AS (SELECT DISTINCT doc_id AS query_id, fhash FROM ph WHERE side = 'q'),
        |scored AS (SELECT qfh.query_id, fh.doc_id,
        |                  CAST(count(*) AS BIGINT) AS shared_frames
        |           FROM fh JOIN qfh USING (fhash)
        |           GROUP BY 1, 2)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, shared_frames
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY shared_frames DESC, doc_id) AS rank
        |      FROM scored)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "multimodal_frames" ->
      """SELECT doc_id,
        |       CAST(byte_offset // 100 AS INTEGER) AS frame_idx,
        |       CAST(byte_offset AS INTEGER) AS byte_offset,
        |       CAST(least(100, n - byte_offset) AS INTEGER) AS frame_bytes
        |FROM (
        |  SELECT doc_id, strlen(text) AS n,
        |         unnest(generate_series(0, CAST(strlen(text) AS BIGINT) - 1, 100)) AS byte_offset
        |  FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // bm25: literals are written as the same IEEE arithmetic the Spark
    // side runs (1.2 + 1.0 == 2.2 exactly in binary64, checked)
    "text_bm25" -> {
      val stop = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |c AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
         |d AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM f GROUP BY term),
         |q AS (SELECT term, df FROM d WHERE term NOT IN ($stop)
         |      ORDER BY cf DESC, term LIMIT 5),
         |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
         |st AS (SELECT count(*) AS n_docs, sum(len(toks)) / count(*) AS avgdl FROM t),
         |sc AS (SELECT q.term AS query_term, f.doc_id,
         |         floor((ln(1 + (st.n_docs - q.df + 0.5) / (q.df + 0.5)) *
         |                (f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))) * 10000 + 0.5) / 10000 AS score
         |       FROM f JOIN q ON f.term = q.term
         |       JOIN dl ON dl.doc_id = f.doc_id CROSS JOIN st)
         |SELECT query_term, CAST(rank AS INTEGER) AS rank, doc_id, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_term
         |                               ORDER BY score DESC, doc_id) AS rank FROM sc)
         |WHERE rank <= 10
         |ORDER BY query_term, rank""".stripMargin
    },
    // external BM25 serving: identical scoring plan, the probe is the
    // caller's literal term list instead of the corpus-derived top-cf set
    "text_bm25_external" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |c AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
         |d AS (SELECT term, count(*) AS df FROM f GROUP BY term),
         |q AS (SELECT d.term, d.df FROM d
         |      WHERE d.term IN ('vector', 'stream', 'window')),
         |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
         |st AS (SELECT count(*) AS n_docs, sum(len(toks)) / count(*) AS avgdl FROM t),
         |sc AS (SELECT q.term AS query_term, f.doc_id,
         |         floor((ln(1 + (st.n_docs - q.df + 0.5) / (q.df + 0.5)) *
         |                (f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))) * 10000 + 0.5) / 10000 AS score
         |       FROM f JOIN q ON f.term = q.term
         |       JOIN dl ON dl.doc_id = f.doc_id CROSS JOIN st)
         |SELECT query_term, CAST(rank AS INTEGER) AS rank, doc_id, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_term
         |                               ORDER BY score DESC, doc_id) AS rank FROM sc)
         |WHERE rank <= 10
         |ORDER BY query_term, rank""".stripMargin,
    "text_inverted_index" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |c AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
         |d AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
         |             list(doc_id || ':' || tf ORDER BY doc_id)[:20] AS head
         |      FROM f GROUP BY term)
         |SELECT term, df, cf, array_to_string(head, ',') AS postings
         |FROM d WHERE df >= 2
         |ORDER BY term""".stripMargin,
    // phrase search: the oracle scans grams directly — hash-equality with
    // the Spark positional-index join proves the two plans equivalent
    "text_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id,
         |             unnest([{'pos': i, 'gram': array_to_string(toks[i+1:i+3], ' ')}
         |                     for i in range(0, len(toks) - 2)], recursive := true)
         |      FROM t WHERE len(toks) >= 3),
         |top AS (SELECT gram AS phrase FROM g GROUP BY gram
         |        ORDER BY count(*) DESC, gram LIMIT 1)
         |SELECT doc_id, phrase, count(*) AS n_matches,
         |       CAST(min(pos) AS INTEGER) AS first_pos
         |FROM g JOIN top ON g.gram = top.phrase
         |GROUP BY doc_id, phrase
         |ORDER BY doc_id""".stripMargin,
    "dedup_substring_spans" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id,
         |             unnest([{'pos': i, 'gram': array_to_string(toks[i+1:i+8], ' ')}
         |                     for i in range(0, len(toks) - 7)], recursive := true)
         |      FROM t WHERE len(toks) >= 8),
         |dk AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
         |d AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dk)),
         |w AS (SELECT doc_id, pos,
         |             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
         |                  THEN 0 ELSE 1 END AS brk
         |      FROM d),
         |i AS (SELECT doc_id, pos,
         |             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |      FROM w)
         |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
         |       CAST(max(pos) + 7 AS INTEGER) AS span_end,
         |       CAST(max(pos) + 7 - min(pos) + 1 AS INTEGER) AS span_tokens
         |FROM i GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,
    // PCA serving replay: projections are sequential folds over the
    // published (component, mean, rot) table — list_reduce associates
    // exactly like the Spark aggregate fold, so values match bit-for-bit;
    // the norm derives from the ROUNDED components in both engines
    "sim_pca_project" -> {
      val pcols = (1 to 16).map { k =>
        s"""floor(list_reduce([(v[j] - pl.m[j]) * pl.rm[j][$k] for j in range(1, 65)],
           |                  (a, b) -> a + b) * 1000000 + 0.5) / 1000000 AS p${"%02d".format(k)}""".stripMargin
      }.mkString(",\n")
      val sumsq = (1 to 16).map(k => f"p$k%02d * p$k%02d").mkString(" + ")
      s"""WITH p AS (SELECT component, mean, rot
         |           FROM read_parquet('${Similarity.pcaPath(ArtifactWarehouse, "pca_" + sf)}/*.parquet')),
         |pl AS (SELECT list(mean ORDER BY component) AS m,
         |              list(rot ORDER BY component) AS rm FROM p),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |y AS (SELECT vec_id,
         |$pcols
         |      FROM e CROSS JOIN pl)
         |SELECT y.*, floor(sqrt($sumsq) * 1000000 + 0.5) / 1000000 AS proj_norm
         |FROM y
         |ORDER BY vec_id""".stripMargin
    },
    // whitening: the sim_pca_project projection chain scaled by the
    // published per-component 1/sqrt(variance) table, 6 dp
    "sim_whiten" -> {
      val pcols = (1 to 16).map { k =>
        s"""floor(list_reduce([(v[j] - pl.m[j]) * pl.rm[j][$k] for j in range(1, 65)],
           |                  (a, b) -> a + b) * 1000000 + 0.5) / 1000000 AS p${"%02d".format(k)}""".stripMargin
      }.mkString(",\n")
      val wcols = (1 to 16).map { k =>
        val kk = "%02d".format(k)
        s"floor(p$kk * sl.s[$k] * 1000000 + 0.5) / 1000000 AS w$kk"
      }.mkString(",\n       ")
      s"""WITH p AS (SELECT component, mean, rot
         |           FROM read_parquet('${Similarity.pcaPath(ArtifactWarehouse, "pca_" + sf)}/*.parquet')),
         |pl AS (SELECT list(mean ORDER BY component) AS m,
         |              list(rot ORDER BY component) AS rm FROM p),
         |sc AS (SELECT component, scale
         |       FROM read_parquet('${Similarity.whitenPath(ArtifactWarehouse, "whiten_" + sf)}/*.parquet')),
         |sl AS (SELECT list(scale ORDER BY component) AS s FROM sc),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |y AS (SELECT vec_id,
         |$pcols
         |      FROM e CROSS JOIN pl)
         |SELECT vec_id,
         |       $wcols
         |FROM y CROSS JOIN sl
         |ORDER BY vec_id""".stripMargin
    },
    // weighted sample: the same md5 52-bit uniform fold, ln-key, 9 dp
    // pre-rank rounding, and (key desc, doc_id) cut — bit-reproducible
    // classifier scoring: the published weight table replayed — dense
    // ×64-scaled unigram-bucket terms folded in dimension order (pure
    // IEEE arithmetic, no transcendental), prepended-0.0 init ≡ the
    // Spark fold's zero init
    "pipeline_quality_classifier" -> (clfScoreCtes(sf) +
      """
        |SELECT sc.doc_id, lp.label, sc.n_grams,
        |       floor(sc.z * 1000000 + 0.5) / 1000000 AS margin,
        |       (sc.z >= 0.0) AS predicted
        |FROM sc JOIN lp ON lp.doc_id = sc.doc_id
        |ORDER BY sc.doc_id""".stripMargin),
    // calibration: margin deciles via ntile over (margin, doc_id) —
    // DuckDB's ntile and GlobalOrder.withNtile share the closed-form
    // bucket arithmetic (the text_nll_buckets precedent)
    "pipeline_classifier_calibration" -> (clfScoreCtes(sf) +
      """,
        |sb AS (SELECT sc.doc_id, lp.label,
        |              floor(sc.z * 1000000 + 0.5) / 1000000 AS margin
        |       FROM sc JOIN lp ON lp.doc_id = sc.doc_id),
        |bn AS (SELECT *, ntile(10) OVER (ORDER BY margin, doc_id) AS bin
        |       FROM sb)
        |SELECT CAST(bin AS INTEGER) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(label) AS BIGINT) AS n_pos,
        |       floor((CAST(sum(label) AS DOUBLE) / count(*)) * 10000 + 0.5)
        |         / 10000 AS pos_rate,
        |       min(margin) AS margin_lo, max(margin) AS margin_hi
        |FROM bn
        |GROUP BY bin
        |ORDER BY bin""".stripMargin),
    // classifier eval: confusion counts + accuracy over the same chain
    "pipeline_classifier_eval" -> (clfScoreCtes(sf) +
      """
        |SELECT n_docs, tp, fp, tn, fn,
        |       floor((CAST(tp + tn AS DOUBLE) / n_docs) * 10000 + 0.5)
        |         / 10000 AS accuracy
        |FROM (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CASE WHEN sc.z >= 0.0 AND lp.label = 1
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |         CAST(sum(CASE WHEN sc.z >= 0.0 AND lp.label = 0
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |         CAST(sum(CASE WHEN sc.z < 0.0 AND lp.label = 0
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |         CAST(sum(CASE WHEN sc.z < 0.0 AND lp.label = 1
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM sc JOIN lp ON lp.doc_id = sc.doc_id)""".stripMargin),
    // DSIR weights: hashed-bigram buckets (52-bit md5 fold mod 64),
    // Laplace-smoothed grid ratios, per-doc bucket-ordered fold — the
    // list_reduce first-element init ≡ the Spark 0.0 init bitwise
    "pipeline_dsir_weights" -> (dsirWeightsCtes +
      """
        |SELECT doc_id, n_grams,
        |       floor(list_reduce(terms, (a, x) -> a + x)
        |             * 1000000 + 0.5) / 1000000 AS log_weight
        |FROM w
        |ORDER BY doc_id""".stripMargin),
    // DSIR sample: the same weights chain + deterministic Gumbel keys
    // g = −ln(−ln u), 9 dp, (key desc, doc_id) cut at 64
    "pipeline_dsir_sample" -> (dsirWeightsCtes +
      s"""
         |, lw AS (SELECT doc_id,
         |           floor(list_reduce(terms, (a, x) -> a + x)
         |                 * 1000000 + 0.5) / 1000000 AS log_weight
         |         FROM w),
         |uu AS (SELECT doc_id, log_weight,
         |         CAST(list_reduce(
         |           [CAST(strpos('0123456789abcdef',
         |                        substr(md5('dsir-s:' || doc_id), hd, 1)) - 1 AS BIGINT)
         |            for hd in range(1, 14)],
         |           (a, cc) -> a * 16 + cc) AS DOUBLE)
         |           / 4503599627370496.0 AS u
         |       FROM lw)
         |SELECT doc_id, log_weight,
         |       floor((log_weight + -ln(-ln(greatest(u, 1e-15))))
         |             * 1000000000 + 0.5) / 1000000000 AS sample_key
         |FROM uu
         |ORDER BY sample_key DESC, doc_id
         |LIMIT 64""".stripMargin),
    // leakage-safe split: the shared cluster-closure prefix (clus), then
    // the deterministic 52-bit md5 fold of 'split:<cluster_id>' cut at
    // 0.8 / 0.9 — cluster members share a split by construction
    "pipeline_leakage_split" -> (curationCtePrefix +
      s""",
         |su AS (SELECT doc_id, cluster_id,
         |         CAST(list_reduce(
         |           [CAST(strpos('0123456789abcdef',
         |                        substr(md5('split:' || cluster_id), hd, 1)) - 1 AS BIGINT)
         |            for hd in range(1, 14)],
         |           (a, cc) -> a * 16 + cc) AS DOUBLE)
         |           / 4503599627370496.0 AS uu
         |       FROM clus)
         |SELECT doc_id, cluster_id,
         |       CASE WHEN uu < 0.8 THEN 'train'
         |            WHEN uu < 0.9 THEN 'validation'
         |            ELSE 'test' END AS split
         |FROM su
         |ORDER BY doc_id""".stripMargin),
    // skew profile: per-key counts, exact global rank by (n, key), pure
    // integer percentile ranks ((n_keys·q+99) div 100), one summary row
    // per profiled key column
    "pipeline_skew_profile" -> {
      def block(keyName: String) =
        s"""SELECT '$keyName' AS key_name,
           |       CAST(t.n_rows AS BIGINT) AS n_rows, t.n_keys, t.max_n,
           |       p.p50_n, p.p90_n, p.p99_n,
           |       floor((CAST(t.max_n AS DOUBLE) * t.n_keys / t.n_rows)
           |             * 10000 + 0.5) / 10000 AS skew_ratio,
           |       floor((t.max_n / CAST(t.n_rows AS DOUBLE))
           |             * 1000000 + 0.5) / 1000000 AS top1_share
           |FROM (SELECT count(*) AS n_keys, sum(n) AS n_rows, max(n) AS max_n
           |      FROM ${keyName}_c) t
           |CROSS JOIN (
           |  SELECT max(CASE WHEN r.rnk = (t2.n_keys * 50 + 99) // 100
           |                  THEN r.n END) AS p50_n,
           |         max(CASE WHEN r.rnk = (t2.n_keys * 90 + 99) // 100
           |                  THEN r.n END) AS p90_n,
           |         max(CASE WHEN r.rnk = (t2.n_keys * 99 + 99) // 100
           |                  THEN r.n END) AS p99_n
           |  FROM ${keyName}_r r
           |  CROSS JOIN (SELECT count(*) AS n_keys FROM ${keyName}_c) t2) p"""
      s"""WITH user_id_c AS MATERIALIZED (
         |  SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
         |  FROM events GROUP BY 1),
         |user_id_r AS (
         |  SELECT key, n, row_number() OVER (ORDER BY n, key) AS rnk
         |  FROM user_id_c),
         |event_type_c AS MATERIALIZED (
         |  SELECT CAST(event_type AS VARCHAR) AS key, count(*) AS n
         |  FROM events GROUP BY 1),
         |event_type_r AS (
         |  SELECT key, n, row_number() OVER (ORDER BY n, key) AS rnk
         |  FROM event_type_c)
         |${block("user_id")}
         |UNION ALL
         |${block("event_type")}
         |ORDER BY key_name""".stripMargin
    },
    "pipeline_weighted_sample" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |         CAST(list_reduce(
        |           [CAST(strpos('0123456789abcdef',
        |                        substr(md5('ws:' || doc_id), d, 1)) - 1 AS BIGINT)
        |            for d in range(1, 14)],
        |           (a, c) -> a * 16 + c) AS DOUBLE) / 4503599627370496.0 AS uu
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        |       floor(ln(greatest(uu, 1e-15)) / n_chars * 1000000000 + 0.5) / 1000000000 AS sample_key
        |FROM u
        |ORDER BY sample_key DESC, doc_id
        |LIMIT 64""".stripMargin,
    // source overlap: string shingles here vs xxhash64 keys in the Spark
    // plan — outputs agree unless a 64-bit collision (decontaminate's
    // documented contract)
    "pipeline_source_overlap" ->
      s"""WITH t AS (SELECT doc_id, source, $duckToks AS toks FROM documents),
         |s AS (SELECT DISTINCT source,
         |             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
         |                                   for i in range(1, len(toks) - 1)])) AS sh
         |      FROM t),
         |z AS (SELECT source, count(*) AS n FROM s GROUP BY source),
         |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
         |      FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT source_a, source_b, inter, za.n AS n_a, zb.n AS n_b,
         |       floor(inter / (za.n + zb.n - inter) * 1000000 + 0.5) / 1000000 AS jaccard,
         |       floor(inter / za.n * 1000000 + 0.5) / 1000000 AS containment_a,
         |       floor(inter / zb.n * 1000000 + 0.5) / 1000000 AS containment_b
         |FROM p
         |JOIN z za ON za.source = source_a
         |JOIN z zb ON zb.source = source_b
         |ORDER BY source_a, source_b""".stripMargin,
    "pipeline_schema_evolution" ->
      """SELECT source, count(*) AS n_docs,
        |       count(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_with_lang,
        |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_known,
        |       coalesce(array_to_string(list_sort(list(DISTINCT lang)
        |                FILTER (WHERE doc_id % 2 = 1)), ','), '') AS langs
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin,
    // ── graph analytics ───────────────────────────────────────────────
    "graph_degrees" ->
      """WITH base AS (SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
        |              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |sym AS (SELECT u, v FROM base UNION ALL SELECT v, u FROM base),
        |dg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u)
        |SELECT substr(u, 1, 1) AS side, deg AS degree, count(*) AS n_nodes
        |FROM dg GROUP BY side, deg
        |ORDER BY side, degree""".stripMargin,
    // random walks: the oracle unrolls the SAME fixed 4 steps — ranked
    // undirected neighbors (row_number by id, count as degree), neighbor
    // choice = 52-bit md5 hex fold of 'rw:walk:step' mod degree
    "graph_random_walks" -> {
      s"""WITH $walkTreeCtes
         |SELECT walk_id, CAST(step AS INTEGER) AS step, node FROM (
         |  SELECT * FROM w0
         |  UNION ALL SELECT * FROM w1
         |  UNION ALL SELECT * FROM w2
         |  UNION ALL SELECT * FROM w3
         |  UNION ALL SELECT * FROM w4)
         |ORDER BY walk_id, step""".stripMargin
    },
    // graph_sage_sample: the hash-ranked sampled adjacency built once
    // (per-edge md5 fold of sage:u:v, rank per source), hop 1 takes
    // rnk <= 3 from each seed, hop 2 takes rnk <= 2 from each sampled
    // node — the same two equi-joins the Spark side runs
    "graph_sage_sample" -> {
      s"""WITH $sageTreeCtes
         |SELECT seed, CAST(hop AS INTEGER) AS hop, parent, node,
         |       CAST(branch AS INTEGER) AS branch
         |FROM (SELECT * FROM h0
         |      UNION ALL SELECT * FROM h1
         |      UNION ALL SELECT * FROM h2)
         |ORDER BY seed, hop, parent, branch""".stripMargin
    },
    // graph_sage_aggregate: the sage chain + bottom-up branch-ordered
    // mean folds — hop-2 features into hop-1 parents (9 dp), hop-1
    // values into the seed (6 dp); childless nodes contribute their own
    // feature via coalesce
    "graph_sage_aggregate" -> {
      def r9(e: String) = graft.functions.OracleRound.duck(e, 9)
      def r6(e: String) = graft.functions.OracleRound.duck(e, 6)
      s"""WITH $sageTreeCtes,
         |feats AS (SELECT 'c:' || c_custkey AS node, c_acctbal::DOUBLE AS x
         |          FROM customer
         |          UNION ALL
         |          SELECT 's:' || s_suppkey, s_acctbal::DOUBLE FROM supplier),
         |tr AS (SELECT * FROM h0
         |       UNION ALL SELECT * FROM h1
         |       UNION ALL SELECT * FROM h2),
         |tx AS MATERIALIZED (
         |  SELECT tr.seed, tr.hop, tr.parent, tr.node, tr.branch, f.x
         |  FROM tr JOIN feats f ON f.node = tr.node),
         |m2 AS (SELECT seed, parent AS node,
         |              list_reduce(list(x ORDER BY branch),
         |                          (a, b) -> a + b) / count(*) AS m2
         |       FROM tx WHERE hop = 2 GROUP BY seed, parent),
         |l1 AS (SELECT t.seed, t.branch,
         |              ${r9("(t.x + coalesce(m2.m2, t.x)) / 2")} AS h1
         |       FROM tx t LEFT JOIN m2
         |         ON m2.seed = t.seed AND m2.node = t.node
         |       WHERE t.hop = 1),
         |m1 AS (SELECT seed,
         |              list_reduce(list(h1 ORDER BY branch),
         |                          (a, b) -> a + b) / count(*) AS m1
         |       FROM l1 GROUP BY seed)
         |SELECT t.seed, t.x, ${r6("(t.x + coalesce(m1.m1, t.x)) / 2")} AS h2
         |FROM tx t LEFT JOIN m1 ON m1.seed = t.seed
         |WHERE t.hop = 0
         |ORDER BY t.seed""".stripMargin
    },
    // graph_walk_context_pairs: the graph_random_walks chain, then every
    // (center, context) position pair within ±2 steps of the same walk —
    // the walk-bounded self-join is the SQL spelling of the Spark side's
    // single lead/lag window pass
    "graph_walk_context_pairs" -> {
      s"""WITH $walkTreeCtes,
         |walks AS MATERIALIZED (
         |  SELECT * FROM w0
         |  UNION ALL SELECT * FROM w1
         |  UNION ALL SELECT * FROM w2
         |  UNION ALL SELECT * FROM w3
         |  UNION ALL SELECT * FROM w4)
         |SELECT a.walk_id, CAST(a.step AS INTEGER) AS center_step,
         |       a.node AS center,
         |       CAST(b.step - a.step AS INTEGER) AS "offset", b.node AS context
         |FROM walks a JOIN walks b ON a.walk_id = b.walk_id
         | AND b.step <> a.step AND abs(b.step - a.step) <= 2
         |ORDER BY a.walk_id, center_step, "offset"""".stripMargin
    },
    // node2vec: step 1 is the uniform rank rule; steps 2-4 unroll the
    // weighted inverse-CDF draw — weights {0.25, 1, 4} are dyadic
    // rationals so the ORDERED prefix sums are exact doubles on both
    // engines, and the first-cum-≥-u·total pick is bit-identical
    "graph_node2vec_walks" -> {
      s"""WITH $node2vecTreeCtes
         |SELECT walk_id, CAST(step AS INTEGER) AS step, node FROM (
         |  SELECT walk_id, step, node FROM w0
         |  UNION ALL SELECT walk_id, step, node FROM d1
         |  UNION ALL SELECT walk_id, step, node FROM d2
         |  UNION ALL SELECT walk_id, step, node FROM d3
         |  UNION ALL SELECT walk_id, step, node FROM d4)
         |ORDER BY walk_id, step""".stripMargin
    },
    // graph_node2vec_context_pairs: the node2vec chain, then the same
    // walk-bounded ±2-step pair join graph_walk_context_pairs uses
    "graph_node2vec_context_pairs" -> {
      s"""WITH $node2vecTreeCtes,
         |walks AS MATERIALIZED (
         |  SELECT walk_id, step, node FROM w0
         |  UNION ALL SELECT walk_id, step, node FROM d1
         |  UNION ALL SELECT walk_id, step, node FROM d2
         |  UNION ALL SELECT walk_id, step, node FROM d3
         |  UNION ALL SELECT walk_id, step, node FROM d4)
         |SELECT a.walk_id, CAST(a.step AS INTEGER) AS center_step,
         |       a.node AS center,
         |       CAST(b.step - a.step AS INTEGER) AS "offset", b.node AS context
         |FROM walks a JOIN walks b ON a.walk_id = b.walk_id
         | AND b.step <> a.step AND abs(b.step - a.step) <= 2
         |ORDER BY a.walk_id, center_step, "offset"""".stripMargin
    },
    // graph_embedding_neighbors: serving REPLAYED from the published
    // (node, vec) table — the clf_weights/ivf_centroids discipline:
    // training is transcendental and engine-local, so the oracle never
    // re-trains; it reads the same parquet the Spark side serves from
    // and reproduces every fold cosine bit-for-bit
    "graph_embedding_neighbors" ->
      s"""WITH emb AS (SELECT node, vec::DOUBLE[] AS v
        |             FROM read_parquet('${Graph.nodeEmbeddingPath(ArtifactWarehouse, "node_emb_" + sf)}/*.parquet')),
        |n AS (SELECT node, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM emb),
        |qs AS (SELECT DISTINCT 'c:' || o_custkey AS node FROM orders
        |       WHERE o_custkey < 10),
        |q AS (SELECT n.node AS query, n.v AS qv, n.nrm AS qn
        |      FROM n JOIN qs ON qs.node = n.node),
        |s AS (SELECT q.query, n.node,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM n JOIN q ON n.node <> q.query)
        |SELECT query, CAST(rank AS INTEGER) AS rank, node, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query
        |                               ORDER BY cosine DESC, node) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY query, rank""".stripMargin,
    // graph_link_prediction: the embedding-neighbors chain restricted to
    // the supplier side with current adjacency anti-joined out — same
    // published-table replay, same fold cosine and rank rule
    "graph_link_prediction" ->
      s"""WITH emb AS (SELECT node, vec::DOUBLE[] AS v
        |             FROM read_parquet('${Graph.nodeEmbeddingPath(ArtifactWarehouse, "node_emb_" + sf)}/*.parquet')),
        |n AS (SELECT node, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM emb),
        |base AS (SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
        |         FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |qs AS (SELECT DISTINCT 'c:' || o_custkey AS node FROM orders
        |       WHERE o_custkey < 10),
        |q AS (SELECT n.node AS query, n.v AS qv, n.nrm AS qn
        |      FROM n JOIN qs ON qs.node = n.node),
        |s AS (SELECT q.query, n.node,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM n JOIN q ON n.node <> q.query
        |      WHERE n.node LIKE 's:%'
        |        AND NOT EXISTS (SELECT 1 FROM base b
        |                        WHERE b.u = q.query AND b.v = n.node))
        |SELECT query, CAST(rank AS INTEGER) AS rank, node, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query
        |                               ORDER BY cosine DESC, node) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY query, rank""".stripMargin,
    // graph_embedding_neighbors_n2v: serving replayed from the
    // node2vec-trained published table — same chain, different slug
    "graph_embedding_neighbors_n2v" ->
      s"""WITH emb AS (SELECT node, vec::DOUBLE[] AS v
        |             FROM read_parquet('${Graph.nodeEmbeddingPath(ArtifactWarehouse, "node_emb_n2v_" + sf)}/*.parquet')),
        |n AS (SELECT node, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM emb),
        |qs AS (SELECT DISTINCT 'c:' || o_custkey AS node FROM orders
        |       WHERE o_custkey < 10),
        |q AS (SELECT n.node AS query, n.v AS qv, n.nrm AS qn
        |      FROM n JOIN qs ON qs.node = n.node),
        |s AS (SELECT q.query, n.node,
        |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |      FROM n JOIN q ON n.node <> q.query)
        |SELECT query, CAST(rank AS INTEGER) AS rank, node, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query
        |                               ORDER BY cosine DESC, node) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY query, rank""".stripMargin,
    // graph_embedding_neighbors_ivf: BOTH published tables replayed —
    // nearest-centroid assignment and nprobe probe lists off the
    // published (list_id, centroid) table, exact-cosine rerank of the
    // probed buckets only, and the exact full-scan top-5 re-derived for
    // the in_exact honesty bit (the sim_recall_eval chain shape)
    "graph_embedding_neighbors_ivf" ->
      s"""WITH ${ivfServingCtes(sf, linkPred = false)},
        |exs AS (SELECT q.query, n.node,
        |              list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                          (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |       FROM n JOIN q ON n.node <> q.query),
        |ex AS (SELECT query, node FROM (
        |         SELECT query, node,
        |                row_number() OVER (PARTITION BY query
        |                                   ORDER BY cosine DESC, node) AS rank
        |         FROM exs)
        |       WHERE rank <= 5)
        |SELECT ivf.query, CAST(ivf.rank AS INTEGER) AS rank, ivf.node,
        |       ivf.cosine, ex.node IS NOT NULL AS in_exact
        |FROM ivf LEFT JOIN ex ON ex.query = ivf.query AND ex.node = ivf.node
        |ORDER BY ivf.query, rank""".stripMargin,
    // the pruned-only production spellings (round 16): the SAME chain as
    // the honesty variants minus the exact join — value-checked by the
    // oracle on their own, so the production path itself is hash-green
    "graph_embedding_neighbors_ivf_pruned" ->
      s"""WITH ${ivfServingCtes(sf, linkPred = false)}
        |SELECT query, CAST(rank AS INTEGER) AS rank, node, cosine
        |FROM ivf ORDER BY query, rank""".stripMargin,
    // nprobe=8: the pruned link-prediction default since round 17
    // (verdict item 4 — the 0.91-vs-0.66 recall floor at the 10× cohort)
    "graph_link_prediction_ivf_pruned" ->
      s"""WITH ${ivfServingCtes(sf, linkPred = true, nprobe = 8)}
        |SELECT query, CAST(rank AS INTEGER) AS rank, node, cosine
        |FROM ivf ORDER BY query, rank""".stripMargin,
    // the TWO-LEVEL selection spelling (round 17): probes restricted to
    // the top-2 of 4 published centroid groups — the sub-linear probe
    // selection path, value-checked end to end from the published tables
    "graph_embedding_neighbors_ivf_hier" ->
      s"""WITH ${ivfServingCtes(sf, linkPred = false, nprobe = 4,
             hier = Some((4, 3, 2)))}
        |SELECT query, CAST(rank AS INTEGER) AS rank, node, cosine
        |FROM ivf ORDER BY query, rank""".stripMargin,
    // graph_link_prediction_ivf: the neighbors_ivf chain with the
    // candidate set cut to the supplier side and current adjacency
    // anti-joined out BEFORE the rank; the exact link-prediction chain
    // re-derived for the in_exact honesty bit
    "graph_link_prediction_ivf" ->
      s"""WITH ${ivfServingCtes(sf, linkPred = true)},
        |exs AS (SELECT q.query, n.node,
        |              list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
        |                          (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
        |       FROM n JOIN q ON n.node <> q.query
        |       WHERE n.node LIKE 's:%'
        |         AND NOT EXISTS (SELECT 1 FROM adj b
        |                         WHERE b.u = q.query AND b.v = n.node)),
        |ex AS (SELECT query, node FROM (
        |         SELECT query, node,
        |                row_number() OVER (PARTITION BY query
        |                                   ORDER BY cosine DESC, node) AS rank
        |         FROM exs)
        |       WHERE rank <= 5)
        |SELECT ivf.query, CAST(ivf.rank AS INTEGER) AS rank, ivf.node,
        |       ivf.cosine, ex.node IS NOT NULL AS in_exact
        |FROM ivf LEFT JOIN ex ON ex.query = ivf.query AND ex.node = ivf.node
        |ORDER BY ivf.query, rank""".stripMargin,
    // graph_embedding_eval: the same hash-drawn one-partner-per-node
    // sample replayed from the published table — per-pair cosine/norm
    // rounded 6 dp, side-pair means 4 dp (the float-summary discipline
    // sim_silhouette proved out)
    "graph_embedding_eval" -> {
      def hex(expr: String) = duckHexFold(expr)
      def r6(e: String) = graft.functions.OracleRound.duck(e, 6)
      def r4(e: String) = graft.functions.OracleRound.duck(e, 4)
      s"""WITH emb AS (SELECT node, vec::DOUBLE[] AS v
        |             FROM read_parquet('${Graph.nodeEmbeddingPath(ArtifactWarehouse, "node_emb_" + sf)}/*.parquet')),
        |n AS (SELECT node, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM emb),
        |vocab AS (SELECT node, row_number() OVER (ORDER BY node) - 1 AS idx
        |          FROM emb),
        |nv AS (SELECT count(*) AS c FROM vocab),
        |drawn AS (SELECT a.node, a.v AS av, a.nrm AS anrm,
        |                 ${hex("'embeval:' || a.node")} % (SELECT c FROM nv) AS pidx
        |          FROM n a),
        |p AS (SELECT d.node, d.av, d.anrm, vb.node AS partner
        |      FROM drawn d JOIN vocab vb ON vb.idx = d.pidx
        |      WHERE vb.node <> d.node),
        |s AS (SELECT substr(p.node, 1, 1) || substr(p.partner, 1, 1) AS side_pair,
        |             ${r6("""list_reduce([p.av[i] * b.v[i] for i in range(1, 1 + len(p.av))],
        |                          (x, y) -> x + y) / (p.anrm * b.nrm)""")} AS cos,
        |             ${r6("p.anrm")} AS rnrm
        |      FROM p JOIN n b ON b.node = p.partner)
        |SELECT side_pair, count(*) AS n_pairs,
        |       ${r4("avg(cos)")} AS mean_cos,
        |       ${r4("avg(rnrm)")} AS mean_norm
        |FROM s GROUP BY side_pair
        |ORDER BY side_pair""".stripMargin
    },
    // graph_walk_corpus_stats: the walk CTE chain re-derived (the
    // published table IS the live walk set), per-step survivor and
    // coverage counts
    "graph_walk_corpus_stats" -> {
      s"""WITH $walkTreeCtes,
         |walks AS (
         |  SELECT * FROM w0
         |  UNION ALL SELECT * FROM w1
         |  UNION ALL SELECT * FROM w2
         |  UNION ALL SELECT * FROM w3
         |  UNION ALL SELECT * FROM w4)
         |SELECT CAST(step AS INTEGER) AS step, count(*) AS n_walks,
         |       count(DISTINCT node) AS n_nodes
         |FROM walks GROUP BY step
         |ORDER BY step""".stripMargin
    },
    // PageRank: the oracle unrolls the SAME fixed 5 damped iterations the
    // Spark loop runs; 6 dp rounding absorbs cross-engine sum-order float
    // noise (~1e-15 relative — the iteration is a contraction)
    "graph_pagerank" -> {
      val iter = (k: Int) =>
        s"""r${k + 1} AS (SELECT e.v AS node,
           |       (SELECT 0.15 / n FROM nn) + 0.85 * sum(r.r / e.deg) AS r
           |       FROM e JOIN r$k r ON r.node = e.u GROUP BY e.v)""".stripMargin
      s"""WITH base AS (SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
         |              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |sym AS (SELECT u, v FROM base UNION ALL SELECT v, u FROM base),
         |dg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
         |e AS (SELECT sym.u, sym.v, dg.deg FROM sym JOIN dg ON dg.u = sym.u),
         |nn AS (SELECT count(*) AS n FROM dg),
         |r0 AS (SELECT u AS node, 1.0 / (SELECT n FROM nn) AS r FROM dg),
         |${(0 until 5).map(iter).mkString(",\n")}
         |SELECT node, floor(r * 1000000 + 0.5) / 1000000 AS rank FROM r5
         |ORDER BY node""".stripMargin
    },
    // HITS: same fixed 5 rounds of L1-normalized mutual reinforcement;
    // the normalizers are scalar subqueries (the Spark side's 1-row
    // broadcast), scores rounded 6 dp at the end only
    "graph_hits" -> {
      // every per-round CTE is MATERIALIZED: each is referenced twice
      // (values + its own normalizer) and chains to the previous round,
      // so plain (inlined) CTEs expand the edge join 2^rounds times —
      // ~1000 re-scans by round 5 (observed as a ~1 h oracle on a slow
      // box; the same exponential-inlining trap as text_bpe_merges)
      val round = (k: Int) =>
        s"""a${k}raw AS MATERIALIZED (SELECT e.v, sum(h.s) AS x
           |            FROM e JOIN h${k - 1} h ON h.u = e.u GROUP BY e.v),
           |a$k AS MATERIALIZED (SELECT v, x / (SELECT sum(x) FROM a${k}raw) AS s FROM a${k}raw),
           |h${k}raw AS MATERIALIZED (SELECT e.u, sum(a.s) AS x
           |            FROM e JOIN a$k a ON a.v = e.v GROUP BY e.u),
           |h$k AS MATERIALIZED (SELECT u, x / (SELECT sum(x) FROM h${k}raw) AS s FROM h${k}raw)""".stripMargin
      s"""WITH e AS MATERIALIZED (
         |           SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
         |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |h0 AS MATERIALIZED (
         |       SELECT u, 1.0 / (SELECT count(DISTINCT u) FROM e) AS s
         |       FROM (SELECT DISTINCT u FROM e)),
         |${(1 to 5).map(round).mkString(",\n")}
         |SELECT u AS node, 'hub' AS role,
         |       floor(s * 1000000 + 0.5) / 1000000 AS score FROM h5
         |UNION ALL
         |SELECT v AS node, 'authority' AS role,
         |       floor(s * 1000000 + 0.5) / 1000000 AS score FROM a5
         |ORDER BY role, node""".stripMargin
    },
    // weighted PageRank: identical unroll with w/wdeg walk probabilities
    // (the multiply-then-divide order mirrors the Spark expression)
    "graph_pagerank_weighted" -> {
      val iter = (k: Int) =>
        s"""r${k + 1} AS (SELECT e.v AS node,
           |       (SELECT 0.15 / n FROM nn) + 0.85 * sum(r.r * e.w / e.wdeg) AS r
           |       FROM e JOIN r$k r ON r.node = e.u GROUP BY e.v)""".stripMargin
      s"""WITH base AS (SELECT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v,
         |                     count(*) AS w
         |              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |              GROUP BY 1, 2),
         |sym AS (SELECT u, v, w FROM base UNION ALL SELECT v, u, w FROM base),
         |dg AS (SELECT u, CAST(sum(w) AS BIGINT) AS wdeg FROM sym GROUP BY u),
         |e AS (SELECT sym.u, sym.v, sym.w, dg.wdeg FROM sym JOIN dg ON dg.u = sym.u),
         |nn AS (SELECT count(*) AS n FROM dg),
         |r0 AS (SELECT u AS node, 1.0 / (SELECT n FROM nn) AS r FROM dg),
         |${(0 until 5).map(iter).mkString(",\n")}
         |SELECT node, floor(r * 1000000 + 0.5) / 1000000 AS rank FROM r5
         |ORDER BY node""".stripMargin
    },
    // personalized PageRank: same unrolled iterations; each round is the
    // damped walk sums UNION ALL the per-source teleport, re-aggregated
    // (≤2 addends per node — IEEE-commutative, so order-deterministic)
    "graph_ppr_cohort" -> {
      val iter = (k: Int) =>
        s"""r${k + 1} AS (SELECT u AS node, sum(x) AS r FROM (
           |   SELECT e.v AS u, 0.85 * sum(rr.r / e.deg) AS x
           |   FROM e JOIN r$k rr ON rr.node = e.u GROUP BY e.v
           |   UNION ALL SELECT u, (SELECT 0.15 / n FROM ns) FROM srcs) GROUP BY u)""".stripMargin
      s"""WITH base AS (SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
         |              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |sym AS (SELECT u, v FROM base UNION ALL SELECT v, u FROM base),
         |dg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
         |e AS (SELECT sym.u, sym.v, dg.deg FROM sym JOIN dg ON dg.u = sym.u),
         |srcs AS (SELECT DISTINCT 'c:' || o_custkey AS u FROM orders WHERE o_custkey < 10),
         |ns AS (SELECT count(*) AS n FROM srcs),
         |r0 AS (SELECT u AS node, 1.0 / (SELECT n FROM ns) AS r FROM srcs),
         |${(0 until 5).map(iter).mkString(",\n")}
         |SELECT node, floor(r * 1000000 + 0.5) / 1000000 AS rank FROM r5
         |ORDER BY node""".stripMargin
    },
    // triangles: the oracle enumerates naively (a<b<c three-way self-join);
    // the Spark side's degree-ordered orientation changes join SIZES only,
    // the triangle set is identical (GraphSpec proves it on testdata)
    "graph_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        |      FROM op a JOIN op b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |        FROM e e1
        |        JOIN e e2 ON e2.p1 = e1.p1 AND e2.p2 > e1.p2
        |        JOIN e e3 ON e3.p1 = e1.p2 AND e3.p2 = e2.p2),
        |v AS (SELECT a AS part_key FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |SELECT part_key, count(*) AS triangles FROM v GROUP BY part_key
        |ORDER BY part_key""".stripMargin,
    // components: the same 10 min-label rounds, materialized per round
    // (inlining would re-expand the chain); inner joins are sound because
    // the symmetric edge list gives every labeled node a neighbor
    "graph_components" -> {
      val round = (i: Int) =>
        s"""l$i AS MATERIALIZED (
           |  SELECT l.u, least(l.lbl, m.nm) AS lbl
           |  FROM l${i - 1} l JOIN (
           |    SELECT e.u, min(x.lbl) AS nm
           |    FROM e JOIN l${i - 1} x ON x.u = e.v GROUP BY e.u) m
           |  ON m.u = l.u)""".stripMargin
      s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pc AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
         |       FROM op a JOIN op b
         |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |       GROUP BY 1, 2),
         |ed AS (SELECT p1, p2 FROM pc WHERE w >= 2),
         |e AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM ed
         |                   UNION ALL SELECT p2, p1 FROM ed),
         |l0 AS MATERIALIZED (SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM e)),
         |${(1 to 10).map(round).mkString(",\n")}
         |SELECT u AS part_key, lbl AS component FROM l10
         |ORDER BY part_key""".stripMargin
    },
    // funnel: identical progressive-min chain; mean gaps as exact
    // integer-second sums ÷ counts (never a float-order avg)
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, s1.t1, min(e.ts) AS t2
        |       FROM e JOIN s1 ON s1.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |       GROUP BY e.user_id, s1.t1),
        |s3 AS (SELECT e.user_id, s2.t1, min(e.ts) AS t3
        |       FROM e JOIN s2 ON s2.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |       GROUP BY e.user_id, s2.t1),
        |a1 AS (SELECT count(*) AS n1 FROM s1),
        |a2 AS (SELECT count(*) AS n2,
        |              CAST(sum(date_diff('second', t1, t2)) AS BIGINT) AS sg2 FROM s2),
        |a3 AS (SELECT count(*) AS n3,
        |              CAST(sum(date_diff('second', t1, t3)) AS BIGINT) AS sg3 FROM s3)
        |SELECT 1 AS step, 'view' AS event_type, n1 AS n_users,
        |       floor(1.0 * 1000000 + 0.5) / 1000000 AS conversion,
        |       CAST(NULL AS DOUBLE) AS avg_gap_seconds
        |FROM a1
        |UNION ALL
        |SELECT 2, 'click', n2,
        |       floor((CAST(n2 AS DOUBLE) / n1) * 1000000 + 0.5) / 1000000,
        |       floor((CAST(sg2 AS DOUBLE) / n2) * 1000000 + 0.5) / 1000000
        |FROM a2 CROSS JOIN a1
        |UNION ALL
        |SELECT 3, 'purchase', n3,
        |       floor((CAST(n3 AS DOUBLE) / n1) * 1000000 + 0.5) / 1000000,
        |       floor((CAST(sg3 AS DOUBLE) / n3) * 1000000 + 0.5) / 1000000
        |FROM a3 CROSS JOIN a1
        |ORDER BY step""".stripMargin,
    // events_markov_stationary: exact-integer row normalization (the
    // only float op is the division), then 5 unrolled mat-vec rounds —
    // each state's new mass a from-ordered list_reduce fold rounded 9 dp,
    // absent inbound mass coalesced to 0 on the state grid
    "events_markov_stationary" -> {
      def r9(e: String) = graft.functions.OracleRound.duck(e, 9)
      val steps = (1 to 5).map { t =>
        s"""pi$t AS MATERIALIZED (
           |  SELECT s.event_type, coalesce(u.pi, CAST(0 AS DOUBLE)) AS pi
           |  FROM st s LEFT JOIN (
           |    SELECT pm.to_type AS event_type,
           |           ${r9("list_reduce(list(p0.pi * pm.p ORDER BY pm.from_type), (a, b) -> a + b)")} AS pi
           |    FROM pi${t - 1} p0 JOIN pm ON pm.from_type = p0.event_type
           |    GROUP BY pm.to_type) u ON u.event_type = s.event_type)"""
      }.mkString(",\n")
      s"""WITH pr AS (SELECT event_type AS from_type,
         |                  lead(event_type) OVER (PARTITION BY user_id
         |                                         ORDER BY ts, event_id) AS to_type
         |           FROM events),
         |c AS (SELECT from_type, to_type, count(*) AS n
         |      FROM pr WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
         |pm AS MATERIALIZED (
         |  SELECT from_type, to_type,
         |         CAST(n AS DOUBLE) / (sum(n) OVER (PARTITION BY from_type)) AS p
         |  FROM c),
         |st AS MATERIALIZED (SELECT DISTINCT event_type FROM events),
         |kk AS (SELECT count(*) AS k FROM st),
         |pi0 AS (SELECT event_type, CAST(1 AS DOUBLE) / kk.k AS pi
         |        FROM st CROSS JOIN kk),
         |$steps
         |SELECT event_type,
         |       ${graft.functions.OracleRound.duck("pi", 6)} AS pi
         |FROM pi5
         |ORDER BY event_type""".stripMargin
    },
    "events_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
        |                  lead(event_type) OVER (PARTITION BY user_id
        |                                         ORDER BY ts, event_id) AS to_type
        |           FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n
        |      FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |       floor((CAST(n AS DOUBLE) /
        |              (sum(n) OVER (PARTITION BY from_type))) * 1000000 + 0.5)
        |         / 1000000 AS p
        |FROM c
        |ORDER BY from_type, to_type""".stripMargin,
    // path NLL: the identical pre-cut (row_number ≤ 256) feeds BOTH the
    // MLE model and the scoring set; per-user terms folded in idx order
    // (list_reduce's first-element init == the Spark fold's 0.0 init —
    // 0.0 + t1 is bitwise t1), rounded at the edge
    "events_path_nll" ->
      """WITH p AS (
        |  SELECT user_id, event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS idx
        |  FROM events),
        |tr AS MATERIALIZED (
        |  SELECT * FROM p WHERE to_type IS NOT NULL AND idx <= 256),
        |c AS (SELECT from_type, to_type, count(*) AS n_ft
        |      FROM tr GROUP BY from_type, to_type),
        |f AS (SELECT from_type, sum(n_ft) AS n_f FROM c GROUP BY from_type),
        |m AS (SELECT c.from_type, c.to_type,
        |             ln(CAST(c.n_ft AS DOUBLE) / f.n_f) AS term
        |      FROM c JOIN f ON c.from_type = f.from_type),
        |u AS (SELECT tr.user_id, count(*) AS n_trans,
        |             list(m.term ORDER BY tr.idx) AS terms
        |      FROM tr JOIN m ON tr.from_type = m.from_type
        |                    AND tr.to_type = m.to_type
        |      GROUP BY tr.user_id)
        |SELECT user_id, n_trans,
        |       floor(((-list_reduce(terms, (a, b) -> a + b)) / n_trans)
        |             * 1000000 + 0.5) / 1000000 AS nll
        |FROM u
        |ORDER BY user_id""".stripMargin,
    // KM survival: at-risk via exclusive cumulative sums (exact integer
    // math); the survival product as a per-row prefix fold over
    // duration-sorted factors — list_reduce's first-element init and
    // left-to-right multiply reproduce the Spark driver fold exactly
    "events_survival" ->
      """WITH e AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
        |t0 AS (SELECT user_id, min(ts) AS t0 FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |cv AS (SELECT e.user_id, min(e.ts) AS tp
        |       FROM e JOIN t0 ON t0.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > t0.t0
        |       GROUP BY e.user_id),
        |ld AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_day
        |       FROM e GROUP BY user_id),
        |b AS (SELECT t0.user_id,
        |        CASE WHEN cv.tp IS NOT NULL
        |             THEN date_diff('day', CAST(t0.t0 AS DATE), CAST(cv.tp AS DATE))
        |             ELSE date_diff('day', CAST(t0.t0 AS DATE), ld.last_day)
        |        END AS duration,
        |        CASE WHEN cv.tp IS NOT NULL THEN 1 ELSE 0 END AS event
        |      FROM t0 JOIN ld ON ld.user_id = t0.user_id
        |      LEFT JOIN cv ON cv.user_id = t0.user_id),
        |km AS (SELECT duration, CAST(sum(event) AS BIGINT) AS d,
        |              CAST(sum(1 - event) AS BIGINT) AS c
        |       FROM b GROUP BY duration),
        |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM km),
        |w AS (SELECT duration, d, c,
        |        (SELECT n FROM tot) - COALESCE(CAST(sum(d + c) OVER (
        |           ORDER BY duration
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |          AS at_risk
        |      FROM km),
        |w2 AS (SELECT duration, d, c, at_risk,
        |         list_sort(list({'t': duration,
        |                         'f': 1 - CAST(d AS DOUBLE) / at_risk})
        |           OVER (ORDER BY duration
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS pfx
        |       FROM w)
        |SELECT CAST(duration AS INTEGER) AS duration_days, at_risk,
        |       d AS events, c AS censored,
        |       floor(list_reduce([x.f for x in pfx], (a, b) -> a * b)
        |             * 1000000 + 0.5) / 1000000 AS survival
        |FROM w2 ORDER BY duration_days""".stripMargin,
    "events_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |ch AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
        |act AS (SELECT DISTINCT ch.cohort_day,
        |               CAST(floor(date_diff('day', ch.cohort_day, e.day) / 7)
        |                    AS INTEGER) AS week_offset,
        |               e.user_id
        |        FROM e JOIN ch ON ch.user_id = e.user_id),
        |c AS (SELECT cohort_day, week_offset, count(*) AS n_active
        |      FROM act GROUP BY cohort_day, week_offset),
        |sz AS (SELECT cohort_day, n_active AS cohort_size
        |       FROM c WHERE week_offset = 0)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        |       c.week_offset, c.n_active, sz.cohort_size,
        |       floor((CAST(c.n_active AS DOUBLE) / sz.cohort_size) * 1000000 + 0.5)
        |         / 1000000 AS retention
        |FROM c JOIN sz ON sz.cohort_day = c.cohort_day
        |ORDER BY cohort_day, week_offset""".stripMargin,
    // batch sessionization: the same lag-flag + running-sum islands in
    // exact integer microseconds (epoch_us ≡ unix_micros); // is floor
    // division, matching the Spark double-div + truncate on positives
    "events_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events),
        |f AS (SELECT user_id, event_id, us, cents,
        |             CASE WHEN lag(us) OVER w IS NULL
        |                    OR us - lag(us) OVER w > 1800000000
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT user_id, us, cents,
        |             CAST(sum(new_s) OVER (PARTITION BY user_id
        |                                   ORDER BY us, event_id
        |                                   ROWS BETWEEN UNBOUNDED PRECEDING
        |                                   AND CURRENT ROW) AS BIGINT) AS session_idx
        |      FROM f),
        |s AS (SELECT user_id, session_idx, min(us) AS start_us,
        |             max(us) AS end_us, count(*) AS n_events,
        |             CAST(sum(cents) AS BIGINT) AS value_cents
        |      FROM g GROUP BY user_id, session_idx)
        |SELECT user_id, session_idx, start_us, end_us,
        |       (end_us - start_us) // 1000000 AS duration_seconds,
        |       n_events, value_cents
        |FROM s ORDER BY user_id, session_idx""".stripMargin,
    // top paths: identical islands, per-session (us, event_id)-ordered
    // type list capped at 8, same (count desc, path asc) cut
    "events_top_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |f AS (SELECT user_id, event_id, event_type, us,
        |             CASE WHEN lag(us) OVER w IS NULL
        |                    OR us - lag(us) OVER w > 1800000000
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT user_id, event_id, event_type, us,
        |             sum(new_s) OVER (PARTITION BY user_id
        |                              ORDER BY us, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING
        |                              AND CURRENT ROW) AS session_idx
        |      FROM f),
        |p AS (SELECT user_id, session_idx,
        |             array_to_string(list_transform(
        |               (list({'us': us, 'event_id': event_id,
        |                      'event_type': event_type}
        |                ORDER BY us, event_id))[1:8],
        |               x -> x.event_type), '>') AS path
        |      FROM g GROUP BY user_id, session_idx)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // rfm: three independent exact ntiles with the same (metric,
    // custkey) total orders — DuckDB's single-reducer ntile equals
    // GlobalOrder's distributed form exactly on integral orders
    "events_rfm_segments" ->
      """WITH per AS (SELECT o_custkey AS custkey,
        |                    max(CAST(o_orderdate AS DATE)) AS last_day,
        |                    count(*) AS frequency,
        |                    CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS cents
        |             FROM orders GROUP BY 1),
        |q AS (SELECT custkey, cents,
        |             ntile(5) OVER (ORDER BY last_day, custkey) AS r_q,
        |             ntile(5) OVER (ORDER BY frequency, custkey) AS f_q,
        |             ntile(5) OVER (ORDER BY cents, custkey) AS m_q
        |      FROM per)
        |SELECT CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
        |       CAST(m_q AS INTEGER) AS m_q,
        |       count(*) AS n_customers, CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // multi-touch attribution: identical micro-cent integer credit math
    // (full credit cents*1e6; linear floor(cents*1e6/n) — one IEEE
    // division of exact integers), so the sums hash-match exactly
    "events_attribution" ->
      """WITH p AS (SELECT event_id AS pid, user_id, ts AS pts,
        |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts AS tts, event_id AS tid,
        |             event_type AS channel
        |      FROM events WHERE event_type IN ('view', 'click')),
        |j AS (SELECT p.pid, p.cents, t.channel, t.tts, t.tid
        |      FROM p JOIN t ON t.user_id = p.user_id
        |       AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 7 DAY),
        |w AS (SELECT pid, cents, channel,
        |             count(*) OVER (PARTITION BY pid) AS n,
        |             row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS rna,
        |             row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rnd
        |      FROM j),
        |un AS (SELECT pid, cents FROM p
        |       WHERE pid NOT IN (SELECT pid FROM j)),
        |cr AS (SELECT 'first_touch' AS model, channel, cents * 1000000 AS micro
        |       FROM w WHERE rna = 1
        |       UNION ALL
        |       SELECT 'last_touch', channel, cents * 1000000 FROM w WHERE rnd = 1
        |       UNION ALL
        |       SELECT 'linear', channel,
        |              CAST(floor(cents * 1000000.0 / n) AS BIGINT) FROM w
        |       UNION ALL
        |       SELECT m.model, 'none', cents * 1000000
        |       FROM un CROSS JOIN (VALUES ('first_touch'), ('last_touch'),
        |                                  ('linear')) m(model))
        |SELECT model, channel, count(*) AS n_credits,
        |       CAST(sum(micro) AS BIGINT) AS attributed_micro,
        |       floor(CAST(sum(micro) AS DOUBLE) / 100000000 * 10000 + 0.5)
        |         / 10000 AS attributed_revenue
        |FROM cr GROUP BY model, channel
        |ORDER BY model, channel""".stripMargin,
    // SQL sketch surface: CMS estimates replayed as filtered counts on
    // the constant buckets of 'the'; the bottom-k sample as the 3
    // smallest (md5, id) per source
    "sql_graft_sketches" -> {
      val bucket = (d: Int, ref: String) =>
        s"CAST(list_reduce([CAST(strpos('0123456789abcdef', " +
          s"substr(md5('cms$d:' || $ref), h, 1)) - 1 AS BIGINT) " +
          s"for h in range(1, 14)], (a, c) -> a * 16 + c) AS BIGINT) % 256"
      s"""WITH w AS (SELECT source, unnest($duckToks) AS term
         |           FROM documents),
         |ww AS (SELECT source, term FROM w WHERE term <> ''),
         |cms AS (SELECT source, count(*) AS n_terms,
         |               least(
         |                 count(*) FILTER (WHERE ${bucket(0, "term")} = ${bucket(0, "'the'")}),
         |                 count(*) FILTER (WHERE ${bucket(1, "term")} = ${bucket(1, "'the'")}),
         |                 count(*) FILTER (WHERE ${bucket(2, "term")} = ${bucket(2, "'the'")}))
         |                 AS est_the,
         |               count(*) FILTER (WHERE term = 'the') AS exact_the
         |        FROM ww GROUP BY source),
         |samp AS (SELECT source,
         |                (list(doc_id ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id))[1:3]
         |                  AS sample_ids
         |         FROM documents GROUP BY source)
         |SELECT c.source, c.n_terms, c.est_the, c.exact_the,
         |       array_to_string(s.sample_ids, ',') AS sample_ids
         |FROM cms c JOIN samp s ON s.source = c.source
         |ORDER BY c.source""".stripMargin
    },
    // rolling HLL: exact windowed distinct replayed; the sketch estimate
    // is engine-specific, so it rides the pinned tolerance boolean
    // (the approx_distinct_users convention)
    "agg_rolling_distinct_hll" ->
      """WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |d AS (SELECT DISTINCT day FROM e),
        |c AS (SELECT unnest([day + CAST(i AS INTEGER) for i in range(0, 7)]) AS wday,
        |             user_id
        |      FROM e)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |       count(DISTINCT c.user_id) AS exact_users_7d,
        |       TRUE AS hll_within_tol
        |FROM c JOIN d ON c.wday = d.day
        |GROUP BY d.day
        |ORDER BY day""".stripMargin,
    // CMS replay: the counter matrix rebuilt as three md5-bucket GROUP
    // BYs (the same 52-bit hex-prefix fold as the JVM aggregate), point
    // estimates as the same 3-way least
    "text_cms_freq" -> {
      val bucket = (d: Int, ref: String) =>
        s"CAST(list_reduce([CAST(strpos('0123456789abcdef', " +
          s"substr(md5('cms$d:' || $ref), h, 1)) - 1 AS BIGINT) " +
          s"for h in range(1, 14)], (a, c) -> a * 16 + c) AS BIGINT) % 256"
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |w AS (SELECT unnest(toks) AS term FROM t),
         |ww AS (SELECT term FROM w WHERE term <> ''),
         |ex AS (SELECT term, count(*) AS exact FROM ww GROUP BY term),
         |top AS (SELECT term, exact FROM ex ORDER BY exact DESC, term LIMIT 20),
         |${(0 until 3).map(d =>
             s"b$d AS (SELECT ${bucket(d, "term")} AS b, count(*) AS c FROM ww GROUP BY 1)")
             .mkString(",\n")}
         |SELECT top.term, top.exact, least(c0.c, c1.c, c2.c) AS cms_est,
         |       least(c0.c, c1.c, c2.c) - top.exact AS overcount
         |FROM top
         |JOIN b0 c0 ON c0.b = ${bucket(0, "top.term")}
         |JOIN b1 c1 ON c1.b = ${bucket(1, "top.term")}
         |JOIN b2 c2 ON c2.b = ${bucket(2, "top.term")}
         |ORDER BY top.exact DESC, top.term""".stripMargin
    },
    // k-core: the same 10 peel rounds, MATERIALIZED per round (the
    // doubly-referenced chain would inline exponentially)
    // label propagation: 5 unrolled MATERIALIZED rounds — per round the
    // (neighbor-labels ∪ self-vote) mode with (count desc, label asc)
    // tie-break, exactly the Spark loop's expression
    "graph_label_prop" -> {
      val round = (r: Int) =>
        s"""c$r AS MATERIALIZED (
           |  SELECT x.v, x.lab, count(*) AS c FROM (
           |    SELECT adj.v, l.lab FROM adj JOIN l${r - 1} l ON l.v = adj.n
           |    UNION ALL SELECT v, lab FROM l${r - 1}) x
           |  GROUP BY x.v, x.lab),
           |l$r AS MATERIALIZED (
           |  SELECT v, lab FROM (
           |    SELECT v, lab, row_number() OVER (PARTITION BY v
           |      ORDER BY c DESC, lab) AS rn FROM c$r)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM op a JOIN op b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |adj AS MATERIALIZED (
         |  SELECT p1 AS v, p2 AS n FROM e
         |  UNION ALL SELECT p2 AS v, p1 AS n FROM e),
         |l0 AS MATERIALIZED (SELECT DISTINCT v, v AS lab FROM adj),
         |${(1 to 5).map(round).mkString(",\n")}
         |SELECT v AS part_key, lab AS community
         |FROM l5 ORDER BY part_key""".stripMargin
    },
    // adamic-adar: same support-2 edge derivation as kcore; terms
    // rounded to 9dp BEFORE the center-sorted fold (ln is 1-ulp across
    // libms), score rounded 6dp, top-100 by (score desc, u, w)
    "graph_adamic_adar" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM op a JOIN op b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS MATERIALIZED (
        |  SELECT p1 AS v, p2 AS n FROM e
        |  UNION ALL SELECT p2 AS v, p1 AS n FROM e),
        |deg AS (SELECT v, count(*) AS d FROM adj GROUP BY v),
        |ctr AS MATERIALIZED (
        |  SELECT adj.v, adj.n, deg.d FROM adj JOIN deg ON deg.v = adj.v
        |  WHERE deg.d BETWEEN 2 AND 128),
        |wdg AS (SELECT a.n AS u, b.n AS w, a.v, a.d
        |        FROM ctr a JOIN ctr b ON a.v = b.v AND a.n < b.n),
        |s AS (SELECT u, w, count(*) AS n_common,
        |             floor(list_reduce(
        |               list_prepend(0.0, list_transform(
        |                 list_sort(list({'v': v,
        |                   't': floor(1.0 / ln(CAST(d AS DOUBLE)) * 1000000000 + 0.5)
        |                        / 1000000000})),
        |                 x -> x.t)),
        |               (acc, t) -> acc + t) * 1000000 + 0.5) / 1000000 AS aa_score
        |      FROM wdg GROUP BY u, w),
        |nz AS (SELECT s.* FROM s
        |       WHERE NOT EXISTS (SELECT 1 FROM e
        |                         WHERE e.p1 = s.u AND e.p2 = s.w))
        |SELECT u, w, n_common, aa_score
        |FROM nz ORDER BY aa_score DESC, u, w LIMIT 100""".stripMargin,
    "graph_kcore" -> {
      val round = (r: Int) =>
        s"""k$r AS MATERIALIZED (
           |  SELECT u FROM (SELECT u, count(*) AS dg FROM e${r - 1} GROUP BY u)
           |  WHERE dg >= 3),
           |e$r AS MATERIALIZED (
           |  SELECT e.u, e.v FROM e${r - 1} e
           |  JOIN k$r a ON a.u = e.u
           |  JOIN k$r b ON b.u = e.v)""".stripMargin
      s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pc AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
         |       FROM op a JOIN op b
         |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |       GROUP BY 1, 2),
         |ed AS (SELECT p1, p2 FROM pc WHERE w >= 2),
         |e0 AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM ed
         |                    UNION ALL SELECT p2, p1 FROM ed),
         |${(1 to 10).map(round).mkString(",\n")}
         |SELECT u AS part_key, count(*) AS core_degree
         |FROM e10 GROUP BY u
         |ORDER BY part_key""".stripMargin
    },
    // clustering coefficient: naive-triangle replay (the SET is
    // orientation-invariant) + degree count; one IEEE division of exact
    // integers, 6 dp floor-rounded on both engines
    "graph_clustering_coeff" ->
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        |      FROM op a JOIN op b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS MATERIALIZED (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |        FROM e e1
        |        JOIN e e2 ON e2.p1 = e1.p1 AND e2.p2 > e1.p2
        |        JOIN e e3 ON e3.p1 = e1.p2 AND e3.p2 = e2.p2),
        |tc AS (SELECT part_key, count(*) AS triangles
        |       FROM (SELECT a AS part_key FROM tri
        |             UNION ALL SELECT b FROM tri
        |             UNION ALL SELECT c FROM tri)
        |       GROUP BY part_key),
        |deg AS (SELECT part_key, count(*) AS degree
        |        FROM (SELECT p1 AS part_key FROM e UNION ALL SELECT p2 FROM e)
        |        GROUP BY part_key)
        |SELECT d.part_key, d.degree,
        |       coalesce(t.triangles, CAST(0 AS BIGINT)) AS triangles,
        |       CASE WHEN d.degree >= 2
        |            THEN floor(2.0 * coalesce(t.triangles, 0)
        |                       / (d.degree * (d.degree - 1)) * 1000000 + 0.5) / 1000000
        |            ELSE 0.0 END AS clustering_coeff
        |FROM deg d LEFT JOIN tc t ON t.part_key = d.part_key
        |ORDER BY d.part_key""".stripMargin,
    // BFS reach: 3 unrolled frontier rounds (each MATERIALIZED — the
    // visited set is doubly referenced per round), layer r = distinct
    // neighbors of layer r-1 minus everything already visited
    // closeness: the graph_reach unrolled-BFS shape, keyed by (src,
    // node); harmonic = fixed-order n1/1 + n2/2 + n3/3 over exact
    // integer hop counts
    "graph_closeness_sampled" -> {
      val round = (r: Int) =>
        s"""f$r AS MATERIALIZED (
           |  SELECT DISTINCT f.src, e.v AS node
           |  FROM e JOIN v${r - 1} f ON f.node = e.u AND f.hops = ${r - 1}),
           |n$r AS MATERIALIZED (
           |  SELECT f.src, f.node, $r AS hops FROM f$r f
           |  WHERE NOT EXISTS (SELECT 1 FROM v${r - 1} x
           |                    WHERE x.src = f.src AND x.node = f.node)),
           |v$r AS MATERIALIZED (
           |  SELECT src, node, hops FROM v${r - 1}
           |  UNION ALL SELECT src, node, hops FROM n$r)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
         |v0 AS MATERIALIZED (
         |  SELECT DISTINCT 'c:' || o_custkey AS src,
         |         'c:' || o_custkey AS node, 0 AS hops
         |  FROM orders WHERE o_custkey < 10),
         |${(1 to 3).map(round).mkString(",\n")},
         |hc AS (SELECT src,
         |         CAST(sum(CASE WHEN hops = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |         CAST(sum(CASE WHEN hops = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |         CAST(sum(CASE WHEN hops = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
         |       FROM v3 WHERE hops > 0 GROUP BY src)
         |SELECT src, n1, n2, n3,
         |       floor((n1 / 1.0 + n2 / 2.0 + n3 / 3.0) * 1000000 + 0.5)
         |         / 1000000 AS harmonic_closeness,
         |       n1 + n2 + n3 AS n_reached
         |FROM hc
         |ORDER BY src""".stripMargin
    },
    // graph_betweenness_sampled: the closeness unrolled BFS with an
    // integer sigma column, then the backward dependency levels with
    // terms QUANTIZED to 1e-9-grain BIGINTs at birth and folded by plain
    // SUM (round 17 — long addition is associative, so the fold needs no
    // order and no buffer; the final 1e-6 output grain is integer
    // floor-division, one double division at the very end)
    "graph_betweenness_sampled" -> {
      val fwd = (r: Int) =>
        s"""c$r AS MATERIALIZED (
           |  SELECT f.src, e.v AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
           |  FROM e JOIN v${r - 1} f ON f.node = e.u AND f.hops = ${r - 1}
           |  GROUP BY f.src, e.v),
           |n$r AS MATERIALIZED (
           |  SELECT c.src, c.node, $r AS hops, c.sigma FROM c$r c
           |  WHERE NOT EXISTS (SELECT 1 FROM v${r - 1} x
           |                    WHERE x.src = c.src AND x.node = c.node)),
           |v$r AS MATERIALIZED (
           |  SELECT src, node, hops, sigma FROM v${r - 1}
           |  UNION ALL SELECT src, node, hops, sigma FROM n$r)""".stripMargin
      val bwd = (h: Int) =>
        s"""t$h AS (SELECT c.src, c.node,
           |              CAST(floor((CAST(c.sigma AS DOUBLE) / w.sigma) *
           |                         (1.0 + CAST(w.delta_sc AS DOUBLE) / 1000000000.0) *
           |                         1000000000.0 + 0.5) AS BIGINT) AS term_sc
           |       FROM (SELECT * FROM v3 WHERE hops = $h) c
           |       JOIN e ON e.u = c.node
           |       JOIN d${h + 1} w ON w.src = c.src AND w.node = e.v),
           |f$h AS (SELECT src, node, CAST(sum(term_sc) AS BIGINT) AS delta_sc
           |       FROM t$h GROUP BY src, node),
           |d$h AS MATERIALIZED (
           |  SELECT c.src, c.node, c.sigma,
           |         coalesce(f.delta_sc, 0) AS delta_sc
           |  FROM (SELECT * FROM v3 WHERE hops = $h) c
           |  LEFT JOIN f$h f ON f.src = c.src AND f.node = c.node)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
         |v0 AS MATERIALIZED (
         |  SELECT DISTINCT 'c:' || o_custkey AS src,
         |         'c:' || o_custkey AS node, 0 AS hops, CAST(1 AS BIGINT) AS sigma
         |  FROM orders WHERE o_custkey < 10),
         |${(1 to 3).map(fwd).mkString(",\n")},
         |d3 AS MATERIALIZED (
         |  SELECT src, node, sigma, CAST(0 AS BIGINT) AS delta_sc
         |  FROM v3 WHERE hops = 3),
         |${(2 to 1 by -1).map(bwd).mkString(",\n")},
         |alld AS (SELECT src, node, delta_sc FROM d3
         |         UNION ALL SELECT src, node, delta_sc FROM d2
         |         UNION ALL SELECT src, node, delta_sc FROM d1)
         |SELECT node, CAST(count(*) AS INTEGER) AS n_sources,
         |       CAST((CAST(sum(delta_sc) AS BIGINT) + 500) // 1000 AS DOUBLE)
         |         / 1000000.0 AS betweenness
         |FROM alld GROUP BY node
         |ORDER BY node""".stripMargin
    },
    "graph_reach" -> {
      val round = (r: Int) =>
        s"""f$r AS MATERIALIZED (
           |  SELECT DISTINCT e.v AS node
           |  FROM e JOIN f${r - 1} f ON f.node = e.u
           |  WHERE e.v NOT IN (SELECT node FROM v${r - 1})),
           |v$r AS MATERIALIZED (
           |  SELECT node, hops FROM v${r - 1}
           |  UNION ALL SELECT node, $r AS hops FROM f$r)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
         |v0 AS MATERIALIZED (
         |  SELECT DISTINCT 'c:' || c_custkey AS node, 0 AS hops
         |  FROM customer WHERE c_nationkey = 1),
         |f0 AS MATERIALIZED (SELECT node FROM v0),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT node, hops FROM v3 ORDER BY node""".stripMargin
    },
    // BPE training re-derivation: the SAME 24 rounds — pair counts from
    // the delimited symbol string, (cnt DESC, a, b) argmax, literal
    // boundary-anchored replace — because left-to-right non-overlapping
    // replace IS greedy BPE merge application in both engines
    "text_bpe_merges" -> {
      val k = 24
      // every chained CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
      // each round references its predecessor twice — inlining would
      // expand the 24-round chain exponentially
      val round = (r: Int) =>
        s"""p$r AS MATERIALIZED (
           |  SELECT s[j] AS a, s[j+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq, s, unnest(range(1, len(s))) AS j
           |        FROM (SELECT freq,
           |                     list_filter(string_split(ws, '||'), x -> x <> '') AS s
           |              FROM w${r - 1})
           |        WHERE len(s) >= 2)
           |  GROUP BY s[j], s[j+1]),
           |b$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
           |w$r AS MATERIALIZED (SELECT freq, replace(ws,
           |          '|' || (SELECT a FROM b$r) || '||' || (SELECT b FROM b$r) || '|',
           |          '|' || (SELECT a FROM b$r) || (SELECT b FROM b$r) || '|') AS ws
           |        FROM w${r - 1})""".stripMargin
      val selects = (1 to k).map(r =>
        s"SELECT CAST($r AS INTEGER) AS rank, a AS lhs, b AS rhs, " +
          s"a || b AS merged, cnt AS pair_count FROM b$r")
        .mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |wrd AS (SELECT unnest(toks) AS word FROM t),
         |wc AS (SELECT word, count(*) AS freq FROM wrd WHERE word <> ''
         |       GROUP BY word HAVING count(*) >= 2),
         |w0 AS MATERIALIZED (
         |       SELECT freq, '||' || regexp_replace(word, '(.)', '\\1||', 'g') AS ws
         |       FROM wc),
         |${(1 to k).map(round).mkString(",\n")}
         |$selects
         |ORDER BY rank""".stripMargin
    },
    // BPE serving replay: the merge chain as 24 nested replaces with
    // patterns read from the PUBLISHED table via scalar subqueries
    "text_bpe_tokenize" -> {
      val chain = (1 to 24).foldLeft(
        "'||' || regexp_replace(word, '(.)', '\\1||', 'g')") { (c, r) =>
        s"replace($c, (SELECT '|' || lhs || '||' || rhs || '|' FROM m WHERE rank = $r), " +
          s"(SELECT '|' || merged || '|' FROM m WHERE rank = $r))"
      }
      s"""WITH m AS (SELECT rank, lhs, rhs, merged
         |           FROM read_parquet('${Bpe.mergesPath(ArtifactWarehouse, "bpe_" + sf)}/*.parquet')),
         |t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |w AS (SELECT doc_id, unnest(toks) AS word FROM t),
         |ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
         |seg AS (SELECT doc_id,
         |          len(list_filter(string_split($chain, '||'), x -> x <> '')) AS n_syms
         |        FROM ww)
         |SELECT doc_id, count(*) AS n_words,
         |       CAST(sum(n_syms) AS BIGINT) AS n_subwords,
         |       floor((CAST(sum(n_syms) AS BIGINT) / count(*)) * 1000000 + 0.5)
         |         / 1000000 AS subword_ratio
         |FROM seg GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },
    "text_bpe_segments" -> {
      val chain = (1 to 24).foldLeft(
        "'||' || regexp_replace(word, '(.)', '\\1||', 'g')") { (c, r) =>
        s"replace($c, (SELECT '|' || lhs || '||' || rhs || '|' FROM m WHERE rank = $r), " +
          s"(SELECT '|' || merged || '|' FROM m WHERE rank = $r))"
      }
      s"""WITH m AS (SELECT rank, lhs, rhs, merged
         |           FROM read_parquet('${Bpe.mergesPath(ArtifactWarehouse, "bpe_" + sf)}/*.parquet')),
         |t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |w AS (SELECT doc_id, unnest(toks) AS word FROM t),
         |ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
         |wc AS (SELECT word, count(*) AS freq FROM ww GROUP BY word),
         |top AS (SELECT word, freq FROM wc ORDER BY freq DESC, word LIMIT 20)
         |SELECT word, freq,
         |       array_to_string(list_filter(string_split($chain, '||'), x -> x <> ''), ' ')
         |         AS segmentation
         |FROM top ORDER BY freq DESC, word""".stripMargin
    },
    // diversity sample replay: the sim_ivf assignment CTEs (published
    // centroids, same fold, same DESC/DESC tie-break), then the same
    // fixed-width string key + (key, vec_id) rank order per cluster
    "pipeline_diverse_sample" ->
      s"""WITH c AS (SELECT list_id, centroid
        |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, "ivf_centroids_" + sf)}/*.parquet')),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
        |      FROM e),
        |nn AS (SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
        |d AS (SELECT nn.vec_id, c.list_id,
        |             list_reduce([nn.nv[i] * c.centroid[i]
        |                          for i in range(1, 1 + len(nn.nv))],
        |                         (x, y) -> x + y) AS dt
        |      FROM nn CROSS JOIN c),
        |b AS (SELECT vec_id, list_id AS cluster, dt FROM (
        |        SELECT vec_id, list_id, dt,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dt DESC, list_id DESC) AS rn
        |        FROM d)
        |      WHERE rn = 1),
        |r AS (SELECT cluster, vec_id, dt,
        |        row_number() OVER (PARTITION BY cluster
        |          ORDER BY lpad(CAST(CAST(floor((1.0 - dt) * 1000000000.0)
        |                                  AS BIGINT) AS VARCHAR), 10, '0'),
        |                   vec_id) AS rank
        |      FROM b)
        |SELECT cluster, CAST(rank AS INTEGER) AS rank, vec_id,
        |       floor(dt * 1000000 + 0.5) / 1000000 AS centroid_dot
        |FROM r WHERE rank <= 4
        |ORDER BY cluster, rank""".stripMargin,
    // time series: same spine, same struct-carrying IGNORE NULLS windows,
    // and the interpolation expression written with the identical IEEE
    // operation order as the Spark side
    "ts_interpolate" ->
      s"""WITH o AS (SELECT o_orderpriority AS priority,
         |                  CAST(o_orderdate AS DATE) AS day, o_totalprice
         |           FROM orders
         |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |             AND o_orderdate < TIMESTAMP '1997-03-01'),
         |s AS (SELECT priority, day, count(*) AS n_orders,
         |             max(o_totalprice) AS v_raw
         |      FROM o GROUP BY priority, day),
         |k AS (SELECT DISTINCT priority FROM o),
         |d AS (SELECT unnest(generate_series(DATE '1997-01-01',
         |                                    DATE '1997-02-28',
         |                                    INTERVAL 1 DAY))::DATE AS day),
         |sp AS (SELECT k.priority, d.day FROM k CROSS JOIN d),
         |b AS (SELECT sp.priority, sp.day, s.n_orders, s.v_raw
         |      FROM sp LEFT JOIN s ON s.priority = sp.priority AND s.day = sp.day),
         |w AS (SELECT priority, day, n_orders, v_raw,
         |        last_value(CASE WHEN v_raw IS NOT NULL
         |                        THEN {'d': day, 'v': v_raw} END IGNORE NULLS)
         |          OVER (PARTITION BY priority ORDER BY day
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         |        first_value(CASE WHEN v_raw IS NOT NULL
         |                         THEN {'d': day, 'v': v_raw} END IGNORE NULLS)
         |          OVER (PARTITION BY priority ORDER BY day
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
         |      FROM b)
         |SELECT priority, strftime(day, '%Y-%m-%d') AS day,
         |       COALESCE(n_orders, 0) AS n_orders,
         |       ${OracleRound.duck("v_raw", 6)} AS v_raw,
         |       ${OracleRound.duck("prev.v", 6)} AS v_locf,
         |       ${OracleRound.duck("nxt.v", 6)} AS v_nocb,
         |       CASE WHEN v_raw IS NOT NULL THEN ${OracleRound.duck("v_raw", 6)}
         |            WHEN prev IS NOT NULL AND nxt IS NOT NULL THEN
         |              ${OracleRound.duck(
               "prev.v + (nxt.v - prev.v) * date_diff('day', prev.d, day)" +
                 " / date_diff('day', prev.d, nxt.d)", 6)}
         |       END AS v_interp
         |FROM w ORDER BY priority, day""".stripMargin,
    "ts_rolling_range" ->
      """WITH o AS (SELECT o_orderpriority AS priority,
        |                  CAST(o_orderdate AS DATE) AS day, o_totalprice
        |           FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |             AND o_orderdate < TIMESTAMP '1997-03-01'),
        |s AS (SELECT priority, day, count(*) AS n_orders,
        |             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_cents
        |      FROM o GROUP BY priority, day),
        |t AS (SELECT priority, day,
        |             date_diff('day', DATE '1997-01-01', day) AS d_off,
        |             n_orders, rev_cents
        |      FROM s)
        |SELECT priority, strftime(day, '%Y-%m-%d') AS day,
        |       rev_cents / 100.0 AS daily_rev,
        |       CAST(sum(rev_cents) OVER w AS BIGINT) / 100.0 AS roll7_rev,
        |       CAST(sum(n_orders) OVER w AS BIGINT) AS roll7_orders,
        |       count(*) OVER w AS roll7_days
        |FROM t
        |WINDOW w AS (PARTITION BY priority ORDER BY d_off
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY priority, day""".stripMargin,
    // EWMA replay: list_reduce uses the first struct as the fold init,
    // exactly like the Spark aggregate over slice(prefix, 2, n-1) with
    // element 1 as zero; 2^-gap weights are exact integer shifts
    "ts_ewma" -> {
      val foldV = "list_reduce(pfx, (acc, s) -> {'d': s.d, " +
        "'v': (1.0 / CAST(1::BIGINT << (s.d - acc.d) AS DOUBLE)) * acc.v" +
        " + (1 - 1.0 / CAST(1::BIGINT << (s.d - acc.d) AS DOUBLE)) * s.v}).v"
      s"""WITH o AS (SELECT o_orderpriority AS priority,
         |                  CAST(o_orderdate AS DATE) AS day, o_totalprice
         |           FROM orders
         |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |             AND o_orderdate < TIMESTAMP '1997-03-01'),
         |s AS (SELECT priority, day, max(o_totalprice) AS v_raw
         |      FROM o GROUP BY priority, day),
         |t AS (SELECT priority, day,
         |             date_diff('day', DATE '1997-01-01', day) AS d_off, v_raw
         |      FROM s),
         |p AS (SELECT priority, day, v_raw,
         |        list_sort(list({'d': d_off, 'v': v_raw})
         |          OVER (PARTITION BY priority ORDER BY d_off
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS pfx
         |      FROM t)
         |SELECT priority, strftime(day, '%Y-%m-%d') AS day,
         |       ${OracleRound.duck("v_raw", 6)} AS v_raw,
         |       ${OracleRound.duck(foldV, 6)} AS ewma
         |FROM p ORDER BY priority, day""".stripMargin
    },
    // seasonal decomposition: the same integer-sum/single-division
    // component math over the zero-filled spine; the residual subtracts
    // the already-rounded components, mirroring the engine exactly
    "ts_seasonal_decompose" ->
      s"""WITH o AS (SELECT o_orderpriority AS priority,
         |                  CAST(o_orderdate AS DATE) AS day
         |           FROM orders
         |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |             AND o_orderdate < TIMESTAMP '1997-03-01'),
         |s AS (SELECT priority, day, count(*) AS n FROM o GROUP BY priority, day),
         |k AS (SELECT DISTINCT priority FROM o),
         |d AS (SELECT unnest(generate_series(DATE '1997-01-01',
         |                                    DATE '1997-02-28',
         |                                    INTERVAL 1 DAY))::DATE AS day),
         |f AS (SELECT k.priority, d.day, coalesce(s.n, 0) AS n
         |      FROM k CROSS JOIN d
         |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
         |w AS (SELECT priority, day, n,
         |        ${OracleRound.duck(
               "CAST(sum(n) OVER wt AS DOUBLE) / count(*) OVER wt", 6)} AS trend,
         |        ${OracleRound.duck(
               "CAST(sum(n) OVER wd AS DOUBLE) / count(*) OVER wd " +
                 "- CAST(sum(n) OVER wa AS DOUBLE) / count(*) OVER wa", 6)} AS seasonal
         |      FROM f
         |      WINDOW wt AS (PARTITION BY priority ORDER BY day
         |                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING),
         |             wd AS (PARTITION BY priority, dayofweek(day)),
         |             wa AS (PARTITION BY priority))
         |SELECT priority, strftime(day, '%Y-%m-%d') AS day, n AS n_orders,
         |       trend, seasonal,
         |       ${OracleRound.duck("n - trend - seasonal", 6)} AS resid
         |FROM w ORDER BY priority, day""".stripMargin,
    // Holt's recurrence replayed as a RECURSIVE CTE marching the
    // calendar day by day — row-wise evaluation with the identical IEEE
    // tree (the level update is spelled out twice inside the trend
    // update on both engines). NOT list_reduce: DuckDB 1.0.0 evaluates
    // struct-lambda fields sequentially with the accumulator mutated in
    // place, so a trend expression referencing acc.l reads the
    // already-updated level — the recursive join has no such hazard.
    "ts_holt" -> {
      val lNew = "0.5 * f.n + 0.5 * (hr.l + hr.b)"
      s"""WITH RECURSIVE o AS (SELECT o_orderpriority AS priority,
         |                  CAST(o_orderdate AS DATE) AS day
         |           FROM orders
         |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |             AND o_orderdate < TIMESTAMP '1997-03-01'),
         |s AS (SELECT priority, day, count(*) AS n FROM o GROUP BY priority, day),
         |k AS (SELECT DISTINCT priority FROM o),
         |d AS (SELECT unnest(generate_series(DATE '1997-01-01',
         |                                    DATE '1997-02-28',
         |                                    INTERVAL 1 DAY))::DATE AS day),
         |f AS MATERIALIZED (
         |      SELECT k.priority, d.day, coalesce(s.n, 0)::BIGINT AS n
         |      FROM k CROSS JOIN d
         |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
         |hr(priority, day, l, b) AS (
         |  SELECT priority, day, CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE)
         |  FROM f WHERE day = DATE '1997-01-01'
         |  UNION ALL
         |  SELECT f.priority, f.day,
         |         $lNew,
         |         0.25 * (($lNew) - hr.l) + 0.75 * hr.b
         |  FROM hr JOIN f ON f.priority = hr.priority
         |             AND f.day = CAST(hr.day + INTERVAL 1 DAY AS DATE))
         |SELECT hr.priority, strftime(hr.day, '%Y-%m-%d') AS day,
         |       f.n AS n_orders,
         |       ${OracleRound.duck("hr.l", 6)} AS level,
         |       ${OracleRound.duck("hr.b", 6)} AS trend,
         |       ${OracleRound.duck("hr.l + hr.b", 6)} AS forecast_next
         |FROM hr JOIN f ON f.priority = hr.priority AND f.day = hr.day
         |ORDER BY hr.priority, hr.day""".stripMargin
    },
    // Holt-Winters replayed as the ts_holt recursive CTE carrying the
    // 7-slot seasonal state as a LIST(DOUBLE) (list comprehension per
    // step — row-wise recursion, no struct-mutation hazard); lNew is
    // spelled out in full inside the trend AND seasonal updates on both
    // engines so the IEEE trees stay bit-identical before 6-dp rounding
    "ts_holt_winters" -> {
      val lNew = "0.5 * (f.n - hr.sv[f.dow + 1]) + 0.5 * (hr.l + hr.b)"
      s"""WITH RECURSIVE o AS (SELECT o_orderpriority AS priority,
         |                  CAST(o_orderdate AS DATE) AS day
         |           FROM orders
         |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |             AND o_orderdate < TIMESTAMP '1997-03-01'),
         |s AS (SELECT priority, day, count(*) AS n FROM o GROUP BY priority, day),
         |k AS (SELECT DISTINCT priority FROM o),
         |d AS (SELECT unnest(generate_series(DATE '1997-01-01',
         |                                    DATE '1997-02-28',
         |                                    INTERVAL 1 DAY))::DATE AS day),
         |f AS MATERIALIZED (
         |      SELECT k.priority, d.day, coalesce(s.n, 0)::BIGINT AS n,
         |             CAST((d.day - DATE '1997-01-01') % 7 AS INTEGER) AS dow
         |      FROM k CROSS JOIN d
         |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
         |hr(priority, day, l, b, sv) AS (
         |  SELECT priority, day, CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE),
         |         [CAST(0.0 AS DOUBLE) for i in range(0, 7)]
         |  FROM f WHERE day = DATE '1997-01-01'
         |  UNION ALL
         |  SELECT f.priority, f.day,
         |         $lNew,
         |         0.25 * (($lNew) - hr.l) + 0.75 * hr.b,
         |         [CASE WHEN i = f.dow
         |               THEN 0.25 * (f.n - ($lNew)) + 0.75 * hr.sv[f.dow + 1]
         |               ELSE hr.sv[CAST(i + 1 AS INTEGER)] END
         |          for i in range(0, 7)]
         |  FROM hr JOIN f ON f.priority = hr.priority
         |             AND f.day = CAST(hr.day + INTERVAL 1 DAY AS DATE))
         |SELECT hr.priority, strftime(hr.day, '%Y-%m-%d') AS day,
         |       f.n AS n_orders,
         |       ${OracleRound.duck("hr.l", 6)} AS level,
         |       ${OracleRound.duck("hr.b", 6)} AS trend,
         |       ${OracleRound.duck("hr.sv[f.dow + 1]", 6)} AS seasonal,
         |       ${OracleRound.duck("hr.l + hr.b + hr.sv[((f.dow + 1) % 7) + 1]", 6)} AS forecast_next
         |FROM hr JOIN f ON f.priority = hr.priority AND f.day = hr.day
         |ORDER BY hr.priority, hr.day""".stripMargin
    },
    // both forecast chains (the ts_holt and ts_holt_winters recursive
    // CTEs) in one WITH RECURSIVE, their 6dp-rounded one-step forecasts
    // joined to next-day actuals, errors folded day-ordered via
    // list_reduce(list_prepend(0.0, ...)) ≡ Spark's zero-init aggregate
    "ts_forecast_eval" -> {
      val lNewH = "0.5 * f.n + 0.5 * (h1.l + h1.b)"
      val lNewW = "0.5 * (f.n - h2.sv[f.dow + 1]) + 0.5 * (h2.l + h2.b)"
      s"""WITH RECURSIVE o AS (SELECT o_orderpriority AS priority,
         |                  CAST(o_orderdate AS DATE) AS day
         |           FROM orders
         |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |             AND o_orderdate < TIMESTAMP '1997-03-01'),
         |s AS (SELECT priority, day, count(*) AS n FROM o GROUP BY priority, day),
         |k AS (SELECT DISTINCT priority FROM o),
         |d AS (SELECT unnest(generate_series(DATE '1997-01-01',
         |                                    DATE '1997-02-28',
         |                                    INTERVAL 1 DAY))::DATE AS day),
         |f AS MATERIALIZED (
         |      SELECT k.priority, d.day, coalesce(s.n, 0)::BIGINT AS n,
         |             CAST((d.day - DATE '1997-01-01') % 7 AS INTEGER) AS dow
         |      FROM k CROSS JOIN d
         |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
         |h1(priority, day, l, b) AS (
         |  SELECT priority, day, CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE)
         |  FROM f WHERE day = DATE '1997-01-01'
         |  UNION ALL
         |  SELECT f.priority, f.day,
         |         $lNewH,
         |         0.25 * (($lNewH) - h1.l) + 0.75 * h1.b
         |  FROM h1 JOIN f ON f.priority = h1.priority
         |             AND f.day = CAST(h1.day + INTERVAL 1 DAY AS DATE)),
         |h2(priority, day, l, b, sv) AS (
         |  SELECT priority, day, CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE),
         |         [CAST(0.0 AS DOUBLE) for i in range(0, 7)]
         |  FROM f WHERE day = DATE '1997-01-01'
         |  UNION ALL
         |  SELECT f.priority, f.day,
         |         $lNewW,
         |         0.25 * (($lNewW) - h2.l) + 0.75 * h2.b,
         |         [CASE WHEN i = f.dow
         |               THEN 0.25 * (f.n - ($lNewW)) + 0.75 * h2.sv[f.dow + 1]
         |               ELSE h2.sv[CAST(i + 1 AS INTEGER)] END
         |          for i in range(0, 7)]
         |  FROM h2 JOIN f ON f.priority = h2.priority
         |             AND f.day = CAST(h2.day + INTERVAL 1 DAY AS DATE)),
         |fc AS (
         |  SELECT 'holt' AS model, priority, day,
         |         ${OracleRound.duck("l + b", 6)} AS fc
         |  FROM h1
         |  UNION ALL
         |  SELECT 'holt_winters', h2.priority, h2.day,
         |         ${OracleRound.duck("h2.l + h2.b + h2.sv[((f.dow + 1) % 7) + 1]", 6)}
         |  FROM h2 JOIN f ON f.priority = h2.priority AND f.day = h2.day),
         |e AS (
         |  SELECT model, fc.priority, fc.day,
         |         fc.fc - CAST(fn.n AS DOUBLE) AS err,
         |         row_number() OVER (PARTITION BY model, fc.priority
         |                            ORDER BY fc.day) AS rn
         |  FROM fc JOIN f fn ON fn.priority = fc.priority
         |                   AND fn.day = CAST(fc.day + INTERVAL 1 DAY AS DATE)),
         |g AS (
         |  SELECT model, priority,
         |         CAST(count(*) AS BIGINT) AS n_eval,
         |         list_reduce(list_prepend(0.0, list(abs(err) ORDER BY day)),
         |                     (x, y) -> x + y) AS abs_sum,
         |         list_reduce(list_prepend(0.0, list(err * err ORDER BY day)),
         |                     (x, y) -> x + y) AS sq_sum
         |  FROM e WHERE rn > 7 GROUP BY model, priority)
         |SELECT model, priority, n_eval,
         |       ${OracleRound.duck("abs_sum / n_eval", 6)} AS mae,
         |       ${OracleRound.duck("sqrt(sq_sum / n_eval)", 6)} AS rmse
         |FROM g ORDER BY model, priority""".stripMargin
    },
    // rolling-MAD anomalies: the trailing frame as a sorted integer list;
    // m2 = 2·median and mad4 = 4·MAD stay integers, the 3.5-MAD flag is
    // pure integer comparison — mirrors the engine bit-for-bit
    "ts_anomaly" ->
      """WITH o AS (SELECT o_orderpriority AS priority,
        |                  CAST(o_orderdate AS DATE) AS day
        |           FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |             AND o_orderdate < TIMESTAMP '1997-03-01'),
        |s AS (SELECT priority, day, count(*) AS n FROM o GROUP BY priority, day),
        |k AS (SELECT DISTINCT priority FROM o),
        |d AS (SELECT unnest(generate_series(DATE '1997-01-01',
        |                                    DATE '1997-02-28',
        |                                    INTERVAL 1 DAY))::DATE AS day),
        |f AS (SELECT k.priority, d.day, coalesce(s.n, 0)::BIGINT AS n
        |      FROM k CROSS JOIN d
        |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
        |w AS (SELECT priority, day, n,
        |             list_sort(list(n) OVER (PARTITION BY priority ORDER BY day
        |               ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)) AS hist
        |      FROM f),
        |m AS (SELECT priority, day, n, hist, len(hist) AS cnt,
        |             hist[(len(hist) + 1) // 2] + hist[len(hist) // 2 + 1] AS m2
        |      FROM w),
        |v AS (SELECT priority, day, n, cnt, m2,
        |             list_sort(list_transform(hist, x -> abs(x * 2 - m2))) AS sdev
        |      FROM m),
        |a AS (SELECT priority, day, n, cnt, m2,
        |             sdev[(cnt + 1) // 2] + sdev[cnt // 2 + 1] AS mad4
        |      FROM v)
        |SELECT priority, strftime(day, '%Y-%m-%d') AS day, n AS n_orders,
        |       CASE WHEN cnt >= 8 THEN m2 / 2.0 END AS med,
        |       CASE WHEN cnt >= 8 THEN mad4 / 4.0 END AS mad,
        |       CASE WHEN cnt >= 8 THEN abs(n * 2 - m2) * 4 > mad4 * 7 END
        |         AS is_anomaly
        |FROM a ORDER BY priority, day""".stripMargin,
    // ACF: pair formation joins the series against its 7 lag-shifted
    // copies; every aggregate is an integer sum, the ratio the same
    // single IEEE expression as the engine
    "ts_acf" ->
      s"""WITH o AS (SELECT o_orderpriority AS priority,
         |                  CAST(o_orderdate AS DATE) AS day
         |           FROM orders
         |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |             AND o_orderdate < TIMESTAMP '1997-03-01'),
         |s AS (SELECT priority, day, count(*) AS n FROM o GROUP BY priority, day),
         |k AS (SELECT DISTINCT priority FROM o),
         |d AS (SELECT unnest(generate_series(DATE '1997-01-01',
         |                                    DATE '1997-02-28',
         |                                    INTERVAL 1 DAY))::DATE AS day),
         |f AS (SELECT k.priority,
         |             date_diff('day', DATE '1997-01-01', d.day) AS d_off,
         |             coalesce(s.n, 0)::BIGINT AS n
         |      FROM k CROSS JOIN d
         |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
         |lg AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS lag),
         |p AS (SELECT a.priority, lg.lag,
         |             count(*) AS n_pairs,
         |             sum(a.n * b.n)::BIGINT AS spp,
         |             sum(a.n)::BIGINT AS s1,
         |             sum(b.n)::BIGINT AS s2
         |      FROM f a
         |      CROSS JOIN lg
         |      JOIN f b ON b.priority = a.priority
         |              AND b.d_off = a.d_off - lg.lag
         |      GROUP BY a.priority, lg.lag),
         |mo AS (SELECT priority, count(*) AS n_tot, sum(n)::BIGINT AS s,
         |              sum(n * n)::BIGINT AS sxx
         |       FROM f GROUP BY priority)
         |SELECT p.priority, p.lag, p.n_pairs,
         |       ${OracleRound.duck(
             "(p.spp - (CAST(mo.s AS DOUBLE) / mo.n_tot) * (p.s1 + p.s2)" +
               " + p.n_pairs * ((CAST(mo.s AS DOUBLE) / mo.n_tot)" +
               " * (CAST(mo.s AS DOUBLE) / mo.n_tot)))" +
               " / (mo.sxx - mo.n_tot * ((CAST(mo.s AS DOUBLE) / mo.n_tot)" +
               " * (CAST(mo.s AS DOUBLE) / mo.n_tot)))", 6)} AS acf
         |FROM p JOIN mo ON mo.priority = p.priority
         |ORDER BY p.priority, p.lag""".stripMargin,
    // CUSUM: the sequential fold is replayed via list_reduce with a
    // prepended 0 (≡ the Spark aggregate's zero init); all longs, so the
    // fold is bit-identical — no tolerance anywhere
    "ts_cusum" ->
      """WITH o AS (SELECT o_orderpriority AS priority,
        |                  CAST(o_orderdate AS DATE) AS day
        |           FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |             AND o_orderdate < TIMESTAMP '1997-03-01'),
        |s AS (SELECT priority, day, count(*) AS n FROM o GROUP BY priority, day),
        |k AS (SELECT DISTINCT priority FROM o),
        |d AS (SELECT unnest(generate_series(DATE '1997-01-01',
        |                                    DATE '1997-02-28',
        |                                    INTERVAL 1 DAY))::DATE AS day),
        |f AS (SELECT k.priority, d.day, coalesce(s.n, 0)::BIGINT AS n
        |      FROM k CROSS JOIN d
        |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
        |w AS (SELECT priority, day, n,
        |             count(*) OVER (PARTITION BY priority) AS n_tot,
        |             CAST(sum(n) OVER (PARTITION BY priority) AS BIGINT) AS s_tot,
        |             list(n) OVER (PARTITION BY priority ORDER BY day
        |               ROWS UNBOUNDED PRECEDING) AS pre
        |      FROM f),
        |c AS (SELECT priority, day, n, s_tot,
        |             list_reduce(list_prepend(CAST(0 AS BIGINT),
        |               list_transform(pre, x -> x * 2 * n_tot - 3 * s_tot)),
        |               (a, b) -> greatest(CAST(0 AS BIGINT), a + b)) AS cusum_up,
        |             list_reduce(list_prepend(CAST(0 AS BIGINT),
        |               list_transform(pre, x -> s_tot - x * 2 * n_tot)),
        |               (a, b) -> greatest(CAST(0 AS BIGINT), a + b)) AS cusum_dn
        |      FROM w)
        |SELECT priority, strftime(day, '%Y-%m-%d') AS day, n AS n_orders,
        |       cusum_up, cusum_dn,
        |       cusum_up > 4 * s_tot AS up_alarm,
        |       cusum_dn > 4 * s_tot AS dn_alarm
        |FROM c ORDER BY priority, day""".stripMargin,
    )
  }

  /** Exact word-shingle jaccard pairs (threshold 0.5) — the oracle for
    * BOTH dedup_ngram_jaccard (computes exactly this) and
    * dedup_minhash_lsh (LSH candidates + exact verification ≡ the same
    * set at banding recall 1.0).
    */
  private def exactJaccardOracle: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |s AS (SELECT doc_id,
       |             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
       |                                   for i in range(1, len(toks) - 1)])) AS sh
       |      FROM t),
       |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |      GROUP BY a.doc_id, b.doc_id)
       |SELECT * FROM (
       |  SELECT doc_a, doc_b,
       |         CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
       |  FROM p
       |  JOIN sz na ON na.doc_id = doc_a
       |  JOIN sz nb ON nb.doc_id = doc_b)
       |WHERE jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Fragment → compact → publish, ONCE per data dir (same memo contract
    * as Dedup.sharedNearDupClusters): documents are splintered into 64
    * micro-batch-sized parquet files, then rewritten by
    * [[graft.engine.Compaction.compactTo]]. pipeline_compacted_corpus
    * reads the compacted table, closing the operational loop under the
    * driver's oracle.
    */
  private def compactedDocsDir(s: SparkSession, d: String): String =
    PublishGuard.once("compacted_docs", d) {
      val frag = java.nio.file.Files.createTempDirectory("graft-frag").toString
      val dst = java.nio.file.Files.createTempDirectory("graft-compacted").toString
      Tables.documents(s, d).repartition(64).write.mode("overwrite").parquet(frag)
      graft.engine.Compaction.compactTo(s, frag, dst)
      dst
    }

  /** Range-clustered lineitem rewrite (graft.engine.Layout), memoized per
    * sf dir like [[compactedDocsDir]]: 16 files tiling l_shipdate, so the
    * one-month scan in pipeline_clustered_scan is file-prunable. The query
    * READS THE CLUSTERED OUTPUT — a rewrite that lost or mangled rows
    * fails the DuckDB compare against the original table.
    */
  private def clusteredLineitemDir(s: SparkSession, d: String): String =
    PublishGuard.once("clustered_lineitem", d) {
      val dst = java.nio.file.Files.createTempDirectory("graft-clustered").toString
      graft.engine.Layout.clusteredWrite(
        Tables.lineitem(s, d), "l_shipdate", dst, nFiles = 16)
      dst
    }

  /** Per-file min/max manifest over the clustered lineitem table
    * ([[clusteredLineitemDir]] — compute-once shared), memoized per sf
    * dir: pipeline_manifest_scan plans its file list from this table
    * (a nested [[PublishGuard.once]] — builds run outside the map lock).
    */
  private def manifestLineitemDirs(s: SparkSession, d: String): (String, String) =
    PublishGuard.once("lineitem_manifest", d) {
      val table = clusteredLineitemDir(s, d)
      val mdir = java.nio.file.Files.createTempDirectory("graft-manifest").toString
      graft.engine.Layout.buildManifest(s, table, "l_shipdate", mdir)
      (table, mdir)
    }

  /** Z-ordered lineitem rewrite (Layout.zorderWrite on l_shipdate ×
    * l_partkey), memoized per sf dir like the sibling layouts:
    * pipeline_zorder_scan's 2-D filter box prunes files in BOTH
    * dimensions on the Morton-clustered table.
    */
  private def zorderedLineitemDir(s: SparkSession, d: String): String =
    PublishGuard.once("zordered_lineitem", d) {
      val dst = java.nio.file.Files.createTempDirectory("graft-zorder").toString
      graft.engine.Layout.zorderWrite(
        Tables.lineitem(s, d), Seq("l_shipdate", "l_partkey"), dst, nFiles = 16)
      dst
    }

  /** Two-generation (schema-evolved) documents split
    * (Layout.evolvedWrite), memoized per sf dir: v1 files predate the
    * lang/n_chars columns, v2 carries them; pipeline_schema_evolution
    * reads both generations as one table via mergeSchema and the DuckDB
    * compare replays the deterministic parity split on the ORIGINAL
    * documents table.
    */
  private def evolvedDocsDirs(s: SparkSession, d: String): (String, String) =
    PublishGuard.once("evolved_docs", d) {
      val base = java.nio.file.Files.createTempDirectory("graft-evolved").toString
      graft.engine.Layout.evolvedWrite(
        Tables.documents(s, d), s"$base/v1", s"$base/v2")
      (s"$base/v1", s"$base/v2")
    }

  /** Bucketed orders+lineitem catalog tables (Layout.bucketedWrite),
    * memoized per sf dir: both bucketed 8-ways on the order key, so
    * pipeline_bucketed_join's sort-merge join plans with NO Exchange on
    * either side (LayoutSpec asserts the plan; the DuckDB compare
    * against the ORIGINAL parquet catches a rewrite that lost rows).
    * Returns the two table names.
    */
  private def bucketedOrderTables(s: SparkSession, d: String): (String, String) =
    PublishGuard.once("bucketed_tables", d) {
      val slug = d.split('/').last.replace('.', '_').replace('-', '_')
      val (to, tl) = (s"graft_b_orders_$slug", s"graft_b_lineitem_$slug")
      graft.engine.Layout.bucketedWrite(
        Tables.orders(s, d), to, "o_orderkey", buckets = 8)
      graft.engine.Layout.bucketedWrite(
        Tables.lineitem(s, d), tl, "l_orderkey", buckets = 8)
      (to, tl)
    }

  /** The join pipeline_bucketed_join runs — exposed so LayoutSpec can
    * assert the exchange-free plan on the identical frame. The merge
    * hints keep the demonstration a SortMergeJoin even at test SF
    * (broadcast would bypass the bucket co-location being shown).
    */
  private[graft] def bucketedJoinFrame(s: SparkSession, d: String): DataFrame = {
    val (to, tl) = bucketedOrderTables(s, d)
    s.table(to).hint("merge")
      .join(s.table(tl).hint("merge"),
        col("o_orderkey") === col("l_orderkey"))
  }

  /** Source-partitioned documents rewrite (Layout.partitionedWrite),
    * memoized per sf dir: pipeline_partitioned_scan's source filter prunes
    * at planning to one directory (LayoutSpec asserts the listing metric).
    */
  private def partitionedDocsDir(s: SparkSession, d: String): String =
    PublishGuard.once("partitioned_docs", d) {
      val dst = java.nio.file.Files.createTempDirectory("graft-partitioned").toString
      graft.engine.Layout.partitionedWrite(Tables.documents(s, d), "source", dst)
      dst
    }

  /** DuckDB expression for TextAnalysis.normalize / tokens (kept adjacent to
    * the Spark definitions so the two dialects stay in lock-step).
    */
  private def duckNorm: String =
    "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
  private def duckToks: String =
    s"string_split($duckNorm, ' ')"

  /** Shared oracle CTE chain for the IVF embedding-serving queries: both
    * published tables replayed — nearest-centroid assignment and nprobe
    * probe lists off the (list_id, centroid) table, exact-cosine rerank
    * of the probed buckets only, ranked into `ivf`. One definition for
    * all four consumers (pruned + honesty-join variants of neighbors and
    * link prediction — round 16); `linkPred` cuts the candidate set to
    * the supplier side and anti-joins current adjacency BEFORE the rank.
    */
  /** `nprobe` parametrizes the probe-list cut (the pruned link-prediction
    * spelling defaults to 8 since round 17 — verdict item 4's recall
    * floor). `hier = Some((ngroups, giters, gprobe))` replays the
    * TWO-LEVEL probe selection: group table read from the published
    * parquet, centroid→group map derived as `row_number() OVER
    * (PARTITION BY list_id ORDER BY gdt DESC, group_id DESC) = 1` (the
    * [[graft.operators.Similarity.assignGroup]] total order), query
    * probes restricted to the top-gprobe groups' members.
    */
  private def ivfServingCtes(
      sf: String, linkPred: Boolean, nprobe: Int = 4,
      hier: Option[(Int, Int, Int)] = None): String = {
    val adjCte = if (linkPred)
      """adj AS (SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
        |        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |""".stripMargin
    else ""
    val candExtra = if (linkPred)
      """ AND a.node LIKE 's:%'
        |           AND NOT EXISTS (SELECT 1 FROM adj b
        |                           WHERE b.u = p.query AND b.v = a.node)"""
        .stripMargin
    else ""
    s"""c AS (SELECT list_id, centroid
      |           FROM read_parquet('${graft.operators.Similarity.ivfCentroidsPath(ArtifactWarehouse, "node_emb_ivf_" + sf)}/*.parquet')),
      |emb AS (SELECT node, vec::DOUBLE[] AS v
      |        FROM read_parquet('${graft.operators.Graph.nodeEmbeddingPath(
                ArtifactWarehouse, "node_emb_" + sf)}/*.parquet')),
      |n AS MATERIALIZED (
      |  SELECT node, v,
      |         sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
      |  FROM emb),
      |nn AS (SELECT node, v, nrm, [x / nrm for x in v] AS nv FROM n),
      |d AS MATERIALIZED (
      |  SELECT nn.node, c.list_id,
      |         list_reduce([nn.nv[i] * c.centroid[i]
      |                      for i in range(1, 1 + len(nn.nv))],
      |                     (x, y) -> x + y) AS dt
      |  FROM nn CROSS JOIN c),
      |a AS (SELECT node, list_id AS cluster FROM (
      |        SELECT node, list_id,
      |               row_number() OVER (PARTITION BY node
      |                                  ORDER BY dt DESC, list_id DESC) AS rn
      |        FROM d)
      |      WHERE rn = 1),
      |qs AS (SELECT DISTINCT 'c:' || o_custkey AS node FROM orders
      |       WHERE o_custkey < 10),
      |${adjCte}${hierCtes(sf, hier)}p AS (SELECT query, list_id FROM (
      |        SELECT d.node AS query, d.list_id,
      |               row_number() OVER (PARTITION BY d.node
      |                                  ORDER BY d.dt DESC, d.list_id DESC) AS rn
      |        FROM d JOIN qs ON qs.node = d.node${hierProbeFilter(hier)})
      |      WHERE rn <= $nprobe),
      |q AS (SELECT n.node AS query, n.v AS qv, n.nrm AS qn
      |      FROM n JOIN qs ON qs.node = n.node),
      |cand AS (SELECT p.query, a.node
      |         FROM a JOIN p ON a.cluster = p.list_id
      |         WHERE a.node <> p.query$candExtra),
      |s AS (SELECT cand.query, cand.node,
      |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
      |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
      |      FROM cand JOIN n ON n.node = cand.node
      |      JOIN q ON q.query = cand.query),
      |ivf AS (SELECT query, rank, node, cosine FROM (
      |          SELECT *, row_number() OVER (PARTITION BY query
      |                                       ORDER BY cosine DESC, node) AS rank
      |          FROM s)
      |        WHERE rank <= 5)""".stripMargin
  }

  /** The two-level probe-selection CTEs (round 17): the published group
    * table, the DERIVED centroid→group map, and each query's top-gprobe
    * group set — every fold/tie-break the argmax total order the Spark
    * expressions use.
    */
  private def hierCtes(sf: String, hier: Option[(Int, Int, Int)]): String =
    hier match {
      case None => ""
      case Some((ngroups, giters, gprobe)) =>
        s"""g AS (SELECT group_id, centroid
          |       FROM read_parquet('${graft.operators.Similarity.ivfGroupsPath(
                   ArtifactWarehouse, "node_emb_ivf_" + sf, 16, 3,
                   ngroups, giters)}/*.parquet')),
          |cmap AS (SELECT list_id, group_id FROM (
          |           SELECT c.list_id, g.group_id,
          |                  row_number() OVER (PARTITION BY c.list_id
          |                    ORDER BY list_reduce(
          |                      [c.centroid[i] * g.centroid[i]
          |                       for i in range(1, 1 + len(c.centroid))],
          |                      (x, y) -> x + y) DESC, g.group_id DESC) AS rn
          |           FROM c CROSS JOIN g)
          |         WHERE rn = 1),
          |qg AS (SELECT node, group_id FROM (
          |         SELECT nn.node, g.group_id,
          |                row_number() OVER (PARTITION BY nn.node
          |                  ORDER BY list_reduce(
          |                    [nn.nv[i] * g.centroid[i]
          |                     for i in range(1, 1 + len(nn.nv))],
          |                    (x, y) -> x + y) DESC, g.group_id DESC) AS rn
          |         FROM nn JOIN qs ON qs.node = nn.node CROSS JOIN g)
          |       WHERE rn <= $gprobe),
          |""".stripMargin
    }

  /** Probe-candidate restriction to the selected groups' members — the
    * stage-2 cut of the two-level selection.
    */
  private def hierProbeFilter(hier: Option[(Int, Int, Int)]): String =
    if (hier.isEmpty) ""
    else
      """
        |        JOIN cmap m ON m.list_id = d.list_id
        |        JOIN qg ON qg.node = d.node AND qg.group_id = m.group_id"""
        .stripMargin

  /** Shared oracle CTE chain for the GraphSAGE queries: the trade
    * edges, the hash-ranked sampled adjacency, and the hop-0/1/2 tree —
    * one definition so graph_sage_sample and graph_sage_aggregate can
    * never disagree about which tree was sampled.
    */
  private def sageTreeCtes: String = {
    def hex(expr: String) = duckHexFold(expr)
    s"""base AS MATERIALIZED (
       |  SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |sym AS (SELECT DISTINCT u, v
       |        FROM (SELECT u, v FROM base UNION ALL SELECT v, u FROM base)),
       |rk AS MATERIALIZED (
       |  SELECT u, v, rnk FROM (
       |    SELECT u, v,
       |           row_number() OVER (PARTITION BY u
       |                              ORDER BY ${hex("'sage:' || u || ':' || v")},
       |                                       v) AS rnk
       |    FROM sym)
       |  WHERE rnk <= 3),
       |h0 AS (SELECT 'c:' || c_custkey AS seed, 0 AS hop,
       |              CAST(NULL AS VARCHAR) AS parent,
       |              'c:' || c_custkey AS node, 0 AS branch
       |       FROM customer WHERE c_custkey % 97 = 1),
       |h1 AS MATERIALIZED (
       |  SELECT h.seed, 1 AS hop, h.node AS parent, r.v AS node,
       |         CAST(r.rnk AS INTEGER) AS branch
       |  FROM h0 h JOIN rk r ON r.u = h.node AND r.rnk <= 3),
       |h2 AS (
       |  SELECT h.seed, 2 AS hop, h.node AS parent, r.v AS node,
       |         CAST(r.rnk AS INTEGER) AS branch
       |  FROM h1 h JOIN rk r ON r.u = h.node AND r.rnk <= 2)"""
  }

  /** Shared oracle CTE chain for the random-walk queries: trade edges,
    * id-ranked neighbors with degree, the walk starts, and the four
    * unrolled hex-fold steps — one definition so graph_random_walks and
    * graph_walk_context_pairs can never disagree about the walk corpus.
    */
  private def walkTreeCtes: String = {
    def hex(expr: String) = duckHexFold(expr)
    val steps = (1 to 4).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT w.walk_id, $t AS step, r.v AS node
         |  FROM w${t - 1} w JOIN rk r ON r.u = w.node
         |   AND r.rnk = ${hex(s"'rw:' || w.walk_id || ':$t'")} % r.outdeg)"""
    }.mkString(",\n")
    s"""base AS MATERIALIZED (
       |  SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |sym AS (SELECT DISTINCT u, v
       |        FROM (SELECT u, v FROM base UNION ALL SELECT v, u FROM base)),
       |rk AS MATERIALIZED (
       |  SELECT u, v,
       |         row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS rnk,
       |         count(*) OVER (PARTITION BY u) AS outdeg
       |  FROM sym),
       |w0 AS MATERIALIZED (
       |  SELECT u AS walk_id, 0 AS step, u AS node
       |  FROM (SELECT DISTINCT u FROM base)),
       |$steps"""
  }

  /** Shared oracle CTE chain for the node2vec queries: trade edges,
    * ranked neighbors, the adjacency flag, the uniform step 1, and the
    * three unrolled weighted inverse-CDF steps — one definition so
    * graph_node2vec_walks and graph_node2vec_context_pairs can never
    * disagree about the biased walk corpus.
    */
  private def node2vecTreeCtes: String = {
    def hex(expr: String) = duckHexFold(expr)
    val steps = (2 to 4).map { t =>
      s"""c$t AS (
         |  SELECT w.walk_id, w.prev, w.node AS cur, r.v AS x,
         |         CAST(${hex(s"'n2v:' || w.walk_id || ':$t'")} AS DOUBLE)
         |           / 4503599627370496.0 AS u01
         |  FROM d${t - 1} w JOIN rk r ON r.u = w.node),
         |wt$t AS (
         |  SELECT c.*, CASE WHEN c.x = c.prev THEN 0.25
         |                   WHEN coalesce(ad.adj, FALSE) THEN 1.0
         |                   ELSE 4.0 END AS w
         |  FROM c$t c LEFT JOIN ad ON ad.prev = c.prev AND ad.x = c.x),
         |d$t AS MATERIALIZED (
         |  SELECT walk_id, $t AS step, cur AS prev, x AS node FROM (
         |    SELECT walk_id, cur, x,
         |           row_number() OVER (PARTITION BY walk_id
         |                              ORDER BY x) AS rn_pick
         |    FROM (
         |      SELECT walk_id, cur, x, u01,
         |             sum(w) OVER (PARTITION BY walk_id ORDER BY x
         |                          ROWS UNBOUNDED PRECEDING) AS cum,
         |             sum(w) OVER (PARTITION BY walk_id) AS total
         |      FROM wt$t)
         |    WHERE cum >= u01 * total)
         |  WHERE rn_pick = 1)""".stripMargin
    }.mkString(",\n")
    s"""base AS MATERIALIZED (
       |  SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |sym AS MATERIALIZED (
       |  SELECT DISTINCT u, v
       |  FROM (SELECT u, v FROM base UNION ALL SELECT v, u FROM base)),
       |rk AS MATERIALIZED (
       |  SELECT u, v,
       |         row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS rnk,
       |         count(*) OVER (PARTITION BY u) AS outdeg
       |  FROM sym),
       |ad AS MATERIALIZED (SELECT u AS prev, v AS x, TRUE AS adj FROM sym),
       |w0 AS MATERIALIZED (
       |  SELECT u AS walk_id, 0 AS step, CAST(NULL AS VARCHAR) AS prev,
       |         u AS node
       |  FROM (SELECT DISTINCT u FROM base)),
       |d1 AS MATERIALIZED (
       |  SELECT w.walk_id, 1 AS step, w.node AS prev, r.v AS node
       |  FROM w0 w JOIN rk r ON r.u = w.node
       |   AND r.rnk = ${hex("'n2v:' || w.walk_id || ':1'")} % r.outdeg),
       |$steps"""
  }

  /** Shared 52-bit md5 hex fold (the engine's deterministic uniform) —
    * one definition for every oracle that embeds it; call sites keep a
    * local `hex` alias for readability. The embedded margins survive
    * the caller's stripMargin unchanged.
    */
  private def duckHexFold(expr: String): String =
    s"""CAST(list_reduce(
       |           [CAST(strpos('0123456789abcdef',
       |                        substr(md5($expr), hd, 1)) - 1 AS BIGINT)
       |            for hd in range(1, 14)],
       |           (a, cc) -> a * 16 + cc) AS BIGINT)"""

  /** Shared oracle CTE prefix for the temperature-mixture queries: the
    * per-source char-mass grid, sqrt(sqrt()) weights, source-ordered
    * fold total, and the largest-remainder integer quota fill — the
    * DuckDB mirror of `Curation.temperatureQuotas` (k = 100).
    */
  private def tempQuotaCtes: String =
    """g AS (SELECT source, count(*) AS n_docs,
      |             CAST(sum(n_chars) AS BIGINT) AS sz
      |      FROM documents GROUP BY 1),
      |w AS (SELECT source, n_docs, sz,
      |             sqrt(sqrt(CAST(sz AS DOUBLE))) AS wt FROM g),
      |tt AS (SELECT list_reduce(list(wt ORDER BY source),
      |                          (a, b) -> a + b) AS t FROM w),
      |tg AS (SELECT source, n_docs, sz, wt / tt.t AS p,
      |              100 * (wt / tt.t) AS target FROM w CROSS JOIN tt),
      |b AS (SELECT source, n_docs, sz, p,
      |             CAST(floor(target) AS BIGINT) AS base,
      |             floor((target - floor(target)) * 1000000000 + 0.5)
      |               / 1000000000 AS rem
      |      FROM tg),
      |lo AS (SELECT 100 - sum(base) AS leftover FROM b),
      |r AS (SELECT b.*, lo.leftover,
      |             row_number() OVER (ORDER BY rem DESC, source) AS rk
      |      FROM b CROSS JOIN lo),
      |q AS (SELECT source, n_docs, sz,
      |             floor(p * 1000000 + 0.5) / 1000000 AS p,
      |             CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
      |                  AS INTEGER) AS quota
      |      FROM r)""".stripMargin

  /** Shared oracle CTE prefix for the published-classifier queries:
    * hashed UNIGRAM buckets, the dense ×64-scaled frequency terms joined
    * with the published `(pos, w)` weight table (bias at pos = 64), the
    * language-ID reference labels, and the per-doc margin fold (`sc`) —
    * the DuckDB mirror of `Curation.qualityClassifierScores`.
    */
  private def clfScoreCtes(sf: String): String = {
    val langs = TextAnalysis.langMarkers.map(_._1)
    val scores = TextAnalysis.langMarkers.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_intersect(dtoks, $lst)) AS s_$l"
    }.mkString(",\n       ")
    val bestExpr = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    // 'en' is FIRST in the langPredOf when-chain, so lang_pred = 'en'
    // iff best > 0 AND s_en = best — the label needs no full case chain
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |lm AS (SELECT doc_id, list_distinct(toks) AS dtoks FROM t),
       |ls AS (SELECT doc_id,
       |       $scores
       |FROM lm),
       |lp AS (SELECT doc_id,
       |       CASE WHEN best > 0 AND s_en = best THEN 1 ELSE 0 END AS label
       |FROM (SELECT *, $bestExpr AS best FROM ls)),
       |wt AS (SELECT pos, w
       |       FROM read_parquet('${Curation.classifierWeightsPath(ArtifactWarehouse, "clf_weights_" + sf)}/*.parquet')),
       |tk AS (SELECT doc_id, unnest(toks) AS tk FROM t),
       |bc AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(list_reduce(
       |           [CAST(strpos('0123456789abcdef',
       |                        substr(md5('dsir:' || tk), hd, 1)) - 1 AS BIGINT)
       |            for hd in range(1, 14)],
       |           (a, cc) -> a * 16 + cc) AS BIGINT) % 64 AS b
       |  FROM tk),
       |pd AS (SELECT doc_id, b, count(*) AS c FROM bc GROUP BY doc_id, b),
       |dn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams
       |       FROM pd GROUP BY doc_id),
       |grid AS (SELECT range AS pos FROM range(0, 64)),
       |terms AS (
       |  SELECT dn.doc_id, g.pos,
       |         (CAST(coalesce(pd.c, 0) AS DOUBLE) * 64 / dn.n_grams)
       |           * wt.w AS trm
       |  FROM dn CROSS JOIN grid g
       |  LEFT JOIN pd ON pd.doc_id = dn.doc_id AND pd.b = g.pos
       |  JOIN wt ON wt.pos = g.pos),
       |sc AS (SELECT tm.doc_id, dn.n_grams,
       |              list_reduce(list_prepend(0.0,
       |                list(tm.trm ORDER BY tm.pos)), (a, x) -> a + x)
       |              + (SELECT w FROM wt WHERE pos = 64) AS z
       |       FROM terms tm JOIN dn ON dn.doc_id = tm.doc_id
       |       GROUP BY tm.doc_id, dn.n_grams)""".stripMargin
  }

  /** Shared oracle CTE prefix for the DSIR queries: bag-of-hashed-bigram
    * buckets (52-bit md5 fold mod 64), per-doc bucket counts, the
    * Laplace-smoothed dense-grid log ratios, and the bucket-ordered
    * per-doc term lists (`w`) — the DuckDB mirror of
    * `Curation.dsirLogWeights` up to the final fold.
    */
  private def dsirWeightsCtes: String =
    s"""WITH t AS (SELECT doc_id, lang, $duckToks AS toks FROM documents),
       |bg AS (SELECT doc_id, lang,
       |              unnest(CASE WHEN len(toks) >= 2
       |                     THEN [array_to_string(toks[i:i+1], ' ')
       |                           for i in range(1, len(toks))]
       |                     ELSE [] END) AS bg
       |       FROM t),
       |bc AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |         CAST(list_reduce(
       |           [CAST(strpos('0123456789abcdef',
       |                        substr(md5('dsir:' || bg), hd, 1)) - 1 AS BIGINT)
       |            for hd in range(1, 14)],
       |           (a, cc) -> a * 16 + cc) AS BIGINT) % 64 AS b
       |  FROM bg),
       |pd AS (SELECT doc_id, b, count(*) AS c FROM bc GROUP BY doc_id, b),
       |rb AS MATERIALIZED (SELECT b, count(*) AS r_b FROM bc GROUP BY b),
       |tb AS MATERIALIZED (
       |  SELECT b, count(*) AS t_b FROM bc WHERE lang = 'en' GROUP BY b),
       |tot AS (SELECT (SELECT CAST(sum(r_b) AS BIGINT) FROM rb) AS r_tot,
       |               (SELECT CAST(sum(t_b) AS BIGINT) FROM tb) AS t_tot),
       |grid AS (SELECT range AS b FROM range(0, 64)),
       |l AS (SELECT g.b,
       |             (ln(CAST(coalesce(tb.t_b, 0) + 1 AS DOUBLE)
       |                 / (tot.t_tot + 64))
       |            - ln(CAST(coalesce(rb.r_b, 0) + 1 AS DOUBLE)
       |                 / (tot.r_tot + 64))) AS l_b
       |      FROM grid g
       |      LEFT JOIN rb ON rb.b = g.b
       |      LEFT JOIN tb ON tb.b = g.b
       |      CROSS JOIN tot),
       |w AS (SELECT pd.doc_id, CAST(sum(pd.c) AS BIGINT) AS n_grams,
       |             list(pd.c * l.l_b ORDER BY pd.b) AS terms
       |      FROM pd JOIN l ON l.b = pd.b GROUP BY pd.doc_id)""".stripMargin

  /** Shared oracle CTE prefix for the curation pipeline family: shingles →
    * exact jaccard pairs → recursive-CTE connected components (`clus`),
    * plus language prediction (`lp`) and quality (`qq`) — the DuckDB
    * mirror of `Curation.curatedCorpusFromClusters`'s upstream. Final
    * SELECTs differ per query (pipeline_curated_corpus,
    * pipeline_release_gate).
    */
  private def curationCtePrefix: String = {
    val langs = TextAnalysis.langMarkers.map(_._1)
    val scores = TextAnalysis.langMarkers.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_intersect(dtoks, $lst)) AS s_$l"
    }.mkString(",\n       ")
    val bestExpr = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val caseArms = langs.map(l => s"WHEN s_$l = best THEN '$l'").mkString("\n            ")
    s"""WITH RECURSIVE
       |t AS (SELECT doc_id, text, $duckToks AS toks FROM documents),
       |s AS (SELECT doc_id,
       |             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
       |                                   for i in range(1, len(toks) - 1)])) AS sh
       |      FROM t),
       |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |      GROUP BY a.doc_id, b.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM p
       |  JOIN sz na ON na.doc_id = doc_a
       |  JOIN sz nb ON nb.doc_id = doc_b
       |  WHERE CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.5),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |clus AS (SELECT d.doc_id, coalesce(min(r.v), d.doc_id) AS cluster_id
       |         FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
       |         GROUP BY d.doc_id),
       |lm AS (SELECT doc_id, list_distinct(toks) AS dtoks FROM t),
       |ls AS (SELECT doc_id,
       |       $scores
       |FROM lm),
       |lp AS (SELECT doc_id,
       |       CASE WHEN best <= 0 THEN 'und'
       |            $caseArms
       |            ELSE 'und' END AS lang_pred
       |FROM (SELECT *, $bestExpr AS best FROM ls)),
       |q AS (SELECT doc_id,
       |       floor(((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000 AS punct_ratio,
       |       floor((len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)) * 10000 + 0.5) / 10000 AS distinct_ratio,
       |       CAST(len(toks) AS INTEGER) AS n_tokens
       |FROM t),
       |qq AS (SELECT doc_id, n_tokens,
       |       floor((CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
       |             + CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END
       |             + distinct_ratio * 0.3) * 10000 + 0.5) / 10000 AS quality
       |FROM q)""".stripMargin
  }
}
