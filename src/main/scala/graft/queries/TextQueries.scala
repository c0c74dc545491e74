package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.engine.PublishGuard.ArtifactWarehouse
import graft.operators.{Bpe, Dedup, TextAnalysis}
import DuckSql._

/** Text queries over `documents`: analysis (`text_*`), deduplication
  * (`dedup_*`), lexical retrieval (inverted index, BM25, phrase and
  * substring spans) and the BPE tokenizer.
  */
object TextQueries {

  /** The slug the BPE merges publish under; the constructors write and the
    * oracles read the same table, both derived from the data dir.
    */
  def bpeSlug(d: String): String = s"bpe_${sfOf(d)}"

  val specs: Seq[QuerySpec] = Seq(
    // ── text analysis over documents (LLM-pipeline operators) ───────────
    QuerySpec("text_token_counts", (s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
        s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents)
           |SELECT doc_id,
           |       CAST(len(toks) AS INTEGER) AS n_tokens,
           |       CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
           |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_lex_tokens,
           |       CAST(length(text) AS INTEGER) AS n_chars_raw
           |FROM t ORDER BY doc_id""".stripMargin),
    QuerySpec("text_lang_id", (s, d) =>
      TextAnalysis.languageId(Tables.documents(s, d)).orderBy("doc_id"),
      _ => {
        val scores = langScoreCols(lst => s"CAST(len(list_intersect(toks, $lst)) AS INTEGER)")
        s"""WITH t AS (SELECT doc_id, lang AS lang_actual, list_distinct($duckToks) AS toks FROM documents),
           |s AS (SELECT doc_id, lang_actual,
           |       $scores
           |FROM t),
           |b AS (SELECT *, $langBest AS best FROM s)
           |SELECT doc_id, lang_actual,
           |       CASE WHEN best <= 0 THEN 'und'
           |            $langCaseArms
           |            ELSE 'und' END AS lang_pred,
           |       ${langs.map(l => s"s_$l").mkString(", ")}
           |FROM b ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("text_quality", (s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d)).orderBy("doc_id"),
      _ => {
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
      }),
    QuerySpec("text_fingerprints", (s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
        s"""WITH t AS (SELECT doc_id, $duckNorm AS norm, $duckToks AS toks FROM documents)
           |SELECT doc_id,
           |       md5(norm) AS fp_exact,
           |       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp_bag
           |FROM t ORDER BY doc_id""".stripMargin),
    // the md5-keyed SQL-expressible winnow, hash-checked against DuckDB
    // (the xxhash64 production form stays the scale default, spec-anchored
    // in OperatorsSpec — same split as dedup_simhash_*)
    QuerySpec("text_winnow_fingerprints", (s, d) =>
      TextAnalysis.winnowedFingerprintsSql(Tables.documents(s, d))
        .orderBy("doc_id"),
      // text_winnow_fingerprints: the md5-keyed 60-bit variant is exact SQL —
      // shingle hash = first 15 hex digits of md5(shingle) as base-16
      // (folded digit-by-digit in BIGINT), then min-per-window / distinct /
      // sort, serialized to CSV at the oracle edge. (The xxhash64 form has
      // no DuckDB counterpart and stays spec-anchored.)
      _ =>
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
           |FROM wn ORDER BY doc_id""".stripMargin),
    // ── deduplication (LLM-pipeline operators) ──────────────────────────
    QuerySpec("dedup_exact_docs", (s, d) =>
      Dedup.exactDedup(Tables.documents(s, d)).orderBy("keep_id"),
      _ =>
        s"""WITH t AS (SELECT doc_id, md5($duckNorm) AS fp_exact FROM documents)
           |SELECT min(doc_id) AS keep_id, count(*) AS n_dups, fp_exact
           |FROM t GROUP BY fp_exact ORDER BY keep_id""".stripMargin),
    QuerySpec("dedup_ngram_jaccard", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.ngramJaccardPairs(docs,
        shingles = Some(Dedup.sharedDocShingles(docs, cacheKey = d)))
        .orderBy("doc_a", "doc_b")
    },
      _ => exactJaccardOracle),
    // LSH candidates verified with the EXACT shingle jaccard: the result
    // is exactPairs ∩ candidates, so with banding recall 1.0 (DedupSpec
    // measures it) the DuckDB exact-pair oracle value-checks this path
    QuerySpec("dedup_minhash_lsh", (s, d) =>
      Dedup.minhashLshVerifiedPairs(Tables.documents(s, d))
        .orderBy("doc_a", "doc_b"),
      // same oracle as dedup_ngram_jaccard: the LSH path's exact-jaccard
      // verification makes its result exactPairs ∩ candidates, and banding
      // recall is 1.0 on this corpus (DedupSpec) — so the exact pair set IS
      // the expected value
      _ => exactJaccardOracle),
    // text query-by-example: EXTERNAL query docs (every 97th doc minus
    // its first token, ids at bit 43) probe the corpus through the
    // minhash band index, candidates verified by EXACT shingle jaccard
    QuerySpec("dedup_minhash_search", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.minhashSearch(docs, Dedup.syntheticQueryDocs(docs))
        .orderBy("query_id", "doc_id")
    },
      // query-by-example replayed exactly: query q = doc (doc_id % 97 = 3)
      // with its first token dropped, id + 2^43; the expected result is the
      // EXACT query-shingles × corpus-shingles jaccard at >= 0.5 — equal to
      // the operator's band-index + exact-verify output wherever banding
      // recall is 1.0 (this corpus; the near-1 query→seed jaccard regime)
      _ =>
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
           |ORDER BY query_id, doc_id""".stripMargin),
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
    QuerySpec("dedup_edit_distance", (s, d) => {
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
    },
      _ =>
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
          |ORDER BY id_a, id_b""".stripMargin),
    // asymmetric containment |A∩B|/|A| ≥ 0.8 (excerpt/quote detection —
    // high containment where jaccard stays low); A-side rarest-first
    // prefix prunes, B-side posts all shingles (no sound B pruning)
    QuerySpec("dedup_containment", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.containmentPairs(docs,
        shingles = Some(Dedup.sharedDocShingles(docs, cacheKey = d)))
        .orderBy("doc_a", "doc_b")
    },
      _ =>
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
           |ORDER BY doc_a, doc_b""".stripMargin),
    // incremental shape: dedup a "new crawl" (every 5th doc) against the
    // rest of the corpus without re-clustering it
    QuerySpec("dedup_cross_corpus", (s, d) => {
      val docs = Tables.documents(s, d)
      val sh = Dedup.sharedDocShingles(docs, cacheKey = d)
      Dedup.crossCorpusPairs(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0),
        shingles = Some((sh.where(col("doc_id") % 5 === 0),
          sh.where(col("doc_id") % 5 =!= 0))))
        .orderBy("new_id", "old_id")
    },
      _ =>
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
           |ORDER BY new_id, old_id""".stripMargin),
    // the md5-keyed SQL-expressible simhash: hash-checked against DuckDB
    // (bit-for-bit signature parity). The xxhash64 production form —
    // including the skew-capped salted buckets — stays the library
    // default and is recall/cap-spec'd in DedupSpec; this driver row
    // pins the vote arithmetic itself to an independent engine. It runs
    // UNCAPPED because oracle equality requires the pigeonhole-complete
    // join (the salt is a Spark-side hash DuckDB can't mirror) — a
    // flood-prone production deployment passes bucketCap (spec'd) or
    // runs exactDedup upstream.
    QuerySpec("dedup_simhash_sigs", (s, d) =>
      Dedup.simhashSqlSignatures(Tables.documents(s, d)).orderBy("doc_id"),
      // dedup_simhash_* : the md5-keyed 48-bit variant is reproduced
      // digit-for-digit in SQL — bit j of a token's hash is bit (j mod 4)
      // of hex digit (j / 4) of md5(token), every occurrence votes ±1, the
      // signature bit is the vote sum's sign. Spark's banded pair join is
      // pigeonhole-complete for hamming <= 5, so the oracle's all-pairs
      // filter is the same set. (The xxhash64 production form remains
      // spec-anchored in DedupSpec — xxhash64 has no DuckDB counterpart.)
      _ =>
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
           |ORDER BY doc_id""".stripMargin),
    QuerySpec("dedup_simhash_pairs", (s, d) =>
      Dedup.simhashSqlPairs(Tables.documents(s, d))
        .orderBy("doc_a", "doc_b"),
      _ =>
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
           |ORDER BY doc_a, doc_b""".stripMargin),
    // grid-blocked exact plan (equi-join per block-pair cell — no
    // nested-loop/cartesian); the naive all-pairs form is its spec-checked
    // verifier (DedupSpec, sf0.001)
    QuerySpec("dedup_embedding_cosine", (s, d) =>
      Dedup.embeddingCosinePairsBlocked(Tables.embeddings(s, d)).orderBy("vec_a", "vec_b"),
      _ =>
        s"""WITH $embNormCtes
          |SELECT * FROM (
          |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          |         list_reduce([a.v[i] * b.v[i] for i in range(1, 1 + len(a.v))],
          |                     (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
          |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
          |WHERE cosine >= 0.45
          |ORDER BY vec_a, vec_b""".stripMargin),
    // dedup_clusters computes the pair graph + connected components LIVE
    // (it IS the clustering benchmark); the three downstream consumers
    // below read the dedup-once published cluster table instead
    // (Dedup.sharedNearDupClusters, keyed on the data dir)
    QuerySpec("dedup_clusters", (s, d) =>
      Dedup.nearDupClusters(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
        s"""$jaccardReachCtes
           |SELECT d.doc_id, coalesce(min(r.v), d.doc_id) AS cluster_id
           |FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
           |GROUP BY d.doc_id
           |ORDER BY d.doc_id""".stripMargin),
    // dedup telemetry: cluster-size histogram over the SHARED cluster table
    QuerySpec("dedup_cluster_stats", (s, d) =>
      Dedup.clusterStats(
        Dedup.sharedNearDupClusters(Tables.documents(s, d), cacheKey = d))
        .orderBy("cluster_size"),
      _ =>
        s"""$jaccardReachCtes,
           |cl AS (SELECT d.doc_id, coalesce(min(r.v), d.doc_id) AS cluster_id
           |       FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
           |       GROUP BY d.doc_id)
           |SELECT cluster_size, count(*) AS n_clusters FROM (
           |  SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY cluster_id)
           |GROUP BY cluster_size
           |ORDER BY cluster_size""".stripMargin),
    QuerySpec("text_top_terms", (s, d) =>
      TextAnalysis.topTerms(Tables.documents(s, d)).orderBy("doc_id", "rank"),
      _ =>
        s"""WITH c AS (
           |  SELECT doc_id, unnest($duckToks) AS term FROM documents),
           |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term)
           |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf FROM (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |                               ORDER BY tf DESC, term) AS rank
           |  FROM f)
           |WHERE rank <= 3
           |ORDER BY doc_id, rank""".stripMargin),
    // corpus heavy hitters: approx_top_k sketch bounded in-query against
    // the exact deterministic top-10 (the HLL/GK pattern for frequent items)
    QuerySpec("text_topk_sketch", (s, d) =>
      TextAnalysis.topKSketchChecked(Tables.documents(s, d)),
      // the sketch is engine-internal — the oracle checks the exact top-10
      // and expects both in-query sketch bounds to hold
      _ =>
        s"""WITH c AS (SELECT unnest($duckToks) AS term FROM documents),
           |e AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM c
           |      WHERE term <> '' GROUP BY 1)
           |SELECT term, cnt,
           |       TRUE AS sketch_counts_within_bound,
           |       TRUE AS sketch_topk_within_bound
           |FROM e ORDER BY cnt DESC, term LIMIT 10""".stripMargin),
    // Heaps-law vocabulary growth: distinct vocab at 10 equal-count
    // corpus prefixes — first-appearance min-agg + bounded cut joins,
    // all integer math
    QuerySpec("text_heaps_growth", (s, d) =>
      TextAnalysis.heapsGrowth(Tables.documents(s, d)),
      // heaps growth: identical ntile bucketing over doc_id, term first
      // appearance, earliest covering cut, bucket-joined cumulative —
      // all integers
      _ =>
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
           |ORDER BY bucket""".stripMargin),
    // Zipf rank-frequency OLS fit over the top-200 terms: one term
    // partial-agg + TakeOrdered cut, then a bounded single-row fold;
    // 9dp-rounded lns, rank-ordered sums, 4dp slope/intercept
    QuerySpec("text_zipf_fit", (s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d)),
      // zipf fit: identical top-200 cut, 9dp-rounded lns, rank-ordered
      // prepended-0.0 folds, and the SAME IEEE tree for slope/intercept
      // (intercept uses the UNROUNDED slope, as in Spark)
      _ =>
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
           |FROM s""".stripMargin),
    // corpus-level document/collection frequency + per-(doc,term) TF-IDF
    QuerySpec("text_term_stats", (s, d) =>
      TextAnalysis.termStats(Tables.documents(s, d)).orderBy("term"),
      _ =>
        s"""WITH c AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
           |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term)
           |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
           |FROM f GROUP BY term
           |ORDER BY term""".stripMargin),
    QuerySpec("text_tfidf", (s, d) =>
      TextAnalysis.tfidf(Tables.documents(s, d)).orderBy("doc_id", "term"),
      _ =>
        s"""WITH c AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
           |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
           |d AS (SELECT term, count(*) AS df FROM f GROUP BY term),
           |n AS (SELECT count(*) AS n_docs FROM documents)
           |SELECT f.doc_id, f.term, f.tf, d.df,
           |       ${graft.functions.OracleRound.duck(
                 "f.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE))", 4)} AS tfidf
           |FROM f JOIN d USING (term) CROSS JOIN n
           |ORDER BY doc_id, term""".stripMargin),
    // PMI collocations: strongest adjacent-bigram associations, count
    // floor 5, ranked by the ROUNDED score (deterministic top-k cut)
    QuerySpec("text_collocations", (s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d)),
      // PMI collocations: same counts, same single-division-inside-ln
      // expression tree, same rounded-score ranking and tie-break
      _ =>
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
           |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin),
    // per-doc keyword extraction: top-3 TF-IDF terms per document
    QuerySpec("text_keywords", (s, d) =>
      TextAnalysis.keywords(Tables.documents(s, d)).orderBy("doc_id", "kw_rank"),
      // per-doc keywords: the tfidf frame cut to top-3 per document by
      // (rounded score desc, term) — the same deterministic window cut
      _ =>
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
           |ORDER BY doc_id, kw_rank""".stripMargin),
    // corpus quality-distribution telemetry (equal-count deciles; exact
    // distributed ntile via GlobalOrder — no global window)
    QuerySpec("text_quality_deciles", (s, d) =>
      TextAnalysis.qualityDeciles(Tables.documents(s, d)).orderBy("decile"),
      _ =>
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
           |ORDER BY decile""".stripMargin),
    // per-source deciles: partitioned ntile, one reducer per shard
    QuerySpec("text_deciles_by_source", (s, d) =>
      TextAnalysis.qualityDecilesBySource(Tables.documents(s, d))
        .orderBy("source", "decile"),
      _ =>
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
           |ORDER BY source, decile""".stripMargin),
    // CCNet-style head/middle/tail perplexity split over the corpus-self
    // unigram LM (exact distributed ntile)
    QuerySpec("text_nll_buckets", (s, d) =>
      TextAnalysis.nllBuckets(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
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
           |FROM nll ORDER BY doc_id""".stripMargin),
    // corpus-self unigram LM scoring (perplexity-gate building block)
    QuerySpec("text_unigram_nll", (s, d) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
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
           |ORDER BY doc_id""".stripMargin),
    // interpolated bigram LM (Jelinek-Mercer λ=0.75, corpus-self model)
    QuerySpec("text_bigram_nll", (s, d) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
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
           |ORDER BY doc_id""".stripMargin),
    // Gopher-style repetition signals (non-distinct bigram concentration)
    QuerySpec("text_repetition", (s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
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
           |ORDER BY doc_id""".stripMargin),
    // Gopher-style heuristic filter ladder: word-stat gates + per-gate
    // booleans (which gate rejected, not just that one did)
    QuerySpec("text_gopher_filters", (s, d) =>
      TextAnalysis.gopherFilters(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
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
           |ORDER BY m.doc_id""".stripMargin),
    // per-source unigram KL vs the corpus blend (mixture drift telemetry)
    QuerySpec("text_source_divergence", (s, d) =>
      TextAnalysis.sourceDivergence(Tables.documents(s, d)).orderBy("source"),
      _ =>
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
           |ORDER BY f.source""".stripMargin),
    // corpus-wide bigram novelty (memorization-risk signal)
    QuerySpec("text_ngram_novelty", (s, d) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
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
           |ORDER BY d.doc_id""".stripMargin),
    // batch form of StreamOps.windowedTypeCounts (same plan minus the
    // watermark, which only bounds state in streaming mode)
    QuerySpec("stream_window_type_counts", (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.functions.OracleRound.round2(sum(col("value"))).as("total"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("total"))
        .orderBy("window_start", "event_type"),
      _ =>
        """SELECT strftime(time_bucket(INTERVAL '1 minute', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS window_start,
          |       event_type, count(*) AS n,
          |       floor((sum(value)) * 100 + 0.5) / 100 AS total
          |FROM events
          |GROUP BY time_bucket(INTERVAL '1 minute', ts::TIMESTAMP), event_type
          |ORDER BY window_start, event_type""".stripMargin),
    // ── lexical retrieval / substring spans ─────────────────────────────
    // BM25 top-10 retrieval for the corpus's own head terms (scores
    // rounded BEFORE ranking so the rank order is cross-engine exact)
    QuerySpec("text_bm25", (s, d) =>
      TextAnalysis.bm25TopK(Tables.documents(s, d))
        .orderBy("query_term", "rank"),
      // bm25: literals are written as the same IEEE arithmetic the Spark
      // side runs (1.2 + 1.0 == 2.2 exactly in binary64, checked)
      _ => {
        val stop = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
           |c AS (SELECT doc_id, unnest(toks) AS term FROM t),
           |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
           |d AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM f GROUP BY term),
           |q AS (SELECT term, df FROM d WHERE term NOT IN ($stop)
           |      ORDER BY cf DESC, term LIMIT 5),
           |$bm25TopKSql
           |ORDER BY query_term, rank""".stripMargin
      }),
    // EXTERNAL-query BM25 serving: the caller's own terms probe the
    // index (the ANN queryTable= parity for text retrieval); the fact
    // side never reshuffles for serving
    QuerySpec("text_bm25_external", (s, d) => {
      import s.implicits._
      TextAnalysis.bm25TopK(Tables.documents(s, d),
        queryTable = Some(Seq("vector", "stream", "window").toDF("term")))
        .orderBy("query_term", "rank")
    },
      // external BM25 serving: identical scoring plan, the probe is the
      // caller's literal term list instead of the corpus-derived top-cf set
      _ =>
        s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
           |c AS (SELECT doc_id, unnest(toks) AS term FROM t),
           |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
           |d AS (SELECT term, count(*) AS df FROM f GROUP BY term),
           |q AS (SELECT d.term, d.df FROM d
           |      WHERE d.term IN ('vector', 'stream', 'window')),
           |$bm25TopKSql
           |ORDER BY query_term, rank""".stripMargin),
    // inverted index: df/cf + the head of each term's postings list
    QuerySpec("text_inverted_index", (s, d) =>
      TextAnalysis.invertedIndex(Tables.documents(s, d)).orderBy("term"),
      _ =>
        s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
           |c AS (SELECT doc_id, unnest(toks) AS term FROM t),
           |f AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
           |d AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
           |             list(doc_id || ':' || tf ORDER BY doc_id)[:20] AS head
           |      FROM f GROUP BY term)
           |SELECT term, df, cf, array_to_string(head, ',') AS postings
           |FROM d WHERE df >= 2
           |ORDER BY term""".stripMargin),
    // positional-index phrase search (the oracle proves the position-join
    // plan equals a direct n-gram scan)
    QuerySpec("text_phrase_search", (s, d) =>
      TextAnalysis.phraseMatches(Tables.documents(s, d)).orderBy("doc_id"),
      // phrase search: the oracle scans grams directly — hash-equality with
      // the Spark positional-index join proves the two plans equivalent
      _ =>
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
           |ORDER BY doc_id""".stripMargin),
    // maximal duplicated token spans (substring-level dedup report);
    // string-keyed variant here for the oracle — DedupSpec proves the
    // xxhash64-keyed scale default emits identical spans
    QuerySpec("dedup_substring_spans", (s, d) =>
      Dedup.duplicatedSpans(Tables.documents(s, d), hashKeys = false)
        .orderBy("doc_id", "span_start"),
      _ =>
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
           |ORDER BY doc_id, span_start""".stripMargin),
    // ── BPE tokenizer: train / audit / serve ────────────────────────────
    // the learned merge table (training's audit trail): corpus → ONE word
    // shuffle, then a vocab-sized 24-round argmax loop; published via
    // PublishGuard. The oracle RE-DERIVES training round by round.
    QuerySpec("text_bpe_merges", (s, d) =>
      Bpe.mergeTable(Tables.documents(s, d), ArtifactWarehouse,
        bpeSlug(d)).orderBy("rank"),
      // BPE training re-derivation: the SAME 24 rounds — pair counts from
      // the delimited symbol string, (cnt DESC, a, b) argmax, literal
      // boundary-anchored replace — because left-to-right non-overlapping
      // replace IS greedy BPE merge application in both engines
      _ => {
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
      }),
    // serving: the merge chain runs once per DISTINCT word (codegen'd
    // literal replaces), then rejoins the (doc, word) stream
    QuerySpec("text_bpe_tokenize", (s, d) =>
      Bpe.tokenizeStats(Tables.documents(s, d), ArtifactWarehouse,
        bpeSlug(d)).orderBy("doc_id"),
      // BPE serving replay: the merge chain as 24 nested replaces with
      // patterns read from the PUBLISHED table via scalar subqueries
      d => {
        val chain = (1 to 24).foldLeft(
          "'||' || regexp_replace(word, '(.)', '\\1||', 'g')") { (c, r) =>
          s"replace($c, (SELECT '|' || lhs || '||' || rhs || '|' FROM m WHERE rank = $r), " +
            s"(SELECT '|' || merged || '|' FROM m WHERE rank = $r))"
        }
        s"""WITH m AS (SELECT rank, lhs, rhs, merged
           |           FROM read_parquet('${Bpe.mergesPath(ArtifactWarehouse, bpeSlug(d))}/*.parquet')),
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
      }),
    // top-20 words with their learned segmentations (pins the actual
    // subword strings, not just counts)
    QuerySpec("text_bpe_segments", (s, d) =>
      Bpe.topSegmentations(Tables.documents(s, d), ArtifactWarehouse,
        bpeSlug(d)),
      d => {
        val chain = (1 to 24).foldLeft(
          "'||' || regexp_replace(word, '(.)', '\\1||', 'g')") { (c, r) =>
          s"replace($c, (SELECT '|' || lhs || '||' || rhs || '|' FROM m WHERE rank = $r), " +
            s"(SELECT '|' || merged || '|' FROM m WHERE rank = $r))"
        }
        s"""WITH m AS (SELECT rank, lhs, rhs, merged
           |           FROM read_parquet('${Bpe.mergesPath(ArtifactWarehouse, bpeSlug(d))}/*.parquet')),
           |t AS (SELECT doc_id, $duckToks AS toks FROM documents),
           |w AS (SELECT doc_id, unnest(toks) AS word FROM t),
           |ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
           |wc AS (SELECT word, count(*) AS freq FROM ww GROUP BY word),
           |top AS (SELECT word, freq FROM wc ORDER BY freq DESC, word LIMIT 20)
           |SELECT word, freq,
           |       array_to_string(list_filter(string_split($chain, '||'), x -> x <> ''), ' ')
           |         AS segmentation
           |FROM top ORDER BY freq DESC, word""".stripMargin
      }),
  )

  /** Exact word-shingle jaccard pairs (threshold 0.5) as symmetric
    * `edges`, and their recursive-CTE reachability `reach` — the
    * connected-components chain both cluster oracles finish.
    */
  private def jaccardReachCtes: String =
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
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)"""

  /** BM25 (k1 = 1.2, b = 0.75) over the query-term postings `f`/`q` and
    * the tokens `t`, 4 dp, top 10 docs per query term.
    */
  private def bm25TopKSql: String =
    """dl AS (SELECT doc_id, len(toks) AS dl FROM t),
      |st AS (SELECT count(*) AS n_docs, sum(len(toks)) / count(*) AS avgdl FROM t),
      |sc AS (SELECT q.term AS query_term, f.doc_id,
      |         floor((ln(1 + (st.n_docs - q.df + 0.5) / (q.df + 0.5)) *
      |                (f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))) * 10000 + 0.5) / 10000 AS score
      |       FROM f JOIN q ON f.term = q.term
      |       JOIN dl ON dl.doc_id = f.doc_id CROSS JOIN st)
      |SELECT query_term, CAST(rank AS INTEGER) AS rank, doc_id, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_term
      |                               ORDER BY score DESC, doc_id) AS rank FROM sc)
      |WHERE rank <= 10"""
}
