package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{PublishGuard, Tables}
import graft.engine.PublishGuard.ArtifactWarehouse
import graft.operators.{Curation, Dedup, Incremental, Multimodal, Quality, Similarity, TextAnalysis}
import DuckSql._

/** The curation pipeline family (`pipeline_*`): gates, samplers, budgets,
  * mixtures, classifiers and the layout rewrites they read, composed from
  * the text, dedup, similarity and multimodal operators.
  */
object CurationQueries {

  /** The slug the classifier weights publish under; the constructors write and the
    * oracles read the same table, both derived from the data dir.
    */
  def clfSlug(d: String): String = s"clf_weights_${sfOf(d)}"

  val specs: Seq[QuerySpec] = Seq(
    // ── curation pipelines ──────────────────────────────────────────────
    // benchmark-leakage guard: every 50th doc stands in as the "benchmark"
    // suite; its distinct shingle set is broadcast, the corpus pass stays
    // map-side
    QuerySpec("pipeline_decontaminate", (s, d) =>
      Curation.decontaminate(Tables.documents(s, d),
        Tables.documents(s, d).where(col("doc_id") % 50 === 0))
        .orderBy("doc_id"),
      _ =>
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
           |ORDER BY doc_id""".stripMargin),
    // one-row dedup dashboard over the shared cluster table
    QuerySpec("pipeline_dedup_report", (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.dedupReport(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d))
    },
      _ => (curationCtePrefix +
        s""",
           |ex AS (SELECT count(*) AS n_exact_groups FROM (
           |         SELECT md5($duckNorm) AS fp FROM documents GROUP BY fp)),
           |nn AS (SELECT count(DISTINCT cluster_id) AS n_clusters FROM clus),
           |nd AS (SELECT count(*) AS n_docs FROM documents)
           |SELECT nd.n_docs, ex.n_exact_groups,
           |       nd.n_docs - ex.n_exact_groups AS n_exact_surplus,
           |       nn.n_clusters,
           |       nd.n_docs - nn.n_clusters AS n_near_surplus
           |FROM nd CROSS JOIN ex CROSS JOIN nn""".stripMargin)),
    // attribution side of decontamination: per benchmark doc, how many
    // corpus docs leak it and the worst overlap
    QuerySpec("pipeline_contamination_report", (s, d) =>
      Curation.contaminationReport(Tables.documents(s, d),
        Tables.documents(s, d).where(col("doc_id") % 50 === 0))
        .orderBy("bench_id"),
      _ =>
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
           |ORDER BY bench_id""".stripMargin),
    // C4-style PII redaction (map-only counts + scrub; synthetic-PII
    // redaction behavior is spec-anchored in OperatorsSpec)
    QuerySpec("pipeline_scrub_pii", (s, d) =>
      Curation.scrubPii(Tables.documents(s, d)).orderBy("doc_id"),
      // counts taken on the progressively redacted text (URL → email →
      // phone), mirroring Curation.scrubPii: n_* = placeholders emitted
      _ =>
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
          |FROM e ORDER BY doc_id""".stripMargin),
    // best-quality prefix under a token budget (corpus assembly step);
    // exact distributed prefix sum (GlobalOrder) — no global window
    QuerySpec("pipeline_token_budget", (s, d) =>
      Curation.tokenBudgetSelect(Tables.documents(s, d), 10000L)
        .orderBy("doc_id"),
      _ =>
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
           |ORDER BY doc_id""".stripMargin),
    // per-source budgets through a partitioned window — one prefix-sum
    // reducer per shard, the production corpus-mix shape
    QuerySpec("pipeline_budget_by_source", (s, d) =>
      Curation.tokenBudgetSelectBy(Tables.documents(s, d), "source", 3000L)
        .orderBy("doc_id"),
      _ =>
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
           |ORDER BY doc_id""".stripMargin),
    // composed end-to-end curation: language ID + quality gate + near-dup
    // canonical selection + token accounting in one declarative plan,
    // consuming the dedup-once shared cluster table
    QuerySpec("pipeline_curated_corpus", (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.curatedCorpusFromClusters(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("doc_id")
    },
      _ => (curationCtePrefix +
        s"""
           |SELECT c.doc_id, lp.lang_pred, qq.quality, qq.n_tokens
           |FROM clus c
           |JOIN lp ON lp.doc_id = c.doc_id
           |JOIN qq ON qq.doc_id = c.doc_id
           |WHERE c.doc_id = c.cluster_id AND lp.lang_pred = 'en' AND qq.quality >= 0.5
           |ORDER BY c.doc_id""".stripMargin)),
    // stage-survival funnel over the same gate chain: ingest → near-dup
    // canonical → lang → quality, cumulative conditional sums in ONE
    // corpus pass, 4-row report assembled map-only
    QuerySpec("pipeline_funnel_report", (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.curationFunnel(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("stage")
    },
      // pipeline_funnel_report: the curated-corpus gate chain as CUMULATIVE
      // conditional sums in one aggregate, the 4-row funnel assembled from
      // that single row; retained = stage count over ingest count
      _ => (curationCtePrefix + {
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
      })),
    // quality-argmax canonicalization: keep each cluster's BEST copy
    // (not its smallest id) — same shared cluster table
    QuerySpec("pipeline_best_of_cluster", (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.curatedCorpusBestOfCluster(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("doc_id")
    },
      _ => (curationCtePrefix +
        s"""
           |SELECT doc_id, cluster_id, lang_pred, quality, n_tokens FROM (
           |  SELECT c.doc_id, c.cluster_id, lp.lang_pred, qq.quality, qq.n_tokens,
           |         row_number() OVER (PARTITION BY c.cluster_id
           |                            ORDER BY qq.quality DESC, c.doc_id) AS rn
           |  FROM clus c
           |  JOIN lp ON lp.doc_id = c.doc_id
           |  JOIN qq ON qq.doc_id = c.doc_id)
           |WHERE rn = 1 AND lang_pred = 'en' AND quality >= 0.5
           |ORDER BY doc_id""".stripMargin)),
    // the pre-training release gate: dedup-canonical + language + quality
    // + decontamination + PII exposure, one composed plan over the same
    // shared cluster table
    QuerySpec("pipeline_release_gate", (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.releaseGate(docs, Dedup.sharedNearDupClusters(docs, cacheKey = d),
        docs.where(col("doc_id") % 50 === 0),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("doc_id")
    },
      _ => (curationCtePrefix +
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
           |ORDER BY c.doc_id""".stripMargin)),
    // the MULTIMODAL release gate: the text gate (dedup-canonical +
    // lang + quality over the shared text cluster table) composed with
    // image-canonical selection over the phash cluster table — a doc
    // with an image releases only as its image cluster's canonical
    // copy, so near-dup images ship once even when their surrounding
    // text dodges the text dedup
    QuerySpec("pipeline_multimodal_gate", (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.multimodalReleaseGate(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d),
        Multimodal.sharedImageClusters(s, docs, cacheKey = d),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("doc_id")
    },
      // the text-gate CTEs plus the image phash-cluster chain (the
      // multimodal_image_clusters oracle, i-prefixed to dodge the prefix's
      // own edges/reach names): canonical text copy AND canonical image
      // copy, has_image from the left join
      _ => (curationCtePrefix +
        s""",
           |$imageClusterCtes
           |SELECT c.doc_id, lp.lang_pred, qq.quality, qq.n_tokens,
           |       (icl.doc_id IS NOT NULL) AS has_image
           |FROM clus c
           |JOIN lp ON lp.doc_id = c.doc_id
           |JOIN qq ON qq.doc_id = c.doc_id
           |LEFT JOIN icl ON icl.doc_id = c.doc_id
           |WHERE c.doc_id = c.cluster_id AND lp.lang_pred = 'en'
           |  AND qq.quality >= 0.5
           |  AND (icl.doc_id IS NULL OR icl.cluster_id = c.doc_id)
           |ORDER BY c.doc_id""".stripMargin)),
    // the FULL multimodal gate: text + image + audio + video cluster
    // tables composed in one release decision — every near-dup blob in
    // every modality ships exactly once
    QuerySpec("pipeline_multimodal_gate_full", (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.multimodalReleaseGateFull(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d),
        Multimodal.sharedImageClusters(s, docs, cacheKey = d),
        Multimodal.sharedAudioClusters(s, docs, cacheKey = d),
        Multimodal.sharedVideoClusters(s, docs, cacheKey = d),
        enrichment = Some(Curation.sharedGateEnrichment(docs, cacheKey = d)))
        .orderBy("doc_id")
    },
      // the text-gate CTEs plus ALL THREE modality cluster chains (the
      // image phash, audio energy-fingerprint, and video frame-hash
      // oracles, i-/a-/v-prefixed): one release decision per doc
      _ => (curationCtePrefix +
        s""",
           |$imageClusterCtes,
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
           |ORDER BY c.doc_id""".stripMargin)),
    // sliding-window passage chunking (RAG / training-window split);
    // map-only explode, zero shuffle
    QuerySpec("pipeline_chunk_docs", (s, d) =>
      Curation.chunkDocuments(Tables.documents(s, d))
        .orderBy("doc_id", "chunk_idx"),
      _ =>
        s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
           |c AS (SELECT doc_id, toks,
           |             unnest(range(0, CAST(floor((len(toks) - 1) / 48.0) AS INTEGER) + 1)) AS chunk_idx
           |      FROM t WHERE len(toks) > 0)
           |SELECT doc_id,
           |       CAST(chunk_idx AS INTEGER) AS chunk_idx,
           |       CAST(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS INTEGER) AS n_chunk_tokens,
           |       array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text
           |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    // the operational small-file loop, oracle-anchored end-to-end: the
    // corpus is deliberately fragmented into 64 micro-batch-sized files,
    // compacted (Compaction.compactTo — shuffle-free coalesce, row count
    // observed on the write job), and the QUERY READS THE COMPACTED
    // OUTPUT — so a compaction that lost, duplicated, or mangled rows
    // fails the DuckDB compare against the original table
    QuerySpec("pipeline_compacted_corpus", (s, d) =>
      s.read.parquet(compactedDocsDir(s, d))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("char_mass"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("source"),
      // oracle reads the ORIGINAL documents table; the Spark side reads the
      // fragment→compact round-trip output — equality proves the compactor
      // preserved every row and value
      _ =>
        """SELECT source,
          |       count(*) AS n_docs,
          |       CAST(sum(length(text)) AS BIGINT) AS char_mass,
          |       min(doc_id) AS min_doc,
          |       max(doc_id) AS max_doc
          |FROM documents
          |GROUP BY source
          |ORDER BY source""".stripMargin),
    // source-partitioned layout rewrite + a partition-filtered read: the
    // planner prunes non-matching directories before listing (LayoutSpec
    // asserts the numFiles metric); the oracle reads the ORIGINAL table
    QuerySpec("pipeline_partitioned_scan", (s, d) =>
      s.read.parquet(partitionedDocsDir(s, d))
        .where(col("source").isin("src0", "src7", "src13"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("char_mass"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("source"),
      _ =>
        """SELECT source,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(length(text)) AS BIGINT) AS char_mass,
          |       min(doc_id) AS min_doc,
          |       max(doc_id) AS max_doc
          |FROM documents
          |WHERE source IN ('src0', 'src7', 'src13')
          |GROUP BY source
          |ORDER BY source""".stripMargin),
    // bucketed-table co-located join: orders ⋈ lineitem both bucketed
    // 8-ways on the order key, sort-merge join with NO Exchange on
    // either side (the write pre-paid the shuffle — LayoutSpec asserts
    // the plan); reading the BUCKETED tables against the original-table
    // oracle catches any rewrite loss
    QuerySpec("pipeline_bucketed_join", (s, d) =>
      bucketedJoinFrame(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          graft.functions.OracleRound.round2(
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
        .orderBy("o_orderstatus"),
      // bucketing is a layout rewrite — the oracle joins the ORIGINAL
      // tables, so a lossy bucketed write cannot hash-match
      _ =>
        s"""SELECT o_orderstatus,
           |       CAST(count(*) AS BIGINT) AS n_lines,
           |       ${graft.functions.OracleRound.duck("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue
           |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    // z-order layout rewrite + a 2-D filtered read: BOTH the month and
    // the part-key predicate prune files on the Morton-clustered table
    // (LayoutSpec measures each dimension against a single-column
    // control); reading the REWRITTEN table against the original-table
    // oracle catches any loss
    QuerySpec("pipeline_zorder_scan", (s, d) =>
      s.read.parquet(zorderedLineitemDir(s, d))
        .where(col("l_shipdate") >= lit("1995-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-04-01").cast("timestamp") &&
          col("l_partkey") <= lit(250L))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy("l_linestatus"),
      // z-ordering is a layout rewrite — the oracle reads the ORIGINAL
      // table, so a lossy Morton rewrite cannot hash-match
      _ =>
        """SELECT l_linestatus,
          |       CAST(count(*) AS BIGINT) AS n_lines,
          |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1995-03-01'
          |  AND l_shipdate < TIMESTAMP '1995-04-01'
          |  AND l_partkey <= 250
          |GROUP BY 1 ORDER BY 1""".stripMargin),
    // range-clustered layout rewrite + a filtered read of the clustered
    // output: parquet min/max footers make the month scan file-prunable
    // (LayoutSpec asserts numFiles read ≪ files written)
    QuerySpec("pipeline_clustered_scan", (s, d) =>
      s.read.parquet(clusteredLineitemDir(s, d))
        .where(col("l_shipdate") >= lit("1995-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          graft.functions.OracleRound.round2(
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
        .orderBy("l_linestatus"),
      // the clustering is a layout rewrite — the oracle reads the ORIGINAL
      // table, so a lossy rewrite cannot hash-match
      _ =>
        s"""SELECT l_linestatus,
           |       CAST(count(*) AS BIGINT) AS n_lines,
           |       ${graft.functions.OracleRound.duck("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1995-03-01'
           |  AND l_shipdate < TIMESTAMP '1995-04-01'
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    // manifest-pruned scan: the file list is planned from the per-file
    // min/max MANIFEST table (O(files) metadata, one read — the
    // Iceberg/Delta planning shape), the exact predicate re-applied as
    // the residual; reads the same clustered table, different month
    QuerySpec("pipeline_manifest_scan", (s, d) => {
      val (table, mdir) = manifestLineitemDirs(s, d)
      graft.engine.Layout.manifestPrunedRead(
        s, table, mdir, "l_shipdate", "1996-06-01", "1996-07-01")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          graft.functions.OracleRound.round2(
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
        .orderBy("l_linestatus")
    },
      // manifest scan: the oracle reads the ORIGINAL table with the same
      // filter — manifest planning that lost or duplicated a file fails
      // the compare
      _ =>
        s"""SELECT l_linestatus,
           |       CAST(count(*) AS BIGINT) AS n_lines,
           |       ${graft.functions.OracleRound.duck("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1996-06-01'
           |  AND l_shipdate < TIMESTAMP '1996-07-01'
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("pipeline_pack_sequences", (s, d) =>
      Curation.packSequences(Tables.documents(s, d)).orderBy("doc_id"),
      _ => {
        s"""WITH t AS (SELECT doc_id, CAST(len($duckToks) AS INTEGER) AS n_tokens
           |           FROM documents),
           |c AS (SELECT doc_id, n_tokens,
           |             CAST(sum(n_tokens) OVER (ORDER BY doc_id
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           |      FROM t)
           |SELECT doc_id, n_tokens, cum_tokens,
           |       CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS bin_id
           |FROM c ORDER BY doc_id""".stripMargin
      }),
    // sharded form: partitioned window → one prefix-sum reducer per source
    QuerySpec("pipeline_pack_by_source", (s, d) =>
      Curation.packSequencesBy(Tables.documents(s, d)).orderBy("doc_id"),
      _ => {
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
      }),
    // deterministic global training order: md5 shuffle key + exact
    // distributed global rank (GlobalOrder — no single-reducer window)
    QuerySpec("pipeline_train_order", (s, d) =>
      Curation.trainOrder(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
        """WITH k AS (SELECT doc_id, md5(doc_id || '|shuffle') AS shuffle_key
          |           FROM documents)
          |SELECT doc_id, shuffle_key,
          |       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
          |         AS train_rank
          |FROM k ORDER BY doc_id""".stripMargin),
    // systematic PPS sample: exact integer point placement along the
    // token prefix-sum axis — sum(n_draws) = 100 by construction
    QuerySpec("pipeline_systematic_sample", (s, d) =>
      Curation.systematicSample(Tables.documents(s, d)),
      // pure integer arithmetic on both sides — DuckDB's // floors where
      // Spark's div truncates, but the only negative operand (x = 0) gives
      // 0 on both paths
      _ =>
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
           |ORDER BY doc_id""".stripMargin),
    // per-column ingest profile: one pruned agg branch per column,
    // unioned — never a multi-distinct Expand over the fact table
    QuerySpec("pipeline_profile_docs", (s, d) =>
      Curation.profileTable(Tables.documents(s, d),
        Seq("doc_id", "source", "lang", "n_chars")),
      _ =>
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
          |ORDER BY "column"""".stripMargin),
    // wide-table profile: ONE aggregate pass for all columns (HLL
    // distinct, no per-column scans, no Expand); exact columns hash-match
    // the oracle and the HLL contract rides a 3×rsd boolean pinned TRUE
    QuerySpec("pipeline_profile_docs_approx", (s, d) =>
      Curation.approxProfileTableChecked(Tables.documents(s, d),
        Seq("doc_id", "source", "lang", "n_chars")),
      // exact profile columns hash-match; the HLL estimate is
      // engine-specific so its ≤3×rsd contract rides a boolean the oracle
      // pins TRUE (drift flips it and fails the hash compare)
      _ =>
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
          |ORDER BY "column"""".stripMargin),
    // corpus-learned boilerplate strip: top-20 corpus-frequent tokens
    // removed from every doc, remaining order preserved
    QuerySpec("pipeline_strip_boilerplate", (s, d) =>
      Curation.stripBoilerplate(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
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
          |ORDER BY d.doc_id""".stripMargin),
    // snapshot diff: prev = docs minus (id%17==3) with (id%13==5) texts
    // mutated; cur = docs minus (id%23==11) — added/removed/changed/
    // unchanged per id, both sides derived deterministically so the
    // oracle rebuilds the identical snapshots
    // PSI length-distribution drift between snapshots: prev drops
    // (id%17==3); cur drops (id%23==11) AND truncates the long tail
    // (n_chars < 450) so the banded shares genuinely move
    QuerySpec("pipeline_drift_psi", (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.driftPsi(
        docs.where(col("doc_id") % 17 =!= 3),
        docs.where(col("doc_id") % 23 =!= 11 && col("n_chars") < 450))
        .orderBy("source")
    },
      // PSI drift: identical banding ladder, Laplace-smoothed shares as
      // single divisions of exact integers, band-sorted sequential fold
      // (list_reduce with a prepended 0.0 ≡ the Spark aggregate's init)
      _ =>
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
          |FROM f ORDER BY source""".stripMargin),
    QuerySpec("pipeline_corpus_diff", (s, d) => {
      val docs = Tables.documents(s, d)
      val prev = docs.where(col("doc_id") % 17 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 13 === 5, concat(col("text"), lit(" v1")))
            .otherwise(col("text")))
      val cur = docs.where(col("doc_id") % 23 =!= 11)
      Curation.corpusDiff(prev, cur).orderBy("doc_id")
    },
      _ =>
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
          |ORDER BY doc_id""".stripMargin),
    // temperature-weighted source mixing table (alpha=0.7 upsampling)
    QuerySpec("pipeline_mixture_weights", (s, d) =>
      Curation.mixtureWeights(Tables.documents(s, d)).orderBy("source"),
      _ =>
        s"""WITH t AS (SELECT source, CAST(len($duckToks) AS BIGINT) AS n FROM documents),
           |g AS (SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
           |             pow(CAST(sum(n) AS DOUBLE), 0.7) AS pw
           |      FROM t GROUP BY source),
           |z AS (SELECT sum(pw) AS z FROM g)
           |SELECT source, n_docs, n_tokens,
           |       ${graft.functions.OracleRound.duck("g.pw / z.z", 4)} AS weight
           |FROM g CROSS JOIN z
           |ORDER BY source""".stripMargin),
    // rebalance the corpus to the temperature mixture via deterministic
    // hash-threshold sampling (reproducible across runs/engines)
    QuerySpec("pipeline_mixture_sample", (s, d) =>
      Curation.mixtureSample(Tables.documents(s, d)).orderBy("doc_id"),
      _ =>
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
           |ORDER BY d.doc_id""".stripMargin),
    // data-constrained epoch plan: water-fill token allocation under
    // per-source repetition caps (hash-derived cap grid, λ from exact
    // integer prefix quantities + one IEEE division)
    QuerySpec("pipeline_epoch_plan", (s, d) =>
      Curation.epochPlan(Tables.documents(s, d)).orderBy("source"),
      _ =>
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
           |ORDER BY source""".stripMargin),
    // temperature-scaled mixture quotas: p_s ∝ (Σ n_chars)^0.25 via two
    // IEEE sqrts (bit-exact cross-engine where pow is not), integer
    // largest-remainder fill so Σ quota = k exactly
    QuerySpec("pipeline_temperature_quota", (s, d) =>
      Curation.temperatureMixtureGrid(Tables.documents(s, d))
        .orderBy("source"),
      // epoch plan: per-source token masses + hash caps, the water-fill λ
      // from the ≤4-row cap grid (first boundary whose uncapped solution
      // clears it), epochs 6 dp BEFORE the allocation product
      // pipeline_temperature_quota / _sample: p_s ∝ sqrt(sqrt(Σ n_chars))
      // — two IEEE sqrts replay bit-exact where pow() would not — with the
      // source-ordered fold total, floor/9dp-remainder largest-remainder
      // fill, and the md5-fold within-source draw
      _ =>
        s"""WITH $tempQuotaCtes
          |SELECT source, n_docs, sz, p, quota FROM q
          |ORDER BY source""".stripMargin),
    // the draw against the quotas: per source the first quota docs by
    // the deterministic md5 fold of tmix:doc_id
    QuerySpec("pipeline_temperature_sample", (s, d) =>
      Curation.temperatureMixtureSample(Tables.documents(s, d))
        .orderBy("source", "draw_rank"),
      _ => {
        s"""WITH $tempQuotaCtes,
          |s AS (SELECT doc_id, source,
          |             row_number() OVER (PARTITION BY source
          |                                ORDER BY ${duckHexFold("'tmix:' || doc_id")},
          |                                         doc_id) AS draw_rank
          |      FROM documents)
          |SELECT s.doc_id, s.source, CAST(s.draw_rank AS INTEGER) AS draw_rank
          |FROM s JOIN q USING (source)
          |WHERE s.draw_rank <= q.quota
          |ORDER BY s.source, draw_rank""".stripMargin
      }),
    // canary/memorization audit: which canary leaked into which doc at
    // what position — anchor-gram equi-join candidates, instr confirm;
    // canaries = 12-token spans lifted from a deterministic doc subset
    QuerySpec("pipeline_canary_scan", (s, d) => {
      val docs = Tables.documents(s, d)
      val canaries = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .where(col("doc_id") % 83 === 5 && size(col("toks")) >= 22)
        .select(col("doc_id").as("canary_id"),
          concat_ws(" ", slice(col("toks"), 11, 12)).as("canary_text"))
      Curation.canaryScan(docs, canaries).orderBy("canary_id", "doc_id")
    },
      // canary scan: the identical canary lift (12-token spans of the
      // doc_id % 83 = 5 subset), distinct 8-gram anchors, equi-join
      // candidates, 1-based strpos confirm — instr ≡ strpos
      _ =>
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
           |ORDER BY canary_id, doc_id""".stripMargin),
    // k-per-source deterministic sample through the custom bounded
    // TypedImperativeAggregate (map-side k-fold, not a full window sort)
    QuerySpec("pipeline_group_sample", (s, d) =>
      Curation.groupSample(Tables.documents(s, d)).orderBy("source", "doc_id"),
      _ =>
        """SELECT source, doc_id FROM (
          |  SELECT source, doc_id,
          |         row_number() OVER (PARTITION BY source
          |                            ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
          |  FROM documents)
          |WHERE rn <= 3
          |ORDER BY source, doc_id""".stripMargin),
    // deterministic hash-threshold stratified sampling — value-checked
    // by the oracle (same md5/hex arithmetic both engines); the seeded
    // sampleBy form stays spec-anchored in OperatorsSpec as API parity
    QuerySpec("pipeline_stratified_sample", (s, d) =>
      Curation.stratifiedSampleDeterministic(Tables.documents(s, d),
        Map("en" -> 0.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 1.0))
        .select("doc_id", "lang").orderBy("doc_id"),
      _ =>
        """WITH r AS (SELECT doc_id, lang,
          |                  CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
          |                            WHEN 'es' THEN 1.0 WHEN 'fr' THEN 1.0
          |                            WHEN 'zh' THEN 1.0 ELSE 0.0 END AS p
          |           FROM documents)
          |SELECT doc_id, lang FROM r
          |WHERE p >= 1.0
          |   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
          |      lower(lpad(hex(CAST(floor(p * 4294967296.0) AS BIGINT)), 8, '0'))
          |ORDER BY doc_id""".stripMargin),
    // declarative DQ constraint suite: row-level checks share ONE
    // aggregate pass; unique gets a pruned distinct branch; the FK
    // anti-joins the broadcast customer key set (single-row aggregate
    // cross-joins are constant-size)
    QuerySpec("pipeline_constraint_checks", (s, d) =>
      Quality.checkConstraints(Tables.orders(s, d), Seq(
        Quality.NotNull("o_custkey"),
        Quality.InRange("o_totalprice", 0.0, 300000.0),
        Quality.AcceptedValues("o_orderstatus", Seq("O", "F")),
        Quality.Unique(Seq("o_orderkey")),
        Quality.ReferencedIn("o_custkey", Tables.customer(s, d),
          "c_custkey", "customer"))),
      _ =>
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
          |FROM r ORDER BY "constraint"""".stripMargin),
    // mergeable per-source stats: three doc_id%3 batches fold to
    // algebraic states, merge pairwise, finalize — the oracle computes
    // the whole-table state directly, proving merge == direct
    QuerySpec("pipeline_incremental_stats", (s, d) => {
      val docs = Tables.documents(s, d)
      val states = (0 to 2).map(i =>
        Incremental.statsPartial(docs.where(col("doc_id") % 3 === i)))
      Incremental.finalizeStats(states.reduce(Incremental.mergeStats))
    },
      // mean/std rounded via OracleRound.duck — DuckDB's round() and
      // Spark's round() disagree on binary-boundary doubles; the shared
      // floor spelling is bit-identical cross-engine
      _ => {
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
      }),
    // CDC changeset apply on orders: U(+1000 price, seq2) on key%5,
    // D(seq3) on key%7, I(new key, seq1) on key%11 — latest seq wins
    // per key (key%35 gets U then D → deleted), derived from orders
    // itself so the oracle rebuilds the identical changeset
    QuerySpec("pipeline_cdc_apply", (s, d) => {
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
    },
      _ =>
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
          |ORDER BY o_orderkey""".stripMargin),
    // exact-size weight-proportional sample without replacement
    // (Efraimidis–Spirakis keys, deterministic hash uniforms)
    QuerySpec("pipeline_weighted_sample", (s, d) =>
      Curation.weightedSample(Tables.documents(s, d), k = 64)
        .orderBy(col("sample_key").desc, col("doc_id")),
      _ =>
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
          |LIMIT 64""".stripMargin),
    // classifier-based quality filtering: logistic regression over
    // hashed unigram buckets distilling the language-ID heuristic,
    // trained once and PUBLISHED (the IVF centroid discipline); scoring
    // is the map-only margin fold against the published weight table —
    // no transcendental in the scored output, so the oracle is exact
    QuerySpec("pipeline_quality_classifier", (s, d) =>
      Curation.qualityClassifierScores(Tables.documents(s, d),
        baseDir = ArtifactWarehouse,
        slug = clfSlug(d))
        .orderBy("doc_id"),
      // weighted sample: the same md5 52-bit uniform fold, ln-key, 9 dp
      // pre-rank rounding, and (key desc, doc_id) cut — bit-reproducible
      // classifier scoring: the published weight table replayed — dense
      // ×64-scaled unigram-bucket terms folded in dimension order (pure
      // IEEE arithmetic, no transcendental), prepended-0.0 init ≡ the
      // Spark fold's zero init
      d => (clfScoreCtes(d) +
        """
          |SELECT sc.doc_id, lp.label, sc.n_grams,
          |       floor(sc.z * 1000000 + 0.5) / 1000000 AS margin,
          |       (sc.z >= 0.0) AS predicted
          |FROM sc JOIN lp ON lp.doc_id = sc.doc_id
          |ORDER BY sc.doc_id""".stripMargin)),
    // reliability report: margin deciles (exact distributed ntile) vs
    // observed positive-label rate per decile — sigmoid-free
    // calibration for the published classifier
    QuerySpec("pipeline_classifier_calibration", (s, d) =>
      Curation.classifierCalibration(Tables.documents(s, d),
        baseDir = ArtifactWarehouse,
        slug = clfSlug(d))
        .orderBy("bin"),
      // calibration: margin deciles via ntile over (margin, doc_id) —
      // DuckDB's ntile and GlobalOrder.withNtile share the closed-form
      // bucket arithmetic (the text_nll_buckets precedent)
      d => (clfScoreCtes(d) +
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
          |ORDER BY bin""".stripMargin)),
    // the promotion gate: confusion matrix + accuracy of the published
    // classifier against its reference labels, one partial aggregate
    QuerySpec("pipeline_classifier_eval", (s, d) =>
      Curation.qualityClassifierEval(Tables.documents(s, d),
        baseDir = ArtifactWarehouse,
        slug = clfSlug(d)),
      // classifier eval: confusion counts + accuracy over the same chain
      d => (clfScoreCtes(d) +
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
          |  FROM sc JOIN lp ON lp.doc_id = sc.doc_id)""".stripMargin)),
    // DSIR hashed-bigram importance weights: per-doc log p_target/p_raw
    // under Laplace-smoothed 64-bucket models (target = the corpus's own
    // English docs) — bucket-bounded per-doc folds, corpus scanned once
    QuerySpec("pipeline_dsir_weights", (s, d) =>
      Curation.dsirLogWeights(Tables.documents(s, d)).orderBy("doc_id"),
      // DSIR weights: hashed-bigram buckets (52-bit md5 fold mod 64),
      // Laplace-smoothed grid ratios, per-doc bucket-ordered fold — the
      // list_reduce first-element init ≡ the Spark 0.0 init bitwise
      _ => (dsirWeightsCtes +
        """
          |SELECT doc_id, n_grams,
          |       floor(list_reduce(terms, (a, x) -> a + x)
          |             * 1000000 + 0.5) / 1000000 AS log_weight
          |FROM w
          |ORDER BY doc_id""".stripMargin)),
    // the resampling step: Gumbel top-k over the same weights with
    // deterministic hash noise — exactly k docs drawn ∝ importance
    QuerySpec("pipeline_dsir_sample", (s, d) =>
      Curation.dsirSample(Tables.documents(s, d))
        .orderBy(col("sample_key").desc, col("doc_id")),
      // DSIR sample: the same weights chain + deterministic Gumbel keys
      // g = −ln(−ln u), 9 dp, (key desc, doc_id) cut at 64
      _ => (dsirWeightsCtes +
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
           |LIMIT 64""".stripMargin)),
    // leakage-safe split: train/validation/test assigned per NEAR-DUP
    // CLUSTER (the published cluster table), deterministic md5 rule —
    // a test doc can never have a near-dup in train
    QuerySpec("pipeline_leakage_split", (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.leakageSafeSplit(docs,
        Dedup.sharedNearDupClusters(docs, cacheKey = d))
        .orderBy("doc_id")
    },
      // leakage-safe split: the shared cluster-closure prefix (clus), then
      // the deterministic 52-bit md5 fold of 'split:<cluster_id>' cut at
      // 0.8 / 0.9 — cluster members share a split by construction
      _ => (curationCtePrefix +
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
           |ORDER BY doc_id""".stripMargin)),
    // join-key skew profile: exact per-key count distribution stats
    // (GlobalOrder rank percentiles) — the pre-flight shuffle telemetry
    QuerySpec("pipeline_skew_profile", (s, d) =>
      Curation.keySkewProfile(Tables.events(s, d),
        Seq("user_id", "event_type"))
        .orderBy("key_name"),
      // skew profile: per-key counts, exact global rank by (n, key), pure
      // integer percentile ranks ((n_keys·q+99) div 100), one summary row
      // per profiled key column
      _ => {
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
      }),
    // cross-source shingle-overlap matrix: jaccard + both directional
    // containments per source pair (ingest double-count telemetry)
    QuerySpec("pipeline_source_overlap", (s, d) =>
      Curation.sourceOverlap(Tables.documents(s, d))
        .orderBy("source_a", "source_b"),
      // source overlap: string shingles here vs xxhash64 keys in the Spark
      // plan — outputs agree unless a 64-bit collision (decontaminate's
      // documented contract)
      _ =>
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
           |ORDER BY source_a, source_b""".stripMargin),
    // schema evolution: two parquet generations (v1 lacks lang/n_chars)
    // read as ONE table via mergeSchema — old files widen with nulls;
    // the oracle replays the parity split on the original table
    QuerySpec("pipeline_schema_evolution", (s, d) => {
      val (v1, v2) = evolvedDocsDirs(s, d)
      graft.engine.Layout.evolvedRead(s, v1, v2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("lang")).as("n_with_lang"),
          sum(coalesce(col("n_chars"), lit(0L))).as("chars_known"),
          concat_ws(",", sort_array(collect_set(col("lang")))).as("langs"))
        .orderBy("source")
    },
      _ =>
        """SELECT source, count(*) AS n_docs,
          |       count(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_with_lang,
          |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_known,
          |       coalesce(array_to_string(list_sort(list(DISTINCT lang)
          |                FILTER (WHERE doc_id % 2 = 1)), ','), '') AS langs
          |FROM documents GROUP BY source
          |ORDER BY source""".stripMargin),
    // cluster-balanced diversity sample off the PUBLISHED IVF centroids
    // (compute-once shared with the ANN serving paths): map-only
    // assignment + bounded bottom-k per cluster — never a corpus-wide
    // sort across nlist reducers
    QuerySpec("pipeline_diverse_sample", (s, d) =>
      Similarity.diverseSample(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = SimilarityQueries.ivfSlug(d))
        .orderBy("cluster", "rank"),
      // diversity sample replay: the sim_ivf assignment CTEs (published
      // centroids, same fold, same DESC/DESC tie-break), then the same
      // fixed-width string key + (key, vec_id) rank order per cluster
      d =>
        s"""WITH c AS (SELECT list_id, centroid
          |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, SimilarityQueries.ivfSlug(d))}/*.parquet')),
          |$embNormCtes,
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
          |ORDER BY cluster, rank""".stripMargin),
  )

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
      val slug = sfOf(d).replace('.', '_').replace('-', '_')
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
  private def clfScoreCtes(d: String): String = {
    val scores = langScoreCols(lst => s"len(list_intersect(dtoks, $lst))")
    // 'en' is FIRST in the langPredOf when-chain, so lang_pred = 'en'
    // iff best > 0 AND s_en = best — the label needs no full case chain
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |lm AS (SELECT doc_id, list_distinct(toks) AS dtoks FROM t),
       |ls AS (SELECT doc_id,
       |       $scores
       |FROM lm),
       |lp AS (SELECT doc_id,
       |       CASE WHEN best > 0 AND s_en = best THEN 1 ELSE 0 END AS label
       |FROM (SELECT *, $langBest AS best FROM ls)),
       |wt AS (SELECT pos, w
       |       FROM read_parquet('${Curation.classifierWeightsPath(ArtifactWarehouse, clfSlug(d))}/*.parquet')),
       |tk AS (SELECT doc_id, unnest(toks) AS tk FROM t),
       |bc AS MATERIALIZED (
       |  SELECT doc_id,
       |         ${duckHexFold("'dsir:' || tk")} % 64 AS b
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
       |         ${duckHexFold("'dsir:' || bg")} % 64 AS b
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
    val scores = langScoreCols(lst => s"len(list_intersect(dtoks, $lst))")
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
       |            $langCaseArms
       |            ELSE 'und' END AS lang_pred
       |FROM (SELECT *, $langBest AS best FROM ls)),
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

  /** Image phash-cluster CTEs (`img` → `icl`), i-prefixed to dodge the
    * curation prefix's own edges/reach names — the multimodal_image_clusters
    * chain both multimodal gates join.
    */
  private def imageClusterCtes: String =
    """img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS ip
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
      |        GROUP BY i.doc_id)"""
}
