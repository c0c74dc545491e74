package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.engine.PublishGuard.ArtifactWarehouse
import graft.operators.{Dedup, Similarity}
import DuckSql._

/** Vector-search and embedding-eval queries (`sim_*`): exact scans, LSH,
  * IVF, PQ and PCA serving over published artifacts.
  */
object SimilarityQueries {

  /** The slugs the published artifacts carry; the constructors write and
    * the oracles read the same tables, both derived from the data dir.
    */
  def ivfSlug(d: String): String = s"ivf_centroids_${sfOf(d)}"
  def pqSlug(d: String): String = s"pq_codebooks_${sfOf(d)}"
  def ivfPqSlug(d: String): String = s"ivfpq_${sfOf(d)}"
  def pcaSlug(d: String): String = s"pca_${sfOf(d)}"
  def whitenSlug(d: String): String = s"whiten_${sfOf(d)}"

  val specs: Seq[QuerySpec] = Seq(
    // ── similarity search (LLM-pipeline operators) ──────────────────────
    QuerySpec("sim_bruteforce_topk", (s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d)).orderBy("query_id", "rank"),
      _ =>
        s"""WITH $embNormCtes,
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
          |ORDER BY query_id, rank""".stripMargin),
    // radius (range) search: every corpus vector with cosine >= 0.3 to
    // each query — the range complement of top-k serving; exact scan by
    // design (a radius answer may not miss), blocked/IVF stay the
    // approximate cut
    QuerySpec("sim_radius_search", (s, d) =>
      Similarity.radiusSearch(Tables.embeddings(s, d))
        .orderBy("query_id", "vec_id"),
      // the bruteforce scoring chain with a threshold cut instead of a
      // rank cut — the sequential-fold cosine is bit-identical on both
      // engines, so the 0.3 threshold selects the same set
      _ =>
        s"""WITH $embNormCtes,
          |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
          |s AS (SELECT q.query_id, n.vec_id,
          |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
          |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
          |      FROM n JOIN q ON n.vec_id <> q.query_id)
          |SELECT query_id, vec_id, cosine FROM s
          |WHERE cosine >= 0.3
          |ORDER BY query_id, vec_id""".stripMargin),
    // k-NN majority-label vote over the exact top-k (embedding eval)
    QuerySpec("sim_knn_label", (s, d) =>
      Similarity.knnLabel(Tables.embeddings(s, d)).orderBy("query_id"),
      _ =>
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
          |ORDER BY query_id""".stripMargin),
    // contrastive hard-negative mining: top-k nearest DIFFERENT-label
    // vectors per query — the bruteForce scoring chain with the label
    // predicate pushed into the candidate join
    QuerySpec("sim_hard_negatives", (s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d))
        .orderBy("query_id", "rank"),
      // sim_hard_negatives: the bruteforce chain with the label-mismatch
      // predicate in the candidate join — same fold cosine, same rank rule
      _ =>
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
          |ORDER BY query_id, rank""".stripMargin),
    // cluster-quality QA gate: per-cluster simplified silhouette against
    // the SAME published centroid artifact as sim_ivf_topk — per-vector
    // values bit-exact (fold dots vs table literals, 6 dp), summary 4 dp
    QuerySpec("sim_silhouette", (s, d) =>
      Similarity.silhouettePublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = ivfSlug(d))
        .orderBy("cluster"),
      // sim_silhouette: the sim_ivf assignment chain against the SAME
      // published centroid table, rn=1/rn=2 giving the own/next distances,
      // per-vector s rounded 6 dp BEFORE the per-cluster summary
      d =>
        s"""WITH c AS (SELECT list_id, centroid
          |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, ivfSlug(d))}/*.parquet')),
          |$embNormCtes,
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
          |ORDER BY cluster""".stripMargin),
    // index promotion gate: recall@5 of the published-IVF search vs the
    // exact scan, per query — both chains already oracle-checked, the
    // intersection count and the single-division recall are exact
    QuerySpec("sim_recall_eval", (s, d) =>
      Similarity.recallEvalPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = ivfSlug(d))
        .orderBy("query_id"),
      // sim_recall_eval: the exact bruteforce chain AND the published-IVF
      // chain side by side, hits = the per-query intersection count,
      // recall = one IEEE division
      d =>
        s"""WITH c AS (SELECT list_id, centroid
          |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, ivfSlug(d))}/*.parquet')),
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
          |ORDER BY ex.query_id""".stripMargin),
    // Matryoshka truncation eval: recall@5 of the exact search run on
    // the FIRST 16 of 64 dims vs the full-dim exact scan — both sides
    // the bruteForce chain, hits an equi-join intersection count,
    // recall one IEEE division (how far may the serving tier truncate?)
    QuerySpec("sim_truncation_recall", (s, d) =>
      Similarity.truncationRecall(Tables.embeddings(s, d))
        .orderBy("query_id"),
      // sim_truncation_recall: the bruteforce chain twice — once on the
      // full 64 dims (ground truth), once on the v[1:16] prefix slice
      // (norms recomputed on the slice) — hits = the per-query
      // intersection, recall = one IEEE division
      _ =>
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
          |ORDER BY ex.query_id""".stripMargin),
    // cluster labeling: top-5 most DISTINCTIVE terms per published-IVF
    // cluster by lift (in-cluster vs corpus relative frequency, floor 3
    // occurrences) — documents join the assignment on doc_id = vec_id;
    // integer counts, one rounded multiply-divide, rank cut after
    QuerySpec("sim_cluster_terms", (s, d) =>
      Similarity.clusterTermsPublished(
        Tables.embeddings(s, d), Tables.documents(s, d),
        baseDir = ArtifactWarehouse,
        slug = ivfSlug(d))
        .orderBy("cluster", "rank"),
      // sim_cluster_terms: the sim_ivf assignment chain (rn=1 against the
      // SAME published centroid table) joined to the documents tokens,
      // integer tf counts, lift = (c_tf·g_total)/(c_total·g_tf) rounded
      // 6 dp BEFORE the per-cluster rank cut
      d =>
        s"""WITH c AS (SELECT list_id, centroid
          |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, ivfSlug(d))}/*.parquet')),
          |$embNormCtes,
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
          |ORDER BY cluster, rank""".stripMargin),
    // hybrid search: embedding top-20 + lexical rarity-weighted-overlap
    // top-20 fused by reciprocal rank (1/(60+rank) per list, two-term
    // IEEE sum rounded 6 dp before the final top-5 cut); lexical score
    // is INTEGER Σ (N − df) over distinct shared terms
    QuerySpec("sim_hybrid_rrf", (s, d) =>
      Similarity.hybridRrf(Tables.embeddings(s, d), Tables.documents(s, d))
        .orderBy("query_id", "rank"),
      // sim_hybrid_rrf: the bruteforce chain at k=20 beside an inverted-
      // index lexical chain (integer Σ (N − df) over distinct shared
      // terms), full-outer fused by 1/(60+rank) reciprocals — the two-term
      // IEEE sum rounded 6 dp before the final top-5 cut
      _ =>
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
          |ORDER BY query_id, rank""".stripMargin),
    // maximal-marginal-relevance re-rank: greedy 5 picks from the exact
    // top-10 pool, each maximizing 0.5·rel − 0.5·max-sim-to-picked
    // (pool² pairwise cosines, k−1 unrolled argmax steps — serving-tier
    // cost, corpus touched only by the candidate former)
    QuerySpec("sim_mmr_rerank", (s, d) =>
      Similarity.mmrRerank(Tables.embeddings(s, d))
        .orderBy("query_id", "pick"),
      // sim_mmr_rerank: candidate pool = the bruteforce chain at k=10
      // (rel = the raw fold cosine), pool² pairwise sims, then 4 unrolled
      // greedy steps — each scores the not-yet-picked pool by
      // round6(0.5·rel − 0.5·max sim-to-picked) and takes the argmax
      _ => {
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
      }),
    // k-center greedy coreset (farthest-point sampling): 10 picks, each
    // the max-min-cosine-distance vector from the picked set (9 dp
    // round before the argmax, vec_id tie-break); mindist = the
    // coverage radius at pick time
    QuerySpec("sim_kcenter_coreset", (s, d) =>
      Similarity.kCenterCoreset(Tables.embeddings(s, d))
        .orderBy("pick"),
      // sim_kcenter_coreset: farthest-point sampling unrolled — seed =
      // min vec_id, each step the max of min 9 dp cosine distances to the
      // picked set (vec_id tie-break via ORDER BY ... LIMIT 1)
      _ => {
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
        s"""WITH $embNormCtes,
           |nn AS MATERIALIZED (SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
           |sel1 AS MATERIALIZED (SELECT vec_id, nv FROM nn
           |         WHERE vec_id = (SELECT min(vec_id) FROM nn)),
           |$steps
           |SELECT CAST(pick AS INTEGER) AS pick, vec_id, mindist
           |FROM (SELECT 1 AS pick, vec_id, CAST(NULL AS DOUBLE) AS mindist FROM sel1
           |$outRows)
           |ORDER BY pick""".stripMargin
      }),
    // contrastive triplets: per query the top same-label positive and
    // top different-label hard negative from ONE scored pass, plus the
    // pos − neg margin a triplet loss would see
    QuerySpec("sim_triplets", (s, d) =>
      Similarity.triplets(Tables.embeddings(s, d))
        .orderBy("query_id"),
      // sim_triplets: ONE scored pass (the bruteforce chain keeping the
      // label), then two rn=1 cuts — same-label positive, different-label
      // negative — and the raw-cosine margin subtraction
      _ =>
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
          |ORDER BY p.query_id""".stripMargin),
    // per-label class prototypes: one row per (label, dimension)
    QuerySpec("sim_label_centroids", (s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d)).orderBy("label", "pos"),
      _ =>
        """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
          |x AS (SELECT label, unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM e)
          |SELECT CAST(label AS INTEGER) AS label, CAST(pos AS INTEGER) AS pos,
          |       count(*) AS n_vecs,
          |       floor((avg(x)) * 10000 + 0.5) / 10000 AS dim_mean
          |FROM x GROUP BY label, pos
          |ORDER BY label, pos""".stripMargin),
    // nearest-centroid classification accuracy per label (embedding eval)
    QuerySpec("sim_centroid_agreement", (s, d) =>
      Similarity.centroidAgreement(Tables.embeddings(s, d)).orderBy("label"),
      _ =>
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
          |ORDER BY label""".stripMargin),
    // per-label norm stats (collapsed/exploding-vector telemetry)
    QuerySpec("sim_norm_stats", (s, d) =>
      Similarity.normStats(Tables.embeddings(s, d)).orderBy("label"),
      _ =>
        """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
          |n AS (SELECT label,
          |             sqrt(list_reduce([y * y for y in v], (a, b) -> a + b)) AS nrm
          |      FROM e)
          |SELECT CAST(label AS INTEGER) AS label, count(*) AS n_vecs,
          |       floor((avg(nrm)) * 10000 + 0.5) / 10000 AS avg_norm,
          |       floor((min(nrm)) * 10000 + 0.5) / 10000 AS min_norm,
          |       floor((max(nrm)) * 10000 + 0.5) / 10000 AS max_norm
          |FROM n GROUP BY label
          |ORDER BY label""".stripMargin),
    // int8 scalar quantization + reconstruction-error telemetry — map-only
    // compression pass; codes AND mse are IEEE-deterministic so the
    // oracle checks them bit-for-bit
    QuerySpec("sim_quantize_int8", (s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d)).orderBy("vec_id"),
      _ =>
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
          |FROM q ORDER BY vec_id""".stripMargin),
    // connected components over the exact blocked cosine pair graph
    QuerySpec("dedup_embedding_clusters", (s, d) =>
      Dedup.embeddingNearDupClusters(Tables.embeddings(s, d)).orderBy("vec_id"),
      _ =>
        s"""WITH RECURSIVE
          |$embNormCtes,
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
          |ORDER BY emb.vec_id""".stripMargin),
    // md5-keyed deterministic hyperplanes (no RNG) — the whole LSH
    // pipeline (planes, buckets, candidates, exact-cosine rerank) is
    // reproduced in DuckDB, so this is hash-checked; the seeded-gaussian
    // family stays recall-spec'd in SimilaritySpec
    QuerySpec("sim_lsh_topk", (s, d) =>
      Similarity.lshTopKSql(Tables.embeddings(s, d)).orderBy("query_id", "rank"),
      // sim_lsh_topk: hyperplane component (t,b,i) = 2u−1, u = (first 13 hex
      // digits of md5('hp:t:b:i') as base-16) / 2^52 — 52 bits is exactly
      // double-representable, so both engines hold the same component, the
      // same sign bits, the same buckets, and (sequential-fold dot, as in
      // sim_bruteforce_topk) the same cosines bit-for-bit.
      _ =>
        s"""WITH hp AS (
          |  SELECT t.range AS t, b.range AS b, i.range AS i,
          |         (CAST(list_reduce(
          |            [CAST(strpos('0123456789abcdef',
          |                         substr(md5('hp:' || t.range || ':' || b.range || ':' || i.range),
          |                                d, 1)) - 1 AS BIGINT)
          |             for d in range(1, 14)],
          |            (a, c) -> a * 16 + c) AS DOUBLE) / 4503599627370496.0) * 2 - 1 AS comp
          |  FROM range(8) t, range(4) b, range(64) i),
          |pl AS (SELECT t, b, list(comp ORDER BY i) AS plane FROM hp GROUP BY t, b),
          |$embNormCtes,
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
          |$candRerankSql
          |ORDER BY query_id, rank""".stripMargin),
    // training/serving split: centroids PUBLISHED as parquet, serving
    // (assignment + probe + exact rerank) reproduced by the oracle from
    // the same published table — k-means means aren't SQL-reproducible,
    // but serving against fixed centroids is
    QuerySpec("sim_ivf_topk", (s, d) =>
      Similarity.ivfTopKPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = ivfSlug(d))
        .orderBy("query_id", "rank"),
      // sim_ivf_topk: the Spark query PUBLISHES its trained centroids as a
      // parquet table and serves against exactly those values; the oracle
      // reads the same table (fixed path — Verify runs before the oracle,
      // and the driver's oracle pass is sf0.01) and replays the serving
      // math: normalize, sequential-fold centroid dots, argmax assignment
      // (ties → larger list_id, mirroring array_max's struct compare),
      // top-nprobe probe lists, exact-cosine rerank.
      d =>
        s"""${ivfAssignCtes(d)}
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
          |$candRerankSql
          |ORDER BY query_id, rank""".stripMargin),
    // two-level probe selection on the Similarity ANN surface (round 17;
    // the Graph serving sibling is graph_embedding_neighbors_ivf_hier):
    // the SAME published centroids plus the published √nlist-group
    // quantizer — probes restricted to the top-2 of 4 groups' members
    QuerySpec("sim_ivf_hier_topk", (s, d) =>
      Similarity.ivfTopKPublishedHier(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = ivfSlug(d))
        .orderBy("query_id", "rank"),
      // sim_ivf_hier_topk: the sim_ivf_topk replay with TWO-LEVEL probe
      // selection (round 17) — the published √nlist-group quantizer table,
      // the DERIVED centroid→group map (argmax dot, ties → larger group
      // id), each query's top-2 groups, probes restricted to their members
      d =>
        s"""WITH c AS (SELECT list_id, centroid
          |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, ivfSlug(d))}/*.parquet')),
          |g AS (SELECT group_id, centroid
          |      FROM read_parquet('${Similarity.ivfGroupsPath(ArtifactWarehouse, ivfSlug(d), 16, 3, 4, 3)}/*.parquet')),
          |$embNormCtes,
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
          |$candRerankSql
          |ORDER BY query_id, rank""".stripMargin),
    // binary sign-quantization ANN (round 17): 63-bit sign codes +
    // Hamming rank — the 1-bit point of the quantization family, one
    // long per vector; agreement with cosine measured in SimilaritySpec
    QuerySpec("sim_hamming_topk", (s, d) =>
      Similarity.hammingTopK(Tables.embeddings(s, d))
        .orderBy("query_id", "rank"),
      // sim_hamming_topk: sign codes re-derived in SQL (same strict > 0
      // sign test, bits 0..62 OR-folded into one BIGINT), Hamming =
      // bit_count(xor), rank (hamming asc, vec_id asc) — a deterministic
      // function of the codes, replayed exactly
      _ =>
        s"""WITH $embNormCtes,
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
          |ORDER BY query_id, rank""".stripMargin),
    // the retrieval deployment: an EXTERNAL query table (here a held-out
    // id subset, so DuckDB can replay it) served against the SAME
    // published centroid artifact as sim_ivf_topk — same assignment,
    // probe and rerank math, query set swapped
    QuerySpec("sim_ivf_external_topk", (s, d) =>
      Similarity.ivfTopKPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = ivfSlug(d),
        queryTable = Some(Tables.embeddings(s, d)
          .where(col("vec_id") % 97 === 1).select("vec_id", "embedding")))
        .orderBy("query_id", "rank"),
      // sim_ivf_external_topk: the sim_ivf_topk replay with the query set
      // swapped to the held-out id subset the Spark side passes as an
      // external query table — the artifact and all serving math unchanged
      d =>
        s"""${ivfAssignCtes(d)}
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
          |$candRerankSql
          |ORDER BY query_id, rank""".stripMargin),
    // SemDeDup semantic prune: within-cluster cosine groups over the
    // SAME published centroid artifact, one representative kept per
    // group — the pair former is cluster-bucketed, never corpus²
    QuerySpec("sim_semantic_prune", (s, d) =>
      Similarity.semanticPrunePublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = ivfSlug(d))
        .orderBy("vec_id"),
      // sim_semantic_prune: the sim_ivf assignment chain against the SAME
      // published centroid table, then within-cluster sequential-fold
      // cosine pairs at 0.45 and the recursive-CTE component collapse
      // (rep = min vec_id) — SemDeDup replayed end to end
      d =>
        s"""WITH RECURSIVE
          |c AS (SELECT list_id, centroid
          |      FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, ivfSlug(d))}/*.parquet')),
          |$embNormCtes,
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
          |ORDER BY a.vec_id""".stripMargin),
    // the retrain trigger: PSI of the cluster-assignment distribution
    // between the even/odd vec_id cohorts against the SAME published
    // centroids — map-only assignment + nlist-sized partial-aggs, the
    // PSI itself constant-size (quantifies when rotateIvfIndex is due)
    QuerySpec("sim_centroid_drift", (s, d) =>
      Similarity.centroidDriftPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = ivfSlug(d)),
      // sim_centroid_drift: replays the sim_ivf assignment chain against
      // the published centroid table, then the driftPsi math (Laplace-
      // smoothed shares, cluster-sorted fold with prepended 0.0 ≡ the
      // Spark aggregate's zero init, 4 dp)
      d =>
        s"""${ivfAssignCtes(d)}
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
          |SELECT n_base, n_cur, psi, psi >= 0.2 AS drifted FROM f""".stripMargin),
    // PQ/ADC compressed-index scan with exact rerank — same split: the
    // trained codebooks are published and the oracle replays code
    // assignment + the ADC sum + rerank from the published table
    QuerySpec("sim_pq_topk", (s, d) =>
      Similarity.pqTopKPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = pqSlug(d))
        .orderBy("query_id", "rank"),
      // sim_pq_topk: same training/serving split as sim_ivf_topk — the
      // Spark query publishes its trained PQ codebooks (s, j, centroid) and
      // the oracle replays serving: code assignment per subspace
      // (argmax x·c − ‖c‖²/2; ties → larger code, mirroring array_max),
      // per-query ADC lookup tables, the m-term ADC sum folded in subspace
      // order (list(... ORDER BY s) = Spark's reduce over s), approx
      // shortlist of 50, exact-cosine rerank.
      d =>
        s"""WITH b AS (SELECT s, j, centroid,
          |                  list_reduce([x * x for x in centroid],
          |                              (x, y) -> x + y) / 2 AS bias
          |           FROM read_parquet('${Similarity.pqCodebooksPath(ArtifactWarehouse, pqSlug(d))}/*.parquet')),
          |$embNormCtes,
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
          |$pqRerankCtes
          |ORDER BY query_id, rank""".stripMargin),
    // IVF coarse pruning × PQ compressed scan — the production ANN
    // pairing; publishes both artifacts, oracle replays the full chain
    QuerySpec("sim_ivfpq_topk", (s, d) =>
      Similarity.ivfPqTopKPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = ivfPqSlug(d))
        .orderBy("query_id", "rank"),
      // sim_ivfpq_topk: both published artifacts — centroids for the IVF
      // prune (assignment ties → larger list_id via array_max; probe-list
      // ties → SMALLER list_id: the driver-side stable sortBy keeps
      // ascending index order on equal dots) and codebooks for the ADC
      // scan; candidates = probed clusters only, then ADC shortlist and
      // exact rerank exactly as sim_pq_topk.
      d =>
        s"""WITH c AS (SELECT list_id, centroid
          |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, ivfPqSlug(d) + "_centroids")}/*.parquet')),
          |b AS (SELECT s, j, centroid,
          |             list_reduce([x * x for x in centroid],
          |                         (x, y) -> x + y) / 2 AS bias
          |      FROM read_parquet('${Similarity.pqCodebooksPath(ArtifactWarehouse, ivfPqSlug(d) + "_codebooks")}/*.parquet')),
          |$embNormCtes,
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
          |$pqRerankCtes
          |ORDER BY query_id, rank""".stripMargin),
    // PCA train/serve split: covariance folds distributed, the (dim×dim)
    // moment matrix Jacobi-solves on the driver, the canonical rotation
    // publishes as parquet, and serving is one codegen'd map pass whose
    // sequential folds the oracle replays bit-for-bit
    QuerySpec("sim_pca_project", (s, d) =>
      Similarity.pcaProjectPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        slug = pcaSlug(d))
        .orderBy("vec_id"),
      // PCA serving replay: projections are sequential folds over the
      // published (component, mean, rot) table — list_reduce associates
      // exactly like the Spark aggregate fold, so values match bit-for-bit;
      // the norm derives from the ROUNDED components in both engines
      d => {
        val pcols = (1 to 16).map { k =>
          s"""floor(list_reduce([(v[j] - pl.m[j]) * pl.rm[j][$k] for j in range(1, 65)],
             |                  (a, b) -> a + b) * 1000000 + 0.5) / 1000000 AS p${"%02d".format(k)}""".stripMargin
        }.mkString(",\n")
        val sumsq = (1 to 16).map(k => f"p$k%02d * p$k%02d").mkString(" + ")
        s"""WITH p AS (SELECT component, mean, rot
           |           FROM read_parquet('${Similarity.pcaPath(ArtifactWarehouse, pcaSlug(d))}/*.parquet')),
           |pl AS (SELECT list(mean ORDER BY component) AS m,
           |              list(rot ORDER BY component) AS rm FROM p),
           |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |y AS (SELECT vec_id,
           |$pcols
           |      FROM e CROSS JOIN pl)
           |SELECT y.*, floor(sqrt($sumsq) * 1000000 + 0.5) / 1000000 AS proj_norm
           |FROM y
           |ORDER BY vec_id""".stripMargin
      }),
    // PCA whitening: the published projection scaled per component by
    // the PUBLISHED 1/sqrt(variance) table — serving map-only, both
    // artifacts as literals, every output replayable from the tables
    QuerySpec("sim_whiten", (s, d) =>
      Similarity.whitenPublished(Tables.embeddings(s, d),
        baseDir = ArtifactWarehouse,
        pcaSlug = pcaSlug(d),
        slug = whitenSlug(d))
        .orderBy("vec_id"),
      // whitening: the sim_pca_project projection chain scaled by the
      // published per-component 1/sqrt(variance) table, 6 dp
      d => {
        val pcols = (1 to 16).map { k =>
          s"""floor(list_reduce([(v[j] - pl.m[j]) * pl.rm[j][$k] for j in range(1, 65)],
             |                  (a, b) -> a + b) * 1000000 + 0.5) / 1000000 AS p${"%02d".format(k)}""".stripMargin
        }.mkString(",\n")
        val wcols = (1 to 16).map { k =>
          val kk = "%02d".format(k)
          s"floor(p$kk * sl.s[$k] * 1000000 + 0.5) / 1000000 AS w$kk"
        }.mkString(",\n       ")
        s"""WITH p AS (SELECT component, mean, rot
           |           FROM read_parquet('${Similarity.pcaPath(ArtifactWarehouse, pcaSlug(d))}/*.parquet')),
           |pl AS (SELECT list(mean ORDER BY component) AS m,
           |              list(rot ORDER BY component) AS rm FROM p),
           |sc AS (SELECT component, scale
           |       FROM read_parquet('${Similarity.whitenPath(ArtifactWarehouse, whitenSlug(d))}/*.parquet')),
           |sl AS (SELECT list(scale ORDER BY component) AS s FROM sc),
           |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |y AS (SELECT vec_id,
           |$pcols
           |      FROM e CROSS JOIN pl)
           |SELECT vec_id,
           |       $wcols
           |FROM y CROSS JOIN sl
           |ORDER BY vec_id""".stripMargin
      }),
  )

  /** The sim_ivf assignment chain: the published centroid table `c`,
    * normalized vectors, sequential-fold centroid dots (`d`), and each
    * vector's argmax cluster in `a` (ties → larger list_id); ends in a
    * comma, the caller's CTEs follow.
    */
  private def ivfAssignCtes(d: String): String =
    s"""WITH c AS (SELECT list_id, centroid
       |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, ivfSlug(d))}/*.parquet')),
       |$embNormCtes,
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
       |      WHERE rn = 1),"""

  /** The PQ shortlist: top-50 approximate (ADC) candidates per query
    * (`short`) reranked by exact cosine (`sc`), top-5 kept.
    */
  private def pqRerankCtes: String =
    """short AS (SELECT query_id, vec_id FROM (
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
      |WHERE rank <= 5"""

  /** Exact-cosine rerank of each query's candidates `cand` against the query
    * vectors `q` and norms `n`, top 5 per query.
    */
  private def candRerankSql: String =
    """s AS (SELECT cand.query_id, cand.vec_id,
      |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
      |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
      |      FROM cand JOIN n ON n.vec_id = cand.vec_id
      |      JOIN q ON q.query_id = cand.query_id)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY cosine DESC, vec_id) AS rank
      |  FROM s)
      |WHERE rank <= 5"""
}
