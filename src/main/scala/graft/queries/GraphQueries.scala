package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.engine.PublishGuard.ArtifactWarehouse
import graft.operators.{Graph, Similarity}
import DuckSql._

/** Graph analytics over the relation-derived trade graph (`graph_*`):
  * degrees and walks, node embeddings and their serving, iterative
  * ranking and community loops.
  */
object GraphQueries {

  /** The slugs the published artifacts carry; the constructors write and
    * the oracles read the same tables, both derived from the data dir.
    */
  def nodeEmbSlug(d: String): String = s"node_emb_${sfOf(d)}"
  def nodeEmbIvfSlug(d: String): String = s"node_emb_ivf_${sfOf(d)}"
  def nodeEmbN2vSlug(d: String): String = s"node_emb_n2v_${sfOf(d)}"

  val specs: Seq[QuerySpec] = Seq(
    // ── graph analytics over relation-derived graphs ────────────────────
    // customer–supplier trade graph: degree histogram per side — all
    // trade-graph consumers read the compute-once published edge table
    // (keyed on the data dir), so the orders⋈lineitem derivation runs
    // once per data key, not once per query
    QuerySpec("graph_degrees", (s, d) =>
      Graph.degreeHistogram(
        Graph.sharedTradeEdges(Tables.orders(s, d), Tables.lineitem(s, d),
          cacheKey = d))
        .orderBy("side", "degree"),
      _ =>
        """WITH base AS (SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
          |              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |sym AS (SELECT u, v FROM base UNION ALL SELECT v, u FROM base),
          |dg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u)
          |SELECT substr(u, 1, 1) AS side, deg AS degree, count(*) AS n_nodes
          |FROM dg GROUP BY side, deg
          |ORDER BY side, degree""".stripMargin),
    // deterministic hash-seeded random walks (DeepWalk corpus),
    // computed ONCE per data key and PUBLISHED — every walk consumer
    // (this query, the context-pair miner, the SGNS trainer) reads the
    // same parquet table instead of re-running the 4 frontier joins
    QuerySpec("graph_random_walks", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.sharedWalkCorpus(edges, cacheKey = d)
        .orderBy("walk_id", "step")
    },
      // random walks: the oracle unrolls the SAME fixed 4 steps — ranked
      // undirected neighbors (row_number by id, count as degree), neighbor
      // choice = 52-bit md5 hex fold of 'rw:walk:step' mod degree
      _ => {
        s"""WITH $walkTreeCtes
           |SELECT walk_id, CAST(step AS INTEGER) AS step, node FROM (
           |  SELECT * FROM w0
           |  UNION ALL SELECT * FROM w1
           |  UNION ALL SELECT * FROM w2
           |  UNION ALL SELECT * FROM w3
           |  UNION ALL SELECT * FROM w4)
           |ORDER BY walk_id, step""".stripMargin
      }),
    // node2vec second-order biased walks (p=4, q=0.25 — outward): the
    // return/local/explore weights drawn by a deterministic inverse-CDF
    // over an ORDERED prefix sum, so the biased choice replays exactly;
    // published compute-once beside the DeepWalk corpus
    QuerySpec("graph_node2vec_walks", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.sharedNode2vecCorpus(edges, cacheKey = d)
        .orderBy("walk_id", "step")
    },
      // node2vec: step 1 is the uniform rank rule; steps 2-4 unroll the
      // weighted inverse-CDF draw — weights {0.25, 1, 4} are dyadic
      // rationals so the ORDERED prefix sums are exact doubles on both
      // engines, and the first-cum-≥-u·total pick is bit-identical
      _ => {
        s"""WITH $node2vecTreeCtes
           |SELECT walk_id, CAST(step AS INTEGER) AS step, node FROM (
           |  SELECT walk_id, step, node FROM w0
           |  UNION ALL SELECT walk_id, step, node FROM d1
           |  UNION ALL SELECT walk_id, step, node FROM d2
           |  UNION ALL SELECT walk_id, step, node FROM d3
           |  UNION ALL SELECT walk_id, step, node FROM d4)
           |ORDER BY walk_id, step""".stripMargin
      }),
    // GraphSAGE fixed-fanout neighborhood sampling (3 then 2) from a
    // sampled customer cohort: per-edge md5-hash rank picks the sampled
    // adjacency ONCE, each hop is one frontier-sized equi-join —
    // the bounded GNN computation tree, engine-reproducible
    QuerySpec("graph_sage_sample", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.sageSample(edges,
        Tables.customer(s, d).where(col("c_custkey") % 97 === 1)
          .select(concat(lit("c:"), col("c_custkey")).as("seed")),
        adjacency = Some(Graph.sharedSageAdjacency(edges, cacheKey = d)))
        .orderBy("seed", "hop", "parent", "branch")
    },
      // graph_sage_sample: the hash-ranked sampled adjacency built once
      // (per-edge md5 fold of sage:u:v, rank per source), hop 1 takes
      // rnk <= 3 from each seed, hop 2 takes rnk <= 2 from each sampled
      // node — the same two equi-joins the Spark side runs
      _ => {
        s"""WITH $sageTreeCtes
           |SELECT seed, CAST(hop AS INTEGER) AS hop, parent, node,
           |       CAST(branch AS INTEGER) AS branch
           |FROM (SELECT * FROM h0
           |      UNION ALL SELECT * FROM h1
           |      UNION ALL SELECT * FROM h2)
           |ORDER BY seed, hop, parent, branch""".stripMargin
      }),
    // GraphSAGE 2-layer mean aggregation over the sampled trees:
    // branch-ordered folds, acctbal features, h = (x + mean children)/2
    // per layer (9 dp then 6 dp) — the GNN layer cost is the tree size
    QuerySpec("graph_sage_aggregate", (s, d) => {
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
    },
      // graph_sage_aggregate: the sage chain + bottom-up branch-ordered
      // mean folds — hop-2 features into hop-1 parents (9 dp), hop-1
      // values into the seed (6 dp); childless nodes contribute their own
      // feature via coalesce
      _ => {
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
      }),
    // skip-gram (center, context) pairs within ±2 steps over the
    // PUBLISHED DeepWalk corpus — the window pass is the query's only
    // compute; the walk generation cost was paid once per data key
    QuerySpec("graph_walk_context_pairs", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.walkContextPairs(Graph.sharedWalkCorpus(edges, cacheKey = d))
        .orderBy("walk_id", "center_step", "offset")
    },
      // graph_walk_context_pairs: the graph_random_walks chain, then every
      // (center, context) position pair within ±2 steps of the same walk —
      // the walk-bounded self-join is the SQL spelling of the Spark side's
      // single lead/lag window pass
      _ => {
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
      }),
    // second-order skip-gram pairs — the actual node2vec training
    // input: the same ±2-step window pass over the PUBLISHED node2vec
    // corpus (near-zero marginal cost once the corpus is published)
    QuerySpec("graph_node2vec_context_pairs", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.walkContextPairs(Graph.sharedNode2vecCorpus(edges, cacheKey = d))
        .orderBy("walk_id", "center_step", "offset")
    },
      // graph_node2vec_context_pairs: the node2vec chain, then the same
      // walk-bounded ±2-step pair join graph_walk_context_pairs uses
      _ => {
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
      }),
    // SGNS node embeddings: trained once over the PUBLISHED DeepWalk
    // corpus (skip-gram with 2 hash-drawn negatives, full-batch GD on
    // node-sized DataFrame state), published as (node, vec), served
    // here as exact top-5 cosine neighbors of a 10-customer cohort —
    // the oracle replays serving from the same published table
    QuerySpec("graph_embedding_neighbors", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbSlug(d))
      Graph.embeddingNeighbors(emb,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct())
        .orderBy("query", "rank")
    },
      // graph_embedding_neighbors: serving REPLAYED from the published
      // (node, vec) table — the clf_weights/ivf_centroids discipline:
      // training is transcendental and engine-local, so the oracle never
      // re-trains; it reads the same parquet the Spark side serves from
      // and reproduces every fold cosine bit-for-bit
      d =>
        s"""WITH emb AS (SELECT node, vec::DOUBLE[] AS v
          |             FROM read_parquet('${Graph.nodeEmbeddingPath(ArtifactWarehouse, nodeEmbSlug(d))}/*.parquet')),
          |$embeddingTopKSql
          |ORDER BY query, rank""".stripMargin),
    // link prediction — the embeddings' canonical downstream consumer:
    // top-5 NOT-yet-adjacent suppliers per cohort customer by published-
    // embedding cosine (adjacency anti-joined out before the rank)
    QuerySpec("graph_link_prediction", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbSlug(d))
      Graph.linkPrediction(emb, edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct())
        .orderBy("query", "rank")
    },
      // graph_link_prediction: the embedding-neighbors chain restricted to
      // the supplier side with current adjacency anti-joined out — same
      // published-table replay, same fold cosine and rank rule
      d =>
        s"""WITH emb AS (SELECT node, vec::DOUBLE[] AS v
          |             FROM read_parquet('${Graph.nodeEmbeddingPath(ArtifactWarehouse, nodeEmbSlug(d))}/*.parquet')),
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
          |ORDER BY query, rank""".stripMargin),
    // link prediction on the IVF-pruned candidate set — the scaled
    // serving shape of the every-user recommendation query: candidates
    // from probed buckets of the SAME published centroid table as
    // graph_embedding_neighbors_ivf, adjacency anti-joined before the
    // rank, in_exact honesty vs the exact chain
    QuerySpec("graph_link_prediction_ivf", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbSlug(d))
      Graph.linkPredictionIvf(emb, edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct(),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbIvfSlug(d))
        .orderBy("query", "rank")
    },
      // graph_link_prediction_ivf: the neighbors_ivf chain with the
      // candidate set cut to the supplier side and current adjacency
      // anti-joined out BEFORE the rank; the exact link-prediction chain
      // re-derived for the in_exact honesty bit
      d =>
        s"""WITH ${ivfServingCtes(d, linkPred = true)},
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
          |ORDER BY ivf.query, rank""".stripMargin),
    // the pruned-only PRODUCTION serving spellings (round 16): the same
    // chains as the _ivf variants with the honesty join dropped — the
    // oracle value-checks the production path on its own, and
    // graft.IvfServingBench measures it at an every-customer cohort
    QuerySpec("graph_embedding_neighbors_ivf_pruned", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbSlug(d))
      Graph.embeddingNeighborsIvfPruned(emb,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct(),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbIvfSlug(d))
        .orderBy("query", "rank")
    },
      // the pruned-only production spellings (round 16): the SAME chain as
      // the honesty variants minus the exact join — value-checked by the
      // oracle on their own, so the production path itself is hash-green
      d =>
        s"""WITH ${ivfServingCtes(d, linkPred = false)}
          |SELECT query, CAST(rank AS INTEGER) AS rank, node, cosine
          |FROM ivf ORDER BY query, rank""".stripMargin),
    QuerySpec("graph_link_prediction_ivf_pruned", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbSlug(d))
      Graph.linkPredictionIvfPruned(emb, edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct(),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbIvfSlug(d))
        .orderBy("query", "rank")
    },
      // nprobe=8: the pruned link-prediction default since round 17
      // (verdict item 4 — the 0.91-vs-0.66 recall floor at the 10× cohort)
      d =>
        s"""WITH ${ivfServingCtes(d, linkPred = true, nprobe = 8)}
          |SELECT query, CAST(rank AS INTEGER) AS rank, node, cosine
          |FROM ivf ORDER BY query, rank""".stripMargin),
    // two-level probe selection (round 17): top-2 of the 4 published
    // centroid groups, then probes among their members only — the
    // sub-linear selection path the oracle replays from the published
    // group table (see ivfServingCtes' hier CTEs)
    QuerySpec("graph_embedding_neighbors_ivf_hier", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbSlug(d))
      Graph.embeddingNeighborsIvfPruned(emb,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct(),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbIvfSlug(d),
        gprobe = 2)
        .orderBy("query", "rank")
    },
      // the TWO-LEVEL selection spelling (round 17): probes restricted to
      // the top-2 of 4 published centroid groups — the sub-linear probe
      // selection path, value-checked end to end from the published tables
      d =>
        s"""WITH ${ivfServingCtes(d, linkPred = false, nprobe = 4,
               hier = Some((4, 3, 2)))}
          |SELECT query, CAST(rank AS INTEGER) AS rank, node, cosine
          |FROM ivf ORDER BY query, rank""".stripMargin),
    // the node2vec-trained sibling: the SAME corpus-agnostic SGNS
    // trainer pointed at the published second-order corpus (its own
    // published table — p/q bias changes the mined pairs, so the
    // geometry differs), served identically — the biased walk corpus
    // trains something too, not just the uniform one
    QuerySpec("graph_embedding_neighbors_n2v", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedNode2vecCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbN2vSlug(d))
      Graph.embeddingNeighbors(emb,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct())
        .orderBy("query", "rank")
    },
      // graph_embedding_neighbors_n2v: serving replayed from the
      // node2vec-trained published table — same chain, different slug
      d =>
        s"""WITH emb AS (SELECT node, vec::DOUBLE[] AS v
          |             FROM read_parquet('${Graph.nodeEmbeddingPath(ArtifactWarehouse, nodeEmbN2vSlug(d))}/*.parquet')),
          |$embeddingTopKSql
          |ORDER BY query, rank""".stripMargin),
    // the IVF-pruned serving path over the SAME published embedding
    // table: centroids published once (node_emb_ivf slug), assignment +
    // nprobe probe lists + exact rerank of probed buckets only — with
    // the in_exact honesty column (IVF hit ∈ exact top-5) hash-checked
    // by the oracle replaying BOTH chains from the published tables
    QuerySpec("graph_embedding_neighbors_ivf", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      val emb = Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbSlug(d))
      Graph.embeddingNeighborsIvf(emb,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct(),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbIvfSlug(d))
        .orderBy("query", "rank")
    },
      // graph_embedding_neighbors_ivf: BOTH published tables replayed —
      // nearest-centroid assignment and nprobe probe lists off the
      // published (list_id, centroid) table, exact-cosine rerank of the
      // probed buckets only, and the exact full-scan top-5 re-derived for
      // the in_exact honesty bit (the sim_recall_eval chain shape)
      d =>
        s"""WITH ${ivfServingCtes(d, linkPred = false)},
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
          |ORDER BY ivf.query, rank""".stripMargin),
    // embedding promotion-gate report: per bipartite side-pair, counts
    // and 4 dp mean cosine/norm over ONE deterministic hash-drawn
    // partner per node — the classifier-eval discipline applied to the
    // published embedding table before a version serves
    QuerySpec("graph_embedding_eval", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.embeddingEval(Graph.publishedNodeEmbeddings(
        Graph.sharedWalkCorpus(edges, cacheKey = d),
        baseDir = ArtifactWarehouse,
        slug = nodeEmbSlug(d)))
    },
      // graph_embedding_eval: the same hash-drawn one-partner-per-node
      // sample replayed from the published table — per-pair cosine/norm
      // rounded 6 dp, side-pair means 4 dp (the float-summary discipline
      // sim_silhouette proved out)
      d => {
        s"""WITH emb AS (SELECT node, vec::DOUBLE[] AS v
          |             FROM read_parquet('${Graph.nodeEmbeddingPath(ArtifactWarehouse, nodeEmbSlug(d))}/*.parquet')),
          |n AS (SELECT node, v,
          |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
          |      FROM emb),
          |vocab AS (SELECT node, row_number() OVER (ORDER BY node) - 1 AS idx
          |          FROM emb),
          |nv AS (SELECT count(*) AS c FROM vocab),
          |drawn AS (SELECT a.node, a.v AS av, a.nrm AS anrm,
          |                 ${duckHexFold("'embeval:' || a.node")} % (SELECT c FROM nv) AS pidx
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
      }),
    // walk-corpus QA: per step, surviving walks and distinct-node
    // coverage — a read + two partial aggregates over the published
    // corpus (a shrinking walk count would mean a broken generator)
    QuerySpec("graph_walk_corpus_stats", (s, d) => {
      val edges = Graph.sharedTradeEdges(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.walkCorpusStats(Graph.sharedWalkCorpus(edges, cacheKey = d))
    },
      // graph_walk_corpus_stats: the walk CTE chain re-derived (the
      // published table IS the live walk set), per-step survivor and
      // coverage counts
      _ => {
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
      }),
    // 5-iteration damped PageRank on the symmetrized trade graph
    // (checkpointed contributions loop — one |E| join + sum per round)
    QuerySpec("graph_pagerank", (s, d) => {
      val adj = Graph.sharedSymAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.pageRank(adj.edges, adjacency = Some(adj)).orderBy("node")
    },
      // PageRank: the oracle unrolls the SAME fixed 5 damped iterations the
      // Spark loop runs; 6 dp rounding absorbs cross-engine sum-order float
      // noise (~1e-15 relative — the iteration is a contraction)
      _ => {
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
      }),
    // per-part triangle counts on the co-purchase (market-basket) graph —
    // a projection of the compute-once published triangle-stats table
    // (shared with graph_clustering_coeff, keyed on the data dir)
    QuerySpec("graph_triangles", (s, d) =>
      Graph.sharedCopurchaseTriangleStats(Tables.lineitem(s, d), cacheKey = d)
        .where(col("triangles") > 0)
        .select(col("part_key"), col("triangles"))
        .orderBy("part_key"),
      // triangles: the oracle enumerates naively (a<b<c three-way self-join);
      // the Spark side's degree-ordered orientation changes join SIZES only,
      // the triangle set is identical (GraphSpec proves it on testdata)
      _ =>
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
          |ORDER BY part_key""".stripMargin),
    // HITS hubs/authorities on the DIRECTED bipartite trade graph
    QuerySpec("graph_hits", (s, d) =>
      Graph.hits(
        Graph.sharedTradeEdges(Tables.orders(s, d), Tables.lineitem(s, d),
          cacheKey = d))
        .orderBy("role", "node"),
      // HITS: same fixed 5 rounds of L1-normalized mutual reinforcement;
      // the normalizers are scalar subqueries (the Spark side's 1-row
      // broadcast), scores rounded 6 dp at the end only
      _ => {
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
      }),
    // weighted PageRank: walk probability follows trade volume
    // (order-line counts), not mere adjacency
    QuerySpec("graph_pagerank_weighted", (s, d) => {
      val adj = Graph.sharedSymWeightedAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.weightedPageRank(adj.edges, adjacency = Some(adj))
        .orderBy("node")
    },
      // weighted PageRank: identical unroll with w/wdeg walk probabilities
      // (the multiply-then-divide order mirrors the Spark expression)
      _ => {
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
      }),
    // harmonic closeness from a sampled 10-customer cohort: per-source
    // hop-bounded BFS in ONE (src, node)-keyed frame, harmonic sum as a
    // fixed-order expression over integer hop counts
    QuerySpec("graph_closeness_sampled", (s, d) => {
      val adj = Graph.sharedSymAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.closenessSampled(adj.edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("src")).distinct(),
        adjacency = Some(adj))
        .orderBy("src")
    },
      // BFS reach: 3 unrolled frontier rounds (each MATERIALIZED — the
      // visited set is doubly referenced per round), layer r = distinct
      // neighbors of layer r-1 minus everything already visited
      // closeness: the graph_reach unrolled-BFS shape, keyed by (src,
      // node); harmonic = fixed-order n1/1 + n2/2 + n3/3 over exact
      // integer hop counts
      _ => {
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
      }),
    // hop-bounded sampled Brandes betweenness from the same 10-customer
    // cohort: forward BFS carries exact integer path counts, backward
    // dependency folds are successor-ordered at 9 dp — replayable
    QuerySpec("graph_betweenness_sampled", (s, d) => {
      val adj = Graph.sharedSymAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.betweennessSampled(adj.edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("src")).distinct(),
        adjacency = Some(adj))
        .orderBy("node")
    },
      // graph_betweenness_sampled: the closeness unrolled BFS with an
      // integer sigma column, then the backward dependency levels with
      // terms QUANTIZED to 1e-9-grain BIGINTs at birth and folded by plain
      // SUM (round 17 — long addition is associative, so the fold needs no
      // order and no buffer; the final 1e-6 output grain is integer
      // floor-division, one double division at the very end)
      _ => {
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
      }),
    // personalized PageRank: proximity to a 10-customer cohort (teleport
    // to sources only — the related-supplier recommendation primitive)
    QuerySpec("graph_ppr_cohort", (s, d) => {
      val adj = Graph.sharedSymAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.personalizedPageRank(adj.edges,
        Tables.orders(s, d).where(col("o_custkey") < 10)
          .select(concat(lit("c:"), col("o_custkey")).as("u")).distinct(),
        adjacency = Some(adj))
        .orderBy("node")
    },
      // personalized PageRank: same unrolled iterations; each round is the
      // damped walk sums UNION ALL the per-source teleport, re-aggregated
      // (≤2 addends per node — IEEE-commutative, so order-deterministic)
      _ => {
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
      }),
    // connected components of the support-2 co-purchase graph by
    // FIXED-iteration min-label propagation (10 rounds — exact CC once
    // converged, engine-replayable either way; GraphSpec pins convergence)
    QuerySpec("graph_components", (s, d) =>
      Graph.components(
        Graph.sharedCopurchaseEdgesSupported(Tables.lineitem(s, d),
          cacheKey = d))
        .orderBy("part_key"),
      // components: the same 10 min-label rounds, materialized per round
      // (inlining would re-expand the chain); inner joins are sound because
      // the symmetric edge list gives every labeled node a neighbor
      _ => {
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
      }),
    // 3-core of the support-2 basket graph: fixed-round peeling (drop
    // degree<k, restrict edges, repeat) — deterministic, unrollable
    QuerySpec("graph_kcore", (s, d) =>
      Graph.kCore(
        Graph.sharedCopurchaseEdgesSupported(Tables.lineitem(s, d),
          cacheKey = d), k = 3)
        .orderBy("part_key"),
      _ => {
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
      }),
    // local clustering coefficient: cc derived node-wise from the SAME
    // published triangle-stats table graph_triangles reads — the full
    // Bloom-pruned triangle enumeration runs once per data key, not once
    // per consumer
    QuerySpec("graph_clustering_coeff", (s, d) =>
      Graph.clusteringFromStats(
        Graph.sharedCopurchaseTriangleStats(Tables.lineitem(s, d), cacheKey = d))
        .orderBy("part_key"),
      // clustering coefficient: naive-triangle replay (the SET is
      // orientation-invariant) + degree count; one IEEE division of exact
      // integers, 6 dp floor-rounded on both engines
      _ =>
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
          |ORDER BY d.part_key""".stripMargin),
    // label-propagation communities on the support-2 basket graph:
    // 5 synchronous rounds with self-vote damping and smallest-label
    // ties — deterministic, so the oracle unrolls the rounds
    QuerySpec("graph_label_prop", (s, d) =>
      Graph.labelPropagation(
        Graph.sharedCopurchaseEdgesSupported(Tables.lineitem(s, d),
          cacheKey = d))
        .orderBy("part_key"),
      // k-core: the same 10 peel rounds, MATERIALIZED per round (the
      // doubly-referenced chain would inline exponentially)
      // label propagation: 5 unrolled MATERIALIZED rounds — per round the
      // (neighbor-labels ∪ self-vote) mode with (count desc, label asc)
      // tie-break, exactly the Spark loop's expression
      _ => {
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
      }),
    // Adamic-Adar link prediction on the support-2 basket graph:
    // wedge enumeration + (u,w) partial-agg + anti-join vs edges;
    // 9dp-rounded 1/ln(deg) terms, center-sorted fold, top-100 cut
    QuerySpec("graph_adamic_adar", (s, d) =>
      Graph.adamicAdar(
        Graph.sharedCopurchaseEdgesSupported(Tables.lineitem(s, d),
          cacheKey = d)),
      // adamic-adar: same support-2 edge derivation as kcore; terms
      // rounded to 9dp BEFORE the center-sorted fold (ln is 1-ulp across
      // libms), score rounded 6dp, top-100 by (score desc, u, w)
      _ =>
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
          |FROM nz ORDER BY aa_score DESC, u, w LIMIT 100""".stripMargin),
    // hop-bounded BFS from a customer cohort over the trade graph:
    // min-hop distance within 3 hops (supply-chain blast radius)
    QuerySpec("graph_reach", (s, d) => {
      val adj = Graph.sharedSymAdjacency(
        Tables.orders(s, d), Tables.lineitem(s, d), cacheKey = d)
      Graph.reach(adj.edges,
        Tables.customer(s, d).where(col("c_nationkey") === 1)
          .select(concat(lit("c:"), col("c_custkey")).as("node")),
        maxHops = 3, adjacency = Some(adj))
        .orderBy("node")
    },
      _ => {
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
      }),
  )

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
    * [[Similarity.assignGroup]] total order), query
    * probes restricted to the top-gprobe groups' members.
    */
  private def ivfServingCtes(
      d: String, linkPred: Boolean, nprobe: Int = 4,
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
      |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, nodeEmbIvfSlug(d))}/*.parquet')),
      |emb AS (SELECT node, vec::DOUBLE[] AS v
      |        FROM read_parquet('${Graph.nodeEmbeddingPath(ArtifactWarehouse, nodeEmbSlug(d))}/*.parquet')),
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
      |${adjCte}${hierCtes(d, hier)}p AS (SELECT query, list_id FROM (
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
  private def hierCtes(d: String, hier: Option[(Int, Int, Int)]): String =
    hier match {
      case None => ""
      case Some((ngroups, giters, gprobe)) =>
        s"""g AS (SELECT group_id, centroid
          |       FROM read_parquet('${Similarity.ivfGroupsPath(
                   ArtifactWarehouse, nodeEmbIvfSlug(d), 16, 3,
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
    s"""base AS MATERIALIZED (
       |  SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |sym AS (SELECT DISTINCT u, v
       |        FROM (SELECT u, v FROM base UNION ALL SELECT v, u FROM base)),
       |rk AS MATERIALIZED (
       |  SELECT u, v, rnk FROM (
       |    SELECT u, v,
       |           row_number() OVER (PARTITION BY u
       |                              ORDER BY ${duckHexFold("'sage:' || u || ':' || v")},
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
    val steps = (1 to 4).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT w.walk_id, $t AS step, r.v AS node
         |  FROM w${t - 1} w JOIN rk r ON r.u = w.node
         |   AND r.rnk = ${duckHexFold(s"'rw:' || w.walk_id || ':$t'")} % r.outdeg)"""
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
    val steps = (2 to 4).map { t =>
      s"""c$t AS (
         |  SELECT w.walk_id, w.prev, w.node AS cur, r.v AS x,
         |         CAST(${duckHexFold(s"'n2v:' || w.walk_id || ':$t'")} AS DOUBLE)
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
       |   AND r.rnk = ${duckHexFold("'n2v:' || w.walk_id || ':1'")} % r.outdeg),
       |$steps"""
  }

  /** Exact-cosine top-5 over the node embeddings `emb` for the
    * 10-customer query cohort.
    */
  private def embeddingTopKSql: String =
    """n AS (SELECT node, v,
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
      |WHERE rank <= 5"""
}
