package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators.Graph

/** Graph-operator invariants beyond the DuckDB oracle: hand-computable
  * fixtures for PageRank/triangles, the oriented-vs-naive triangle equality
  * on real testdata, and the no-cartesian plan guard.
  */
class GraphSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.engine.Sessions
    .builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  test("closenessSampled: hand-computed path/star fixtures; sources advance independently") {
    import spark.implicits._
    // path a-b-c-d-e plus isolated pair x-y: from a, 3 hops reach b,c,d
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y"))
      .toDF("u", "v")
    val src = Seq("a", "c", "x").toDF("src")
    val got = Graph.closenessSampled(e, src).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))
      .toMap
    // a: b@1, c@2, d@3 -> 1/1 + 1/2 + 1/3; e is 4 hops out, x,y unreachable
    val haA = math.floor((1.0 / 1 + 1.0 / 2 + 1.0 / 3) * 1e6 + 0.5) / 1e6
    assert(got("a") === ((1L, 1L, 1L, haA, 3L)))
    // c (center): b,d@1, a,e@2 -> 2/1 + 2/2
    assert(got("c") === ((2L, 2L, 0L, 3.0, 4L)))
    // x reaches only y — the isolated component never sees the path
    assert(got("x") === ((1L, 0L, 0L, 1.0, 1L)))
  }

  test("betweennessSampled: hand-computed path/star fixtures") {
    import spark.implicits._
    // path a-b-c-d-e, source a: sigma all 1; delta(b)=2, delta(c)=1,
    // delta(d)=0 (hop-3 leaf); e is 4 hops out — never reached
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("u", "v")
    val gotPath = Graph.betweennessSampled(path, Seq("a").toDF("src"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(gotPath === Map(
      "b" -> ((1, 2.0)), "c" -> ((1, 1.0)), "d" -> ((1, 0.0))))
    // star: center h, leaves l1..l4, source l1 — every 2-hop shortest
    // path to the other leaves passes h: delta(h) = 3
    val star = Seq(("h", "l1"), ("h", "l2"), ("h", "l3"), ("h", "l4"))
      .toDF("u", "v")
    val gotStar = Graph.betweennessSampled(star, Seq("l1").toDF("src"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(gotStar === Map(
      "h" -> ((1, 3.0)), "l2" -> ((1, 0.0)),
      "l3" -> ((1, 0.0)), "l4" -> ((1, 0.0))))
  }

  test("betweennessSampled equals a JVM Brandes recompute on the real trade graph") {
    val edges = Graph.tradeEdges(Tables.orders(spark, sf), Tables.lineitem(spark, sf))
    val sources = Tables.orders(spark, sf).where(col("o_custkey") < 10)
      .select(concat(lit("c:"), col("o_custkey")).as("src")).distinct()
    val got = Graph.betweennessSampled(edges, sources).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    // third derivation: hop-bounded Brandes in plain JVM code with the
    // SAME 1e-9-grain integer quantization (round 17: terms become longs
    // at birth and every fold is a plain sum — associative, so NO fold
    // order is part of the contract anymore)
    val adj = {
      val es = edges.collect().map(r => (r.getString(0), r.getString(1))).toSet
      (es ++ es.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    }
    val srcs = sources.collect().map(_.getString(0)).toSeq.sorted
    val H = 3
    val acc = scala.collection.mutable.Map[String, List[(String, Long)]]()
    srcs.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = Set(s)
      (1 to H).foreach { h =>
        val next = scala.collection.mutable.Map[String, Long]()
        frontier.foreach { u =>
          adj.getOrElse(u, Set.empty).foreach { v =>
            if (!dist.contains(v)) next(v) = next.getOrElse(v, 0L) + sigma(u)
          }
        }
        next.keys.foreach(v => dist(v) = h)
        next.foreach { case (v, sg) => sigma(v) = sg }
        frontier = next.keySet.toSet
      }
      val deltaSc = scala.collection.mutable.Map[String, Long]()
      dist.filter(_._2 == H).keys.foreach(v => deltaSc(v) = 0L)
      (H - 1 to 1 by -1).foreach { h =>
        dist.filter(_._2 == h).keys.foreach { v =>
          deltaSc(v) = adj.getOrElse(v, Set.empty).toSeq
            .filter(w => dist.get(w).contains(h + 1))
            .map(w => math.floor(sigma(v).toDouble / sigma(w) *
              (1.0 + deltaSc(w).toDouble / 1e9) * 1e9 + 0.5).toLong)
            .sum
        }
      }
      dist.filter(_._2 > 0).keys.foreach { v =>
        acc(v) = acc.getOrElse(v, Nil) :+ (s -> deltaSc(v))
      }
    }
    val expect = acc.map { case (v, ds) =>
      v -> ((ds.size, ((ds.map(_._2).sum + 500L) / 1000L).toDouble / 1e6))
    }.toMap
    assert(got.keySet === expect.keySet)
    val diverged = got.filter { case (v, g) => expect(v) != g }
    assert(diverged.isEmpty,
      s"betweenness diverged on ${diverged.take(5)} vs ${diverged.keys.take(5).map(expect)}")
    // the trade graph is bipartite: customers at odd hops, suppliers at
    // even — so positive betweenness exists on both sides
    assert(got.exists { case (v, (_, b)) => v.startsWith("s:") && b > 0 })
  }

  test("betweennessSampled: hub-stress — a 500-successor fold is exact with no per-group buffer") {
    import spark.implicits._
    // star with 500 leaves, source = one leaf: the center's backward
    // fold sums 499 one-grain terms (σ=1/1 · (1+0) each). The round-16
    // spelling buffered all 499 struct terms in one collect_list per
    // group — the documented hub-bounded buffer; the integer-sum fold
    // has no buffer at ANY degree, and the value is exact: δ(h) = 499.
    val k = 500
    val star = (1 to k).map(i => ("h", f"l$i%03d")).toDF("u", "v")
    val got = Graph.betweennessSampled(star, Seq("l001").toDF("src"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("h") === (k - 1).toDouble,
      s"hub dependency must be exactly ${k - 1}, got ${got("h")}")
    assert(got.count { case (n, b) => n != "h" && b == 0.0 } === k - 1,
      "every other leaf is a hop-2 endpoint with zero dependency")
  }

  test("randomWalks: JVM-recomputed trace matches exactly; every step walks an edge") {
    import spark.implicits._
    val e = Seq(("c:1", "s:1"), ("c:1", "s:2"), ("c:2", "s:1"),
      ("c:3", "s:2"), ("c:3", "s:3")).toDF("u", "v")
    val starts = Seq("c:1", "c:2", "c:3").toDF("walk_id")
    val got = Graph.randomWalks(e, starts, steps = 4).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    // third derivation: adjacency + the identical md5 fold rule in JVM
    val adj = {
      val es = Set(("c:1", "s:1"), ("c:1", "s:2"), ("c:2", "s:1"),
        ("c:3", "s:2"), ("c:3", "s:3"))
      (es ++ es.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSeq.sorted).toMap
    }
    def hexFold(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = d.map(b => f"${b & 0xff}%02x").mkString.take(13)
      java.lang.Long.parseLong(hex, 16)
    }
    val expect = scala.collection.mutable.Set[(String, Int, String)]()
    Seq("c:1", "c:2", "c:3").foreach { w =>
      var node = w
      expect += ((w, 0, node))
      (1 to 4).foreach { t =>
        val nbrs = adj(node)
        node = nbrs((hexFold(s"rw:$w:$t") % nbrs.size).toInt)
        expect += ((w, t, node))
      }
    }
    assert(got === expect.toSet, "walk trace diverged from the md5 rule")
    // no dead ends on an undirected graph: 3 walks × 5 rows
    assert(got.size === 15)
    // every consecutive step is an actual edge
    val byWalk = got.groupBy(_._1)
    byWalk.values.foreach { rows =>
      val path = rows.toSeq.sortBy(_._2).map(_._3)
      path.zip(path.drop(1)).foreach { case (a, b) =>
        assert(adj(a).contains(b), s"non-edge step $a -> $b")
      }
    }
  }

  test("sageAggregate: hand-computed 2-layer means; childless nodes self-loop") {
    import spark.implicits._
    // seed a: children b (with grandchildren a, d) and c (childless);
    // seed z: isolated (no sampled neighbors at all)
    val tree = Seq(
      ("a", 0, null.asInstanceOf[String], "a", 0),
      ("a", 1, "a", "b", 1), ("a", 1, "a", "c", 2),
      ("a", 2, "b", "a", 1), ("a", 2, "b", "d", 2),
      ("z", 0, null.asInstanceOf[String], "z", 0))
      .toDF("seed", "hop", "parent", "node", "branch")
    val feats = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 5.0),
      ("z", 4.0)).toDF("node", "x")
    val got = Graph.sageAggregate(tree, feats).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // m2(b) = mean(1, 5) = 3 -> h1(b) = (2+3)/2 = 2.5; c self-loops:
    // h1(c) = (3+3)/2 = 3; m1(a) = mean(2.5, 3) = 2.75;
    // h2(a) = (1 + 2.75)/2 = 1.875
    assert(got("a") === ((1.0, 1.875)))
    // an isolated seed aggregates only itself
    assert(got("z") === ((4.0, 4.0)))
    assert(got.size === 2)
  }

  test("walkContextPairs: hand-fixture pairs; boundaries drop, offsets signed") {
    import spark.implicits._
    val walks = Seq(
      ("w1", 0, "a"), ("w1", 1, "b"), ("w1", 2, "c"), ("w1", 3, "d"),
      ("w2", 0, "x"), ("w2", 1, "y")).toDF("walk_id", "step", "node")
    val got = Graph.walkContextPairs(walks, window = 2).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getInt(3), r.getString(4))).toSet
    // every position pairs with every other within ±2, inside the walk
    val seqs = Map("w1" -> Seq("a", "b", "c", "d"), "w2" -> Seq("x", "y"))
    val expect = (for {
      (w, ns) <- seqs.toSeq
      i <- ns.indices; o <- -2 to 2
      j = i + o
      if o != 0 && j >= 0 && j < ns.size
    } yield (w, i, ns(i), o, ns(j))).toSet
    assert(got === expect, "context pairs diverged from the fixture")
    // interior position of a long walk yields the full 2·window pairs
    assert(got.count(t => t._1 == "w1" && t._2 == 1) === 3)
    assert(got.count(t => t._1 == "w1" && t._2 == 2) === 3)
    // a 2-node walk yields exactly one pair each way
    assert(got.count(_._1 == "w2") === 2)
  }

  test("sageSample: JVM hash-rank recompute matches; tree is fanout-bounded") {
    import spark.implicits._
    // star around c:1 (4 neighbors, fanout cuts to 3) plus a tail off s:2
    val es = Set(("c:1", "s:1"), ("c:1", "s:2"), ("c:1", "s:3"),
      ("c:1", "s:4"), ("s:2", "c:9"))
    val e = es.toSeq.toDF("u", "v")
    val seeds = Seq("c:1", "c:9").toDF("seed")
    val got = Graph.sageSample(e, seeds, fanouts = Seq(3, 2)).collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)),
        r.getString(3), r.getInt(4))).toSet
    // third derivation: rank each node's neighbors by (md5 fold, v),
    // hop 1 takes the first 3, hop 2 the first 2 of each sampled node
    def hexFold(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = d.map(b => f"${b & 0xff}%02x").mkString.take(13)
      java.lang.Long.parseLong(hex, 16)
    }
    def ranked(u: String): Seq[String] =
      (es ++ es.map(_.swap)).filter(_._1 == u).map(_._2).toSeq
        .sortBy(v => (hexFold(s"sage:$u:$v"), v))
    val expect = scala.collection.mutable.Set[
      (String, Int, Option[String], String, Int)]()
    Seq("c:1", "c:9").foreach { s =>
      expect += ((s, 0, None, s, 0))
      ranked(s).take(3).zipWithIndex.foreach { case (n1, i1) =>
        expect += ((s, 1, Some(s), n1, i1 + 1))
        ranked(n1).take(2).zipWithIndex.foreach { case (n2, i2) =>
          expect += ((s, 2, Some(n1), n2, i2 + 1))
        }
      }
    }
    assert(got === expect.toSet, "sampled tree diverged from the hash-rank rule")
    // fanout bound: per (seed, hop, parent) at most fanout children,
    // branch ids dense from 1
    got.filter(_._2 > 0).groupBy(t => (t._1, t._2, t._3)).foreach {
      case ((_, hop, _), rows) =>
        val cap = if (hop == 1) 3 else 2
        assert(rows.size <= cap, s"fanout breached at $rows")
        assert(rows.map(_._5).toSeq.sorted === (1 to rows.size),
          s"branch ids not dense: $rows")
    }
    // the sampled adjacency is shared: both seeds reaching s:2 see the
    // same children for it (c:9 at hop 2 under seed c:1 mirrors hop 1
    // under seed c:9 when rank permits) — and every step walks an edge
    val und = es ++ es.map(_.swap)
    got.filter(_._2 > 0).foreach { case (_, _, p, n, _) =>
      assert(und.contains((p.get, n)), s"non-edge step $p -> $n")
    }
    // the published-adjacency spelling (round 16: sharedSageAdjacency
    // removes the per-call |E|-shaped build) is BIT-identical — ranks
    // are md5-deterministic, so a parquet round trip changes nothing
    val wh = java.nio.file.Files.createTempDirectory("graft-sageadj").toString
    val viaShared = Graph.sageSample(e, seeds, fanouts = Seq(3, 2),
      adjacency = Some(Graph.sharedSageAdjacency(
        e, cacheKey = "sagespec", baseDir = wh)))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)),
        r.getString(3), r.getInt(4))).toSet
    assert(viaShared === got,
      "published-adjacency sampling diverged from the inline build")
    // the adjacency contract is VALIDATED at use, not just documented
    // (round-16 advice): metadata survives the parquet publish, and a
    // wrong-salt / too-small-fanout / foreign adjacency fails loudly
    // instead of silently truncating or diverging the trees
    val published = Graph.sharedSageAdjacency(e, cacheKey = "sagespec", baseDir = wh)
    def msg(f: => Unit): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(Graph.sageSample(e, seeds, fanouts = Seq(3, 2),
      salt = "othersalt", adjacency = Some(published))).contains("salt"))
    assert(msg(Graph.sageSample(e, seeds, fanouts = Seq(5, 2),
      adjacency = Some(published))).contains("maxFanout"))
    assert(msg(Graph.sageSample(e, seeds, fanouts = Seq(3, 2),
      adjacency = Some(published.withColumn("rnk", col("rnk") * 1))))
      .contains("metadata"), "a rebuilt rnk column must drop the stamp")
  }

  test("node2vecWalks: JVM inverse-CDF recompute matches; bias weights steer the draw") {
    import spark.implicits._
    // triangle a-b-c plus pendant c-d: from b, prev and shared neighbors
    // get distinct weights, so the biased draw differs from uniform
    val es = Set(("c:a", "s:b"), ("s:b", "c:c"), ("c:c", "c:a"), ("c:c", "s:d"))
    val e = es.toSeq.toDF("u", "v")
    val starts = Seq("c:a", "c:c").toDF("walk_id")
    val got = Graph.node2vecWalks(e, starts, steps = 3).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val adj = (es ++ es.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def hexFold(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"${b & 0xff}%02x").mkString.take(13), 16)
    }
    val expect = scala.collection.mutable.Set[(String, Int, String)]()
    Seq("c:a", "c:c").foreach { w =>
      var prev = w
      val n1 = adj(w).toSeq.sorted
      var node = n1((hexFold(s"n2v:$w:1") % n1.size).toInt)
      expect += ((w, 0, w)); expect += ((w, 1, node))
      (2 to 3).foreach { t =>
        val u = (hexFold(s"n2v:$w:$t").toDouble / 4503599627370496.0)
        val cands = adj(node).toSeq.sorted
        val ws = cands.map(x =>
          if (x == prev) 0.25 else if (adj(prev).contains(x)) 1.0 else 4.0)
        val total = ws.sum
        var cum = 0.0; var pick = cands.last
        val it = cands.zip(ws).iterator
        var done = false
        while (it.hasNext && !done) {
          val (x, wx) = it.next(); cum += wx
          if (cum >= u * total) { pick = x; done = true }
        }
        prev = node; node = pick
        expect += ((w, t, node))
      }
    }
    assert(got === expect.toSet, "biased walk diverged from the JVM draw")
    // the bias is live: at least one step-2+ row must differ from what
    // the UNIFORM rule would have chosen, or the fixture proved nothing
    val uni = Graph.randomWalks(e, starts, steps = 3, salt = "n2v").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got !== uni, "biased and uniform walks coincide — weak fixture")
  }

  test("pageRank on a 2-node graph is uniform at any damping / iteration count") {
    import spark.implicits._
    val e = Seq(("a", "b")).toDF("u", "v")
    val ranks = Graph.pageRank(e, iters = 3).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks("a") === 0.5 && ranks("b") === 0.5, s"expected uniform: $ranks")
  }

  test("pageRank on a star concentrates rank at the hub (hand-computed, 1 iter)") {
    import spark.implicits._
    // star: hub h — leaves l1..l4. After 1 iteration from uniform 1/5:
    // hub: 0.03 + 0.85 * (4 leaves * (0.2 / 1)) = 0.71
    // leaf: 0.03 + 0.85 * (0.2 / 4) = 0.0725
    val e = Seq(("h", "l1"), ("h", "l2"), ("h", "l3"), ("h", "l4")).toDF("u", "v")
    val ranks = Graph.pageRank(e, iters = 1).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks("h") - 0.71) < 1e-9, s"hub: ${ranks("h")}")
    assert(math.abs(ranks("l1") - 0.0725) < 1e-9, s"leaf: ${ranks("l1")}")
  }

  test("pageRank conserves probability mass on the real trade graph") {
    val edges = Graph.tradeEdges(Tables.orders(spark, sf), Tables.lineitem(spark, sf))
    val ranks = Graph.pageRank(edges, iters = 3)
    val total = ranks.agg(sum(col("rank"))).head().getDouble(0)
    // symmetrized graph has no dangling nodes, so mass stays 1 exactly
    // (up to the final 6 dp rounding × node count)
    val n = ranks.count()
    assert(math.abs(total - 1.0) <= n * 5e-7, s"mass drifted: $total over $n nodes")
  }

  test("HITS on a 3-edge bipartite graph (hand-computed, 1 iter)") {
    import spark.implicits._
    // c1→s1, c1→s2, c2→s1 with h0 = 1/2 each:
    // a_raw: s1 = 1.0, s2 = 0.5 → a: s1 = 2/3, s2 = 1/3
    // h_raw: c1 = 1.0, c2 = 2/3 → h: c1 = 0.6, c2 = 0.4
    val e = Seq(("c:1", "s:1"), ("c:1", "s:2"), ("c:2", "s:1")).toDF("u", "v")
    val out = Graph.hits(e, iters = 1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(out(("c:1", "hub")) - 0.6) < 1e-6, s"got $out")
    assert(math.abs(out(("c:2", "hub")) - 0.4) < 1e-6, s"got $out")
    assert(math.abs(out(("s:1", "authority")) - 2.0 / 3) < 1e-6, s"got $out")
    assert(math.abs(out(("s:2", "authority")) - 1.0 / 3) < 1e-6, s"got $out")
    // both score families are L1-normalized distributions
    assert(math.abs(out.filter(_._1._2 == "hub").values.sum - 1.0) < 1e-6)
    assert(math.abs(out.filter(_._1._2 == "authority").values.sum - 1.0) < 1e-6)
  }

  test("weighted PageRank follows trade volume (hand-computed, 1 iter)") {
    import spark.implicits._
    // a—b weight 3, a—c weight 1: from uniform 1/3, a routes 3/4 of its
    // walk mass to b. After 1 iter:
    // b: 0.05 + 0.85·(1/3·3/4 + 0) = 0.2625; c: 0.05 + 0.85·(1/3·1/4) = 0.120833…
    // a: 0.05 + 0.85·(1/3·1 + 1/3·1) = 0.616667 (b and c return everything)
    val e = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("u", "v", "w")
    val ranks = Graph.weightedPageRank(e, iters = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks("b") - 0.2625) < 1e-6, s"b: ${ranks("b")}")
    assert(math.abs(ranks("c") - 0.120833) < 1e-6, s"c: ${ranks("c")}")
    assert(math.abs(ranks("a") - 0.616667) < 1e-6, s"a: ${ranks("a")}")
    assert(math.abs(ranks.values.sum - 1.0) < 1e-5, s"mass: ${ranks.values.sum}")
  }

  test("personalized PageRank on an edge: source keeps teleport, neighbor gets the walk") {
    import spark.implicits._
    // e = a—b, sources = {a}, 1 iteration from r0(a)=1:
    // b: 0.85 · (1/1) = 0.85; a: teleport only = 0.15 (no walk mass back yet)
    val e = Seq(("a", "b")).toDF("u", "v")
    val src = Seq(Tuple1("a")).toDF("u")
    val ranks = Graph.personalizedPageRank(e, src, iters = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks === Map("a" -> 0.15, "b" -> 0.85), s"got $ranks")
  }

  test("personalized PageRank conserves mass and concentrates on the cohort") {
    val orders = Tables.orders(spark, sf)
    val edges = Graph.tradeEdges(orders, Tables.lineitem(spark, sf))
    val src = orders.where(col("o_custkey") < 10)
      .select(concat(lit("c:"), col("o_custkey")).as("u")).distinct()
    val ranks = Graph.personalizedPageRank(edges, src, iters = 3)
    val total = ranks.agg(sum(col("rank"))).head().getDouble(0)
    val n = ranks.count()
    assert(math.abs(total - 1.0) <= n * 5e-7, s"mass drifted: $total over $n nodes")
    // a cohort member must outrank the median non-member by construction
    val cohort = (0 until 10).map("c:" + _)
    val cohortMin = ranks.where(col("node").isin(cohort: _*))
      .agg(min(col("rank"))).head().getDouble(0)
    val globalMedian = ranks.stat.approxQuantile("rank", Array(0.5), 0.0)(0)
    assert(cohortMin > globalMedian,
      s"cohort min $cohortMin not above median $globalMedian")
  }

  test("triangleCounts on K4: every vertex is in C(3,2)=3 triangles") {
    import spark.implicits._
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("p1", "p2")
    val counts = Graph.triangleCounts(k4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $counts")
  }

  test("oriented triangle enumeration equals the naive self-join on real data") {
    val edges = Graph.copurchaseEdges(Tables.lineitem(spark, sf)).cache()
    try {
      val fast = Graph.triangleCounts(edges)
      val naive = Graph.triangleCountsNaive(edges)
      assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty,
        "oriented and naive triangle counts disagree")
      assert(fast.agg(sum(col("triangles"))).head().getLong(0) > 0,
        "testdata co-purchase graph has no triangles — fixture too small to prove anything")
    } finally { edges.unpersist() }
  }

  test("graph plans stay cartesian-free and the wedge join is an equi-join") {
    val edges = Graph.copurchaseEdges(Tables.lineitem(spark, sf))
    val plan = Graph.triangleCounts(edges).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in triangle plan:\n$plan")
    val trade = Graph.tradeEdges(Tables.orders(spark, sf), Tables.lineitem(spark, sf))
    val prPlan = Graph.pageRank(trade, iters = 1).queryExecution.executedPlan.toString
    assert(!prPlan.contains("CartesianProduct"), s"cartesian in pagerank plan:\n$prPlan")
  }

  test("degreeHistogram splits by namespace and counts nodes exactly") {
    import spark.implicits._
    // c1—s1, c1—s2, c2—s1: degrees c1=2, c2=1, s1=2, s2=1
    val e = Seq(("c:1", "s:1"), ("c:1", "s:2"), ("c:2", "s:1")).toDF("u", "v")
    val h = Graph.degreeHistogram(e).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(h === Map(("c", 2L) -> 1L, ("c", 1L) -> 1L, ("s", 2L) -> 1L, ("s", 1L) -> 1L), s"got $h")
  }

  test("components: hand-built graph, exact components at the query's iteration count") {
    import spark.implicits._
    // two components {1,2,3} (path) and {7,8}; 9-10-11 chained to stress
    // multi-hop label travel
    val e = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 10L), (10L, 11L), (9L, 11L))
      .toDF("p1", "p2")
    val got = Graph.components(e, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L,
      9L -> 9L, 10L -> 9L, 11L -> 9L), s"got $got")
  }

  test("components on the real basket graph: converged at 10 iterations and edge-consistent") {
    val edges = Graph.copurchaseEdgesSupported(Tables.lineitem(spark, sf))
    val at10 = Graph.components(edges, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val at13 = Graph.components(edges, iters = 13).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // converged: more rounds change nothing — so the fixed-round labeling
    // IS the true component labeling on this data
    assert(at10 === at13, "10 min-label rounds have not converged on testdata")
    // every edge joins two nodes of the same component, and each label is
    // the minimum id of its member set
    edges.collect().foreach { r =>
      assert(at10(r.getLong(0)) === at10(r.getLong(1)), s"edge $r crosses components")
    }
    at10.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min === lbl, s"component $lbl label is not its min id")
    }
  }

  test("kCore: hand-built graph — the tail peels, the clique stays, degrees are in-core") {
    import spark.implicits._
    // K4 on {1,2,3,4} (a 3-core) with a pendant path 4-5-6 that must peel
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("p1", "p2")
    val got = Graph.kCore(e, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
    // k=2 keeps the K4 only as well (5-6 peel once 5 loses its support)
    val core2 = Graph.kCore(e, k = 2).collect().map(_.getLong(0)).sorted
    assert(core2.toSeq === Seq(1L, 2L, 3L, 4L), core2.toSeq)
  }

  test("kCore on the real basket graph: converged at 10 rounds, every core degree >= k") {
    val edges = Graph.copurchaseEdgesSupported(Tables.lineitem(spark, sf))
    def run(iters: Int): Map[Long, Long] =
      Graph.kCore(edges, k = 3, iters = iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val at10 = run(10)
    assert(at10 === run(12), "peeling has not converged in 10 rounds on testdata")
    assert(at10.nonEmpty)
    assert(at10.values.forall(_ >= 3L), "a survivor has in-core degree < k")
  }

  test("clusteringCoefficients: K4 + pendant hand fixture") {
    import spark.implicits._
    // K4 on 1..4 (cc = 1 everywhere), plus pendant 5 hanging off node 1:
    // node 1 gains a neighbor pair that cannot close (deg 4, tri 3 →
    // cc = 6/12 = 0.5); the pendant has no neighbor pair (cc = 0)
    val k4 = for { a <- 1 to 4; b <- (a + 1) to 4 } yield (a.toLong, b.toLong)
    val e = (k4 :+ ((1L, 5L))).toDF("p1", "p2")
    val out = Graph.clusteringCoefficients(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(2L) === ((3L, 3L, 1.0)), s"got $out")
    assert(out(3L) === ((3L, 3L, 1.0)), s"got $out")
    assert(out(4L) === ((3L, 3L, 1.0)), s"got $out")
    assert(out(1L) === ((4L, 3L, 0.5)), s"got $out")
    assert(out(5L) === ((1L, 0L, 0.0)), s"got $out")
  }

  test("clusteringCoefficients agrees with triangleCounts and degrees on real data") {
    val edges = Graph.copurchaseEdges(Tables.lineitem(spark, sf))
    val cc = Graph.clusteringCoefficients(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val tri = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.nonEmpty && tri.nonEmpty)
    // every triangle-bearing node carries exactly its triangle count, and
    // the ratio bound cc ∈ [0, 1] holds everywhere
    tri.foreach { case (p, t) =>
      assert(cc(p)._2 === t, s"node $p: cc table says ${cc(p)._2}, triangles $t")
    }
    cc.values.foreach { case (d, t, c) =>
      assert(c >= 0.0 && c <= 1.0, s"cc out of range: ($d, $t, $c)")
      if (d < 2) assert(c === 0.0, "degree-1 node must have cc 0")
    }
  }

  test("labelPropagation: bridged-triangles fixture + co-labeled ⇒ connected on real data") {
    import spark.implicits._
    // two triangles joined by one bridge edge: LPA with self-vote and
    // min-label ties settles each triangle on its own min id (hand-run:
    // round 1 gives 1,1,1,3,4,4; round 2 gives 1,1,1,4,4,4; stable)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("p1", "p2")
    val got = Graph.labelPropagation(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
    // real data: communities REFINE connected components — two nodes
    // sharing a label must share a component
    val edges = Graph.copurchaseEdgesSupported(Tables.lineitem(spark, sf))
    val comm = Graph.labelPropagation(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val comp = Graph.components(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comm.nonEmpty && comm.keySet === comp.keySet)
    comm.groupBy(_._2).values.foreach { members =>
      val comps = members.keys.map(comp).toSet
      assert(comps.size === 1,
        s"community spans components: ${members.keys.toSeq.sorted.take(5)}")
    }
    // and communities are a strict refinement signal, not a constant map
    assert(comm.values.toSet.size >= comp.values.toSet.size)
  }

  test("adamicAdar: hand fixtures — path, square, existing-edge exclusion, hub cap") {
    import spark.implicits._
    def aa(edges: Seq[(Long, Long)], maxDegree: Long = 128) =
      Graph.adamicAdar(edges.toDF("p1", "p2"), maxDegree).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
    // path 1-2-3: only (1,3) predicted, via center 2 (deg 2): 1/ln 2
    val path = aa(Seq((1L, 2L), (2L, 3L)))
    assert(path.keySet === Set((1L, 3L)))
    assert(path((1L, 3L))._1 === 1L)
    assert(math.abs(path((1L, 3L))._2 - 1.0 / math.log(2.0)) < 2e-6)
    // square 1-2-3-4-1: (1,3) via centers 2 and 4, (2,4) via 1 and 3 —
    // each 2/ln 2; adjacent pairs are excluded by the anti-join
    val square = aa(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    assert(square.keySet === Set((1L, 3L), (2L, 4L)))
    square.values.foreach { case (n, s) =>
      assert(n === 2L)
      assert(math.abs(s - 2.0 / math.log(2.0)) < 2e-6)
    }
    // hub cap: a star center above maxDegree contributes no wedges
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    assert(aa(star, maxDegree = 3).isEmpty,
      "capped hub must be suppressed")
    assert(aa(star).nonEmpty, "uncapped star must predict leaf pairs")
  }

  test("shared triangle stats equal the live computation and compute once") {
    val li = Tables.lineitem(spark, sf)
    def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val key = s"graphspec-${System.nanoTime()}" // fresh memo entry
    val first = Graph.sharedCopurchaseTriangleStats(li, cacheKey = key)
    assert(toMap(first) ==
      toMap(Graph.nodeTriangleStats(Graph.copurchaseEdges(li))))
    // the second consumer must READ the published table, not re-run the
    // triangle enumeration: same parquet files back both frames — this is
    // the compute-once contract graph_triangles + graph_clustering_coeff
    // now share
    val second = Graph.sharedCopurchaseTriangleStats(li, cacheKey = key)
    assert(first.inputFiles.nonEmpty &&
      first.inputFiles.toSet == second.inputFiles.toSet)
    // and clusteringFromStats over the shared table equals the standalone
    // clusteringCoefficients path row-for-row
    val viaShared = Graph.clusteringFromStats(second).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val standalone = Graph
      .clusteringCoefficients(Graph.copurchaseEdges(li)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaShared == standalone)
  }

  test("shared edge tables equal the live derivations and compute once") {
    val o = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val key = s"graphspec-edges-${System.nanoTime()}" // fresh memo entry
    // trade edges: published table == live derivation, second consumer
    // reads the SAME parquet files (the compute-once contract the five
    // iterative trade-graph queries now share)
    val t1 = Graph.sharedTradeEdges(o, li, cacheKey = key)
    assert(pairs(t1) == pairs(Graph.tradeEdges(o, li)))
    val t2 = Graph.sharedTradeEdges(o, li, cacheKey = key)
    assert(t1.inputFiles.nonEmpty &&
      t1.inputFiles.toSet == t2.inputFiles.toSet)
    // weighted variant: own table, value-identical to live
    val w1 = Graph.sharedWeightedTradeEdges(o, li, cacheKey = key)
    assert(pairs(w1) == pairs(Graph.weightedTradeEdges(o, li)))
    assert(w1.inputFiles.toSet !=  t1.inputFiles.toSet)
    // co-purchase supported edges: minSupport rides the params slug, so
    // different thresholds are different tables
    val c1 = Graph.sharedCopurchaseEdgesSupported(li, 2, cacheKey = key)
    assert(pairs(c1) == pairs(Graph.copurchaseEdgesSupported(li, 2)))
    val c2 = Graph.sharedCopurchaseEdgesSupported(li, 2, cacheKey = key)
    assert(c1.inputFiles.nonEmpty &&
      c1.inputFiles.toSet == c2.inputFiles.toSet)
    val c3 = Graph.sharedCopurchaseEdgesSupported(li, 3, cacheKey = key)
    assert(c3.inputFiles.toSet != c1.inputFiles.toSet)
    assert(pairs(c3) == pairs(Graph.copurchaseEdgesSupported(li, 3)))
    // and a consumer over the published table equals the live-edge path
    assert(pairs(Graph.degreeHistogram(t2)) ==
      pairs(Graph.degreeHistogram(Graph.tradeEdges(o, li))))
  }

  test("shared sym adjacency: loop operators match the inline spelling row-for-row") {
    val o = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val key = s"graphspec-sym-${System.nanoTime()}" // fresh memo entry
    val adj = Graph.sharedSymAdjacency(o, li, cacheKey = key)
    val edges = Graph.tradeEdges(o, li)
    // the sidecar notes carry the counts a consumer would otherwise
    // recompute per call — they must match the data exactly
    assert(adj.rows == adj.edges.count())
    assert(adj.nNodes ==
      adj.edges.select(col("u")).distinct().count())
    // a second resolve reads the SAME parquet files (compute-once)
    val adj2 = Graph.sharedSymAdjacency(o, li, cacheKey = key)
    assert(adj.edges.inputFiles.nonEmpty &&
      adj.edges.inputFiles.toSet == adj2.edges.inputFiles.toSet)
    // every loop operator: published-adjacency path == inline path
    assert(rows(Graph.pageRank(edges, adjacency = Some(adj))) ==
      rows(Graph.pageRank(edges)))
    val cohort = o.where(col("o_custkey") < 10)
      .select(concat(lit("c:"), col("o_custkey")).as("u")).distinct()
    assert(rows(Graph.personalizedPageRank(edges, cohort,
        adjacency = Some(adj))) ==
      rows(Graph.personalizedPageRank(edges, cohort)))
    val srcs = cohort.select(col("u").as("src"))
    assert(rows(Graph.closenessSampled(edges, srcs,
        adjacency = Some(adj))) ==
      rows(Graph.closenessSampled(edges, srcs)))
    assert(rows(Graph.betweennessSampled(edges, srcs,
        adjacency = Some(adj))) ==
      rows(Graph.betweennessSampled(edges, srcs)))
    val reachSrc = cohort.select(col("u").as("node"))
    assert(rows(Graph.reach(edges, reachSrc, adjacency = Some(adj))) ==
      rows(Graph.reach(edges, reachSrc)))
    val wadj = Graph.sharedSymWeightedAdjacency(o, li, cacheKey = key)
    assert(wadj.rows == wadj.edges.count())
    assert(rows(Graph.weightedPageRank(Graph.weightedTradeEdges(o, li),
        adjacency = Some(wadj))) ==
      rows(Graph.weightedPageRank(Graph.weightedTradeEdges(o, li))))
    graft.engine.OpCache.release(spark)
  }

  test("shared walk corpora equal the live walks and compute once") {
    val o = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val key = s"graphspec-walks-${System.nanoTime()}" // fresh memo entry
    val edges = Graph.tradeEdges(o, li)
    val starts = edges.select(col("u").as("walk_id")).distinct()
    // DeepWalk corpus: published table == live walks; the second consumer
    // reads the SAME parquet files — zero walk jobs (the round-13 verdict's
    // compute-once ask: graph_random_walks, graph_walk_context_pairs, and
    // the SGNS trainer all read one published corpus)
    val w1 = Graph.sharedWalkCorpus(edges, cacheKey = key)
    assert(rows(w1) == rows(Graph.randomWalks(edges, starts)))
    val w2 = Graph.sharedWalkCorpus(edges, cacheKey = key)
    assert(w1.inputFiles.nonEmpty &&
      w1.inputFiles.toSet == w2.inputFiles.toSet)
    // node2vec corpus: own table (params slug differs), value-identical
    // to the live biased walks
    val n1 = Graph.sharedNode2vecCorpus(edges, cacheKey = key)
    assert(rows(n1) == rows(Graph.node2vecWalks(edges, starts)))
    assert(n1.inputFiles.toSet != w1.inputFiles.toSet)
    val n2 = Graph.sharedNode2vecCorpus(edges, cacheKey = key)
    assert(n1.inputFiles.nonEmpty &&
      n1.inputFiles.toSet == n2.inputFiles.toSet)
    // a consumer over the published corpus equals the live-walk path
    assert(rows(Graph.walkContextPairs(w2)) ==
      rows(Graph.walkContextPairs(Graph.randomWalks(edges, starts))))
  }

  test("SGNS: plain-JVM recompute pins examples, training, and serving on a fixture") {
    import spark.implicits._
    val salt = "sgns"
    val dim = 4; val negatives = 2; val iters = 3; val lr = 0.5
    val miniBatches = 2 // exercise the cyclic fold rotation in the pin
    // fixture walk corpus: 2 walks × 4 positions, with a revisit (walk a
    // returns to b) so center==context pairs are exercised
    val corpus = Map("a" -> Seq("a", "b", "c", "b"),
      "d" -> Seq("d", "c", "a", "e"))
    val walks = corpus.toSeq.flatMap { case (w, ns) =>
      ns.zipWithIndex.map { case (n, i) => (w, i, n) }
    }.toDF("walk_id", "step", "node")
    val pairs = Graph.walkContextPairs(walks, window = 2)
    def hexFold(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = d.map(b => f"${b & 0xff}%02x").mkString.take(13)
      java.lang.Long.parseLong(hex, 16)
    }
    // second derivation of the example set: positions within ±2, hash
    // negatives mod the sorted vocabulary, accidental hits dropped
    case class Ex(key: String, c: String, o: String, y: Double)
    val jvmPairs = for {
      (w, ns) <- corpus.toSeq
      i <- ns.indices; j <- ns.indices
      if i != j && math.abs(j - i) <= 2
    } yield (w, i, ns(i), j - i, ns(j))
    val vocab = jvmPairs.flatMap(p => Seq(p._3, p._5)).distinct.sorted
    val jvmEx = jvmPairs.map { case (w, i, c, off, ctx) =>
      Ex(s"$w:$i:$off", c, ctx, 1.0)
    } ++ (for {
      (w, i, c, off, ctx) <- jvmPairs
      k <- 1 to negatives
      node = vocab((hexFold(s"$salt:neg:$w:$i:$off:$k") % vocab.size).toInt)
      if node != c && node != ctx
    } yield Ex(s"$w:$i:$off:n$k", c, node, 0.0))
    val gotEx = Graph.sgnsExamples(pairs, negatives, salt).collect()
      .map(r => Ex(r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3))).toSet
    assert(gotEx === jvmEx.toSet)
    assert(gotEx.count(_.y == 0.0) > 0, "fixture must draw real negatives")
    // third derivation of the training loop: same shared-matrix init,
    // same synchronous per-node mean updates, same (ex_key, role)-ordered
    // folds — bit-exact in one JVM (IEEE ops in identical order; Math.exp
    // is the one transcendental and Spark codegen calls the same
    // java.lang.Math)
    val nodes = jvmEx.flatMap(e => Seq(e.c, e.o)).distinct
    var vm = nodes.map(n => n -> Array.tabulate(dim)(j =>
      (hexFold(s"$salt:in:$n:$j") / 4503599627370496.0 - 0.5) / dim)).toMap
    def bce(): Double = jvmEx.map { e =>
      val z = (0 until dim).foldLeft(0.0)((a, j) => a + vm(e.c)(j) * vm(e.o)(j))
      val p = 1.0 / (1.0 + math.exp(-z))
      -(e.y * math.log(math.max(p, 1e-12)) +
        (1 - e.y) * math.log(math.max(1 - p, 1e-12)))
    }.sum / jvmEx.size
    val lossBefore = bce()
    (1 to iters).foreach { it =>
      // mirror the cyclic mini-batch: iteration t trains on fold
      // H52(salt:mb:key) mod B == (t-1) mod B only
      val itEx = jvmEx.filter(e =>
        hexFold(s"$salt:mb:${e.key}") % miniBatches == (it - 1) % miniBatches)
      val scored = itEx.map { e =>
        val z = (0 until dim).foldLeft(0.0)((a, j) => a + vm(e.c)(j) * vm(e.o)(j))
        (e, 1.0 / (1.0 + math.exp(-z)) - e.y)
      }
      val contrib = scored.flatMap { case (e, g) =>
        Seq((e.c, e.key + ":c", vm(e.o).map(g * _)),
          (e.o, e.key + ":o", vm(e.c).map(g * _)))
      }
      // mirror the engine's two-phase salted fold: partial sums per
      // H52(k)-mod-S salt group in k-order, then the ≤S partials folded
      // in salt-group order (the hub-safe grouping is part of the
      // training definition)
      val grad = contrib.groupBy(_._1).map { case (n, cs) =>
        val partials = cs
          .groupBy { case (_, k, _) =>
            hexFold(k) % Graph.gradSaltGroups }
          .toSeq.sortBy(_._1)
          .map { case (_, group) =>
            val p = Array.fill(dim)(0.0)
            group.sortBy(_._2).foreach { case (_, _, gv) =>
              var j = 0; while (j < dim) { p(j) += gv(j); j += 1 }
            }
            p
          }
        val sum = Array.fill(dim)(0.0)
        partials.foreach { p =>
          var j = 0; while (j < dim) { sum(j) += p(j); j += 1 }
        }
        n -> sum.map(_ / cs.size)
      }
      vm = vm.map { case (n, v) =>
        n -> v.zip(grad.getOrElse(n, Array.fill(dim)(0.0)))
          .map { case (a, g) => a - lr * g }
      }
    }
    assert(bce() < lossBefore, "mini-batch GD must reduce the SGNS loss")
    val got = Graph.sgnsTrainEmbeddings(
      pairs, dim, negatives, iters, lr, salt, miniBatches)
      .collect().map(r => r.getString(0) ->
        r.getSeq[Double](1).toArray).toMap
    assert(got.keySet === vm.keySet)
    got.foreach { case (n, v) =>
      v.zip(vm(n)).zipWithIndex.foreach { case ((a, b), j) =>
        assert(math.abs(a - b) <= 1e-12, s"node $n dim $j: $a vs $b")
      }
    }
    // serving: exact top-k cosine over the trained table matches a JVM
    // rank of the same vectors (cosine desc, node asc tie-break)
    val embDf = got.toSeq.map { case (n, v) => (n, v.toSeq) }.toDF("node", "vec")
    val served = Graph.embeddingNeighbors(embDf, Seq("a").toDF("node"), k = 3)
      .collect().map(r => (r.getInt(1), r.getString(2))).toList
    def cos(x: Array[Double], y: Array[Double]): Double = {
      def dot(p: Array[Double], q: Array[Double]) =
        (0 until dim).foldLeft(0.0)((acc, j) => acc + p(j) * q(j))
      dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))
    }
    val expect = got.filter(_._1 != "a").toSeq
      .map { case (n, v) => (n, cos(got("a"), v)) }
      .sortBy { case (n, c) => (-c, n) }.take(3)
      .zipWithIndex.map { case ((n, _), i) => (i + 1, n) }.toList
    assert(served === expect)
  }

  test("SGNS embeddings: downstream sanity — co-occur separation and common-neighbor overlap") {
    import spark.implicits._
    val o = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val edges = Graph.tradeEdges(o, li)
    val corpus = Graph.randomWalks(
      edges, edges.select(col("u").as("walk_id")).distinct())
    val pairs = Graph.walkContextPairs(corpus)
    // the PRODUCTION default schedule (miniBatches = 4, the published
    // accessor's default) — the sanity gate validates what actually ships
    val emb = Graph.sgnsTrainEmbeddings(pairs, miniBatches = 4).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < a.length) {
        d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def hexFold(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"${b & 0xff}%02x").mkString.take(13), 16)
    }
    // separation: same-side co-occurring pairs (|offset| = 2) must sit
    // far above hash-random pairs in mean cosine — the embedding learned
    // co-occurrence, not noise (floors from the committed design sweep:
    // sep ≈ 0.32 at the pinned defaults; deterministic corpus+training)
    val co = pairs.where(abs(col("offset")) === 2 &&
        col("center") =!= col("context"))
      .select("center", "context").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = emb.keys.toSeq.sorted
    val coCos = co.map { case (a, b) => cos(emb(a), emb(b)) }.sum / co.length
    val rndCos = co.map { case (a, b) =>
      cos(emb(a), emb(vocab((hexFold(s"probe:$a:$b") % vocab.size).toInt)))
    }.sum / co.length
    assert(coCos - rndCos >= 0.15,
      s"co-occur/random cosine separation too low: $coCos vs $rndCos")
    // downstream overlap: embedding top-5 among customer nodes vs the
    // common-supplier-count top-5 (the Adamic-Adar-style structural
    // ranking) for the 10-customer query cohort — well above the ~0.15
    // random-overlap baseline
    val custEmb = emb.filter(_._1.startsWith("c:")).toSeq
      .map { case (n, v) => (n, v.toSeq) }.toDF("node", "vec")
    val queries = o.where(col("o_custkey") < 10)
      .select(concat(lit("c:"), col("o_custkey")).as("node")).distinct()
    val embTop = Graph.embeddingNeighbors(custEmb, queries, k = 5)
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(_.getString(2)).toSet).toMap
    val cn = edges.select(col("u").as("a"), col("v").as("s"))
      .join(edges.select(col("u").as("b"), col("v").as("s")), "s")
      .where(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      .join(queries.select(col("node").as("a")), "a")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("a"))
          .orderBy(col("common").desc, col("b"))))
      .where(col("rk") <= 5)
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    val overlaps = embTop.keys.toSeq.sorted
      .map(q => (embTop(q) intersect cn.getOrElse(q, Set.empty)).size)
    val mean = overlaps.sum.toDouble / overlaps.size
    assert(mean >= 0.3,
      s"embedding top-5 / common-neighbor top-5 mean overlap too low: $mean")
  }

  test("linkPrediction: adjacency excluded, only the requested side ranked") {
    import spark.implicits._
    val emb = Seq(
      ("c:1", Seq(1.0, 0.0)), ("c:2", Seq(0.95, 0.05)),
      ("s:1", Seq(1.0, 0.1)), ("s:2", Seq(0.9, 0.2)), ("s:3", Seq(-1.0, 0.0)))
      .toDF("node", "vec")
    val edges = Seq(("c:1", "s:1")).toDF("u", "v")
    val out = Graph.linkPrediction(emb, edges, Seq("c:1").toDF("node"), k = 2)
      .collect().map(r => (r.getInt(1), r.getString(2)))
    // s:1 is adjacent → excluded; c:2 is the wrong side despite the top
    // cosine; the k slots go to s:2 then s:3
    assert(out.toList === List((1, "s:2"), (2, "s:3")))
  }

  test("walkCorpusStats and embeddingEval: fixture invariants") {
    import spark.implicits._
    // corpus: 2 walks × positions 0..3; step 2 revisits a shared node
    val walks = Seq(
      ("a", 0, "a"), ("a", 1, "b"), ("a", 2, "c"), ("a", 3, "b"),
      ("d", 0, "d"), ("d", 1, "c"), ("d", 2, "c"), ("d", 3, "e"))
      .toDF("walk_id", "step", "node")
    val stats = Graph.walkCorpusStats(walks).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toList
    assert(stats === List((0, 2L, 2L), (1, 2L, 2L), (2, 2L, 1L), (3, 2L, 2L)))
    // eval: 2 customers + 2 suppliers, unit-ish vectors; report groups by
    // side pair, every node draws exactly one non-self partner
    val emb = Seq(
      ("c:1", Seq(1.0, 0.0)), ("c:2", Seq(0.0, 1.0)),
      ("s:1", Seq(1.0, 1.0)), ("s:2", Seq(-1.0, 0.0)))
      .toDF("node", "vec")
    val eval = Graph.embeddingEval(emb).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(eval.map(_._2).sum <= 4L, "at most one pair per node")
    assert(eval.map(_._2).sum >= 1L, "fixture must draw pairs")
    assert(eval.map(_._1).distinct.length === eval.length, "grouped by side pair")
    eval.foreach { case (sp, n, cos, nrm) =>
      assert(Set("cc", "cs", "sc", "ss")(sp))
      assert(n > 0 && !cos.isNaN && nrm > 0.0)
      assert(cos >= -1.0000001 && cos <= 1.0000001)
    }
  }

  test("published node embeddings: train once, second consumer reads the same table") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-emb-wh").toString
    val o = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val edges = Graph.tradeEdges(o, li)
    val corpus = Graph.randomWalks(
      edges, edges.select(col("u").as("walk_id")).distinct())
    // small iters: the compute-once CONTRACT is under test, not quality
    val e1 = Graph.publishedNodeEmbeddings(corpus, wh, "emb_spec", iters = 2)
    val e2 = Graph.publishedNodeEmbeddings(corpus, wh, "emb_spec", iters = 2)
    assert(e1.inputFiles.nonEmpty &&
      e1.inputFiles.toSet == e2.inputFiles.toSet,
      "second consumer must READ the published table, not retrain")
    // stale input rebuilds under the same path (fixed-path semantics)
    val corpus2 = Graph.randomWalks(
      edges, edges.select(col("u").as("walk_id")).distinct(), salt = "rw2")
    val e3 = Graph.publishedNodeEmbeddings(corpus2, wh, "emb_spec", iters = 2)
    assert(e3.inputFiles.toSet != e1.inputFiles.toSet,
      "changed corpus must rebuild, not silently reuse")
  }

  test("warm-start refresh: appended-edges retrain at half iterations stays in the eval band") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-emb-warm-wh").toString
    val o = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val edges = Graph.tradeEdges(o, li)
    val corpus = Graph.randomWalks(
      edges, edges.select(col("u").as("walk_id")).distinct())
    val iters = 8
    // v1: cold publish at the full budget
    Graph.publishedNodeEmbeddings(corpus, wh, "warm_spec", iters = iters)
    // the data changes: append edges (a new supplier linked to existing
    // customers), regenerate the walk corpus
    val edges2 = edges.unionByName(
      edges.select(col("u")).distinct().limit(5)
        .select(col("u"), lit("s:99999").as("v")))
    val corpus2 = Graph.randomWalks(
      edges2, edges2.select(col("u").as("walk_id")).distinct())
    val t0 = System.nanoTime()
    val warm = Graph.publishedNodeEmbeddings(corpus2, wh, "warm_spec", iters = iters)
    val warmSec = (System.nanoTime() - t0) / 1e9
    // publish contract unchanged: the refreshed table serves the NEW
    // corpus (sidecar now matches corpus2 — a re-read is a pure read)
    val again = Graph.publishedNodeEmbeddings(corpus2, wh, "warm_spec", iters = iters)
    assert(warm.inputFiles.nonEmpty &&
      warm.inputFiles.toSet == again.inputFiles.toSet,
      "refresh must republish once, then serve reads")
    // the new node exists in the refreshed table
    assert(warm.where(col("node") === "s:99999").count() == 1L)
    // eval band: the half-budget warm retrain must land within the
    // cold-full-budget geometry — co-occur separation at ≥ 80% of a
    // from-scratch full-iteration train on the same corpus
    def separation(emb: Map[String, Array[Double]], pairsDf: org.apache.spark.sql.DataFrame): Double = {
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
        while (j < a.length) {
          d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1
        }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val co = pairsDf.where(abs(col("offset")) === 2)
        .select(col("center"), col("context")).distinct().collect()
        .map(r => (r.getString(0), r.getString(1)))
        .filter { case (a, b) => emb.contains(a) && emb.contains(b) }
      val coMean = co.map { case (a, b) => cos(emb(a), emb(b)) }.sum / co.length
      val nodes = emb.keys.toArray.sorted
      val rand = nodes.indices.map { i =>
        val j = (i * 7919 + 13) % nodes.length
        cos(emb(nodes(i)), emb(nodes(j)))
      }
      coMean - rand.sum / rand.length
    }
    val pairs2 = Graph.walkContextPairs(corpus2)
    val warmMap = warm.collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    val cold = Graph.sgnsTrainEmbeddings(pairs2, iters = iters, miniBatches = 4)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    val sWarm = separation(warmMap, pairs2)
    val sCold = separation(cold, pairs2)
    assert(sWarm >= 0.8 * sCold,
      f"warm half-budget separation $sWarm%.4f < 80%% of cold $sCold%.4f " +
        f"(warm retrain took $warmSec%.1f s)")
    // the sidecar records the EFFECTIVE schedule (the path's _i slug is
    // nominal; the warm refresh actually ran iters/2 — round-15 advice)
    val pubPath = new org.apache.hadoop.fs.Path(
      Graph.nodeEmbeddingPath(wh, "warm_spec", iters = iters))
    val fs = pubPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecar = graft.engine.PublishGuard.readSidecarNotes(fs, pubPath)
    assert(sidecar.get("schedule") === Some("warm"),
      s"sidecar must record the warm refresh, got $sidecar")
    assert(sidecar.get("iters_run") === Some((iters / 2).toString),
      s"sidecar must record the iterations actually run, got $sidecar")
  }

  test("embeddingNeighborsIvf: recall@5 vs the exact path; honest in_exact column") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-embivf-wh").toString
    // deterministic synthetic table: 120 nodes in 6 well-separated cones
    // (base direction per cone + small hash jitter), so IVF with nlist=6
    // should recover near-exact neighbors at nprobe=2
    def h(s: String, j: Int): Double =
      ((scala.util.hashing.MurmurHash3.stringHash(s"$s:$j") & 0x7fffffff)
        / Int.MaxValue.toDouble - 0.5) * 0.2
    val dim = 8
    val emb = (0 until 120).map { i =>
      val cone = i % 6
      val v = Array.tabulate(dim)(j =>
        (if (j == cone) 1.0 else 0.0) + h(s"n$i", j))
      (f"n$i%03d", v.toSeq)
    }.toDF("node", "vec")
    val queries = Seq("n000", "n001", "n007", "n013").toDF("node")
    val ivf = Graph.embeddingNeighborsIvf(
      emb, queries, wh, "ivf_spec", k = 5, nlist = 6, nprobe = 2)
      .collect()
    val exact = Graph.embeddingNeighbors(emb, queries, k = 5)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(ivf.length == 4 * 5, s"4 queries x top-5, got ${ivf.length}")
    // in_exact must be the TRUE exact-membership bit, row by row
    ivf.foreach { r =>
      val key = (r.getString(0), r.getString(2))
      assert(r.getBoolean(4) == exact(key), s"in_exact lies for $key")
    }
    // recall@5: the well-separated fixture should stay high
    val hits = ivf.count(r => exact((r.getString(0), r.getString(2))))
    assert(hits >= 12, s"recall@5 = ${hits / 20.0} < 0.6")
    // pruning really prunes: probed candidates exclude some corpus nodes
    // (sanity that this is not the exact scan in disguise) — with 6 cones
    // and nprobe=2 at most ~2/6 of the corpus is scored per query
    val served = Graph.embeddingNeighborsIvf(
      emb, queries, wh, "ivf_spec", k = 200, nlist = 6, nprobe = 2)
      .groupBy(col("query")).count().collect()
    served.foreach(r => assert(r.getLong(1) < 119,
      s"query ${r.getString(0)} scored the full corpus — no pruning"))
  }

  test("reach: path fixture — hop-bounded min distance, far end excluded") {
    import spark.implicits._
    // path a—b—c—d—e from {a} with maxHops 3: e is 4 hops out
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("u", "v")
    val src = Seq("a").toDF("node")
    val out = Graph.reach(e, src, maxHops = 3).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out === Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3), s"got $out")
  }

  test("reach: diamond takes the SHORTEST path and early-exits on a drained frontier") {
    import spark.implicits._
    // diamond a—b, a—c, b—d, c—d: d is 2 hops via either arm — exactly
    // one row per node, labeled with the minimum; maxHops far beyond the
    // diameter must not loop or relabel
    val e = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")).toDF("u", "v")
    val src = Seq("a").toDF("node")
    val out = Graph.reach(e, src, maxHops = 8).collect()
      .map(r => r.getString(0) -> r.getInt(1))
    assert(out.length === out.map(_._1).distinct.length, "a node was relabeled")
    assert(out.toMap === Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2),
      s"got ${out.toMap}")
    // frontier monotonicity: hop-k nodes only ever appear with k ≤ the
    // round that discovered them — growing maxHops never changes labels
    val at2 = Graph.reach(e, src, maxHops = 2).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(at2 === out.toMap, "extra rounds changed already-assigned labels")
  }

  test("labelPropagation and hits hold only their final frames until release") {
    import spark.implicits._
    graft.engine.OpCache.release(spark)
    def held = spark.sparkContext.getPersistentRDDs.size
    val base = held
    val basket = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("p1", "p2")
    Graph.labelPropagation(basket, iters = 5).collect()
    // the checkpointed edges and the final labels
    assert(held - base <= 2, s"labelPropagation holds ${held - base} frames")
    graft.engine.OpCache.release(spark)
    assert(held === base)
    val trade = Seq(("c:1", "s:1"), ("c:1", "s:2"), ("c:2", "s:1"))
      .toDF("u", "v")
    Graph.hits(trade, iters = 5).collect()
    // the checkpointed edges and the final hub and authority frames
    assert(held - base <= 3, s"hits holds ${held - base} frames")
    graft.engine.OpCache.release(spark)
    assert(held === base)
  }

  test("the loop operators share one broadcast gate on BroadcastNodeThreshold") {
    val path = "src/main/scala/graft/operators/Graph.scala"
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val text = try src.mkString finally src.close()
    // the scan must see the code it guards
    assert(text.contains("val BroadcastNodeThreshold"))
    val comparisons = raw"(<=|>=|<|>|==|!=)\s*BroadcastNodeThreshold\b|\bBroadcastNodeThreshold\s*(<=|>=|<|>|==|!=)"
      .r.findAllIn(text).size
    assert(comparisons === 1,
      s"$comparisons comparisons against BroadcastNodeThreshold — gate through NodeGate")
    // the threshold's own definition is the one place its value is written
    val literals = "1000000L".r.findAllIn(text).size
    val definitions = "BroadcastNodeThreshold = 1000000L".r.findAllIn(text).size
    assert(definitions === 1 && literals === 1,
      s"$literals 1000000L literals — compare against BroadcastNodeThreshold instead")
  }
}
