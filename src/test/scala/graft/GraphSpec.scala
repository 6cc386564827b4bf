package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._
import scala.util.Random

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRank: two-node cycle converges to uniform; ranks sum to 1") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(e, "src", "dst", iterations = 20)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - 0.5) < 1e-12 && math.abs(r(2L) - 0.5) < 1e-12)
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
  }

  test("pageRank: hub gains rank; dangling sink keeps mass conserved") {
    // 1→3, 2→3, 3 dangles: 3 must outrank 1 and 2, total mass 1
    val e = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val r = Graph.pageRank(e, "src", "dst", iterations = 15)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(3L) > r(1L) && r(3L) > r(2L))
    assert(math.abs(r(1L) - r(2L)) < 1e-12, "symmetric sources tie")
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("pageRank == dense driver model on random graphs (3 seeds)") {
    for (seed <- Seq(2L, 13L, 67L)) {
      val rnd = new Random(seed)
      val edges = (1 to 150).map(_ =>
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iterations = 8)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val want = Graph.densePageRank(edges, 8, 0.85)
      assert(got.keySet === want.keySet, s"seed $seed")
      got.foreach { case (v, r) =>
        assert(math.abs(r - want(v)) < 1e-10, s"seed $seed node $v: $r vs ${want(v)}")
      }
    }
  }

  test("pageRank weighted == weighted dense model; zero weights drop (3 seeds)") {
    for (seed <- Seq(4L, 29L, 83L)) {
      val rnd = new Random(seed)
      val edges = (1 to 120).map(_ => (rnd.nextInt(20).toLong,
        rnd.nextInt(20).toLong, rnd.nextInt(5).toDouble)) // weight 0..4
      val got = Graph.pageRank(
        edges.toDF("src", "dst", "w"), "src", "dst",
        iterations = 6, weightCol = Some("w"))
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val want = Graph.densePageRankWeighted(edges, 6)
      assert(got.keySet === want.keySet,
        s"seed $seed (zero-weight endpoints still rank)")
      got.foreach { case (v, r) =>
        assert(math.abs(r - want(v)) < 1e-10, s"seed $seed node $v")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
    // doubling every weight changes nothing (scale invariance per source)
    val e1 = Seq((1L, 2L, 1.0), (1L, 3L, 3.0), (2L, 1L, 5.0))
    val r1 = Graph.densePageRankWeighted(e1, 8)
    val r2 = Graph.densePageRankWeighted(e1.map(t => (t._1, t._2, t._3 * 2)), 8)
    r1.foreach { case (v, r) => assert(math.abs(r - r2(v)) < 1e-12) }
  }

  test("pageRank: NaN/zero weights contribute nothing but endpoints still rank") {
    // NaN weight must not NaN every reachable rank (Spark's NaN > 0 is
    // true — the filter must exclude non-finite explicitly)
    val e = Seq((1L, 2L, 1.0), (1L, 3L, Double.NaN), (4L, 2L, 0.0))
      .toDF("src", "dst", "w")
    val got = Graph.pageRank(e, "src", "dst", iterations = 5,
      weightCol = Some("w"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L),
      "nodes on weight-dropped edges still rank")
    assert(got.values.forall(r => !r.isNaN && r > 0))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    val want = Graph.densePageRankWeighted(
      Seq((1L, 2L, 1.0), (1L, 3L, Double.NaN), (4L, 2L, 0.0)), 5)
    got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12, s"node $v") }
  }

  test("materializing operators free their checkpoints (bounded executor storage)") {
    import graft.functions.Stats
    import graft.operators.TemporalOps
    val e = (1 to 60).map(i => (i.toLong % 10, (i * 3).toLong % 10))
      .toDF("src", "dst")
    val nums = (1 to 40).map(i => (i.toDouble, math.sqrt(i.toDouble), (i % 7).toDouble))
      .toDF("x", "y", "z")
    val events = df((0 until 40).map(i => Seq(s"u${i % 8}",
      java.time.Instant.ofEpochSecond(i * 86400L).toString.replace("T", " ").replace("Z", ""),
      Seq("a", "b", "c")(i % 3))), "u:str,ts:datetime,ev:str")
    // RDDs persisted by `run` and still registered after it; a size
    // difference would let the ContextCleaner freeing older RDDs
    // meanwhile hide a leak
    def grown(run: => Unit): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run
      (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    // ONLY the returned frame may remain: retired per-iteration tables,
    // edge-list-sized helpers and scanned bases must be freed
    val rows: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (() => Graph.pageRank(e, "src", "dst", iterations = 15)),
      "labelPropagation" -> (() => Graph.labelPropagation(e, "src", "dst", iterations = 6)),
      "connectedComponents" -> (() => Graph.connectedComponents(e, "src", "dst")),
      "spearmanMatrix" -> (() => Stats.spearmanMatrix(nums, Seq("x", "y", "z"))),
      "funnel" -> (() => TemporalOps.funnel(events, "u", "ts", "ev",
        Seq("a", "b", "c"), 7 * 86400L)),
      "retention" -> (() => TemporalOps.retention(events, "u", "ts", 604800L)))
    rows.foreach { case (name, op) =>
      val n = grown(op().count())
      assert(n <= 1, s"$name left $n cached RDDs")
    }
    // a throwing operator frees everything it materialized
    val chain = df((0L until 59L).map(i => Seq(i, i + 1)), "src:long,dst:long")
    val n = grown(intercept[IllegalStateException] {
      Graph.connectedComponents(chain, "src", "dst", maxIterations = 1)
    })
    assert(n === 0, s"non-converging connectedComponents leaked $n cached RDDs")
  }

  test("pageRank: parallel edges double the contribution; guards") {
    // 1→2 twice vs 1→3 once from a second source with equal rank
    val e = Seq((1L, 2L), (1L, 2L), (1L, 3L)).toDF("src", "dst")
    val r = Graph.pageRank(e, "src", "dst", iterations = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // node 2 receives 2/3 of node 1's mass, node 3 receives 1/3
    assert(r(2L) > r(3L))
    // base includes the uniform dangling redistribution (nodes 2 and 3
    // hold 2/3 of the initial mass and have no out-edges)
    val base = (1.0 - 0.85) / 3 + 0.85 * (2.0 / 3) / 3
    assert(math.abs((r(2L) - base) / (r(3L) - base) - 2.0) < 1e-9)
    intercept[IllegalArgumentException] {
      Graph.pageRank(e, "src", "dst", iterations = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(e, "src", "dst", damping = 1.0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(df(Seq(Seq(null, 2L)), "src:long,dst:long"), "src", "dst")
    }
  }

  test("labelPropagation: two triangles joined by a bridge resolve to two communities") {
    // triangle {1,2,3}, triangle {10,11,12}, bridge 3-10
    val e = df(Seq(
      Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 1L),
      Seq(10L, 11L), Seq(11L, 12L), Seq(12L, 10L),
      Seq(3L, 10L)), "src:long,dst:long")
    val got = Graph.labelPropagation(e, "src", "dst", iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 10L, 11L, 12L))
    // matches the shared dense model exactly (synchronous determinism)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
    assert(got === Graph.denseLabelPropagation(edges, 6))
    // each triangle is internally uniform
    assert(Set(got(1L), got(2L)).size == 1 && got(2L) == got(3L))
    assert(got(10L) == got(11L) && got(11L) == got(12L))
  }

  test("labelPropagation == dense model on random graphs (3 seeds); isolated kept") {
    for (seed <- Seq(5L, 29L, 71L)) {
      val rnd = new Random(seed)
      val edges = (1 to 120).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      val got = Graph.labelPropagation(edges.toDF("src", "dst"), "src", "dst",
        iterations = 5)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val want = Graph.denseLabelPropagation(edges, 5)
      assert(got === want, s"seed $seed")
    }
    intercept[IllegalArgumentException] {
      Graph.labelPropagation(df(Seq(Seq(1L, 2L)), "src:long,dst:long"),
        "src", "dst", iterations = 0)
    }
  }

  test("labelPropagation: weighted votes beat unweighted majority") {
    // node 5 has two light neighbors labeled {1,2} and one heavy neighbor
    // labeled 9 — weight flips the winner
    val e = df(Seq(
      Seq(5L, 1L, 1.0), Seq(5L, 2L, 1.0), Seq(5L, 9L, 10.0)),
      "src:long,dst:long,w:double")
    val one = Graph.labelPropagation(e, "src", "dst", iterations = 1,
      weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(5L) === 9L)
    val unweighted = Graph.labelPropagation(e, "src", "dst", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unweighted(5L) === 1L) // tie among {1,2,9} breaks to smallest
    // weighted distributed ≡ weighted dense reference (multi-iteration)
    val wedges = Seq((5L, 1L, 1.0), (5L, 2L, 1.0), (5L, 9L, 10.0),
      (1L, 2L, 3.0), (9L, 2L, 0.5))
    val dist = Graph.labelPropagation(
      wedges.toDF("src", "dst", "w"), "src", "dst", iterations = 4,
      weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === Graph.denseLabelPropagationWeighted(wedges, 4))
    // non-positive / NaN weights vote nothing but endpoints still rank
    val guard = Seq((1L, 2L, Double.NaN), (2L, 3L, 1.0))
    val g = Graph.labelPropagation(guard.toDF("src", "dst", "w"),
      "src", "dst", iterations = 2, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g.keySet === Set(1L, 2L, 3L))
    assert(g === Graph.denseLabelPropagationWeighted(guard, 2))
  }

  test("personalizedPageRank: mass localizes at seeds, unreachable stays 0") {
    // two disconnected pairs: 1→2, 3→4; seed {1} → component {3,4} gets 0
    val e = df(Seq(Seq(1L, 2L), Seq(3L, 4L)), "src:long,dst:long")
    val seeds = df(Seq(Seq(1L)), "node:long")
    val r = Graph.personalizedPageRank(e, "src", "dst", seeds, iterations = 6)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r(3L) === 0.0 && r(4L) === 0.0)
    assert(r(1L) > r(2L), "seed outranks its neighbor under teleport")
    // matches the shared dense reference on random graphs (3 seeds)
    for (seed <- Seq(3L, 17L, 59L)) {
      val rnd = new Random(seed)
      val edges = (1 to 150).map(_ =>
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      val sd = Set(0L, 1L, 2L)
      val got = Graph.personalizedPageRank(edges.toDF("src", "dst"),
        "src", "dst", df(sd.toSeq.map(Seq[Any](_)), "node:long"),
        iterations = 8)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val want = Graph.densePersonalizedPageRank(edges, sd, 8)
      assert(got.keySet === want.keySet, s"seed $seed")
      got.foreach { case (v, rv) =>
        assert(math.abs(rv - want(v)) < 1e-10, s"seed $seed node $v")
      }
    }
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(e, "src", "dst",
        df(Seq(Seq(99L)), "node:long")) // no seed in graph
    }
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(e, "src", "dst",
        df(Seq(Seq(1L, 2L)), "a:long,b:long")) // two columns
    }
  }

  test("triangleCount: K4, pendant, square, parallel/self edges ignored") {
    // K4 on {1,2,3,4}: every node is in C(3,2) = 3 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield Seq(i, j)
    val got = Graph.triangleCount(df(k4, "src:long,dst:long"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // triangle + pendant node; reversed/parallel/self edges don't count
    val e = df(Seq(
      Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 1L),
      Seq(2L, 1L), Seq(1L, 2L), Seq(1L, 1L), // noise
      Seq(3L, 4L)), "src:long,dst:long")
    val t = Graph.triangleCount(e, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    // square: 4 edges, no triangle
    val sq = df(Seq(Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 4L), Seq(4L, 1L)),
      "src:long,dst:long")
    assert(Graph.triangleCount(sq, "src", "dst")
      .collect().forall(_.getLong(1) === 0L))
  }

  test("clusteringCoefficient: K4 all 1.0, star center 0, triangle+pendant") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield Seq(i, j)
    val ccK4 = Graph.clusteringCoefficient(df(k4, "src:long,dst:long"),
      "src", "dst").collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ccK4.values.forall(_ === 1.0))
    // star: center has 3 unconnected neighbors -> 0; leaves deg 1 -> 0
    val star = df(Seq(Seq(0L, 1L), Seq(0L, 2L), Seq(0L, 3L)),
      "src:long,dst:long")
    assert(Graph.clusteringCoefficient(star, "src", "dst")
      .collect().forall(_.getDouble(3) === 0.0))
    // triangle {1,2,3} + pendant 4 on node 3: node 3 has deg 3,
    // 1 triangle -> cc = 2/(3*2) = 1/3; nodes 1,2 deg 2 -> cc 1
    val tp = df(Seq(Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 1L), Seq(3L, 4L)),
      "src:long,dst:long")
    val cc = Graph.clusteringCoefficient(tp, "src", "dst")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(cc(3L) === ((3L, 1L, 1.0 / 3)))
    assert(cc(1L) === ((2L, 1L, 1.0)) && cc(2L) === ((2L, 1L, 1.0)))
    assert(cc(4L) === ((1L, 0L, 0.0)))
  }

  test("connectedComponents == driver union-find on random graphs (3 seeds)") {
    def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    for (seed <- Seq(11L, 42L, 97L)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 150).map(_ =>
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      val got = Graph.connectedComponents(
        df(edges.map(e => Seq(e._1, e._2)), "src:long,dst:long"),
        "src", "dst").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === brute(edges), s"seed $seed")
    }
  }

  test("connectedComponents: chain graph (pointer jump), self-loop singleton, guards") {
    // a 60-node path: hash-min alone needs 60 rounds; the pointer jump
    // must bring it under the default 30
    val chain = (0L until 59L).map(i => Seq(i, i + 1))
    val got = Graph.connectedComponents(
      df(chain, "src:long,dst:long"), "src", "dst").collect()
    assert(got.length === 60 && got.forall(_.getLong(1) === 0L))
    // self-loop-only node is a singleton component; null endpoints drop
    val mixed = df(Seq(Seq(7L, 7L), Seq(1L, 2L), Seq(null, 9L)),
      "src:long,dst:long")
    val m = Graph.connectedComponents(mixed, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
    intercept[IllegalArgumentException] {
      Graph.connectedComponents(mixed, "src", "dst", maxIterations = 0)
    }
    // too few rounds to converge raises rather than mislabeling
    intercept[IllegalStateException] {
      Graph.connectedComponents(
        df(chain, "src:long,dst:long"), "src", "dst", maxIterations = 2)
    }
  }

  test("degreeStats: multigraph counts vs distinct neighbors, one-sided zeros") {
    val e = df(Seq(
      Seq(1L, 2L), Seq(1L, 2L), Seq(1L, 3L), Seq(4L, 1L)),
      "src:long,dst:long")
    val got = Graph.degreeStats(e, "src", "dst")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === ((3L, 1L, 2L, 1L))) // out: 2,2,3 (2 distinct); in: 4
    assert(got(2L) === ((0L, 2L, 0L, 1L))) // parallel in-edges, 1 neighbor
    assert(got(3L) === ((0L, 1L, 0L, 1L)))
    assert(got(4L) === ((1L, 0L, 1L, 0L)))
  }
}
