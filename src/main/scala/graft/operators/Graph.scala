package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Link-graph centrality for corpus curation: PageRank over an edge list
 * (e.g. the host/domain graph extracted from crawled documents — the
 * CommonCrawl-style "rank domains by link authority, filter the corpus
 * by rank" quality signal; reference behavior class: fugue has no graph
 * vocabulary — this is training-data toolbox, like the dedup family).
 *
 * Scale design: the edge list is repartitioned by source ONCE and
 * localCheckpointed; each power iteration joins the (node, rank) table —
 * one row per node, orders of magnitude smaller than the edges — to that
 * fixed layout, aggregates contributions by destination, and eagerly
 * checkpoints the new ranks (bounded lineage; ~node-table cost per
 * iteration, never a growing plan). Dangling-node mass (nodes with no
 * out-edges) is collected as ONE driver scalar per iteration and
 * redistributed uniformly, so ranks sum to 1 every iteration.
 */
object Graph {

  /**
   * PageRank after `iterations` power steps, damping `d`:
   *
   *   rank(v) = (1−d)/n + d·(Σ_{u→v} w(u,v)·rank(u)/outweight(u) + dangling/n)
   *
   * Unweighted by default (each edge weight 1): parallel edges count
   * once each (multigraph semantics: a host linking another twice
   * contributes twice the mass). Pass `weightCol` for weighted graphs —
   * each source's mass splits proportionally to its outgoing weights;
   * edges with null, non-positive, or non-finite weight contribute no
   * mass (a zero-weight edge must not make its source
   * dangling-by-division, and a NaN weight must not NaN every reachable
   * rank) but their ENDPOINTS still rank — the node universe is every
   * node on a null-free edge. Output: `(node, rank)`; ranks sum to 1
   * (up to FP).
   */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10, damping: Double = 0.85,
      weightCol: Option[String] = None): DataFrame =
    rankLoop(edges, srcCol, dstCol, iterations, damping, weightCol, None)

  /**
   * Personalized PageRank: random walks restart at the SEED set instead
   * of uniformly — rank concentrates in the seeds' neighborhood, the
   * standard seed-expansion signal ("given these 50 known-good domains,
   * rank every domain by affinity to them"; dangling mass also returns
   * to the seeds, the conventional PPR closure). `seeds` is a one-column
   * frame of node ids; seeds absent from the graph are ignored (at least
   * one must be present). Non-seed nodes start at 0 and only gain rank
   * through incoming walks. Σrank = 1 each iteration.
   */
  def personalizedPageRank(
      edges: DataFrame, srcCol: String, dstCol: String, seeds: DataFrame,
      iterations: Int = 10, damping: Double = 0.85,
      weightCol: Option[String] = None): DataFrame = {
    require(seeds.columns.length == 1,
      s"seeds must be a one-column frame of node ids, got ${seeds.columns.length} columns")
    rankLoop(edges, srcCol, dstCol, iterations, damping, weightCol, Some(seeds))
  }

  private def rankLoop(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double,
      weightCol: Option[String], seedsOpt: Option[DataFrame]): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    // only the returned ranks survive the scope, on an error path too:
    // leaking the edge-list-sized layout until the ContextCleaner gets
    // around to it defeats the point
    graft.Materialize.scoped { scope =>
      // checkpoint the endpoint projection ONCE and derive both the edge
      // layout and the node universe from it: two independent evaluations
      // of a re-evaluation-unstable input (a sample, a mutable source)
      // could disagree on the edge/node sets and silently break Σrank = 1
      val endpoints = scope.eager(edges
        .select(col(srcCol).as("__src"), col(dstCol).as("__dst"), w.as("__w"))
        .filter(col("__src").isNotNull && col("__dst").isNotNull))
      // abs(w) < +Inf is false for NaN too (NaN-is-largest ordering), so
      // one predicate drops null, non-positive, AND non-finite weights
      val e = scope.eager(endpoints
        .filter(abs(col("__w")) < Double.PositiveInfinity && col("__w") > 0)
        .repartition(col("__src")))
      val nodes = scope.eager(endpoints.select(col("__src").as("node"))
        .union(endpoints.select(col("__dst").as("node")))
        .distinct())
      scope.release(endpoints)
      val n = nodes.count()
      require(n > 0, "edge list has no non-null endpoints")
      val outDeg = scope.eager(e.groupBy(col("__src").as("node"))
        .agg(sum(col("__w")).as("__deg")))
      // restart distribution: uniform 1/n, or 1/|seeds∩nodes| on the
      // seed set (personalized) — one (node, __p0) frame drives the
      // init, the teleport term, AND the dangling redistribution
      val p0 = scope.eager(seedsOpt match {
        case None => nodes.withColumn("__p0", lit(1.0 / n))
        case Some(sd) =>
          // checkpoint BEFORE count() + join: a re-evaluation-unstable
          // seed frame (a sample, a mutable source) evaluated twice could
          // make k disagree with the mask and silently break Σrank = 1 —
          // the same hazard the endpoints checkpoint above guards
          val present = scope.eager(nodes.join(
            sd.select(col(sd.columns.head).as("node")).distinct(),
            Seq("node"), "left_semi"))
          val k = present.count()
          require(k > 0, "no seed node is present in the graph")
          nodes.join(present.withColumn("__m", lit(1)), Seq("node"), "left")
            .select(col("node"),
              when(col("__m").isNotNull, lit(1.0 / k))
                .otherwise(lit(0.0)).as("__p0"))
      })
      var ranks = scope.eager(p0.select(col("node"), col("__p0").as("rank")))
      for (_ <- 1 to iterations) {
        // mass parked on dangling nodes (no out-edges) — ONE scalar
        val dangling = ranks.join(outDeg, Seq("node"), "left_anti")
          .agg(sum(col("rank"))).collect()(0) match {
          case r if r.isNullAt(0) => 0.0
          case r => r.getDouble(0)
        }
        val contribs = ranks.join(outDeg, "node")
          .join(e, col("node") === col("__src"))
          .groupBy(col("__dst").as("node"))
          .agg(sum(col("__w") * col("rank") / col("__deg")).as("__in"))
        val prev = ranks
        // rank = (1−d)·p0 + d·dangling·p0 + d·in  (p0 = 1/n uniform)
        ranks = scope.eager(p0.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (lit(1.0 - damping) * col("__p0") +
              lit(damping * dangling) * col("__p0") +
              lit(damping) * coalesce(col("__in"), lit(0.0)))
              .as("rank")))
        // the previous iteration's checkpoint blocks are dead the moment
        // the new one materializes — without this, storage grows by
        // iterations × |nodes|
        scope.release(prev)
      }
      ranks
    }
  }

  /**
   * Dense driver-side PageRank with IDENTICAL semantics (multigraph
   * contributions, uniform dangling redistribution) — the reference
   * model the q101 conformance differential and GraphSpec both pin
   * [[pageRank]] against; one shared implementation so the two gates
   * cannot drift apart. Driver memory O(nodes + edges): differential
   * use only.
   */
  def densePageRank(edges: Seq[(Long, Long)], iterations: Int,
      damping: Double = 0.85): Map[Long, Double] =
    densePageRankWeighted(edges.map { case (s, t) => (s, t, 1.0) },
      iterations, damping)

  /** The weighted form of the dense reference model (mass splits
   * proportionally to outgoing weights; non-positive/non-finite weights
   * contribute nothing but their endpoints still rank, matching
   * [[pageRank]]'s semantics). */
  def densePageRankWeighted(edges: Seq[(Long, Long, Double)],
      iterations: Int, damping: Double = 0.85): Map[Long, Double] = {
    val es = edges.filter(t => t._3 > 0 && !t._3.isNaN && !t._3.isInfinite)
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length
    val idx = nodes.zipWithIndex.toMap
    val outW = es.groupBy(_._1).map { case (s, g) => idx(s) -> g.map(_._3).sum }
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iterations) {
      val dangling = rank.indices.filterNot(outW.contains).map(rank).sum
      val next = Array.fill(n)(
        (1.0 - damping) / n + damping * dangling / n)
      es.foreach { case (s, t, w) =>
        next(idx(t)) += damping * w * rank(idx(s)) / outW(idx(s))
      }
      rank = next
    }
    nodes.map(v => v -> rank(idx(v))).toMap
  }

  /** Dense driver-side personalized PageRank (unweighted) with IDENTICAL
   * semantics to [[personalizedPageRank]] (teleport + dangling mass to
   * the seed distribution, seeds restricted to graph nodes) — the shared
   * reference model for the q113 differential and GraphSpec. Driver
   * memory O(nodes + edges): differential use only. */
  def densePersonalizedPageRank(
      edges: Seq[(Long, Long)], seeds: Set[Long], iterations: Int,
      damping: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val present = nodes.filter(seeds.contains).toSet
    require(present.nonEmpty, "no seed node is present in the graph")
    val k = present.size
    val idx = nodes.zipWithIndex.toMap
    val outDeg = edges.groupBy(_._1).map { case (s, g) => idx(s) -> g.size.toDouble }
    val p0 = nodes.map(v => if (present(v)) 1.0 / k else 0.0).toArray
    var rank = p0.clone()
    for (_ <- 1 to iterations) {
      val dangling = rank.indices.filterNot(outDeg.contains).map(rank).sum
      val next = Array.tabulate(nodes.length)(i =>
        (1.0 - damping) * p0(i) + damping * dangling * p0(i))
      edges.foreach { case (s, t) =>
        next(idx(t)) += damping * rank(idx(s)) / outDeg(idx(s))
      }
      rank = next
    }
    nodes.map(v => v -> rank(idx(v))).toMap
  }

  /**
   * Synchronous label propagation (LPA community detection, Raghavan et
   * al. 2007, deterministic variant): nodes start labeled with their own
   * id; each iteration EVERY node simultaneously adopts the label with
   * the largest total weight among its neighbors' current labels (edges
   * are treated as undirected; ties break to the SMALLEST label;
   * isolated nodes keep their label). Synchronous updates + total tie
   * order make the result a pure function of (edges, iterations) — no
   * visit-order nondeterminism, so it is differentially testable against
   * [[denseLabelPropagation]], the shared driver reference model.
   * Communities = distinct final labels. Typical use: grouping
   * mutually-linking hosts into site clusters before per-site caps or
   * per-community sampling.
   *
   * Scale: the same discipline as [[pageRank]] — the bidirected edge
   * layout is repartitioned by neighbor and checkpointed ONCE; each
   * iteration joins the (node, label) table (one row per node) to it,
   * aggregates neighbor-label weights, and eagerly checkpoints the new
   * labels while unpersisting the old (bounded lineage, node-table cost
   * per iteration). Weighted sums are decimal-bridged so the argmax is
   * exact and order-independent — an FP-sum tie would otherwise make
   * the winner partition-dependent.
   */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    graft.Materialize.scoped { scope =>
      val endpoints = scope.eager(edges
        .select(col(srcCol).as("__src"), col(dstCol).as("__dst"), w.as("__w"))
        .filter(col("__src").isNotNull && col("__dst").isNotNull))
      // undirected: each edge votes in both directions; decimal weights
      // make every later sum exact (abs < +Inf rejects NaN too)
      val good = endpoints
        .filter(abs(col("__w")) < Double.PositiveInfinity && col("__w") > 0)
        .select(col("__src"), col("__dst"),
          col("__w").cast("decimal(20,6)").as("__w"))
      val e2 = scope.eager(good
        .union(good.select(col("__dst").as("__src"), col("__src").as("__dst"),
          col("__w")))
        .repartition(col("__src")))
      val nodes = scope.eager(endpoints.select(col("__src").as("node"))
        .union(endpoints.select(col("__dst").as("node")))
        .distinct())
      scope.release(endpoints)
      var labels = scope.eager(nodes.withColumn("label", col("node")))
      for (_ <- 1 to iterations) {
        val votes = e2.join(labels, col("__src") === col("node"))
          .groupBy(col("__dst"), col("label"))
          .agg(sum(col("__w")).as("__mass"))
        val winners = votes.groupBy(col("__dst").as("node"))
          .agg(min_by(col("label"),
            struct((-col("__mass")).as("nm"), col("label"))).as("__new"))
        val prev = labels
        labels = scope.eager(prev.join(winners, Seq("node"), "left")
          .select(col("node"), coalesce(col("__new"), col("label")).as("label")))
        scope.release(prev)
      }
      labels
    }
  }

  /**
   * Dense driver-side label propagation with IDENTICAL semantics
   * (undirected votes, weight-sum argmax, ties to smallest label,
   * synchronous updates) — the shared reference model the q104
   * differential and GraphSpec both pin [[labelPropagation]] against.
   * Unweighted form (every edge weight 1); use
   * [[denseLabelPropagationWeighted]] against `weightCol` runs. Driver
   * memory O(nodes + edges): differential use only.
   */
  def denseLabelPropagation(edges: Seq[(Long, Long)], iterations: Int)
      : Map[Long, Long] =
    denseLabelPropagationWeighted(
      edges.map { case (s, t) => (s, t, 1.0) }, iterations)

  /** The weighted form of the dense LPA reference model: votes sum edge
   * weights (exact BigDecimal accumulation mirroring the distributed
   * path's decimal(20,6) bridge); null-free edges with non-positive or
   * non-finite weight contribute no vote but their endpoints still rank,
   * matching [[labelPropagation]]'s semantics. */
  def denseLabelPropagationWeighted(
      edges: Seq[(Long, Long, Double)], iterations: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val good = edges
      .filter(e => e._3 > 0 && !e._3.isNaN && !e._3.isInfinite)
      .map { case (s, t, w) =>
        (s, t, BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      }
    val und = good ++ good.map { case (s, t, w) => (t, s, w) }
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
    var label = nodes.map(v => v -> v).toMap
    for (_ <- 1 to iterations) {
      label = nodes.map { v =>
        nbrs.get(v) match {
          case None => v -> label(v)
          case Some(ns) =>
            val mass = ns.groupBy { case (u, _) => label(u) }.view
              .mapValues(_.map(_._2).sum).toMap
            v -> mass.toSeq.minBy { case (l, m) => (-m, l) }._1
        }
      }.toMap
    }
    label
  }

  /**
   * Exact per-node triangle counts over the UNDIRECTED simple graph of
   * an edge list (direction, parallel edges, and self-loops ignored —
   * the standard clustering-coefficient denominator semantics). The
   * local-community-density signal for crawl graphs: spam farms are
   * triangle-dense, organic link neighborhoods sparse. Output:
   * (node, triangles) — one row per node of the simple graph, 0 where a
   * node is in no triangle.
   *
   * Scale: DEGREE-ORDERED wedge counting (the Schank–Wagner/Latapy
   * forward algorithm): every simple edge orients from its lower-
   * (degree, id) endpoint to the higher, wedges form as pairs of
   * out-neighbors of a common source, and one join back against the
   * oriented edges closes them. Orientation by degree caps every
   * node's out-degree at O(√m) amortized, so wedge volume is O(m^1.5)
   * REGARDLESS of hub skew — an id-ordered orientation would let one
   * high-id hub own all its edges and explode quadratically. Each
   * triangle closes exactly once (its endpoints are totally ordered by
   * the (degree, id) key). AQE's skew-join splitting applies on top.
   */
  /**
   * Distributed connected components (undirected): every node is labeled
   * with the MINIMUM node id reachable from it — the canonical component
   * id. THE engine's one distributed CC core: `Dedup`'s near-duplicate
   * component resolution routes its beyond-driver-bound fallback through
   * here (its fast path stays a driver union-find below
   * `driverMaxEdges`), so every caller gets the pointer-jump-per-round
   * convergence (O(log n) rounds even on chain-shaped components, vs
   * O(diameter) for plain hash-min). Takes any edge frame. Output:
   * (node, comp). Nodes
   * appearing only in self-loops are singleton components; node ids must
   * be an orderable type (`min` semantics).
   *
   * Algorithm: hash-min label propagation with one pointer-jump per
   * round — each iteration takes (a) the min label over neighbors (one
   * edges-sized shuffle against the once-checkpointed symmetric layout)
   * and (b) the label OF the current label (one node-table-sized join),
   * so labels chase both one hop AND one indirection per round:
   * O(log n)-ish rounds on chain-shaped components instead of
   * O(diameter), and 2–3 rounds on the dense low-diameter clusters a
   * near-dup graph produces. Lineage is truncated every round
   * (localCheckpoint, predecessor freed), the same discipline as
   * [[pageRank]]. Raises if `maxIterations` rounds don't converge —
   * a silent partial labeling would split components.
   */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int = 30): DataFrame = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    graft.Materialize.scoped { scope =>
      val endpoints = scope.eager(edges
        .select(col(srcCol).as("__a"), col(dstCol).as("__b"))
        .filter(col("__a").isNotNull && col("__b").isNotNull))
      val half = endpoints.filter(col("__a") =!= col("__b"))
      val sym = scope.eager(half.select(col("__a").as("u"), col("__b").as("v"))
        .union(half.select(col("__b").as("u"), col("__a").as("v")))
        .distinct()
        .repartition(col("u")))
      // node universe from the RAW endpoints: self-loop-only nodes stay
      // (singletons); derived from the same checkpoint so an unstable
      // input cannot disagree between the edge and node views
      val nodes = scope.eager(endpoints.select(col("__a").as("node"))
        .union(endpoints.select(col("__b").as("node"))).distinct())
      scope.release(endpoints)
      var backing = scope.eager(nodes.select(col("node"), col("node").as("comp")))
      var labels = backing
      var it = 0
      var changed = 1L
      while (changed > 0 && it < maxIterations) {
        val nmin = sym
          .join(labels.select(col("node").as("u"), col("comp")), Seq("u"))
          .groupBy(col("v").as("node")).agg(min(col("comp")).as("__nmin"))
        val lookup = labels
          .select(col("node").as("__c"), col("comp").as("__cc"))
        val joined = scope.eager(labels.join(nmin, Seq("node"), "left")
          .withColumn("__step",
            least(col("comp"), coalesce(col("__nmin"), col("comp"))))
          // pointer jump: the label of my (old) label is <= my label
          .join(lookup, col("__step") === col("__c"), "left")
          .select(col("node"), col("comp"),
            least(col("__step"), coalesce(col("__cc"), col("__step")))
              .as("__new")))
        changed = joined.filter(col("__new") < col("comp")).count()
        scope.release(backing)
        backing = joined
        labels = joined.select(col("node"), col("__new").as("comp"))
        it += 1
      }
      if (changed > 0) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIterations rounds " +
          "(still-shrinking labels) — raise maxIterations; components this " +
          "deep usually mean a chain-shaped graph, not a near-dup cluster")
      scope.eager(labels)
    }
  }

  def triangleCount(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("u"),
        greatest(col("__a"), col("__b")).as("v"))
      .distinct()
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
    val deg = nodes.join(
      e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("__deg")),
      Seq("node"))
    // orient each edge toward the higher (degree, id) key; carry the
    // destination's key so the wedge pair can be ordered without a join
    val keyed = e
      .join(deg.select(col("node").as("u"), col("__deg").as("__du")), "u")
      .join(deg.select(col("node").as("v"), col("__deg").as("__dv")), "v")
      .withColumn("__ku", struct(col("__du").as("dk"), col("u").as("nk")))
      .withColumn("__kv", struct(col("__dv").as("dk"), col("v").as("nk")))
    val oe = keyed.select(
      when(col("__ku") < col("__kv"), col("u")).otherwise(col("v")).as("s"),
      when(col("__ku") < col("__kv"), col("v")).otherwise(col("u")).as("d"),
      when(col("__ku") < col("__kv"), col("__kv")).otherwise(col("__ku"))
        .as("__kd"))
    // wedges: ordered pairs of out-neighbors of a common source, closed
    // by the oriented edge between them (which exists iff the graph has
    // the edge — orientation follows the same total order as the pair)
    val wedges = oe.as("e1")
      .join(oe.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.__kd") < col("e2.__kd"))
      .select(col("e1.s").as("a"), col("e1.d").as("b"), col("e2.d").as("c"))
    val triangles = wedges
      .join(oe.select(col("s").as("b"), col("d").as("c")), Seq("b", "c"))
    val perNode = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    nodes.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /**
   * Local clustering coefficient per node: cc(v) = 2·tri(v) / (k·(k−1))
   * with k the node's SIMPLE-graph degree (distinct neighbors, direction
   * ignored) — the fraction of a node's neighbor pairs that are
   * themselves connected. 0.0 for k < 2. The per-node form of the
   * triangle density audit ([[triangleCount]] provides the counts; this
   * normalizes them): spam farms cluster near 1, organic link
   * neighborhoods sit low. Output: (node, degree, triangles, cc).
   *
   * Scale: [[triangleCount]]'s degree-ordered wedge machinery + one
   * distinct-neighbor aggregate + a node-keyed join — nothing beyond
   * the triangle pass's cost model.
   */
  def clusteringCoefficient(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val tri = triangleCount(edges, srcCol, dstCol)
    val clean = edges
      .select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("u"),
        greatest(col("__a"), col("__b")).as("v"))
      .distinct()
    val deg = clean.select(col("u").as("node"))
      .union(clean.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    tri.join(deg, Seq("node"))
      .select(col("node"), col("degree"), col("triangles"),
        when(col("degree") >= 2,
          (col("triangles") * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("cc"))
  }

  /**
   * Per-node degree statistics over an edge list: out/in edge counts and
   * distinct out/in neighbor counts (parallel edges counted by the
   * former, once by the latter). The crawl-graph audit primitive —
   * hub/spam detection (huge out-degree, tiny distinct ratio), dangling
   * analysis, degree-distribution reports. Output:
   * (node, out_deg, in_deg, out_neighbors, in_neighbors) — one row per
   * node that appears on any null-free edge, zeros where a node only
   * appears on one side.
   *
   * Scale: the edge list maps to tagged (node, other, direction) rows,
   * then ONE hash aggregate keyed on node (map-side partials; the two
   * distinct counts add the documented Expand branch, same trade as the
   * q89 exact-distinct constraints). Nothing driver-side, no joins.
   */
  def degreeStats(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val clean = edges
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull)
    clean.select(col("__s").as("node"), col("__d").as("__o"), lit(1).as("__out"))
      .union(clean.select(col("__d").as("node"), col("__s").as("__o"),
        lit(0).as("__out")))
      .groupBy("node")
      .agg(sum(col("__out")).cast("long").as("out_deg"),
        sum(lit(1) - col("__out")).cast("long").as("in_deg"),
        countDistinct(when(col("__out") === 1, col("__o"))).as("out_neighbors"),
        countDistinct(when(col("__out") === 0, col("__o"))).as("in_neighbors"))
  }
}
