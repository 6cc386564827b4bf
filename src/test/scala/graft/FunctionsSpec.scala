package graft

import graft.functions.{Dedup, Multimodal, Similarity, TextFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-operator correctness: dedup family cross-checked against
 * brute-force computations on the sf0.001 documents/embeddings tables. */
class FunctionsSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  }

  /** brute-force word-3-gram jaccard pairs ≥ t, computed driver-side. */
  private def bruteJaccardPairs(t: Double, corpus: DataFrame = docs): Set[(Long, Long)] = {
    val texts = corpus.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh(s: String) = s.trim.split("\\s+").sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet
    val shs = texts.map { case (id, t0) => id -> sh(t0) }
    val ids = shs.keys.toSeq.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = shs(ids(i)); b = shs(ids(j))
      if a.nonEmpty && b.nonEmpty
      inter = (a & b).size
      if inter > 0 && inter.toDouble / (a.size + b.size - inter) >= t
    } yield (ids(i), ids(j))).toSet
  }

  test("exact dedup keeps smallest tie-break id per key") {
    val d = df(Seq(Seq("x", 3L), Seq("x", 1L), Seq("y", 2L)), "t:str,id:long")
    assertDfEq(Dedup.exact(d, Seq("t"), "id"), Seq(Seq("x", 1L), Seq("y", 2L)))
  }

  /** 200 documents sharing one 20-word boilerplate run (18 shingles of
   * df 200) plus a tail of `id % 20` words of their own: the sampled
   * probe's estimate is about 8 × 25, far above the amplification bar. */
  private lazy val heavyHeadDocs = {
    val boiler = (0 until 20).map(i => s"boiler$i").mkString(" ")
    df((1L to 200L).map { id =>
      Seq(id, (boiler +: (0L until id % 20).map(j => s"t${id}x$j")).mkString(" "))
    }, "doc_id:long,text:str")
  }

  test("ngramJaccardPairs matches brute force exactly") {
    for ((corpus, arm) <- Seq(docs -> "co-occurrence", heavyHeadDocs -> "prefix")) {
      val want = bruteJaccardPairs(0.5, corpus)
      val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      val got = pairs.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, arm)
      assert(want.nonEmpty, arm) // sf0.001 has planted near-dups
      // the prefix arm alone slices each document's df-ascending shingles
      assert(pairs.queryExecution.analyzed.toString.contains("slice(") === (arm == "prefix"), arm)
    }
  }

  test("ngramJaccardPairs routes on its sampled probe: no persisted RDD, one RDD in the plan") {
    import org.apache.spark.sql.execution.LogicalRDD
    def rdds(d: DataFrame): Set[Int] =
      d.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
    val sigs = Dedup.shingleStage(docs, "doc_id", "text", 3)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted)
    assert(rdds(sigs).size === 1)
    assert(rdds(pairs) === rdds(sigs))
  }

  test("prefix-filtered jaccard path == co-occurrence path (several thresholds)") {
    val sigs = Dedup.shingleStage(docs, "doc_id", "text", 3)
    for (t <- Seq(0.3, 0.5, 0.9, 1.0)) {
      val pf = Dedup.ngramJaccardPrefixFiltered(sigs, t)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val co = Dedup.ngramJaccardCooccur(sigs, t, Int.MaxValue)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pf === co, s"threshold $t")
    }
    // the public entry point's routed answer equals both arms end-to-end
    val auto = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().toSet
    assert(Dedup.ngramJaccardCooccur(sigs, 0.5, Int.MaxValue)
      .select("id_a", "id_b").collect().toSet === auto, "cooccur arm")
    assert(Dedup.ngramJaccardPrefixFiltered(sigs, 0.5)
      .select("id_a", "id_b").collect().toSet === auto, "prefix arm")
  }

  test("prefix path at an FP-hostile exact threshold boundary (0.55)") {
    // 0.55*20 = 11.000000000000002 in IEEE doubles: a naive ceil shortens
    // A's prefix by one and silently drops the exact-boundary pair.
    // A={1..20}, B={10..20} (11 shared, jaccard exactly 11/20 = 0.55),
    // C=A makes the shared shingles df=3 and A-only shingles df=2, so the
    // shared ones sort LAST in A's df-ascending order — the dropped
    // prefix slot is exactly the first shared shingle.
    val sigs = df(Seq(
      Seq(1L, (1L to 20L).toSeq), Seq(2L, (10L to 20L).toSeq),
      Seq(3L, (1L to 20L).toSeq)), "id:long,sh:[long]")
    val want = Set((1L, 2L), (1L, 3L), (2L, 3L))
    val pf = Dedup.ngramJaccardPrefixFiltered(sigs, 0.55)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val co = Dedup.ngramJaccardCooccur(sigs, 0.55, Int.MaxValue)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(co === want)
    assert(pf === want)
  }

  test("minhashNearDupPairs finds all high-jaccard pairs (recall at j≈0.98)") {
    val want = bruteJaccardPairs(0.9)
    val got = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      shingleK = 3, numHashes = 128, bands = 16, threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH with 16 bands at j≈0.98: P(miss) = (1-j^8)^16 ≈ 1e-12 — exact here
    assert(got === want)
  }

  test("minhash verification removes false positives below threshold") {
    // with threshold 0.99... planted dups are ~0.98 → none should survive 0.999
    val got = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.999)
    assert(got.count() === 0)
  }

  test("simhash near-dup pairs ⊆ high-jaccard pairs and finds most") {
    val want = bruteJaccardPairs(0.9)
    val got = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(want ++ bruteJaccardPairs(0.3))) // no random-pair junk
    assert(got.intersect(want).size >= want.size / 2) // hamming≤3 finds most ~0.98 dups
  }

  test("embedding near-dup matches brute-force cosine threshold") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      a.zip(b).map { case (x, y) => x * y }.sum / (na * nb)
    }
    val ids = vecs.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      if cos(vecs(ids(i)), vecs(ids(j))) >= 0.4
    } yield (ids(i), ids(j))).toSet
    val got = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("bruteForceTopK is exact vs driver-side computation") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      a.zip(b).map { case (x, y) => x * y }.sum / (na * nb)
    }
    val want = (for (q <- vecs.keys.toSeq.sorted.take(3)) yield {
      val ranked = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      q -> ranked
    }).toMap
    val got = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", 5)
      .orderBy("query_id", "rank").collect()
      .groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(_.getLong(2)).toSeq }
    assert(got === want)
  }

  test("rrfFuse matches the driver-side reciprocal-rank computation") {
    val rnd = new scala.util.Random(42)
    def mkList(): Seq[(Long, Int, Long)] =
      (0L until 4L).flatMap { q =>
        val ids = rnd.shuffle((0L until 20L).toList).take(8)
        ids.zipWithIndex.map { case (id, i) => (q, i + 1, id) }
      }
    val l1 = mkList(); val l2 = mkList()
    def toDf(l: Seq[(Long, Int, Long)]) =
      df(l.map(t => Seq[Any](t._1, t._2, t._3)),
        "query_id:long,rank:int,doc_id:long")
    val got = Similarity.rrfFuse(Seq(toDf(l1), toDf(l2)),
      "query_id", "doc_id", topK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    // driver-side replay of the declared arithmetic: contributions
    // rounded HALF_UP to 12 digits, exact decimal sum, desc/id tie-break
    val fused = (l1 ++ l2)
      .map { case (q, r, id) => ((q, id),
        BigDecimal(1.0 / (60 + r))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)) }
      .groupBy(_._1).map { case ((q, id), xs) =>
        (q, id, xs.map(_._2).sum.toDouble) }
    val want = fused.groupBy(_._1).toSeq.flatMap { case (q, xs) =>
      xs.toSeq.sortBy { case (_, id, s) => (-s, id) }.take(5).zipWithIndex
        .map { case ((_, id, s), i) => (q, i + 1, id, s) }
    }.toSet
    assert(got === want)
    // single-list fusion degenerates to a re-rank of that list
    val single = Similarity.rrfFuse(Seq(toDf(l1)), "query_id", "doc_id",
      topK = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(single.toSet === l1.toSet)
  }

  test("marginMine matches the driver-side Artetxe-Schwenk ratio margin") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      a.zip(b).map { case (x, y) => x * y }.sum / (na * nb)
    }
    // replicate the declared arithmetic exactly: Spark round(x, 7) is
    // BigDecimal-of-shortest-repr HALF_UP; the k-average bridges decimals
    def r7(x: Double): Double =
      BigDecimal(x).setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k = 4
    val (as, bs) = vecs.keys.toSeq.sorted.partition(_ % 2 == 0)
    def top(q: Long, pool: Seq[Long]): Seq[(Long, Double)] =
      pool.map(id => id -> cos(vecs(q), vecs(id)))
        .sortBy { case (id, c) => (-c, id) }.take(k)
        .map { case (id, c) => id -> r7(c) }
    def avg(xs: Seq[Double]): Double =
      (xs.map(x => BigDecimal(x)).sum / 1).toDouble / k
    val aAvg = as.map(a => a -> avg(top(a, bs).map(_._2))).toMap
    val bAvg = bs.map(b => b -> avg(top(b, as).map(_._2))).toMap
    val want = as.map { a =>
      val best = top(a, bs).map { case (id, c7) =>
        val m = math.floor(c7 / (0.5 * (aAvg(a) + bAvg(id))) * 1e5 + 0.5) / 1e5
        (id, m)
      }.sortBy { case (id, m) => (-m, id) }.head
      (a, best._1, best._2)
    }.toSet
    val got = Similarity.marginMine(emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
    // minMargin filters
    val thr = Similarity.marginMine(emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", k = 4,
      minMargin = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(thr === want.filter(_._3 >= 1.0))
  }

  test("marginMine: colliding id spaces and sub-k corpora (review findings)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def frame(rows: (Long, Seq[Float])*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) =>
        org.apache.spark.sql.Row(id, v) }: _*), schema)
    // src and tgt are SEPARATE corpora sharing id values 0..1 — the
    // aligned pair (0 -> 0) must be minable, not self-excluded
    val src = frame(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f))
    val tgt = frame(0L -> Seq(0.95f, 0.05f), 1L -> Seq(0.05f, 0.95f))
    val got = Similarity.marginMine(src, tgt, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 0L), (1L, 1L)))
    // tgt smaller than k: the neighborhood average divides by the ACTUAL
    // count (2), not k (4). True margins here are ~1.9 (cos .999 over an
    // average of {.999, .053}); the /k bug would double them to ~3.8
    val margins = Similarity.marginMine(src, tgt, "vec_id", "embedding",
      k = 4).collect().map(_.getDouble(2))
    assert(margins.forall(m => m > 1.0 && m < 2.5), margins.toSeq.toString)
  }

  test("marginMine/hardNegatives steer toward approx when both sides " +
      "exceed the broadcast threshold") {
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      // with a 1-byte threshold every plan is "too big to broadcast":
      // building (not running) the exact plan records the steering note
      spark.conf.set(key, "1")
      Similarity.lastQuadraticNote = None
      Similarity.marginMine(src, tgt, "vec_id", "embedding", k = 2)
      val note = Similarity.lastQuadraticNote
      assert(note.exists(n => n.contains("marginMine") &&
        n.contains("approx = true")), note.toString)
      Similarity.hardNegatives(emb.withColumn("lb", col("vec_id") % 2),
        "vec_id", "embedding", "lb", k = 2)
      assert(Similarity.lastQuadraticNote
        .exists(_.contains("hardNegatives")))
      // the approx route never warns
      Similarity.lastQuadraticNote = None
      Similarity.marginMine(src, tgt, "vec_id", "embedding", k = 2,
        approx = true, nTables = 2, nBits = 2, probes = 2)
      assert(Similarity.lastQuadraticNote.isEmpty)
    } finally spark.conf.set(key, saved)
    // broadcastable inputs leave the exact default unflagged
    Similarity.marginMine(src, tgt, "vec_id", "embedding", k = 2)
    assert(Similarity.lastQuadraticNote.isEmpty)
  }

  test("marginMine approx: exhaustive probing reproduces exact, realistic " +
      "probing agrees on >=90% of mined pairs") {
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    val exact = Similarity.marginMine(src, tgt, "vec_id", "embedding",
      k = 4, minMargin = Double.NegativeInfinity)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // probes = nBits covers every bucket of every table (nBits 2, probes
    // 2 → all 4 keys probed): the candidate set is the full cross
    // product, so the annJoin-routed path must reproduce the exact miner
    // BIT-FOR-BIT (same top-k tie-breaks, same margin arithmetic) — pins
    // that approx changes candidates, never the arithmetic
    val exhaustive = Similarity.marginMine(src, tgt, "vec_id", "embedding",
      k = 4, minMargin = Double.NegativeInfinity, approx = true,
      nTables = 2, nBits = 2, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exhaustive === exact)
    // realistic LSH parameters: the mined (src, tgt) pairs agree with
    // exact on >= 90% of srcs — the s15x conformance bound
    val approx = Similarity.marginMine(src, tgt, "vec_id", "embedding",
      k = 4, minMargin = Double.NegativeInfinity, approx = true,
      nTables = 16, nBits = 8, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map { case (a, b, _) => (a, b) }
    assert(approx.size === exactPairs.size) // one mined pair per src
    val agree = exactPairs.intersect(approx).size.toDouble / exactPairs.size
    assert(agree >= 0.9, s"pair agreement $agree")
    // pre-computed neighbor lists plug in directly (the lshTopK/ivfTopK
    // substitution route the scaladoc documents)
    val ab = Similarity.bruteForceTopK(tgt, src, "vec_id", "embedding",
      k = 4, excludeSelf = false)
    val ba = Similarity.bruteForceTopK(src, tgt, "vec_id", "embedding",
      k = 4, excludeSelf = false)
    val fromLists = Similarity
      .marginFromNeighbors(ab, ba, Double.NegativeInfinity)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromLists === exact)
  }

  test("lshTopK achieves high recall vs brute force") {
    val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5, nTables = 16, nBits = 8, probes = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall too low")
  }

  test("ivfTopK achieves high recall vs brute force") {
    val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.trainIvfCentroids(emb, "embedding", k = 8,
      iterations = 2, sampleSize = 1000)
    assert(cents.length === 8)
    assert(math.abs(cents.head.map(x => x * x).sum - 1.0) < 1e-9) // unit norm
    // near-uniform synthetic embeddings: recall tracks nProbe/k (little
    // cluster structure to exploit) — probe 6 of 8 cells
    val ivf = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5, cents, nProbe = 6)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low")
    // nProbe = k cells probes everything -> exact
    val full = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5, cents, nProbe = 8)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === brute)
  }

  test("clusterEmbeddings: deterministic, matches driver argmax, covers clusters") {
    val (assigned, cents) = Similarity.clusterEmbeddingsWithCentroids(
      emb, "vec_id", "embedding", k = 4, iterations = 2, sampleSize = 1000)
    val rows = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // driver brute-force argmax over the same centroids (lowest-index ties)
    val vecs = emb.select(col("vec_id"),
      Similarity.l2normalize(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    vecs.foreach { case (id, v) =>
      val scores = cents.map(c =>
        c.zip(v).map { case (a, b) => a * b }.sum)
      val best = scores.indices.maxBy(i => (scores(i), -i))
      assert(rows(id) === best, s"vec $id")
    }
    assert(rows.values.toSet.size > 1)           // not collapsed
    assert(rows.values.forall(c => c >= 0 && c < 4))
    assert(rows.size === vecs.size)              // every row assigned
    // pure function of (data, seed)
    val again = Similarity.clusterEmbeddings(emb, "vec_id", "embedding",
      k = 4, iterations = 2, sampleSize = 1000)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again === rows)
    intercept[IllegalArgumentException] {
      Similarity.clusterEmbeddings(
        emb.withColumnRenamed("vec_id", "cluster"), "cluster", "embedding", 2)
    }
  }

  test("ivfPqTopK: deterministic codebooks, exact at full budget, ADC carries signal") {
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.trainIvfCentroids(emb, "embedding", k = 4,
      iterations = 2, sampleSize = 1000)
    val books = Similarity.trainPqCodebooks(emb, "embedding",
      numSubspaces = 8, codebookSize = 16, iterations = 6, sampleSize = 1000)
    assert(books.length === 8)
    assert(books.forall(_.length === 16))
    assert(books.forall(_.forall(_.length === 8))) // dim 64 / 8 subspaces
    // pure function of (data, seed)
    val again = Similarity.trainPqCodebooks(emb, "embedding",
      numSubspaces = 8, codebookSize = 16, iterations = 6, sampleSize = 1000)
    assert(books.flatten.flatten.toSeq === again.flatten.flatten.toSeq)
    // probe every cell + shortlist covering the corpus -> identical to
    // brute force (pins the rerank machinery end-to-end)
    val full = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 5,
      cents, books, nProbe = 4, refine = 100)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === brute)
    // modest budget: shortlist 20/500 = 4% of the corpus; random picking
    // would expect ~0.04 recall — require 5x that so the ADC score is
    // demonstrably informative even on i.i.d. random embeddings
    val pq = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 5,
      cents, books, nProbe = 4, refine = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"ADC recall $recall below signal floor")
    // refine=0 returns ADC scores directly, same shape, k rows per query
    val adc = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 5,
      cents, books, nProbe = 4, refine = 0)
    assert(adc.columns.toSeq === Seq("query_id", "rank", "neighbor_id", "cosine"))
    assert(adc.count() === q.count() * 5)
    intercept[IllegalArgumentException] {
      Similarity.trainPqCodebooks(emb, "embedding", numSubspaces = 7)
    }
    // scoring codes against a different codebook generation fails loudly
    // instead of clamping into plausible-but-wrong similarities
    val smallBooks = Similarity.trainPqCodebooks(emb, "embedding",
      numSubspaces = 8, codebookSize = 4, iterations = 1, sampleSize = 100)
    val nv = graft.functions.expressions.VectorExpressions.l2normalize(col("embedding"))
    val mixed = emb.limit(5).select(
      Similarity.pqAdcScore(nv,
        Similarity.pqEncode(nv, books), // 16-codeword codes
        smallBooks))                    // 4-codeword books
    val err = intercept[org.apache.spark.SparkException] { mixed.collect() }
    assert(err.getMessage.contains("out of range") ||
      Option(err.getCause).exists(_.getMessage.contains("out of range")))
  }

  test("hardNegatives: true nearest different-label rows; approx path label-correct") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq(1.0, 0.0), "A"), (2L, Seq(0.95, 0.1), "A"), // same-label pair
      (3L, Seq(0.9, 0.2), "B"),                            // hard negative for A
      (4L, Seq(0.0, 1.0), "B"), (5L, Seq(0.1, 0.9), "A"))
      .toDF("vec_id", "embedding", "label")
    val exact = Similarity.hardNegatives(d, "vec_id", "embedding", "label", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // anchor 1 (A): nearest is 2 (A, skipped) -> hardest negative is 3 (B)
    assert(exact(1L) === 3L)
    assert(exact(4L) === 5L) // anchor 4 (B): nearest A is 5
    // labels always differ on the anchor side
    val labeled = Similarity.hardNegatives(d, "vec_id", "embedding", "label", k = 2)
      .join(d.select(col("vec_id").as("query_id"), col("label").as("la")), "query_id")
      .join(d.select(col("vec_id").as("neighbor_id"), col("label").as("lb")), "neighbor_id")
    assert(labeled.filter(col("la") === col("lb")).count() === 0)
    val approx = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      k = 3, approx = true)
    val exactBig = Similarity.hardNegatives(emb, "vec_id", "embedding", "label", k = 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approxSet = approx.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = approxSet.intersect(exactBig).size.toDouble / exactBig.size
    assert(recall >= 0.8, s"approx hard-negative recall $recall")
  }

  test("semanticDecontaminate drops exactly the eval-similar rows") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.99, 0.1, 0.0)), // near eval A
      (3L, Seq(0.0, 1.0, 0.0)),                            // IS eval B
      (4L, Seq(0.0, 0.0, 1.0)), (5L, Seq(0.5, 0.5, 0.7)))  // clean
      .toDF("doc_id", "vec")
    val eval = Seq((100L, Seq(1.0, 0.0, 0.0)), (101L, Seq(0.0, 1.0, 0.0)))
      .toDF("eval_id", "evec")
    val kept = Dedup.semanticDecontaminate(corpus, "doc_id", "vec",
      eval, "evec", threshold = 0.95)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(4L, 5L))
    // high threshold keeps the near-miss, still drops the exact copy
    val strict = Dedup.semanticDecontaminate(corpus, "doc_id", "vec",
      eval, "evec", threshold = 0.9999)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict === Set(2L, 4L, 5L))
    intercept[IllegalArgumentException] {
      Dedup.semanticDecontaminate(corpus, "doc_id", "vec", eval, "evec", 1.5)
    }
  }

  test("annJoin: every left row enriched, high recall, no broadcast of either side") {
    val brute = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val joined = Similarity.annJoin(emb, emb, "vec_id", "embedding", k = 5,
      nTables = 16, nBits = 8, probes = 2, excludeSameId = true)
    val got = joined.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every left row got k neighbors (bucket collisions guarantee
    // candidates at these parameters on 500 rows)
    assert(joined.select("query_id").distinct().count() === emb.count())
    val recall = got.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall too low")
    // schema matches the rest of the top-k family
    assert(joined.columns.toSeq === Seq("query_id", "rank", "neighbor_id", "cosine"))
    // design-level: WE only hint-broadcast the tiny oversized-bucket
    // list — neither data side carries a broadcast hint (AQE may still
    // broadcast small test inputs at runtime; at scale it won't)
    val hints = joined.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.length <= 1, "only the bucket-cap list may be hinted")
    intercept[IllegalArgumentException] {
      Similarity.annJoin(emb, emb, "vec_id", "embedding", k = 0)
    }
  }

  test("ivfCosinePairs precision exact; recall high with probing") {
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.trainIvfCentroids(emb, "embedding", k = 8,
      iterations = 2, sampleSize = 1000)
    val ivf = Similarity.ivfCosinePairs(emb, "vec_id", "embedding", 0.3,
      cents, nProbe = 4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(ivf.subsetOf(exact)) // cosine-verified: no false positives
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low")
  }

  test("lshCosinePairs multi-probe recall vs exact pairs") {
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshCosinePairs(emb, "vec_id", "embedding", 0.3,
      nTables = 16, nBits = 8, probes = 1)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // precision is exact by construction (cosine-verified); recall ≥ 0.9
    assert(lsh.subsetOf(exact) || lsh.diff(exact).isEmpty)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall too low")
  }

  test("native shingle_hashes matches the declarative formulation exactly") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b", "a b c", "  leading and trailing  ", "", " ", "one",
      "tab\tseparated\ttokens right here", "line\nbreaks\nin the text",
      "multi   space   runs collapse here", "ünïcode tökens ünïcode tökens ünïcode",
      "a a a a a a", "\tstarts with tab then words follow",
      "ends with trailing tab\t", "a  b\t c \n d", null)
    val d = df(texts.zipWithIndex.map { case (t, i) => Seq(i.toLong, t) },
      "id:long,t:str")
    for (k <- Seq(1, 2, 3, 5)) {
      val native = d.select(col("id"), Dedup.shingleHashes(col("t"), k).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val decl = d.select(col("id"), Dedup.shingleHashesDeclarative(col("t"), k).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      // identical values AND order (first-occurrence distinct) per row
      assert(native === decl, s"k=$k shingle mismatch")
    }
    // blank/whitespace-only text yields EMPTY for every k — at k=1 a naive
    // split would hash the bogus empty-string token and pair all blank
    // docs as jaccard-1.0 duplicates
    val blanks = df(Seq(Seq(1L, ""), Seq(2L, " "), Seq(3L, "\t\n"), Seq(4L, null)),
      "id:long,t:str")
    val got = blanks.select(col("id"), Dedup.shingleHashes(col("t"), 1).as("sh"))
      .collect().map(r => r.getSeq[Long](1))
    assert(got.forall(_.isEmpty))
  }

  test("minhashSignatures memoizes per (plan, params) within the session") {
    Dedup.clearSignatureCache()
    val docsCached = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = Dedup.minhashSignatures(docsCached, "doc_id", "text")
    val b = Dedup.minhashSignatures(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "doc_id", "text")
    assert(a eq b, "same input plan + params must return the cached frame")
    val c = Dedup.minhashSignatures(docsCached, "doc_id", "text", numHashes = 64)
    assert(!(a eq c), "different params must not share the cache entry")
    Dedup.clearSignatureCache()
  }

  test("stratified sampling and rebalance proportions") {
    import graft.functions.Sampling
    val d = df((1 to 300).map(i =>
      Seq(i.toLong, if (i <= 200) "en" else "de")), "id:long,lang:str")
    val s1 = Sampling.stratified(d, "lang", Map("en" -> 0.5, "de" -> 1.0), seed = 7L)
    val s2 = Sampling.stratified(d, "lang", Map("en" -> 0.5, "de" -> 1.0), seed = 7L)
    assert(s1.collect().map(_.getLong(0)).toSet ===
      s2.collect().map(_.getLong(0)).toSet) // deterministic per seed
    assert(s1.filter(col("lang") === "de").count() === 100) // fraction 1.0 keeps all
    // rebalance to 50/50: limited by de (100 rows) → ~100 en + 100 de
    val r = Sampling.rebalance(d, "lang", Map("en" -> 1.0, "de" -> 1.0), seed = 7L)
    val en = r.filter(col("lang") === "en").count().toDouble
    val de = r.filter(col("lang") === "de").count().toDouble
    assert(de === 100.0)
    assert(math.abs(en - 100) < 30, s"en=$en should be near 100") // Bernoulli variance
    intercept[IllegalArgumentException](
      Sampling.rebalance(d, "lang", Map("fr" -> 1.0)))
  }

  test("packByTokenBudget: approximate binning at budget multiples of the cumsum") {
    import graft.functions.TextFunctions
    val d = df(Seq(Seq(1L, 600), Seq(2L, 500), Seq(3L, 1500), Seq(4L, 100)),
      "doc_id:long,n_tokens:int")
    val got = TextFunctions.packByTokenBudget(d, "n_tokens", 1000, "doc_id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    // cumsum-before: 0, 600, 1100, 2600 → shards 0, 0, 1, 2 (shard 0 holds
    // 1100 > budget — the documented approximate-binning tradeoff)
    assert(got.toSeq === Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L)))
  }

  test("packGreedyPerPartition: strict caps, oversized doc isolated") {
    import graft.functions.TextFunctions
    val d = df(Seq(Seq(1L, 600), Seq(2L, 500), Seq(3L, 1500), Seq(4L, 100),
      Seq(5L, 300)), "doc_id:long,n_tokens:int").coalesce(1)
    val got = TextFunctions.packGreedyPerPartition(d, "n_tokens", "doc_id", 1000)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(2)))
    // greedy: [600], [500], [1500 alone], [100+300]
    assert(got.toSeq === Seq((1L, "0-0"), (2L, "0-1"), (3L, "0-2"),
      (4L, "0-3"), (5L, "0-3")))
    // strict invariant: every multi-doc shard sums ≤ budget
    val sums = got.map(_._2).distinct.map { sh =>
      val docs = got.filter(_._2 == sh).map(_._1)
      sh -> docs.map(id => Map(1L -> 600, 2L -> 500, 3L -> 1500, 4L -> 100, 5L -> 300)(id)).sum
    }
    sums.foreach { case (sh, sum) =>
      assert(sum <= 1000 || got.count(_._2 == sh) == 1, s"shard $sh overflows: $sum")
    }
  }

  test("parameter guards: minhash bands, simhash hamming, lsh nBits, fingerprint type") {
    val d = df(Seq(Seq(1L, "a b c d e")), "doc_id:long,text:str")
    intercept[IllegalArgumentException](
      Dedup.minhashNearDupPairs(d, "doc_id", "text", numHashes = 128, bands = 256))
    intercept[IllegalArgumentException](
      Dedup.minhashNearDupPairs(d, "doc_id", "text", numHashes = 128, bands = 12))
    intercept[IllegalArgumentException](
      Dedup.simhashNearDupPairs(d, "doc_id", "text", maxHamming = 64))
    intercept[IllegalArgumentException](
      graft.functions.expressions.VectorExpressions
        .hyperplaneKeys(col("x"), 8, 2, 33, 42L))
    // simhash recall holds at maxHamming 5 (band count follows the radius)
    val near = df(Seq(
      Seq(1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      Seq(2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")), "doc_id:long,text:str")
    assert(Dedup.simhashNearDupPairs(near, "doc_id", "text", maxHamming = 5)
      .count() === 1)
    // binary input to fingerprint fails analysis, not silently hashes toString
    intercept[Exception] {
      df(Seq(Seq("x")), "s:str")
        .select(TextFunctions.fingerprint(encode(col("s"), "UTF-8"))).collect()
    }
    // minhash signature of a blank doc is null (nullable contract), no crash
    val sig = df(Seq(Seq("\t"), Seq("a b c")), "t:str")
      .select(Dedup.minhashSignature(16)(Dedup.shingleHashes(col("t"), 1)).as("sig"))
      .collect()
    assert(sig.count(_.isNullAt(0)) === 1)
  }

  test("blank-document guard covers all whitespace (tabs/newlines)") {
    val d = df(Seq(Seq(1L, "\t\n\t"), Seq(2L, "a b c d")), "doc_id:long,text:str")
    val counts = d.select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(counts(1L) === 0) // was 2 boundary-empty tokens before the fix
    val rep = d.select(col("doc_id"),
      TextFunctions.repetitionRatio(col("text"), 2).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rep(1L) === 0.0) // blank doc is NOT "maximally repetitive"
    assert(TextFunctions.chunkByTokens(d, "doc_id", "text", 2)
      .filter(col("doc_id") === 1L).count() === 0)
  }

  test("tokenCount edge cases") {
    val d = df(Seq(Seq("a b  c"), Seq(""), Seq("   "), Seq("one")), "t:str")
    val got = d.select(TextFunctions.tokenCount(col("t"))).collect().map(_.getInt(0))
    assert(got.toSeq === Seq(3, 0, 0, 1))
  }

  test("quality metrics and langid are deterministic and sane") {
    val d = df(Seq(Seq("The cat and the dog, in 2 houses!")), "t:str")
    val m = TextFunctions.qualityMetrics(col("t")).toMap
    val row = d.select(m("n_tokens"), m("n_punct"), m("n_digits"), m("n_stopwords")).head()
    assert(row.getInt(0) === 8)
    assert(row.getInt(1) === 2) // comma + bang
    assert(row.getInt(2) === 1)
    assert(row.getInt(3) === 4) // the, and, the, in
    val lang = df(Seq(
      Seq("the cat is in the house and it was good"),
      Seq("el perro y la casa de los gatos"),
      Seq("der hund und die katze ist nicht hier"),
      Seq("le chat est dans la maison pour les chiens")), "t:str")
      .select(TextFunctions.langId(col("t"))).collect().map(_.getString(0))
    assert(lang.toSeq === Seq("en", "es", "de", "fr"))
  }

  test("fingerprint is whitespace-robust") {
    val d = df(Seq(Seq("hello  world"), Seq("hello world"), Seq("hello mars")), "t:str")
    val fp = d.select(TextFunctions.fingerprint(col("t"))).collect().map(_.getLong(0))
    assert(fp(0) === fp(1))
    assert(fp(0) !== fp(2))
  }

  test("fingerprint normalization is locale-independent and Unicode-whitespace-aware (pinned)") {
    import graft.functions.expressions.Fingerprint64
    // Unicode LINE SEPARATOR (U+2028) and NBSP-family whitespace collapse
    // like ASCII spaces (Character.isWhitespace semantics)
    assert(Fingerprint64.hash("a b") === Fingerprint64.hash("a b"))
    assert(Fingerprint64.hash("a  \t b") === Fingerprint64.hash("a b"))
    // per-char lowercase is locale-independent: dotted capital I (U+0130)
    // maps through Character.toLowerCase regardless of default locale
    assert(Fingerprint64.hash("İ") ===
      Fingerprint64.hash(Character.toLowerCase('İ').toString))
    // pin exact values so any future normalization change is caught
    assert(Fingerprint64.hash("hello world") === Fingerprint64.hash("HELLO WORLD"))
    assert(Fingerprint64.hash("  hello  ") === Fingerprint64.hash("hello"))
  }

  test("redactPii scrubs emails, cards, SSNs, phones and IPs") {
    val d = df(Seq(
      Seq(1L, "write to alice.smith+dev@corp.example.org today"),
      Seq(2L, "card 4111 1111 1111 1111 expires soon"),
      Seq(3L, "ssn 123-45-6789 phone 555-867-5309 ip 10.0.0.1"),
      Seq(4L, "no pii here, just 42 and 3.14 and v1.2.3.4.5")),
      "id:long,t:str")
    val out = d.select(col("id"), TextFunctions.redactPii(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "write to <EMAIL> today")
    assert(out(2L) === "card <CC> expires soon")
    assert(out(3L) === "ssn <SSN> phone <PHONE> ip <IP>")
    // v1.2.3.4.5: no \b between 'v' and '1', so the match starts at '2'
    // and takes four octet groups — acceptable over-redaction, pinned
    assert(out(4L) === "no pii here, just 42 and 3.14 and v1.<IP>")
    val counts = d.select(
      TextFunctions.piiCounts(col("t")).map { case (n, c) => c.as(n) }: _*)
      .agg(sum(col("n_email")), sum(col("n_cc")), sum(col("n_ssn")),
        sum(col("n_phone")), sum(col("n_ip"))).collect()(0)
    assert((0 to 2).map(counts.getLong) === Seq(1L, 1L, 1L))
  }

  test("chunkByTokens: overlapping windows, short docs, blank docs") {
    val d = df(Seq(
      Seq(1L, "a b c d e f g"), // 7 tokens
      Seq(2L, "x y"),           // shorter than one chunk
      Seq(3L, "   ")),          // blank: no chunks
      "id:long,t:str")
    val out = TextFunctions.chunkByTokens(d, "id", "t", chunkTokens = 3,
      overlapTokens = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(r => (r._1, r._2))
    // stride 2: chunks at tokens 1-3, 3-5, 5-7
    assert(out === Seq(
      (1L, 0, "a b c", 3), (1L, 1, "c d e", 3), (1L, 2, "e f g", 3),
      (2L, 0, "x y", 2)))
    // zero overlap: disjoint cover
    val noOv = TextFunctions.chunkByTokens(d.filter(col("id") === 1), "id", "t",
      chunkTokens = 3).collect().map(_.getString(2)).sorted
    assert(noOv === Seq("a b c", "d e f", "g"))
  }

  test("deterministicShuffle is a reproducible permutation decorrelated from id order") {
    import graft.functions.Sampling
    val d = df((1 to 500).map(i => Seq(i.toLong)), "id:long")
    val a = Sampling.deterministicShuffle(d, Seq("id"), seed = 7L)
      .collect().map(_.getLong(0))
    val b = Sampling.deterministicShuffle(d, Seq("id"), seed = 7L)
      .collect().map(_.getLong(0))
    assert(a.toSeq === b.toSeq, "same seed must reproduce the exact order")
    assert(a.sorted.toSeq === (1L to 500L), "must be a permutation")
    assert(a.toSeq !== (1L to 500L), "must not be the identity order")
    val c = Sampling.deterministicShuffle(d, Seq("id"), seed = 8L)
      .collect().map(_.getLong(0))
    assert(a.toSeq !== c.toSeq, "different seed must give a different order")
  }

  test("simhash near-dup excludes featureless (blank/short/null) docs") {
    val d = df(Seq(
      Seq(1L, "the quick brown fox jumps over the lazy dog today"),
      Seq(2L, "the quick brown fox jumps over the lazy dog today"),
      Seq(3L, ""), Seq(4L, "  "), Seq(5L, "one two"), Seq(6L, null)),
      "doc_id:long,text:str")
    val pairs = Dedup.simhashNearDupPairs(d, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // featureless docs 3/4/5/6 all hash to sig=0 — they must NOT pairwise
    // report as hamming-0 "near-duplicates" (zero signal)
    assert(pairs.forall { case (a, b) => a <= 2 && b <= 2 },
      s"featureless docs leaked into pairs: $pairs")
    assert(pairs === Set((1L, 2L)))
  }

  test("unigramCrossEntropy matches driver-side brute force") {
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tokensByDoc = texts.map { case (id, t0) =>
      id -> t0.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    }.filter(_._2.nonEmpty)
    val counts = tokensByDoc.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size }
    val n = counts.values.map(_.toLong).sum.toDouble
    val want = tokensByDoc.map { case (id, ts) =>
      id -> (ts.size.toLong,
        -ts.map(t0 => math.log(counts(t0)) - math.log(n)).sum / ts.size)
    }.toMap
    val got = TextFunctions.unigramCrossEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (id, (nt, ce)) =>
      assert(nt === want(id)._1, s"token count for doc $id")
      assert(math.abs(ce - want(id)._2) < 1e-6, s"cross-entropy for doc $id")
    }
    // sanity: a gibberish doc scores higher than a modal doc
    assert(got.values.map(_._2).max > got.values.map(_._2).min)
  }

  test("projectedTopK: exact when shortlist covers corpus; deterministic") {
    val q = emb.filter(col("vec_id") < 5)
    // overFetch ≥ corpus size ⇒ the shortlist is the whole corpus and the
    // exact rescore must reproduce brute force EXACTLY
    val n = emb.count().toInt
    val full = Similarity.projectedTopK(emb, q, "vec_id", "embedding",
      k = 3, projDim = 8, overFetch = n)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3)
    assert(graft.api.DfUtils.dfEq(full, brute))
    // deterministic for a fixed seed even with a tight shortlist
    val a = Similarity.projectedTopK(emb, q, "vec_id", "embedding",
      k = 3, projDim = 8, overFetch = 2, seed = 7L)
    val b = Similarity.projectedTopK(emb, q, "vec_id", "embedding",
      k = 3, projDim = 8, overFetch = 2, seed = 7L)
    assert(graft.api.DfUtils.dfEq(a, b))
    // rescored scores are true cosines: every (query, neighbor, cosine) of
    // the approximate result appears with the same cosine in a full-k
    // brute-force run
    val bruteAll = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = n)
      .select("query_id", "neighbor_id", "cosine")
    assert(a.select("query_id", "neighbor_id", "cosine")
      .join(bruteAll, Seq("query_id", "neighbor_id", "cosine"), "left_anti").isEmpty)
    // invalid projection dims rejected
    intercept[IllegalArgumentException] {
      graft.functions.expressions.RandomProject(null, 65, 1L)
    }
    intercept[IllegalArgumentException] {
      graft.functions.expressions.RandomProject(null, 0, 1L)
    }
  }

  test("splitByGroup: atomic per group, stable under new rows, exact bounds") {
    import graft.functions.Sampling
    val d = df((1 to 200).map(i => Seq(i.toLong, (i % 37).toLong)), "id:long,g:long")
    val w = Seq("train" -> 0.7, "test" -> 0.3)
    val out = Sampling.splitByGroup(d, "g", w, seed = 11L)
    // every group maps to exactly one split
    val perGroup = out.groupBy("g").agg(countDistinct(col("split")).as("n"))
      .collect()
    assert(perGroup.forall(_.getLong(1) == 1L))
    // split names are exactly the declared ones and cover all rows
    assert(out.filter(!col("split").isin("train", "test")).isEmpty)
    assert(out.count() === 200L)
    // adding rows in NEW groups never moves existing groups
    val d2 = df((1 to 260).map(i => Seq(i.toLong, (i % 53).toLong)), "id:long,g:long")
    val a1 = out.select("g", "split").distinct()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a2 = Sampling.splitByGroup(d2, "g", w, seed = 11L)
      .select("g", "split").distinct()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    a1.keys.filter(_ < 37).foreach(g => assert(a1(g) === a2(g), s"group $g moved"))
    // a different seed produces a different assignment somewhere
    val a3 = Sampling.splitByGroup(d, "g", Seq("train" -> 0.5, "test" -> 0.5),
      seed = 99L).select("g", "split").distinct()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a1 != a3)
    // degenerate weights rejected
    intercept[IllegalArgumentException] {
      Sampling.splitByGroup(d, "g", Seq("a" -> 0.5, "a" -> 0.5))
    }
    intercept[IllegalArgumentException] {
      Sampling.splitByGroup(d, "g", Seq("a" -> -1.0))
    }
  }

  test("editDistanceJoin is exact vs brute force (d=1 and d=2)") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // handcrafted: substitution, insertion, deletion, transposition (=2),
    // empty strings, exact duplicates
    val rows = Seq(
      (1L, "kitten"), (2L, "sitten"), (3L, "kittens"), (4L, "kitte"),
      (5L, "ktiten"), (6L, "kitten"), (7L, ""), (8L, "a"), (9L, ""))
    val d = df(rows.map(r => Seq(r._1, r._2)), "id:long,s:str")
    for (dist <- 0 to 2) {
      val want = (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia < ib && lev(sa, sb) <= dist
      } yield (ia, ib, lev(sa, sb))).toSet
      val got = Dedup.editDistanceJoin(d, "id", "s", dist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === want, s"maxDist=$dist")
    }
    // real names: sf0.001 customers vs driver-side brute force at d=1
    val names = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select("c_custkey", "c_name")
    val local = names.collect().map(r => r.getLong(0) -> r.getString(1))
    val want1 = (for {
      (ia, sa) <- local; (ib, sb) <- local
      if ia < ib && lev(sa, sb) <= 1
    } yield (ia, ib)).toSet
    val got1 = Dedup.editDistanceJoin(names, "c_custkey", "c_name", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got1 === want1)
    assert(want1.nonEmpty) // the test is vacuous if no near pairs exist
  }

  test("tfidfKeywords matches driver-side brute force") {
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tokensByDoc = texts.map { case (id, t0) =>
      id -> t0.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    }.filter(_._2.nonEmpty).toMap
    val docFreq = tokensByDoc.values.flatMap(_.distinct)
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val nDocs = tokensByDoc.size
    val want = tokensByDoc.map { case (id, ts) =>
      val tf = ts.groupBy(identity).map { case (k, v) => k -> v.size }
      val scored = tf.toSeq.map { case (tok, f) =>
        (tok, f, (math.log((nDocs + 1.0) / (docFreq(tok) + 1.0)) + 1.0) * f)
      }.sortBy { case (tok, _, sc) => (-sc, tok) }.take(3)
      id -> scored.zipWithIndex.map { case ((tok, f, sc), i) =>
        (i + 1, tok, f.toLong, sc) }
    }
    val got = TextFunctions.tfidfKeywords(docs, "doc_id", "text", topK = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .groupBy(_._1)
    assert(got.keySet === want.keySet)
    want.foreach { case (id, exp) =>
      val g = got(id).sortBy(_._2).map(x => (x._2, x._3, x._4, x._5))
      assert(g.length === exp.length, s"keyword count for doc $id")
      g.zip(exp).foreach { case ((gr, gt, gf, gs), (er, et, ef, es)) =>
        assert(gr === er && gt === et && gf === ef, s"keyword row for doc $id")
        assert(math.abs(gs - es) < 1e-9, s"score for doc $id token $gt")
      }
    }
  }

  test("buildVocab ranks by frequency with token tie-break") {
    val d = df(Seq(
      Seq(1L, "b b b a a c"),
      Seq(2L, "a a d c"),
      Seq(3L, "")),
      "id:long,t:str")
    // counts: a=4, b=3, c=2, d=1
    val out = TextFunctions.buildVocab(d, "t", size = 3, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out === Seq(("a", 4L, 1), ("b", 3L, 2), ("c", 2L, 3)))
    // ties break on the token string ascending
    val tied = df(Seq(Seq(1L, "z y z y")), "id:long,t:str")
    val out2 = TextFunctions.buildVocab(tied, "t", size = 10)
      .collect().map(r => (r.getString(0), r.getInt(2))).toSeq
    assert(out2 === Seq(("y", 1), ("z", 2)))
  }

  test("repetitionRatio measures duplicate k-gram fraction") {
    val d = df(Seq(
      Seq(1L, "a b c a b c a b c a b"),  // highly repetitive
      Seq(2L, "one two three four five"), // all distinct
      Seq(3L, "x y"),                     // shorter than k
      Seq(4L, "")),                       // blank
      "id:long,t:str")
    val out = d.select(col("id"),
      TextFunctions.repetitionRatio(col("t"), 3).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 1: 9 total 3-grams, distinct {abc, bca, cab, bcb?}: tokens
    // a b c a b c a b c a b → windows: abc bca cab abc bca cab abc bca cab
    // wait: 11 tokens → 9 windows, distinct = {abc, bca, cab} = 3 → 1-3/9
    assert(math.abs(out(1L) - (1.0 - 3.0 / 9.0)) < 1e-12)
    assert(out(2L) === 0.0)
    assert(out(3L) === 0.0)
    assert(out(4L) === 0.0)
  }

  test("contaminationScores and decontaminate flag eval-set overlap") {
    val corpus = df(Seq(
      Seq(1L, "the quick brown fox jumps over the lazy dog"),
      Seq(2L, "a completely different document with other words entirely"),
      Seq(3L, "the quick brown fox jumps somewhere else today ok")),
      "doc_id:long,text:str")
    val evalSet = df(Seq(
      Seq(100L, "the quick brown fox jumps over a fence")),
      "doc_id:long,text:str")
    val scores = Dedup.contaminationScores(corpus, "doc_id", "text",
      evalSet, "text", shingleK = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scores(1L) > 0.3, s"doc 1 shares a long prefix: ${scores(1L)}")
    assert(scores(2L) === 0.0)
    assert(scores(3L) > 0.0 && scores(3L) < scores(1L))
    val kept = Dedup.decontaminate(corpus, "doc_id", "text", evalSet, "text",
      shingleK = 5, threshold = 0.3)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(2L, 3L))
  }

  test("multimodal real decode: ImageIO reads synthetic PNG dims and channels") {
    val png = Multimodal.syntheticPng(23, 9, seed = 42L)
    assert(Multimodal.decodeImage(png) ===
      ((23, 9, 3, Multimodal.fnv1a(png))))
    // the distributed path reports the same real metadata
    val d = df(Seq(Seq(7L)), "doc_id:long")
    val pngs = Multimodal.syntheticImages(d, "doc_id")
    val meta = Multimodal.decodeImages(pngs, "doc_id", "payload").collect().head
    assert((meta.getInt(2), meta.getInt(3), meta.getInt(4)) ===
      (((8 + 7 % 57), (8 + 7 % 31), 3)))
    // non-image payloads take the disclosed fallback, not an error
    val junk = "definitely not a png".getBytes("UTF-8")
    assert(Multimodal.decodeImage(junk) === Multimodal.decodeImageStub(junk))
  }

  test("imageDHash: deterministic, noise-stable, pattern-separating") {
    import javax.imageio.ImageIO
    import java.io.ByteArrayInputStream
    def hashOf(b: Array[Byte]): Long =
      Multimodal.dHash64(ImageIO.read(new ByteArrayInputStream(b)))
    val base = Multimodal.syntheticStructuredPng(90, 80, patternSeed = 1L)
    // pure function of the pixels
    assert(hashOf(base) === hashOf(
      Multimodal.syntheticStructuredPng(90, 80, patternSeed = 1L)))
    // a few noise pixels barely move 100-pixel cell means
    val noisy = Multimodal.syntheticStructuredPng(90, 80, patternSeed = 1L,
      noiseSeed = 7L, noisePixels = 5)
    assert(java.lang.Long.bitCount(hashOf(base) ^ hashOf(noisy)) <= 6)
    // an independent pattern flips about half the gradient signs
    val other = Multimodal.syntheticStructuredPng(90, 80, patternSeed = 2L)
    assert(java.lang.Long.bitCount(hashOf(base) ^ hashOf(other)) >= 16)
    // idCol colliding with an output column fails loudly, not downstream
    intercept[IllegalArgumentException] {
      Multimodal.imageDHash(df(Seq(Seq(1L, Array.empty[Byte])),
        "dhash:long,payload:binary"), "dhash", "payload")
    }
  }

  test("audioNearDupPairs: gain-invariant fingerprints group variants, junk excluded") {
    // 3 envelope groups x 3 members (different gains/jitter) + junk + silence
    val ids = df((1L to 9L).map(Seq(_)), "doc_id:long")
    val wavs = Multimodal.syntheticEnvelopeWavs(ids, "doc_id", nGroups = 3)
      .unionAll(df(Seq(
        Seq(10L, "not audio at all".getBytes("UTF-8")),
        Seq(11L, Multimodal.wavFromPcm16(new Array[Short](2600)))), // silence
        "doc_id:long,payload:binary"))
    val fps = Multimodal.audioFingerprint(wavs, "doc_id", "payload")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(fps(10L) === None, "undecodable payload must not hash")
    assert(fps(11L) === Some(0L), "silence is the degenerate class")
    val pairs = Multimodal.audioNearDupPairs(wavs, "doc_id", "payload",
      maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (1L to 9L).flatMap(a => (a + 1 to 9L)
      .filter(b => a % 3 == b % 3).map(b => (a, b))).toSet
    assert(pairs === expected)
    // pure gain change leaves the fingerprint bit-identical
    val base = Multimodal.syntheticEnvelopeWavs(df(Seq(Seq(1L)), "doc_id:long"),
      "doc_id", nGroups = 1).collect().head.getAs[Array[Byte]](1)
    val samples = Multimodal.decodePcm16(base).get
    val scaled = samples.map(s => (s * 0.5).toInt.toShort)
    assert(Multimodal.audioFingerprint64(samples) ===
      Multimodal.audioFingerprint64(scaled))
    intercept[IllegalArgumentException] {
      Multimodal.audioFingerprint(wavs.withColumnRenamed("doc_id", "afp"),
        "afp", "payload")
    }
  }

  test("imageNearDupPairs finds variant groups, excludes undecodables") {
    // two unrelated flat images: both dHash to 0 (zero gradient) and must
    // NOT report as near-dups — degenerate signatures are excluded
    def flatPng(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        20, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 16).foreach(y => (0 until 20).foreach(x => img.setRGB(x, y, rgb)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // ids 1..8 over 4 patterns (id % 4) -> 4 groups of 2; id 9 junk bytes
    val rows = (1L to 8L).map(i => Seq(i,
      Multimodal.syntheticStructuredPng(90, 80, patternSeed = i % 4,
        noiseSeed = i, noisePixels = 4))) :+
      Seq(9L, "not an image".getBytes("UTF-8")) :+
      Seq(10L, flatPng(0xffffff)) :+ Seq(11L, flatPng(0x000000))
    val d = df(rows, "doc_id:long,payload:binary")
    val hs = Multimodal.imageDHash(d, "doc_id", "payload")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(hs(9L) === None)
    val pairs = Multimodal.imageNearDupPairs(d, "doc_id", "payload",
        maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (1L to 8L).flatMap(a => (a + 1 to 8L)
      .filter(b => a % 4 == b % 4).map(b => (a, b))).toSet
    assert(pairs === expected)
    // distributed result agrees with a driver brute force over the hashes
    // (zero signatures excluded, mirroring the operator's degenerate guard)
    assert(hs(10L) === Some(0L) && hs(11L) === Some(0L))
    val flat = hs.collect { case (k, Some(v)) if v != 0L => k -> v }.toSeq
    val brute = (for {
      (a, ha) <- flat; (b, hb) <- flat if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 10
    } yield (a, b)).toSet
    assert(pairs === brute)
  }

  test("multimodal real resize: roundtrip decode reports the target dims") {
    val d = df(Seq(Seq(1L), Seq(2L)), "doc_id:long")
    val pngs = Multimodal.syntheticImages(d, "doc_id")
    val out = Multimodal.resizeImages(pngs, "doc_id", "payload", 5, 4)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](3)))
    out.foreach { case (_, payload) =>
      val (w, h, c, _) = Multimodal.decodeImage(payload)
      assert((w, h, c) === ((5, 4, 3)))
    }
    // deterministic across invocations
    val again = Multimodal.resizeImages(pngs, "doc_id", "payload", 5, 4)
      .collect().map(r => r.getAs[Array[Byte]](3).toSeq).toSet
    assert(again === out.map(_._2.toSeq).toSet)
  }

  test("multimodal features: image path pools real pixels, unit-norm") {
    val d = df(Seq(Seq(3L)), "doc_id:long")
    val pngs = Multimodal.syntheticImages(d, "doc_id")
    val v = Multimodal.extractFeatures(pngs, "doc_id", "payload", dim = 16)
      .collect().head.getSeq[Float](1)
    assert(v.length === 16)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    // a recognized image and its byte stream must NOT featurize alike:
    // the image path reads pixels, the fallback hashes container bytes
    val junkDf = df(Seq(Seq(3L, "plain text payload")), "doc_id:long,t:str")
      .select(col("doc_id"), encode(col("t"), "UTF-8").as("payload"))
    val vj = Multimodal.extractFeatures(junkDf, "doc_id", "payload", dim = 16)
      .collect().head.getSeq[Float](1)
    assert(vj.length === 16)
    assert(v !== vj)
  }

  test("multimodal real audio decode: WAV header fields; junk falls back") {
    val wav = Multimodal.syntheticWav(16000, 2, 120, seed = 5L)
    val (rate, ch, bits, frames, sum) = Multimodal.decodeAudio(wav)
    assert((rate, ch, bits, frames) === ((16000, 2, 16, 120L)))
    assert(sum === Multimodal.fnv1a(wav))
    // distributed pass reports the same real metadata
    val d = df(Seq(Seq(3L)), "doc_id:long")
    val meta = Multimodal.decodeAudioBatch(
      Multimodal.syntheticAudio(d, "doc_id"), "doc_id", "payload")
      .collect().head
    assert((meta.getInt(2), meta.getInt(3), meta.getInt(4), meta.getLong(5)) ===
      ((16000, 2, 16, 103L)))
    // non-audio payloads take the deterministic fallback, not an error
    val junk = "not audio at all".getBytes("UTF-8")
    val (r1, c1, b1, f1, s1) = Multimodal.decodeAudio(junk)
    assert((r1, c1, b1, f1, s1) === Multimodal.decodeAudio(junk))
    assert(b1 === 16 && s1 === Multimodal.fnv1a(junk))
  }

  test("equiJoinSize matches the materialized join; nulls never join") {
    val a = df(Seq(Seq(1L, "x"), Seq(1L, "y"), Seq(2L, "z"), Seq(null, "n")),
      "k:long,v:str")
    val b = df(Seq(Seq(1L, "p"), Seq(1L, "q"), Seq(3L, "r"), Seq(null, "m")),
      "k:long,v:str")
    assert(graft.api.DfUtils.equiJoinSize(a, b, Seq("k")) ===
      a.join(b, "k").count())
    assert(graft.api.DfUtils.equiJoinSize(a, b, Seq("k")) === 4L)
    // disjoint keys → 0 (the coalesce guard, not a null)
    assert(graft.api.DfUtils.equiJoinSize(a, b, Seq("v")) === 0L)
  }

  test("weightedTake: E-S sample is deterministic, sized, weight-biased") {
    val rows = (0 until 300).map { i =>
      Seq(i.toLong, if (i % 3 == 0) "a" else "b",
        if (i % 10 == 0) 500.0 else 1.0)
    }
    val d = df(rows, "id:long,k:str,w:double")
    val s1 = graft.functions.Sampling.weightedTake(
      d, Seq("k"), Seq("id"), "w", n = 15, seed = 3L)
    val s2 = graft.functions.Sampling.weightedTake(
      d, Seq("k"), Seq("id"), "w", n = 15, seed = 3L)
    assert(s1.collect().map(_.getLong(0)).sorted.toSeq ===
      s2.collect().map(_.getLong(0)).sorted.toSeq)
    assert(s1.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("a" -> 15L, "b" -> 15L))
    // heavy rows (weight 500, 10% of corpus) dominate the sample
    val heavy = s1.filter(col("w") === 500.0).count()
    assert(heavy >= 15, s"expected most heavy rows sampled, got $heavy")
    // global path: sort-limit, no per-key window
    val g = graft.functions.Sampling.weightedTake(
      d, Seq.empty, Seq("id"), "w", n = 10, seed = 3L)
    assert(g.count() === 10L)
    // zero/null weights are never sampled
    val dz = df(Seq(Seq(1L, 0.0), Seq(2L, 5.0)), "id:long,w:double")
    assert(graft.functions.Sampling.weightedTake(
      dz, Seq.empty, Seq("id"), "w", n = 5).collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("zorder clustering preserves content and localizes both dimensions") {
    // 4096 uniform 2D points in arrival-scrambled order
    val rows = (0 until 4096).map { i =>
      Seq(i.toLong, (i * 48271L) % 4096, ((i * 16807L) % 4096).toDouble)
    }
    val d = df(rows, "id:long,x:long,y:double")
    val z = graft.operators.Layout.zorderBy(d, Seq("x", "y"),
      bits = 6, numPartitions = Some(16))
    // content-preserving: same ids, same value sums
    assert(z.count() === 4096L)
    assert(z.agg(sum(col("id")), sum(col("x")), sum(col("y"))).collect().head ===
      d.agg(sum(col("id")), sum(col("x")), sum(col("y"))).collect().head)
    // locality: a 16-partition z-range split tiles the 2D space ~4x4, so
    // the mean per-partition span of EACH dimension must sit well under
    // the global span (a random placement would span nearly all of it)
    val spans = z.withColumn("p", spark_partition_id())
      .groupBy("p")
      .agg((max(col("x")) - min(col("x"))).cast("double").as("sx"),
        (max(col("y")) - min(col("y"))).as("sy"))
      .agg(avg(col("sx")), avg(col("sy"))).collect().head
    assert(spans.getDouble(0) < 4096 * 0.6, s"x span ${spans.getDouble(0)}")
    assert(spans.getDouble(1) < 4096 * 0.6, s"y span ${spans.getDouble(1)}")
    // hazards raise loudly instead of silently destroying the layout:
    // an Int-overflowing bits used to produce a constant z (one partition)
    intercept[IllegalArgumentException] {
      graft.operators.Layout.zorderBy(d, Seq("x"), bits = 31)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Layout.zorderBy(
        d.withColumnRenamed("id", "__zorder"), Seq("x", "y"))
    }
  }

  test("sketches: HLL merge is associative and tracks exact") {
    val rows = (1 to 500).map(i => Seq(i.toLong, (i % 37).toLong))
    val d = df(rows, "id:long,u:long")
      .select(col("id"), col("u"), pmod(col("id"), lit(4)).as("shard"),
        lit("k").as("g"))
    val partials = graft.functions.Sketches.hllPartial(d, Seq("g", "shard"), "u")
    val flat = graft.functions.Sketches.hllMergeEstimate(partials, Seq("g"))
      .collect().head.getLong(1)
    // hierarchical rollup (shard pairs, then corpus) must agree exactly —
    // union is associative; byte-equality vs a DIRECT whole-table sketch
    // is deliberately not asserted (sparse->dense promotion paths differ
    // past the coupon threshold; observed at sf0.1)
    val hier = graft.functions.Sketches.hllMergeEstimate(
      graft.functions.Sketches.hllMergePartial(
        partials.withColumn("half", pmod(col("shard"), lit(2))),
        Seq("g", "half")), Seq("g"))
      .collect().head.getLong(1)
    assert(flat === hier)
    assert(math.abs(flat - 37L) <= math.ceil(37 * 0.05).toLong)
  }

  test("multimodal PCM sample decode: WAV roundtrip is sample-transparent") {
    val wav = Multimodal.syntheticWav(8000, 1, 64, seed = 9L)
    val decoded = Multimodal.decodePcm16(wav).get
    assert(decoded.length === 64)
    // decoded samples equal the formula bytes reassembled little-endian
    val expected = (0 until 64).map { j =>
      ((Multimodal.syntheticPcmByte(9L, 2 * j) & 0xff) |
        (Multimodal.syntheticPcmByte(9L, 2 * j + 1) << 8)).toShort
    }
    assert(decoded.toSeq === expected)
    // junk payloads yield None (the distributed stage then falls back)
    assert(Multimodal.decodePcm16("not audio".getBytes("UTF-8")).isEmpty)
    // distributed features agree with the direct computation
    val d = df(Seq(Seq(3L)), "doc_id:long")
    val feats = Multimodal.audioFeatures(
      Multimodal.syntheticAudio(d, "doc_id"), "doc_id", "payload")
      .collect().head
    val exp = Multimodal.expectedSyntheticAudioFeatures(d, "doc_id")
      .collect().head
    assert(feats.getInt(1) === exp.getInt(1))
    assert(feats.getDouble(2) === exp.getDouble(2))
    assert(feats.getLong(3) === exp.getLong(3))
    assert(feats.getInt(4) === exp.getInt(4))
  }

  test("multimodal real demux: animated GIF frames by stride; junk falls back") {
    // real encoder → real multi-frame decoder roundtrip: 5 frames, stride 2
    val d = df(Seq(Seq(10L)), "doc_id:long")
      .select(col("doc_id"),
        lit(Multimodal.syntheticGif(12, 9, frames = 5, seed = 10L)).as("p"))
    val out = Multimodal.demuxFrames(d, "doc_id", "p", stride = 2).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).sortBy(_._1)
    assert(out.toSeq === Seq((0, 12, 9), (2, 12, 9), (4, 12, 9)))
    // each demuxed frame is a decodable PNG with the source dims
    val fb = Multimodal.demuxFrames(d, "doc_id", "p", stride = 2).collect()
      .map(_.getAs[Array[Byte]](4))
    fb.foreach { b =>
      val (w, h, _, _) = Multimodal.decodeImage(b)
      assert((w, h) === ((12, 9)))
    }
    // single-frame images demux to exactly frame 0
    val png = df(Seq(Seq(3L)), "doc_id:long")
      .select(col("doc_id"), lit(Multimodal.syntheticPng(7, 5, 3L)).as("p"))
    val one = Multimodal.demuxFrames(png, "doc_id", "p").collect()
    assert(one.length === 1 && one.head.getInt(1) === 0 &&
      (one.head.getInt(2), one.head.getInt(3)) === ((7, 5)))
    // non-media payloads keep flowing through the byte-window fallback
    val junk = df(Seq(Seq(1L, "x" * 5000)), "doc_id:long,t:str")
      .select(col("doc_id"), encode(col("t"), "UTF-8").as("p"))
    val jf = Multimodal.demuxFrames(junk, "doc_id", "p", stride = 2).collect()
    assert(jf.map(_.getInt(1)).toSeq.sorted === Seq(0, 2, 4))
    assert(jf.forall(r => r.getInt(2) === -1 && r.getInt(3) === -1))
  }

  test("multimodal decode stub is deterministic; frame sampling shapes") {
    val d = df(Seq(Seq(1L, "abcdef"), Seq(2L, "")), "doc_id:long,t:str")
      .select(col("doc_id"), encode(col("t"), "UTF-8").as("p"))
    val meta = Multimodal.decodeImages(d, "doc_id", "p").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).sortBy(_._1)
    assert(meta(0) === ((1L, 6, 64 + 6 % 577, 64 + (6 / 7) % 433)))
    assert(meta(1)._2 === 0)
    val frames = Multimodal.sampleFrames(
      df(Seq(Seq(1L, ("x" * 5000))), "doc_id:long,t:str")
        .select(col("doc_id"), encode(col("t"), "UTF-8").as("p")),
      "doc_id", "p", frameSize = 1024, stride = 2).collect()
    assert(frames.map(_.getInt(1)).toSeq.sorted === Seq(0, 2, 4))
  }

  test("multimodal resize stub: byte budget tracks target area, deterministic") {
    val d = df(Seq(Seq(1L, "x" * 4096), Seq(2L, "")), "doc_id:long,t:str")
      .select(col("doc_id"), encode(col("t"), "UTF-8").as("p"))
    val out = Multimodal.resizeImages(d, "doc_id", "p", 32, 32).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getAs[Array[Byte]](3))).sortBy(_._1)
    assert(out.map(o => (o._2, o._3)).toSeq === Seq((32, 32), (32, 32)))
    // source pseudo-dims for n=4096: w=64+4096%577=64+57=121... computed by
    // the same stub — just assert the budget shrank and is area-proportional
    val (srcW, srcH, _, _) = Multimodal.decodeImageStub(("x" * 4096).getBytes)
    val expect = math.max(1L, math.min(4096L,
      math.round(4096 * (32.0 * 32 / (srcW.toLong * srcH))))).toInt
    assert(out(0)._4.length === expect)
    assert(out(1)._4.length === 0)
    // deterministic: same input, same bytes
    val again = Multimodal.resizeImages(d, "doc_id", "p", 32, 32).collect()
      .map(r => r.getAs[Array[Byte]](3).toSeq).toSet
    assert(again === out.map(_._4.toSeq).toSet)
  }

  test("segmentDedup keeps first occurrence corpus-wide, reassembles in order") {
    val d = df(Seq(
      Seq(1L, "a b c d"),     // segs: "a b", "c d"
      Seq(2L, "c d e f"),     // "c d" already owned by doc 1 → drops
      Seq(3L, "x y x y"),     // within-doc repeat → one "x y"
      Seq(4L, "  \t "),       // blank → empty output, 0 segments
      Seq(5L, "a b"),         // fully duplicated → empty text, 1 segment
      Seq(6L, "p q r")),      // odd tail → "p q", "r"
      "doc_id:long,text:str")
    val out = Dedup.segmentDedup(d, "doc_id", "text", segmentTokens = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    assert(out(1L) === (("a b c d", 2, 2L)))
    assert(out(2L) === (("e f", 2, 1L)))
    assert(out(3L) === (("x y", 2, 1L)))
    assert(out(4L) === (("", 0, 0L)))
    assert(out(5L) === (("", 1, 0L)))
    assert(out(6L) === (("p q r", 2, 2L)))
  }

  test("segmentDedup on the corpus: no duplicate segment survives; text shrinks only") {
    val out = Dedup.segmentDedup(docs, "doc_id", "text", segmentTokens = 20)
    // exactly one occurrence of every distinct segment survives
    val totalKept = out.agg(sum(col("n_kept"))).head.getLong(0)
    val distinctSegs = docs
      .filter(length(regexp_replace(col("text"), "\\s", "")) > 0)
      .select(posexplode(transform(
        sequence(lit(0), ceil(size(split(trim(col("text")), "\\s+"))
          .cast("double") / 20).cast("int") - 1),
        j => concat_ws(" ", slice(split(trim(col("text")), "\\s+"),
          j * 20 + 1, lit(20))))).as(Seq("pos", "seg")))
      .select("seg").distinct().count()
    assert(totalKept === distinctSegs)
    // kept never exceeds total segments
    assert(out.filter(col("n_kept") > col("n_segments")).isEmpty)
  }

  test("lineDedup removes corpus-frequent lines, keeps order, blanks exempt") {
    val d = df(Seq(
      Seq(1L, "keep one\nBUY NOW\nunique a"),
      Seq(2L, "BUY NOW\n\nunique b"),
      // trimmed form matches; the within-doc repeat stays (df counts DOCS)
      Seq(3L, "unique c\n  BUY NOW  \nunique c"),
      Seq(4L, "only here")),
      "doc_id:long,text:str")
    val out = Dedup.lineDedup(d, "doc_id", "text", maxDocFrequency = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) === (("keep one\nunique a", 3, 2)))
    assert(out(2L) === (("\nunique b", 3, 2))) // blank line survives
    assert(out(3L) === (("unique c\nunique c", 3, 2)))
    assert(out(4L) === (("only here", 1, 1)))
  }

  test("lineDedup: custom separator, df=1 threshold, frequent-set cap") {
    val d = df(Seq(Seq(1L, "a|x"), Seq(2L, "a|y"), Seq(3L, "a|z")),
      "doc_id:long,text:str")
    val out = Dedup.lineDedup(d, "doc_id", "text",
        maxDocFrequency = 1, lineSep = "|")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "x", 2L -> "y", 3L -> "z"))
    intercept[IllegalArgumentException] {
      Dedup.lineDedup(d, "doc_id", "text", maxDocFrequency = 1,
        lineSep = "|", maxFrequentLines = 0)
    }
  }

  test("bloomLineDedup matches exact lineDedup up to one-sided FP drops") {
    val d = df(Seq(
      Seq(1L, "keep one\nBUY NOW\nunique a"),
      Seq(2L, "BUY NOW\n\nunique b"),
      Seq(3L, "unique c\n  BUY NOW  \nunique c"),
      Seq(4L, "only here")),
      "doc_id:long,text:str")
    // fpp=1e-8 in the fixture so an FP drop is a ~5e-8 non-event, not a
    // recurring CI flake; the fpp=1.5 intercept below still exercises the
    // parameter plumbing
    val out = Dedup.bloomLineDedup(d, "doc_id", "text",
        maxDocFrequency = 2, fpp = 1e-8)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    // the frequent line must always be gone (one-sided: never a false keep)
    out.values.foreach { case (txt, _, _) => assert(!txt.contains("BUY NOW")) }
    assert(out(2L)._1.startsWith("\n"))  // blank line survives
    assert(out(1L) === (("keep one\nunique a", 3, 2)))
    assert(out(4L) === (("only here", 1, 1)))
    // determinism: bit-identical across evaluations
    val again = Dedup.bloomLineDedup(d, "doc_id", "text",
        maxDocFrequency = 2, fpp = 1e-8)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(again === out)
    intercept[IllegalArgumentException] {
      Dedup.bloomLineDedup(d, "doc_id", "text", fpp = 1.5)
    }
  }

  test("duplicateSpanStats: corpus-wide counts, within-doc repeats, short docs") {
    val d = df(Seq(
      Seq(1L, "a b c d"),    // spans "a b c", "b c d"
      Seq(2L, "a b c"),      // "a b c" again → cross-doc dup
      Seq(3L, "x y"),        // shorter than the window → 0 spans
      Seq(4L, " \t "),       // blank → 0 spans
      Seq(5L, "p q p q p")), // "p q p", "q p q", "p q p" → within-doc dup
      "doc_id:long,text:str")
    val out = Dedup.duplicateSpanStats(d, "doc_id", "text", spanTokens = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((2L, 1L, 0.5)))
    assert(out(2L) === ((1L, 1L, 1.0)))
    assert(out(3L) === ((0L, 0L, 0.0)))
    assert(out(4L) === ((0L, 0L, 0.0)))
    assert(out(5L) === ((3L, 2L, 2.0 / 3)))
    intercept[IllegalArgumentException] {
      Dedup.duplicateSpanStats(d, "doc_id", "text", minCount = 1)
    }
  }

  test("ngramRepetitionStats: top gram, tie-break, char fractions") {
    val d = df(Seq(
      Seq(1L, "a b a b a"),  // "a b"×2, "b a"×2 → tie → "a b"; all repeats
      Seq(2L, "x y z"),      // no repeats
      Seq(3L, "w"),          // shorter than n
      Seq(4L, " \t ")),      // blank
      "doc_id:long,text:str")
    val out = TextFunctions.ngramRepetitionStats(d, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L)._1 === "a b")
    assert(math.abs(out(1L)._2 - 2.0 * 3 / 9) < 1e-12)
    assert(out(1L)._3 === 1.0)
    assert(out(2L) === (("x y", 3.0 / 5, 0.0)))
    assert(out(3L) === (("", 0.0, 0.0)))
    assert(out(4L) === (("", 0.0, 0.0)))
  }

  test("mixturePlan computes rates and epochs per domain") {
    val d = df(Seq(
      Seq("a", 10), Seq("a", 30),   // available 40
      Seq("b", 5),                  // available 5 → upsampled
      Seq("c", 100),                // not in weights → zero target
      Seq("z", 0)),                 // zero-size domain in weights
      "dom:str,sz:int")
    val out = graft.functions.Sampling.mixturePlan(d, "dom", col("sz"),
      Map("a" -> 1.0, "b" -> 1.0, "z" -> 2.0), budget = 80L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(out("a") === ((2L, 40L, 20.0, 0.5, 0.5)))       // downsample
    assert(out("b") === ((1L, 5L, 20.0, 1.0, 4.0)))        // 4 epochs
    assert(out("c") === ((1L, 100L, 0.0, 0.0, 0.0)))       // unweighted
    assert(out("z") === ((1L, 0L, 40.0, 0.0, 0.0)))        // empty domain
  }

  test("importanceWeights matches a driver-side brute force") {
    val d = df(Seq(
      Seq(1L, "red red blue"),
      Seq(2L, "red green"),
      Seq(3L, "blue blue blue"),
      Seq(4L, "  ")), "doc_id:long,text:str")
    val target = df(Seq(Seq("red red red blue")), "text:str")
    val out = TextFunctions.importanceWeights(d, "doc_id", "text", target, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
      .sortBy(_._1)
    // brute force: raw counts red=3,green=1,blue=4 (N=8); target red=3,blue=1
    // (N=4); V=3 (union vocab {red,green,blue})
    def llr(ct: Long, cr: Long) =
      math.log((ct + 1).toDouble) - math.log((4 + 3).toDouble) -
        math.log((cr + 1).toDouble) + math.log((8 + 3).toDouble)
    val red = llr(3, 3); val green = llr(0, 1); val blue = llr(1, 4)
    val want = List(
      (1L, 3L, (red * 2 + blue) / 3),
      (2L, 2L, (red + green) / 2),
      (3L, 3L, blue))
    assert(out.map(_._1) === want.map(_._1))
    assert(out.map(_._2) === want.map(_._2))
    out.zip(want).foreach { case ((_, _, g), (_, _, w)) =>
      assert(math.abs(g - w) < 1e-9, s"got $g want $w") }
    // the target-heavy doc ranks above the target-light one
    val byId = out.map(x => x._1 -> x._3).toMap
    assert(byId(1L) > byId(3L)) // red-heavy doc looks more like the target
  }

  test("semanticDedup keeps one representative per embedding cluster") {
    val d = df(Seq(
      Seq(1L, Seq(1.0, 0.0), 5),
      Seq(2L, Seq(0.999, 0.0447), 9),  // near-dup of 1 (cosine ~0.999)
      Seq(3L, Seq(0.0, 1.0), 1),
      Seq(4L, Seq(-1.0, 0.05), 2)),    // own cluster, no dup
      "vec_id:long,embedding:[double],q:int")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0))
    // min-id convention: 1 survives the (1,2) pair
    val minId = Dedup.semanticDedup(d, "vec_id", "embedding", 0.9, cents)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(minId === Set(1L, 3L, 4L))
    // quality-aware: 2 (q=9) beats 1 (q=5)
    val best = Dedup.semanticDedup(d, "vec_id", "embedding", 0.9, cents,
      qualityCol = Some("q"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(best === Set(2L, 3L, 4L))
  }

  test("cleanText strips invisible/control chars and collapses space runs") {
    val d = df(Seq(
      Seq(1L, "\u200Bhi\u00ADden\uFEFF world"),   // zero-widths inside words
      Seq(2L, "a\u0007b\u007Fc"),                  // control chars
      Seq(3L, "x\u00A0\u00A0y\u3000z"),           // unicode spaces
      Seq(4L, "  a \t\t b\nc  "),                 // runs + newline survives
      Seq(5L, "a\r\nb")),                         // CRLF -> LF
      "id:long,text:str")
    val out = d.select(col("id"), TextFunctions.cleanText(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "hiden world")
    assert(out(2L) === "abc")
    assert(out(3L) === "x y z")
    assert(out(4L) === "a b\nc")
    assert(out(5L) === "a\nb")
  }

  test("extractHtmlText strips markup, decodes entities once, keeps unknowns") {
    val d = df(Seq(
      Seq(1L, "<html><head><style>b { x: 1; }</style><script>if (a < b) " +
        "{ c(); }</script></head><body><p>Hello <b>world</b></p></body></html>"),
      Seq(2L, "pre <!-- note --> post"),
      Seq(3L, "&amp;lt;tag&amp;gt; &lt;b&gt; &quot;q&quot; &#39;s&#39; " +
        "a&nbsp;b &copy; &amp; end"),
      Seq(4L, "<A HREF=\"/x\">Upper</A><SCRIPT>var y = 2;</SCRIPT>"),
      Seq(5L, "no markup at all"),
      Seq(6L, "<!DOCTYPE html><html><body>doc body</body></html>"),
      Seq(7L, "<?xml version=\"1.0\"?><note>xml text</note>"),
      Seq(8L, "before <!-- c --> mid <![CDATA[raw]]> after")),
      "id:long,html:str")
    val out = d.select(col("id"),
      TextFunctions.extractHtmlText(col("html")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "Hello world")
    assert(out(2L) === "pre post")
    // &amp;lt; decodes ONCE to the literal &lt;; unknown &copy; passes through
    assert(out(3L) === "&lt;tag&gt; <b> \"q\" 's' a b &copy; & end")
    assert(out(4L) === "Upper")
    assert(out(5L) === "no markup at all")
    // declarations / processing instructions don't leak into visible text
    assert(out(6L) === "doc body")
    assert(out(7L) === "xml text")
    assert(out(8L) === "before mid after")
  }

  test("htmlTextStats computes link density over anchor text") {
    val d = df(Seq(
      // text: "Home About body body body" (25 ch); anchors: "Home About" (10 ch)
      Seq(1L, "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
        "<p>body body body</p>"),
      Seq(2L, "<p>plain paragraph</p>"),
      Seq(3L, "<script>junk()</script>")),  // empty text -> density 0.0
      "id:long,html:str")
    val out = TextFunctions.htmlTextStats(d, "id", "html")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out(1L) === ((2L, 10L, 25L, 10.0 / 25.0)))
    assert(out(2L) === ((0L, 0L, 15L, 0.0)))
    assert(out(3L) === ((0L, 0L, 0L, 0.0)))
  }

  test("compressionRatio orders repetitive < prose < noise and is deterministic") {
    val prose = "The quick brown fox jumps over the lazy dog and then " +
      "wanders far afield looking for something interesting to eat today."
    val d = df(Seq(
      Seq(1L, "ab" * 200),                          // repetitive
      Seq(2L, prose),                               // natural prose
      Seq(3L, prose.hashCode.toHexString * 40),     // hexish noise
      Seq(4L, "")),                                 // empty -> 1.0
      "id:long,text:str")
    val out = d.select(col("id"),
      TextFunctions.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) < out(2L))
    assert(out(2L) > 0.1 && out(2L) <= 1.1)
    assert(out(4L) === 1.0)
    // duplication compresses: one back-reference for the second copy
    val dup = df(Seq(Seq(1L, prose + prose)), "id:long,text:str")
      .select(TextFunctions.compressionRatio(col("text"))).head().getDouble(0)
    assert(dup < out(2L) * 0.75)
    // deterministic across evaluations
    val again = d.select(col("id"),
      TextFunctions.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again === out)
  }

  test("deflate_ratio is registered as a SQL function") {
    GraftSession.registerFunctions(spark)
    val r = spark.sql(
      "SELECT deflate_ratio(repeat('xy', 300)) AS r").head().getDouble(0)
    assert(r > 0.0 && r < 0.1)
  }

  test("html_text is registered as a SQL function") {
    GraftSession.registerFunctions(spark)
    val r = spark.sql(
      "SELECT html_text('<p>a &amp; b</p>') AS t").head().getString(0)
    assert(r === "a & b")
  }

  test("ngramJaccardJoin matches driver-side cross-corpus brute force") {
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh(s: String) = s.trim.split("\\s+").sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet
    val newIds = texts.keys.filter(_ >= 100).toSeq
    val refIds = texts.keys.filter(_ < 100).toSeq
    val want = (for {
      a <- newIds; b <- refIds
      sa = sh(texts(a)); sb = sh(texts(b))
      if sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / (sa.size + sb.size - inter) >= 0.5
    } yield (a, b)).toSet
    val newDocs = docs.filter(col("doc_id") >= 100)
    val refDocs = docs.filter(col("doc_id") < 100)
    val got = Dedup.ngramJaccardJoin(newDocs, "doc_id", "text",
      refDocs, "doc_id", "text", shingleK = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    // dropNearDuplicatesAgainst removes exactly the left-side hit set
    val dropped = Dedup.dropNearDuplicatesAgainst(newDocs, "doc_id", "text",
      refDocs, "doc_id", "text", shingleK = 3, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dropped === newIds.toSet -- want.map(_._1))
  }

  test("encodeWithVocab maps tokens to ids in order, OOV to unk") {
    val d = df(Seq(
      Seq(1L, "Red blue RED zz"),
      Seq(2L, " \t ")), "doc_id:long,text:str")
    val vocab = df(Seq(Seq("red", 1), Seq("blue", 2)), "token:str,token_id:int")
    val out = TextFunctions.encodeWithVocab(d, "doc_id", "text", vocab)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList,
        r.getLong(2), r.getLong(3))).toList
    assert(out === List((1L, List(1L, 2L, 1L, -1L), 4L, 1L)))
  }

  test("packSequences slices the concatenated id stream into fixed examples") {
    val d = df(Seq(
      Seq(1L, Seq(1L, 2L)),
      Seq(2L, Seq(3L)),
      Seq(3L, Seq[Long]()),          // empty doc contributes nothing
      Seq(4L, Seq(4L, 5L, 6L, 7L))),
      "doc_id:long,ids:[long]")
    val out = TextFunctions.packSequences(d, "doc_id", "ids", seqLen = 3)
      .orderBy("example_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getLong(2)))
      .toList
    assert(out === List(
      (0L, List(1L, 2L, 3L), 3L),
      (1L, List(4L, 5L, 6L), 3L),
      (2L, List(7L), 1L)))
  }

  test("packSequences equals the single-window brute force on the corpus") {
    val vocab = TextFunctions.buildVocab(docs, "text", size = 100, minCount = 2L)
    val enc = TextFunctions.encodeWithVocab(docs, "doc_id", "text", vocab)
      .select("doc_id", "ids").localCheckpoint(true)
    val got = TextFunctions.packSequences(enc, "doc_id", "ids", seqLen = 128)
    // brute force: one global window (fine at test scale)
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = enc
      .withColumn("off", coalesce(sum(size(col("ids")).cast("long")).over(w), lit(0L)))
      .select(col("off"), posexplode(col("ids")).as(Seq("pos", "tid")))
      .select((col("off") + col("pos")).as("gpos"), col("tid"))
      .groupBy(floor(col("gpos") / 128).as("example_id"))
      .agg(transform(array_sort(collect_list(struct(col("gpos"), col("tid")))),
        s => s.getField("tid")).as("ids"),
        count(lit(1)).as("n_tokens"))
    assert(graft.api.DfUtils.dfEq(got, want))
    assert(got.filter(col("n_tokens") =!= 128).count() <= 1) // only the tail is short
  }

  test("packSequences treats null id arrays as empty (no partition NPE)") {
    val d = df(Seq(
      Seq(1L, null),
      Seq(2L, Seq(1L, 2L)),
      Seq(3L, null)), "doc_id:long,ids:[long]")
    val out = TextFunctions.packSequences(d, "doc_id", "ids", seqLen = 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
    assert(out.toList === List((0L, List(1L, 2L))))
  }

  test("encodeWithVocab works with collision-prone id column names") {
    val d = df(Seq(Seq(7, "red blue")), "pos:int,text:str")
    val vocab = df(Seq(Seq("red", 1)), "token:str,token_id:int")
    val out = TextFunctions.encodeWithVocab(d, "pos", "text", vocab)
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toList))
    assert(out.toList === List((7, List(1L, -1L))))
    intercept[IllegalArgumentException] {
      TextFunctions.encodeWithVocab(d.withColumnRenamed("pos", "ids"),
        "ids", "text", vocab)
    }
  }

  test("learnBpe reproduces the classic merge sequence; applyBpe replays it") {
    // Sennrich et al. example: low x5, lower x2, newest x6, widest x3
    val corpus = df(Seq(
      Seq(1L, Seq.fill(5)("low").mkString(" ")),
      Seq(2L, Seq.fill(2)("lower").mkString(" ")),
      Seq(3L, Seq.fill(6)("newest").mkString(" ")),
      Seq(4L, Seq.fill(3)("widest").mkString(" "))), "doc_id:long,text:str")
    val merges = TextFunctions.learnBpe(corpus, "text", numMerges = 4)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    // max pair 9 is a 3-way tie (e,s)/(s,t)/(t,</w>) → lex tie-break
    assert(merges.toList === List(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L), ("l", "o", 7L)))
    val toks = corpus.select(TextFunctions.applyBpe(col("text"),
      merges.map(m => (m._1, m._2)).toSeq).as("t"))
      .collect().map(_.getSeq[String](0).toList)
    assert(toks.contains(List.fill(6)(List("n", "e", "w", "est")).flatten))
    assert(toks.contains(List.fill(5)(List("lo", "w")).flatten))
  }

  test("learnBpe keeps non-BMP code points intact (no lone surrogates)") {
    // U+1F600 (emoji, surrogate pair in UTF-16) repeated: the first merge
    // must pair the WHOLE code point with its neighbor, not half of it
    val corpus = df(Seq(
      Seq(1L, Seq.fill(4)("😀a😀a").mkString(" "))), "doc_id:long,text:str")
    val merges = TextFunctions.learnBpe(corpus, "text", numMerges = 1)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(merges.head === (("😀", "a")))
    val toks = corpus.select(TextFunctions.applyBpe(col("text"),
      merges.toSeq).as("t")).head.getSeq[String](0)
    assert(toks.forall(t => t.codePoints().toArray.forall(Character.isValidCodePoint)))
    assert(toks.contains("😀a"))
  }

  test("extractUrls and urlDomainStats") {
    val d = df(Seq(
      Seq(1L, "go to https://a.example.org/x and http://b.net/y?z=1 now"),
      Seq(2L, "again https://a.example.org/other plus plain text"),
      Seq(3L, "no urls here"),
      // sentence punctuation after the URL must not split the domain key
      Seq(4L, "read https://a.example.org. then stop")), "doc_id:long,text:str")
    val urls = d.select(TextFunctions.extractUrls(col("text")).as("u"))
      .collect().map(_.getSeq[String](0).toList)
    assert(urls.contains(List("https://a.example.org/x", "http://b.net/y?z=1")))
    val stats = TextFunctions.urlDomainStats(d, "doc_id", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stats === Map("a.example.org" -> ((3L, 3L)), "b.net" -> ((1L, 1L))))
  }

  test("even repartition balances exactly") {
    val d = df((1 to 103).map(i => Seq(i)), "x:int")
    val out = graft.operators.Repartitioner.even(d, 10, Nil)
    val sizes = out.rdd.glom().map(_.length).collect().sorted
    assert(sizes.sum === 103)
    assert(sizes.max - sizes.min <= 1, s"uneven: ${sizes.toSeq}")
  }

  test("m02x differential: decoded luminance-grid features match closed form") {
    val out = SparkEntry.queries("m02x_feature_differential")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L)
  }

  test("even repartition with keys keeps null-keyed rows (null-safe join)") {
    val d = df(Seq(Seq("a", 1), Seq(null, 7), Seq("b", 2), Seq(null, 8)),
      "k:str,v:int")
    val out = graft.operators.Repartitioner.even(d, 3, Seq("k"))
    assert(out.count() === 4) // the null group must NOT be dropped
    assert(out.filter(col("k").isNull).count() === 2)
    // each key group lands in exactly one partition
    val byPart = out.select(col("k"), spark_partition_id().as("p"))
      .distinct().groupBy("k").count().collect()
    assert(byPart.forall(_.getLong(1) === 1L))
  }

  test("span removal: winner survives, other occurrences masked, originals verbatim") {
    val d = df(Seq(
      Seq(1L, "a b c x y"),     // winner of span "a b c" (least (id,pos))
      Seq(2L, "q a b c r"),     // loser: tokens 2-4 masked
      Seq(3L, "a b c"),         // loser: fully masked -> empty text
      Seq(4L, "unique words only here"),
      Seq(5L, "  \t ")),        // whitespace-only: 0 tokens, untouched
      "doc_id:long,text:str")
    val out = graft.functions.Dedup
      .removeDuplicateSpans(d, "doc_id", "text", spanTokens = 3, minCount = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("a b c x y", 5L, 0L)))       // verbatim, not re-joined
    assert(out(2L) === (("q r", 5L, 3L)))
    assert(out(3L) === (("", 3L, 3L)))
    assert(out(4L) === (("unique words only here", 4L, 0L)))
    assert(out(5L) === (("  \t ", 0L, 0L)))
    // overlapping duplicated spans mask the union of their intervals
    val d2 = df(Seq(
      Seq(1L, "a b c d e"),
      Seq(2L, "z a b c d e z2")),  // spans "a b c"+"b c d"+"c d e" all dup
      "doc_id:long,text:str")
    val out2 = graft.functions.Dedup
      .removeDuplicateSpans(d2, "doc_id", "text", spanTokens = 3, minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(1L) === "a b c d e")
    assert(out2(2L) === "z z2")
  }

  test("span stats and span removal add no CacheManager entry") {
    // a Dataset persist stays in the CacheManager until unpersist, so a
    // library function that persists and returns leaks one entry per input
    // numCachedEntries is private[sql] in Scala, public in bytecode
    val cache = spark.sharedState.cacheManager
    def entries = cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    val before = entries
    val d = df(Seq(Seq(1L, "a b c d"), Seq(2L, "a b c")), "doc_id:long,text:str")
    Dedup.duplicateSpanStats(d, "doc_id", "text", spanTokens = 3).collect()
    Dedup.removeDuplicateSpans(d, "doc_id", "text", spanTokens = 3).collect()
    assert(entries === before)
  }

  test("sketches: Misra-Gries frequent items honors its deterministic bounds") {
    // Zipf-ish stream over two keys, deliberately spread over partitions
    val rng = new scala.util.Random(7)
    val rows = (1 to 4000).map { i =>
      val item = "w" + (math.pow(rng.nextDouble(), 3) * 50).toInt
      Seq(if (i % 3 == 0) "g1" else "g0", item)
    }
    val d = df(rows, "g:str,w:str").repartition(8)
    val k = 10
    val hh = graft.functions.Sketches.frequentItems(d, Seq("g"), "w", k)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val exact = d.groupBy("g", "w").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val nByKey = exact.groupBy(_._1._1).map { case (g, m) => g -> m.values.sum }
    hh.foreach { case ((g, w), (est, err, n)) =>
      val truth = exact((g, w))
      assert(est <= truth && truth <= est + err, s"bounds for ($g,$w)")
      assert(n === nByKey(g))
      assert(err <= n / (k + 1), s"err $err exceeds n/(k+1) for $g")
    }
    // completeness guarantee: every item with count > err_bound is present
    val errByKey = hh.map { case ((g, _), (_, err, _)) => g -> err }
    exact.foreach { case ((g, w), c) =>
      if (c > errByKey(g)) assert(hh.contains((g, w)), s"missed heavy ($g,$w)")
    }
  }

  test("quality model: separable corpus trains to perfect accuracy, probs ordered") {
    // high-quality docs: stopword-rich English; junk: punctuation noise
    val good = (1 to 30).map(i =>
      Seq(i.toLong, s"the cat and the dog are in the house of it $i"))
    val junk = (31 to 60).map(i =>
      Seq(i.toLong, s"@@## %% !! ?? ++ == xx$i yy zz ^^ && **"))
    val d = df(good ++ junk, "doc_id:long,text:str")
    val feats = graft.functions.QualityModel.withFeatures(d, "text")
      .withColumn("label", (col("doc_id") <= 30).cast("double"))
    val model = graft.functions.QualityModel.train(feats)
    val scored = graft.functions.QualityModel.score(feats, model)
    val acc = scored.agg(avg(when(col("quality_pred") === col("label"), 1.0)
      .otherwise(0.0))).first().getDouble(0)
    assert(acc === 1.0, s"separable corpus must train to 1.0, got $acc")
    // keep-probabilities separate the classes
    val bounds = scored.agg(
      min(when(col("label") === 1.0, col("quality_prob"))),
      max(when(col("label") === 0.0, col("quality_prob")))).first()
    assert(bounds.getDouble(0) > bounds.getDouble(1))
  }

  test("sketches: CMS never underestimates and merge equals direct sketch") {
    val rows = (1 to 2000).map(i => Seq(i.toLong, "e" + (i % 13)))
    val d = df(rows, "id:long,e:str").repartition(6)
    val merged = graft.functions.Sketches.cmsMerge(
      graft.functions.Sketches
        .cmsPartial(d.select(col("e"), pmod(col("id"), lit(4)).as("sh")),
          Seq("sh"), "e")
        .collect().map(_.getAs[Array[Byte]](1)))
    val direct = graft.functions.Sketches.cmsMerge(
      graft.functions.Sketches
        .cmsPartial(d.withColumn("g", lit(1)), Seq("g"), "e")
        .collect().map(_.getAs[Array[Byte]](1)))
    val exact = rows.groupBy(_(1)).map { case (e, g) => e.toString -> g.size }
    exact.foreach { case (e, cnt) =>
      val est = graft.functions.Sketches.cmsEstimate(merged, e)
      assert(est >= cnt, s"CMS underestimated $e: $est < $cnt")
      assert(est === graft.functions.Sketches.cmsEstimate(direct, e))
    }
    // at eps=0.001, n=2000 collisions add at most ~2 per item here; the
    // estimate must stay close (this is the w.h.p. upper bound, loose)
    exact.foreach { case (e, cnt) =>
      assert(graft.functions.Sketches.cmsEstimate(merged, e) <= cnt + 20)
    }
  }

  test("sketches: MG partials merge associatively across batches") {
    val rows = (1 to 600).map(i => Seq("k", "w" + (i % 7)))
    val d1 = df(rows.take(300), "g:str,w:str").repartition(3)
    val d2 = df(rows.drop(300), "g:str,w:str").repartition(2)
    val p1 = graft.functions.Sketches.frequentItemsPartial(d1, Seq("g"), "w", 5)
    val p2 = graft.functions.Sketches.frequentItemsPartial(d2, Seq("g"), "w", 5)
    val merged = graft.functions.Sketches.frequentItems(p1.union(p2), Seq("g"))
      .collect()
    assert(merged.forall(_.getLong(4) === 600L)) // n_rows sums across batches
    val exact = rows.groupBy(_(1)).map { case (w, g) => w -> g.size.toLong }
    merged.foreach { r =>
      val truth = exact(r.getString(1))
      assert(r.getLong(2) <= truth && truth <= r.getLong(2) + r.getLong(3),
        s"bounds for ${r.getString(1)}")
    }
    // low-cardinality guard raises loudly on a mis-chosen key
    val ex = intercept[Exception] {
      graft.functions.Sketches.frequentItemsPartial(
        df((1 to 50).map(i => Seq("k" + i, "w")), "g:str,w:str").coalesce(1),
        Seq("g"), "w", 2, maxKeysPerPartition = 10).collect()
    }
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .take(5).exists(_.getMessage.contains("low-cardinality")))
  }

  test("normalizeUnicode: NFC composes, NFD decomposes, NFKC folds, form validated") {
    val d = df(Seq(
      Seq(1L, "café Å"),   // decomposed acute + ring
      Seq(2L, "café"),            // already composed (fast path)
      Seq(3L, "ﬁne"),             // fi ligature (NFKC-only fold)
      Seq(4L, null)), "id:long,t:str")
    val nfc = d.select(col("id"),
      TextFunctions.normalizeUnicode(col("t")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(nfc(1L) == "café Å")
    assert(nfc(2L) == "café")
    assert(nfc(3L) == "ﬁne") // NFC leaves compatibility chars alone
    assert(nfc(4L) == null)
    val nfd = d.filter(col("id") === 2L).select(
      TextFunctions.normalizeUnicode(col("t"), "NFD")).head().getString(0)
    assert(nfd == "café")
    val nfkc = d.filter(col("id") === 3L).select(
      TextFunctions.normalizeUnicode(col("t"), "NFKC")).head().getString(0)
    assert(nfkc == "fine")
    intercept[IllegalArgumentException] {
      TextFunctions.normalizeUnicode(col("t"), "NFX")
    }
  }

  test("canonicalizeUrl: scheme/host case, default ports, tracking params, fragments") {
    def canon(u: String): String =
      df(Seq(Seq(u)), "u:str")
        .select(TextFunctions.canonicalizeUrl(col("u"))).head().getString(0)
    assert(canon("HTTP://Example.COM:80/a?utm_source=x&q=1#frag") ==
      "http://example.com/a?q=1")
    assert(canon("https://Example.com:443") == "https://example.com/")
    assert(canon("https://example.com/?utm_campaign=c") == "https://example.com/")
    assert(canon("https://example.com/p?a=1&utm_medium=m&fbclid=z&b=2") ==
      "https://example.com/p?a=1&b=2")
    assert(canon("https://example.com/p?a=1&gclid=g") == "https://example.com/p?a=1")
    // non-default port and non-http scheme keep their port
    assert(canon("https://example.com:8443/x") == "https://example.com:8443/x")
    assert(canon("FTP://Files.Example.com/d") == "ftp://files.example.com/d")
    // not a URL: trimmed pass-through
    assert(canon("  plain text  ") == "plain text")
  }

  test("filterBlockedDomains: suffix semantics, lookalikes kept, broadcast anti plan") {
    val rows = Seq(
      Seq(1L, "https://example.net/a"),        // exact block
      Seq(2L, "https://cdn.example.net/b"),    // subdomain block
      Seq(3L, "https://notexample.net/c"),     // lookalike: kept
      Seq(4L, "https://deep.sub.blocked.example.org/d"), // nested subdomain: blocked
      Seq(5L, "https://ok.example.com/e"),     // kept
      Seq(6L, "no url here"))                  // host '' : kept
    val d = df(rows, "id:long,url:str")
    val blocked = df(Seq(Seq("example.net"), Seq("blocked.example.org")), "domain:str")
    val kept = TextFunctions.filterBlockedDomains(d, "url", blocked)
    assert(collectSorted(kept.select("id")).map(_.head) == Seq(3L, 5L, 6L))
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti joins, got:\n$plan")
    intercept[IllegalArgumentException] {
      TextFunctions.filterBlockedDomains(
        d.withColumnRenamed("id", "__host"), "url", blocked)
    }
  }

  test("bigramCrossEntropy matches a hand-computed Laplace bigram model") {
    // corpus: doc1 "a b a b", doc2 "b c", doc3 "a" (no bigrams -> no row)
    val d = df(Seq(Seq(1L, "a b a b"), Seq(2L, "b c"), Seq(3L, "a")),
      "doc_id:long,text:str")
    val got = TextFunctions.bigramCrossEntropy(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!got.contains(3L))
    // V = 3 (a,b,c); pairs: (a,b)x2, (b,a)x1, (b,c)x1
    // c1 contexts: a->2, b->2; c12: ab=2, ba=1, bc=1
    val pAb = math.log(3.0) - math.log(5.0)  // (2+1)/(2+3)
    val pBa = math.log(2.0) - math.log(5.0)
    val pBc = math.log(2.0) - math.log(5.0)
    val ce1 = -(pAb + pBa + pAb) / 3.0
    val ce2 = -pBc / 1.0
    assert(got(1L)._1 == 3L)
    assert(math.abs(got(1L)._2 - ce1) < 1e-9, s"${got(1L)._2} vs $ce1")
    assert(got(2L)._1 == 1L)
    assert(math.abs(got(2L)._2 - ce2) < 1e-9)
    // minPairCount prune: pruned pairs fall back to the unseen probability
    val pruned = TextFunctions.bigramCrossEntropy(d, "doc_id", "text",
      minPairCount = 2L).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val ce2p = -(math.log(1.0) - math.log(5.0)) // bc pruned -> ln(1/(2+3))
    assert(math.abs(pruned(2L) - ce2p) < 1e-9)
  }

  test("quantizeInt8 round-trip: per-coordinate error <= scale/2, cosine preserved") {
    val q = emb.select(col("vec_id"), col("embedding"),
      Similarity.quantizeInt8(col("embedding")).as("q"))
    // storage really is bytes
    val codesType = q.schema("q").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("codes").dataType
    assert(codesType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.ByteType)
    val back = q.select(col("vec_id"),
      col("embedding").cast("array<double>").as("orig"),
      Similarity.dequantizeInt8(col("q")).as("deq"),
      col("q.qscale").as("scale"))
    val rows = back.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val o = r.getSeq[Double](1)
      val d = r.getSeq[Double](2)
      val s = r.getDouble(3)
      assert(o.length === d.length)
      o.zip(d).foreach { case (a, b) =>
        assert(math.abs(a - b) <= s / 2 + 1e-12,
          s"vec ${r.getLong(0)}: |$a - $b| > scale/2 = ${s / 2}")
      }
      val dotOD = o.zip(d).map { case (a, b) => a * b }.sum
      val no = math.sqrt(o.map(x => x * x).sum)
      val nd = math.sqrt(d.map(x => x * x).sum)
      if (no > 0 && nd > 0)
        assert(dotOD / (no * nd) > 0.999,
          s"cosine(orig, dequantized) degraded for vec ${r.getLong(0)}")
    }
    // constant vector: scale 0, exact reconstruction
    val const = df(Seq(Seq(1L, Seq(3.5, 3.5, 3.5))), "id:long,v:[double]")
    val cr = const.select(Similarity.dequantizeInt8(
      Similarity.quantizeInt8(col("v"))).as("d")).collect()(0).getSeq[Double](0)
    assert(cr === Seq(3.5, 3.5, 3.5))
    // a poisoned vector (NaN/Inf element) quantizes to NULL — detectable,
    // never silently collapsed codes
    val bad = df(Seq(
      Seq(1L, Seq(1.0, Double.NaN)), Seq(2L, Seq(1.0, Double.PositiveInfinity)),
      Seq(3L, Seq(1.0, 2.0))), "id:long,v:[double]")
    val qs = bad.select(col("id"), Similarity.quantizeInt8(col("v")).as("q"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(qs(1L) && qs(2L) && !qs(3L))
    // a NULL code element dequantizes the whole vector to NULL (a silent
    // 0-byte read would fabricate a plausible value)
    val nullCode = spark.sql(
      """SELECT named_struct('qmin', CAST(0.0 AS DOUBLE),
        | 'qscale', CAST(1.0 AS DOUBLE),
        | 'codes', array(CAST(1 AS TINYINT), CAST(null AS TINYINT))) AS q
        |""".stripMargin)
    assert(nullCode.select(Similarity.dequantizeInt8(col("q")).as("d"))
      .collect()(0).isNullAt(0))
  }

  test("fixMojibake repairs Latin-1 and cp1252 double-encoding, leaves clean text alone") {
    def fix(t: String): String =
      df(Seq(Seq(t)), "t:str")
        .select(TextFunctions.fixMojibake(col("t"))).head().getString(0)
    // UTF-8 "caf\u00e9" read as Latin-1: C3 A9 -> \u00c3\u00a9
    assert(fix("caf\u00c3\u00a9") == "caf\u00e9")
    // UTF-8 "\u2019" read as cp1252: E2 80 99 -> \u00e2\u20ac\u2122
    assert(fix("\u00e2\u20ac\u2122") == "\u2019")
    // doubly corrupted: two rounds needed
    assert(fix("caf\u00c3\u0083\u00c2\u00a9") == "caf\u00e9")
    // clean text (ASCII, real accents, CJK) passes through unchanged
    assert(fix("hello world") == "hello world")
    assert(fix("r\u00e9sum\u00e9 caf\u00e9") == "r\u00e9sum\u00e9 caf\u00e9")
    assert(fix("\u65e5\u672c\u8a9e") == "\u65e5\u672c\u8a9e")
    // null-safe
    val n = df(Seq(Seq(null)), "t:str")
      .select(TextFunctions.fixMojibake(col("t"))).head()
    assert(n.isNullAt(0))
  }

  test("bm25TopK matches a hand-computed score; ranking and ties deterministic") {
    // corpus: d1 "x x y", d2 "x z", d3 "y y z z" \u2014 N=3, avgdl = (3+2+4)/3
    val corpus = df(Seq(Seq(1L, "x x y"), Seq(2L, "x z"), Seq(3L, "y y z z")),
      "doc_id:long,text:str")
    val queries = df(Seq(Seq(10L, "x x"), Seq(11L, "q")),
      "query_id:long,qtext:str")
    val out = TextFunctions.bm25TopK(corpus, "doc_id", "text",
      queries, "query_id", "qtext", topK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // query 11 has no corpus term -> no rows
    assert(out.forall(_._1 == 10L))
    // query "x x": qtf(x)=2; df(x)=2, idf = ln(1 + (3-2+0.5)/(2+0.5))
    val idf = math.log(1.0 + (3.0 - 2 + 0.5) / (2 + 0.5))
    val avgdl = 3.0
    def s(tf: Double, dl: Double) =
      2.0 * idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    val byDoc = out.map(r => r._3 -> (r._2, r._4)).toMap
    assert(math.abs(byDoc(1L)._2 - s(2.0, 3.0)) < 1e-9)
    assert(math.abs(byDoc(2L)._2 - s(1.0, 2.0)) < 1e-9)
    assert(!byDoc.contains(3L)) // no query term in d3
    // d1 (tf=2) outranks d2 (tf=1, shorter)
    assert(byDoc(1L)._1 == 1 && byDoc(2L)._1 == 2)
    intercept[IllegalArgumentException] {
      TextFunctions.bm25TopK(corpus, "doc_id", "text",
        queries, "query_id", "qtext", topK = 0)
    }
    intercept[IllegalArgumentException] {
      TextFunctions.bm25TopK(corpus, "id", "text", queries, "id", "qtext")
    }
    // df cut: x is in 2/3 of docs, cut at 0.5 drops it — query "x x"
    // then matches nothing; a rarer query term still scores
    val cut = TextFunctions.bm25TopK(corpus, "doc_id", "text",
      df(Seq(Seq(20L, "x y")), "query_id:long,qtext:str"),
      "query_id", "qtext", topK = 5, maxDfFraction = 0.5)
      .collect().map(r => (r.getLong(2), r.getDouble(3)))
    // only y (df 2/3... also 2 of 3 docs) — both x and y have df=2 > 1.5
    // so nothing survives; z (df 2) also cut. Use threshold 0.7: df<=2.1
    val cut2 = TextFunctions.bm25TopK(corpus, "doc_id", "text",
      df(Seq(Seq(20L, "x")), "query_id:long,qtext:str"),
      "query_id", "qtext", topK = 5, maxDfFraction = 0.7)
      .collect()
    assert(cut.isEmpty && cut2.length === 2)
    intercept[IllegalArgumentException] {
      TextFunctions.bm25TopK(corpus, "doc_id", "text", queries,
        "query_id", "qtext", maxDfFraction = 0.0)
    }
  }

  test("containmentPairs: subset doc scores 1.0 toward its superset, directional") {
    // d1's trigrams are a strict subset of d2's; d3 shares nothing
    val d = df(Seq(
      Seq(1L, "a b c d"),          // trigrams {abc, bcd}
      Seq(2L, "a b c d e f"),      // {abc, bcd, cde, def}
      Seq(3L, "p q r s t")),
      "doc_id:long,text:str")
    val out = Dedup.containmentPairs(d, "doc_id", "text",
      shingleK = 3, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // containment(1\u21922) = 2/2 = 1.0; containment(2\u21921) = 2/4 = 0.5
    assert(out === Set((1L, 2L, 1.0), (2L, 1L, 0.5)))
    // tighter threshold drops the reverse direction only
    val strict = Dedup.containmentPairs(d, "doc_id", "text",
      shingleK = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict === Set((1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(d, "doc_id", "text", threshold = 0.0)
    }
  }

  test("gopherRules: each rule fires on its planted trigger") {
    val good = ("the data be good and clean so that we have models " +
      "trained with care for everyone involved here today now ") * 3
    val rows = Seq(
      Seq(1L, good),                                   // passes all
      Seq(2L, "tiny doc"),                             // fails words
      Seq(3L, good + " " + Seq.fill(30)("####").mkString(" ")), // symbols
      Seq(4L, good + Seq.fill(15)(" so...").mkString), // ellipsis ratio
      Seq(5L, good + "\n" + (1 to 20).map(i => s"- item $i this line").mkString("\n")), // bullets
      Seq(6L, Seq.fill(40)("12345").mkString(" ")))    // alpha + stopwords
    val got = TextFunctions.gopherRules(df(rows, "doc_id:long,text:str"),
      "doc_id", "text", minWords = 20)
      .collect().map(r => r.getLong(0) -> r).toMap
    def b(id: Long, c: String) = got(id).getBoolean(got(id).fieldIndex(c))
    assert(b(1L, "passes"), s"doc1 should pass: ${got(1L)}")
    assert(!b(2L, "rule_words") && !b(2L, "passes"))
    assert(!b(3L, "rule_symbols"))
    assert(!b(4L, "rule_ellipsis"))
    assert(!b(5L, "rule_bullets"))
    assert(!b(6L, "rule_alpha") && !b(6L, "rule_stopwords"))
    intercept[IllegalArgumentException] {
      TextFunctions.gopherRules(df(rows, "doc_id:long,text:str"),
        "doc_id", "text", minWords = 0)
    }
  }

  test("c4Clean: line retention rules, doc verdicts, audit counts") {
    val rows = Seq(
      Seq(1L, "This is a fine first sentence.\nno punct line\n" +
        "Uses javascript heavily today.\nA second good sentence here!\n" +
        "And a third one to clear the bar."),
      Seq(2L, "Only two."),                            // short line dropped
      Seq(3L, "A page with { code } in it. More words here!"),
      Seq(4L, "Some Lorem Ipsum filler text. And more of it! Plus a third."))
    val got = TextFunctions.c4Clean(df(rows, "doc_id:long,text:str"),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L)._1 === "This is a fine first sentence.\n" +
      "A second good sentence here!\nAnd a third one to clear the bar.")
    assert(got(1L)._2 === 3L && got(1L)._3 === 2L && got(1L)._4)
    assert(got(2L)._2 === 0L && !got(2L)._4)
    assert(!got(3L)._4, "curly braces reject the page")
    assert(!got(4L)._4, "lorem ipsum rejects the page")
  }

  test("rankNormalize: Hazen quantiles, descending flip, partition-invariant") {
    val d = df((1 to 8).map(i => Seq(i.toLong, (100 - i * 10).toDouble)),
      "id:long,score:double")
    val got = graft.functions.Sampling.rankNormalize(d, "score", Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // score descends with id, so id=8 has the LOWEST score → rank 1
    assert(got(8L) === 0.5 / 8)
    assert(got(1L) === 7.5 / 8)
    val desc = graft.functions.Sampling.rankNormalize(d, "score", Seq("id"),
      descending = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(desc(1L) === 0.5 / 8 && desc(8L) === 7.5 / 8)
    // ties keep the DECLARED tie-break direction under descending too:
    // equal scores rank by id ascending in both modes
    val tied = df(Seq(Seq(1L, 5.0), Seq(2L, 5.0)), "id:long,score:double")
    val tiedDesc = graft.functions.Sampling.rankNormalize(tied, "score",
      Seq("id"), descending = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(tiedDesc(1L) === 0.25 && tiedDesc(2L) === 0.75)
    // quantiles are invariant to input partitioning
    val re = graft.functions.Sampling.rankNormalize(d.repartition(7),
      "score", Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(re === got)
    intercept[IllegalArgumentException] {
      graft.functions.Sampling.rankNormalize(d, "score", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      graft.functions.Sampling.rankNormalize(
        d.withColumnRenamed("score", "quantile"), "quantile", Seq("id"))
    }
    // declared null semantics: null scores take the LOWEST quantiles
    val withNull = df(Seq(Seq(1L, null), Seq(2L, 5.0), Seq(3L, 7.0)),
      "id:long,score:double")
    val nq = graft.functions.Sampling.rankNormalize(withNull, "score",
      Seq("id")).collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(nq(1L) === 0.5 / 3 && nq(2L) === 1.5 / 3 && nq(3L) === 2.5 / 3)
  }

  test("linkGraph: host edges lowercased, counted; blank/null source dropped") {
    val d = df(Seq(
      Seq("A.com", "x https://B.org/1 y http://b.ORG/2 z https://c.net/"),
      Seq("a.com", "see https://b.org/3"),
      Seq(null, "https://d.org/x"),
      Seq("", "https://e.org/x"),
      Seq("f.com", "no links here")), "host:str,text:str")
    val got = TextFunctions.linkGraph(d, "host", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(
      ("a.com", "b.org", 3L),
      ("a.com", "c.net", 1L)))
    // composes with the graph operators
    val pr = graft.operators.Graph.pageRank(
      TextFunctions.linkGraph(d, "host", "text"), "src", "dst",
      iterations = 3, weightCol = Some("n_links")).collect()
    assert(pr.length === 3 && math.abs(pr.map(_.getDouble(1)).sum - 1.0) < 1e-9)
  }

  test("trigramCrossEntropy matches a hand-computed interpolated model") {
    // corpus: d1 "a b a b a", d2 "a b" (no trigrams -> no row), d3 "a b c"
    val d = df(Seq(Seq(1L, "a b a b a"), Seq(2L, "a b"), Seq(3L, "a b c")),
      "doc_id:long,text:str")
    val got = TextFunctions.trigramCrossEntropy(d, "doc_id", "text",
      lambda3 = 0.7, lambda2 = 0.2, digits = 12).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!got.contains(2L))
    // tokens: N=10, V=3; uni: a=5, b=4, c=1
    // bigram occurrences: ab=4, ba=2, bc=1
    // CONTEXT counts (positions with a successor): ctx1(a)=4, ctx1(b)=3;
    // trigram-head contexts: ctx12(ab)=3, ctx12(ba)=1
    // trigram counts: aba=2, bab=1, abc=1
    val l1 = 1.0 - 0.7 - 0.2
    // position aba: p3 = c123(aba)/ctx12(ab) = 2/3,
    //   p2 = c(ba)/ctx1(b) = 2/3, p1 = (c(a)+1)/(N+V) = 6/13
    val pAba = 0.7 * (2.0 / 3) + 0.2 * (2.0 / 3) + l1 * (6.0 / 13)
    // position bab: p3 = c123(bab)/ctx12(ba) = 1/1,
    //   p2 = c(ab)/ctx1(a) = 4/4, p1 = (c(b)+1)/(N+V) = 5/13
    val pBab = 0.7 * 1.0 + 0.2 * 1.0 + l1 * (5.0 / 13)
    // position abc (d3): p3 = c123(abc)/ctx12(ab) = 1/3,
    //   p2 = c(bc)/ctx1(b) = 1/3, p1 = (c(c)+1)/(N+V) = 2/13
    val pAbc = 0.7 * (1.0 / 3) + 0.2 * (1.0 / 3) + l1 * (2.0 / 13)
    val ce1 = -(math.log(pAba) + math.log(pBab) + math.log(pAba)) / 3.0
    val ce3 = -math.log(pAbc)
    assert(got(1L)._1 == 3L)
    assert(math.abs(got(1L)._2 - ce1) < 1e-9, s"${got(1L)._2} vs $ce1")
    assert(got(3L)._1 == 1L)
    assert(math.abs(got(3L)._2 - ce3) < 1e-9, s"${got(3L)._2} vs $ce3")
    intercept[IllegalArgumentException] {
      TextFunctions.trigramCrossEntropy(d, "doc_id", "text", lambda3 = 0.9,
        lambda2 = 0.1)
    }
  }
}
