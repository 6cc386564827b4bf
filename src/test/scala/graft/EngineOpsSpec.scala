package graft

import org.apache.spark.sql.functions._

/** Engine operator conformance — behavior ported from the reference's
 * fugue_test/execution_suite.py (joins incl. null keys :366-544, set ops
 * :545-659, distinct/dropna/fillna :660-743, take :744-879). */
class EngineOpsSpec extends SparkTestBase {

  test("toDF with schema expression and nulls") {
    val d = df(Seq(Seq(1.0, 2), Seq(null, 2), Seq(null, 1), Seq(3.0, 4), Seq(null, 4)),
      "a:double,b:int")
    assert(d.count() === 5)
    assert(d.schema.fieldNames.toSeq === Seq("a", "b"))
    assert(d.filter(col("a").isNull).count() === 3)
  }

  test("join: inner on inferred common columns, schema df1 ∪ (df2 − keys)") {
    val l = df(Seq(Seq(1, "x"), Seq(2, "y"), Seq(3, "z")), "k:int,a:str")
    val r = df(Seq(Seq(1, 10.0), Seq(2, 20.0), Seq(4, 40.0)), "k:int,c:double")
    val j = engine.join(l, r, "inner")
    assert(j.schema.fieldNames.toSeq === Seq("k", "a", "c"))
    assertDfEq(j, Seq(Seq(1, "x", 10.0), Seq(2, "y", 20.0)))
  }

  test("join: null keys do NOT match (SQL semantics)") {
    val l = df(Seq(Seq(1, "x"), Seq(null, "n")), "k:int,a:str")
    val r = df(Seq(Seq(1, 1.0), Seq(null, 9.0)), "k:int,c:double")
    assertDfEq(engine.join(l, r, "inner"), Seq(Seq(1, "x", 1.0)))
  }

  test("join: outer variants coalesce keys") {
    val l = df(Seq(Seq(1, "x"), Seq(2, "y")), "k:int,a:str")
    val r = df(Seq(Seq(2, 2.0), Seq(3, 3.0)), "k:int,c:double")
    assertDfEq(engine.join(l, r, "left_outer"),
      Seq(Seq(1, "x", null), Seq(2, "y", 2.0)))
    assertDfEq(engine.join(l, r, "right_outer"),
      Seq(Seq(2, "y", 2.0), Seq(3, null, 3.0)))
    assertDfEq(engine.join(l, r, "full_outer"),
      Seq(Seq(1, "x", null), Seq(2, "y", 2.0), Seq(3, null, 3.0)))
  }

  test("join: semi/anti keep only left columns") {
    val l = df(Seq(Seq(1, "x"), Seq(2, "y")), "k:int,a:str")
    val r = df(Seq(Seq(2, 2.0)), "k:int,c:double")
    assertDfEq(engine.join(l, r, "semi"), Seq(Seq(2, "y")))
    assertDfEq(engine.join(l, r, "anti"), Seq(Seq(1, "x")))
  }

  test("join: cross requires disjoint schemas; inner requires common") {
    val a = df(Seq(Seq(1)), "x:int")
    val b = df(Seq(Seq(2)), "y:int")
    assert(engine.join(a, b, "cross").count() === 1)
    intercept[IllegalArgumentException](engine.join(a, b, "inner"))
    val c = df(Seq(Seq(1)), "x:int")
    intercept[IllegalArgumentException](engine.join(a, c, "cross"))
  }

  test("set ops distinct and all") {
    val a = df(Seq(Seq(1), Seq(1), Seq(2)), "x:int")
    val b = df(Seq(Seq(1), Seq(3)), "x:int")
    assertDfEq(engine.union(a, b), Seq(Seq(1), Seq(2), Seq(3)))
    assertDfEq(engine.union(a, b, distinct = false),
      Seq(Seq(1), Seq(1), Seq(2), Seq(1), Seq(3)))
    assertDfEq(engine.subtract(a, b), Seq(Seq(2)))
    assertDfEq(engine.subtract(a, b, distinct = false), Seq(Seq(1), Seq(2)))
    assertDfEq(engine.intersect(a, b), Seq(Seq(1)))
  }

  test("dropna any/all/thresh/subset") {
    val d = df(Seq(Seq(1.0, 1.0), Seq(null, 2.0), Seq(null, null)), "a:double,b:double")
    assert(engine.dropna(d, "any").count() === 1)
    assert(engine.dropna(d, "all").count() === 2)
    assert(engine.dropna(d, thresh = Some(1)).count() === 2)
    assert(engine.dropna(d, subset = Seq("b")).count() === 2)
  }

  test("fillna scalar and per-column map") {
    val d = df(Seq(Seq(1.0, "x"), Seq(null, null)), "a:double,b:str")
    assertDfEq(engine.fillna(d, Map("a" -> 0.0, "b" -> "?")),
      Seq(Seq(1.0, "x"), Seq(0.0, "?")))
    assertDfEq(engine.fillna(d, 9.0), Seq(Seq(1.0, "x"), Seq(9.0, null)))
  }

  test("take: global with presort and null position") {
    val d = df(Seq(Seq(1.0, 1), Seq(null, 2), Seq(3.0, 3)), "a:double,b:int")
    // asc nulls last (pandas na_position="last" default)
    assertDfEq(engine.take(d, 2, PartitionSpec(presort = Seq("a" -> true))),
      Seq(Seq(1.0, 1), Seq(3.0, 3)))
    // na_position="first"
    assertDfEq(engine.take(d, 2, PartitionSpec(presort = Seq("a" -> true)),
      naPosition = "first"), Seq(Seq(null, 2), Seq(1.0, 1)))
  }

  test("take: per-partition-key top n, null keys form a group") {
    val d = df(Seq(
      Seq("a", 1), Seq("a", 2), Seq("a", 3),
      Seq(null, 7), Seq(null, 8)), "k:str,v:int")
    val got = engine.take(d, 2,
      PartitionSpec(by = Seq("k"), presort = Seq("v" -> false)))
    assertDfEq(got, Seq(Seq("a", 3), Seq("a", 2), Seq(null, 8), Seq(null, 7)))
  }

  test("select: group-by inference + where + having") {
    val d = df(Seq(Seq("a", 1), Seq("a", 2), Seq("b", 5), Seq("b", 7)), "k:str,v:int")
    val got = engine.select(d,
      Seq(col("k"), sum(col("v")).cast("long").as("s")),
      where = Some(col("v") > 1),
      having = Some(col("s") > 2))
    assertDfEq(got, Seq(Seq("b", 12L))) // a: sum=2 fails HAVING s > 2
  }

  test("select: plain projection when no aggregates") {
    val d = df(Seq(Seq("a", 1)), "k:str,v:int")
    assertDfEq(engine.select(d, Seq(col("v"), col("k"))), Seq(Seq(1, "a")))
  }

  test("aggregate: rejects non-aggregations; assign rejects aggregations") {
    val d = df(Seq(Seq("a", 1)), "k:str,v:int")
    intercept[IllegalArgumentException](engine.aggregate(d, Nil, Seq(col("v"))))
    intercept[IllegalArgumentException](engine.assign(d, Map("x" -> sum(col("v")))))
  }

  test("assign upserts and preserves column order for existing cols") {
    val d = df(Seq(Seq("a", 1)), "k:str,v:int")
    val got = engine.assign(d, Map("v" -> (col("v") * 2), "w" -> lit(9)))
    assert(got.schema.fieldNames.toSeq === Seq("k", "v", "w"))
    assertDfEq(got, Seq(Seq("a", 2, 9)))
  }

  test("sample frac is deterministic under a fixed seed") {
    val d = df((1 to 100).map(i => Seq(i)), "x:int")
    val a = engine.sample(d, frac = Some(0.3), seed = Some(7L)).collect().toSeq
    val b = engine.sample(d, frac = Some(0.3), seed = Some(7L)).collect().toSeq
    assert(a === b)
    assert(a.nonEmpty && a.length < 100)
  }

  test("sqlSelect over temp views") {
    val d = df(Seq(Seq("a", 1), Seq("b", 2)), "k:str,v:int")
    val got = engine.sqlSelect("SELECT k FROM t WHERE v = 2", Map("t" -> d))
    assertDfEq(got, Seq(Seq("b")))
  }

  test("sample n rows = TABLESAMPLE(n ROWS) semantics (limit, caps at size)") {
    val d = df((1 to 100).map(i => Seq(i)), "x:int")
    assert(engine.sample(d, n = Some(10L), seed = Some(1L)).count() === 10)
    // reference Spark backend caps at table size (limit), even with replace
    val small = df((1 to 3).map(i => Seq(i)), "x:int")
    assert(engine.sample(small, n = Some(50L), replace = true,
      seed = Some(1L)).count() === 3)
    // frac sampling with replacement can oversample
    val rep = engine.sample(small, frac = Some(5.0), replace = true, seed = Some(1L))
    assert(rep.count() > 3)
  }

  test("union of mismatched schemas raises") {
    val a = df(Seq(Seq(1)), "x:int")
    val b = df(Seq(Seq("s")), "y:str")
    intercept[Exception](engine.union(a, b).collect())
  }

  test("set ops align reordered same-name columns instead of silent positional mix") {
    val a = df(Seq(Seq("n1", "c1")), "name:str,city:str")
    val b = df(Seq(Seq("c2", "n2")), "city:str,name:str") // reordered
    assertDfEq(engine.union(a, b, distinct = false),
      Seq(Seq("n1", "c1"), Seq("n2", "c2"))) // by NAME, not position
    assert(engine.subtract(a, b).count() === 1)
    assert(engine.intersect(a, a).count() === 1)
  }

  test("toDF arity mismatch fails at ingestion with a clear message") {
    val ex = intercept[IllegalArgumentException](
      engine.toDF(Seq(Seq(1, 2, 3)), "a:int,b:int"))
    assert(ex.getMessage.contains("3 values"))
    intercept[IllegalArgumentException](engine.toDF(Seq(Seq(1)), "a:int,b:int"))
  }

  test("sample n out of Int range raises instead of wrapping") {
    val d = df(Seq(Seq(1)), "x:int")
    intercept[IllegalArgumentException](engine.sample(d, n = Some(5000000000L)))
  }

  test("join accepts space-separated how spellings like the zip surface") {
    val a = df(Seq(Seq(1, "x")), "k:int,a:str")
    val b = df(Seq(Seq(2, 1.0)), "k:int,b:double")
    assert(engine.join(a, b, "left outer").count() === 1)
    assert(engine.join(a, b, "LEFT_OUTER").count() === 1)
  }

  test("dotted column names survive conform/alterColumns/load-projection") {
    val d = df(Seq(Seq(1.5, 7)), "`a.b`:double,v:int")
    val out = engine.conform(d, "v:long,`a.b`:double")
    assert(out.columns.toSeq === Seq("v", "a.b"))
    assertDfEq(out, Seq(Seq(7L, 1.5)))
    assert(engine.alterColumns(d, "`a.b`:int").schema("a.b").dataType.typeName === "integer")
  }

  test("sqlSelect restores a caller's pre-existing temp view of the same name") {
    val mine = df(Seq(Seq(99)), "v:int")
    mine.createOrReplaceTempView("graft_prior_view")
    val other = df(Seq(Seq(1)), "v:int")
    val out = engine.sqlSelect("SELECT v FROM graft_prior_view",
      Map("graft_prior_view" -> other))
    assert(out.collect().map(_.getInt(0)).toSeq === Seq(1)) // query saw the arg
    // ... but the caller's original view survives the call
    assert(spark.table("graft_prior_view").collect().map(_.getInt(0)).toSeq === Seq(99))
    spark.catalog.dropTempView("graft_prior_view")
  }

  test("persist and broadcast are idempotent (RunOnce)") {
    val d = df(Seq(Seq(1)), "x:int")
    val p1 = engine.persist(d)
    val p2 = engine.persist(d)
    assert(p1 eq p2)
    val b1 = engine.broadcast(d)
    val b2 = engine.broadcast(d)
    assert(b1 eq b2)
    assert(p1.count() === 1)
  }

  test("persist caches a frame again after its cache entry is dropped") {
    import org.apache.spark.storage.StorageLevel
    val d = df(Seq(Seq(1)), "x:int")
    engine.persist(d)
    spark.catalog.clearCache()
    assert(d.storageLevel === StorageLevel.NONE)
    engine.persist(d)
    assert(d.storageLevel !== StorageLevel.NONE)
    d.unpersist()
    engine.persist(d, lazyPersist = false)
    assert(d.storageLevel !== StorageLevel.NONE)
    d.unpersist()
  }
}
