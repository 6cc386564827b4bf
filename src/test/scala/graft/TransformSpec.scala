package graft

import graft.schema.SchemaExpr
import graft.transform.Transform
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Logical-partition transform contract (reference: map_dataframe semantics,
 * execution_suite.py:208-365; null keys group together :533-544). */
class TransformSpec extends SparkTestBase {

  test("mapPartitions carries timestamp/struct/array/binary columns intact " +
      "(reference map_with_special_values/dict_col/binary)") {
    val ts = java.sql.Timestamp.valueOf("2024-06-01 12:00:00")
    val d = engine.toDF(Seq(
      Seq(ts, Row(1L), Seq(1, 2), Array[Byte](1, 2)),
      Seq(null, Row(2L), Seq.empty[Int], Array.empty[Byte])),
      "a:datetime,s:{x:long},xs:[int],b:bytes")
    // identity transform keyed on the nullable timestamp: null keys form a
    // group; all nested payloads must round-trip through the Row encoder
    val out = Transform.mapPartitions(d, PartitionSpec(by = Seq("a")), d.schema)(
      (_, rows) => rows).collect().sortBy(r => Option(r.getTimestamp(0)).map(_.getTime).getOrElse(-1L))
    assert(out.length === 2)
    assert(out(0).isNullAt(0) && out(1).getTimestamp(0) === ts)
    assert(out(1).getStruct(1).getLong(0) === 1L)
    assert(out(1).getSeq[Int](2) === Seq(1, 2))
    assert(out(1).getAs[Array[Byte]](3).toSeq === Seq[Byte](1, 2))
    assert(out(0).getSeq[Int](2) === Nil)
    // schema-changing transform: drop the nested cols, keep the key
    val slim = Transform.mapPartitions(d, PartitionSpec(by = Seq("a")),
      SchemaExpr.parse("a:datetime")) { (_, rows) =>
      rows.map(r => Row(r.get(0)))
    }
    assert(slim.collect().length === 2)
  }

  test("mapPartitions groups by keys with presort; null keys form a group") {
    val d = df(Seq(
      Seq("a", 3), Seq("a", 1), Seq("b", 9), Seq(null, 5), Seq(null, 2)),
      "k:str,v:int")
    val out = Transform.mapPartitions(d,
      PartitionSpec(by = Seq("k"), presort = Seq("v" -> true)),
      SchemaExpr.parse("k:str,vs:str")) { (cursor, rows) =>
      val vs = rows.map(_.getInt(1)).mkString(",")
      Iterator.single(Row(cursor.keyValues.head, vs))
    }
    assertDfEq(out, Seq(Seq("a", "1,3"), Seq("b", "9"), Seq(null, "2,5")))
  }

  test("mapPartitions without keys: one call per physical partition") {
    val d = df((1 to 20).map(i => Seq(i)), "x:int").repartition(3)
    val out = Transform.mapPartitions(d, PartitionSpec.empty,
      SchemaExpr.parse("n:long")) { (_, rows) =>
      Iterator.single(Row(rows.size.toLong))
    }
    val counts = out.collect().map(_.getLong(0))
    assert(counts.sum === 20)
    assert(counts.length <= 3)
  }

  test("per_row alias: one logical partition per row") {
    // PartitionSpec("per_row") == (algo=even, num=ROWCOUNT) — reference
    // fugue/collections/partition.py:95,115-117
    assert(PartitionSpec("per_row") ===
      PartitionSpec(algo = "even", num = "ROWCOUNT"))
    assert(PartitionSpec("PER_ROW") ===
      PartitionSpec(algo = "even", num = "ROWCOUNT"))
    // any other string is a single partition-by column
    assert(PartitionSpec("a") === PartitionSpec(by = Seq("a")))
    val d = df((1 to 7).map(i => Seq(i)), "x:int")
    val out = Transform.mapPartitions(d, PartitionSpec("per_row"),
      SchemaExpr.parse("x:int,n:long")) { (_, rows) =>
      val buf = rows.toArray
      buf.iterator.map(r => Row(r.getInt(0), buf.length.toLong))
    }
    assertDfEq(out, (1 to 7).map(i => Seq(i, 1L)))
  }

  test("mapPartitions: empty input produces no calls") {
    val d = df(Seq(Seq(1)), "x:int").filter(col("x") > 100)
    val out = Transform.mapPartitions(d, PartitionSpec.empty,
      SchemaExpr.parse("n:long")) { (_, rows) =>
      Iterator.single(Row(rows.size.toLong))
    }
    assert(out.count() === 0)
  }

  test("mapPartitions: unconsumed group iterators are drained correctly") {
    val d = df(Seq(Seq("a", 1), Seq("a", 2), Seq("b", 3)), "k:str,v:int")
    // consume nothing from the iterator; groups must still advance
    val out = Transform.mapPartitions(d,
      PartitionSpec(by = Seq("k")),
      SchemaExpr.parse("k:str")) { (cursor, _) =>
      Iterator.single(Row(cursor.keyValues.head))
    }
    assertDfEq(out, Seq(Seq("a"), Seq("b")))
  }

  test("slice numbering restarts per physical partition") {
    val d = df(Seq(Seq("a", 1), Seq("b", 2), Seq("c", 3)), "k:str,v:int")
    val out = Transform.mapPartitions(d,
      PartitionSpec(algo = "hash", num = "1", by = Seq("k")),
      SchemaExpr.parse("k:str,slice:int")) { (cursor, rows) =>
      rows.foreach(_ => ())
      Iterator.single(Row(cursor.keyValues.head, cursor.sliceNo))
    }
    val slices = out.collect().map(r => r.getInt(1)).sorted
    assert(slices.toSeq === Seq(0, 1, 2)) // single physical partition → 0,1,2
  }

  test("coMap full_outer visits all keys with empty side iterators") {
    val l = df(Seq(Seq(1, "x"), Seq(1, "y"), Seq(2, "z")), "k:int,a:str")
    val r = df(Seq(Seq(2, 20.0), Seq(3, 30.0)), "k:int,b:double")
    val out = Transform.coMap(l, r, Seq("k"), "full_outer",
      SchemaExpr.parse("k:int,nl:long,nr:long")) { (k, ls, rs) =>
      Iterator.single(Row(k.head, ls.size.toLong, rs.size.toLong))
    }
    assertDfEq(out, Seq(Seq(1, 2L, 0L), Seq(2, 1L, 1L), Seq(3, 0L, 1L)))
  }

  test("coMap groups null keys together on both sides (r16 advice: pins " +
      "the column-based .as grouping's null semantics)") {
    // null keys on BOTH sides must meet as ONE cogroup (SQL grouping
    // semantics — the reference groups nulls together, and the r16 switch
    // from groupByKey(closure) to groupBy(cols).as claims this unchanged)
    val l = df(Seq(Seq(null, "x"), Seq(null, "y"), Seq("a", "z")), "k:str,a:str")
    val r = df(Seq(Seq(null, 1.0), Seq("b", 2.0)), "k:str,b:double")
    val out = Transform.coMap(l, r, Seq("k"), "full_outer",
      SchemaExpr.parse("k:str,nl:long,nr:long")) { (k, ls, rs) =>
      Iterator.single(Row(k.head, ls.size.toLong, rs.size.toLong))
    }
    assertDfEq(out,
      Seq(Seq(null, 2L, 1L), Seq("a", 1L, 0L), Seq("b", 0L, 1L)))
  }

  test("coMap inner/left_outer visit subsets") {
    val l = df(Seq(Seq(1, "x"), Seq(2, "z")), "k:int,a:str")
    val r = df(Seq(Seq(2, 20.0), Seq(3, 30.0)), "k:int,b:double")
    def run(how: String) = collectSorted(
      Transform.coMap(l, r, Seq("k"), how,
        SchemaExpr.parse("k:int")) { (k, ls, rs) =>
        ls.foreach(_ => ()); rs.foreach(_ => ())
        Iterator.single(Row(k.head))
      })
    assert(run("inner") === Seq(Seq(2)))
    assert(run("left_outer") === Seq(Seq(1), Seq(2)))
    assert(run("right_outer") === Seq(Seq(2), Seq(3)))
  }

  test("typed transform and transformGrouped") {
    import spark.implicits._
    val ds = spark.createDataset(Seq(("a", 1), ("a", 2), ("b", 5)))
    val out = Transform.transformGrouped(ds)(_._1) { (k, it) =>
      Iterator.single((k, it.map(_._2).sum))
    }
    assert(out.collect().toSet === Set(("a", 3), ("b", 5)))
    val doubled = Transform.transform(ds)(it => it.map(t => t._2 * 2))
    assert(doubled.collect().sorted.toSeq === Seq(2, 4, 10))
  }

  test("binary partition keys group correctly (element equality, not reference)") {
    val d = df(Seq(Seq("aa", 1), Seq("aa", 2), Seq("bb", 3)), "s:str,v:int")
      .select(encode(col("s"), "UTF-8").as("k"), col("v"))
    val out = Transform.mapPartitions(d, graft.PartitionSpec(by = Seq("k")),
      SchemaExpr.parse("n:long")) { (cur, rows) =>
      Iterator.single(Row(rows.size.toLong))
    }
    // two logical partitions, sized 2 and 1 — NOT three per-row slices
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("rand algo with keys delegates to hash (one visit per logical partition)") {
    val d = df(Seq(Seq("a", 1), Seq("a", 2), Seq("a", 3), Seq("b", 4)), "k:str,v:int")
      .repartition(4) // scatter before the spec repartition
    val out = Transform.mapPartitions(d,
      graft.PartitionSpec(algo = "rand", by = Seq("k"), num = "4"),
      SchemaExpr.parse("k:str,n:long")) { (cur, rows) =>
      Iterator.single(Row(cur.keyValues.head, rows.size.toLong))
    }
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 3L, "b" -> 1L)) // each key exactly once, complete
  }

  test("zipped path hands cotransformers ORIGINAL row shapes (keys not first)") {
    // key column deliberately NOT first: the zip structs must preserve the
    // original column order so coMap and the zipped path agree
    val l = df(Seq(Seq(10, 1), Seq(20, 1)), "v:int,k:int")
    val r = df(Seq(Seq(0.5, 1)), "b:double,k:int")
    val outSchema = SchemaExpr.parse("first_v:int,first_b:double")
    def fn(k: Seq[Any], ls: Iterator[Row], rs: Iterator[Row]): Iterator[Row] = {
      val lrows = ls.toSeq.sortBy(_.getInt(0))
      Iterator.single(Row(lrows.head.getInt(0), rs.next().getDouble(0)))
    }
    val viaCoMap = Transform.coMap(l, r, Seq("k"), "inner", outSchema)(fn)
      .collect().map(r0 => (r0.getInt(0), r0.getDouble(1))).toSeq
    val viaZip = Transform.coMapZipped(
      Transform.zipFrames(Seq(l, r), Seq("k")), outSchema)(fn)
      .collect().map(r0 => (r0.getInt(0), r0.getDouble(1))).toSeq
    assert(viaCoMap === Seq((10, 0.5)))
    assert(viaZip === viaCoMap)
  }

  test("validation rules match column names case-insensitively (like execution)") {
    import graft.transform.ExtensionValidation
    val schema = SchemaExpr.parse("dept:str,v:int")
    // execution resolves Dept → dept, so validation must accept it too
    ExtensionValidation.validate(
      Map("partitionby_has" -> "dept", "presort_has" -> "v desc",
        "input_has" -> "DEPT,v"),
      graft.PartitionSpec(by = Seq("Dept"), presort = Seq(("V", false))), schema)
    intercept[IllegalArgumentException](ExtensionValidation.validate(
      Map("partitionby_has" -> "missing"),
      graft.PartitionSpec(by = Seq("Dept")), schema))
  }

  test("zip how strings accepted uniformly by coMap and zipFrames") {
    val l = df(Seq(Seq(1, "x")), "k:int,a:str")
    val r = df(Seq(Seq(2, 1.0)), "k:int,b:double")
    val out = SchemaExpr.parse("k:int")
    for (how <- Seq("left outer", "LEFT_OUTER", "leftouter")) {
      assert(Transform.coMap(l, r, Seq("k"), how, out)(
        (k, ls, rs) => { ls.size; rs.size; Iterator.single(Row(k.head)) })
        .count() === 1, s"coMap '$how'")
      assert(Transform.zipFrames(Seq(l, r), Seq("k"), how).count() === 1,
        s"zipFrames '$how'")
    }
  }

  test("coMap reads the join word with engine.join's normalizer") {
    val l = df(Seq(Seq(1, "x"), Seq(2, "z")), "k:int,a:str")
    val r = df(Seq(Seq(2, 20.0), Seq(3, 30.0)), "k:int,b:double")
    def run(how: String) = collectSorted(Transform.coMap(l, r, Seq("k"), how,
      SchemaExpr.parse("k:int,nl:long,nr:long")) { (k, ls, rs) =>
      Iterator.single(Row(k.head, ls.size.toLong, rs.size.toLong))
    })
    assert(run("left") === run("left_outer"))
    assert(run("left") === Seq(Seq(1, 1L, 0L), Seq(2, 1L, 1L)))
    assert(run("Full") === run("full_outer"))
  }

  test("coMap and zipFrames reject cross, semi and anti on the driver") {
    val l = df(Nil, "k:int,a:str")
    val r = df(Nil, "k:int,b:double")
    for (how <- Seq("cross", "semi", "LEFT_ANTI")) {
      // thrown by the call itself: no plan is built, no job runs
      val e = intercept[IllegalArgumentException](
        Transform.coMap(l, r, Seq("k"), how, SchemaExpr.parse("k:int"))((_, _, _) => Iterator.empty))
      assert(e.getMessage.contains(s"'$how'"))
      intercept[IllegalArgumentException](Transform.zipFrames(Seq(l, r), Seq("k"), how))
    }
  }

  test("a presorted coMap sorts inside the cogroup's own sort") {
    val l = df(Seq(Seq(1, 3, "a")), "k:int,V:int,s:str")
    val r = df(Seq(Seq(1, 0.5)), "k:int,b:double")
    val out = Transform.coMap(l, r, Seq("k"), "inner", SchemaExpr.parse("k:int"),
      presort = Seq("v" -> false, "b" -> true)) { (k, ls, rs) =>
      ls.size; rs.size; Iterator.single(Row(k.head))
    }
    val plan = out.queryExecution.executedPlan.toString
    val sorts = "Sort \\[([^\\]]*)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(plan.contains("CoGroup"), plan)
    // each side sorts by the key, then by the presort fields it has
    assert(sorts.exists(_.matches("k#\\d+ ASC NULLS FIRST, V#\\d+ DESC NULLS LAST")), plan)
    assert(sorts.exists(_.matches("k#\\d+ ASC NULLS FIRST, b#\\d+ ASC NULLS LAST")), plan)
    assert(out.count() === 1)
  }
}
