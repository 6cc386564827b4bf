package graft

import graft.workflow.Workflow
import org.apache.spark.sql.functions._
import java.nio.file.Files

class WorkflowSpec extends SparkTestBase {

  test("deterministic UUIDs: same spec → same uuid, different → different") {
    val w = new Workflow(engine)
    val a1 = w.create(Seq(Seq(1)), "x:int").filter(col("x") > 0)
    val a2 = w.create(Seq(Seq(1)), "x:int").filter(col("x") > 0)
    val b = w.create(Seq(Seq(1)), "x:int").filter(col("x") > 1)
    assert(a1.uuid === a2.uuid)
    assert(a1.uuid !== b.uuid)
  }

  test("create() uuid is content-stable for binary/array literals") {
    def mk() = {
      val w = new Workflow(engine)
      w.create(Seq(Seq("x", Array[Byte](1, 2, 3))), "s:str,b:binary").uuid
    }
    // Array.toString would render JVM identity (`[B@...`) — a fresh uuid
    // per call, silently defeating deterministic checkpoints
    assert(mk() === mk())
    val w2 = new Workflow(engine)
    assert(w2.create(Seq(Seq("x", Array[Byte](9))), "s:str,b:binary").uuid !== mk())
  }

  test("identical sub-DAGs compute once; yields retrievable") {
    val w = new Workflow(engine)
    var evals = 0
    val base = w.create(Seq(Seq(1), Seq(2)), "x:int")
    val t1 = base.transform("count_once")(d => { evals += 1; d })
    val t2 = base.transform("count_once")(d => { evals += 1; d })
    t1.yield_("a")
    t2.yield_("b")
    val res = w.run()
    assert(evals === 1) // memoized by identical uuid
    assert(res("a").count() === 2)
  }

  test("deterministic checkpoint is reused across runs") {
    val dir = Files.createTempDirectory("graft_ckpt").toString
    var evals = 0
    def build(): Map[String, org.apache.spark.sql.DataFrame] = {
      val w = new Workflow(engine, checkpointDir = dir)
      w.create(Seq(Seq(1), Seq(2), Seq(3)), "x:int")
        .transform("expensive")(d => { evals += 1; d.filter(col("x") > 1) })
        .deterministicCheckpoint()
        .yield_("out")
      w.run()
    }
    assert(build()("out").count() === 2)
    assert(evals === 1)
    assert(build()("out").count() === 2)
    assert(evals === 1) // second run read the content-addressed parquet
  }

  test("deterministic checkpoint without _SUCCESS is recomputed, not served") {
    val dir = Files.createTempDirectory("graft_ckpt3").toString
    var evals = 0
    val w = new Workflow(engine, checkpointDir = dir)
    val node = w.create(Seq(Seq(1), Seq(2), Seq(3)), "x:int")
      .transform("expensive")(d => { evals += 1; d.filter(col("x") > 1) })
      .deterministicCheckpoint()
      .yield_("out")
    // a crashed write: parquet parts of other rows, no _SUCCESS marker
    engine.save(df(Seq(Seq(42)), "x:int"), s"$dir/${node.uuid}", "parquet")
    assert(new java.io.File(s"$dir/${node.uuid}/_SUCCESS").delete())
    assertDfEq(w.run()("out"), Seq(Seq(2), Seq(3)))
    assert(evals === 1)
    assert(new java.io.File(s"$dir/${node.uuid}/_SUCCESS").exists())
  }

  test("deterministic checkpoint over a load serves the rows the file holds now") {
    // also when a second reader auto-persists the load: its key must still see the files
    for (readTwice <- Seq(false, true)) {
      val dir = Files.createTempDirectory("graft_ckpt5").toString
      val src = s"$dir/in.parquet"
      def build(): org.apache.spark.sql.DataFrame = {
        val w = new Workflow(engine, checkpointDir = s"$dir/ckpt")
        val x = w.load(src, "parquet")
        if (readTwice) x.select(col("x")).yield_("all")
        x.filter(col("x") > 0).deterministicCheckpoint().yield_("out")
        w.run()("out")
      }
      engine.save(df(Seq(Seq(1), Seq(2)), "x:int"), src, "parquet")
      assertDfEq(build(), Seq(Seq(1), Seq(2)))
      // same path, same plan, other rows: the load's input fingerprint changes the key
      engine.save(df(Seq(Seq(7), Seq(8), Seq(9)), "x:int"), src, "parquet")
      assertDfEq(build(), Seq(Seq(7), Seq(8), Seq(9)))
    }
  }

  test("deterministic checkpoint on a load leaf is reused") {
    val dir = Files.createTempDirectory("graft_ckpt8").toString
    engine.save(df(Seq(Seq(1), Seq(2)), "x:int"), s"$dir/in.parquet", "parquet")
    def build() = {
      val w = new Workflow(engine, checkpointDir = s"$dir/ckpt")
      w.load(s"$dir/in.parquet", "parquet").deterministicCheckpoint().yield_("out")
      w.run()("out")
    }
    assertDfEq(build(), Seq(Seq(1), Seq(2)))
    assertDfEq(build(), Seq(Seq(1), Seq(2)))
    assert(new java.io.File(s"$dir/ckpt").list().length === 1)
  }

  test("a run's strong checkpoints share one run dir deleted on exit; deterministic ones stay") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_ckpt6").toString
    val w = new Workflow(engine, checkpointDir = dir)
    val base = w.create(Seq(Seq(1), Seq(2)), "x:int")
    base.transform("a")(identity).checkpoint().yield_("s1")
    base.transform("b")(identity).checkpoint().yield_("s2")
    val det = base.transform("c")(identity).deterministicCheckpoint().yield_("d")
    val res = w.run()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val runDirs = fs.listStatus(new Path(dir)).map(_.getPath).filter(_.getName.startsWith("run_"))
    assert(runDirs.length === 1)
    assert(fs.listStatus(runDirs.head).length === 2)
    assert(fs.cancelDeleteOnExit(runDirs.head))
    fs.deleteOnExit(runDirs.head)
    assert(!fs.cancelDeleteOnExit(fs.makeQualified(new Path(dir, det.uuid))))
    // yielded frames keep reading their checkpoint files
    assert(res("s1").count() === 2 && res("s2").count() === 2 && res("d").count() === 2)
  }

  test("strong checkpoint breaks lineage but preserves rows") {
    val w = new Workflow(engine, checkpointDir =
      Files.createTempDirectory("graft_ckpt2").toString)
    w.create(Seq(Seq(1), Seq(2)), "x:int")
      .transform("plus")(_.withColumn("y", col("x") * 2))
      .checkpoint()
      .yield_("out")
    val res = w.run()
    assertDfEq(res("out"), Seq(Seq(1, 2), Seq(2, 4)))
  }

  test("join through the DAG") {
    val w = new Workflow(engine)
    val l = w.create(Seq(Seq(1, "x"), Seq(2, "y")), "k:int,a:str")
    val r = w.create(Seq(Seq(1, 9.0)), "k:int,b:double").broadcast()
    l.join(r, "inner").yield_("j")
    assertDfEq(w.run()("j"), Seq(Seq(1, "x", 9.0)))
  }

  test("filter/select UUIDs stable across builds; distinct literals distinct") {
    def build(): (String, String, String) = {
      // the source frame is built INSIDE each build so its resolved columns
      // carry fresh exprIds — the UUIDs must be identical anyway
      val base = df(Seq(Seq(1, "x")), "v:int,t:str")
      val w = new Workflow(engine)
      val n = w.df(base, "base")
      val f = n.filter(base("v") > 1)
      val a1 = n.assign(Map("tag" -> lit("build#1")))
      val a2 = n.assign(Map("tag" -> lit("build#2")))
      (f.uuid, a1.uuid, a2.uuid)
    }
    val (f1, a11, a21) = build()
    val (f2, a12, a22) = build()
    assert(f1 === f2, "filter uuid must be stable across builds")
    assert(a11 === a12)
    assert(a11 !== a21, "distinct literals must produce distinct uuids")
    assert(a21 === a22)
  }

  test("full operator vocabulary as DAG nodes") {
    val w = new Workflow(engine)
    val a = w.create(Seq(Seq(1, 10.0), Seq(2, 20.0), Seq(2, 20.0), Seq(3, null)),
      "k:int,v:double")
    a.distinct().yield_("dist")
    a.dropna().yield_("clean")
    a.fillna(0.0).yield_("filled")
    a.take(1, PartitionSpec(presort = Seq("k" -> false))).yield_("top")
    a.rename(Map("v" -> "value")).yield_("ren")
    a.dropColumns(Seq("v")).yield_("slim")
    a.aggregate(Seq("k"), Seq(count(lit(1)).as("n"))).yield_("agg")
    val b = w.create(Seq(Seq(1, 10.0)), "k:int,v:double")
    a.union(b, distinct = false).yield_("uni")
    a.subtract(b).yield_("sub")
    val res = w.run()
    assert(res("dist").count() === 3)
    assert(res("clean").count() === 3)
    assert(res("filled").filter(col("v") === 0.0).count() === 1)
    assert(res("top").head().getInt(0) === 3)
    assert(res("ren").columns.toSeq === Seq("k", "value"))
    assert(res("slim").columns.toSeq === Seq("k"))
    assert(res("agg").count() === 3)
    assert(res("uni").count() === 5)
    assert(res("sub").collect().map(_.getInt(0)).toSet === Set(2, 3))
  }

  test("zip + cotransform nodes through the DAG") {
    import org.apache.spark.sql.Row
    val w = new Workflow(engine)
    val l = w.create(Seq(Seq(1, "x"), Seq(1, "y"), Seq(2, "z")), "k:int,a:str")
    val r = w.create(Seq(Seq(1, 10.0)), "k:int,b:double")
    l.zip(r, Seq("k"), "full_outer")
      .cotransform("counts", graft.schema.SchemaExpr.parse("k:int,nl:long,nr:long")) {
        (key, ls, rs) => Iterator.single(Row(key.head, ls.size.toLong, rs.size.toLong))
      }
      .yield_("out")
    assertDfEq(w.run()("out"), Seq(Seq(1, 2L, 1L), Seq(2, 1L, 0L)))
  }

  test("assert_eq and show output nodes") {
    val w = new Workflow(engine)
    val a = w.create(Seq(Seq(1), Seq(2)), "x:int")
    val b = w.create(Seq(Seq(2), Seq(1)), "x:int") // same multiset, any order
    w.assertEq(a, b)
    w.show(Seq(a), 1)
    w.run() // must not throw
    val w2 = new Workflow(engine)
    val c = w2.create(Seq(Seq(1)), "x:int")
    val d = w2.create(Seq(Seq(3)), "x:int")
    w2.assertEq(c, d)
    intercept[AssertionError](w2.run())
  }

  test("quality-check gate node: green passes through, violation fails run()") {
    import graft.functions.Checks
    val w = new Workflow(engine)
    val a = w.create(Seq(Seq(1L, 5.0), Seq(2L, 6.0)), "id:long,v:double")
    val gated = w.check(a, Seq(Checks.unique("id"), Checks.minValue("v", 0)))
    gated.yield_("out")
    val res = w.run()
    assert(res("out").count() === 2) // frame passes through the gate
    val w2 = new Workflow(engine)
    val b = w2.create(Seq(Seq(1L, -5.0)), "id:long,v:double")
    w2.check(b, Seq(Checks.minValue("v", 0)))
    val e = intercept[IllegalStateException](w2.run())
    assert(e.getMessage.contains("min>=0.0 on v"))
  }

  test("DfUtils.dfEq: schema, order, float digits") {
    import graft.api.DfUtils
    val a = df(Seq(Seq(1, 1.00001), Seq(2, 2.0)), "k:int,v:double")
    val b = df(Seq(Seq(2, 2.0), Seq(1, 1.00002)), "k:int,v:double")
    assert(!DfUtils.dfEq(a, b)) // exact differs
    assert(DfUtils.dfEq(a, b, floatDigits = Some(3))) // rounded matches
    assert(!DfUtils.dfEq(a, b, checkOrder = true, floatDigits = Some(3))) // order differs
    val c = df(Seq(Seq(1L, 1.0)), "k:long,v:double")
    assert(!DfUtils.dfEq(a, c)) // schema differs
  }
}
