package graft

import graft.sql.GraftSql
import graft.sql.GraftSql.TransformerDef
import org.apache.spark.sql.Row
import java.nio.file.Files

class GraftSqlSpec extends SparkTestBase {

  private def d1 = df(Seq(Seq("a", 3), Seq("a", 1), Seq("b", 9), Seq("b", 2)), "k:str,v:int")

  private val rootAtStart = SparkTestBase.scratch

  test("statement splitting tolerates multi-line SELECT and comments") {
    val stmts = GraftSql.splitStatements(
      """-- a comment
        |x = SELECT k, v
        |  WHERE v > 1
        |TAKE 2 ROWS FROM x PRESORT v DESC
        |""".stripMargin)
    assert(stmts.length === 2)
    assert(stmts.head.startsWith("x = SELECT"))
  }

  test("SELECT passthrough with named refs and implicit FROM") {
    val res = GraftSql.run(engine,
      """big = SELECT k, v FROM input WHERE v > 1
        |SELECT k, v
        |YIELD AS out
        |""".stripMargin, Map("input" -> d1))
    assertDfEq(res.yields("out"), Seq(Seq("a", 3), Seq("b", 9), Seq("b", 2)))
  }

  test("TAKE with prepartition/presort; SAMPLE; DISTINCT") {
    val res = GraftSql.run(engine,
      """top = TAKE 1 ROWS FROM input PREPARTITION BY k PRESORT v DESC
        |YIELD top AS top
        |""".stripMargin, Map("input" -> d1))
    assertDfEq(res.yields("top"), Seq(Seq("a", 3), Seq("b", 9)))
    val s = GraftSql.run(engine,
      "SAMPLE 50 PERCENT SEED 42 FROM input", Map("input" -> d1))
    assert(s.last.get.count() <= 4)
  }

  test("DROPNA / FILLNA / RENAME / ALTER / DROP COLUMNS") {
    val withNull = df(Seq(Seq("a", 1.0), Seq(null, 2.0)), "k:str,v:double")
    val res = GraftSql.run(engine,
      """clean = DROPNA ANY FROM input
        |YIELD clean AS clean
        |filled = FILLNA PARAMS k:zz FROM input
        |YIELD filled AS filled
        |ren = RENAME COLUMNS k:key FROM input
        |YIELD ren AS ren
        |alt = ALTER COLUMNS v:int FROM input
        |YIELD alt AS alt
        |dropped = DROP COLUMNS v FROM input
        |YIELD dropped AS dropped
        |""".stripMargin, Map("input" -> withNull))
    assertDfEq(res.yields("clean"), Seq(Seq("a", 1.0)))
    assertDfEq(res.yields("filled"), Seq(Seq("a", 1.0), Seq("zz", 2.0)))
    assert(res.yields("ren").columns.toSeq === Seq("key", "v"))
    assert(res.yields("alt").schema("v").dataType.typeName === "integer")
    assert(res.yields("dropped").columns.toSeq === Seq("k"))
  }

  test("LOAD and SAVE round-trip") {
    val dir = Files.createTempDirectory("graftsql").toString
    GraftSql.run(engine,
      s"""SELECT k, v FROM input
         |SAVE OVERWRITE PARQUET "$dir/t"
         |""".stripMargin, Map("input" -> d1))
    val res = GraftSql.run(engine, s"""LOAD PARQUET "$dir/t"""")
    assert(res.last.get.count() === 4)
  }

  test("load/save infer the format from the last non-empty path segment") {
    val dir = Files.createTempDirectory("graftsql").toString
    engine.save(d1, s"$dir/out.csv")
    assert(new java.io.File(s"$dir/out.csv").list().exists(_.endsWith(".csv")))
    // a trailing slash used to leave "csv/" as the extension: read as parquet
    assertDfEq(engine.load(s"$dir/out.csv/", columns = Seq("k:str", "v:int")),
      Seq(Seq("a", 3), Seq("a", 1), Seq("b", 9), Seq("b", 2)))
    // a dot in a parent directory names no format; neither does a bare name
    engine.save(d1, s"$dir/v1.csv/part")
    engine.save(d1, s"$dir/csv")
    Seq(s"$dir/v1.csv/part", s"$dir/csv").foreach { p =>
      assert(new java.io.File(p).list().exists(_.endsWith(".parquet")), p)
      assert(engine.load(p).count() === 4)
    }
  }

  test("LOAD COLUMNS / DROP COLUMNS / PREPARTITION BY accept backtick-quoted names with spaces and commas") {
    // r10 regression: kwArg tokenized on [^\s,]+ so `x y` captured as `x
    // and the q117 odd-column gate query threw UNRESOLVED_COLUMN
    val dir = Files.createTempDirectory("graftsql").toString
    val odd = d1.toDF("x y", "a,b")
    GraftSql.run(engine,
      s"""SAVE input OVERWRITE PARQUET "$dir/odd"""", Map("input" -> odd))
    val loaded = GraftSql.run(engine,
      s"""LOAD PARQUET "$dir/odd" COLUMNS `x y`, `a,b`""").last.get
    assert(loaded.columns.toSeq === Seq("x y", "a,b"))
    assert(loaded.count() === 4)
    val dropped = GraftSql.run(engine,
      s"""one = LOAD PARQUET "$dir/odd"
         |DROP COLUMNS `a,b` FROM one
         |""".stripMargin).last.get
    assert(dropped.columns.toSeq === Seq("x y"))
    // PREPARTITION BY a spaced name must key on the whole column
    val taken = GraftSql.run(engine,
      s"""t = LOAD PARQUET "$dir/odd"
         |TAKE 1 ROW FROM t PREPARTITION BY `x y` PRESORT `a,b` ASC
         |""".stripMargin).last.get
    assert(taken.count() === odd.select("x y").distinct().count())
    // RENAME / ALTER / FILLNA / DROPNA with quoted odd names
    val renamed = GraftSql.run(engine,
      s"""one = LOAD PARQUET "$dir/odd"
         |RENAME COLUMNS `x y`:`z w`, `a,b`:plain FROM one
         |""".stripMargin).last.get
    assert(renamed.columns.toSeq === Seq("z w", "plain"))
    val altered = GraftSql.run(engine,
      s"""one = LOAD PARQUET "$dir/odd"
         |ALTER COLUMNS `a,b`:str FROM one
         |""".stripMargin).last.get
    assert(altered.schema("a,b").dataType ===
      org.apache.spark.sql.types.StringType)
    val nullable = odd.selectExpr("`x y`",
      "CASE WHEN `a,b` > 2 THEN NULL ELSE `a,b` END AS `a,b`")
    val filled = GraftSql.run(engine,
      """FILLNA PARAMS `a,b`:0 FROM input""",
      Map("input" -> nullable)).last.get
    assert(filled.filter("`a,b` IS NULL").count() === 0)
    val dropped2 = GraftSql.run(engine,
      """DROPNA ON `a,b` FROM input""", Map("input" -> nullable)).last.get
    assert(dropped2.count() === nullable.filter("`a,b` IS NOT NULL").count())
  }

  test("TRANSFORM ... USING registered transformer with PREPARTITION") {
    val sumT = TransformerDef(
      outputSchema = (_, _) => graft.schema.SchemaExpr.parse("k:str,total:long"),
      fn = (cursor, rows, _) =>
        Iterator.single(Row(cursor.keyValues.head, rows.map(_.getInt(1).toLong).sum)))
    val res = GraftSql.run(engine,
      """TRANSFORM input PREPARTITION BY k USING sum_v
        |YIELD AS out
        |""".stripMargin,
      Map("input" -> d1), Map("sum_v" -> sumT))
    assertDfEq(res.yields("out"), Seq(Seq("a", 4L), Seq("b", 11L)))
  }

  test("PREPARTITION algo/num prefixes: EVEN ROWCOUNT (per-row) and HASH n BY") {
    // full reference clause (fugue/sql/_visitors.py:167-175): algo and a
    // ROWCOUNT-expression num ahead of BY/PRESORT
    val perRowT = TransformerDef(
      outputSchema = (_, _) => graft.schema.SchemaExpr.parse("k:str,n:long"),
      fn = (_, rows, _) => {
        val buf = rows.toArray
        buf.iterator.map(r => Row(r.getString(0), buf.length.toLong))
      })
    val res = GraftSql.run(engine,
      """TRANSFORM input PREPARTITION EVEN ROWCOUNT USING per_row_count
        |YIELD AS out
        |""".stripMargin,
      Map("input" -> d1), Map("per_row_count" -> perRowT))
    // one row per physical partition slice -> every n is 1
    val out = res.yields("out").collect()
    assert(out.length === d1.count())
    assert(out.forall(_.getLong(1) === 1L))
    // algo + literal num + BY still groups logically by k
    val sumT = TransformerDef(
      outputSchema = (_, _) => graft.schema.SchemaExpr.parse("k:str,total:long"),
      fn = (cursor, rows, _) =>
        Iterator.single(Row(cursor.keyValues.head, rows.map(_.getInt(1).toLong).sum)))
    val res2 = GraftSql.run(engine,
      """TRANSFORM input PREPARTITION HASH 2 BY k USING sum_v
        |YIELD AS out
        |""".stripMargin,
      Map("input" -> d1), Map("sum_v" -> sumT))
    assertDfEq(res2.yields("out"), Seq(Seq("a", 4L), Seq("b", 11L)))
  }

  test("unknown statement and unknown df raise") {
    intercept[IllegalArgumentException](GraftSql.run(engine, "FROBNICATE x"))
    intercept[IllegalArgumentException](
      GraftSql.run(engine, "TAKE 1 ROWS FROM missing"))
  }

  test("{{var}} template substitution") {
    val res = GraftSql.run(engine,
      """TAKE {{n}} ROWS FROM input PRESORT v DESC
        |YIELD AS out
        |""".stripMargin, Map("input" -> d1), Map.empty,
      vars = Map("n" -> "2"))
    assert(res.yields("out").count() === 2)
    intercept[IllegalArgumentException](
      GraftSql.run(engine, "TAKE {{missing}} ROWS FROM input",
        Map("input" -> d1)))
  }

  test("TRANSFORM SCHEMA hint with wildcard ops") {
    val upperT = TransformerDef(
      outputSchema = (in, _) => in, // overridden by the SCHEMA hint
      fn = (_, rows, _) => rows.map(r => Row(r.getString(0).toUpperCase, r.getInt(1), r.getInt(1) * 2L)))
    val res = GraftSql.run(engine,
      "TRANSFORM input USING up SCHEMA *,+twice:long\nYIELD AS out",
      Map("input" -> d1), Map("up" -> upperT))
    assert(res.yields("out").columns.toSeq === Seq("k", "v", "twice"))
    assert(res.yields("out").filter(org.apache.spark.sql.functions.col("k") === "A").count() === 2)
  }

  test("COTRANSFORM / PROCESS / OUTPUT with registered extensions") {
    import graft.sql.GraftSql.{CoTransformerDef, Extensions, OutputterDef, ProcessorDef}
    val l = df(Seq(Seq(1, "x"), Seq(1, "y"), Seq(2, "z")), "k:int,a:str")
    val r = df(Seq(Seq(1, 10.0), Seq(3, 30.0)), "k:int,b:double")
    var outputSeen = -1L
    val exts = Extensions(
      cotransformers = Map("counts" -> CoTransformerDef(
        outputSchema = (_, _, _) => graft.schema.SchemaExpr.parse("k:int,nl:long,nr:long"),
        fn = (key, ls, rs, _) =>
          Iterator.single(Row(key.head, ls.size.toLong, rs.size.toLong)))),
      processors = Map("concat" -> ProcessorDef(
        fn = (e, dfs, _) => e.union(dfs(0), dfs(1), distinct = false))),
      outputters = Map("record" -> OutputterDef(
        fn = (dfs, _) => outputSeen = dfs.head.count())))
    val res = GraftSql.runWith(engine,
      """z = COTRANSFORM l, r BY k FULL_OUTER USING counts
        |YIELD z AS zipped
        |p = PROCESS l, l USING concat
        |YIELD p AS doubled
        |OUTPUT p USING record
        |""".stripMargin, Map("l" -> l, "r" -> r), exts)
    assertDfEq(res.yields("zipped"),
      Seq(Seq(1, 2L, 1L), Seq(2, 1L, 0L), Seq(3, 0L, 1L)))
    assert(res.yields("doubled").count() === 6)
    assert(outputSeen === 6L)
  }

  test("ZIP then TRANSFORM with a cotransformer") {
    import graft.sql.GraftSql.{CoTransformerDef, Extensions}
    val l = df(Seq(Seq(1, "x"), Seq(1, "y"), Seq(2, "z")), "k:int,a:str")
    val r = df(Seq(Seq(1, 10.0), Seq(3, 30.0)), "k:int,b:double")
    val exts = Extensions(cotransformers = Map("counts" -> CoTransformerDef(
      outputSchema = (_, _, _) => graft.schema.SchemaExpr.parse("k:int,nl:long,nr:long"),
      fn = (key, ls, rs, _) =>
        Iterator.single(Row(key.head, ls.size.toLong, rs.size.toLong)))))
    val res = GraftSql.runWith(engine,
      """z = ZIP l, r FULL OUTER BY k
        |TRANSFORM z USING counts
        |YIELD AS out
        |""".stripMargin, Map("l" -> l, "r" -> r), exts)
    assertDfEq(res.yields("out"),
      Seq(Seq(1, 2L, 1L), Seq(2, 1L, 0L), Seq(3, 0L, 1L)))
    // zipped frame shape: key + __zip_i struct arrays
    val z = GraftSql.runWith(engine, "ZIP l, r BY k\nYIELD AS z",
      Map("l" -> l, "r" -> r), exts).yields("z")
    assert(z.columns.toSeq === Seq("k", "__zip_0", "__zip_1"))
    assert(z.count() === 1) // inner: only k=1 in both
  }

  test("ZIP PRESORT orders rows within each key group") {
    import graft.sql.GraftSql.{CoTransformerDef, Extensions}
    val l = df(Seq(Seq(1, 30), Seq(1, 10), Seq(1, 20)), "k:int,v:int")
    val r = df(Seq(Seq(1, 0.0)), "k:int,b:double")
    val exts = Extensions(cotransformers = Map("firstv" -> CoTransformerDef(
      outputSchema = (_, _, _) => graft.schema.SchemaExpr.parse("k:int,first_v:int"),
      fn = (key, ls, rs, _) => {
        rs.size // consume
        Iterator.single(Row(key.head, ls.next().getInt(1)))
      })))
    val res = GraftSql.runWith(engine,
      """z = ZIP l, r BY k PRESORT v DESC
        |TRANSFORM z USING firstv
        |YIELD AS out
        |""".stripMargin, Map("l" -> l, "r" -> r), exts)
    assertDfEq(res.yields("out"), Seq(Seq(1, 30)))
  }

  test("TRANSFORM-level PRESORT on a zipped frame orders the iterators") {
    import graft.sql.GraftSql.{CoTransformerDef, Extensions}
    // ZIP has no PRESORT: the arrays are in arbitrary collect_list order.
    // The TRANSFORM statement's own PRESORT must sort them before the
    // cotransformer runs (regression: it used to only pass validation).
    val l = df(Seq(Seq(1, 30), Seq(1, 10), Seq(1, 20)), "k:int,v:int")
    val r = df(Seq(Seq(1, 5), Seq(1, 1)), "k:int,v:int")
    val exts = Extensions(cotransformers = Map("heads" -> CoTransformerDef(
      outputSchema = (_, _, _) => graft.schema.SchemaExpr.parse("k:int,lv:int,rv:int"),
      fn = (key, ls, rs, _) =>
        Iterator.single(Row(key.head, ls.next().getInt(1), rs.next().getInt(1))))))
    val res = GraftSql.runWith(engine,
      """z = ZIP l, r BY k
        |TRANSFORM z PRESORT v DESC USING heads
        |YIELD AS out
        |""".stripMargin, Map("l" -> l, "r" -> r), exts)
    // DESC: left head = 30, right head = 5
    assertDfEq(res.yields("out"), Seq(Seq(1, 30, 5)))
    val resAsc = GraftSql.runWith(engine,
      """z = ZIP l, r BY k
        |TRANSFORM z PRESORT v ASC USING heads
        |YIELD AS out
        |""".stripMargin, Map("l" -> l, "r" -> r), exts)
    assertDfEq(resAsc.yields("out"), Seq(Seq(1, 10, 1)))
  }

  test("ZIP and COTRANSFORM read every join word engine.join reads") {
    import graft.sql.GraftSql.{CoTransformerDef, Extensions}
    val l = df(Seq(Seq(1, "x"), Seq(1, "y"), Seq(2, "z")), "k:int,a:str")
    val r = df(Seq(Seq(1, 10.0), Seq(3, 30.0)), "k:int,b:double")
    val exts = Extensions(cotransformers = Map("counts" -> CoTransformerDef(
      outputSchema = (_, _, _) => graft.schema.SchemaExpr.parse("k:int,nl:long,nr:long"),
      fn = (key, ls, rs, _) =>
        Iterator.single(Row(key.head, ls.size.toLong, rs.size.toLong)))))
    def run(script: String) = GraftSql.runWith(engine, script + "\nYIELD AS out",
      Map("l" -> l, "r" -> r), exts).yields("out")
    val full = Seq(Seq(1, 2L, 1L), Seq(2, 1L, 0L), Seq(3, 0L, 1L))
    val left = Seq(Seq(1, 2L, 1L), Seq(2, 1L, 0L))
    assertDfEq(run("ZIP l, r LEFT_OUTER BY k\nTRANSFORM USING counts"), left)
    assertDfEq(run("ZIP l, r LEFT BY k\nTRANSFORM USING counts"), left)
    assertDfEq(run("ZIP l, r FULL_OUTER BY k\nTRANSFORM USING counts"), full)
    assertDfEq(run("COTRANSFORM l, r LEFT  OUTER BY k USING counts"), left)
    assertDfEq(run("COTRANSFORM l, r BY k right_outer USING counts"),
      Seq(Seq(1, 2L, 1L), Seq(3, 0L, 1L)))
    for (script <- Seq("ZIP l, r CROSS BY k", "COTRANSFORM l, r CROSS BY k USING counts")) {
      val e = intercept[IllegalArgumentException](run(script))
      assert(e.getMessage.contains("'CROSS'"), script)
    }
  }

  test("COTRANSFORM PRESORT orders the cogrouped iterators") {
    import graft.sql.GraftSql.{CoTransformerDef, Extensions}
    // regression: PRESORT used to pass presort_has/is validation but the
    // cogroup iterators stayed in arbitrary shuffle order
    val l = df(Seq(Seq(1, 30), Seq(1, 10), Seq(1, 20)), "k:int,v:int")
    val r = df(Seq(Seq(1, 5), Seq(1, 1)), "k:int,v:int")
    val exts = Extensions(cotransformers = Map("heads" -> CoTransformerDef(
      outputSchema = (_, _, _) => graft.schema.SchemaExpr.parse("k:int,lv:int,rv:int"),
      fn = (key, ls, rs, _) =>
        Iterator.single(Row(key.head, ls.next().getInt(1), rs.next().getInt(1))))))
    val res = GraftSql.runWith(engine,
      """COTRANSFORM l, r BY k PRESORT v DESC USING heads
        |YIELD AS out
        |""".stripMargin, Map("l" -> l, "r" -> r), exts)
    assertDfEq(res.yields("out"), Seq(Seq(1, 30, 5)))
    val resAsc = GraftSql.runWith(engine,
      """COTRANSFORM l, r BY k PRESORT v ASC USING heads
        |YIELD AS out
        |""".stripMargin, Map("l" -> l, "r" -> r), exts)
    assertDfEq(resAsc.yields("out"), Seq(Seq(1, 10, 1)))
    // nulls sort LAST in both directions (repo presort convention /
    // pandas na_position="last"), and field names resolve case-insensitively
    val ln = df(Seq(Seq(1, null), Seq(1, 10), Seq(1, 20)), "k:int,v:int")
    val resNull = GraftSql.runWith(engine,
      """COTRANSFORM ln, r BY k PRESORT V ASC USING heads
        |YIELD AS out
        |""".stripMargin, Map("ln" -> ln, "r" -> r), exts)
    assertDfEq(resNull.yields("out"), Seq(Seq(1, 10, 1)))
  }

  test("SUB USING module invokes a registered sub-pipeline") {
    import graft.sql.GraftSql.{Extensions, ModuleDef}
    val d = df(Seq(Seq(1, 30), Seq(2, 10), Seq(3, 20)), "k:int,v:int")
    val sideEffect = new java.util.concurrent.atomic.AtomicLong(0)
    val exts = Extensions(modules = Map(
      "topv" -> ModuleDef((eng, dfs, params) => {
        val n = params.getOrElse("n", "1").toInt
        Some(eng.take(dfs.head, n, graft.PartitionSpec(presort = Seq("v" -> false))))
      }),
      "audit" -> ModuleDef((_, dfs, _) => {
        sideEffect.set(dfs.head.count()); None
      })))
    // explicit df ref + params; result becomes the statement output
    val res = GraftSql.runWith(engine,
      """SUB d USING topv(n:2)
        |YIELD AS out
        |""".stripMargin, Map("d" -> d), exts)
    assertDfEq(res.yields("out"), Seq(Seq(1, 30), Seq(3, 20)))
    // implicit previous-df input + side-effect-only module (returns None)
    GraftSql.runWith(engine,
      """SELECT * FROM d WHERE v > 15
        |SUB USING audit
        |""".stripMargin, Map("d" -> d), exts)
    assert(sideEffect.get() === 2L)
    // inline parenthesized sub-statement as the module input
    GraftSql.runWith(engine,
      "SUB (SELECT * FROM d WHERE v > 25) USING audit",
      Map("d" -> d), exts)
    assert(sideEffect.get() === 1L)
  }

  test("TRANSFORM with CALLBACK drains messages by end of run") {
    import graft.sql.GraftSql.Extensions
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val cbT = TransformerDef(
      outputSchema = (in, _) => in,
      fn = (_, rows, _) => rows,
      cbFn = Some((_, rows, _, ch) => {
        val out = rows.toVector
        ch.post("rows", out.size.toString)
        out.iterator
      }))
    val exts = Extensions(
      transformers = Map("counter" -> cbT),
      callbacks = Map("acc" -> ((_, msg) => { seen.addAndGet(msg.toLong); () })))
    // the action (PRINT) runs inside the script, so posts exist by the
    // end-of-run drain — the contract for lazy TRANSFORM + CALLBACK
    GraftSql.runWith(engine,
      """t = TRANSFORM input PREPARTITION BY k USING counter CALLBACK acc
        |PRINT t
        |""".stripMargin, Map("input" -> d1), exts)
    assert(seen.get() >= 4L) // 4 rows observed (PRINT may scan twice)
  }

  test("CREATE literal data and CREATE USING creator") {
    import graft.sql.GraftSql.{CreatorDef, Extensions}
    val res = GraftSql.run(engine,
      """CREATE [[0, "x"], [1, "y"]] SCHEMA a:long,b:str
        |YIELD AS out
        |""".stripMargin)
    assertDfEq(res.yields("out"), Seq(Seq(0L, "x"), Seq(1L, "y")))
    val res2 = GraftSql.run(engine,
      "CREATE DATA [[1.5], [2.5]] SCHEMA x:double\nYIELD AS out")
    assertDfEq(res2.yields("out"), Seq(Seq(1.5), Seq(2.5)))
    // nested array literal
    val res4 = GraftSql.run(engine,
      "CREATE [[1, [1, 2]], [2, []]] SCHEMA id:long,xs:[long]\nYIELD AS out")
    assert(res4.yields("out").count() === 2)
    assert(res4.yields("out").filter("id = 1").head().getSeq[Long](1) === Seq(1L, 2L))
    val exts = Extensions(creators = Map("three" -> CreatorDef(
      fn = (e, params) => e.toDF(Seq(Seq(params("n").toLong)), "n:long"))))
    val res3 = GraftSql.runWith(engine,
      "CREATE USING three(n:3)\nYIELD AS out", Map.empty, exts)
    assertDfEq(res3.yields("out"), Seq(Seq(3L)))
  }

  test("PRINT options parse and run (rows/ROWCOUNT/TITLE)") {
    // output goes to stdout; assert it executes without error on both forms
    GraftSql.run(engine,
      """PRINT 2 ROWS FROM input ROWCOUNT TITLE "hello"
        |PRINT input
        |""".stripMargin, Map("input" -> d1))
  }

  test("LOAD with params; SAVE AND USE; SAVE PREPARTITION BY") {
    val dir = Files.createTempDirectory("graftsql2").toString
    val res = GraftSql.run(engine,
      s"""SELECT k, v FROM input
         |used = SAVE AND USE OVERWRITE PARQUET "$dir/t1"
         |YIELD used AS used
         |""".stripMargin, Map("input" -> d1))
    assert(res.yields("used").count() === 4)
    // partitioned save: hive-style k=... dirs
    GraftSql.run(engine,
      s"""SELECT k, v FROM input
         |SAVE PREPARTITION BY k OVERWRITE PARQUET "$dir/t2"
         |""".stripMargin, Map("input" -> d1))
    assert(new java.io.File(s"$dir/t2").listFiles().exists(_.getName.startsWith("k=")))
    // csv with explicit params (header off)
    GraftSql.run(engine,
      s"""SELECT k, v FROM input
         |SAVE OVERWRITE CSV "$dir/t3" SINGLE (header:false)
         |""".stripMargin, Map("input" -> d1))
    val loaded = GraftSql.run(engine,
      s"""LOAD CSV "$dir/t3" (header:false, inferSchema:true)""").last.get
    assert(loaded.count() === 4)
  }

  test("checkpoint keywords: WEAK LAZY, STRONG, DETERMINISTIC reuse") {
    val res = GraftSql.run(engine,
      """SELECT k, v FROM input
        |WEAK CHECKPOINT LAZY
        |YIELD AS weak
        |SELECT k FROM input
        |STRONG CHECKPOINT
        |YIELD AS strong
        |""".stripMargin, Map("input" -> d1))
    assert(res.yields("weak").count() === 4)
    assert(res.yields("strong").count() === 4)
    // deterministic over a file-backed input: same plan and same files →
    // same content-addressed path, the second run reuses it
    val src = Files.createTempDirectory("graftsql_det").toString + "/in.parquet"
    engine.save(d1, src, "parquet")
    val input = engine.load(src, "parquet")
    val r1 = GraftSql.run(engine, detScript, Map("input" -> input))
    val r2 = GraftSql.run(engine, detScript, Map("input" -> input))
    assert(r1.yields("out").count() === 3)
    assert(r2.yields("out").count() === 3)
    // the reused frame is a parquet scan of the same checkpoint files
    assert(r2.yields("out").queryExecution.optimizedPlan.toString.contains("Relation"))
    assert(r2.yields("out").inputFiles.toSet === r1.yields("out").inputFiles.toSet)
  }

  private val detScript =
    """SELECT k, v FROM input WHERE v > 1
      |DETERMINISTIC CHECKPOINT "spec_ns"
      |YIELD AS out
      |""".stripMargin

  test("DETERMINISTIC CHECKPOINT serves the rows of the input it reads") {
    // two parquet files bound to one view name: the statement text is the
    // same, the rows are not
    val dir = Files.createTempDirectory("graftsql_det2").toString
    val a = df(Seq(Seq("a", 5), Seq("b", 6), Seq("c", 0)), "k:str,v:int")
    val b = df(Seq(Seq("x", 9), Seq("y", 9)), "k:str,v:int")
    engine.save(a, s"$dir/a.parquet", "parquet")
    engine.save(b, s"$dir/b.parquet", "parquet")
    def out(input: org.apache.spark.sql.DataFrame) =
      GraftSql.run(engine, detScript, Map("input" -> input)).yields("out")
    assertDfEq(out(engine.load(s"$dir/a.parquet", "parquet")), Seq(Seq("a", 5), Seq("b", 6)))
    assertDfEq(out(engine.load(s"$dir/b.parquet", "parquet")), Seq(Seq("x", 9), Seq("y", 9)))
    // in-memory inputs have no content key: each run recomputes
    assertDfEq(out(a), Seq(Seq("a", 5), Seq("b", 6)))
    assertDfEq(out(b), Seq(Seq("x", 9), Seq("y", 9)))
  }

  test("DETERMINISTIC CHECKPOINT recomputes a directory without _SUCCESS") {
    val src = Files.createTempDirectory("graftsql_det3").toString + "/in.parquet"
    engine.save(d1, src, "parquet")
    val input = engine.load(src, "parquet")
    val first = GraftSql.run(engine, detScript, Map("input" -> input)).yields("out")
    val ckpt = new java.io.File(new java.net.URI(first.inputFiles.head)).getParentFile
    // a crashed write: parquet parts of other rows, no _SUCCESS marker
    engine.save(df(Seq(Seq("zz", 99)), "k:str,v:int"), ckpt.getPath, "parquet")
    assert(new java.io.File(ckpt, "_SUCCESS").delete())
    val again = GraftSql.run(engine, detScript, Map("input" -> input)).yields("out")
    assertDfEq(again, Seq(Seq("a", 3), Seq("b", 9), Seq("b", 2)))
    assert(new java.io.File(ckpt, "_SUCCESS").exists())
  }

  test("DETERMINISTIC CHECKPOINT after LOAD serves the rows the file holds now") {
    // also when another statement reads the LOAD or input frame, which
    // auto-persists it: its key must still see the files
    val src = Files.createTempDirectory("graftsql_det4").toString + "/in.parquet"
    val tail =
      """SELECT k, v FROM x WHERE v > 0
        |DETERMINISTIC CHECKPOINT
        |YIELD AS out
        |""".stripMargin
    val readAgain = "SELECT k FROM x\nYIELD AS keys\n"
    val load = s"x = LOAD PARQUET \"$src\"\n"
    val runs = Seq(
      () => GraftSql.run(engine, load + tail),
      () => GraftSql.run(engine, load + tail + readAgain),
      () => GraftSql.run(engine, tail + readAgain, Map("x" -> spark.read.parquet(src))))
    for (run <- runs) {
      engine.save(d1, src, "parquet")
      assertDfEq(run().yields("out"), Seq(Seq("a", 3), Seq("a", 1), Seq("b", 9), Seq("b", 2)))
      engine.save(df(Seq(Seq("z", 5)), "k:str,v:int"), src, "parquet")
      assertDfEq(run().yields("out"), Seq(Seq("z", 5)))
    }
  }

  test("a reused DETERMINISTIC CHECKPOINT skips the SUB it reads from") {
    import graft.sql.GraftSql.{Extensions, ModuleDef}
    val src = Files.createTempDirectory("graftsql_det6").toString + "/in.parquet"
    engine.save(d1, src, "parquet")
    var calls = 0
    val exts = Extensions(modules = Map("audit" -> ModuleDef((_, _, _) => { calls += 1; None })))
    val script =
      s"""LOAD PARQUET "$src"
         |SUB USING audit
         |DETERMINISTIC CHECKPOINT
         |YIELD AS out
         |""".stripMargin
    for (_ <- 1 to 2) assert(GraftSql.runWith(engine, script, extensions = exts).yields("out").count() === 4)
    assert(calls === 1)
  }

  test("a SELECT naming a frame through IDENTIFIER reads it") {
    val res = GraftSql.run(engine,
      """a = SELECT k, v FROM input WHERE v > 2
        |SELECT k FROM IDENTIFIER('a')
        |YIELD AS out
        |""".stripMargin, Map("input" -> d1))
    assertDfEq(res.yields("out"), Seq(Seq("a"), Seq("b")))
  }

  test("a frame read by two later statements is persisted exactly once") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = GraftSql.run(engine,
      """a = SELECT k, v FROM input WHERE v > 1
        |b = SELECT k FROM a
        |c = SELECT v FROM a
        |YIELD b AS b
        |YIELD c AS c
        |""".stripMargin, Map("input" -> d1))
    assert(res.yields("b").count() === 3)
    assert(res.yields("c").count() === 3)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size === 1)
  }

  test("LOAD after SAVE to the same path reads the rows saved last") {
    val dir = Files.createTempDirectory("graftsql5").toString
    val res = GraftSql.run(engine,
      s"""SELECT k, v FROM input WHERE v > 2
         |SAVE AND USE OVERWRITE PARQUET "$dir/p"
         |LOAD PARQUET "$dir/p"
         |YIELD AS first
         |SELECT k, v FROM input WHERE v <= 2
         |SAVE OVERWRITE PARQUET "$dir/p"
         |LOAD PARQUET "$dir/p"
         |YIELD AS second
         |""".stripMargin, Map("input" -> d1))
    assertDfEq(res.yields("second"), Seq(Seq("a", 1), Seq("b", 2)))
  }

  test("SUB with a module that returns None passes its input through") {
    import graft.sql.GraftSql.{Extensions, ModuleDef}
    var seen = -1L
    val exts = Extensions(modules = Map(
      "audit" -> ModuleDef((_, dfs, _) => { seen = dfs.head.count(); None })))
    val res = GraftSql.runWith(engine,
      """SELECT k, v FROM input WHERE v > 2
        |SUB USING audit
        |YIELD AS out
        |""".stripMargin, Map("input" -> d1), exts)
    assert(seen === 2L)
    assertDfEq(res.yields("out"), Seq(Seq("a", 3), Seq("b", 9)))
  }

  test("a validation failure raised while the DAG runs names its statement") {
    val reqT = TransformerDef(
      outputSchema = (in, _) => in,
      fn = (_, rows, _) => rows,
      validation = Map("partitionby_has" -> "k"))
    val e = intercept[IllegalArgumentException](GraftSql.run(engine,
      "x = SELECT k, v FROM input\nTRANSFORM x USING t\nYIELD AS out",
      Map("input" -> d1), Map("t" -> reqT)))
    assert(e.getMessage.contains("partition key"))
    assert(e.getMessage.contains("[in statement: TRANSFORM x USING t]"))
  }

  test("YIELD FILE / TABLE / LOCAL variants") {
    val res = GraftSql.run(engine,
      """SELECT k, v FROM input
        |YIELD FILE AS yf
        |SELECT k FROM input
        |YIELD LOCAL DATAFRAME AS yl
        |""".stripMargin, Map("input" -> d1))
    assert(res.yields("yf").count() === 4)
    assert(res.yields("yl").count() === 4)
    val rt = GraftSql.run(engine,
      """SELECT k, v FROM input
        |YIELD TABLE AS graft_spec_yield_t
        |""".stripMargin, Map("input" -> d1))
    assert(rt.yields("graft_spec_yield_t").count() === 4)
    assert(engine.tableExists("graft_spec_yield_t"))
    engine.spark.sql("DROP TABLE IF EXISTS graft_spec_yield_t")
  }

  test("TRANSFORM multi-line SCHEMA hint is honored (regression)") {
    val upperT = TransformerDef(
      outputSchema = (in, _) => in, // must be overridden by the hint
      fn = (_, rows, _) => rows.map(r => Row(r.getString(0).toUpperCase, r.getInt(1), r.getInt(1) * 2L)))
    val res = GraftSql.run(engine,
      """TRANSFORM input USING up
        |  SCHEMA *,+twice:long
        |YIELD AS out
        |""".stripMargin,
      Map("input" -> d1), Map("up" -> upperT))
    assert(res.yields("out").columns.toSeq === Seq("k", "v", "twice"))
  }

  test("dangling 'name =' attaches the next statement line (regression)") {
    val res = GraftSql.run(engine,
      """x =
        |  SELECT k, v FROM input WHERE v > 2
        |YIELD x AS out
        |""".stripMargin, Map("input" -> d1))
    assertDfEq(res.yields("out"), Seq(Seq("a", 3), Seq("b", 9)))
  }

  test("SAMPLE n ROWS and TAKE 1 ROW singular") {
    val s = GraftSql.run(engine,
      "SAMPLE 2 ROWS SEED 7 FROM input", Map("input" -> d1))
    assert(s.last.get.count() === 2)
    val t = GraftSql.run(engine,
      "TAKE 1 ROW FROM input PRESORT v DESC", Map("input" -> d1))
    assertDfEq(t.last.get, Seq(Seq("b", 9)))
  }

  test("OUTTRANSFORM with CALLBACK delivers executor posts to the handler") {
    import graft.sql.GraftSql.Extensions
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val cbT = TransformerDef(
      outputSchema = (in, _) => in,
      fn = (_, rows, _) => rows,
      cbFn = Some((cursor, rows, _, ch) => {
        var n = 0L
        val out = rows.map { r => n += 1; r }.toVector
        ch.post("count", n.toString)
        out.iterator
      }))
    val exts = Extensions(
      transformers = Map("counter" -> cbT),
      callbacks = Map("acc" -> ((_, msg) => { seen.addAndGet(msg.toLong); () })))
    GraftSql.runWith(engine,
      "OUTTRANSFORM input PREPARTITION BY k USING counter CALLBACK acc",
      Map("input" -> d1), exts)
    assert(seen.get() === 4L) // 2 keys × 2 rows each
  }

  test("extension validation hooks fail fast with clear messages") {
    val reqT = TransformerDef(
      outputSchema = (in, _) => in,
      fn = (_, rows, _) => rows,
      validation = Map("partitionby_has" -> "k", "input_has" -> "k,v"))
    // satisfied: runs
    val ok = GraftSql.run(engine,
      "TRANSFORM input PREPARTITION BY k USING t\nYIELD AS out",
      Map("input" -> d1), Map("t" -> reqT))
    assert(ok.yields("out").count() === 4)
    // missing partition key: fails at build time
    val e1 = intercept[IllegalArgumentException](GraftSql.run(engine,
      "TRANSFORM input USING t", Map("input" -> d1), Map("t" -> reqT)))
    assert(e1.getMessage.contains("partition key"))
    // missing input column
    val e2 = intercept[IllegalArgumentException](GraftSql.run(engine,
      "TRANSFORM nov PREPARTITION BY k USING t",
      Map("input" -> d1, "nov" -> d1.drop("v")), Map("t" -> reqT)))
    assert(e2.getMessage.contains("column 'v'"))
    // presort_is exact match
    val sortT = reqT.copy(validation = Map("presort_is" -> "v desc"))
    GraftSql.run(engine,
      "TRANSFORM input PREPARTITION BY k PRESORT v DESC USING t",
      Map("input" -> d1), Map("t" -> sortT))
    val e3 = intercept[IllegalArgumentException](GraftSql.run(engine,
      "TRANSFORM input PREPARTITION BY k PRESORT v ASC USING t",
      Map("input" -> d1), Map("t" -> sortT)))
    assert(e3.getMessage.contains("presort"))
  }

  test("SAVE TO fails when target exists; STRONG CHECKPOINT SINGLE") {
    val dir = Files.createTempDirectory("graftsql3").toString
    GraftSql.run(engine,
      s"""SELECT k, v FROM input
         |SAVE TO PARQUET "$dir/once"
         |""".stripMargin, Map("input" -> d1))
    intercept[Exception](GraftSql.run(engine,
      s"""SELECT k, v FROM input
         |SAVE TO PARQUET "$dir/once"
         |""".stripMargin, Map("input" -> d1)))
    val res = GraftSql.run(engine,
      """SELECT k, v FROM input
        |STRONG CHECKPOINT SINGLE
        |YIELD AS out
        |""".stripMargin, Map("input" -> d1))
    assert(res.yields("out").count() === 4)
    assert(res.yields("out").rdd.getNumPartitions === 1)
  }

  test("built-in assert_eq and show outputters") {
    GraftSql.run(engine,
      """a = SELECT k, v FROM input WHERE v > 1
        |b = SELECT k, v FROM input WHERE v > 1
        |OUTPUT a, b USING assert_eq
        |OUTPUT a USING show(n:2)
        |""".stripMargin, Map("input" -> d1))
    intercept[AssertionError](GraftSql.run(engine,
      """a = SELECT k, v FROM input WHERE v > 1
        |b = SELECT k, v FROM input WHERE v > 5
        |OUTPUT a, b USING assert_eq
        |""".stripMargin, Map("input" -> d1)))
  }

  test("built-in curation processors drive a pipeline from the dialect") {
    val docs = df(Seq(
      Seq(1L, "the cat sat on the mat and the dog sat too"),
      Seq(2L, "the cat sat on the mat and the dog sat too"), // near-dup of 1
      Seq(3L, "contact me at bob@example.com for the details of the plan"),
      Seq(4L, "xy")), "doc_id:long,text:str") // fails min_tokens
    val res = GraftSql.run(engine,
      """clean = PROCESS docs USING redact_pii
        |kept = PROCESS clean USING quality_filter(min_tokens:3)
        |deduped = PROCESS kept USING drop_near_dups(threshold:0.9)
        |YIELD deduped AS deduped
        |scored = PROCESS deduped USING lm_score
        |YIELD scored AS scored
        |chunks = PROCESS deduped USING chunk_tokens(chunk:4, overlap:1)
        |YIELD chunks AS chunks
        |""".stripMargin, Map("docs" -> docs))
    val dedup = res.yields("deduped").collect()
    assert(dedup.map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L)) // 4 filtered, 2 deduped
    assert(dedup.find(_.getLong(0) == 3L).get.getString(1).contains("<EMAIL>"))
    assert(res.yields("scored").columns.toSeq ===
      Seq("doc_id", "n_tokens", "cross_entropy"))
    assert(res.yields("chunks").filter(org.apache.spark.sql.functions.col("doc_id") === 1L).count() > 1)
    // decontaminate takes (corpus, eval)
    val res2 = GraftSql.run(engine,
      """PROCESS docs, (SELECT * FROM docs WHERE doc_id = 1) USING decontaminate(k:3)
        |YIELD AS decon
        |""".stripMargin, Map("docs" -> docs))
    assert(res2.yields("decon").collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L))
    // user extensions with the same name win
    val res3 = GraftSql.runWith(engine,
      "PROCESS docs USING lm_score\nYIELD AS out",
      Map("docs" -> docs),
      GraftSql.Extensions(processors = Map("lm_score" ->
        GraftSql.ProcessorDef((_, dfs, _) => dfs.head.limit(1)))))
    assert(res3.yields("out").count() === 1)
  }

  test("built-in zorder and sketch_distinct processors from the dialect") {
    val rows = (0 until 512).map { i =>
      Seq(i.toLong, (i * 48271L) % 512, ((i * 16807L) % 512).toDouble,
        if (i % 2 == 0) "a" else "b")
    }
    val d = df(rows, "doc_id:long,x:long,y:double,src:str")
    val res = GraftSql.run(engine,
      """laid = PROCESS pts USING zorder(cols:"x,y", bits:4, partitions:4)
        |YIELD laid AS laid
        |est = PROCESS pts USING sketch_distinct(keys:src, col:doc_id)
        |YIELD est AS est
        |""".stripMargin, Map("pts" -> d))
    // zorder: content-preserving relayout
    assert(res.yields("laid").count() === 512L)
    assert(res.yields("laid").agg(
      org.apache.spark.sql.functions.sum("doc_id")).collect().head.getLong(0)
      === (0 until 512).map(_.toLong).sum)
    // sketch_distinct: 256 distinct ids per src value, rsd 1.6% at lgk=12
    val est = res.yields("est").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === Set("a", "b"))
    est.values.foreach(v => assert(math.abs(v - 256L) <= 13))
    // weighted_sample from the dialect: per-key sizes, weight column
    val res2 = GraftSql.run(engine,
      """s = PROCESS pts USING weighted_sample(n:5, w:y, by:src, id:doc_id)
        |YIELD s AS s
        |""".stripMargin, Map("pts" -> d))
    assert(res2.yields("s").groupBy("src").count().collect()
      .map(_.getLong(1)).toSeq === Seq(5L, 5L))
  }

  test("built-in frequent_items and span_dedup processors from the dialect") {
    val rows = (1 to 300).map(i =>
      Seq(i.toLong, if (i % 2 == 0) "g0" else "g1", "w" + (i % 5)))
    val d = df(rows, "doc_id:long,src:str,text:str")
    val res = GraftSql.run(engine,
      """hh = PROCESS stream USING frequent_items(keys:src, col:text, k:3)
        |YIELD hh AS hh
        |""".stripMargin, Map("stream" -> d))
    val hh = res.yields("hh").collect()
    assert(hh.nonEmpty && hh.forall(_.getLong(4) === 150L)) // n_rows per key
    hh.foreach(r => assert(r.getLong(2) >= 1L))             // estimates > 0
    val docs = df(Seq(
      Seq(1L, "p q r s t"), Seq(2L, "x p q r y")), "doc_id:long,text:str")
    val res2 = GraftSql.run(engine,
      """clean = PROCESS docs USING span_dedup(id:doc_id, col:text, span:3)
        |YIELD clean AS clean
        |""".stripMargin, Map("docs" -> docs))
    val out = res2.yields("clean").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "p q r s t" && out(2L) === "x y")
    // compact from the dialect: content-preserving relayout
    val res3 = GraftSql.run(engine,
      """c = PROCESS docs USING compact(target_mb:64)
        |YIELD c AS c
        |""".stripMargin, Map("docs" -> docs))
    assert(res3.yields("c").count() === 2L)
  }

  test("built-in line_dedup and bloom_line_dedup processors from the dialect") {
    val docs = df(Seq(
      Seq(1L, "keep a\nBUY NOW\nkeep b"),
      Seq(2L, "BUY NOW\nkeep c"),
      Seq(3L, "BUY NOW\nkeep d")),
      "doc_id:long,text:str")
    val res = GraftSql.run(engine,
      """e = PROCESS docs USING line_dedup(id:doc_id, col:text, max_df:2)
        |b = PROCESS docs USING bloom_line_dedup(id:doc_id, col:text, max_df:2, fpp:0.00000001)
        |YIELD e AS e
        |YIELD b AS b
        |""".stripMargin, Map("docs" -> docs))
    val e = res.yields("e").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = res.yields("b").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(e(1L) === "keep a\nkeep b" && e(2L) === "keep c" && e(3L) === "keep d")
    // fpp=1e-8 over 4 distinct kept lines makes an FP drop a non-event
    assert(b === e)
  }

  test("built-in cleanup/segment/cross-corpus processors from the dialect") {
    val docs = df(Seq(
      Seq(1L, "a b c d e f"),
      Seq(2L, "a b c z z z")), "doc_id:long,text:str")
    val ref = df(Seq(Seq(100L, "a b c d e f")), "doc_id:long,text:str")
    val res = GraftSql.run(engine,
      """cleaned = PROCESS docs USING clean_text
        |YIELD cleaned AS cleaned
        |segs = PROCESS docs USING dedup_segments(segment:3)
        |YIELD segs AS segs
        |stats = PROCESS docs USING ngram_stats(n:2)
        |YIELD stats AS stats
        |fresh = PROCESS docs, ref USING dedup_against(k:3, threshold:0.9)
        |YIELD fresh AS fresh
        |""".stripMargin, Map("docs" -> docs, "ref" -> ref))
    assert(res.yields("cleaned").count() === 2)
    // doc 1 owns "a b c"; doc 2 keeps only its own "z z z" tail
    val segs = res.yields("segs").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(segs(1L) === "a b c d e f" && segs(2L) === "z z z")
    assert(res.yields("stats").columns.toSeq ===
      Seq("doc_id", "top_ngram", "top_ngram_char_frac", "dup_ngram_char_frac"))
    // doc 1 duplicates the reference corpus → dropped; doc 2 survives
    assert(res.yields("fresh").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("built-in kmeans_cluster processor from the dialect") {
    // two well-separated direction clusters; cosine k-means must keep
    // each group together whatever the learned cluster ids are
    val emb = df(Seq(
      Seq(1L, Seq(1.0, 0.02, 0.0)), Seq(2L, Seq(0.9, 0.0, 0.01)),
      Seq(3L, Seq(1.1, 0.01, 0.02)),
      Seq(4L, Seq(0.0, 0.03, 1.0)), Seq(5L, Seq(0.01, 0.0, 0.95)),
      Seq(6L, Seq(0.02, 0.01, 1.05))), "vec_id:long,embedding:[double]")
    val res = GraftSql.run(engine,
      """c = PROCESS emb USING kmeans_cluster(id:vec_id, col:embedding, k:2, iters:2)
        |YIELD c AS c
        |""".stripMargin, Map("emb" -> emb))
    val got = res.yields("c").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(4L) === got(5L) && got(5L) === got(6L))
    assert(got(1L) !== got(4L))
  }

  test("built-in quality_report / quality_enforce / outliers / snapshot_diff processors") {
    val data = df(Seq(
      Seq(1L, 10.0, "a"), Seq(2L, 11.0, "a"), Seq(3L, 500.0, "a"),
      Seq(4L, 9.0, "b"), Seq(5L, 10.0, "b")), "id:long,v:double,grp:str")
    val rep = GraftSql.run(engine,
      """r = PROCESS src USING quality_report(rules:"not_null:id,unique:id,row_count:1:100,min:v:0,in_set:grp:a|b")
        |YIELD r AS r
        |""".stripMargin, Map("src" -> data)).yields("r").collect()
    assert(rep.length === 5)
    assert(rep.forall(_.getBoolean(3)), "all rules green on this frame")
    // enforce: failing rule raises and names the constraint
    val e = intercept[IllegalStateException] {
      GraftSql.run(engine,
        """r = PROCESS src USING quality_enforce(rules:"max:v:100")
          |YIELD r AS r
          |""".stripMargin, Map("src" -> data))
    }
    assert(e.getMessage.contains("max<=100.0 on v"))
    // outlier gate from the dialect
    val out = GraftSql.run(engine,
      """o = PROCESS src USING mad_outliers(col:v, by:grp)
        |f = SELECT id FROM o WHERE is_outlier
        |YIELD f AS f
        |""".stripMargin, Map("src" -> data)).yields("f").collect()
    assert(out.map(_.getLong(0)).toSet === Set(3L))
    // snapshot_diff over two named frames
    val after = df(Seq(
      Seq(1L, 10.0, "a"), Seq(2L, 99.0, "a"), Seq(4L, 9.0, "b"),
      Seq(5L, 10.0, "b"), Seq(6L, 1.0, "c")), "id:long,v:double,grp:str")
    val diff = GraftSql.run(engine,
      """d = PROCESS src, after USING snapshot_diff(keys:"id", hash:true)
        |YIELD d AS d
        |""".stripMargin, Map("src" -> data, "after" -> after))
      .yields("d").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff === Map(2L -> "changed", 3L -> "removed", 6L -> "added"))
  }

  test("built-in histogram and corr_matrix processors from the dialect") {
    val d = df((1 to 40).map(i => Seq(i.toLong, i.toDouble, (2 * i).toDouble)),
      "id:long,v:double,w:double")
    val h = GraftSql.run(engine,
      """h = PROCESS nums USING histogram(col:v, bins:4)
        |YIELD h AS h
        |""".stripMargin, Map("nums" -> d)).yields("h").collect()
    assert(h.length === 4)
    assert(h.map(_.getLong(3)).sum === 40L)
    val c = GraftSql.run(engine,
      """c = PROCESS nums USING corr_matrix(cols:"v,w")
        |YIELD c AS c
        |""".stripMargin, Map("nums" -> d)).yields("c").collect()
    assert(c.length === 1 && math.abs(c.head.getDouble(2) - 1.0) < 1e-9)
    intercept[IllegalArgumentException] {
      GraftSql.run(engine, "c = PROCESS nums USING corr_matrix\nYIELD c AS c",
        Map("nums" -> d))
    }
  }

  test("built-in ann_join processor from the dialect") {
    val emb = df(Seq(
      Seq(1L, Seq(1.0, 0.0)), Seq(2L, Seq(0.9, 0.1)),
      Seq(3L, Seq(0.0, 1.0)), Seq(4L, Seq(0.1, 0.9))),
      "vec_id:long,embedding:[double]")
    val res = GraftSql.run(engine,
      """n = PROCESS emb, emb USING ann_join(k:1, tables:8, bits:2, exclude_same_id:true)
        |YIELD n AS n
        |""".stripMargin, Map("emb" -> emb)).yields("n")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(res(1L) === 2L && res(2L) === 1L) // co-directional pairs found
    assert(res(3L) === 4L && res(4L) === 3L)
  }

  test("built-in pca / select_by_budget / overlap_estimate processors") {
    val emb = df((0 until 40).map(i =>
      Seq(i.toLong, Seq(i.toDouble, (i % 3).toDouble, 0.5))),
      "vec_id:long,embedding:[double]")
    val p = GraftSql.run(engine,
      """p = PROCESS emb USING pca(id:vec_id, k:2, out:proj)
        |YIELD p AS p
        |""".stripMargin, Map("emb" -> emb)).yields("p")
    assert(p.columns.toSeq === Seq("vec_id", "proj"))
    assert(p.head().getSeq[Double](1).length === 2)

    val docs = df(Seq(
      Seq(1L, 10L, 3L), Seq(2L, 20L, 2L), Seq(3L, 30L, 1L)),
      "id:long,n_tokens:long,score:long")
    val sel = GraftSql.run(engine,
      """s = PROCESS docs USING select_by_budget(id:id, rank:score, budget:30)
        |YIELD s AS s
        |""".stripMargin, Map("docs" -> docs)).yields("s")
    assert(sel.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L)) // score desc: 10 (cum 10) + 20 (cum 30); 30 overflows
    intercept[IllegalArgumentException] {
      GraftSql.run(engine, "s = PROCESS docs USING select_by_budget(id:id)\nYIELD s AS s",
        Map("docs" -> docs))
    }

    val a = df((1 to 30).map(i => Seq(s"t$i")), "text:str")
    val b = df((21 to 50).map(i => Seq(s"t$i")), "text:str")
    val ov = GraftSql.run(engine,
      """o = PROCESS a, b USING overlap_estimate(col:text)
        |YIELD o AS o
        |""".stripMargin, Map("a" -> a, "b" -> b)).yields("o").collect()(0)
    assert(math.abs(ov.getLong(2) - 50L) <= 2)
    assert(math.abs(ov.getLong(3) - 10L) <= 3)
  }

  test("built-in psi_drift and page_rank processors") {
    val before = df((1 to 200).map(i => Seq((i % 20).toDouble)), "v:double")
    val after = df((1 to 200).map(i => Seq(10.0 + (i % 10).toDouble)), "v:double")
    val psi = GraftSql.run(engine,
      """d = PROCESS before, after USING psi_drift(col:v, bins:5)
        |YIELD d AS d
        |""".stripMargin, Map("before" -> before, "after" -> after))
      .yields("d").collect()
    assert(psi.length === 5)
    assert(psi.map(_.getDouble(5)).sum > 0.25, "half-range shift flags")
    val langsB = df(Seq(Seq("en"), Seq("en"), Seq("fr")), "lang:str")
    val langsA = df(Seq(Seq("en"), Seq("ja"), Seq("ja")), "lang:str")
    val cd = GraftSql.run(engine,
      """c = PROCESS lb, la USING cat_drift(col:lang)
        |YIELD c AS c
        |""".stripMargin, Map("lb" -> langsB, "la" -> langsA)).yields("c")
    assert(cd.collect().map(_.getString(0)).sorted.toSeq === Seq("en", "fr", "ja"))

    val edges = df(Seq(Seq(1L, 2L), Seq(2L, 1L), Seq(3L, 1L)), "s:long,d:long")
    val pr = GraftSql.run(engine,
      """r = PROCESS edges USING page_rank(src:s, dst:d, iters:12)
        |YIELD r AS r
        |""".stripMargin, Map("edges" -> edges)).yields("r")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    assert(pr(1L) > pr(3L), "linked-to node outranks the leaf")

    val emb2 = df(Seq(Seq(1L, Seq(0.0, 1.0, 2.0))), "vec_id:long,embedding:[double]")
    val qz = GraftSql.run(engine,
      """z = PROCESS emb2 USING quantize_int8(out:qq)
        |YIELD z AS z
        |""".stripMargin, Map("emb2" -> emb2)).yields("z")
    val qrow = qz.select("qq.qmin", "qq.qscale").collect()(0)
    assert(qrow.getDouble(0) === 0.0 && math.abs(qrow.getDouble(1) - 2.0 / 255) < 1e-15)
  }

  test("built-in bm25 / containment_pairs / gap_fill / trigram_score processors") {
    val corpus = df(Seq(Seq(1L, "x x y"), Seq(2L, "x z"), Seq(3L, "y y z z")),
      "doc_id:long,text:str")
    val queries = df(Seq(Seq(10L, "x")), "query_id:long,qtext:str")
    val bm = GraftSql.run(engine,
      """r = PROCESS corpus, queries USING bm25(k:2)
        |YIELD r AS r
        |""".stripMargin, Map("corpus" -> corpus, "queries" -> queries))
      .yields("r").collect()
    assert(bm.length === 2 && bm.map(_.getInt(1)).sorted.toSeq === Seq(1, 2))

    val docs = df(Seq(Seq(1L, "a b c d"), Seq(2L, "a b c d e f")),
      "doc_id:long,text:str")
    val cp = GraftSql.run(engine,
      """p = PROCESS docs USING containment_pairs(threshold:0.9)
        |YIELD p AS p
        |""".stripMargin, Map("docs" -> docs)).yields("p").collect()
    assert(cp.length === 1 && cp.head.getLong(0) === 1L)

    val series = df(Seq(
      Seq("a", "2024-01-01 00:00:00", 2.0),
      Seq("a", "2024-01-01 00:30:00", 6.0)), "k:str,ts:datetime,v:double")
    val gf = GraftSql.run(engine,
      """g = PROCESS series USING gap_fill(ts:ts, col:v, step:900, keys:k)
        |YIELD g AS g
        |""".stripMargin, Map("series" -> series)).yields("g").collect()
    assert(gf.length === 3)
    assert(gf.count(_.getBoolean(3)) === 1)
    assert(gf.find(_.getBoolean(3)).get.getDouble(2) === 4.0)

    val tg = GraftSql.run(engine,
      """t = PROCESS corpus USING trigram_score
        |YIELD t AS t
        |""".stripMargin, Map("corpus" -> corpus)).yields("t").collect()
    assert(tg.map(_.getLong(0)).toSet === Set(1L, 3L)) // >=3 tokens only
  }

  test("built-in graph + interval + rank + ks processors") {
    val edges = df(Seq(Seq(1L, 2L), Seq(2L, 1L), Seq(2L, 3L)), "s:long,d:long")
    val lp = GraftSql.run(engine,
      """c = PROCESS edges USING label_propagation(src:s, dst:d, iters:4)
        |YIELD c AS c
        |""".stripMargin, Map("edges" -> edges)).yields("c").collect()
    assert(lp.map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    val dg = GraftSql.run(engine,
      """g = PROCESS edges USING degrees(src:s, dst:d)
        |YIELD g AS g
        |""".stripMargin, Map("edges" -> edges)).yields("g")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dg(2L) === 2L)
    val docs = df(Seq(Seq("a.com", "x https://b.org/1")), "host:str,text:str")
    val lg = GraftSql.run(engine,
      """e = PROCESS docs USING link_graph(host:host)
        |YIELD e AS e
        |""".stripMargin, Map("docs" -> docs)).yields("e").collect()
    assert(lg.length === 1 && lg.head.getString(1) === "b.org")
    val iv = df(Seq(Seq("k", 1L, 5L), Seq("k", 4L, 9L), Seq("k", 20L, 21L)),
      "g:str,s:long,e:long")
    val mi = GraftSql.run(engine,
      """m = PROCESS iv USING merge_intervals(keys:g, start:s, end:e)
        |YIELD m AS m
        |""".stripMargin, Map("iv" -> iv)).yields("m").collect()
    assert(mi.length === 2 && mi.map(_.getLong(3)).sorted.toSeq === Seq(1L, 2L))
    val scores = df((1 to 4).map(i => Seq(i.toLong, i.toDouble)),
      "id:long,score:double")
    val rn = GraftSql.run(engine,
      """r = PROCESS scores USING rank_normalize(col:score, id:id)
        |YIELD r AS r
        |""".stripMargin, Map("scores" -> scores)).yields("r")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rn(1L) === 0.125 && rn(4L) === 0.875)
    val ks = GraftSql.run(engine,
      """k = PROCESS b, a USING ks_drift(col:score, bins:4)
        |YIELD k AS k
        |""".stripMargin, Map("b" -> scores, "a" -> scores)).yields("k").collect()
    assert(ks.head.getDouble(2) === 0.0)

    val corpus2 = df(Seq(
      Seq(1L, "the data be of and that have with more words to pass here ok " +
        "the data be of and that have with more words to pass here ok")),
      "doc_id:long,text:str")
    val gr = GraftSql.run(engine,
      """g = PROCESS corpus2 USING gopher_rules(min_words:10)
        |YIELD g AS g
        |""".stripMargin, Map("corpus2" -> corpus2)).yields("g").collect()
    assert(gr.head.getBoolean(gr.head.fieldIndex("passes")))
    val c4 = GraftSql.run(engine,
      """c = PROCESS corpus2 USING c4_clean(min_sentences:0)
        |YIELD c AS c
        |""".stripMargin, Map("corpus2" -> corpus2)).yields("c").collect()
    assert(c4.head.getLong(2) === 0L) // no terminal punctuation → dropped

    val xy = df((1 to 10).map(i => Seq(i.toDouble, i * i * 1.0)),
      "x:double,y:double")
    val sp = GraftSql.run(engine,
      """s = PROCESS xy USING spearman(cols:"x,y")
        |YIELD s AS s
        |""".stripMargin, Map("xy" -> xy)).yields("s").collect()
    assert(sp.head.getDouble(2) === 1.0)

    val ev = df(Seq(
      Seq("u1", "2024-01-01 00:00:00", "a"),
      Seq("u1", "2024-01-01 00:10:00", "b"),
      Seq("u1", "2024-01-08 00:00:00", "a")), "u:str,ts:datetime,e:str")
    val fn = GraftSql.run(engine,
      """f = PROCESS ev USING funnel(user:u, event:e, steps:"a,b", window:3600)
        |YIELD f AS f
        |""".stripMargin, Map("ev" -> ev)).yields("f").collect()
    assert(fn.length === 1 && fn.head.getLong(3) === 2L)
    // restart:true — the greedy first attempt fails (b is 90 min after
    // the first a) but the re-entry anchored at the second a converts
    val ev2 = df(Seq(
      Seq("u1", "2024-01-01 00:00:00", "a"),
      Seq("u1", "2024-01-01 01:00:00", "a"),
      Seq("u1", "2024-01-01 01:30:00", "b")), "u:str,ts:datetime,e:str")
    val fnG = GraftSql.run(engine,
      """f = PROCESS ev USING funnel(user:u, event:e, steps:"a,b", window:3600)
        |YIELD f AS f
        |""".stripMargin, Map("ev" -> ev2)).yields("f").collect()
    assert(fnG.head.getLong(3) === 1L)
    val fnR = GraftSql.run(engine,
      """f = PROCESS ev USING funnel(user:u, event:e, steps:"a,b", window:3600, restart:true)
        |YIELD f AS f
        |""".stripMargin, Map("ev" -> ev2)).yields("f").collect()
    assert(fnR.head.getLong(3) === 2L)
    val rt = GraftSql.run(engine,
      """r = PROCESS ev USING retention(user:u, period:604800)
        |YIELD r AS r
        |""".stripMargin, Map("ev" -> ev)).yields("r").collect()
    assert(rt.length === 2 && rt.map(_.getLong(1)).sorted.toSeq === Seq(0L, 1L))

    val tri = df(Seq(Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 1L)), "s:long,d:long")
    val tc = GraftSql.run(engine,
      """t = PROCESS tri USING triangles(src:s, dst:d)
        |YIELD t AS t
        |""".stripMargin, Map("tri" -> tri)).yields("t").collect()
    assert(tc.length === 3 && tc.forall(_.getLong(1) === 1L))
    val cc2 = df(Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(4L, 5L)), "s:long,d:long")
    val ccr = GraftSql.run(engine,
      """c = PROCESS e USING connected_components(src:s, dst:d)
        |YIELD c AS c
        |""".stripMargin, Map("e" -> cc2)).yields("c").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccr === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
    val pr = GraftSql.run(engine,
      """p = PROCESS tri, (CREATE [[1]] SCHEMA node:long) USING ppr(src:s, dst:d, iters:5)
        |YIELD p AS p
        |""".stripMargin, Map("tri" -> tri)).yields("p").collect()
    assert(math.abs(pr.map(_.getDouble(1)).sum - 1.0) < 1e-9)
  }

  test("built-in export_shards processor yields the manifest frame") {
    val dir = Files.createTempDirectory("graftsql_shards").toString
    val d = df((1 to 50).map(i => Seq(i.toLong, s"r$i")), "id:long,s:str")
    val m = GraftSql.run(engine,
      s"""m = PROCESS src USING export_shards(path:"$dir/out", n:4, keys:id)
         |YIELD m AS m
         |""".stripMargin, Map("src" -> d)).yields("m").collect()
    assert(m.map(_.getLong(1)).sum === 50L)
    assert(graft.operators.Layout.verifyShards(spark, s"$dir/out") === Seq.empty)
    val mt = GraftSql.run(engine,
      s"""m = PROCESS src USING export_tar_shards(path:"$dir/tar", id:id, fields:"s=txt", n:4)
         |YIELD m AS m
         |""".stripMargin, Map("src" -> d)).yields("m").collect()
    assert(mt.map(_.getLong(1)).sum === 50L)
    assert(graft.operators.Layout.verifyTarShards(spark, s"$dir/tar") === Seq.empty)
    val sk = GraftSql.run(engine,
      """s = PROCESS src USING key_skew(keys:s, k:3)
        |YIELD s AS s
        |""".stripMargin, Map("src" -> d.withColumn("s", org.apache.spark.sql.functions.lit("c")))).yields("s").collect()
    assert(sk.length === 1 && sk.head.getDouble(6) === 1.0)
  }

  test("media processors: media_census, mp4_demux, mp3_frames, ogg_pages, demux_frames") {
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rows = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, graft.functions.Mp4.syntheticMp4(1L)),
      org.apache.spark.sql.Row(2L, graft.functions.Mp3.syntheticMp3(2L)),
      org.apache.spark.sql.Row(3L, "text".getBytes),
      org.apache.spark.sql.Row(4L, graft.functions.Ogg.syntheticOgg(4L))), schema)
    val census = GraftSql.run(engine,
      """c = PROCESS src USING media_census
        |YIELD c AS c
        |""".stripMargin, Map("src" -> rows)).yields("c").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(census === Map(1L -> "mp4", 2L -> "mp3", 3L -> "unknown", 4L -> "ogg"))
    val ogg = GraftSql.run(engine,
      """f = PROCESS src USING ogg_pages
        |YIELD f AS f
        |""".stripMargin, Map("src" -> rows.filter("doc_id = 4"))).yields("f")
    assert(ogg.count() === (2 + 4 % 5).toLong)
    val pk = GraftSql.run(engine,
      """f = PROCESS src USING ogg_packets
        |YIELD f AS f
        |""".stripMargin, Map("src" -> rows.filter("doc_id = 4"))).yields("f")
    // unchained fixture: every packet completes in its page
    assert(pk.count() > 0 && pk.filter("n_pages <> 1").count() === 0L)
    val meta = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(6L, graft.functions.Ogg.syntheticAudioOgg(6L))),
      schema)
    val am = GraftSql.run(engine,
      """f = PROCESS src USING ogg_audio_meta
        |YIELD f AS f
        |""".stripMargin, Map("src" -> meta)).yields("f").collect()
    assert(am.length === 1 && am.head.getString(1) === "opus" &&
      am.head.getLong(3) === 48000L)
    val commented = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(6L, graft.functions.Ogg.syntheticCommentedOgg(6L))),
      schema)
    val cm = GraftSql.run(engine,
      """f = PROCESS src USING ogg_comments
        |YIELD f AS f
        |""".stripMargin, Map("src" -> commented)).yields("f").collect()
      .map(r => r.getString(4) -> r.getString(5)).toMap
    assert(cm("TITLE") === "title_42" && cm("TRACKNUMBER") === "7")
    val tagged = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(9L, graft.functions.Mp3.syntheticTaggedMp3(9L))),
      schema)
    val tags = GraftSql.run(engine,
      """f = PROCESS src USING id3_tags
        |YIELD f AS f
        |""".stripMargin, Map("src" -> tagged)).yields("f").collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(tags("TIT2") === "title_63" && tags("TRCK") === "10")
    val flac = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(8L, graft.functions.Flac.syntheticFlac(8L))),
      schema)
    val fi = GraftSql.run(engine,
      """f = PROCESS src USING flac_info
        |YIELD f AS f
        |""".stripMargin, Map("src" -> flac)).yields("f").collect()
    assert(fi.length === 1 && fi.head.getInt(1) === 44100 &&
      fi.head.getInt(2) === 3)
    val flacTagged = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(8L, graft.functions.Flac.syntheticCommentedFlac(8L))),
      schema)
    val fc = GraftSql.run(engine,
      """f = PROCESS src USING flac_comments
        |YIELD f AS f
        |""".stripMargin, Map("src" -> flacTagged)).yields("f").collect()
      .map(r => r.getString(3) -> r.getString(4)).toMap
    assert(fc("TITLE") === "title_56" && fc("DESCRIPTION") === "ünïcode_8")
    val mp4Tagged = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(8L, graft.functions.Mp4.syntheticTaggedMp4(8L))),
      schema)
    val mt = GraftSql.run(engine,
      """f = PROCESS src USING mp4_tags
        |YIELD f AS f
        |""".stripMargin, Map("src" -> mp4Tagged)).yields("f").collect()
      .map(r => r.getString(2) -> r.getString(3)).toMap
    assert(mt("©nam") === "title_56" && mt("©cmt") === "cömment_8")
    val mp4 = GraftSql.run(engine,
      """f = PROCESS src USING mp4_demux
        |YIELD f AS f
        |""".stripMargin, Map("src" -> rows.filter("doc_id = 1"))).yields("f")
    assert(mp4.count() === (2 + 1 % 7).toLong)
    val mp3 = GraftSql.run(engine,
      """f = PROCESS src USING mp3_frames
        |YIELD f AS f
        |""".stripMargin, Map("src" -> rows.filter("doc_id = 2"))).yields("f")
    assert(mp3.count() === (3 + 2 % 6).toLong)
    val dmx = GraftSql.run(engine,
      """f = PROCESS src USING demux_frames(stride:2)
        |YIELD f AS f
        |""".stripMargin, Map("src" -> rows.filter("doc_id = 3"))).yields("f")
    assert(dmx.count() >= 1) // text byte-windows
  }

  test("composed census pipeline in the dialect: gzip census -> SQL aggregate") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rows = spark.createDataFrame(java.util.Arrays.asList(
      (0L until 12L).map(id => org.apache.spark.sql.Row(id,
        graft.functions.Gzip.syntheticGzip(id))): _*), schema)
    // the whole pass is dialect-driven: walk members, then an ordinary
    // SQL aggregate over the walker's output — the composition a
    // census user actually writes
    val out = GraftSql.run(engine,
      """members = PROCESS src USING gzip_members
        |SELECT COUNT(*) AS n_members,
        |  SUM(uncomp_bytes) AS total_uncomp,
        |  SUM(CAST(fname IS NOT NULL AS INT)) AS named
        |FROM members
        |YIELD DATAFRAME AS stats
        |""".stripMargin, Map("src" -> rows)).yields("stats").collect()
    // closed form over ids 0..11: members = sum(1 + id%3); member m of
    // id named iff (id+m)%2 == 0; uncomp = sum over members of
    // 30 + (id*3 + m*11)%70
    val expectMembers = (0L until 12L).map(id => 1 + id % 3).sum
    val expectUncomp = (0L until 12L).flatMap(id =>
      (0 until (1 + id % 3).toInt).map(m => 30 + (id * 3 + m * 11) % 70)).sum
    val expectNamed = (0L until 12L).flatMap(id =>
      (0 until (1 + id % 3).toInt).map(m => if ((id + m) % 2 == 0) 1L else 0L)).sum
    assert(out.head.getLong(0) === expectMembers)
    assert(out.head.getLong(1) === expectUncomp)
    assert(out.head.getLong(2) === expectNamed)
  }

  test("r13 walker processors: riff_tags/image_meta/mkv_tracks/zip_entries/zstd_frames/url_canon") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    def run1(proc: String, payload: Array[Byte], id: Long = 8L) =
      GraftSql.run(engine,
        s"""f = PROCESS src USING $proc
           |YIELD f AS f
           |""".stripMargin,
        Map("src" -> spark.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(id, payload)), schema))).yields("f")
    // id 6, not 8: id%5==3 is the tagless rotation
    val rt = run1("riff_tags", graft.functions.Riff.syntheticTaggedWav(6L), 6L)
      .collect().map(r => r.getString(2) -> r.getString(3)).toMap
    assert(rt("INAM") === "title_42" && rt("ICMT") === "cömment_6")
    val im = run1("image_meta", graft.functions.Imaging.syntheticImage(8L))
      .collect()
    assert(im.length === 1 && im.head.getString(1) === "jpeg" &&
      im.head.getInt(2) === (16 + 8 * 7 % 240))
    val mk = run1("mkv_tracks", graft.functions.Ebml.syntheticMkv(8L))
      .collect().map(r => r.getString(6) -> r.getString(7)).toMap
    assert(mk("video") === "V_VP9" && mk("audio") === "A_OPUS")
    val ze = run1("zip_entries", graft.functions.Zip.syntheticZip(8L))
      .collect().map(r => r.getString(2) -> r.getString(3)).toMap
    assert(ze("f8_0.txt") === "stored")
    val zs = run1("zstd_frames", graft.functions.Zstd.syntheticZstd(8L))
      .collect()
    assert(zs.length === 3 && zs.forall(_.getString(2) === "zstd"))
    val us = StructType(Seq(StructField("doc_id", LongType),
      StructField("url", StringType)))
    val uc = GraftSql.run(engine,
      """f = PROCESS src USING url_canon
        |YIELD f AS f
        |""".stripMargin,
      Map("src" -> spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L,
          "HTTP://A.com:80/x/../y?b=2&a=1#f")), us))).yields("f").collect()
    assert(uc.head.getString(2) === "http://a.com/y?a=1&b=2")
    val v1 = run1("id3v1_tags", graft.functions.Mp3.syntheticV1TaggedMp3(6L), 6L)
      .collect()
    assert(v1.length === 1 && v1.head.getString(1) === "title_42" &&
      v1.head.getInt(6) === 7) // 6%3==0 → v1.1 track 1+6%30
    val ts = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val sc = GraftSql.run(engine,
      """f = PROCESS src USING subtitle_cues
        |YIELD f AS f
        |""".stripMargin,
      Map("src" -> spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(4L,
          graft.functions.Subtitles.syntheticSubtitle(4L))), ts))).yields("f")
      .collect()
    assert(sc.length === 3 && sc.head.getLong(2) === 4L) // start 0*5000+4%1000
    // the round's second walker batch: gzip/avro/png-text/robots
    val gm = run1("gzip_members", graft.functions.Gzip.syntheticGzip(6L), 6L)
      .collect()
    assert(gm.length === 1 && gm.head.getString(5) === "f6_0.txt" &&
      gm.head.getLong(4) === 30 + (6 * 3) % 70)
    val av = run1("avro_blocks", graft.functions.Avro.syntheticAvro(8L))
      .collect()
    assert(av.length === 1 + 8 % 4 && av.head.getString(3) === "snappy")
    val pt = run1("png_text", graft.functions.Png.syntheticTextPng(8L))
      .collect().map(r => r.getString(3) -> r.getString(5)).toMap
    assert(pt("Title") === "title_56" && pt("Comment") === "cömment_8")
    val rb = GraftSql.run(engine,
      """f = PROCESS src USING robots_rules
        |YIELD f AS f
        |""".stripMargin,
      Map("src" -> spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(4L,
          graft.functions.Robots.syntheticRobots(4L))), ts))).yields("f")
      .collect()
    assert(rb.exists(r => r.getString(3) === "ua" && r.getString(4) === "bot0"))
    assert(rb.exists(r => r.getString(3) === "sitemap")) // id 4 is even
    val em = GraftSql.run(engine,
      """f = PROCESS src USING eml_headers
        |YIELD f AS f
        |""".stripMargin,
      Map("src" -> spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(6L,
          graft.functions.Eml.syntheticEml(6L))), ts))).yields("f")
      .collect().map(r => r.getString(3) -> r.getString(4)).toMap
    assert(em("subject") === "sübject_6") // id 6: B-encoded word decoded
    val js = GraftSql.run(engine,
      """f = PROCESS src USING json_shape
        |YIELD f AS f
        |""".stripMargin,
      Map("src" -> spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(8L,
          graft.functions.Json.syntheticJson(8L))), ts))).yields("f")
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(js("tags") === "array" && js("score") === "float") // id 8
  }

  test("r15 walker processors: parquet_chunks/warcgz_records/tfrecords_gz/sitemap_gz") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    def run1(proc: String, payload: Array[Byte], id: Long) =
      GraftSql.run(engine,
        s"""f = PROCESS src USING $proc
           |YIELD f AS f
           |""".stripMargin,
        Map("src" -> spark.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(id, payload)), schema))).yields("f")
    // parquet_chunks over a real Spark-written file
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlspec_pq")
    try {
      spark.range(100).selectExpr("id AS doc_id", "CAST(id % 5 AS STRING) AS lang")
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve("p").toString)
      import scala.jdk.CollectionConverters._
      val f = java.nio.file.Files.list(dir.resolve("p")).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq.head
      val pc = run1("parquet_chunks", java.nio.file.Files.readAllBytes(f), 1L)
        .collect().map(r => r.getString(3) -> r.getLong(6)).toMap
      assert(pc("doc_id") === 100L && pc("lang") === 100L)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => p.toFile.delete())
    }
    // warcgz_records over the synthetic 8-file warc.gz corpus
    val docs = df(Seq(Seq(0L, "alpha"), Seq(1L, "beta"), Seq(2L, "gamma")),
      "doc_id:long,text:str")
    val wgz = graft.sources.Warc.syntheticWarcGzFiles(docs, "doc_id", "text",
      nFiles = 2)
    val wr = GraftSql.run(engine,
      """f = PROCESS src USING warcgz_records
        |YIELD f AS f
        |""".stripMargin, Map("src" -> wgz)).yields("f").collect()
    assert(wr.length === 3 && wr.forall(_.getString(5) === "conversion"))
    // tfrecords_gz: id 6 → 3 records, none corrupted
    val tr = run1("tfrecords_gz",
      graft.functions.TfRecord.syntheticTfRecordGz(6L), 6L).collect()
    assert(tr.length === 3 && tr.head.getLong(2) === 0L &&
      tr.head.getLong(3) === (10 + 42 % 120).toLong)
    // sitemap_gz: id 7 → urlset with 3 url records
    val sg = run1("sitemap_gz",
      graft.functions.Sitemap.syntheticSitemapGz(7L), 7L).collect()
    assert(sg.length === 3 && sg.forall(_.getString(2) === "url") &&
      sg.head.getString(3) === "https://site7.example/p/7/0")
    // avro_extract: id 7 → deflate codec, 2 blocks of 4+1 records
    val ax = run1("avro_extract",
      graft.functions.Avro.syntheticRealAvro(7L), 7L).collect()
    assert(ax.length === 5 && ax.forall(_.getString(3) === "deflate") &&
      ax.head.getString(4) === "avro_7_0_0" + "x" * 7)
  }

  test("rrf_fuse processor fuses ranked lists") {
    val lex = df(Seq(Seq(1L, 1, 10L), Seq(1L, 2, 11L), Seq(1L, 3, 12L)),
      "query_id:long,rank:int,doc_id:long")
    val den = df(Seq(Seq(1L, 1, 12L), Seq(1L, 2, 10L), Seq(1L, 3, 13L)),
      "query_id:long,rank:int,doc_id:long")
    val fused = GraftSql.run(engine,
      """f = PROCESS lex, den USING rrf_fuse(top:4)
        |YIELD f AS f
        |""".stripMargin, Map("lex" -> lex, "den" -> den)).yields("f")
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    // 10: 1/61+1/62, 12: 1/63+1/61 — 10 edges out 12; 11 and 13 single-list
    assert(fused.toSeq === Seq((1, 10L), (2, 12L), (3, 11L), (4, 13L)))
  }

  test("margin_mine processor mines per-src best pairs") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def v(id: Long, xs: Float*) =
      org.apache.spark.sql.Row(id, xs.toSeq)
    val src = spark.createDataFrame(java.util.Arrays.asList(
      v(0L, 1f, 0f), v(2L, 0f, 1f)), schema)
    val tgt = spark.createDataFrame(java.util.Arrays.asList(
      v(1L, 0.9f, 0.1f), v(3L, 0.1f, 0.9f), v(5L, 0.5f, 0.5f)), schema)
    val out = GraftSql.run(engine,
      """m = PROCESS src, tgt USING margin_mine(k:2)
        |YIELD m AS m
        |""".stripMargin, Map("src" -> src, "tgt" -> tgt)).yields("m")
      .orderBy("src_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // the aligned axes pair up; the diagonal distractor loses on margin
    assert(out.toSeq === Seq((0L, 1L), (2L, 3L)))
    // approx:"true" routes through annJoin; with exhaustive probing
    // (bits:2, probes:2 covers all four buckets) the candidates are the
    // full cross product, so the mined pairs must match exactly
    val approx = GraftSql.run(engine,
      """m = PROCESS src, tgt USING margin_mine(k:2, approx:"true", tables:2, bits:2, probes:2)
        |YIELD m AS m
        |""".stripMargin, Map("src" -> src, "tgt" -> tgt)).yields("m")
      .orderBy("src_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(approx.toSeq === Seq((0L, 1L), (2L, 3L)))
  }

  test("suggest_salt and salted_join processors") {
    import org.apache.spark.sql.functions.{col => c, lit}
    // key 0 hot: 30 rows; keys 1..4: 5 each
    val probe = df(((1 to 30).map(i => Seq(0, i)) ++
      (1 to 20).map(i => Seq(1 + i % 4, 100 + i))), "k:int,v:int")
    val dim = df((0 to 4).map(k => Seq(k, s"d$k")), "k:int,name:str")
    val f = GraftSql.run(engine,
      """s = PROCESS probe USING suggest_salt(keys:k, target:10)
        |YIELD s AS s
        |""".stripMargin, Map("probe" -> probe)).yields("s").collect()
    assert(f.head.getLong(0) === 3L) // ceil(30/10)
    val joined = GraftSql.run(engine,
      """j = PROCESS probe, dim USING salted_join(keys:k, factor:auto, target:10)
        |YIELD j AS j
        |""".stripMargin, Map("probe" -> probe, "dim" -> dim)).yields("j")
    val plain = probe.join(dim, Seq("k"), "inner")
    assert(graft.api.DfUtils.dfEq(
      joined.select("k", "v", "name"), plain.select("k", "v", "name")))
    // explicit factor + missing keys error
    intercept[IllegalArgumentException](GraftSql.run(engine,
      """j = PROCESS probe, dim USING salted_join(factor:4)
        |""".stripMargin, Map("probe" -> probe, "dim" -> dim)))
  }

  test("multi-line UNION ALL stays one statement; OVER(ORDER BY) gets implicit FROM") {
    val res = GraftSql.run(engine,
      """a = SELECT k, v FROM input WHERE v > 8 UNION ALL
        |SELECT k, v FROM input WHERE v < 2
        |YIELD a AS a
        |""".stripMargin, Map("input" -> d1))
    assert(res.yields("a").count() === 2) // v=9 and v=1
    // window ORDER BY inside OVER(...) must not hijack the FROM insertion
    val res2 = GraftSql.run(engine,
      """SELECT k, v FROM input
        |SELECT k, v, row_number() OVER (ORDER BY v) AS rn
        |YIELD AS out
        |""".stripMargin, Map("input" -> d1))
    assert(res2.yields("out").count() === 4)
    // a FROM inside a subquery must not suppress the implicit outer FROM
    val res3 = GraftSql.run(engine,
      """SELECT k, v FROM input
        |SELECT k WHERE v IN (SELECT max(v) FROM input)
        |YIELD AS m
        |""".stripMargin, Map("input" -> d1))
    assert(res3.yields("m").collect().map(_.getString(0)).toSeq === Seq("b"))
  }

  test("SAMPLE positional df form; typo'd df references error") {
    val res = GraftSql.run(engine,
      """x = SELECT k, v FROM input WHERE v > 100
        |s = SAMPLE input 100 PERCENT SEED 7
        |YIELD s AS s
        |""".stripMargin, Map("input" -> d1))
    assert(res.yields("s").count() === 4) // sampled `input`, not empty prev
    for (bad <- Seq("PERSIST typo_name", "DISTINCT typo_name",
        "PROCESS typo_name USING lm_score\nYIELD AS out")) {
      val ex = intercept[Exception](GraftSql.run(engine,
        s"SELECT k, v FROM input\n$bad", Map("input" -> d1)))
      assert(ex.getMessage.contains("unknown dataframe"), s"stmt: $bad")
    }
  }

  test("processor params: quoted multi-key, ascending quality, malformed errors") {
    val t = df(Seq(
      Seq(3L, "u1", "a"), Seq(1L, "u1", "a"), Seq(2L, "u1", "b")),
      "doc_id:long,url:str,text:str")
    // quoted comma list survives param splitting: dedup on (url, text)
    val res = GraftSql.run(engine,
      """PROCESS t USING dedup_exact(keys:"url,text")
        |YIELD AS out
        |""".stripMargin, Map("t" -> t))
    assert(res.yields("out").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // ascending:true keeps the SMALLEST quality value (lm_score-style)
    val dup = df(Seq(
      Seq(1L, "the quick brown fox jumps over the lazy dog today", 9.0),
      Seq(2L, "the quick brown fox jumps over the lazy dog today", 2.0)),
      "doc_id:long,text:str,ce:double")
    val res2 = GraftSql.run(engine,
      """PROCESS dup USING drop_near_dups(threshold:0.9, by:ce, ascending:true)
        |YIELD AS out
        |""".stripMargin, Map("dup" -> dup))
    assert(res2.yields("out").collect().map(_.getLong(0)).toSeq === Seq(2L))
    // a param entry without a colon is an error, not silently dropped
    val ex = intercept[Exception](GraftSql.run(engine,
      "PROCESS t USING dedup_exact(keys:url,text)\nYIELD AS out", Map("t" -> t)))
    assert(ex.getMessage.contains("malformed param"))
  }

  test("YIELD a AS a resolves the df named a, not the previous frame (regression)") {
    val res = GraftSql.run(engine,
      """a = SELECT k, v FROM input WHERE v > 2
        |b = SELECT k, v FROM input WHERE v <= 2
        |YIELD a AS a
        |""".stripMargin, Map("input" -> d1))
    assertDfEq(res.yields("a"), Seq(Seq("a", 3), Seq("b", 9)))
  }

  test("SAVE AND USE CSV round-trips with symmetric header defaults (regression)") {
    val dir = Files.createTempDirectory("graftsql4").toString
    val res = GraftSql.run(engine,
      s"""SELECT k, v FROM input
         |u = SAVE AND USE OVERWRITE CSV "$dir/c"
         |YIELD u AS out
         |""".stripMargin, Map("input" -> d1))
    assert(res.yields("out").count() === 4) // header row not eaten as data
    assert(res.yields("out").columns.toSeq === Seq("k", "v"))
  }

  test("inline parenthesized sub-statements in df-list positions") {
    // the reference's nested-extension pattern: assert against an inline
    // CREATE without naming it first
    GraftSql.run(engine,
      """a = SELECT k FROM input WHERE v > 8
        |OUTPUT a, (CREATE [["b"]] SCHEMA k:str) USING assert_eq
        |""".stripMargin, Map("input" -> d1))
    intercept[AssertionError](GraftSql.run(engine,
      """a = SELECT k FROM input WHERE v > 8
        |OUTPUT a, (CREATE [["zzz"]] SCHEMA k:str) USING assert_eq
        |""".stripMargin, Map("input" -> d1)))
    // transformer params parens are untouched; SELECT subqueries untouched
    val res = GraftSql.run(engine,
      """SELECT k, v FROM input WHERE v > (SELECT min(v) FROM input)
        |YIELD AS out
        |""".stripMargin, Map("input" -> d1))
    assert(res.yields("out").count() === 3)
  }

  test("TABLESAMPLE passes through to spark.sql") {
    val res = GraftSql.run(engine,
      """SELECT k, v FROM input TABLESAMPLE (100 PERCENT)
        |YIELD AS out
        |""".stripMargin, Map("input" -> d1))
    assert(res.yields("out").count() === 4)
  }

  test("kitchen-sink script: many statements compose in one run") {
    val dir = Files.createTempDirectory("graftsql_ks").toString
    val sumT = TransformerDef(
      outputSchema = (_, _) => graft.schema.SchemaExpr.parse("k:str,total:long"),
      fn = (cursor, rows, _) =>
        Iterator.single(Row(cursor.keyValues.head, rows.map(_.getInt(1).toLong).sum)))
    val res = GraftSql.run(engine,
      s"""-- full pipeline in one script
         |src = CREATE [["a", 3], ["a", 1], ["b", 9], ["b", 2], ["b", 2]] SCHEMA k:str,v:int
         |dd = DISTINCT src
         |big = SELECT k, v FROM dd WHERE v > 1
         |WEAK CHECKPOINT LAZY
         |tot = TRANSFORM big PREPARTITION BY k USING sum_v
         |SAVE tot OVERWRITE PARQUET "$dir/tot"
         |back = LOAD PARQUET "$dir/tot"
         |top = TAKE 1 ROW FROM back PRESORT total DESC
         |OUTPUT top, (CREATE [["b", 11]] SCHEMA k:str,total:long) USING assert_eq
         |YIELD top AS winner
         |PRINT 1 ROWS FROM winner TITLE "winner"
         |""".stripMargin,
      Map.empty, Map("sum_v" -> sumT))
    assertDfEq(res.yields("winner"), Seq(Seq("b", 11L)))
  }

  test("CONNECT: spark aliases run the statement; foreign engines error") {
    // engine-prefixed query (the reference's per-statement override form)
    val r = GraftSql.run(engine,
      "out = CONNECT spark SELECT k, v FROM input WHERE v > 1\nYIELD out AS o",
      Map("input" -> d1))
    assert(r.yields("o").collect().map(_.getAs[Number](1).longValue).sorted.toSeq ===
      d1.filter("v > 1").collect().map(_.getAs[Number](1).longValue).sorted.toSeq)
    // params form + standalone pin are accepted no-ops
    GraftSql.run(engine,
      "CONNECT sparksql(conf:ignored)\nSELECT k FROM input", Map("input" -> d1))
    // a foreign engine must fail loudly, not silently run on Spark
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(engine, "CONNECT duckdb SELECT k FROM input", Map("input" -> d1))
    }
    assert(e.getMessage.contains("single-engine"))
  }

  test("temp views do not leak into the session catalog after SELECT") {
    GraftSql.run(engine,
      "SELECT k, v FROM leak_probe WHERE v > 0", Map("leak_probe" -> d1))
    assert(!engine.spark.catalog.tableExists("leak_probe"))
  }

  test("a backtick-quoted name may hold --: a SELECT alias and a RENAME target") {
    val sel = GraftSql.run(engine, "SELECT k AS `a--b` FROM input\nYIELD AS out",
      Map("input" -> d1))
    assert(sel.yields("out").columns.toSeq === Seq("a--b"))
    val ren = GraftSql.run(engine, "RENAME COLUMNS k:`a--b` FROM input\nYIELD AS out",
      Map("input" -> d1))
    assert(ren.yields("out").columns.toSeq === Seq("a--b", "v"))
  }

  test("USING params: a quoted value may hold parens; '…' values equal \"…\" values") {
    import graft.sql.GraftSql.{Extensions, ProcessorDef}
    val seen = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val exts = Extensions(processors = Map(
      "cap" -> ProcessorDef { (_, dfs, p) => seen += p; dfs.head }))
    GraftSql.runWith(engine, Seq(
      """PROCESS input USING cap(title:"a (b) c", n:3)""",
      """PROCESS input USING cap(title:'a (b) c', n:3)""",
      """PROCESS input USING cap(sep:',', dash:'--', q:"it's", d:'say "hi"')""",
      "PROCESS input USING cap(sep:\",\", dash:\"--\", q:'it''s', d:\"say \"\"hi\"\"\")"
    ).mkString("\n"), Map("input" -> d1), exts)
    assert(seen.toSeq === Seq(
      Map("title" -> "a (b) c", "n" -> "3"),
      Map("title" -> "a (b) c", "n" -> "3"),
      Map("sep" -> ",", "dash" -> "--", "q" -> "it's", "d" -> "say \"hi\""),
      Map("sep" -> ",", "dash" -> "--", "q" -> "it's", "d" -> "say \"hi\"")))
  }

  test("a misspelled dataframe name raises in every YIELD and CHECKPOINT form and in PRINT") {
    for (bad <- Seq("YIELD tpyo AS out", "YIELD DATAFRAME tpyo AS out",
        "YIELD LOCAL tpyo AS out", "YIELD LOCAL DATAFRAME tpyo AS out",
        "YIELD FILE tpyo AS out", "YIELD TABLE tpyo AS out",
        "CHECKPOINT tpyo", "WEAK CHECKPOINT tpyo", "WEAK CHECKPOINT LAZY tpyo",
        "STRONG CHECKPOINT tpyo", "STRONG CHECKPOINT SINGLE tpyo",
        "DETERMINISTIC CHECKPOINT tpyo", "DETERMINISTIC CHECKPOINT \"ns\" tpyo",
        "PRINT tpyo", "PRINT 2 ROWS FROM tpyo", "PRINT input, tpyo ROWCOUNT")) {
      val ex = intercept[IllegalArgumentException](GraftSql.run(engine,
        s"SELECT k, v FROM input\n$bad", Map("input" -> d1)))
      assert(ex.getMessage.contains("unknown dataframe 'tpyo'"), bad)
    }
  }

  // registered last: runs after every other test of the suite
  test("the suite leaves the checkpoint root as it found it") {
    assert(SparkTestBase.scratch === rootAtStart)
  }
}
