package graft

import graft.operators.{Bucketing, Repartitioner}
import graft.schema.SchemaExpr
import graft.sql.GraftSql
import graft.transform.Transform
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Regressions for review findings: column-order corruption, parser flag
 * leakage, implicit-FROM placement, unaliased aggregates, AQE-blind
 * shuffle check, presort validation. */
class RegressionSpec extends SparkTestBase {

  test("even repartition with keys preserves column order and content") {
    val d = df(Seq(Seq(1, "a", 1.0), Seq(2, "a", 2.0), Seq(3, "b", 3.0)),
      "id:int,k:str,v:double")
    val out = Repartitioner.even(d, 2, Seq("k"))
    assert(out.schema.fieldNames.toSeq === Seq("id", "k", "v"))
    assertDfEq(out, Seq(Seq(1, "a", 1.0), Seq(2, "a", 2.0), Seq(3, "b", 3.0)))
  }

  test("even repartition with multi-key by-order differing from schema order") {
    val d = df(Seq(Seq(1, "a"), Seq(2, "b")), "n:int,s:str")
    val out = Repartitioner.even(d, 2, Seq("s", "n"))
    assertDfEq(out, Seq(Seq(1, "a"), Seq(2, "b")))
  }

  test("transform with even algo groups correctly (column order survives)") {
    val d = df(Seq(Seq(10, "a"), Seq(20, "a"), Seq(30, "b")), "v:int,k:str")
    val out = Transform.mapPartitions(d,
      PartitionSpec(algo = "even", num = "2", by = Seq("k")),
      SchemaExpr.parse("k:str,total:long")) { (cursor, rows) =>
      Iterator.single(Row(cursor.keyValues.head, rows.map(_.getInt(0).toLong).sum))
    }
    assertDfEq(out, Seq(Seq("a", 30L), Seq("b", 30L)))
  }

  test("SAVE with 'append'/'single' in the path stays overwrite multi-file") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_appendix").toString
    val d = df(Seq(Seq(1), Seq(2)), "x:int")
    val script = s"""SAVE OVERWRITE PARQUET "$dir/appendix_single/t""""
    // run twice against the same path: append mode would double the rows
    GraftSql.run(engine, s"SELECT x FROM input\n$script", Map("input" -> d))
    GraftSql.run(engine, s"SELECT x FROM input\n$script", Map("input" -> d))
    assert(spark.read.parquet(s"$dir/appendix_single/t").count() === 2)
  }

  test("implicit FROM lands before WHERE") {
    val d = df(Seq(Seq("a", 1), Seq("b", 9)), "k:str,v:int")
    val res = GraftSql.run(engine,
      """SELECT k, v FROM input
        |SELECT k WHERE v > 5
        |YIELD AS out""".stripMargin, Map("input" -> d))
    assertDfEq(res.yields("out"), Seq(Seq("b")))
  }

  test("x = 5 inside a WHERE clause does not split the statement") {
    val stmts = GraftSql.splitStatements(
      "SELECT *\nFROM t WHERE\nx = 5")
    assert(stmts.length === 1)
  }

  test("-- inside a quoted path is not a comment") {
    val stmts = GraftSql.splitStatements("""LOAD PARQUET "/data/a--b/t"""")
    assert(stmts.head.contains("a--b"))
  }

  test("select with unaliased aggregate and grouping keys") {
    val d = df(Seq(Seq("a", 1), Seq("a", 2), Seq("b", 5)), "k:str,v:int")
    val out = engine.select(d, Seq(col("k"), sum(col("v"))))
    assert(out.columns.length === 2)
    assert(out.columns.head === "k")
    val got = out.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === Set(("a", 3L), ("b", 5L)))
  }

  test("isShuffleFree is false for a genuine shuffle join under AQE") {
    val a = df((1 to 50).map(i => Seq(i.toLong, s"a$i")), "k:long,x:str")
    val b = df((1 to 50).map(i => Seq(i.toLong, i * 1.0)), "k:long,y:double")
    val j = a.hint("merge").join(b, "k")
    assert(!Bucketing.isShuffleFree(j))
  }

  test("parsePresort rejects bad direction tokens") {
    intercept[IllegalArgumentException](PartitionSpec.parsePresort("a ascending"))
    intercept[IllegalArgumentException](PartitionSpec.parsePresort("a nulls last"))
    assert(PartitionSpec.parsePresort("a, b desc") === Seq("a" -> true, "b" -> false))
  }

  test("TAKE with NULLS LAST clause does not leak into presort columns") {
    val d = df(Seq(Seq("a", 1), Seq("b", 9), Seq(null, 5)), "k:str,v:int")
    val res = GraftSql.run(engine,
      "TAKE 2 ROWS FROM input PRESORT k NULLS LAST\nYIELD AS out",
      Map("input" -> d))
    assertDfEq(res.yields("out"), Seq(Seq("a", 1), Seq("b", 9)))
  }

  test("bucketPairs works with string ids") {
    val banded = df(Seq(
      Seq("docA", 1L), Seq("docB", 1L), Seq("docC", 2L)), "id:str,bk:long")
    val pairs = graft.functions.Dedup.bucketPairs(banded, Seq("bk"), 100)
    assertDfEq(pairs, Seq(Seq("docA", "docB")))
  }

  test("keyed transform without presort visits each key exactly once") {
    // multi-partition input with interleaved keys: without the key sort the
    // consecutive-run detector would emit several partial groups per key
    val d = df((1 to 40).map(i => Seq(i, if (i % 2 == 0) "even" else "odd")),
      "v:int,k:str").repartition(5)
    val out = Transform.mapPartitions(d,
      PartitionSpec(algo = "hash", num = "2", by = Seq("k")),
      SchemaExpr.parse("k:str,n:long")) { (cursor, rows) =>
      Iterator.single(Row(cursor.keyValues.head, rows.size.toLong))
    }
    assertDfEq(out, Seq(Seq("even", 20L), Seq("odd", 20L)))
  }

  test("multi-column lists parse fully: PREPARTITION BY a, b and FILLNA") {
    val d = df(Seq(Seq("a", 1, 1.0), Seq("a", 2, 2.0), Seq("b", 1, 3.0)),
      "k:str,g:int,v:double")
    val sumT = GraftSql.TransformerDef(
      outputSchema = (_, _) => SchemaExpr.parse("k:str,g:int,total:double"),
      fn = (cursor, rows, _) => Iterator.single(Row(cursor.keyValues.head,
        cursor.keyValues(1), rows.map(_.getDouble(2)).sum)))
    val res = GraftSql.run(engine,
      "TRANSFORM input PREPARTITION BY k, g USING sumv\nYIELD AS out",
      Map("input" -> d), Map("sumv" -> sumT))
    assertDfEq(res.yields("out"),
      Seq(Seq("a", 1, 1.0), Seq("a", 2, 2.0), Seq("b", 1, 3.0)))
    val withNull = df(Seq(Seq(null, null)), "a:str,b:double")
    val filled = GraftSql.run(engine,
      "FILLNA PARAMS a:x, b:9.5 FROM input\nYIELD AS out",
      Map("input" -> withNull))
    assertDfEq(filled.yields("out"), Seq(Seq("x", 9.5)))
  }

  test("TRANSFORM with PRESORT parses (clipped at USING)") {
    val d = df(Seq(Seq("a", 2), Seq("a", 1)), "k:str,v:int")
    val firstT = GraftSql.TransformerDef(
      outputSchema = (_, _) => SchemaExpr.parse("k:str,first_v:int"),
      fn = (cursor, rows, _) =>
        Iterator.single(Row(cursor.keyValues.head, rows.next().getInt(1))))
    val res = GraftSql.run(engine,
      "TRANSFORM input PREPARTITION BY k PRESORT v DESC USING firstv\nYIELD AS out",
      Map("input" -> d), Map("firstv" -> firstT))
    assertDfEq(res.yields("out"), Seq(Seq("a", 2)))
  }

  test("multi-line subquery SELECT is one statement") {
    val stmts = GraftSql.splitStatements(
      "x = SELECT * FROM (\nSELECT k FROM input) t\nYIELD x AS out")
    assert(stmts.length === 2)
    assert(stmts.head.contains(") t"))
  }

  test("partition num expr: division by zero raises") {
    intercept[IllegalArgumentException](
      PartitionSpec(num = "8/0").evalNum(spark, 100L))
  }

  test("lshTopK on empty corpus raises a clear error") {
    val emb = df(Seq(Seq(1L, Seq(1.0f, 2.0f))), "vec_id:long,embedding:[float]")
    val ex = intercept[IllegalArgumentException](
      graft.functions.Similarity.lshTopK(
        emb.filter(col("vec_id") < 0), emb, "vec_id", "embedding", 3))
    assert(ex.getMessage.contains("dimension"))
  }
}
