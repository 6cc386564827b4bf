package graft

import graft.sql.GraftSql
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * ScalaCheck fuzz over the hand-rolled GraftSql parser (the repo's
 * highest-risk surface): generated scripts exercise names, quoting,
 * comments, multi-line statements, and `{{var}}` templating. Three
 * properties:
 *   1. splitStatements finds EXACTLY the statements a script was built
 *      from, whatever formatting noise surrounds them (a miscount is a
 *      silent misparse — half a pipeline runs);
 *   2. formatting/templating never changes RESULTS of a fixed pipeline;
 *   3. arbitrary mutation produces a clean error or a result — never a
 *      MatchError / NPE / index-out-of-bounds escaping the parser.
 * Deterministic: every sample is drawn from an explicit ScalaCheck Seed.
 */
class GraftSqlFuzzSpec extends SparkTestBase {

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  // identifiers that can never collide with the (case-insensitive)
  // statement keywords or grammar tokens
  private val identGen: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(5, Gen.oneOf(Gen.alphaLowerChar, Gen.numChar, Gen.const('_')))
  } yield ("z" + h + t.mkString) // leading z: no keyword starts with z

  // comment lines may contain keywords at line start — stripComment must
  // remove them before statement detection sees them
  private val commentGen: Gen[String] = Gen.oneOf(
    "-- SELECT * FROM nowhere",
    "  -- TAKE 5 ROWS FROM ghost",
    "-- a = CREATE chaos",
    "--", "   --   ZIP a, b")

  private val noiseGen: Gen[Seq[String]] =
    Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf(commentGen, Gen.const(""))))

  test("fuzz P1: splitStatements recovers exactly the generated statements") {
    // each generated entry is (statement text, lines it was rendered as)
    case class Stmt(text: String)
    val createGen: Gen[Stmt] = for {
      n <- identGen
      v <- Gen.choose(0, 99)
    } yield Stmt(s"""$n = CREATE [[$v, "v$v"]] SCHEMA a:long,b:str""")
    // quoted path holding keywords, a comment marker, and parens — none
    // may influence splitting or flag detection
    val nastyPathGen: Gen[Stmt] = for {
      n <- identGen
    } yield Stmt(s"""$n = CREATE [["/x--y SELECT (TAKE"]] SCHEMA p:str""")
    // multi-line statement: UNION ALL connector at end-of-line means the
    // following SELECT line CONTINUES the statement
    val unionGen: Gen[Stmt] = for {
      n <- identGen
      m <- identGen
    } yield Stmt(s"$n = CREATE [[1]] SCHEMA a:long\n" +
      s"$m = SELECT a FROM $n UNION ALL\nSELECT a FROM $n")
    // dangling assignment: `name =` absorbs the next line
    val danglingGen: Gen[Stmt] = for {
      n <- identGen
      m <- identGen
    } yield Stmt(s"$n = CREATE [[2]] SCHEMA a:long\n$m =\n  SELECT a FROM $n")
    // multi-line subquery: open paren keeps keyword-led lines attached
    val parenGen: Gen[Stmt] = for {
      n <- identGen
      m <- identGen
    } yield Stmt(s"$n = CREATE [[3]] SCHEMA a:long\n" +
      s"$m = SELECT * FROM (\nSELECT a FROM $n\n) q")

    // each template was authored with a known statement count: the
    // dangling/union/paren templates hold 2 logical statements, the
    // single-line ones hold 1
    def templateCount(t: String): Int =
      if (t.contains("UNION ALL") || t.contains("=\n") || t.contains("FROM (")) 2
      else 1

    val scriptGen: Gen[(String, Int)] = for {
      stmts <- Gen.choose(1, 5).flatMap(k => Gen.listOfN(k,
        Gen.oneOf(createGen, nastyPathGen, unionGen, danglingGen, parenGen)))
      noise <- Gen.listOfN(stmts.size + 1, noiseGen)
    } yield {
      val body = stmts.zip(noise.tail).flatMap { case (s, ns) =>
        s.text.split("\n").toSeq ++ ns
      }
      ((noise.head ++ body).mkString("\n"),
        stmts.map(s => templateCount(s.text)).sum)
    }

    for (((script, want), i) <- samples(scriptGen, 120, seed = 1000L).zipWithIndex) {
      val got = GraftSql.splitStatements(script)
      assert(got.size === want,
        s"sample $i split ${got.size} statements, expected $want:\n$script\n--- got:\n${got.mkString("\n###\n")}")
      // no content invented or lost: joined splits equal the script minus
      // comments/blank lines, modulo whitespace
      val norm = (s: String) => s.replaceAll("\\s+", " ").trim
      val src = script.split("\n").map(l => stripC(l)).filter(_.trim.nonEmpty).mkString(" ")
      assert(norm(got.mkString(" ")) === norm(src), s"sample $i content drift")
    }
  }

  /** comment stripper mirroring the parser's (quote-aware) — used only to
   * compute the expected content in P1. */
  private def stripC(line: String): String = {
    var inS = false; var inD = false; var i = 0
    while (i < line.length) {
      val c = line(i)
      if (c == '\'' && !inD) inS = !inS
      else if (c == '"' && !inS) inD = !inD
      else if (c == '-' && !inS && !inD && i + 1 < line.length && line(i + 1) == '-')
        return line.substring(0, i)
      i += 1
    }
    line
  }

  test("fuzz P2: formatting + {{var}} templating never change results") {
    val caseGen: Gen[(String, Map[String, String], Seq[String])] = for {
      a <- identGen; b <- identGen; c <- identGen
      // no backslashes: Spark SQL string literals process escape
      // sequences (engine semantics, not parser territory); $ and braces
      // are the substituteVars hazards this property targets
      lit <- Gen.oneOf("x$y", "{not a var}", "plain", "$$", "a{b}c")
      pre <- noiseGen; mid <- noiseGen
    } yield {
      val script = (pre ++ Seq(
        s"""{{a}} = CREATE [[1, "k"], [2, "k"], [3, "j"]] SCHEMA v:long,k:str""") ++ mid ++ Seq(
        s"{{b}} = SELECT k, '{{lit}}' AS tag, v FROM {{a}} WHERE v >= 2",
        s"{{c}} = TAKE 1 ROWS FROM {{b}} PREPARTITION BY k PRESORT v DESC",
        s"YIELD {{c}} AS out")).mkString("\n")
      (script, Map("a" -> a, "b" -> b, "c" -> c, "lit" -> lit), Seq(lit))
    }
    for (((script, vars, Seq(lit)), i) <- samples(caseGen, 40, seed = 2000L).zipWithIndex) {
      val r = GraftSql.run(engine, script, vars = vars)
      val rows = r.yields("out").collect()
        .map(x => (x.getString(0), x.getString(1), x.getLong(2))).sortBy(_._1)
      assert(rows.toSeq === Seq(("j", lit, 3L), ("k", lit, 2L)),
        s"sample $i wrong result for script:\n$script")
    }
  }

  test("fuzz P2b: substituteVars is exact and rejects undefined variables") {
    val g: Gen[(String, String)] = for {
      n <- identGen
      v <- Gen.oneOf("x", "a b", "$1", "\\d", "{{", "}}", "NULL", "'q'")
    } yield (n, v)
    for (((n, v), i) <- samples(g, 60, seed = 3000L).zipWithIndex) {
      assert(GraftSql.substituteVars(s"pre {{$n}} post {{ $n }}", Map(n -> v)) ===
        s"pre $v post $v", s"sample $i")
      intercept[IllegalArgumentException] {
        GraftSql.substituteVars(s"x {{${n}_undef}} y", Map(n -> v))
      }
    }
  }

  test("fuzz P2c: {% for %}/{% if %} templating renders pipelines that run") {
    val caseGen: Gen[(Seq[String], Boolean)] = for {
      ns <- Gen.listOfN(3, identGen).retryUntil(_.distinct.size == 3)
      take <- Gen.oneOf(true, false)
    } yield (ns, take)
    for (((names, take), i) <- samples(caseGen, 30, seed = 6000L).zipWithIndex) {
      val script =
        """{% for n in names %}
          |{{ n }} = CREATE [[{{ loop.index }}, "k{{ loop.index0 }}"]] SCHEMA v:long,k:str
          |{% endfor %}
          |u = SELECT v, k FROM {{ names | first }}{% for n in names %}{% if not loop.first %} UNION ALL SELECT v, k FROM {{ n }}{% endif %}{% endfor %}
          |{% if take %}res = TAKE 1 ROWS FROM u PRESORT v DESC{% else %}res = SELECT v, k FROM u WHERE v >= 2{% endif %}
          |YIELD res AS out
          |""".stripMargin
      val rows = GraftSql.run(engine, script,
        vars = Map("names" -> names, "take" -> take))
        .yields("out").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val want =
        if (take) Seq((3L, "k2")) else Seq((2L, "k1"), (3L, "k2"))
      assert(rows.toSeq === want, s"sample $i (names=$names take=$take)")
    }
  }

  test("fuzz P2d: generated templates render correctly; junk fails cleanly") {
    import graft.sql.Template
    // structured generator: random nesting of text/output/if/for renders
    // to a string we can also compute by direct evaluation
    val xs = Seq("u", "v", "w")
    val env = Map[String, Any]("xs" -> xs, "n" -> 5L, "flag" -> true, "s" -> "q")
    sealed trait T { def tpl: String; def out: String }
    case class Txt(t: String) extends T { def tpl = t; def out = t }
    case object Var extends T { def tpl = "{{ s }}"; def out = "q" }
    case class If(inner: Seq[T], taken: Boolean) extends T {
      def tpl = s"{% if ${if (taken) "n > 1" else "n > 9"} %}" +
        inner.map(_.tpl).mkString + "{% endif %}"
      def out = if (taken) inner.map(_.out).mkString else ""
    }
    case class For(inner: Seq[T]) extends T {
      def tpl = "{% for x in xs %}{{ x }}" + inner.map(_.tpl).mkString + "{% endfor %}"
      def out = xs.map(x => x + inner.map(_.out).mkString).mkString
    }
    def nodeGen(depth: Int): Gen[T] =
      if (depth == 0) Gen.oneOf(Gen.oneOf("a ", "b", " c").map(Txt(_)), Gen.const(Var))
      else Gen.oneOf(
        Gen.oneOf("a ", "b").map(Txt(_)),
        Gen.const(Var),
        Gen.zip(Gen.listOfN(2, nodeGen(depth - 1)), Gen.oneOf(true, false))
          .map { case (in, t) => If(in, t) },
        Gen.listOfN(2, nodeGen(depth - 1)).map(For(_)))
    val treeGen: Gen[Seq[T]] = Gen.listOfN(4, nodeGen(2))
    for ((nodes, i) <- samples(treeGen, 60, seed = 7000L).zipWithIndex) {
      val tpl = nodes.map(_.tpl).mkString
      assert(Template.render(tpl, env) === nodes.map(_.out).mkString,
        s"sample $i template: $tpl")
    }
    // junk with template metacharacters: renders or throws
    // IllegalArgumentException — never a MatchError/NPE/SO escaping
    val junkGen = Gen.listOfN(60, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('{', '}', '%', '#', '-', ' ', '\n', '\'',
        '"', '|', '(', ')', '[', ']', '~', '<', '>', '=', '.', ','))).map(_.mkString)
    var rendered = 0; var cleanFail = 0
    for (junk <- samples(junkGen, 200, seed = 8000L)) {
      try { Template.render(junk, env); rendered += 1 }
      catch { case _: IllegalArgumentException => cleanFail += 1 }
    }
    info(s"P2d junk: $rendered rendered, $cleanFail failed cleanly")
  }

  test("fuzz P2e: {% set %}/{% macro %} sequences render correctly; junk fails cleanly") {
    import graft.sql.Template
    // op sequences over one tracked variable with known jinja scoping:
    // the test interprets the same ops directly and compares
    sealed trait Op
    case class SetV(v: Long) extends Op
    case object Emit extends Op
    case class IfSet(taken: Boolean, v: Long) extends Op
    case class ForShadow(v: Long) extends Op
    case class CallM(a: Long, kw: Boolean) extends Op
    val opGen: Gen[Op] = Gen.oneOf(
      Gen.choose(0L, 99L).map(SetV(_)),
      Gen.const(Emit),
      Gen.zip(Gen.oneOf(true, false), Gen.choose(0L, 99L))
        .map { case (t, v) => IfSet(t, v) },
      Gen.choose(0L, 99L).map(ForShadow(_)),
      Gen.zip(Gen.choose(0L, 99L), Gen.oneOf(true, false))
        .map { case (a, k) => CallM(a, k) })
    val seqGen: Gen[List[Op]] = Gen.listOfN(8, opGen)
    for ((ops, i) <- samples(seqGen, 40, seed = 8600L).zipWithIndex) {
      val header = "{% macro m(a, b=3) %}{{ a }}-{{ b }}.{% endmacro %}" +
        "{% set x = 0 %}"
      val tpl = header + ops.map {
        case SetV(v) => s"{% set x = $v %}"
        case Emit => "{{ x }};"
        case IfSet(t, v) =>
          s"{% if ${if (t) "1 < 2" else "1 > 2"} %}{% set x = $v %}{% endif %}"
        case ForShadow(v) =>
          s"{% for i in [1] %}{% set x = $v %}({{ x }}){% endfor %}"
        case CallM(a, kw) => if (kw) s"{{ m($a, b=7) }}" else s"{{ m($a) }}"
      }.mkString
      val (expected, _) = ops.foldLeft(("", 0L)) { case ((out, x), op) =>
        op match {
          case SetV(v) => (out, v)
          case Emit => (out + s"$x;", x)
          case IfSet(t, v) => (out, if (t) v else x) // if-blocks leak
          case ForShadow(v) => (out + s"($v)", x)    // for bodies don't
          case CallM(a, kw) => (out + s"$a-${if (kw) 7 else 3}.", x)
        }
      }
      assert(Template.render(tpl, Map.empty) === expected,
        s"sample $i ops: $ops")
    }
    // junk around the new tags: renders or raises IllegalArgumentException,
    // never a MatchError/NPE/StackOverflow escape
    val frag = Gen.oneOf("{% set", "set x", "= 1 %}", "{% macro", "m(a",
      "a=1) %}", "{% endmacro %}", "{% endset %}", "{{ m(", ") }}",
      "x", "=", "%}", " ")
    val junkGen = Gen.listOfN(12, frag).map(_.mkString)
    var rendered = 0; var cleanFail = 0
    for (junk <- samples(junkGen, 200, seed = 8700L)) {
      try { Template.render(junk, Map("m" -> 1L, "x" -> 2L)); rendered += 1 }
      catch { case _: IllegalArgumentException => cleanFail += 1 }
    }
    info(s"P2e junk: $rendered rendered, $cleanFail failed cleanly")
  }

  test("regressions the fuzzer found: bare TAKE and dangling assignment") {
    // both crashed with NoSuchElementException before round 4
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.run(engine, "TAKE")
    }
    assert(e1.getMessage.contains("row count"))
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.run(engine, "q =")
    }
    assert(e2.getMessage.contains("statement"))
  }

  test("fuzz P3: mutated scripts fail cleanly or run — no parser escapes") {
    val base = Seq(
      "src = CREATE [[1, \"a\"], [2, \"b\"]] SCHEMA v:long,k:str",
      "sel = SELECT k, v FROM src WHERE v > 0",
      "TAKE 1 ROWS FROM sel PRESORT v DESC",
      "DISTINCT",
      "ren = RENAME COLUMNS k:key FROM src",
      "DROPNA ANY FROM src",
      "YIELD sel AS out")
    val mutGen: Gen[String] = for {
      lines <- Gen.someOf(base)
      shuffled <- Gen.oneOf(true, false)
      extra <- Gen.oneOf("", "TAKE", "ZIP ,", "SELECT", "q =", "RENAME COLUMNS",
        "CREATE [[", "FILLNA", "SAMPLE -3 PERCENT FROM src", "ALTER COLUMNS")
      cut <- Gen.choose(0, 40)
    } yield {
      val body = (if (shuffled) lines.reverse else lines) :+ extra
      val s = body.mkString("\n")
      if (cut > 0 && cut < s.length) s.dropRight(cut) else s
    }
    var ran = 0; var failedClean = 0
    for ((script, i) <- samples(mutGen, 150, seed = 4000L).zipWithIndex) {
      try { GraftSql.run(engine, script); ran += 1 }
      catch {
        case _: IllegalArgumentException => failedClean += 1 // incl. NumberFormat
        case _: org.apache.spark.sql.AnalysisException => failedClean += 1
        case e: Throwable =>
          fail(s"sample $i escaped with ${e.getClass.getName}: ${e.getMessage}\n$script")
      }
    }
    info(s"P3: $ran ran, $failedClean failed cleanly")
    // arbitrary unicode garbage must never crash the splitter/templater
    val junkGen = Gen.listOfN(80, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', '\n', '"', '\'', '(', ')', '-', '=',
        '{', '}', ',', ':', '\t', 'é', '世'))).map(_.mkString)
    for (junk <- samples(junkGen, 100, seed = 5000L)) {
      GraftSql.splitStatements(junk) // must not throw
      GraftSql.substituteVars(junk.replace("{", "").replace("}", ""), Map.empty)
    }
  }

  // The dialect's quoting rule: '…', "…" and `…` are opaque (a doubled
  // delimiter stays inside), so a name or value may hold what would
  // otherwise be a comment, a separator or a paren.
  private val oddNameGen: Gen[String] =
    Gen.oneOf("a--b", "x,y", "p)q", "it's", "b``t", "(c", "d -- e", "f:g")
  private val quotedValueGen: Gen[String] = Gen.oneOf("'--'", "','", "'a (b) c'",
    "'it''s'", "\"--\"", "\",\"", "\"a (b) c\"", "\"say \"\"hi\"\"\"", "'x\\'y'")
  private val quoteNoiseGen: Gen[Seq[String]] = Gen.choose(0, 2).flatMap(n => Gen.listOfN(n,
    Gen.oneOf("-- it's a `trap", "  -- \"open (", "--)(", "-- `", "")))

  test("fuzz P1q: quoted names, values and strings never split or leak a statement") {
    // (statement text, logical statement count)
    val stmtGen: Gen[(String, Int)] = for {
      n <- identGen
      m <- identGen
      odd <- oddNameGen
      v1 <- quotedValueGen
      v2 <- quotedValueGen
      kind <- Gen.choose(0, 5)
    } yield kind match {
      case 0 => (s"""$n = CREATE [["$odd"]] SCHEMA p:str""", 1)
      case 1 => (s"$n = SELECT a AS `$odd`, b FROM $m", 1)
      case 2 => (s"$n = PROCESS $m USING cap(k:$v1, j:$v2)", 1)
      case 3 => (s"RENAME COLUMNS a:`$odd` FROM $m", 1)
      // a keyword-led line inside a quoted string continues the statement
      case 4 => (s"$n = SELECT 'x ${odd.replace("'", "''")}\nSELECT y' AS s FROM $m", 1)
      // a line inside an open paren continues it too, quoted parens aside
      case _ => (s"$n = SELECT `$odd` FROM (\nSELECT a AS `$odd` FROM $m WHERE b = '(')", 1)
    }
    val scriptGen: Gen[(String, Seq[String], Int)] = for {
      stmts <- Gen.choose(1, 5).flatMap(k => Gen.listOfN(k, stmtGen))
      noise <- Gen.listOfN(stmts.size + 1, quoteNoiseGen)
    } yield {
      val body = stmts.zip(noise.tail).flatMap { case ((t, _), ns) => t.split("\n").toSeq ++ ns }
      ((noise.head ++ body).mkString("\n"), stmts.map(_._1), stmts.map(_._2).sum)
    }
    val norm = (s: String) => s.replaceAll("\\s+", " ").trim
    for (((script, stmts, want), i) <- samples(scriptGen, 150, seed = 9000L).zipWithIndex) {
      val got = GraftSql.splitStatements(script)
      assert(got.size === want,
        s"sample $i split ${got.size} statements, expected $want:\n$script\n--- got:\n${got.mkString("\n###\n")}")
      // the noise lines are whole comments: what remains is the statements
      assert(norm(got.mkString(" ")) === norm(stmts.mkString(" ")), s"sample $i content drift")
    }
  }

  test("fuzz P3q: mutated scripts with quoted names and values fail cleanly or run") {
    val base = Seq(
      "src = CREATE [[1, \"a\"], [2, \"b\"]] SCHEMA v:long,k:str",
      "sel = SELECT k AS `a--b`, v AS `x,y`, v AS `p)q`, v AS `it's` FROM src",
      "ren = RENAME COLUMNS k:`a--b` FROM src",
      "fil = FILLNA PARAMS k:'z,z' FROM src",
      "PROCESS src USING dedup_exact(keys:'k', id:v)",
      "PROCESS src USING dedup_exact(keys:\"k,v\", id:\"v\")",
      "YIELD sel AS out")
    assert(GraftSql.run(engine, base.mkString("\n")).yields("out").columns.toSeq ===
      Seq("a--b", "x,y", "p)q", "it's"))
    val mutGen: Gen[String] = for {
      lines <- Gen.someOf(base)
      shuffled <- Gen.oneOf(true, false)
      extra <- Gen.oneOf("", "SELECT `", "PROCESS src USING dedup_exact(keys:'k",
        "RENAME COLUMNS k:`x", "CREATE [[\"(\"]] SCHEMA p:str", "TAKE 1 ROWS FROM `src`",
        "DROP COLUMNS `x,y` FROM sel", "PRINT `sel`", "CREATE [[1, SCHEMA a:long")
      cut <- Gen.choose(0, 40)
    } yield {
      val body = (if (shuffled) lines.reverse else lines) :+ extra
      val s = body.mkString("\n")
      if (cut > 0 && cut < s.length) s.dropRight(cut) else s
    }
    var ran = 0; var failedClean = 0
    for ((script, i) <- samples(mutGen, 150, seed = 9500L).zipWithIndex) {
      try { GraftSql.run(engine, script); ran += 1 }
      catch {
        case _: IllegalArgumentException => failedClean += 1
        case _: org.apache.spark.sql.AnalysisException => failedClean += 1
        case e: Throwable =>
          fail(s"sample $i escaped with ${e.getClass.getName}: ${e.getMessage}\n$script")
      }
    }
    info(s"P3q: $ran ran, $failedClean failed cleanly")
    val junkGen = Gen.listOfN(80, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', '\n', '"', '\'', '`', '\\', '(', ')', '-', ',', ':'))).map(_.mkString)
    for (junk <- samples(junkGen, 100, seed = 9700L)) GraftSql.splitStatements(junk) // must not throw
  }

  test("P4: quality-rule DSL junk parses or raises IllegalArgumentException, never escapes") {
    val kinds = Gen.oneOf("not_null", "unique", "completeness", "min", "max",
      "mean", "stddev", "in_set", "distinct", "approx_distinct", "row_count",
      "regex", "bogus", "")
    val field = Gen.oneOf("c", "v", "0.5", "abc", "1e9", "-3", "a|b", "{2\\,4}", "")
    val ruleGen = for {
      k <- kinds
      n <- Gen.choose(0, 4)
      fs <- Gen.listOfN(n, field)
    } yield (k +: fs).mkString(":")
    val specGen = Gen.choose(1, 4)
      .flatMap(n => Gen.listOfN(n, ruleGen)).map(_.mkString(","))
    var ok = 0; var rejected = 0
    for ((spec, i) <- samples(specGen, 300, seed = 6000L).zipWithIndex) {
      try { ok += graft.functions.Checks.parseRules(spec).length }
      catch {
        case _: IllegalArgumentException => rejected += 1 // incl. NumberFormat
        case e: Throwable =>
          fail(s"spec $i escaped with ${e.getClass.getName}: ${e.getMessage}\n$spec")
      }
    }
    info(s"P4: $ok rules parsed, $rejected specs rejected cleanly")
  }

  test("COTRANSFORM PRESORT and ZIP + TRANSFORM PRESORT both order each side " +
      "as a driver-side sort with nulls last") {
    import graft.sql.GraftSql.{CoTransformerDef, Extensions}
    import org.apache.spark.sql.Row
    def orNull[A](g: Gen[A]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> g.map(x => x: Any))
    val rowGen: Gen[Seq[Any]] = for {
      k <- Gen.choose(0, 2)
      i <- orNull(Gen.choose(-3, 3))
      d <- orNull(Gen.frequency(1 -> Gen.const(Double.NaN), 5 -> Gen.choose(-3, 3).map(_ / 2.0)))
      s <- orNull(Gen.listOfN(2, Gen.oneOf('a', 'b', 'B', '_')).map(_.mkString))
    } yield Seq(k, i, d, s)
    val fields = Seq("iV", "dV", "sV")
    val caseGen: Gen[String => String] = Gen.oneOf(
      Seq[String => String](_.toUpperCase, _.toLowerCase, s => s))
    val presortGen: Gen[Seq[(Int, Boolean, String => String)]] = for {
      n <- Gen.choose(1, 2)
      cols <- Gen.pick(n, fields.indices)
      dirs <- Gen.listOfN(n, Gen.oneOf(true, false))
      cases <- Gen.listOfN(n, caseGen)
    } yield cols.toSeq.zip(dirs).zip(cases).map { case ((c, asc), cs) => (c, asc, cs) }
    val inputGen = for {
      l <- Gen.listOfN(12, rowGen)
      r <- Gen.listOfN(12, rowGen)
      ps <- presortGen
    } yield (l, r, ps)
    // one output row per row a side's iterator yields, with its position
    val out = graft.schema.SchemaExpr.parse("k:int,side:int,pos:int,iV:int,dV:double,sV:str")
    val exts = Extensions(cotransformers = Map("rows" -> CoTransformerDef(
      outputSchema = (_, _, _) => out,
      fn = (key, ls, rs, _) => Iterator(ls, rs).zipWithIndex.flatMap { case (it, side) =>
        it.zipWithIndex.map { case (row, pos) =>
          Row(key.head, side, pos, row.get(1), row.get(2), row.get(3))
        }
      })))
    def cmp(a: Any, b: Any, asc: Boolean): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => 1 // nulls last in both directions
      case (_, null) => -1
      case (x: Int, y: Int) => if (asc) x.compare(y) else y.compare(x)
      case (x: Double, y: Double) =>
        if (asc) java.lang.Double.compare(x, y) else java.lang.Double.compare(y, x)
      case (x: String, y: String) => if (asc) x.compareTo(y) else y.compareTo(x)
    }
    for ((l, r, ps) <- samples(inputGen, 10, 4242L)) {
      val clause = ps.map { case (c, asc, cs) => s"${cs(fields(c))} ${if (asc) "ASC" else "DESC"}" }
        .mkString(", ")
      def keyOf(row: Seq[Any]): Seq[String] = ps.map { case (c, _, _) => String.valueOf(row(c + 1)) }
      val sides = Seq(l, r)
      val keys = l.map(_.head).toSet.intersect(r.map(_.head).toSet)
      val want = for (k <- keys.toSeq; side <- 0 to 1) yield (k, side) -> sides(side)
        .filter(_.head == k)
        .sortWith { (a, b) =>
          ps.iterator.map { case (c, asc, _) => cmp(a(c + 1), b(c + 1), asc) }.find(_ != 0).exists(_ < 0)
        }.map(keyOf)
      val schema = "k:int,iV:int,dV:double,sV:str"
      val inputs = Map("l" -> df(l, schema), "r" -> df(r, schema))
      for (script <- Seq(s"COTRANSFORM l, r BY k PRESORT $clause USING rows",
          s"z = ZIP l, r BY k\nTRANSFORM z PRESORT $clause USING rows")) {
        val got = GraftSql.runWith(engine, script + "\nYIELD AS out", inputs, exts)
          .yields("out").collect().toSeq
          .groupBy(row => (row.get(0), row.getInt(1)))
          .map { case (ks, rows) =>
            ks -> rows.sortBy(_.getInt(2)).map(row => keyOf(Seq(null) ++ (3 to 5).map(row.get)))
          }
        assert(got === want.toMap, s"$script\nl=$l\nr=$r")
      }
    }
  }
}
