package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source-tree hygiene lint: no raw control bytes in .scala sources.
 *
 * A literal NUL (or other C0 control byte outside tab/newline/CR)
 * inside a char/string literal makes git treat the whole file as
 * binary — `git diff` prints `Bin N -> M bytes` for a product source
 * file, grep answers "binary file matches", and review dies. The
 * behavior-identical spelling is the backslash-u escape, which
 * diffs as text. This lint enforces that spelling repo-wide (r14
 * verdict "what's wrong" #1; the repo workflow notes flag literal
 * control bytes as a recurring Write-tool hazard).
 *
 * Second lint: the library packages materialize intermediate results only
 * through `graft.Materialize` (one eager primitive, one release path, one
 * checkpoint root); outside `engine/` they name no StorageLevel and call no
 * `.cache()`. Entries* and Stress play the user's part and may call
 * Spark directly. Third lint: the SQL dialect compiles to Workflow nodes,
 * so it has no persist, checkpoint, save or yield code of its own. Fourth
 * lint: one main file spells out the join types (`GraftEngine.joinType`),
 * so join, zip and cogroup cannot drift apart again. Fifth lint: one
 * helper in `Dedup.scala` builds the (id, s) posting stream and its df
 * table, so the Jaccard and containment paths share one df ≥ 2 rule.
 */
class SourceHygieneSpec extends AnyFunSuite {

  private val allowed: Set[Byte] = Set('\t'.toByte, '\n'.toByte, '\r'.toByte)

  private def scalaSources(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(root)) Seq.empty
    else java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq
  }

  test("no .scala source under src/ contains raw C0 control bytes") {
    val roots = Seq("src/main", "src/test").map(java.nio.file.Paths.get(_))
    val offenders = roots.flatMap(scalaSources).flatMap { p =>
      val bytes = java.nio.file.Files.readAllBytes(p)
      val bad = bytes.zipWithIndex.collect {
        case (b, i) if b >= 0 && b < 0x20 && !allowed.contains(b) => (b, i)
      }
      if (bad.isEmpty) None
      else Some(s"$p: ${bad.take(3).map { case (b, i) => f"0x$b%02x@byte$i" }.mkString(", ")}" +
        (if (bad.length > 3) s" (+${bad.length - 3} more)" else ""))
    }
    assert(offenders.isEmpty,
      s"raw control bytes in source (use \\u escapes):\n${offenders.mkString("\n")}")
  }

  test("library packages materialize only through graft.Materialize") {
    import scala.jdk.CollectionConverters._
    val roots = Seq("api", "engine", "functions", "operators", "sql", "workflow", "transform")
      .map(p => java.nio.file.Paths.get(s"src/main/scala/graft/$p"))
    roots.foreach(r => assert(java.nio.file.Files.isDirectory(r), s"missing $r"))
    val banned = Seq(".localCheckpoint(", "unpersistCheckpointed",
      "\"graft.explain.deferCheckpoint\"", "/tmp/graft_checkpoints")
    // a Dataset persist stays in the CacheManager until unpersist: only the
    // engine's own persist (Workflow's weak checkpoints) may cache
    val bannedOutsideEngine = Seq("StorageLevel", ".cache()")
    val hits = roots.flatMap(scalaSources).flatMap { p =>
      val engine = p.startsWith(java.nio.file.Paths.get("src/main/scala/graft/engine"))
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
        val t = line.trim
        // comment lines and trailing `// ...` comments do not count
        val code =
          if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
          else line.replaceAll("\\s//\\s.*$", "")
        (banned ++ (if (engine) Nil else bannedOutsideEngine))
          .filter(code.contains).map(b => s"$p:${i + 1}: $b")
      }
    }
    assert(hits.isEmpty, s"materialize through graft.Materialize:\n${hits.mkString("\n")}")
  }

  test("the SQL dialect persists, checkpoints, saves and yields only through Workflow") {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft/sql/GraftSql.scala")).asScala.toSeq
    // the built-in processor registry wraps library operators and is exempt
    val registry = lines.indexWhere(_.contains("val builtinExtensions"))
    val registryEnd = lines.indexWhere(_.contains("private def withBuiltins"))
    assert(registry >= 0 && registryEnd > registry)
    val banned = Seq("engine.persist", "engine.broadcast", "engine.save", "Materialize.")
    val hits = lines.zipWithIndex.filterNot { case (_, i) => i >= registry && i < registryEnd }
      .flatMap { case (line, i) =>
        val t = line.trim
        val code =
          if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
          else line.replaceAll("\\s//\\s.*$", "")
        banned.filter(code.contains).map(b => s"GraftSql.scala:${i + 1}: $b")
      }
    assert(hits.isEmpty, s"compile statements to Workflow nodes:\n${hits.mkString("\n")}")
  }

  test("one main file reads the join-type words") {
    val spellings = Seq("\"leftouter\"", "\"fullouter\"", "\"rightouter\"")
    val files = scalaSources(java.nio.file.Paths.get("src/main")).filter { p =>
      val text = java.nio.file.Files.readString(p)
      spellings.exists(text.contains)
    }
    assert(files.map(_.toString) === Seq("src/main/scala/graft/engine/GraftEngine.scala"))
  }

  test("one helper builds the (id, s) shingle posting stream") {
    import scala.jdk.CollectionConverters._
    val posting = "select(col(\"id\"), explode(col(\"sh\"))"
    val hits = scalaSources(java.nio.file.Paths.get("src/main")).flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
        .filter(_._1.contains(posting)).map { case (_, i) => s"$p:${i + 1}" }
    }
    assert(hits.size === 1, hits.mkString("\n"))
    assert(hits.head.startsWith("src/main/scala/graft/functions/Dedup.scala:"))
  }
}
