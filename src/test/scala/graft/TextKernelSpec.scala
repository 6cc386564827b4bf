package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The Catalyst formulations that the one-pass `TextStats` and `LangId`
 * kernels replaced, kept verbatim as the reference the kernels must equal:
 * regex scans for the character classes, `split(trim(...), "\\s+")` for
 * tokens, and a fold of CASEs over `array_intersect` sizes for language
 * ID. */
object TextReference {
  private def charClassCount(text: Column, charClassRegex: String): Column =
    length(text) - length(regexp_replace(text, charClassRegex, ""))

  def tokenCount(text: Column): Column =
    when(length(regexp_replace(text, "\\s", "")) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  private val StopwordsEn = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "are", "was", "for", "on", "with", "as", "at", "by", "it")

  def qualityMetrics(text: Column): Seq[(String, Column)] = {
    val toks = split(trim(lower(text)), "\\s+")
    val nTok = tokenCount(text)
    val nStop = size(filter(toks, t => t.isin(StopwordsEn: _*)))
    Seq(
      "n_chars" -> length(text),
      "n_tokens" -> nTok,
      "n_punct" -> charClassCount(text, "[\\p{Punct}]"),
      "n_digits" -> charClassCount(text, "[0-9]"),
      "n_stopwords" -> nStop,
      "stopword_ratio" -> when(nTok > 0, nStop.cast("double") / nTok).otherwise(lit(0.0)),
      "mean_word_len" -> when(nTok > 0,
        length(regexp_replace(text, "\\s+", "")).cast("double") / nTok).otherwise(lit(0.0))
    )
  }

  private val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "den", "von"),
    "fr" -> Seq("le", "la", "les", "des", "est", "et", "dans", "une", "que", "pour"),
  )

  def langId(text: Column): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    val cjk = charClassCount(text, "[\\u4e00-\\u9fff]")
    val scores = LangStopwords.map { case (lang, words) =>
      lang -> size(array_intersect(toks, array(words.map(lit): _*)))
    }
    val best = scores.foldLeft[(Column, Column)]((lit("en"), lit(-1))) {
      case ((bl, bs), (lang, s)) =>
        (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    when(cjk > length(text) * 0.3, lit("zh")).otherwise(best._1)
  }

  def qualityFilter(df: DataFrame, textCol: String, minTokens: Int,
      maxStopwordRatio: Double, minStopwordRatio: Double,
      maxMeanWordLen: Double): DataFrame = {
    val m = qualityMetrics(col(textCol)).toMap
    df.filter(m("n_tokens") >= minTokens &&
      m("stopword_ratio") <= maxStopwordRatio &&
      m("stopword_ratio") >= minStopwordRatio &&
      m("mean_word_len") <= maxMeanWordLen)
  }
}

/** ScalaCheck differential: `textStats`/`qualityMetrics`, `tokenCount`,
 * `langId` and `qualityFilter` against [[TextReference]] on generated
 * documents that stress the boundaries of the one-pass kernels —
 * every `\s` separator and the spaces that are not `\s`, leading and
 * trailing spaces and tabs, empty/blank/null text, CJK shares around the
 * 0.3 gate, non-ASCII case folding and stopword-count ties. Deterministic:
 * every sample is drawn from an explicit Seed. */
class TextKernelSpec extends SparkTestBase {

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  private val langWords = Seq(
    Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "den", "von"),
    Seq("le", "la", "les", "des", "est", "et", "dans", "une", "que", "pour"))
  private val qualityWords = Seq("a", "an", "or", "are", "on", "as", "at", "by", "it")

  // U+0130 (dotted capital I) lowercases to i + U+0307, U+1E9E to U+00DF,
  // capital sigma to a medial or word-final sigma, the Kelvin sign U+212A
  // to ASCII k: none may turn into a stopword
  private val foldingWords = Seq("\u0130", "\u0130S", "\u0130N", "\u0130t",
    "\u1e9e", "\u03a3", "\u0391\u03a3", "\u03a3\u0391\u03a3", "\u212aey",
    "\u00dcnd", "DAS", "THE", "Que")
  private val otherWords = Seq("cat", "house", "perro", "hund", "chien", "x",
    "2024", "3.14", "a,b", "!?", "--", "(the)", "the.", "\u00e9", "\u00df",
    "\ud83d\ude00", "\u4e2d\u6587", "\u4e00", "\u9fff", "\u4dff", "\ua000",
    "\u65e5\u672c\u8a9e\u30c6\u30ad\u30b9\u30c8")

  private val caseGen: Gen[String => String] =
    Gen.oneOf(Seq[String => String](identity, _.toUpperCase, _.capitalize))
  private val wordGen: Gen[String] = Gen.frequency(
    5 -> Gen.zip(Gen.oneOf(langWords.flatten ++ qualityWords), caseGen)
      .map { case (w, f) => f(w) },
    2 -> Gen.oneOf(foldingWords),
    3 -> Gen.oneOf(otherWords))
  // every Java `\s` character, plus NBSP, U+2000, U+2003 and U+3000,
  // which are not `\s` and must stay inside tokens
  private val sepGen: Gen[String] = Gen.oneOf(" ", "  ", "\t", "\n",
    "\u000B", "\f", "\r", "\r\n", " \t ", "\u00a0", "\u2000", "\u2003", "\u3000")
  private val edgeGen: Gen[String] = Gen.oneOf("", " ", "  ", "\t", " \t",
    "\t ", "\n")

  private val docGen: Gen[String] = for {
    words <- Gen.choose(0, 12).flatMap(Gen.listOfN(_, wordGen))
    seps <- Gen.listOfN(words.size, sepGen)
    pre <- edgeGen
    post <- edgeGen
  } yield pre + words.zip(seps).map { case (w, s) => s + w }.mkString.drop(
    seps.headOption.map(_.length).getOrElse(0)) + post

  // k CJK ideographs (U+4E00..U+9FFF) among n code points, k within one
  // of 0.3 n; U+4DFF and U+A000 sit just outside the range
  private val cjkShareGen: Gen[String] = for {
    n <- Gen.choose(1, 40)
    delta <- Gen.choose(-1, 1)
    k = math.max(0, math.min(n, math.round(n * 0.3).toInt + delta))
    cjk <- Gen.listOfN(k, Gen.oneOf('\u4e00', '\u4e2d', '\u6587', '\u9fff'))
    rest <- Gen.listOfN(n - k, Gen.oneOf('a', 'b', ' ', '\t', '\u00e9', '\u4dff', '\ua000'))
    shuffle <- Gen.long
  } yield new scala.util.Random(shuffle).shuffle(cjk ++ rest).mkString

  // the same number of distinct stopwords from two languages (a tie), with
  // repeats that must not count twice
  private val tieGen: Gen[String] = for {
    la <- Gen.choose(0, 3)
    lb <- Gen.choose(0, 3)
    m <- Gen.choose(1, 3)
    a <- Gen.pick(m, langWords(la))
    b <- Gen.pick(m, langWords(lb))
    reps <- Gen.choose(0, m)
    shuffle <- Gen.long
  } yield new scala.util.Random(shuffle).shuffle(a ++ b ++ a.take(reps)).mkString(" ")

  private val fixed: Seq[String] = Seq(null, "", " ", "\t", "   ", "\t\n\t",
    " \ta ", "a\t", "\ta", "a b  c", "one", "\u00a0", "\u2000a\u2000",
    " the ", "\tthe\t", "THE CAT", "\u0130", "\u03a3\u0391\u03a3 \u03a3\u0391\u03a3",
    "\u4e00\u4e8c\u4e09 abcdefg", "\u4e00\u4e8c\u4e09abcdefg",
    "el le", "la que", "the el", "der le", "les la")

  private lazy val texts: Seq[String] = fixed ++ samples(docGen, 500, 11L) ++
    samples(cjkShareGen, 200, 22L) ++ samples(tieGen, 200, 33L)

  private lazy val docs: DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t").cache()
  }

  private def byId(d: DataFrame): Map[Int, Seq[Any]] =
    d.collect().map(r => r.getInt(0) -> r.toSeq.tail).toMap

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (byId(got), byId(want))
    assert(g.keySet === w.keySet)
    val bad = w.keys.toSeq.sorted.filter(i => g(i) != w(i))
    assert(bad.isEmpty, bad.take(5).map(i =>
      s"text ${Option(texts(i)).map(t => t.flatMap(c =>
        if (c < 0x20 || c > 0x7e) f"\\u$c%04x" else c.toString)).orNull}: " +
        s"got ${g(i)}, want ${w(i)}").mkString("\n"))
  }

  test("generated text covers the boundaries it is meant to") {
    assert(texts.contains(null) && texts.contains(""))
    assert(texts.exists(t => t != null && t.contains('\u000B')))
    assert(texts.exists(t => t != null && t.contains('\u00a0')))
    val cjk = (t: String) => t.count(c => c >= '\u4e00' && c <= '\u9fff')
    val share = texts.filter(t => t != null && t.nonEmpty)
      .map(t => cjk(t) - t.codePointCount(0, t.length) * 0.3)
    assert(share.exists(d => d > 0 && d <= 1) && share.exists(d => d <= 0 && d > -1))
  }

  test("textStats, tokenCount and langId equal the Catalyst reference") {
    val t = col("t")
    def cols(metrics: Seq[(String, Column)], tokens: Column, lang: Column) =
      col("id") +: (metrics.map { case (n, c) => c.as(n) } ++
        Seq(tokens.as("tokens"), lang.as("lang")))
    assertSame(
      docs.select(cols(TextFunctions.qualityMetrics(t),
        TextFunctions.tokenCount(t), TextFunctions.langId(t)): _*),
      docs.select(cols(TextReference.qualityMetrics(t),
        TextReference.tokenCount(t), TextReference.langId(t)): _*))
  }

  test("qualityFilter keeps the same rows as the reference filter") {
    val bounds = Seq((0, 1.0, 0.0, Double.MaxValue), (1, 1.0, 0.0, Double.MaxValue),
      (3, 0.4, 0.0, Double.MaxValue), (2, 1.0, 0.2, 4.0), (5, 0.5, 0.1, 6.0))
    for ((minTok, maxStop, minStop, maxLen) <- bounds) {
      val got = TextFunctions.qualityFilter(docs, "t", minTok, maxStop, minStop, maxLen)
      val want = TextReference.qualityFilter(docs, "t", minTok, maxStop, minStop, maxLen)
      assert(got.select("id").collect().map(_.getInt(0)).sorted.toSeq ===
        want.select("id").collect().map(_.getInt(0)).sorted.toSeq,
        s"bounds ($minTok, $maxStop, $minStop, $maxLen)")
    }
  }
}
