package graft.functions.expressions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `normalize_unicode(text, form)` → string: Unicode normalization via the
 * JDK's `java.text.Normalizer` (public API, no new dependency). The raw-web
 * companion of [[graft.functions.TextFunctions.cleanText]]: the same logical
 * text arrives from the web in composed (NFC) and decomposed (NFD) forms —
 * `café` vs `cafe` + U+0301 — and every downstream exact/fuzzy dedup,
 * fingerprint, token count, and vocabulary treats them as different bytes
 * unless the corpus is normalized first. NFC is the curation default;
 * NFKC additionally folds compatibility characters (ligatures, fullwidth
 * forms) into their plain equivalents, which changes rendering and is
 * opt-in.
 *
 * Native expression (not a UDF) so the normalization runs inside
 * whole-stage codegen next to the other text kernels. The JDK normalizer
 * implements the Unicode standard's canonical algorithm, so results agree
 * with any other conformant implementation (DuckDB's `nfc_normalize`
 * oracles the NFC path in conformance query t27).
 */
case class NormalizeUnicode(child: Expression, form: String)
    extends UnaryExpression {
  NormalizeUnicode.requireForm(form)

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"normalize_unicode requires a string column, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    NormalizeUnicode.normalize(v.asInstanceOf[UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = "graft.functions.expressions.NormalizeUnicode$.MODULE$"
    // `form` is validated against the fixed enum set at construction, so
    // embedding it as a Java string literal is safe
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $obj.normalize($c, "$form");""")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NormalizeUnicode {
  private val Forms = Set("NFC", "NFD", "NFKC", "NFKD")

  def requireForm(form: String): Unit =
    require(Forms.contains(form),
      s"normalize_unicode: form must be one of ${Forms.mkString("/")}, got '$form'")

  def normalize(s: UTF8String, form: String): UTF8String = {
    val str = s.toString
    // the common case — already normalized ASCII/NFC text — costs one
    // quick-check scan and zero allocation
    if (Normalizer.isNormalized(str, Normalizer.Form.valueOf(form))) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.valueOf(form)))
  }
}

/**
 * `fix_mojibake(text)` → string: repair the classic double-encoding
 * corruption of web text — UTF-8 bytes mis-decoded as Latin-1/Windows-1252
 * ("café" rendered as "cafÃ©"), the single most common mojibake class in
 * crawled corpora (what the public `ftfy` library calls "encoding repair";
 * reimplemented here from the encoding math, not ported).
 *
 * Algorithm: map the string's chars back to the bytes a Latin-1/cp1252
 * mis-decode would have produced (cp1252's 27 printable remappings in the
 * 0x80–0x9F block included — a pure-Latin-1 inverse misses "â€™"-class
 * mojibake, which contains U+20AC/U+2122-style chars), then STRICT-decode
 * those bytes as UTF-8. Only if every char maps to a byte AND the bytes
 * form valid UTF-8 that actually used a multi-byte sequence is the
 * repaired string returned; otherwise the input passes through unchanged.
 * The gate makes the repair conservative: genuine Latin-1 text ("résumé")
 * stays untouched because lone 0xC3/0xA9-class bytes don't form valid
 * UTF-8 sequences by accident in natural text, and pure-ASCII short-
 * circuits before any allocation. Applied iteratively (max 3 rounds) for
 * doubly-corrupted text.
 *
 * Native expression so the repair runs inside whole-stage codegen beside
 * the other text kernels.
 */
case class FixMojibake(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"fix_mojibake requires a string column, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    FixMojibake.repair(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = "graft.functions.expressions.FixMojibake$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""${ev.value} = $obj.repair($c);""")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * `deflate_ratio(text)` → double: compressed-size / raw-size of the
 * string's UTF-8 bytes under raw DEFLATE at a fixed level (6). The
 * compression-ratio quality signal of web-corpus curation (one of the
 * Gopher/RefinedWeb-family heuristics): machine-generated or boilerplate-
 * heavy text compresses far better than natural prose, and binary noise
 * compresses worse, so pipelines drop documents outside a ratio band.
 *
 * Fixed parameters (level 6, raw/nowrap stream) make the signal stable
 * across runs; zlib's DEFLATE is deterministic for a given input, level,
 * and strategy. Empty strings define ratio = 1.0. Cost is O(bytes) per
 * row with a 32 KB window — a narrow, shuffle-free map.
 *
 * Native expression (not a UDF) so it runs inside whole-stage codegen;
 * one `Deflater` is allocated per evaluation and released in `finally`
 * (the JDK object carries native zlib state — leaking it would exhaust
 * native memory on a 100 TB scan).
 */
case class DeflateRatio(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"deflate_ratio requires a string column, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    DeflateRatio.ratio(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = "graft.functions.expressions.DeflateRatio$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"""${ev.value} = $obj.ratio($c);""")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object DeflateRatio {
  private val Level = 6

  def ratio(s: UTF8String): Double = {
    val bytes = s.getBytes
    if (bytes.length == 0) return 1.0
    val d = new java.util.zip.Deflater(Level, /*nowrap=*/ true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length
    } finally d.end()
  }
}

object FixMojibake {
  /** cp1252's printable remappings of the 0x80–0x9F block: char → the byte
   * that mis-decoded to it (the other 5 positions are undefined in cp1252
   * and pass through as their Latin-1 identity). Public table from the
   * Windows-1252 standard. */
  private val Cp1252Inverse: Map[Char, Int] = Map(
    '€' -> 0x80, '‚' -> 0x82, 'ƒ' -> 0x83, '„' -> 0x84,
    '…' -> 0x85, '†' -> 0x86, '‡' -> 0x87, 'ˆ' -> 0x88,
    '‰' -> 0x89, 'Š' -> 0x8A, '‹' -> 0x8B, 'Œ' -> 0x8C,
    'Ž' -> 0x8E, '‘' -> 0x91, '’' -> 0x92, '“' -> 0x93,
    '”' -> 0x94, '•' -> 0x95, '–' -> 0x96, '—' -> 0x97,
    '˜' -> 0x98, '™' -> 0x99, 'š' -> 0x9A, '›' -> 0x9B,
    'œ' -> 0x9C, 'ž' -> 0x9E, 'Ÿ' -> 0x9F)

  private val MaxRounds = 3

  def repair(s: UTF8String): UTF8String = {
    val orig = s.toString
    var cur = orig
    var rounds = 0
    var changed = true
    while (changed && rounds < MaxRounds) {
      changed = false
      repairOnce(cur) match {
        case Some(fixed) => cur = fixed; changed = true
        case None =>
      }
      rounds += 1
    }
    if (cur eq orig) s else UTF8String.fromString(cur)
  }

  /** One round of repair; None if the string is not mojibake. */
  private def repairOnce(str: String): Option[String] = {
    val n = str.length
    var hasHigh = false
    var i = 0
    while (i < n && !hasHigh) { if (str.charAt(i) > 0x7F) hasHigh = true; i += 1 }
    if (!hasHigh) return None // pure ASCII: nothing to repair
    val bytes = new Array[Byte](n)
    i = 0
    while (i < n) {
      val c = str.charAt(i)
      val b =
        if (c <= 0xFF) c.toInt
        else Cp1252Inverse.getOrElse(c, -1)
      if (b < 0) return None // char no mis-decode could produce
      bytes(i) = b.toByte
      i += 1
    }
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try {
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      // require an actual multi-byte sequence: a Latin-1 string whose high
      // bytes happen to be ASCII-free but decode-valid would be mangled
      if (out.length < n) Some(out) else None
    } catch {
      case _: java.nio.charset.CharacterCodingException => None
    }
  }
}

/**
 * `text_stats(text)` → struct<chars, tokens, punct, digits, stopwords,
 * non_ws> (all int): the per-document counts behind
 * [[graft.functions.TextFunctions.qualityMetrics]], read in one pass over
 * the UTF-8 bytes instead of one regex scan per count. Null text gives a
 * null struct. Every field equals the Catalyst formulation it replaces:
 *
 *  - `chars`     = `length(text)` (code points)
 *  - `tokens`    = `size(split(trim(text), "\s+"))`, 0 when the text has
 *                  no non-`\s` character
 *  - `punct`     = characters matching Java's `\p{Punct}` (ASCII)
 *  - `digits`    = characters matching `[0-9]`
 *  - `stopwords` = tokens of `split(trim(lower(text)), "\s+")` in
 *                  [[TextStats.Stopwords]], with multiplicity
 *  - `non_ws`    = `length(regexp_replace(text, "\s", ""))`
 *
 * Token boundaries, trimming and lowercasing are [[TextScan]]'s, shared
 * with [[LangId]].
 */
case class TextStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TextStats.Schema

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"text_stats requires a string column, got ${other.catalogString}")
    }

  // read the way Spark's Lower reads it, so stopword matching lowercases
  // exactly as lower(text) does
  private lazy val useICU = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullSafeEval(v: Any): Any =
    TextStats.compute(v.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = "graft.functions.expressions.TextStats$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $obj.compute($c, $useICU);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextStats {
  val Schema: StructType = StructType(
    Seq("chars", "tokens", "punct", "digits", "stopwords", "non_ws")
      .map(StructField(_, IntegerType, nullable = false)))

  /** The English stopword list of the quality metrics. */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "are", "was", "for", "on", "with", "as", "at", "by", "it")

  private val Lex = new Lexicon(Stopwords)

  def compute(s: UTF8String, useICU: Boolean): InternalRow = {
    val r = TextScan.run(s, Lex, useICU)
    new GenericInternalRow(Array[Any](
      r.chars, r.tokens, r.punct, r.digits, r.hits.sum, r.chars - r.spaces))
  }
}

/**
 * `lang_id(text)` → string: stopword-heuristic language ID over
 * {en, es, de, fr, zh} in one pass. A document whose share of CJK
 * ideographs (U+4E00–U+9FFF) is above 0.3 of its characters is `zh`;
 * otherwise each language scores the number of DISTINCT words of its
 * stopword list among the lowercased whitespace tokens, and a language
 * must score strictly higher than every earlier one in the order
 * en, es, de, fr to win (ties go to the earlier; no hits is `en`). Null
 * text is `en`.
 */
case class LangId(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"lang_id requires a string column, got ${other.catalogString}")
    }

  private lazy val useICU = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    LangId.detect(child.eval(input).asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val obj = "graft.functions.expressions.LangId$.MODULE$"
    ev.copy(
      code = c.code +
        code"""
           |${CodeGenerator.javaType(dataType)} ${ev.value} =
           |  $obj.detect(${c.isNull} ? null : ${c.value}, $useICU);
         """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object LangId {
  /** Stopword lists in scoring order: the first language wins ties. */
  val Languages: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "den", "von"),
    "fr" -> Seq("le", "la", "les", "des", "est", "et", "dans", "une", "que", "pour"))

  private val Lex = new Lexicon(Languages.flatMap(_._2).distinct)
  private val Names = Languages.map(l => UTF8String.fromString(l._1)).toArray
  private val Zh = UTF8String.fromString("zh")
  /** per language, the lexicon index of each of its words */
  private val WordIds: Array[Array[Int]] =
    Languages.map(_._2.map(Lex.indexOf).toArray).toArray

  def detect(s: UTF8String, useICU: Boolean): UTF8String = {
    if (s == null) return Names(0)
    val r = TextScan.run(s, Lex, useICU)
    if (r.cjk > r.chars * 0.3) return Zh
    var best = 0
    var bestScore = -1
    var l = 0
    while (l < WordIds.length) {
      var score = 0
      for (w <- WordIds(l)) if (r.hits(w) > 0) score += 1
      if (score > bestScore) { best = l; bestScore = score }
      l += 1
    }
    Names(best)
  }
}

/** A fixed list of lowercase ASCII words, looked up by token. */
private[expressions] final class Lexicon(words: Seq[String]) {
  require(words.forall(w => w.nonEmpty && w.forall(c => c >= 'a' && c <= 'z')),
    "lexicon words must be lowercase ASCII")

  private val index = new java.util.HashMap[UTF8String, Integer]()
  words.zipWithIndex.foreach { case (w, i) => index.put(UTF8String.fromString(w), i) }
  private val maxLen = words.map(_.length).max

  def size: Int = words.length
  def indexOf(w: String): Int = index.get(UTF8String.fromString(w)).intValue

  /** Index of `lower(token)` for the token `b[from, until)`, or -1. */
  def lookup(b: Array[Byte], from: Int, until: Int, useICU: Boolean): Int = {
    var chars = 0
    var plain = true // ASCII with no upper-case letter: lower() is the identity
    var i = from
    while (i < until) {
      val c = b(i)
      if ((c & 0xC0) != 0x80) chars += 1
      if (c < 0 || (c >= 'A' && c <= 'Z')) plain = false
      i += 1
    }
    // lowercasing maps each code point to one or more (İ → i + U+0307),
    // so a token longer than every word cannot lowercase to one
    if (chars > maxLen) return -1
    val tok = UTF8String.fromBytes(b, from, until - from)
    val key = if (plain) tok
      else CollationSupport.Lower.exec(tok, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
    val ix = index.get(key)
    if (ix == null) -1 else ix.intValue
  }
}

/** What one pass over a document's bytes counts; see [[TextScan.run]]. */
private[expressions] final class TextScan(lexiconSize: Int) {
  var chars = 0
  var spaces = 0
  var tokens = 0
  var punct = 0
  var digits = 0
  var cjk = 0
  /** per lexicon word, how many tokens lowercase to it */
  val hits = new Array[Int](lexiconSize)
}

private[expressions] object TextScan {
  /** Java regex `\s` (no UNICODE_CHARACTER_CLASS): [ \t\n\x0B\f\r].
   * NBSP and the U+2000 block are not `\s`. */
  private def isSpace(c: Byte): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** `\p{Punct}`: the 32 ASCII punctuation characters. */
  private def isPunct(c: Byte): Boolean =
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
      (c >= '[' && c <= '`') || (c >= '{' && c <= '~')

  /**
   * One pass over `s` (UTF-8; every counted class is ASCII or a whole
   * 3-byte sequence). Tokens follow `split(trim(s), "\s+")`, the library-
   * wide convention: `trim` strips ASCII spaces (0x20) only, and
   * `String.split` with limit -1 yields one more piece than there are
   * `\s` runs, leading and trailing empty pieces included; a document
   * with no non-`\s` character has 0 tokens. Each non-empty token is
   * looked up in `lex` after lowercasing as `lower(s)` does.
   */
  def run(s: UTF8String, lex: Lexicon, useICU: Boolean): TextScan = {
    val r = new TextScan(lex.size)
    val b = s.getBytes
    val n = b.length
    var from = 0
    while (from < n && b(from) == ' ') from += 1
    var until = n
    while (until > from && b(until - 1) == ' ') until -= 1
    var runs = 0
    var tokStart = -1
    var i = 0
    while (i < n) {
      val c = b(i)
      if (isSpace(c)) {
        r.spaces += 1
        if (i >= from && i < until) {
          if (tokStart >= 0) {
            hit(r, lex.lookup(b, tokStart, i, useICU))
            tokStart = -1
            runs += 1
          } else if (i == from) runs += 1
        }
      } else {
        if (tokStart < 0 && i >= from && i < until) tokStart = i
        if (c >= '0' && c <= '9') r.digits += 1
        else if (isPunct(c)) r.punct += 1
        else if (c >= 0xE4.toByte && c <= 0xE9.toByte && i + 2 < n) {
          val cp = ((c & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) | (b(i + 2) & 0x3F)
          if (cp >= 0x4E00 && cp <= 0x9FFF) r.cjk += 1
        }
      }
      i += 1
    }
    if (tokStart >= 0) hit(r, lex.lookup(b, tokStart, until, useICU))
    r.chars = s.numChars()
    r.tokens = if (r.chars == r.spaces) 0 else runs + 1
    r
  }

  private def hit(r: TextScan, ix: Int): Unit = if (ix >= 0) r.hits(ix) += 1
}
