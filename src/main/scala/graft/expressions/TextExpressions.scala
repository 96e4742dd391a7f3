package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Split on the first occurrence of any separator → struct(head, tail);
  * tail null when no separator matches; earliest match wins, longer
  * separator wins a position tie; both parts trimmed.
  *
  * Native because the composed form (`least` over per-separator structs,
  * then two getFields + a found-guard) re-evaluates the candidate struct —
  * and therefore every instr over the input — up to four times per row,
  * and codegen subexpression elimination does not reach across the
  * conditional branches. One scan per separator here. CodegenFallback is
  * fine: the eval is a few string scans, dwarfed by the duplicate
  * evaluation it replaces.
  */
case class SplitFirst(child: Expression, seps: Seq[String])
    extends UnaryExpression with CodegenFallback {

  require(seps.nonEmpty && seps.forall(_.nonEmpty), "separators must be non-empty")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"split_first requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("head", StringType, nullable = true),
    StructField("tail", StringType, nullable = true)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "split_first"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var bestPos = -1
    var bestLen = 0
    seps.foreach { sep =>
      val p = s.indexOf(sep)
      if (p >= 0 && (bestPos < 0 || p < bestPos ||
          (p == bestPos && sep.length > bestLen))) {
        bestPos = p
        bestLen = sep.length
      }
    }
    if (bestPos < 0) InternalRow(UTF8String.fromString(s.trim), null)
    else InternalRow(
      UTF8String.fromString(s.substring(0, bestPos).trim),
      UTF8String.fromString(s.substring(bestPos + bestLen).trim))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All word n-grams of a single-space-tokenized string in ONE pass —
  * tokens, n-gram concatenation, and (optionally) per-document dedup
  * inside one eval call.
  *
  * Native because the relational formulation (posexplode tokens → window
  * `lead` → concat_ws → distinct) shuffles the whole token stream twice
  * (by doc for the window sort, by (doc, shingle) for the distinct) just
  * to compute a value that is a pure function of ONE row. At 100 TB those
  * are the two largest shuffles of the dedup pipeline — gone. Token
  * semantics match Text.tokens exactly: split on single spaces, empty
  * tokens dropped; documents with fewer than n tokens yield an empty
  * array. CodegenFallback: one interpreted call per document, all the
  * work inside.
  */
case class WordNgrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"n-gram size must be positive, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString
      .split(" ").filter(_.nonEmpty)
    if (toks.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[AnyRef](toks.length - n + 1)
    val seen = if (distinct) new java.util.HashSet[String]() else null
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      if (seen == null || seen.add(s)) out.add(UTF8String.fromString(s))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The portable 60-bit hash graft maps tokens and shingles to: the first
  * 15 hex digits of the md5 digest read as an integer, i.e. the value of
  * `conv(substring(md5(s), 1, 15), 16, 10)` — so any SQL engine with md5
  * replays it exactly.
  */
private[expressions] object Md5Prefix60 {
  /** Completes (and resets) `md5` over the bytes fed to it so far. */
  def finish(md5: java.security.MessageDigest): Long = {
    val d = md5.digest()
    // first 15 hex chars = top 60 bits of the first 8 digest bytes
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }
}

/** The distinct, ascending 60-bit md5 hashes ([[Md5Prefix60]]) of every
  * word n-gram of a string — the per-document shingle SET the exact
  * similarity joins work on, as one `array<bigint>` per row.
  *
  * Tokenizes exactly as [[WordNgrams]] (split on single spaces, empty
  * tokens dropped, fewer than n tokens → empty array) and hashes each
  * n-gram's UTF-8 bytes with its tokens joined by single spaces, so the
  * result equals `sort_array(array_distinct(transform(word_ngrams(s, n,
  * true), g -> conv(substring(md5(g), 1, 15), 16, 10)::bigint)))` — without
  * building one n-gram string, and without the hash's round trip through
  * hex text: the digest is fed each n-gram's token bytes and separators.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"n-gram size must be positive, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_hashes"

  // one digest per deserialized (= per-task) instance; digest() resets it
  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString.split(" ").filter(_.nonEmpty)
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hs = new Array[Long](math.max(toks.length - n + 1, 0))
    var i = 0
    while (i < hs.length) {
      var j = 0
      while (j < n) {
        if (j > 0) md5.update(' '.toByte)
        md5.update(toks(i + j))
        j += 1
      }
      hs(i) = Md5Prefix60.finish(md5)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var m = 0
    i = 0
    while (i < hs.length) {
      if (m == 0 || hs(i) != hs(m - 1)) { hs(m) = hs(i); m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hs, m))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-row 60-bit SimHash of a space-tokenized string: ONE tokenize, one
  * md5 per token, and a tight bit-vote loop. Replaces both the relational
  * explode→SimHashAgg build (a whole extra aggregate stage + join-back)
  * and the SQL-lambda fragment (which re-evaluates the interpreted
  * token-hash array once PER BIT — the measured 40× cliff).
  *
  * Bit-identical to both: h(token) = first 15 md5 hex chars as a 60-bit
  * int (= conv(substring(md5(t),1,15),16,10)); output bit i is set iff
  * Σ_tokens (+1 if (h>>i)&1 else −1) > 0. Empty input → 0L.
  */
case class SimHash(child: Expression, bits: Int = 60)
    extends UnaryExpression with CodegenFallback {

  require(bits > 0 && bits <= 60, s"simhash bits must be in (0, 60], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash"

  // one digest per deserialized (= per-task) instance; digest() resets it
  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString.split(" ")
    val votes = new Array[Int](bits)
    var t = 0
    while (t < toks.length) {
      val s = toks(t)
      if (s.nonEmpty) {
        md5.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val h = Md5Prefix60.finish(md5)
        var b = 0
        while (b < bits) {
          votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All per-token counting in ONE pass over a space-tokenized string:
  * `[n_tokens, n_distinct, n_digit_tokens, token_chars, count(set_0), ...,
  * count(set_m)]` (per-set counts WITH multiplicity, matching
  * `size(filter(toks, isin(set)))`).
  *
  * Native because the composed form pays one interpreted higher-order
  * `filter` per set per reference — and lambda-bearing trees are excluded
  * from codegen subexpression elimination, so a 5-profile language argmax
  * re-ran every count per structural reference. Here: one tokenize, one
  * hash lookup per token, all counts in a single long[] row.
  */
case class TokenStats(child: Expression, sets: Seq[Seq[String]])
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_stats requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_stats"

  // token -> indices of the sets containing it (sets are tiny, overlap
  // allowed — "la"/"de" appear in two language profiles)
  @transient private lazy val setOf: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    sets.zipWithIndex.foreach { case (s, i) =>
      s.foreach { w =>
        val prev = m.get(w)
        m.put(w, if (prev == null) Array(i) else prev :+ i)
      }
    }
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val counts = new Array[Long](4 + sets.length)
    val seen = new java.util.HashSet[String]()
    val n = s.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) {
          val tok = s.substring(start, i)
          counts(0) += 1
          if (seen.add(tok)) counts(1) += 1
          var allDigit = true
          var j = 0
          while (j < tok.length && allDigit) {
            val c = tok.charAt(j)
            if (c < '0' || c > '9') allDigit = false
            j += 1
          }
          if (allDigit) counts(2) += 1
          // codepoints, matching length() semantics on non-ASCII text
          counts(3) += tok.codePointCount(0, tok.length)
          val hit = setOf.get(tok)
          if (hit != null) {
            var k = 0
            while (k < hit.length) { counts(4 + hit(k)) += 1; k += 1 }
          }
        }
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document lexical-diversity scalars in ONE interpreted pass over the
  * whitespace tokens: [n_tokens, n_types, Σ count(token)²].
  *
  * The squared-count mass feeds the Gini–Simpson diversity 1 − Σc²/n²
  * (and n_types/n is the type-token ratio). Gini–Simpson is chosen over
  * Shannon entropy DELIBERATELY: every accumulator is integer, so the
  * final metric is one IEEE division away from exact — any SQL oracle
  * agrees bit-for-bit, where log2-based entropy differs in the last ulp
  * across libm implementations and breaks a hash-exact compare.
  *
  * Zero shuffles at any scale: the relational form (explode tokens →
  * count by (doc, token) → re-aggregate by doc) shuffles the entire
  * token stream twice for what is a per-document quantity.
  */
case class TokenDiversity(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_diversity requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_diversity"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val counts = new java.util.HashMap[String, Array[Long]]()
    var nTokens = 0L
    val n = s.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) {
          val tok = s.substring(start, i)
          nTokens += 1L
          val c = counts.get(tok)
          if (c == null) counts.put(tok, Array(1L)) else c(0) += 1L
        }
        start = i + 1
      }
      i += 1
    }
    var sumSq = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next()(0); sumSq += c * c }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(nTokens, counts.size.toLong, sumSq))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExpressions {
  def splitFirst(c: Column, seps: Seq[String]): Column =
    Bridge.column(SplitFirst(Bridge.expression(c), seps))

  def simhash(c: Column): Column =
    Bridge.column(SimHash(Bridge.expression(c)))

  def tokenStats(c: Column, sets: Seq[Seq[String]]): Column =
    Bridge.column(TokenStats(Bridge.expression(c), sets))

  def wordNgrams(c: Column, n: Int, distinct: Boolean): Column =
    Bridge.column(WordNgrams(Bridge.expression(c), n, distinct))

  def shingleHashes(c: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(c), n))

  def tokenDiversity(c: Column): Column =
    Bridge.column(TokenDiversity(Bridge.expression(c)))
}
