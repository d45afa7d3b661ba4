package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native codegen kernels for the dedup/ANN hot paths. Spark's higher-order
 * functions (`transform`/`aggregate`/`zip_with`) are evaluated
 * INTERPRETED, one lambda call per array element — measured ~3 ms/doc for
 * shingle+minhash pipelines at 64–500 elements/row, which dominates the
 * LSH queries. Each kernel below is a single compiled loop producing
 * BIT-IDENTICAL results to the higher-order formulation it replaces
 * (same left-to-right accumulation order, same integer math), so the
 * DuckDB oracles keep matching. Equality with the HOF formulation is
 * pinned by KernelParitySpec.
 *
 * All kernels stay inside whole-stage codegen via static helper calls
 * (same pattern as NormalizeWs).
 */
object VectorKernels {

  // ---- static entries the generated code calls ------------------------

  /** Left fold of x(i)*w(i) — identical to
    * aggregate(zip_with(v, lit(w), _*_), 0.0, _+_). Float elements. */
  def dotConstF(v: ArrayData, w: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(v.numElements(), w.length)
    while (i < n) { acc += v.getFloat(i).toDouble * w(i); i += 1 }
    acc
  }

  def dotConstD(v: ArrayData, w: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(v.numElements(), w.length)
    while (i < n) { acc += v.getDouble(i) * w(i); i += 1 }
    acc
  }

  /** cosine(a,b) = fold(a·b) / (sqrt(fold(a·a)) * sqrt(fold(b·b))) with the
    * exact accumulation order of Dedup.cosine's three folds. */
  def cosineFF(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def cosineDD(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** 64-bit SimHash with the majority rule of Dedup.simhashFromHashes
    * (bit set when 2*count >= n; empty input ⇒ all bits set, matching
    * `when(0 >= 0)` in the column formulation). */
  def simhash64(hs: ArrayData): Long = {
    val n = hs.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 64) {
        if ((h & (1L << b)) != 0L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 >= n) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** k minhash mins over h' = pmod(h, 2^31-1), v_i = (a_i*h' + b_i) mod M
    * with M = 2^31-1 (modulus ≈ domain size — see Dedup.MersennePrime for
    * why a larger M breaks band independence) — identical to
    * Dedup.minhashSignatureFromHashes' transform+array_min.
    * Empty input ⇒ array of nulls (array_min(empty) = null). */
  def minhashSig(hs: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    val M = (1L << 31) - 1
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      val hp = { val m = h % 2147483647L; if (m < 0) m + 2147483647L else m }
      var j = 0
      while (j < k) {
        val v = (a(j) * hp + b(j)) % M
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** MD5 digests are not thread-safe and allocation isn't free — one per
    * executor thread. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  // the Java∩RE2 explicit whitespace class (Dedup.WsClass) — NOT \s:
  // Java's \s includes U+000B, the DuckDB oracles' RE2 \s does not
  private val WsRegex = org.apache.spark.unsafe.types.UTF8String.fromString("[ \\t\\n\\f\\r]+")

  /**
   * Distinct hashed word n-gram shingles of a text column in ONE compiled
   * pass — replaces the interpreted
   * `array_distinct(transform(shingles(text, n), hash))` pipeline that
   * dominated the dedup-family queries (the `shingles` HOF allocates a
   * lambda call per window, plus one per hash).
   *
   * Bit-identical semantics to the column formulation, reproduced by
   * calling the SAME primitives Spark's expressions call:
   *  - trim  = UTF8String.trim (ASCII space only, as StringTrim)
   *  - lower = UTF8String.toLowerCase (as Lower/CollationSupport default)
   *  - split = UTF8String.split("[ \\t\\n\\f\\r]+", -1) (as StringSplit: leading
   *    separator yields an empty first token; "" yields [""])
   *  - < n tokens ⇒ one whole-text shingle (space-joined), as the
   *    `otherwise` branch
   *  - hash: xxhash64(seed 42, over the shingle's UTF-8 bytes — XXH64,
   *    exactly XxHash64's string path) or md5-60bit (value of the first
   *    15 hex digits = top 60 bits of the digest — exactly
   *    conv(substring(md5(s),1,15),16,10)::long)
   *  - distinct keeps first-occurrence order, as array_distinct
   * Pinned against the HOF formulation in KernelParitySpec.
   */
  def shingleHashes(text: org.apache.spark.unsafe.types.UTF8String,
                    n: Int, md5: Boolean): ArrayData =
    shingleHashes(text, n, md5, distinct = true)

  /** distinct = false (with n = 1) reproduces
    * `transform(tokens(text), hash)` — the NON-deduplicated token-hash
    * stream SimHash's majority vote needs (frequency matters there). */
  def shingleHashes(text: org.apache.spark.unsafe.types.UTF8String,
                    n: Int, md5: Boolean, distinct: Boolean): ArrayData = {
    val toks = text.trim().toLowerCase().split(WsRegex, -1)
    val width = if (toks.length >= n) n else toks.length
    val count = if (toks.length >= n) toks.length - n + 1 else 1
    val seen = if (distinct) new java.util.LinkedHashSet[java.lang.Long]() else null
    val all = if (distinct) null else new Array[Long](count)
    val digest = if (md5) md5Local.get() else null
    var i = 0
    while (i < count) {
      // space-joined shingle bytes (concat_ws(" ", slice))
      var len = math.max(0, width - 1)
      var j = 0
      while (j < width) { len += toks(i + j).numBytes(); j += 1 }
      val bytes = new Array[Byte](len)
      var pos = 0
      j = 0
      while (j < width) {
        val t = toks(i + j)
        t.writeToMemory(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
        pos += t.numBytes()
        if (j < width - 1) { bytes(pos) = ' '; pos += 1 }
        j += 1
      }
      val h = shingleHash(bytes, 0, len, digest)
      if (distinct) seen.add(h) else all(i) = h
      i += 1
    }
    if (!distinct) return new GenericArrayData(all)
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** The hash of one space-joined shingle's bytes `bytes[from, from+len)`:
    * md5-60bit when `digest` is given, else xxhash64 seed 42 — the hashing
    * core ShingleHash and TextStats share. */
  private def shingleHash(bytes: Array[Byte], from: Int, len: Int,
                          digest: java.security.MessageDigest): Long =
    if (digest != null) {
      digest.reset()
      digest.update(bytes, from, len)
      val d = digest.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xFFL); b += 1 }
      v >>> 4
    } else {
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, len, 42L)
    }

  // ---- TextStats: every per-document number of the quality stage --------

  /** Stopwords of langId, by language (en, de, fr, es); the English list is
    * also qualityScore's stopword alternation. Word id = list position. */
  private val StopWords: Array[Array[Byte]] = Array(
    "the", "and", "of", "a", "to", "is",
    "der", "die", "und", "das", "ist", "ein",
    "le", "la", "et", "les", "des", "est",
    "el", "de", "y", "que", "los", "una").map(_.getBytes("UTF-8"))
  private val EnglishWords = 6
  private val LangCodes: Array[UTF8String] =
    Array("en", "de", "fr", "es").map(UTF8String.fromString)
  private val Und = UTF8String.fromString("und")
  private val Ja = UTF8String.fromString("ja")
  private val Ko = UTF8String.fromString("ko")
  private val Zh = UTF8String.fromString("zh")
  private val Ru = UTF8String.fromString("ru")

  /** ASCII code points qualityScore counts as symbol noise: everything but
    * letters, digits, the whitespace class and `.,;:!?'"()-`. */
  private val AsciiSymbol: Array[Boolean] = Array.tabulate(128) { c =>
    !(Character.isLetterOrDigit(c) || " \t\n\f\r.,;:!?'\"()-".indexOf(c) >= 0)
  }

  /** Java regex \p{L} | \p{N} as a general-category mask (how Pattern
    * tests them). */
  private val LetterOrNumber: Int =
    Seq(Character.UPPERCASE_LETTER, Character.LOWERCASE_LETTER,
      Character.TITLECASE_LETTER, Character.MODIFIER_LETTER,
      Character.OTHER_LETTER, Character.DECIMAL_DIGIT_NUMBER,
      Character.LETTER_NUMBER, Character.OTHER_NUMBER).map(1 << _).reduce(_ | _)

  /** Dedup.WsClass: [ \t\n\f\r] — U+000B is NOT whitespace. */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\f' || b == '\r'

  /** Spark's round(x, 4) on a finite double: HALF_UP over the shortest
    * decimal representation. */
  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private def nextPow2(n: Int): Int =
    if (n <= 1) 1 else Integer.highestOneBit(n - 1) << 1

  /** 64-bit finalizer (murmur3 fmix64) for open-addressing slots. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
    z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
    z ^ (z >>> 33)
  }

  /** qualityScore's final combination, in the Column form's operation
    * order, rounded. */
  private def quality(lengthBand: Double, wordShape: Double, punctRate: Double,
                      stopRate: Double, noise: Double): Double =
    round4((lengthBand * 0.3 + wordShape * 0.2 + punctRate * 0.2 +
      stopRate * 0.3) * (1.0 - noise * 0.5))

  /** The Column forms on a null text: every count is null, so least/
    * greatest skip them (punct, stop and noise rates read 1.0), the mean
    * word length falls to its 0.0 branch and qualityScore is 0.28; every
    * langId CASE condition is null, so its ELSE branch ("es") wins. */
  private val NullStats: InternalRow =
    new GenericInternalRow(Array[Any](quality(0.0, 0.3, 1.0, 1.0, 1.0),
      LangCodes(3), null, null, null, null))

  /**
   * Every per-document number of the quality stage in one kernel call —
   * the fused form of the TextOps.qualityScore / langId / repetitionStats
   * Column formulations (those live on in test sources as the differential
   * reference, TextStatsParitySpec). No regex runs and no token array is
   * built: one scan of the text's bytes for the whitespace-normalized
   * numbers, then over the lowered text one counting scan that sizes the
   * tables and one token scan for everything token-keyed (tokens are
   * interned into an open-addressing table by byte range).
   *
   * Pinned semantics, all reproduced from the Spark primitives the Column
   * forms call:
   *  - whitespace is [ \t\n\f\r] (Dedup.WsClass); U+000B is a token char
   *  - lengths count code points (UTF8String.numChars); invalid UTF-8 is
   *    first re-encoded through java.lang.String, as regexp_replace and
   *    the non-ASCII lower path do
   *  - trim strips only U+0020; split(x, ws+, -1) keeps an empty first
   *    token after leading whitespace, an empty last one before trailing
   *    whitespace, and split("") = [""] (size 1)
   *  - lower is Spark's `lower` (ICU when spark.sql.icu.caseMappings.enabled,
   *    the default; else UTF8String.toLowerCase)
   *  - stopword hits are the non-overlapping matches of [ws]w[ws] over
   *    " " + lower(norm) + " ": adjacent hits share one separator, so a run
   *    of m hits counts ceil(m/2) — per word for langId, across the whole
   *    English alternation for qualityScore
   *  - \p{L} / \p{N} are Java general categories; \p{IsHan} etc. are
   *    Character.UnicodeScript
   *  - round(x, 4) is HALF_UP; every double is built in the Column form's
   *    operation order
   *  - repetition stats tokenize lower(trim(text)) WITHOUT whitespace
   *    normalization (a leading \t yields an empty first token) and are
   *    null below 2 tokens; d_3g is the distinct count of ShingleHash's
   *    xxhash64 3-gram hashes over ShingleHash's own lowering
   *    (UTF8String.toLowerCase — if it disagrees with `lower` on this text,
   *    d_3g comes from the ShingleHash kernel itself)
   *  - langId's CASE order, ties included (en, de, fr, es); on a null
   *    text langId is "es" and qualityScore 0.28 (see NullStats)
   *
   * Returns the TextStats struct: (quality, lang, n_words, dup_word_frac,
   * dup_3gram_frac, top_2gram_frac).
   */
  def textStats(text: UTF8String, icuLower: Boolean): InternalRow = {
    if (text == null) return NullStats
    val t = if (text.isValid) text else UTF8String.fromString(text.toString)

    // -- pass 1: normalizeWs(text) numbers over the original bytes
    val ob = t.getBytes
    var k = 0 // tokens of norm (non-empty whitespace-separated runs)
    var cps = 0 // code points inside those tokens
    var punct = 0
    var symbols = 0
    var kana = 0; var hangul = 0; var han = 0; var cyr = 0
    var inTok = false
    var i = 0
    while (i < ob.length) {
      val b = ob(i)
      if (isWs(b)) { inTok = false; i += 1 }
      else {
        if (!inTok) { k += 1; inTok = true }
        cps += 1
        if (b >= 0) {
          if (b == '.' || b == '!' || b == '?') punct += 1
          else if (AsciiSymbol(b)) symbols += 1
          i += 1
        } else {
          val n = if ((b & 0xE0) == 0xC0) 2 else if ((b & 0xF0) == 0xE0) 3 else 4
          var cp = b & (0x3F >> (n - 1))
          var j = 1
          while (j < n) { cp = (cp << 6) | (ob(i + j) & 0x3F); j += 1 }
          if (((1 << Character.getType(cp)) & LetterOrNumber) == 0) symbols += 1
          Character.UnicodeScript.of(cp) match {
            case Character.UnicodeScript.HIRAGANA | Character.UnicodeScript.KATAKANA =>
              kana += 1
            case Character.UnicodeScript.HANGUL => hangul += 1
            case Character.UnicodeScript.HAN => han += 1
            case Character.UnicodeScript.CYRILLIC => cyr += 1
            case _ => ()
          }
          i += n
        }
      }
    }

    // -- pass 2: tokens of lower(trim(text))
    val tr = t.trim()
    val low =
      if (icuLower) org.apache.spark.sql.catalyst.util.CollationSupport.Lower.execBinaryICU(tr)
      else tr.toLowerCase()
    val lb = low.getBytes
    // ShingleHash lowers with UTF8String.toLowerCase: when that disagrees
    // with `lower` here, d_3g is taken from the ShingleHash kernel itself
    val gramsAgree = !icuLower || tr.isFullAscii || tr.toLowerCase() == low
    var nTok = 1
    i = 0
    while (i < lb.length) {
      if (isWs(lb(i))) {
        while (i < lb.length && isWs(lb(i))) i += 1
        nTok += 1
      } else i += 1
    }
    val cap = nextPow2(2 * nTok)
    val mask = cap - 1
    val idSlot = new Array[Int](cap) // distinct token id + 1; 0 = empty
    val idStart = new Array[Int](nTok)
    val idEnd = new Array[Int](nTok)
    val pairKey = new Array[Long](cap)
    val pairCnt = new Array[Int](cap) // 0 = empty
    val gramKey = new Array[Long](cap)
    val gramUsed = new Array[Boolean](cap)
    var gramBuf: Array[Byte] = null
    var distinct = 0
    var topPair = 0
    var distinctGrams = 0
    val langHits = new Array[Int](4)
    var stopHits = 0
    var lastHit = -1 // word id counted at the previous token (per-word rule)
    var prevStop = false // previous token counted an English hit
    var prevId = -1
    var s0 = 0; var e0 = 0; var s1 = 0; var e1 = 0 // the two previous tokens
    var tok = 0
    var pos = 0
    while (tok < nTok) {
      val s = pos
      var h = 0
      while (pos < lb.length && !isWs(lb(pos))) { h = 31 * h + lb(pos); pos += 1 }
      val e = pos
      while (pos < lb.length && isWs(lb(pos))) pos += 1
      // intern [s, e)
      var slot = mix64(h).toInt & mask
      var id = -1
      while (id < 0) {
        val v = idSlot(slot)
        if (v == 0) {
          id = distinct; idSlot(slot) = id + 1
          idStart(id) = s; idEnd(id) = e; distinct += 1
        } else {
          val cs = idStart(v - 1)
          val len = e - s
          if (idEnd(v - 1) - cs == len && java.util.Arrays.equals(lb, cs, cs + len, lb, s, e))
            id = v - 1
          else slot = (slot + 1) & mask
        }
      }
      // 2-gram counts
      if (prevId >= 0) {
        val key = (prevId.toLong << 32) | id
        var ps = mix64(key).toInt & mask
        while (pairCnt(ps) != 0 && pairKey(ps) != key) ps = (ps + 1) & mask
        pairKey(ps) = key
        pairCnt(ps) += 1
        if (pairCnt(ps) > topPair) topPair = pairCnt(ps)
      }
      // distinct 3-gram hashes (ShingleHash's space-joined bytes)
      if (tok >= 2 && gramsAgree) {
        val g =
          if (s1 == e0 + 1 && lb(e0) == ' ' && s == e1 + 1 && lb(e1) == ' ')
            shingleHash(lb, s0, e - s0, null)
          else {
            val len = (e0 - s0) + (e1 - s1) + (e - s) + 2
            if (gramBuf == null || gramBuf.length < len) gramBuf = new Array[Byte](math.max(len, 64))
            var p = 0
            System.arraycopy(lb, s0, gramBuf, p, e0 - s0); p += e0 - s0
            gramBuf(p) = ' '; p += 1
            System.arraycopy(lb, s1, gramBuf, p, e1 - s1); p += e1 - s1
            gramBuf(p) = ' '; p += 1
            System.arraycopy(lb, s, gramBuf, p, e - s)
            shingleHash(gramBuf, 0, len, null)
          }
        var gs = mix64(g).toInt & mask
        while (gramUsed(gs) && gramKey(gs) != g) gs = (gs + 1) & mask
        if (!gramUsed(gs)) { gramUsed(gs) = true; gramKey(gs) = g; distinctGrams += 1 }
      }
      // stopword hits (non-empty tokens = the tokens of lower(norm))
      val w = if (e - s >= 1 && e - s <= 3) stopWord(lb, s, e) else -1
      if (w < 0) { lastHit = -1; prevStop = false }
      else {
        if (lastHit == w) lastHit = -1 else { langHits(w / 6) += 1; lastHit = w }
        if (w < EnglishWords && !prevStop) { stopHits += 1; prevStop = true }
        else prevStop = false
      }
      s0 = s1; e0 = e1; s1 = s; e1 = e
      prevId = id
      tok += 1
    }

    // qualityScore, in the Column form's operation order
    val len = (if (k > 0) cps + k - 1 else 0).toDouble
    val words = math.max(k, 1).toDouble
    val meanWordLen = len / words
    val lengthBand = if (len >= 200 && len <= 20000) 1.0 else if (len >= 50) 0.5 else 0.0
    val wordShape = if (meanWordLen >= 3 && meanWordLen <= 12) 1.0 else 0.3
    val punctRate = math.min(punct.toDouble / math.max(words, 1.0) * 10.0, 1.0)
    val stopRate = math.min(stopHits.toDouble / math.max(words, 1.0) * 5.0, 1.0)
    val noise = math.min(symbols.toDouble / math.max(len, 1.0) * 20.0, 1.0)
    val score = quality(lengthBand, wordShape, punctRate, stopRate, noise)

    // langId: script pre-pass, then the stopword argmax
    val total = cps.toDouble
    val lang =
      if (total <= 0) Und
      else if (kana / total > 0.05) Ja
      else if (hangul / total > 0.25) Ko
      else if (han / total > 0.25) Zh
      else if (cyr / total > 0.25) Ru
      else {
        val best = math.max(math.max(langHits(0), langHits(1)), math.max(langHits(2), langHits(3)))
        if (best <= 0) Und
        else if (langHits(0) == best) LangCodes(0)
        else if (langHits(1) == best) LangCodes(1)
        else if (langHits(2) == best) LangCodes(2)
        else LangCodes(3)
      }

    if (nTok < 2) new GenericInternalRow(Array[Any](score, lang, null, null, null, null))
    else {
      val n = nTok.toLong
      val d3 =
        if (gramsAgree) distinctGrams.toLong
        else shingleHashes(t, 3, md5 = false).numElements().toLong
      new GenericInternalRow(Array[Any](score, lang, n,
        round4(1.0 - distinct.toDouble / n.toDouble),
        round4(if (n >= 3) 1.0 - d3.toDouble / (n - 2).toDouble else 0.0),
        round4(topPair.toDouble / (n - 1).toDouble)))
    }
  }

  /** Word id of lb[s, e) in StopWords, or -1. */
  private def stopWord(lb: Array[Byte], s: Int, e: Int): Int = {
    var w = 0
    while (w < StopWords.length) {
      val sw = StopWords(w)
      if (sw.length == e - s && java.util.Arrays.equals(lb, s, e, sw, 0, sw.length)) return w
      w += 1
    }
    -1
  }

  // ---- Column builders -------------------------------------------------

  def dotConst(v: Column, w: Seq[Double]): Column =
    GraftSqlShim.column(DotConst(GraftSqlShim.expression(v), w.toIndexedSeq))
  def cosine(a: Column, b: Column): Column =
    GraftSqlShim.column(CosineSim(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))
  def simhash(hs: Column): Column =
    GraftSqlShim.column(SimHash64(GraftSqlShim.expression(hs)))
  def minhash(hs: Column, params: Seq[(Long, Long)]): Column =
    GraftSqlShim.column(MinHashSig(GraftSqlShim.expression(hs),
      params.map(_._1).toIndexedSeq, params.map(_._2).toIndexedSeq))
  def shingleHash(text: Column, n: Int, md5: Boolean,
                  distinct: Boolean = true): Column =
    GraftSqlShim.column(ShingleHash(GraftSqlShim.expression(text), n, md5, distinct))
  def textStats(text: Column): Column =
    GraftSqlShim.column(TextStats(GraftSqlShim.expression(text)))
}

/** Dot product of a float/double array column with a constant vector. */
case class DotConst(child: Expression, weights: IndexedSeq[Double])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_dot_const requires array<float|double>, got ${other.sql}")
    }
  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  @transient private lazy val wArr: Array[Double] = weights.toArray
  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (isFloat) VectorKernels.dotConstF(v, wArr) else VectorKernels.dotConstD(v, wArr)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("weights", wArr, "double[]")
    val fn = if (isFloat) "dotConstF" else "dotConstD"
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorKernels.$fn($c, $w)")
  }
  override protected def withNewChildInternal(newChild: Expression): DotConst =
    copy(child = newChild)
  override def prettyName: String = "graft_dot_const"
}

/** Cosine similarity of two float-array columns (double accumulation). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_cosine requires two same-typed array<float|double> args, got $other")
    }
  @transient private lazy val fn: String = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _))   => "cosineFF"
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => "cosineDD"
    case other => throw new IllegalStateException(s"graft_cosine: bad input types $other")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    if (fn == "cosineFF")
      VectorKernels.cosineFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      VectorKernels.cosineDD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorKernels.$fn($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "graft_cosine"
}

private object KernelTypes {
  def requireLongArray(name: String, dt: DataType): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    dt match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name requires array<bigint>, got ${other.sql}")
    }
}

/** 64-bit SimHash of a long-array column. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    KernelTypes.requireLongArray("graft_simhash64", child.dataType)
  override def nullSafeEval(input: Any): Any =
    VectorKernels.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorKernels.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

/** Distinct hashed word n-gram shingles of a string column (see
  * VectorKernels.shingleHashes for the pinned semantics). */
case class ShingleHash(child: Expression, n: Int, md5: Boolean,
                       distinct: Boolean = true)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_shingle_hash requires string, got ${other.sql}")
    }
  override def nullSafeEval(input: Any): Any =
    VectorKernels.shingleHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n, md5, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.VectorKernels.shingleHashes($c, $n, $md5, $distinct)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHash =
    copy(child = newChild)
  override def prettyName: String = "graft_shingle_hash"
}

/** MinHash signature (array<long>) of a long-array column. */
case class MinHashSig(child: Expression, a: IndexedSeq[Long], b: IndexedSeq[Long])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    KernelTypes.requireLongArray("graft_minhash_sig", child.dataType)
  @transient private lazy val aArr: Array[Long] = a.toArray
  @transient private lazy val bArr: Array[Long] = b.toArray
  override def nullSafeEval(input: Any): Any =
    VectorKernels.minhashSig(input.asInstanceOf[ArrayData], aArr, bArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ar = ctx.addReferenceObj("a", aArr, "long[]")
    val br = ctx.addReferenceObj("b", bArr, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorKernels.minhashSig($c, $ar, $br)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_sig"
}

/** Every per-document number of the quality stage in one pass (see
  * VectorKernels.textStats for the pinned semantics). Never null: on a
  * null text it yields what the Column forms did (quality 0.28, lang
  * "es", no repetition stats). */
case class TextStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TextStats.schema
  override def nullable: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_text_stats requires string, got ${other.sql}")
    }
  // the case mapping Spark's `lower` uses in this session (as Lower reads it)
  @transient private lazy val icuLower: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
  override def eval(input: InternalRow): Any =
    VectorKernels.textStats(child.eval(input).asInstanceOf[UTF8String], icuLower)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = graft.plans.VectorKernels.textStats(
        ${c.isNull} ? null : ${c.value}, $icuLower);""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
  override def prettyName: String = "graft_text_stats"
}

object TextStats {
  val schema: StructType = StructType(Seq(
    StructField("quality", DoubleType),
    StructField("lang", StringType, nullable = false),
    StructField("n_words", LongType),
    StructField("dup_word_frac", DoubleType),
    StructField("dup_3gram_frac", DoubleType),
    StructField("top_2gram_frac", DoubleType)))
}
