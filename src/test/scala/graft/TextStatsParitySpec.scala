package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.TextOps

/**
 * The TextStats kernel behind TextOps.qualityScore / langId /
 * repetitionStats must be BIT-IDENTICAL to the regex Column formulations
 * it replaced (ColumnReference) — the q12/q13/q51 DuckDB oracles were
 * derived from that math. Every test evaluates both on the same rows and
 * compares doubles by bit pattern, strings and nulls exactly.
 */
class TextStatsParitySpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The edge cases the kernel's pinned semantics hinge on. */
  private val edgeCases: Seq[String] = Seq(
    "", " ", "   ", "\t", "\n\n", "single", "Single.", "two words",
    // leading tab / U+000B: an empty first repetition token; VT is a token char
    "\tleading tab here", "\t\ta b", "\u000Bvt start", "a\u000Bb c", "end tab\t",
    " \t mixed \n\r\f separators \t ", "a  b   c    d",
    // adjacent stopword runs share one separator
    "the the the", "the the the the", "of the and", "a a a a a b",
    "the and of a to is the and", "der die und das", "le la le la le",
    "the de the de el y que", "THE The tHe the", "a\tthe\nof\fto\ris",
    // ties in the langId argmax
    "the der", "der le", "le el", "el the", "de la", "und und und und",
    // scripts
    "这是一段中文文本 机器学习 训练数据", "これは日本語のテキストです 漢字も含む",
    "カタカナ ひらがな ー 漢字 漢字 漢字 漢字 漢字 漢字 漢字 漢字 漢字",
    "한국어 텍스트 예시입니다", "это русский текст для примера",
    "ПРИВЕТ Мир the and", "mixed 中文 and русский and 한국어 text",
    // supplementary plane letters, emoji, astral Han
    "𝐀𝐁𝐂 bold 𝐚𝐛𝐜", "😀 😀 😀 emoji", "𐐀𐐁 Deseret 𐐨", "𠀀𠀁 astral han",
    // Greek final sigma and dotted capital I (context-sensitive lowering)
    "ΟΔΟΣ ΟΔΟΣ ΟΔΟΣ", "ΣΑΣ\tΣΑΣ\nΣ", "ὈΔΥΣΣΕΎΣ. Σ.", "İstanbul İSTANBUL ıi Iİ",
    "İ İ İ", "ß STRASSE straße",
    // case mappings newer than the JVM's Unicode tables (Unicode 14/16):
    // `lower` (ICU) folds U+2C2F onto U+2C5F, ShingleHash's lowering does
    // not, so the two spellings are one 3-gram for the tokens but two for
    // d_3g
    "\u2C2F x y \u2C5F x y", "\uA7C0 \uA7C0 \uA7C0", "\u1C89 a b c",
    // punctuation- and symbol-only text
    "...", "!!! ??? ...", "#$% ^&* @@@", "(-) '' \"\" ,;:", "-- -- --",
    "e\u0301 combining \u200B zero width \u00A0 nbsp",
    // length bands and word-shape boundaries
    "x" * 49, "x" * 50, "y" * 199 + " z", ("word " * 40).trim,
    ("abc " * 5000).trim, ("abcdefghijk " * 1700).trim)

  /** Seeded documents drawn from a vocabulary that hits every branch:
    * stopwords of all four languages in several casings, punctuation,
    * symbols, digits, non-Latin scripts, astral letters, and every
    * whitespace separator; repeated spans make repetition stats move. */
  private def generated(seed: Long, n: Int): Seq[String] = {
    val vocab = Array(
      "the", "The", "THE", "and", "of", "a", "A", "to", "is", "der", "die",
      "und", "das", "ist", "ein", "le", "la", "et", "les", "des", "est",
      "el", "de", "y", "que", "los", "una", "cat", "house", "Extraction",
      "pipeline", "end.", "why?", "wow!", "a,b", "(x)", "-", "'q'", "\"q\"",
      "#tag", "$5", "100%", "a/b", "_", "*", "~~", "42", "３", "Ⅻ", "中文",
      "ひらがな", "カタカナ", "한국어", "русский", "ΟΔΟΣ", "Σ", "İ", "ß",
      "😀", "𝐀", "𐐀", "𠀀", "x\u000By", " ", "é")
    val seps = Array(" ", " ", " ", "  ", "\t", "\n", "\r\n", "\f", " \t ")
    (0 until n).map { d =>
      val r0 = mix(seed * 7919 + d)
      val len = (java.lang.Long.remainderUnsigned(r0, 400)).toInt
      val toks = (0 until len).map { i =>
        vocab(java.lang.Long.remainderUnsigned(mix(r0 + i), vocab.length).toInt)
      }
      // repeat a span so duplicate-word/2-gram/3-gram stats are non-trivial
      val rep = if (len > 10 && (r0 & 1) == 0) toks.slice(2, 2 + len / 4) else Nil
      val all = toks ++ rep ++ rep
      val sb = new StringBuilder
      if ((r0 & 6) == 2) sb.append(seps(4))
      all.zipWithIndex.foreach { case (t, i) =>
        if (i > 0) sb.append(seps(java.lang.Long.remainderUnsigned(mix(r0 ^ i), seps.length).toInt))
        sb.append(t)
      }
      if ((r0 & 24) == 8) sb.append(" \n")
      sb.toString
    }
  }

  private def docs(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  /** Failure text in printable ASCII: raw test strings carry control
    * characters and (cut short) lone surrogates the report writer rejects. */
  private def ascii(v: Any): String = String.valueOf(v).take(60).flatMap { c =>
    if (c >= ' ' && c < 127) c.toString else f"\\u${c.toInt}%04x"
  }

  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  private def assertScalarParity(df: DataFrame): Unit = {
    val rows = df.select(col("id"), col("text"),
      TextOps.qualityScore(col("text")).as("q"),
      ColumnReference.qualityScore(col("text")).as("q_ref"),
      TextOps.langId(col("text")).as("l"),
      ColumnReference.langId(col("text")).as("l_ref")).collect()
    val bad = rows.filter(r => bits(r.get(2)) != bits(r.get(3)) || r.get(4) != r.get(5))
    // fail() rather than assert(bad.isEmpty): the assert macro would render
    // the raw rows into the report
    if (bad.nonEmpty) fail(s"${bad.length} rows differ:\n" + bad.take(5).map(r =>
      s"id=${r.get(0)} text=${ascii(r.get(1))} " +
        s"q=${r.get(2)}/${r.get(3)} lang=${r.get(4)}/${r.get(5)}").mkString("\n"))
  }

  private def assertRepetitionParity(df: DataFrame): Unit = {
    def collect(out: DataFrame): Map[Long, Seq[Any]] =
      out.collect().map(r => r.getLong(0) -> (1 to 3).map(i => bits(r.get(i)))).toMap
    val got = collect(TextOps.repetitionStats(df, "id", "text"))
    val want = collect(ColumnReference.repetitionStats(df, "id", "text"))
    assert(got.keySet == want.keySet,
      s"ids: kernel-only ${got.keySet -- want.keySet}, reference-only ${want.keySet -- got.keySet}")
    val bad = want.keys.filter(k => got(k) != want(k)).toSeq.sorted
    assert(bad.isEmpty, bad.take(5).map(k => s"id=$k kernel=${got(k)} ref=${want(k)}").mkString("\n"))
  }

  test("qualityScore and langId === the regex Column formulations bit-for-bit " +
    "on the edge cases and a seeded corpus") {
    val df = docs(edgeCases ++ generated(seed = 17, n = 400))
    assertScalarParity(df)
  }

  test("repetitionStats === the relational posexplode/window/groupBy " +
    "pipeline bit-for-bit (same surviving ids, same fractions)") {
    val df = docs(edgeCases ++ generated(seed = 29, n = 300))
    assertRepetitionParity(df)
  }

  test("null text: qualityScore 0.28 (least/greatest skip the null " +
    "rates), langId's ELSE branch (\"es\"), no repetition row — exactly " +
    "as the Column formulations") {
    import spark.implicits._
    val df = Seq((0L, Option.empty[String]), (1L, Some("the cat"))).toDF("id", "text")
    assertScalarParity(df)
    assertRepetitionParity(df)
    val r = df.where(col("id") === 0).select(TextOps.qualityScore(col("text")),
      TextOps.langId(col("text"))).head()
    assert(r.getDouble(0) == 0.28 && r.getString(1) == "es")
  }

  test("invalid UTF-8 (a binary column cast to string) reads as the " +
    "Column formulations read it") {
    import spark.implicits._
    val raw = Seq(Array[Byte](0x61, 0xFF.toByte, 0x20, 0x62),
      Array[Byte](0x20, 0xC3.toByte, 0x20, 0x74, 0x68, 0x65, 0x20, 0x41),
      Array[Byte](0xE2.toByte, 0x82.toByte, 0x09, 0x61, 0x20, 0x61, 0x20, 0x61))
    val df = raw.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "bin")
      .select(col("id"), col("bin").cast("string").as("text"))
    assertScalarParity(df)
    assertRepetitionParity(df)
  }

  test("the interpreted path and the JVM case mapping agree with the " +
    "references too") {
    val df = docs(edgeCases ++ generated(seed = 43, n = 60))
    def withConf(kv: (String, String)*)(body: => Unit): Unit = {
      val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertScalarParity(df)
      assertRepetitionParity(df)
    }
    withConf("spark.sql.icu.caseMappings.enabled" -> "false") {
      assertScalarParity(df)
      assertRepetitionParity(df)
    }
  }
}
