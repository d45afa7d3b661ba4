package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, TextOps}

/**
 * The interpreted Column formulations the native kernels replaced, kept
 * as the independent differential references the kernels are pinned
 * against (KernelParitySpec, TextStatsParitySpec). The DuckDB oracles
 * were derived from this math; NOT for hot paths.
 */
object ColumnReference {

  private val Ws = Dedup.WsClass

  /** Word n-gram shingles: sliding windows via sequence+transform, one
    * whole-text shingle below n tokens. */
  def shingles(text: Column, n: Int = 3): Column = {
    val t = Dedup.tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array(concat_ws(" ", t)))
  }

  /** array_distinct(transform(shingles(text, n), hash)) — ShingleHash's
    * reference. */
  def shingleHashesHof(text: Column, hashFn: Column => Column, n: Int = 3): Column =
    array_distinct(transform(shingles(text, n), hashFn))

  /** Heuristic language ID: unicode-script pre-pass, then per-language
    * stopword hit counts (regex split per word) and their argmax. */
  def langId(text: Column): Column = {
    val norm = TextOps.normalizeWs(text)
    val nospace = regexp_replace(norm, s"[$Ws]", "")
    val total = length(nospace).cast("double")
    def scriptCount(re: String): Column =
      total - length(regexp_replace(nospace, re, "")).cast("double")
    val kana = scriptCount("[\\p{IsHiragana}\\p{IsKatakana}]")
    val hangul = scriptCount("[\\p{IsHangul}]")
    val han = scriptCount("[\\p{IsHan}]")
    val cyr = scriptCount("[\\p{IsCyrillic}]")

    val padded = concat(lit(" "), lower(norm), lit(" "))
    def hits(words: Seq[String]): Column =
      words.map(w => size(split(padded, s"[$Ws]$w[$Ws]")) - 1).reduce(_ + _)
    val en = hits(Seq("the", "and", "of", "a", "to", "is"))
    val de = hits(Seq("der", "die", "und", "das", "ist", "ein"))
    val fr = hits(Seq("le", "la", "et", "les", "des", "est"))
    val es = hits(Seq("el", "de", "y", "que", "los", "una"))
    val best = greatest(en, de, fr, es)
    when(total <= 0, lit("und"))
      .when(kana / total > 0.05, lit("ja"))
      .when(hangul / total > 0.25, lit("ko"))
      .when(han / total > 0.25, lit("zh"))
      .when(cyr / total > 0.25, lit("ru"))
      .when(best <= 0, lit("und"))
      .when(en === best, lit("en"))
      .when(de === best, lit("de"))
      .when(fr === best, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Quality score from length/punctuation/stopword/symbol ratios. */
  def qualityScore(text: Column): Column = {
    val norm = TextOps.normalizeWs(text)
    val len = length(norm).cast("double")
    val words = TextOps.tokenCount(norm).cast("double")
    val meanWordLen = when(words > 0, len / words).otherwise(lit(0.0))
    val punct = length(regexp_replace(norm, "[^.!?]", "")).cast("double")
    val symbols = length(regexp_replace(norm,
      s"[\\p{L}\\p{N}$Ws.,;:!?'\"()-]", "")).cast("double")
    val stopHits = (size(split(concat(lit(" "), lower(norm), lit(" ")),
      s"[$Ws](the|and|of|a|to|is)[$Ws]")) - 1).cast("double")
    val lengthBand = when(len >= 200 && len <= 20000, 1.0)
      .when(len >= 50, 0.5).otherwise(0.0)
    val wordShape = when(meanWordLen >= 3 && meanWordLen <= 12, 1.0).otherwise(0.3)
    val punctRate = least(punct / greatest(words, lit(1.0)) * 10.0, lit(1.0))
    val stopRate = least(stopHits / greatest(words, lit(1.0)) * 5.0, lit(1.0))
    val noise = least(symbols / greatest(len, lit(1.0)) * 20.0, lit(1.0))
    round((lengthBand * 0.3 + wordShape * 0.2 + punctRate * 0.2 + stopRate * 0.3) *
      (lit(1.0) - noise * 0.5), 4)
  }

  /** The relational repetition statistics: posexplode + one per-doc
    * window + bounded groupBys, the distinct-3-gram count from the
    * ShingleHash kernel; single-token docs drop out of the 2-gram join. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
      posexplode(Dedup.tokens(col(textCol)))).toDF("id", "pos", "tok")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val grams = toks.withColumn("nxt", lead(col("tok"), 1).over(w))
    val words = grams.groupBy(col("id")).agg(
      count(lit(1)).as("n_words"),
      countDistinct(col("tok")).as("d_words"))
    val twoG = grams.where(col("nxt").isNotNull)
      .groupBy(col("id"), col("tok"), col("nxt")).agg(count(lit(1)).as("c"))
      .groupBy(col("id")).agg(sum(col("c")).as("n_2g"), max(col("c")).as("top_2g"))
    val threeG = df.select(col(idCol).as("id"),
      size(Dedup.shingleHashes(col(textCol), 3)).as("d_3g"))
    words.join(twoG, Seq("id")).join(threeG, Seq("id"))
      .select(col("id"),
        round(lit(1.0) - col("d_words").cast("double") / col("n_words"), 4)
          .as("dup_word_frac"),
        round(when(col("n_words") >= 3,
          lit(1.0) - col("d_3g").cast("double") / (col("n_words") - 2))
          .otherwise(0.0), 4).as("dup_3gram_frac"),
        round(col("top_2g").cast("double") / col("n_2g"), 4)
          .as("top_2gram_frac"))
  }
}
