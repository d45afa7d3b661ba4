package perfbench

import java.nio.ByteBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.collection.parallel.CollectionConverters._
import graft.extract.Extractor

/** One output row of the extraction stage, as the verifier reads it. */
final case class OutRow(url: String, status: String, text: String,
                        candidates: Long, pruned: Long)

/** Survivors of each curate stage, read back from its durable output. */
final case class CurateOut(exact: Set[String], near: Set[String],
                           quality: Set[String], decontam: Set[String],
                           curated: Set[String], funnel: Map[String, Long])

/**
 * Output verification after every timed run. The reference for the
 * extraction stage is in-process `Extractor.extract` of the same html,
 * computed once per distinct html; the reference for the curate stages is
 * the generator's planted truth. Every check returns its mismatches;
 * an empty list means the output is correct.
 */
final class Check(in: Inputs) {

  /** url → (ok?, extracted_text) from in-process extraction, once per
    * distinct html (in parallel: this runs before any timing starts). */
  val expected: Map[String, (Boolean, String)] = {
    val distinct = in.docs.groupBy(p => ByteBuffer.wrap(p.html)).values.map(_.head).toVector
    val byHtml = distinct.par.map { p =>
      val e = Extractor.extract(p)
      ByteBuffer.wrap(p.html) -> (e.status == "ok", e.extracted_text)
    }.seq.toMap
    in.docs.map(p => p.url -> byHtml(ByteBuffer.wrap(p.html))).toMap
  }

  def extraction(rows: Seq[OutRow]): Seq[String] = {
    val errs = Vector.newBuilder[String]
    if (rows.length != in.docs.length)
      errs += s"extracted rows: ${rows.length}, expected ${in.docs.length}"
    val byUrl = rows.groupBy(_.url)
    byUrl.collect { case (u, rs) if rs.length > 1 => errs += s"url $u written ${rs.length} times" }
    expected.foreach { case (u, (ok, text)) =>
      byUrl.get(u).map(_.head) match {
        case None => errs += s"url $u missing from the output"
        case Some(r) =>
          if ((r.status == "ok") != ok) errs += s"url $u: status ${r.status}, expected ok=$ok"
          if (r.text != text) errs += s"url $u: extracted_text differs from Extractor.extract"
      }
    }
    byUrl.keys.filterNot(expected.contains).foreach(u => errs += s"url $u not in the input")
    val failed = rows.filter(_.status != "ok").map(_.url).toSet
    if (failed != in.failed)
      errs += s"failed rows: ${failed.size} (${(failed -- in.failed).take(3).mkString(",")}), " +
        s"planted ${in.failed.size} (${(in.failed -- failed).take(3).mkString(",")})"
    errs.result()
  }

  /** Expected survivors of exact, near, quality and decontam, in order. */
  lazy val curateExpected: Seq[(String, Set[String])] = {
    val t = in.curate.get
    val ok = in.docs.map(_.url).toSet -- in.failed
    val exact = ok -- t.exactGroups.flatMap(_.sorted.tail)
    val near = exact -- t.nearClusters.flatMap(_.sorted.tail)
    val quality = near -- t.lowQuality
    val decontam = quality -- t.contaminated
    Seq("exact" -> exact, "near" -> near, "quality" -> quality,
      "decontam" -> decontam, "curated" -> decontam)
  }

  def curate(out: CurateOut): Seq[String] = {
    val errs = Vector.newBuilder[String]
    val got = Map("exact" -> out.exact, "near" -> out.near, "quality" -> out.quality,
      "decontam" -> out.decontam, "curated" -> out.curated)
    curateExpected.foreach { case (stage, want) =>
      val have = got(stage)
      if (have != want)
        errs += s"stage $stage: ${have.size} survivors, expected ${want.size}; " +
          s"unexpected ${(have -- want).take(3).mkString(",")} missing ${(want -- have).take(3).mkString(",")}"
    }
    val t = in.curate.get
    t.nearClusters.foreach { c =>
      val kept = c.count(out.near.contains)
      if (kept != 1) errs += s"near-dup cluster ${c.head}: $kept survivors, expected 1"
    }
    val funnelWant = Map("extracted" -> (in.docs.length - in.failed.size).toLong) ++
      Seq("after_exact_dedup" -> "exact", "after_near_dedup" -> "near",
        "after_quality" -> "quality", "after_decontam" -> "decontam", "curated" -> "curated")
        .map { case (k, s) => k -> curateExpected.toMap.apply(s).size.toLong }
    funnelWant.foreach { case (k, v) =>
      if (!out.funnel.get(k).contains(v)) errs += s"_funnel.json $k=${out.funnel.get(k)}, expected $v"
    }
    errs.result()
  }
}

object Check {

  def readExtracted(spark: SparkSession, out: String): Seq[OutRow] =
    spark.read.parquet(s"$out/extracted")
      .select(col("url"), col("status"), col("extracted_text"),
        col("metrics.candidates_scored"), col("metrics.nodes_pruned"))
      .collect().toSeq
      .map(r => OutRow(r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))

  def readCurate(spark: SparkSession, out: String): CurateOut = {
    def urls(stage: String): Set[String] =
      spark.read.parquet(s"$out/$stage").select("url").collect().map(_.getString(0)).toSet
    val funnel = {
      val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out, "_funnel.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      "\"([a-z_]+)\":(\\d+)".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toLong).toMap
    }
    CurateOut(urls("stage_exact"), urls("stage_near"), urls("stage_quality"),
      urls("stage_decontam"), urls("curated"), funnel)
  }
}
