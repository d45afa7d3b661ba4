package perfbench

import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}
import graft.extract.{Article, Extractor, Page}
import graft.html.{HtmlParseError, Node, Parser}
import graft.extract.Decode
import graft.sources.Warc

/**
 * Single-thread, in-process passes over a workload's inputs that time the
 * `html`, `extract` and `sources` layers from outside, through their
 * public functions.
 */
object Layers {

  /** |Σ phases / Extractor.extract − 1| above this is flagged. The phases
    * leave out the title lookup, flattening and row assembly: 5-8% of
    * extract time on the fixture articles, about 11% on 5 KB pages. */
  val PhaseTolerance = 0.15

  val Phases: Seq[String] = Seq("extract.decode", "html.parse", "extract.clean",
    "extract.candidates", "extract.readable", "extract.text", "html.serialize")

  /** Distinct non-empty html of `docs`, in first-seen order. */
  def distinct(docs: Seq[Page]): Vector[Page] = {
    val seen = new java.util.HashSet[ByteBuffer]()
    docs.filter(p => p.html.nonEmpty && seen.add(ByteBuffer.wrap(p.html))).toVector
  }

  /**
   * Two single-thread passes over the distinct documents: every document
   * through `Extractor.extract` (spans `extract.doc`), then every document
   * through a fresh `Article` whose lazy stages are forced one at a time,
   * in the order `Extractor.extract` forces them, so the phases are
   * disjoint (spans under `extract.phased`). Whole passes rather than
   * per-document pairs, so both see the same state of `Scoring`'s
   * cross-document memo.
   */
  def extractPass(docs: Seq[Page], spans: Spans, run: Int): Map[String, Double] = {
    val ds = distinct(docs)
    val root = spans.open("layer.extract", -1, run)
    val docNs = ds.map { p =>
      val d = spans.open("extract.doc", root, run)
      Extractor.extract(p)
      spans.close(d)
    }
    ds.foreach { p =>
      val ph = spans.open("extract.phased", root, run)
      def phase(name: String)(f: => Any): Unit = {
        val s = spans.open(name, ph, run)
        try f catch { case _: HtmlParseError => () } // as Article.dom does
        spans.close(s)
      }
      var art: Article = null
      phase("extract.decode") { art = Article.fromBytes(p.html, p.url) }
      phase("html.parse")(art.originalDom)
      phase("extract.clean")(art.dom)
      phase("extract.candidates")(art.candidates)
      phase("extract.readable")(art.readableDom)
      phase("extract.text")(art.mainText)
      phase("html.serialize")(art.readable)
      spans.close(ph)
    }
    spans.close(root)
    val mine = spans.all.filter(s => s.run == run)
    val phaseNs = Phases.map(n => n -> mine.filter(_.name == n).map(_.dur).sum).toMap
    val sorted = docNs.sorted
    def pct(q: Double): Double =
      if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.length - 1, math.ceil(q * sorted.length).toInt - 1).max(0)) / 1e6
    val n = math.max(1, ds.length)
    Phases.map(p => s"${p}_ms" -> phaseNs(p) / 1e6 / n).toMap ++ Map(
      "extract.doc_ms_p50" -> pct(0.50),
      "extract.doc_ms_p99" -> pct(0.99),
      "extract.phase_coverage" -> (if (docNs.sum > 0) phaseNs.values.sum.toDouble / docNs.sum else 0.0))
  }

  /** `Warc.parseAll` over each generated file, best of three passes. */
  def sourcesPass(t: WarcTruth, spans: Spans, run: Int): Map[String, Double] = {
    val blobs = t.files.map(f => Files.readAllBytes(Paths.get(f)))
    val mb = blobs.map(_.length.toLong).sum / (1024.0 * 1024.0)
    val root = spans.open("layer.sources", -1, run)
    val passes = (0 until 3).map { _ =>
      val pass = spans.open("sources.pass", root, run)
      val recs = blobs.flatMap { b =>
        val s = spans.open("sources.parse", pass, run)
        val r = Warc.parseAll(b)
        spans.close(s)
        r
      }
      (spans.close(pass), recs)
    }
    spans.close(root)
    val recs = passes.head._2
    val accepted = recs.count(r => r.recordType == "response" && r.httpStatus / 100 == 2)
    Map(
      "sources.parse_ms_per_mb" -> passes.map(_._1).min / 1e6 / mb,
      "sources.records" -> recs.length.toDouble,
      "sources.malformed_skipped" -> (t.responses - accepted).toDouble)
  }

  /** Distinct class and id attribute values over the distinct html — the
    * strings `Scoring`'s 8,192-entry regex memo caches. */
  def classIdStrings(docs: Seq[Page]): Int = {
    val seen = new java.util.HashSet[String]()
    def walk(n: Node): Unit = {
      var stack = List(n)
      while (stack.nonEmpty) {
        val m = stack.head
        stack = stack.tail
        m.attrs.get("class").foreach(seen.add)
        m.attrs.get("id").foreach(seen.add)
        stack = m.children.toList ++ stack
      }
    }
    distinct(docs).foreach { p =>
      try walk(Parser.parseDocument(Decode.decodeHtml(p.html)))
      catch { case _: HtmlParseError => () }
    }
    seen.size
  }
}
