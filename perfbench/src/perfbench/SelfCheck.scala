package perfbench

import java.nio.file.Paths
import graft.job.ExtractJob

/** The benchmark's checks of itself, and the workload property report. */
object SelfCheck {

  def run(o: Main.Opts): Boolean = {
    var ok = true
    def report(name: String, pass: Boolean): Unit = {
      Main.say(s"${if (pass) "PASS" else "FAIL"} $name")
      ok &&= pass
    }

    // span self times on a synthetic tree: root [0,100] with a [10,40]
    // (child [15,25]) and b [50,90] (children [50,60], [70,90])
    val t = Seq(Span(0, "root", 0, 100, -1, 0), Span(1, "a", 10, 40, 0, 0),
      Span(2, "a1", 15, 25, 1, 0), Span(3, "b", 50, 90, 0, 0),
      Span(4, "b1", 50, 60, 3, 0), Span(5, "b2", 70, 90, 3, 0))
    val self = Spans.selfTimes(t)
    report("span self times sum to the root's duration", self.values.sum == 100L)
    report("span self time subtracts overlapping children once",
      Spans.selfTimes(Seq(Span(0, "r", 0, 100, -1, 0), Span(1, "x", 10, 50, 0, 0),
        Span(2, "y", 30, 70, 0, 0)))(0) == 40L)

    val work = Paths.get(o.work).toAbsolutePath
    val spark = Main.session("articles", o.work)
    try {
      for (w <- Gen.Workloads) {
        val d = Seq((1L, "a"), (1L, "b"), (2L, "c")).map { case (seed, tag) =>
          Gen.digest(Gen.generate(spark, w, seed, work.resolve(s"gen-$tag").toString, o.root).dir)
        }
        report(s"$w: the same seed gives byte-identical inputs", d(0) == d(1))
        report(s"$w: another seed gives different inputs", d(0) != d(2))
      }

      val in = Gen.generate(spark, "articles", 1, work.resolve("gen-a").toString, o.root)
      val check = new Check(in)
      val out = work.resolve("out-check").toString
      ExtractJob.run(spark, in.input, out, Main.cpus * 2, resume = false)
      val rows = Check.readExtracted(spark, out)
      report("articles: a correct output passes the verifier", check.extraction(rows).isEmpty)
      val i = rows.indexWhere(_.status == "ok")
      report("articles: one altered row is caught",
        check.extraction(rows.updated(i, rows(i).copy(text = rows(i).text + " "))).nonEmpty)
      report("articles: one dropped row is caught", check.extraction(rows.patch(i, Nil, 1)).nonEmpty)

      val inC = Gen.generate(spark, "curate", 1, work.resolve("gen-c").toString, o.root)
      val checkC = new Check(inC)
      val outC = work.resolve("out-check-curate").toString
      Main.job(spark, inC, outC)
      val c = Check.readCurate(spark, outC)
      report("curate: a correct output passes the verifier",
        checkC.extraction(Check.readExtracted(spark, outC)).isEmpty && checkC.curate(c).isEmpty)
      val dup = inC.curate.get.exactGroups.head.sorted
      report("curate: a kept exact duplicate is caught",
        checkC.curate(c.copy(exact = c.exact - dup.head + dup(1))).nonEmpty)
      report("curate: one dropped survivor is caught",
        checkC.curate(c.copy(decontam = c.decontam - c.decontam.head)).nonEmpty)
      report("curate: a kept contaminated page is caught",
        checkC.curate(c.copy(decontam = c.decontam + inC.curate.get.contaminated.head)).nonEmpty)
    } finally spark.stop()
    ok
  }

  /** Workload properties for one seed, one JSON object per workload. */
  def describe(o: Main.Opts): Unit = {
    val work = Paths.get(o.work).toAbsolutePath
    val spark = Main.session("articles", o.work)
    try for (w <- Gen.Workloads) {
      val in = Gen.generate(spark, w, o.seed, work.resolve(s"describe-$w").toString, o.root)
      val kb = in.docs.map(_.html.length / 1024.0).sorted
      def pct(q: Double) = kb(math.min(kb.length - 1, (q * kb.length).toInt))
      val planted: Seq[(String, Any)] = in.curate.map { t =>
        Seq("exact_dup_extra_copies" -> t.exactGroups.map(_.length - 1).sum,
          "near_dup_chains" -> t.nearClusters.length,
          "near_dup_extra_pages" -> t.nearClusters.map(_.length - 1).sum,
          "low_quality" -> t.lowQuality.size, "contaminated" -> t.contaminated.size,
          "eval_docs" -> t.evalDocs, "german_pages" -> t.german)
      }.getOrElse(Nil) ++ in.warc.map { t =>
        Seq("warc_files" -> t.files.length, "response_records" -> t.responses,
          "malformed_records" -> t.malformed)
      }.getOrElse(Nil)
      val props = Seq[(String, Any)](
        "workload" -> s"\"$w\"", "seed" -> o.seed, "rows" -> in.docs.length,
        "input_mb" -> f"${in.inputBytes / 1048576.0}%.2f",
        "html_kb_p50" -> f"${pct(0.5)}%.1f", "html_kb_p90" -> f"${pct(0.9)}%.1f",
        "html_kb_max" -> f"${kb.last}%.1f",
        "distinct_html" -> Layers.distinct(in.docs).length,
        "class_id_strings" -> Layers.classIdStrings(in.docs), "scoring_memo_entries" -> 8192,
        "planted_failed_rows" -> in.failed.size) ++ planted
      Main.say(props.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    } finally spark.stop()
  }
}
