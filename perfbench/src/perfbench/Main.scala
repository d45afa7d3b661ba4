package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import graft.job.{CurateJob, ExtractJob}

/** Peak heap in use right after a collection, since the last reset. */
object HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            HeapWatch.synchronized { peak = math.max(peak, used) }
          }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakBytes: Long = synchronized(peak)
}

/**
 * The benchmark's JVM side. Modes:
 *
 *   run       --workload W --seed N --seconds S --trace 0|1
 *   selfcheck                                    generator, verifier and span checks
 *   describe  --seed N                           workload properties as JSON
 *
 * Every mode takes --work <dir> (scratch space inside the checkout) and
 * --root <checkout>. Lines starting with "READY" and "RESULT " are read by
 * perfbench/run.py; everything else is a human-readable report.
 */
object Main {

  private val out = System.out
  def say(s: String): Unit = { out.println(s); out.flush() }

  final case class Opts(mode: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, root: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.drop(1).grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Opts(args(0), kv.getOrElse("--workload", "articles"), kv.getOrElse("--seed", "1").toLong,
      kv.getOrElse("--seconds", "10").toDouble, kv.getOrElse("--trace", "0") == "1",
      kv.getOrElse("--work", ".bench_build/work"), kv.getOrElse("--root", "."))
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The session ExtractJob.main / CurateJob.main build, at local[nproc]. */
  def session(workload: String, work: String): SparkSession = {
    val b = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toAbsolutePath.toString)
    if (workload != "curate") b.config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.mode match {
      case "run" => run(o)
      case "selfcheck" => if (!SelfCheck.run(o)) sys.exit(1)
      case "describe" => SelfCheck.describe(o)
      case m => throw new IllegalArgumentException(s"unknown mode '$m'")
    }
  }

  /** The production entry point each workload runs. */
  def job(spark: SparkSession, in: Inputs, outDir: String): Unit = in.workload match {
    case "articles" => ExtractJob.run(spark, in.input, outDir, cpus * 2, resume = false)
    case "curate" => CurateJob.run(spark, in.input, outDir, cpus * 2, evalPath = in.evalPath, warcInput = true)
  }

  /** Timed runs per loop at least, whatever --seconds says: a median of
    * three short articles jobs, two of the longer curate jobs. */
  def minRuns(workload: String): Int = if (workload == "curate") 2 else 3

  /** Untimed, verified runs first. The first pays Spark's first-use
    * costs; on articles the JIT takes several more jobs to settle (job_s
    * falls by a third over the first six), so it gets a second. */
  def warmups(workload: String): Int = if (workload == "curate") 1 else 2

  final case class Sample(run: Int, jobS: Double, cpuS: Double, heapBytes: Long, t0Ms: Long, t1Ms: Long)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One timed call of the job into a fresh output directory. */
  def timed(spark: SparkSession, in: Inputs, run: Int, outDir: String): Sample = {
    Gen.deleteTree(Paths.get(outDir))
    System.gc() // every run starts from the same collected heap
    HeapWatch.reset()
    val c0 = osBean.getProcessCpuTime
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    job(spark, in, outDir)
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    Sample(run, (t1 - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9, HeapWatch.peakBytes, w0, w1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    def q(p: Double): Double = {
      val h = (s.length - 1) * p
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.length - 1)) - s(lo))
    }
    (q(0.25), q(0.75))
  }

  def json(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "0" else v.toString}""" }
      .mkString("{", ",", "}")

  /** Runs the job repeatedly, verifying every output. */
  final class Runner(spark: SparkSession, in: Inputs, check: Check, work: java.nio.file.Path) {
    var failed = 0
    val errors = Vector.newBuilder[String]
    var lastRows: Seq[OutRow] = Nil
    var lastFunnel: Map[String, Long] = Map.empty

    /** One timed run; `after` sees the sample before the output is verified. */
    def once(i: Int, after: (Int, Sample) => Unit): Option[Sample] = {
      val outDir = work.resolve(s"out-$i").toString
      try {
        val s = timed(spark, in, i, outDir)
        after(i, s)
        lastRows = Check.readExtracted(spark, outDir)
        errors ++= check.extraction(lastRows).map(e => s"run $i: $e")
        if (in.workload == "curate") {
          val c = Check.readCurate(spark, outDir)
          lastFunnel = c.funnel
          errors ++= check.curate(c).map(e => s"run $i: $e")
        }
        Gen.deleteTree(Paths.get(outDir))
        Some(s)
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"run $i failed: $e")
          None
      }
    }

    /** Closed loop: the next run starts when the previous one is verified;
      * at least `minRuns`, then until `seconds` have passed. */
    def loop(from: Int, minRuns: Int, seconds: Double,
             before: Int => Unit = _ => (), after: (Int, Sample) => Unit = (_, _) => ()): Vector[Sample] = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val acc = Vector.newBuilder[Sample]
      var i = from
      while (i - from < minRuns || System.nanoTime() < end) {
        before(i)
        once(i, after).foreach(acc += _)
        i += 1
      }
      acc.result()
    }
  }

  def run(o: Opts): Unit = {
    HeapWatch.install()
    val spark = session(o.workload, o.work)
    say("READY")
    val work = Paths.get(o.work).toAbsolutePath
    def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9
    var t = System.nanoTime()
    val in = Gen.generate(spark, o.workload, o.seed, work.resolve("input").toString, o.root)
    val genS = secondsSince(t)
    t = System.nanoTime()
    val check = new Check(in)
    val refS = secondsSince(t)
    val docs = in.docs.length.toDouble
    say(f"${o.workload}: seed ${o.seed}, ${in.docs.length} docs, ${in.inputBytes / 1048576.0}%.1f MB input, " +
      f"${in.failed.size} planted failures, local[$cpus]; generated in $genS%.1f s, " +
      f"reference outputs in $refS%.1f s")
    val runner = new Runner(spark, in, check, work)

    t = System.nanoTime()
    (0 until warmups(o.workload)).foreach(i => runner.once(-1 - i, (_, _) => ()))
    say(f"${o.workload}: ${warmups(o.workload)} warm-up runs and their checks took ${secondsSince(t)}%.1f s")
    def report(label: String, xs: Seq[Sample]): Double = {
      val js = xs.map(_.jobS)
      val (q1, q3) = if (js.nonEmpty) quartiles(js) else (0.0, 0.0)
      say(f"${o.workload}: $label job_s median ${median(js)}%.3f s over ${js.length} runs " +
        f"(quartiles $q1%.3f-$q3%.3f; ${js.map(x => f"$x%.2f").mkString(" ")})")
      median(js)
    }

    val (timedRuns, values) =
      if (!o.trace) {
        val untraced = runner.loop(1, minRuns(o.workload), o.seconds)
        val jobS = report("untraced", untraced)
        (untraced.length, Seq(
          "job_s" -> jobS,
          "docs_per_s" -> docs / jobS,
          "cpu_s_per_kdoc" -> median(untraced.map(_.cpuS)) / docs * 1000,
          "failed_share" -> runner.lastRows.count(_.status != "ok") / docs,
          "peak_heap_mb" -> median(untraced.map(_.heapBytes / 1048576.0))))
      } else traced(o, spark, in, runner, work, report)

    val errs = runner.errors.result()
    errs.take(20).foreach(e => say(s"MISMATCH $e"))
    spark.stop()
    val attempted = timedRuns + runner.failed
    say(s"""RESULT {"correct":${errs.isEmpty && timedRuns > 0},"attempted":$attempted,""" +
      s""""failed":${runner.failed},"values":${json(values)}}""")
  }

  /** A --trace 1 run: untraced and traced runs in ABBA order (so the JIT's
    * settling does not land on one side of the tracing overhead), the
    * traced ones with the Spark listeners on; then the single-thread layer
    * passes. Returns the timed run count and every per-layer metric;
    * layers a workload does not load read 0. */
  private def traced(o: Opts, spark: SparkSession, in: Inputs, runner: Runner,
                     work: java.nio.file.Path,
                     report: (String, Seq[Sample]) => Double): (Int, Seq[(String, Double)]) = {
    val spans = new Spans
    val tr = new SparkTrace
    val perRun = Vector.newBuilder[Map[String, Double]]
    def on(i: Int) = i % 4 == 2 || i % 4 == 3 // runs 1.. go U T T U U T T U
    def detach(): Unit = {
      spark.listenerManager.unregister(tr)
      spark.sparkContext.removeSparkListener(tr)
    }
    val runs = runner.loop(1, minRuns(o.workload) + 1, o.seconds,
      before = i => if (on(i)) {
        tr.reset()
        spark.sparkContext.addSparkListener(tr)
        spark.listenerManager.register(tr)
      } else detach(), // also after a traced run that threw before `after`
      after = (i, s) => if (on(i)) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        detach()
        val root = spans.add("job", spans.fromWallMs(s.t0Ms), spans.fromWallMs(s.t1Ms), -1, i)
        perRun += SparkTrace.layerMetrics(tr, spans, root, i, s.t0Ms, s.t1Ms, in.inputBytes)
      })
    val sparkM = perRun.result()
    val untracedJobS = report("untraced", runs.filterNot(s => on(s.run)))
    val tracedJobS = report("traced", runs.filter(s => on(s.run)))

    val extractM = Layers.extractPass(in.docs, spans, run = 2000)
    val sourcesM = in.warc.map(Layers.sourcesPass(_, spans, run = 2001))
      .getOrElse(Map("sources.parse_ms_per_mb" -> 0.0, "sources.records" -> 0.0,
        "sources.malformed_skipped" -> 0.0))
    val rows = math.max(1, runner.lastRows.length).toDouble
    val funnel = Seq("after_exact" -> "after_exact_dedup", "after_near" -> "after_near_dedup",
      "after_quality" -> "after_quality", "after_decontam" -> "after_decontam", "curated" -> "curated")
      .map { case (k, f) => s"pipeline.funnel.$k" -> runner.lastFunnel.getOrElse(f, 0L).toDouble }

    val cov = extractM("extract.phase_coverage")
    say(f"${o.workload}: extract.phase_coverage $cov%.3f (Σ phases / Extractor.extract; " +
      f"tolerance ±${Layers.PhaseTolerance}%.2f)" +
      (if (math.abs(cov - 1) > Layers.PhaseTolerance) " FLAGGED: phases do not reconcile" else ""))
    say(f"${o.workload}: tracing overhead ${tracedJobS - untracedJobS}%.3f s")

    val dumpDir = work.getParent.resolve("traces")
    Files.createDirectories(dumpDir)
    val dump = dumpDir.resolve(s"trace-${o.workload}-${o.seed}.json")
    Files.write(dump, spans.toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    say(s"${o.workload}: ${spans.all.length} spans written to $dump")

    val sparkKeys = sparkM.flatMap(_.keys).distinct
    (runs.length, sparkKeys.map(k => k -> median(sparkM.map(_.getOrElse(k, 0.0)))) ++
      extractM.toSeq ++ sourcesM.toSeq ++ funnel ++ Seq(
      "extract.candidates_per_doc" -> runner.lastRows.map(_.candidates).sum / rows,
      "extract.nodes_pruned_per_doc" -> runner.lastRows.map(_.pruned).sum / rows,
      "trace.overhead_s" -> (tracedJobS - untracedJobS)))
  }
}
