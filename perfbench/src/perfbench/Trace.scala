package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are ns on the System.nanoTime clock;
  * `parent` is -1 for a root; spans of one traced run share `run`. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: Int) {
  def dur: Long = end - start
}

/** In-memory span recorder, dumped as JSON when the benchmark ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  private val wallMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Maps a wall-clock ms timestamp (Spark's event times) onto the span clock. */
  def fromWallMs(ms: Long): Long = nano0 + (ms - wallMs0) * 1000000L

  def add(name: String, start: Long, end: Long, parent: Int, run: Int): Int = synchronized {
    buf += Span(buf.length, name, start, end, parent, run)
    buf.length - 1
  }

  def open(name: String, parent: Int, run: Int): Int = {
    val t = System.nanoTime()
    add(name, t, t, parent, run)
  }

  def close(id: Int): Long = synchronized {
    val s = buf(id).copy(end = System.nanoTime())
    buf(id) = s
    s.dur
  }

  def all: Vector[Span] = synchronized(buf.toVector)

  def toJson: String = {
    val spans = all
    val self = Spans.selfTimes(spans)
    spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","run":${s.run},"parent":${s.parent},""" +
        s""""start_ns":${s.start - nano0},"end_ns":${s.end - nano0},"self_ns":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Spans {

  /** Self time = a span's duration minus the part of its interval that its
    * children cover (children clipped to the parent, overlaps merged). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/**
 * The Spark-side tracer, registered from the benchmark only: a
 * SparkListener for jobs, stages and tasks, and a QueryExecutionListener
 * that names each durable write by its output path. Times are Spark's
 * wall-clock ms.
 */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  import SparkTrace.{JobRec, StageRec}

  private val jobStart = mutable.Map[Int, (Long, Seq[Int])]()
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.Map[Int, StageRec]()
  val taskRun = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val writes = mutable.ArrayBuffer[(String, Long)]()

  def reset(): Unit = synchronized {
    jobStart.clear(); jobs.clear(); stages.clear(); taskRun.clear(); writes.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t, st) => jobs += JobRec(e.jobId, t, e.time, st) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null && i.submissionTime.isDefined && i.completionTime.isDefined)
      stages(i.stageId) = StageRec(i.stageId, i.name.replaceAll("[^A-Za-z0-9_.:]+", " "), i.submissionTime.get, i.completionTime.get,
        i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskMetrics.executorRunTime
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val path = Seq(qe.logical, qe.analyzed).iterator.flatMap(_.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }).nextOption()
    // called while the listener bus delivers the write's end event: the
    // bus is idle between jobs, so this is the write's end to within ms
    val now = System.currentTimeMillis()
    path.foreach(p => synchronized { writes += p -> now })
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Durable writes of the run as (output path, end ms), in end order. */
  def writeEnds: Seq[(String, Long)] = synchronized(writes.toSeq.sortBy(_._2))
}

object SparkTrace {

  final case class JobRec(id: Int, start: Long, end: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, name: String, submit: Long, complete: Long, tasks: Int,
                            runMs: Long, cpuNs: Long, gcMs: Long, shWrite: Long,
                            shRead: Long, spill: Long, output: Long)

  val PipelineStages: Seq[String] = Seq("extract", "exact", "near", "quality", "decontam", "curated")

  /** CurateJob stage a durable write belongs to, by its output directory. */
  def pipelineStage(path: String): Option[String] =
    path.stripSuffix("/").split('/').last match {
      case "extracted" | "_lineage"             => Some("extract")
      case "stage_exact"                        => Some("exact")
      case "stage_near"                         => Some("near")
      case "stage_quality"                      => Some("quality")
      case "_decontam_report" | "stage_decontam" => Some("decontam")
      case "curated"                            => Some("curated")
      case _                                    => None
    }

  /**
   * Per-layer Spark metrics of one traced job run over [t0Ms, t1Ms], and
   * its spans under `jobSpan`. Every Spark job is attributed to the
   * pipeline stage whose last durable write ends at or after it (an
   * ExtractJob run is the `extract` stage alone).
   */
  def layerMetrics(tr: SparkTrace, spans: Spans, jobSpan: Int, run: Int,
                   t0Ms: Long, t1Ms: Long, inputBytes: Long): Map[String, Double] =
    tr.synchronized {
      val mb = 1024.0 * 1024.0
      val jobs = tr.jobs.filter(j => j.start >= t0Ms && j.end <= t1Ms).sortBy(_.start).toVector
      val stageJob = jobs.flatMap(j => j.stageIds.map(_ -> j.id)).groupBy(_._1).map { case (s, js) => s -> js.head._2 }
      val stages = tr.stages.values.filter(s => stageJob.contains(s.id)).toVector

      // busy time = union of job intervals
      var busy = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      jobs.foreach { j =>
        if (j.start > ce) { if (ce > cs) busy += ce - cs; cs = j.start; ce = j.end }
        else ce = math.max(ce, j.end)
      }
      if (ce > cs) busy += ce - cs

      // pipeline boundaries: end of each stage's last durable write
      val bounds: Seq[(String, Long)] = {
        val ends = tr.writeEnds.flatMap { case (p, t) => pipelineStage(p).map(_ -> t) }
          .groupBy(_._1).map { case (s, ts) => s -> ts.map(_._2).max }
        PipelineStages.flatMap(s => ends.get(s).map(s -> _))
      }
      def stageOfJob(j: JobRec): Option[String] = bounds.find(_._2 >= j.end).map(_._1)

      // spans: pipeline stages, Spark jobs, Spark stages
      val pipeSpan = mutable.Map[String, Int]()
      var prev = t0Ms
      bounds.foreach { case (s, t) =>
        pipeSpan(s) = spans.add(s"pipeline.$s", spans.fromWallMs(prev), spans.fromWallMs(t), jobSpan, run)
        prev = t
      }
      val jobSpanId = jobs.map { j =>
        val parent = stageOfJob(j).flatMap(pipeSpan.get).getOrElse(jobSpan)
        j.id -> spans.add(s"spark.job.${j.id}", spans.fromWallMs(j.start), spans.fromWallMs(j.end), parent, run)
      }.toMap
      stages.foreach { s =>
        spans.add(s"spark.stage.${s.id} ${s.name}", spans.fromWallMs(s.submit), spans.fromWallMs(s.complete),
          jobSpanId(stageJob(s.id)), run)
      }

      // the extraction stage: in the extract window, the writing stage
      // with the most task time (salted shuffle read → extract → write)
      val extractEnd = bounds.find(_._1 == "extract").map(_._2).getOrElse(t1Ms)
      val extractJobs = jobs.filter(_.end <= extractEnd).map(_.id).toSet
      val inExtract = stages.filter(s => extractJobs.contains(stageJob(s.id)))
      val exStage = inExtract.filter(_.output > 0).sortBy(-_.runMs).headOption
      val taskRuns = exStage.flatMap(s => tr.taskRun.get(s.id)).map(_.toSeq).getOrElse(Nil)
      val runMs = stages.map(_.runMs).sum
      val cpuNs = stages.map(_.cpuNs).sum

      val base = Map(
        "job.jobs" -> jobs.length.toDouble,
        "job.stages" -> stages.length.toDouble,
        "job.tasks" -> stages.map(_.tasks).sum.toDouble,
        "job.driver_idle_s" -> (t1Ms - t0Ms - busy) / 1000.0,
        "job.scan_shuffle_s" -> inExtract.filter(s => s.shWrite > 0 && s.shRead == 0)
          .map(s => s.complete - s.submit).sum / 1000.0,
        "job.extract_write_s" -> exStage.map(s => (s.complete - s.submit) / 1000.0).getOrElse(0.0),
        "job.executor_run_s" -> runMs / 1000.0,
        "job.executor_cpu_s" -> cpuNs / 1e9,
        "job.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
        "job.cpu_per_run" -> (if (runMs > 0) cpuNs / 1e6 / runMs else 0.0),
        "job.shuffle_write_mb" -> stages.map(_.shWrite).sum / mb,
        "job.shuffle_read_mb" -> stages.map(_.shRead).sum / mb,
        "job.spill_mb" -> stages.map(_.spill).sum / mb,
        "job.output_mb_per_input_mb" -> stages.map(_.output).sum.toDouble / inputBytes,
        "job.task_skew" -> {
          val m = Main.median(taskRuns.map(_.toDouble))
          if (m == 0) 0.0 else taskRuns.max / m
        })

      val pipe = PipelineStages.flatMap { s =>
        val lo = bounds.takeWhile(_._1 != s).lastOption.map(_._2).getOrElse(t0Ms)
        val hi = bounds.find(_._1 == s).map(_._2)
        val js = jobs.filter(j => stageOfJob(j).contains(s)).map(_.id).toSet
        Seq(s"pipeline.stage_s.$s" -> hi.map(h => (h - lo) / 1000.0).getOrElse(0.0),
          s"pipeline.stage_shuffle_mb.$s" ->
            stages.filter(st => js.contains(stageJob(st.id))).map(_.shWrite).sum / mb) ++
          (if (s == "near") Seq("pipeline.near_jobs" -> js.size.toDouble) else Nil)
      }
      base ++ pipe
    }
}
