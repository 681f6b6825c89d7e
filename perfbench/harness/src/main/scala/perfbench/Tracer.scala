package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.Success
import org.apache.spark.graftbridge.GraftSparkBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around each call the benchmark makes into graft, recorded
  * from outside the program: the operation, the Catalyst phases of
  * every query it ran (`QueryExecution.tracker`), graft's own rules
  * (`RuleExecutor` metering, filtered to `graft.*`), and the Spark
  * jobs it started (tied to the operation by a local property on the
  * client thread), with task counters attached to the job spans.
  *
  * In a traced run every second timed operation is traced and the
  * rest are not, alternating between cycles (refreshes, batches,
  * passes), so one run yields both the per-layer split and the
  * tracing overhead on the same mix. Spans stay in memory and are
  * written out when the run ends.
  */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val queries = new ConcurrentLinkedQueue[(Long, Map[String, (Long, Long)])]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val records = mutable.ArrayBuffer[OpRec]()
  private var nextId = 0L
  private var group = -1
  private var posInGroup = 0
  private var watched: Option[Path] = None
  private var lastListing = Set.empty[String]

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
        span.foreach { s =>
          jobs.put(e.jobId, new JobRec(e.jobId, s, e.time))
          e.stageIds.foreach(stageJob.put(_, e.jobId))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
          j.synchronized {
            j.tasks += 1
            if (e.reason != Success) j.tasksFailed += 1
            val m = e.taskMetrics
            val info = e.taskInfo
            if (m != null) {
              j.runMs += m.executorRunTime
              j.cpuMs += m.executorCpuTime / 1e6
              j.gcMs += m.jvmGCTime
              j.bytesRead += m.inputMetrics.bytesRead
              j.bytesWritten += m.outputMetrics.bytesWritten
              j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
              j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
              j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
                m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
            }
            j.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += info.duration
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = queries.add(
        System.currentTimeMillis() -> qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) })
    })
  }

  /** Tracks a catalog table's directory for the write-side counters. */
  def watchTable(table: String): Unit = if (enabled) {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    watched = Some(new Path(meta.location))
    lastListing = listing().keySet
  }

  private def listing(): Map[String, Long] = watched.fold(Map.empty[String, Long]) { p =>
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val out = mutable.Map[String, Long]()
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith(".") && !n.startsWith("_")) out(f.getPath.toString) = f.getLen
    }
    out.toMap
  }

  /** Opens a span for `op` when this operation is traced; -1 otherwise. */
  def begin(op: Main.Op, phase: String): Long = {
    if (!enabled || phase != "timed") return -1L
    if (op.group != group) { group = op.group; posInGroup = 0 } else posInGroup += 1
    if (!Tracer.traced(group, posInGroup)) return -1L
    nextId += 1
    sc.setLocalProperty(SpanProp, nextId.toString)
    RuleExecutor.resetMetrics()
    nextId
  }

  def end(span: Long, op: Main.Op, startMs: Long, durMs: Double, ok: Boolean): Unit = if (span >= 0) {
    sc.setLocalProperty(SpanProp, null)
    val rules = graftRules()
    GraftSparkBridge.drainListenerBus(sc)
    val endMs = startMs + durMs
    val opSpan = Span(span, 0, op.kind, layerOf(op.kind), startMs.toDouble, endMs)
    spans += opSpan
    var childId = span * 1000
    def child(name: String, layer: String, s: Double, e: Double): Span = {
      childId += 1
      val c = Span(childId, span, name, layer, s, e)
      spans += c
      c
    }
    // Catalyst phases of every query the operation ran, including the
    // queries commands run internally
    val phaseIv = mutable.ArrayBuffer[(Double, Double)]()
    val phaseMs = mutable.Map[String, Double]().withDefaultValue(0.0)
    queries.asScala.toList.foreach { case q @ (_, ph) =>
      queries.remove(q)
      ph.foreach { case (name, (s, e)) =>
        if (s >= startMs - 1 && s <= endMs + 1) {
          child(name, "plans", s.toDouble, e.toDouble)
          phaseIv += ((s.toDouble, e.toDouble))
          phaseMs(name) += (e - s).toDouble
        }
      }
    }
    val mine = jobs.values.asScala.filter(_.span == span).toSeq.sortBy(_.id)
    mine.foreach { j =>
      jobs.remove(j.id)
      val s = child("job", "exec", j.start.toDouble, (if (j.end > 0) j.end else endMs.toLong).toDouble)
      s.attrs ++= Seq("tasks" -> j.tasks.toDouble, "executor_run_ms" -> j.runMs.toDouble,
        "executor_cpu_ms" -> j.cpuMs, "gc_ms" -> j.gcMs.toDouble, "bytes_read" -> j.bytesRead.toDouble,
        "bytes_written" -> j.bytesWritten.toDouble, "shuffle_read_bytes" -> j.shuffleRead.toDouble,
        "shuffle_write_bytes" -> j.shuffleWrite.toDouble, "spill_bytes" -> j.spill.toDouble)
    }
    val jobIv = mine.map(j => (j.start.toDouble, (if (j.end > 0) j.end else endMs.toLong).toDouble))
    val jobMs = covered(jobIv, startMs.toDouble, endMs)
    val anyMs = covered(jobIv ++ phaseIv, startMs.toDouble, endMs)
    val skews = mine.flatMap(_.taskMs.values).filter(_.length >= 2).map { ts =>
      val sorted = ts.sorted
      sorted.last.toDouble / math.max(1.0, sorted(sorted.length / 2).toDouble)
    }
    val rec = OpRec(op.id, op.kind, ok, durMs)
    rec.v ++= Seq(
      "parse_ms" -> phaseMs("parsing"), "analysis_ms" -> phaseMs("analysis"),
      "optimize_ms" -> phaseMs("optimization"), "planning_ms" -> phaseMs("planning"),
      "graft_rules_ms" -> rules._1, "graft_rule_runs" -> rules._2, "graft_rule_effective" -> rules._3,
      "jobs" -> mine.length.toDouble, "tasks" -> mine.map(_.tasks).sum.toDouble,
      "job_ms" -> jobMs, "outside_jobs_ms" -> (durMs - jobMs), "unattributed_ms" -> (durMs - anyMs),
      "scheduler_delay_ms" -> mine.map(_.schedDelayMs).sum.toDouble,
      "executor_run_ms" -> mine.map(_.runMs).sum.toDouble, "executor_cpu_ms" -> mine.map(_.cpuMs).sum,
      "gc_ms" -> mine.map(_.gcMs).sum.toDouble, "bytes_read" -> mine.map(_.bytesRead).sum.toDouble,
      "bytes_written" -> mine.map(_.bytesWritten).sum.toDouble,
      "shuffle_read_bytes" -> mine.map(_.shuffleRead).sum.toDouble,
      "shuffle_write_bytes" -> mine.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> mine.map(_.spill).sum.toDouble,
      "tasks_failed" -> mine.map(_.tasksFailed).sum.toDouble,
      "task_skew" -> (if (skews.isEmpty) 1.0 else skews.max))
    opSpan.attrs ++= rec.v
    if (watched.isDefined && op.kind != "read") {
      val now = listing()
      rec.v("files_written") = (now.keySet -- lastListing).size.toDouble
      rec.v("table_files") = now.size.toDouble
      rec.v("table_bytes") = now.values.sum.toDouble
      lastListing = now.keySet
    }
    records += rec
  }

  /** graft.* rule time (ms), runs and effective runs since the last reset. */
  private def graftRules(): (Double, Double, Double) = {
    var ms = 0.0; var runs = 0.0; var eff = 0.0
    RuleExecutor.dumpTimeSpent().split("\n").map(_.trim).filter(_.startsWith("graft.")).foreach { l =>
      // "<rule> <effective ns> / <total ns> <effective runs> / <runs>"
      val t = l.split("\\s+")
      if (t.length >= 7) { ms += t(3).toDouble / 1e6; eff += t(4).toDouble; runs += t(6).toDouble }
    }
    (ms, runs, eff)
  }

  /** Writes the spans and the per-operation records, and adds the
    * table-level counters to the run summary. */
  def finish(out: File, summary: mutable.Map[String, String]): Unit = if (enabled) {
    summary("traced_ops") = records.length.toString
    val w = new PrintWriter(new File(out, "spans.jsonl"), "UTF-8")
    try spans.foreach(s => w.println(s.json)) finally w.close()
    val r = new PrintWriter(new File(out, "traced_ops.jsonl"), "UTF-8")
    try records.foreach(x => r.println(x.json)) finally r.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Whether the operation at `pos` within cycle `group` is traced
    * (mirrored by perfbench/report.py). */
  def traced(group: Int, pos: Int): Boolean = (group + pos) % 2 == 1

  final class JobRec(val id: Int, val span: Long, val start: Long) {
    @volatile var end = -1L
    var tasks = 0; var tasksFailed = 0
    var runMs = 0L; var cpuMs = 0.0; var gcMs = 0L
    var bytesRead = 0L; var bytesWritten = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L; var schedDelayMs = 0L
    val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }

  final case class Span(id: Long, parent: Long, name: String, layer: String, start: Double, end: Double) {
    val attrs = mutable.LinkedHashMap[String, Double]()
    def json: String =
      s"""{"id":$id,"parent":$parent,"name":${Json.quote(name)},"layer":"$layer","start_ms":$start,"end_ms":$end""" +
        attrs.map { case (k, v) => s""","$k":$v""" }.mkString + "}"
  }

  final case class OpRec(id: String, kind: String, ok: Boolean, wallMs: Double) {
    val v = mutable.LinkedHashMap[String, Double]()
    def json: String = s"""{"id":${Json.quote(id)},"kind":"$kind","ok":$ok,"wall_ms":$wallMs""" +
      v.map { case (k, x) => s""","$k":$x""" }.mkString + "}"
  }

  /** The layer an operation enters first. */
  def layerOf(kind: String): String = kind match {
    case "read" => "plans"
    case "insert" => "sources"
    case _ => "operators"
  }

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).sortBy(_._1).foreach {
      case (s, e) =>
        if (curE.isNaN || s > curE) { if (!curE.isNaN) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
