package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

/** One benchmark run inside one JVM: set-up, warm-up, a timed closed
  * loop with one client thread, and the post-window snapshots.
  *
  * The inputs (tables, statements, change stream, corpus) are made by
  * `perfbench/run.py` from the seed and handed over in a spec
  * directory; this program only drives graft's public entry points
  * (`spark.sql` on a `GraftSession` session and the `Dedup`,
  * `Similarity` and `TextAnalysis` operators) and writes what it saw
  * to an output directory for the caller to check and summarise.
  *
  * Usage: Main <spec-dir> <out-dir> <seconds> <trace 0|1>
  */
object Main {

  final case class Op(id: String, kind: String, group: Int, sql: String, inputRows: Long)

  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: Main <spec-dir> <out-dir> <seconds> <trace 0|1>")
    val spec = new File(args(0))
    val out = new File(args(1))
    val seconds = args(2).toDouble
    val traced = args(3) == "1"
    val conf = readConf(new File(spec, "spec.txt"))
    val cpus = conf("cpus").toInt

    val spark = GraftSession.builder("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", conf("warehouse"))
      .config("spark.local.dir", conf("local_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val parallelism = spark.sparkContext.defaultParallelism
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val summary = mutable.LinkedHashMap[String, String](
      "parallelism" -> parallelism.toString, "session_s" -> sessionS.toString)
    if (parallelism != cpus) {
      // a run on another core count than requested measures another
      // machine: refuse instead of mislabelling it
      writeConf(new File(out, "summary.txt"), summary)
      System.err.println(s"defaultParallelism $parallelism != requested cores $cpus")
      spark.stop()
      sys.exit(3)
    }

    val tracer = new Tracer(spark, traced)
    val loop = new Loop(tracer, out)
    conf("workload") match {
      case "dashboard" => dashboard(spark, loop, spec, out, conf, seconds, summary)
      case "ingest"    => ingest(spark, loop, spec, out, conf, seconds, summary)
      case "pipeline"  => pipeline(spark, loop, out, conf, seconds, summary)
      case w           => throw new IllegalArgumentException(s"unknown workload $w")
    }
    summary("heap_live_mb") = liveHeapMb().toString
    loop.close()
    tracer.finish(out, summary)
    writeConf(new File(out, "summary.txt"), summary)
    spark.stop()
  }

  // ------------------------------------------------------------ workloads

  type Cycle = Seq[(Op, () => Array[Row])]

  /** Read-only ClickHouse-dialect SELECTs over MergeTree catalog tables.
    * A cycle is one refresh of all panels, in a fixed order; JIT and
    * Spark's code generation keep speeding up the first refreshes, so
    * three of them warm up. */
  private def dashboard(spark: SparkSession, loop: Loop, spec: File, out: File,
                        conf: Map[String, String], seconds: Double,
                        summary: mutable.Map[String, String]): Unit = {
    buildTables(spark, spec, summary)
    val refresh: Cycle = readOps(new File(spec, "ops.tsv")).map(op => op -> (() => spark.sql(op.sql).collect()))
    cycles(loop, out, Iterator.continually(refresh), warm = 3, seconds, summary)
  }

  /** A change stream through the SQL front-end, one read per batch. A
    * cycle is `cycle` batches, the first of which holds a wide UPDATE
    * and an OPTIMIZE; the stream moves on, nothing repeats. */
  private def ingest(spark: SparkSession, loop: Loop, spec: File, out: File,
                     conf: Map[String, String], seconds: Double,
                     summary: mutable.Map[String, String]): Unit = {
    buildTables(spark, spec, summary)
    val table = conf("table")
    loop.tracer.watchTable(table)
    val stream = readOps(new File(spec, "ops.tsv")).groupBy(_.group).toSeq.sortBy(_._1)
      .grouped(conf("cycle").toInt).map(_.flatMap(_._2).map(op => op -> (() => spark.sql(op.sql).collect())))
    cycles(loop, out, stream, warm = 1, seconds, summary)
    spark.table(table).write.parquet(new File(out, "final").getPath)
  }

  /** A batch curation pass: five operator stages, each materialised. A
    * cycle is one pass over the whole corpus. The first pass is cold
    * (about three times a warm one) and the second still 10-20% slower
    * than the later ones, so two passes warm up. */
  private def pipeline(spark: SparkSession, loop: Loop, out: File,
                       conf: Map[String, String], seconds: Double,
                       summary: mutable.Map[String, String]): Unit = {
    val t = Tables(spark, conf("corpus"))
    def docs = t.documents
    def docsNorm = docs.withColumn("norm", TextAnalysis.normalize(col("text")))
    val n = conf("docs").toLong
    val m = conf("vectors").toLong
    val stages: Seq[(Op, () => DataFrame)] = Seq(
      Op("exact_dedup", "exact_dedup", 0, "", n) -> (() =>
        Dedup.exact(docsNorm.withColumn("fp", md5(col("norm").cast("binary"))), "doc_id", "fp")),
      Op("minhash", "minhash", 0, "", n) -> (() =>
        Dedup.minHashLshPairs(docsNorm, "doc_id", "norm", numHashes = 64, bands = 8, minEstJaccard = 0.7)),
      Op("simhash", "simhash", 0, "", n) -> (() =>
        Dedup.simHashPairsAuto(docsNorm, "doc_id", "norm", maxHamming = 3)),
      Op("ann_lsh", "ann_lsh", 0, "", m) -> (() =>
        Similarity.lshAnnPairsAuto(t.embeddings, "vec_id", "embedding", numTables = 8, minCos = 0.4, dim = 64)),
      Op("curate", "curate", 0, "", n) -> (() =>
        TextAnalysis.curateChunks(docs, "doc_id", "text", minQuality = 0.5, chunkLen = 8, overlap = 2)
          .groupBy("shard")
          .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_chunks"),
               sum("n_tokens").as("sum_tokens"))
          .orderBy("shard")),
    )
    val pass: Cycle = stages.map { case (op, df) => op -> (() => df().collect()) }
    cycles(loop, out, Iterator.continually(pass), warm = 2, seconds, summary)
  }

  /** Runs `warm` untimed cycles, then whole timed cycles until `seconds`
    * have passed, so every window holds the same operations in the same
    * proportions. The first result of each operation is written for the
    * caller's checks; a repeated operation must reproduce it. */
  private def cycles(loop: Loop, out: File, stream: Iterator[Cycle], warm: Int, seconds: Double,
                     summary: mutable.Map[String, String]): Unit = {
    val expected = mutable.Map[String, String]()
    def run(phase: String, n: Int, cycle: Cycle): Unit = for ((op, body) <- cycle) {
      loop.run(phase, op.copy(group = n))(body()).foreach { rows =>
        expected.get(op.id) match {
          case None =>
            writeRows(new File(out, s"rows/${op.id}.jsonl"), rows)
            expected(op.id) = fingerprint(rows)
          case Some(fp) => if (fp != fingerprint(rows)) loop.mismatch(op, "result differs from its first run")
        }
      }
    }
    val warmT0 = System.nanoTime()
    for (n <- 0 until warm if stream.hasNext) run("warm", n, stream.next())
    summary("warm_s") = ((System.nanoTime() - warmT0) / 1e9).toString
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline && stream.hasNext) { run("timed", n, stream.next()); n += 1 }
    summary("cycles") = n.toString
    if (System.nanoTime() < deadline) summary("stream_exhausted") = "1"
  }

  /** Builds the workload's catalog tables (timed, untraced). */
  private def buildTables(spark: SparkSession, spec: File, summary: mutable.Map[String, String]): Unit = {
    val t0 = System.nanoTime()
    readLines(new File(spec, "setup.sql")).foreach(s => spark.sql(s).collect())
    summary("build_s") = ((System.nanoTime() - t0) / 1e9).toString
  }

  // ------------------------------------------------------------- helpers

  private def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Result identity across repeated executions. Doubles are compared
    * at 9 significant digits: Spark's float aggregates merge partial
    * sums in shuffle-arrival order, so the last bits may differ. */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(r => Json.row(r, approx = true)).sorted.foreach(s => md.update(s.getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString + ":" + rows.length
  }

  def writeRows(f: File, rows: Array[Row]): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try rows.foreach(r => w.println(Json.row(r, approx = false))) finally w.close()
  }

  def readLines(f: File): Seq[String] =
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)

  def readConf(f: File): Map[String, String] =
    readLines(f).map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }.toMap

  def writeConf(f: File, kv: collection.Map[String, String]): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, kv.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }

  private def readOps(f: File): Seq[Op] = readLines(f).map { l =>
    val Array(id, kind, group, rows, sql) = l.split("\t", 5)
    Op(id, kind, group.toInt, sql, rows.toLong)
  }
}

/** Runs one operation at a time, timing it and counting failures.
  * A throw is recorded with its class and message, is left out of
  * the latency record, and counts as a failed attempt. */
final class Loop(val tracer: Tracer, out: File) {
  private val log = { out.mkdirs(); new PrintWriter(new File(out, "ops.tsv"), "UTF-8") }

  def run[T](phase: String, op: Main.Op)(body: => T): Option[T] = {
    val span = tracer.begin(op, phase)
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val result = try Right(body) catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
    val durMs = (System.nanoTime() - t0) / 1e6
    tracer.end(span, op, startMs, durMs, result.isRight)
    val (ok, info) = result match {
      case Right(_) => ("1", "")
      case Left(e)  => ("0", (e.getClass.getName + ": " + String.valueOf(e.getMessage)).replaceAll("\\s+", " ").take(300))
    }
    log.println(Seq(phase, op.id, op.kind, op.group, op.inputRows, startMs, durMs, ok, info).mkString("\t"))
    result.toOption
  }

  def mismatch(op: Main.Op, why: String): Unit =
    log.println(Seq("mismatch", op.id, op.kind, op.group, 0, System.currentTimeMillis(), 0, 0, why).mkString("\t"))

  def close(): Unit = log.close()
}

/** Minimal JSON rendering of result rows, for the caller's checks. */
object Json {
  private val ts = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append("\\u%04x".format(c.toInt))
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any, approx: Boolean): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Array[Byte] => quote(b.map("%02x".format(_)).mkString)
    case d: Double => if (d.isNaN || d.isInfinite) quote(d.toString) else if (approx) "%.9g".format(d) else d.toString
    case f: Float => value(f.toDouble, approx)
    case b: Boolean => b.toString
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case t: java.sql.Timestamp => quote(t.toLocalDateTime.format(ts))
    case d: java.sql.Date => quote(d.toString)
    case r: Row => row(r, approx)
    case s: scala.collection.Seq[_] => s.map(value(_, approx)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(String.valueOf(k)) + ":" + value(x, approx) }.sorted.mkString("{", ",", "}")
    case other => quote(other.toString)
  }

  def row(r: Row, approx: Boolean): String = r.toSeq.map(value(_, approx)).mkString("[", ",", "]")
}
