package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.perfbench.SparkHooks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.TableIO

final case class Metric(value: Double, unit: String)

/** What a workload hands the main loop. `op` runs one timed operation
  * and returns its phase times in seconds (key "op" is the whole op);
  * `check` verifies that op's outputs, untimed, and returns mismatches. */
trait Workload {
  def setup(): Unit
  def op(i: Int): Map[String, Double]
  def check(i: Int): Seq[String]
  /** Input documents one op processes. */
  def docsPerOp: Double
  /** Untimed ops run first to fill JIT, codegen and page caches. */
  def warmUpOps: Int = 1
  /** Workload-specific end-to-end figures over the ops that passed. */
  def details(ok: Seq[Map[String, Double]]): Map[String, Metric]
  /** Calls the traced run makes after the loop so that every layer's
    * entry points run at least once. */
  def probe(layers: Layers): Unit
  def close(): Unit = ()
}

final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val tracer: Tracer) {
  private var n = 0
  /** A fresh directory under the run's work dir. */
  def dir(name: String): String = {
    n += 1
    work.resolve(f"$name-$n%03d").toString
  }
  def span[T](name: String, module: String)(body: => T): T =
    tracer.span(name, module)(body)
  def timed[T](name: String, module: String)(body: => T): (T, Double) =
    tracer.timed(name, module)(body)

  private val recorded = mutable.Map.empty[String, ArrayBuffer[Double]]
  /** Values noted for the traced run only, such as files a read opened. */
  def counts(name: String): Seq[Double] = recorded.get(name).map(_.toSeq).getOrElse(Nil)
  private def note(name: String, v: => Double): Unit =
    if (tracer.recording) recorded.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** A forced range read; returns its seconds. */
  def timedRead(io: TableIO, tier: String, from: Long, until: Long): Double = {
    val (df, s) = timed("TableIO.readRange", "table") {
      val df = io.readRange(spark, tier, from, until).get
      Main.force(df)
      df
    }
    note("read_range.files", df.inputFiles.length)
    s
  }

  /** A compaction of `tier`; returns its seconds. */
  def compact(io: TableIO, tier: String): Double = {
    val (snap, s) = timed("TableIO.compact", "table")(io.compact(spark, tier))
    note("compact.bytes", snap.map(x => Main.treeBytes(Paths.get(io.root, x.dir))._1.toDouble).getOrElse(0.0))
    s
  }
}

object Main {

  /** Force every column of `df` with one checksum action; returns (rows,
    * checksum) — the checksum doubles as the output digest. */
  def force(df: DataFrame): (Long, Long) = {
    val r = df.select(pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*),
        lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      // a streaming trigger runs only when data lands, never beside the ops
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def treeBytes(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      var bytes = 0L; var parquet = 0L
      s.filter(f => Files.isRegularFile(f)).forEach { f =>
        bytes += Files.size(f)
        if (f.getFileName.toString.endsWith(".parquet")) parquet += 1
      }
      (bytes, parquet)
    } finally s.close()
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def json(m: Map[String, Metric]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      val x = if (v.value.isNaN || v.value.isInfinite) "null" else v.value.toString
      s""""$k": {"value": $x, "unit": "${v.unit}"}"""
    }.mkString("{", ", ", "}")

  def err(s: String): Unit = { System.err.println(s"[perfbench] $s"); System.err.flush() }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = opt.getOrElse("workload", sys.error("--workload is required"))
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val outDir = Paths.get(".bench_build", "perfbench-out")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Paths.get(".bench_build", s"perfbench-work-${ProcessHandle.current.pid}")
      .toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    val tracer = new Tracer
    val spark = session(work)
    var wl: Workload = null
    try {
      val ctx = new Ctx(spark, work, seed, tracer)
      wl = wlName match {
        case "backfill_rows" => new Backfill(ctx, Workloads.RowsShape)
        case "incremental" => new Incremental(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      val log = new JobLog
      var attempted = 0
      var failed = 0
      val ok = ArrayBuffer.empty[(Int, Map[String, Double])]
      val problems = ArrayBuffer.empty[String]
      def runOp(i: Int, record: Boolean): Option[Map[String, Double]] = {
        attempted += 1
        tracer.op = i
        tracer.recording = record
        if (record) spark.sparkContext.addSparkListener(log)
        val res =
          try {
            val jobs0 = SparkHooks.jobsSubmitted(spark.sparkContext)
            val ph = tracer.span("op", "bench")(wl.op(i)) +
              ("jobs" -> (SparkHooks.jobsSubmitted(spark.sparkContext) - jobs0).toDouble)
            // a warm-up op repeats the computation the measured ops check
            val bad = if (i > 0) wl.check(i) else Nil
            if (bad.isEmpty) Some(ph)
            else { problems ++= bad.map(b => s"op $i: $b"); None }
          } catch {
            case e: Exception =>
              problems += s"op $i threw: $e"
              None
          } finally {
            if (record) {
              SparkHooks.drainListeners(spark.sparkContext)
              spark.sparkContext.removeSparkListener(log)
            }
            tracer.recording = false
          }
        if (res.isEmpty) { failed += 1; err(s"op $i FAILED: ${problems.last}") }
        res
      }

      err(f"session ready at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
      wl.setup()
      err(f"inputs ready at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
      // warm-up ops fill JIT, codegen and page caches, untimed
      (1 to wl.warmUpOps).foreach(w => runOp(-w, record = false))
      // set-up is everything from JVM start to the first measured op: it is
      // mostly one-time JIT and Spark warm-up, which a repeat inside the
      // same process would not pay again
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      err(f"setup done in $setupS%.2f s")

      // the loop measures `seconds` of op time; checks run between ops
      var measured = 0.0
      var i = 1
      // a traced run alternates traced and untraced ops, so the tracing
      // overhead is measured inside one process
      while (measured < seconds || (traced && i <= 2)) {
        val rec = traced && i % 2 == 1
        val t0 = System.nanoTime()
        val res = runOp(i, rec)
        res.foreach(ph => ok += (i -> (ph + ("traced" -> (if (rec) 1.0 else 0.0)))))
        measured += res.map(_("op")).getOrElse((System.nanoTime() - t0) / 1e9)
        err(s"op $i: " + ok.lastOption.filter(_._1 == i).map(_._2.map { case (k, v) =>
          f"$k=$v%.3f" }.mkString(" ")).getOrElse("failed"))
        i += 1
      }

      val metrics: Map[String, Metric] = if (!traced) {
        val ops = ok.map(_._2).toSeq
        // with no passing op the run is already incorrect; report zeros
        val opS = if (ops.isEmpty) 0.0 else Stats.median(ops.map(_("op")))
        val e2e = Map(
          "setup_s" -> Metric(setupS, "s"),
          "op_s.p50" -> Metric(opS, "s"),
          "docs_per_s" -> Metric(if (ops.isEmpty) 0.0 else wl.docsPerOp / opS, "docs/s"),
          "spark_jobs_per_op" -> Metric(
            if (ops.isEmpty) 0.0 else Stats.median(ops.map(_("jobs"))), "count"))
        val det = if (ops.isEmpty) Map.empty[String, Metric] else wl.details(ops)
        println("perfbench-detail " + json(det ++ Map(
          "ops_ok" -> Metric(ops.size, "count"),
          "peak_rss_mb" -> Metric(peakRssMb, "MB"),
          "error_rate" -> Metric(failed.toDouble / attempted, "ratio"))))
        e2e
      } else {
        tracer.op = -1
        tracer.recording = true
        spark.sparkContext.addSparkListener(log)
        val layers = new Layers(ctx, log)
        try wl.probe(layers)
        catch {
          case e: Exception =>
            failed += 1; attempted += 1
            problems += s"probe threw: $e"
            err(s"probe FAILED: $e")
        }
        SparkHooks.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(log)
        val (per, summary) = layers.report(ok.toSeq)
        Files.createDirectories(outDir)
        val base = outDir.resolve(s"$wlName-seed$seed")
        Files.write(Paths.get(s"$base.spans.jsonl"),
          (tracer.jsonl.mkString("\n") + "\n").getBytes("UTF-8"))
        Files.write(Paths.get(s"$base.summary.json"), json(summary).getBytes("UTF-8"))
        println("perfbench-trace " + json(summary))
        per
      }
      val correct = failed == 0
      problems.foreach(p => err(s"PROBLEM $p"))
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${json(metrics)}}""")
      err(f"result at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
    } finally {
      if (wl != null) wl.close()
      spark.stop()
      deleteTree(work)
      err(f"stopped at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
    }
  }
}
