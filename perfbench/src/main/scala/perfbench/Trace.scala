package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed call from the benchmark into a module. Times are epoch ms. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      module: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans around the benchmark's calls into graft. They are kept in memory
  * and written as JSONL once the run ends; nothing inside the program is
  * instrumented. Timing is always on (ops need their phase times); spans
  * are only kept when `recording` is set. */
final class Tracer {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  @volatile var recording = false
  var op: Int = -1
  private var nextId = 0
  private var stack: List[Int] = Nil
  val spans = ArrayBuffer.empty[Span]

  /** Run `body` as span `name` of `module`; returns its value and seconds. */
  def timed[T](name: String, module: String)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val s = nowMs
    try {
      val v = body
      (v, (nowMs - s) / 1000)
    } finally {
      stack = stack.tail
      if (recording) spans += Span(id, parent, op, name, module, s, nowMs)
    }
  }

  def span[T](name: String, module: String)(body: => T): T =
    timed(name, module)(body)._1

  def jsonl: Iterator[String] = spans.iterator.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      f""""module":"${s.module}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
  }

  /** Self time per module: each span's duration minus the part of it that
    * its child spans cover. */
  def selfTime: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)).toSeq
      s.module -> (s.dur - Stats.covered(c, s.start, s.end))
    }.groupMapReduce(_._1)(_._2)(_ + _).map { case (m, v) => m -> v / 1000 }
  }
}

final case class JobRec(id: Int, module: String, start: Double, end: Double,
                        stages: Seq[Int])
final case class StageRec(id: Int, runMs: Long, gcMs: Long, shuffleWrite: Long,
                          shuffleRead: Long, spill: Long, taskMs: Seq[Long])

/** SparkListener registered by the benchmark: job intervals attributed to
  * a graft module by the first `graft.*` frame of the call site, plus the
  * per-stage task metrics. */
final class JobLog extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.Map.empty[Int, StageRec]
  private val open = scala.collection.mutable.Map.empty[Int, (String, Double, Seq[Int])]
  private val taskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val execModule = scala.collection.mutable.Map.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val streaming = Option(e.properties)
      .exists(_.getProperty("sql.streaming.queryId") != null)
    // AQE submits stage jobs from a pool thread, whose call site has no
    // user frame; those take the module of the SQL execution they serve
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execModule.get(id.toLong))
    val module = if (streaming) "streaming"
      else JobLog.moduleOf(e.stageInfos.map(_.details)) match {
        case "bench" => exec.getOrElse("bench")
        case m => m
      }
    open(e.jobId) = (module, e.time.toDouble, e.stageIds)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execModule(x.executionId) = JobLog.moduleOf(Seq(x.details))
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (m, s, st) =>
      jobs += JobRec(e.jobId, m, s, e.time.toDouble, st)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages(i.stageId) = StageRec(i.stageId, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      taskMs.remove(i.stageId).map(_.toSeq).getOrElse(Nil))
  }

  def snapshot: (Seq[JobRec], Map[Int, StageRec]) = synchronized {
    (jobs.toSeq, stages.toMap)
  }
}

object JobLog {
  /** Module of the first `graft.*` frame: `graft.engine.RollupJob$.run`
    * -> "engine"; a top-level class such as `graft.FeatureEngine` ->
    * "graft"; no graft frame -> "bench" (the benchmark's own actions). */
  def moduleOf(details: Seq[String]): String =
    details.iterator.flatMap(_.linesIterator).map(_.trim)
      .find(_.startsWith("graft."))
      .map { f =>
        val seg = f.stripPrefix("graft.").takeWhile(c => c != '.' && c != '(')
        if (seg.nonEmpty && seg.head.isLower) seg else "graft"
      }.getOrElse("bench")
}
