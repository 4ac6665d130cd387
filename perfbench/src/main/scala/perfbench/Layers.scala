package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.FeatureEngine
import graft.codec.{DeltaOfDelta, Gorilla}
import graft.engine.TokenRollup
import graft.functions.token_partials
import graft.streaming.StreamingRollup
import graft.table.TableIO

import Main.force
import Workloads._

/** The traced run's per-layer measurements. Probes time one layer at a
  * time from outside; `metrics` turns the recorded spans and Spark jobs
  * into the per-layer figures. */
final class Layers(ctx: Ctx, log: JobLog) {
  private val spark = ctx.spark
  private val direct = mutable.Map.empty[String, Metric]

  /** Per-layer metric names, in report order. */
  val Names: Seq[String] =
    Feats.map(f => s"core.$f.ns_per_sample") ++ Seq(
      "functions.extract.rows_per_s", "functions.token_partials.tokens_per_s",
      "codec.gorilla.encode_ns_per_point", "codec.gorilla.decode_ns_per_point",
      "codec.dod.encode_ns_per_point", "codec.chunk_bytes_per_point",
      "engine.merge_1m.s", "engine.cascade_1h.s", "engine.cascade_1d.s",
      "engine.finalize.s", "engine.merge_1m.shuffle_bytes",
      "engine.merge_1m.spill_bytes", "engine.merge_1m.task_skew",
      "engine.rollup_job.s", "engine.rollup_job.jobs", "engine.rollup_job.stages",
      "engine.rollup_job.driver_s",
      "table.read_range.s", "table.read_range.jobs", "table.read_range.files",
      "table.read_chunks.s", "table.commit.jobs", "table.commit.busy_s",
      "table.compact.s", "table.compact.bytes_rewritten", "table.snapshots",
      "table.data_files", "table.bytes",
      "streaming.trigger.s", "streaming.trigger.jobs", "streaming.state_rows",
      "streaming.state_bytes") ++
      Prep.Ops.flatMap(o => Seq(s"operators.$o.s", s"operators.$o.jobs")) ++
      Seq("spark.jobs", "spark.stages", "spark.shuffle_bytes", "spark.spill_bytes",
        "spark.gc_s", "spark.task_busy_s", "trace.overhead_share")

  /** Mean ns per call of `f`, repeated until `minS` seconds have passed. */
  private def nsPer(units: Long, minS: Double = 0.15)(f: => Unit): Double = {
    f // warm
    var reps = 0L
    val t0 = System.nanoTime()
    while (reps == 0 || System.nanoTime() - t0 < minS * 1e9) { f; reps += 1 }
    (System.nanoTime() - t0).toDouble / (reps * units)
  }

  /** Kernels on long-doc arrays (every feature's minimum length is met);
    * expressions, tier engine and codec over the workload's `tokens`. */
  def kernels(tokens: DataFrame): Unit = {
    val r = Rng.at(ctx.seed, 11, 0)
    val xs = Seq.fill(64)(Gen.dequantize(
      Gen.tokenDoc(LongShape, ctx.seed, r.nextInt(LongShape.nDocs)).tokens))
    val samples = xs.map(_.length.toLong).sum
    Feats.foreach { f =>
      var sink = 0.0
      val ns = ctx.span(s"core.$f", "core")(nsPer(samples) {
        xs.foreach(x => sink += coreFeature(f, x).getOrElse(0.0))
      })
      direct(s"core.$f.ns_per_sample") = Metric(ns, "ns/sample")
    }

    val mem = tokens.select("doc_id", "tokens", "n_tok", "source", "event_time").persist()
    try {
      val (rows, toks) = {
        val h = mem.agg(count(lit(1)), sum(col("n_tok").cast("long"))).head()
        (h.getLong(0).toDouble, h.getLong(1).toDouble)
      }
      def best2(name: String)(df: => DataFrame): Double =
        (1 to 2).map(_ => ctx.timed(name, "functions")(force(df))._2).min
      val exS = best2("functions.extract")(
        FeatureEngine.extract(mem, "tokens", Feats, base = Params, keep = Seq("doc_id")))
      direct("functions.extract.rows_per_s") = Metric(rows / exS, "rows/s")
      val tpS = best2("functions.token_partials")(
        mem.select(token_partials(col("tokens"), Gen.Scale).as("P")))
      direct("functions.token_partials.tokens_per_s") = Metric(toks / tpS, "tokens/s")

      val states = TokenRollup.rowStates(mem, Gen.Scale).persist()
      states.count()
      val m1 = TokenRollup.mergeToBuckets(states, "1 minute", Seq("event_time", "doc_id")).persist()
      ctx.span("engine.merge_1m", "engine")(m1.count())
      val h1 = TokenRollup.cascade(m1, "1 hour").persist()
      ctx.span("engine.cascade_1h", "engine")(h1.count())
      ctx.span("engine.cascade_1d", "engine")(force(TokenRollup.cascade(h1, "1 day")))
      val fin = TokenRollup.finalizeFeatures(m1)
      ctx.span("engine.finalize", "engine")(force(fin))

      val pts = fin.select(col("source") +: unix_timestamp(col("bucket")).as("t") +:
          ChunkFeats.map(col): _*)
        .collect().groupBy(_.getString(0)).values.map(_.sortBy(_.getLong(1))).toSeq
      val ts = pts.map(_.map(_.getLong(1)))
      val series = pts.flatMap(p => ChunkFeats.indices.map(k => p.map(_.getDouble(k + 2))))
      val n = pts.map(_.length.toLong).sum
      val enc = series.map(Gorilla.encode)
      direct("codec.gorilla.encode_ns_per_point") = Metric(
        ctx.span("codec.gorilla.encode", "codec")(nsPer(n * ChunkFeats.size)(series.foreach(Gorilla.encode))),
        "ns/point")
      direct("codec.gorilla.decode_ns_per_point") = Metric(
        ctx.span("codec.gorilla.decode", "codec")(nsPer(n * ChunkFeats.size)(enc.foreach(Gorilla.decode))),
        "ns/point")
      direct("codec.dod.encode_ns_per_point") = Metric(
        ctx.span("codec.dod.encode", "codec")(nsPer(n)(ts.foreach(DeltaOfDelta.encode))),
        "ns/point")
      direct("codec.chunk_bytes_per_point") = Metric(
        (enc.map(_.length.toLong).sum + ts.map(DeltaOfDelta.encode(_).length.toLong).sum).toDouble / n,
        "B/point")
      Seq(h1, m1, states).foreach(_.unpersist(blocking = true))
    } finally mem.unpersist(blocking = true)
  }

  /** Range reads, a chunk read and a compaction on a finished table. */
  def tableReads(root: String): Unit = {
    val io = new TableIO(root)
    val buckets = io.doneBuckets("1h").toSeq.sorted
    buckets.indices.reverse.take(3).foreach { k =>
      ctx.timedRead(io, "1h", buckets(k), buckets.last + Gen.DayS)
    }
    ctx.span("TableIO.readChunkPoints", "table")(force(io.readChunkPoints(spark, "1m").get))
    ctx.compact(io, "1h")
    tableState(root)
  }

  def tableState(root: String): Unit = {
    val (bytes, files) = Main.treeBytes(Paths.get(root))
    direct("table.snapshots") = Metric(new TableIO(root).snapshots().size, "count")
    direct("table.data_files") = Metric(files, "count")
    direct("table.bytes") = Metric(bytes, "B")
  }

  /** One AvailableNow trigger of the diff tier over two sources of `tokens`. */
  def streamingOnce(tokens: DataFrame): Unit = {
    val dir = ctx.dir("probe-stream")
    tokens.where(col("source").isin("s0", "s1")).write.parquet(dir)
    val q = StreamingRollup.startOnceDiff(spark, dir, "1 minute", "10 minutes", Gen.Scale,
      "perfbench_probe")
    ctx.span("StreamingQuery.processAllAvailable", "streaming")(q.awaitTermination())
    streamingState(q)
  }

  def streamingState(q: StreamingQuery): Unit = {
    val st = q.recentProgress.reverseIterator.flatMap(_.stateOperators.headOption)
      .toSeq.headOption
    direct("streaming.state_rows") = Metric(st.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    direct("streaming.state_bytes") = Metric(st.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "B")
  }

  /** One pass of the prep pipeline on a small corpus. */
  def operators(): Unit =
    Prep.pipeline(ctx, Gen.writePrep(spark, PrepShape, ctx.seed, ctx.dir("probe-prep")))

  // ---- aggregation -------------------------------------------------------

  /** Job id -> module; a job with no graft frame belongs to the innermost
    * span around its start. */
  private def resolvedModules(jobs: Seq[JobRec]): Map[Int, String] = {
    val spans = ctx.tracer.spans.toSeq
    jobs.map { j =>
      j.id -> (if (j.module != "bench") j.module
        else spans.filter(s => j.start >= s.start && j.start <= s.end)
          .sortBy(s => -s.start).headOption.map(_.module).getOrElse("bench"))
    }.toMap
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Per-layer metrics, and a summary: self time and Spark busy time per
    * module per traced op, and how module busy time plus driver time
    * accounts for the RollupJob.run span. */
  def report(ok: Seq[(Int, Map[String, Double])]): (Map[String, Metric], Map[String, Metric]) = {
    val (jobs, stages) = log.snapshot
    val spans = ctx.tracer.spans.toSeq
    def in(s: Span)(j: JobRec) = j.start >= s.start && j.start <= s.end
    val mod = resolvedModules(jobs)
    def named(n: String) = spans.filter(_.name == n)
    def jobsIn(s: Span) = jobs.filter(in(s))
    def stagesOf(js: Seq[JobRec]) = js.flatMap(_.stages).distinct.flatMap(stages.get)
    def secs(n: String) = med(named(n).map(_.dur / 1000))
    def nJobs(n: String, m: String => Boolean = _ => true) =
      med(named(n).map(s => jobsIn(s).count(j => m(mod(j.id))).toDouble))
    def busy(s: Span, m: String => Boolean) =
      Stats.covered(jobsIn(s).filter(j => m(mod(j.id))).map(j => (j.start, j.end)), s.start, s.end)

    val merge = named("engine.merge_1m").flatMap(jobsIn)
    val mergeStages = stagesOf(merge)
    val post = mergeStages.filter(_.shuffleRead > 0).sortBy(-_.shuffleRead).headOption
    val skew = post.map(p => p.taskMs.max.toDouble / Stats.median(p.taskMs.map(_.toDouble)))

    // streaming micro-batches may run beside a resume; they are not its work
    val rj = named("RollupJob.run")
    val notStreaming = (m: String) => m != "streaming"
    val driver = rj.map(s => (s.dur - busy(s, notStreaming)) / 1000)
    val rjModules = rj.flatMap(s => jobsIn(s).map(j => mod(j.id))).filter(notStreaming).distinct
    val rjBusy = rjModules.map(m => m -> med(rj.map(s => busy(s, _ == m) / 1000))).toMap

    val traced = ok.filter(_._2("traced") == 1.0).map(_._1).toSet
    val opSpans = spans.filter(s => s.name == "op" && traced.contains(s.op))
    def perOp(f: Seq[StageRec] => Double) = med(opSpans.map(s => f(stagesOf(jobsIn(s)))))
    val tOps = ok.filter(_._2("traced") == 1.0).map(_._2("op"))
    val uOps = ok.filter(_._2("traced") == 0.0).map(_._2("op"))

    val derived = Map(
      "engine.merge_1m.shuffle_bytes" -> Metric(mergeStages.map(_.shuffleWrite).sum, "B"),
      "engine.merge_1m.spill_bytes" -> Metric(mergeStages.map(_.spill).sum, "B"),
      "engine.merge_1m.task_skew" -> Metric(skew.getOrElse(1.0), "ratio"),
      "engine.merge_1m.s" -> Metric(secs("engine.merge_1m"), "s"),
      "engine.cascade_1h.s" -> Metric(secs("engine.cascade_1h"), "s"),
      "engine.cascade_1d.s" -> Metric(secs("engine.cascade_1d"), "s"),
      "engine.finalize.s" -> Metric(secs("engine.finalize"), "s"),
      "engine.rollup_job.s" -> Metric(secs("RollupJob.run"), "s"),
      "engine.rollup_job.jobs" -> Metric(nJobs("RollupJob.run", notStreaming), "count"),
      "engine.rollup_job.stages" -> Metric(med(rj.map(s =>
        stagesOf(jobsIn(s).filter(j => notStreaming(mod(j.id)))).size.toDouble)), "count"),
      "engine.rollup_job.driver_s" -> Metric(med(driver), "s"),
      "table.read_range.s" -> Metric(secs("TableIO.readRange"), "s"),
      "table.read_range.jobs" -> Metric(nJobs("TableIO.readRange"), "count"),
      "table.read_range.files" -> Metric(med(ctx.counts("read_range.files")), "count"),
      "table.read_chunks.s" -> Metric(secs("TableIO.readChunkPoints"), "s"),
      "table.commit.jobs" -> Metric(nJobs("RollupJob.run", _ == "table"), "count"),
      "table.commit.busy_s" -> Metric(rjBusy.getOrElse("table", 0.0), "s"),
      "table.compact.s" -> Metric(secs("TableIO.compact"), "s"),
      "table.compact.bytes_rewritten" -> Metric(med(ctx.counts("compact.bytes")), "B"),
      "streaming.trigger.s" -> Metric(secs("StreamingQuery.processAllAvailable"), "s"),
      "streaming.trigger.jobs" -> Metric(nJobs("StreamingQuery.processAllAvailable", _ == "streaming"), "count"),
      "spark.jobs" -> Metric(med(opSpans.map(s => jobsIn(s).size.toDouble)), "count"),
      "spark.stages" -> Metric(perOp(_.size.toDouble), "count"),
      "spark.shuffle_bytes" -> Metric(perOp(_.map(_.shuffleWrite).sum.toDouble), "B"),
      "spark.spill_bytes" -> Metric(perOp(_.map(_.spill).sum.toDouble), "B"),
      "spark.gc_s" -> Metric(perOp(_.map(_.gcMs).sum / 1000.0), "s"),
      "spark.task_busy_s" -> Metric(perOp(_.map(_.runMs).sum / 1000.0), "s"),
      "trace.overhead_share" -> Metric(
        if (tOps.isEmpty || uOps.isEmpty) 0.0 else Stats.median(tOps) / Stats.median(uOps) - 1, "ratio")
    ) ++ Prep.Ops.flatMap(o => Seq(
      s"operators.$o.s" -> Metric(secs(s"operators.$o"), "s"),
      s"operators.$o.jobs" -> Metric(nJobs(s"operators.$o"), "count")))
    val all = direct.toMap ++ derived
    val perLayer = Names.map(n => n -> all(n)).toMap

    val n = math.max(traced.size, 1).toDouble
    val loop = new Tracer
    loop.spans ++= spans.filter(s => traced.contains(s.op))
    val self = loop.selfTime.map { case (m, v) => s"self_s.$m" -> Metric(v / n, "s") }
    val moduleBusy = jobs.filter(j => opSpans.exists(s => in(s)(j)))
      .groupBy(j => mod(j.id)).map { case (m, js) =>
        s"busy_s.$m" -> Metric(Stats.covered(js.map(j => (j.start, j.end)), Double.MinValue,
          Double.MaxValue) / 1000 / n, "s")
      }
    val rollup = rjBusy.map { case (m, v) => s"rollup_job.busy_s.$m" -> Metric(v, "s") } ++ Map(
      "rollup_job.span_s" -> Metric(secs("RollupJob.run"), "s"),
      "rollup_job.driver_s" -> Metric(med(driver), "s"),
      // above 1 where modules' jobs overlap (the lineage collect runs
      // beside the commit write); below 1 would mean unattributed time
      "rollup_job.accounted_share" -> Metric(med(rj.map { s =>
        (rjModules.map(m => busy(s, _ == m)).sum + s.dur - busy(s, notStreaming)) / s.dur
      }), "ratio"))
    val summary = self ++ moduleBusy ++ rollup ++ Map(
      "ops_traced" -> Metric(traced.size, "count"),
      "ops_untraced" -> Metric(ok.size - traced.size, "count"),
      "trace.overhead_share" -> derived("trace.overhead_share"))
    (perLayer, summary)
  }
}
