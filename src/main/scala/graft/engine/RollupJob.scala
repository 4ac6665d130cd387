package graft.engine

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService,
  Executors, Future => JFuture, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{dod_encode, gorilla_encode}
import graft.table.TableIO

/** The spark-submit entry for the tiered rollup: token table in, per-tier
  * feature points + Gorilla/DoD-compressed chunks out, with manifest
  * commits per (tier, day-bucket) enabling checkpoint-resumable
  * incremental re-aggregation.
  *
  * - Commit unit = UTC day; resume = days absent from the manifest
  *   (idempotent: immutable snapshot dirs + last-commit-wins).
  * - Every tier row stores BOTH the finalized features and the mergeable
  *   state struct `P`, so a coarser tier cascades from finer states
  *   without touching raw data — the incremental re-aggregation the
  *   north rule asks for.
  * - Stage, then publish. A run first builds every tier's fresh
  *   bucket-states (tier T+1 cascades from tier T's persisted fresh
  *   states; only days already committed at T are read back from the
  *   table), then stages all tiers' feature writes, chunk writes and
  *   lineage collects concurrently (a tier's collect fills its cache
  *   before its writes and the coarser tier's collect read it), then
  *   publishes them in manifest order: per tier features -> lineage ->
  *   chunks, tiers finest first.
  *   In that order a crash can at worst duplicate lineage on the re-run,
  *   never leave a done day without lineage rows; a failed staging
  *   publishes nothing. The run holds the table's commit lock
  *   throughout, so writers on the same root serialize.
  * - Lineage rows per (tier, day): rows/tokens in, points out, checksum.
  * - Compressed chunks: per (source, day) the bucket timestamps are
  *   delta-of-delta coded and each feature series Gorilla-coded.
  */
object RollupJob {

  final case class Conf(
      tableRoot: String,
      scale: Double = 1.0 / (1 << 24),
      tiers: Seq[(String, String)] = Rollup.Tiers,
      chunkFeatures: Seq[String] = Seq("mean", "variance", "line_length",
        "hjorth_mobility", "hjorth_complexity"),
      jobId: String = "rollup",
      // cascading retention: tier -> horizon seconds behind the newest
      // committed day; day buckets older than (max day - horizon) expire
      // (tombstone + vacuum) AFTER the full cascade committed, so every
      // coarser tier already holds the expired range
      retention: Map[String, Long] = Map.empty,
      manifestCheckpointEvery: Int = 16)

  final case class TierResult(tier: String, newDays: Seq[Long], points: Long)

  // UTC-day truncation from the epoch directly — NOT date_trunc('day'),
  // which follows spark.sql.session.timeZone: a non-UTC caller would get
  // day buckets misaligned with window('1 day')'s UTC-epoch alignment,
  // committing day D's data under bucket D-1 and breaking resume. run()
  // is the public API; only main() and the tests pin the session to UTC.
  private def dayOf(c: org.apache.spark.sql.Column) =
    floor(unix_timestamp(c) / 86400L).cast("long") * 86400L

  private val StateCols = Seq("source", "bucket", "P", "rows_in", "tokens_in").map(col)

  /** One tier's pending days and their fresh bucket-states (None when
    * nothing is pending). */
  private final case class TierPlan(tier: String, pending: Seq[Long],
                                    states: Option[DataFrame])

  /** Spark actions run concurrently, each on its own pool thread under
    * one job group. `awaitAll` returns once all succeeded; on the first
    * failure it cancels the group (and any job the group submits later),
    * gives the siblings a bounded time to unwind, and rethrows. */
  private final class Concurrently(sc: SparkContext, group: String) {
    private val pool = Executors.newCachedThreadPool()
    private val done = new ExecutorCompletionService[Any](pool)
    private var submitted = 0

    def apply[T](body: => T): JFuture[T] = {
      submitted += 1
      done.submit(new Callable[Any] {
        def call(): Any = {
          sc.setJobGroup(group, group)
          try body finally sc.clearJobGroup()
        }
      }).asInstanceOf[JFuture[T]]
    }

    /** `body`, started once `dep` has succeeded; a failed `dep` fails this
      * action with the same cause. */
    def after[T](dep: Option[JFuture[_]])(body: => T): JFuture[T] = apply {
      dep.foreach(d => try d.get() catch { case e: ExecutionException => throw e.getCause })
      body
    }

    def awaitAll(): Unit = try {
      var left = submitted
      while (left > 0) {
        val f = done.take()
        left -= 1
        try f.get()
        catch {
          case e: ExecutionException =>
            sc.cancelJobGroupAndFutureJobs(group)
            // cancelled jobs end promptly; the bound only guards a sibling
            // stuck outside Spark (a footer read)
            val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
            while (left > 0 &&
              done.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS) != null)
              left -= 1
            throw e.getCause
        }
      }
    } finally pool.shutdownNow()
  }

  /** Run (or resume) the full cascade. */
  def run(spark: SparkSession, tokens: DataFrame, conf: Conf): Seq[TierResult] = {
    val io = new TableIO(conf.tableRoot, conf.manifestCheckpointEvery)
    // every persist() this run makes is released before returning —
    // repeated run() calls on one session (the resume pattern) otherwise
    // accumulate dead cached blocks for the session's lifetime
    val cachedFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persisted(df: DataFrame): DataFrame = {
      val p = df.persist()
      cachedFrames += p
      p
    }
    try io.locked {
      val allDays = tokens.select(dayOf(col("event_time")).as("d"))
        .distinct().collect().map(_.getLong(0)).sorted.toSeq
      lazy val states = persisted(TokenRollup.rowStates(tokens, conf.scale)
        .withColumn("day", dayOf(col("event_time"))))

      // 1. every tier's fresh bucket-states, before anything is published
      val plans = conf.tiers.foldLeft(Vector.empty[TierPlan]) {
        case (acc, (tierName, win)) =>
          // A day is done only when BOTH of its commits landed (features,
          // then chunks). A crash between the two leaves the day pending,
          // so the resume re-runs it — the feature re-commit is
          // last-commit-wins on the same bucket, keeping the documented
          // idempotence contract.
          val done = io.doneBuckets(tierName)
            .intersect(io.doneBuckets(s"$tierName-chunks"))
          val pending = allDays.filterNot(done.contains)
          // the finer tier's states for these days: its fresh states where
          // it is pending too, else (crash repair: done at the finer tier,
          // pending here) its committed rows, read manifest-pruned
          val finer = acc.lastOption.flatMap { f =>
            val (shared, repair) = pending.partition(f.pending.contains)
            val fresh = if (shared.isEmpty) None else f.states.map(
              _.where(dayOf(col("bucket")).isin(shared: _*)).select(StateCols: _*))
            val committed = if (repair.isEmpty) None else
              io.readRange(spark, f.tier, repair.min, repair.max + 1).map(
                _.where(col("commit_bucket").isin(repair: _*)).select(StateCols: _*))
            (fresh ++ committed).reduceOption(_ unionByName _)
          }
          acc :+ TierPlan(tierName, pending, if (pending.isEmpty) None else Some(
            persisted(finer match {
              case Some(fs) => TokenRollup.cascade(fs, win)
              // no finer input at all (first tier, or nothing visible)
              case None =>
                TokenRollup.mergeToBuckets(states.where(col("day").isin(pending: _*)),
                  win, Seq("event_time", "doc_id"))
            })))
      }

      // 2. stage every tier's lineage and writes concurrently, in a fixed
      // pipeline: a tier's lineage collect is the first action over its
      // persisted states and starts only after the finer tier's collect
      // has filled that tier's cache; its two writes start after it. So
      // each cache is computed by one job, never by racing consumers, and
      // a tier's writes overlap the coarser tiers' collects.
      val group = s"graft-rollup-${conf.jobId}-${java.util.UUID.randomUUID()}"
      val stage = new Concurrently(spark.sparkContext, group)
      var finerLineage: Option[JFuture[_]] = None
      val staged = plans.map(p => p.states.map { bucketStates =>
        val feats = TokenRollup.finalizeFeatures(bucketStates)
          .withColumn("commit_bucket", dayOf(col("bucket")))
        val lineage = stage.after(finerLineage)(feats.groupBy(col("commit_bucket"))
          .agg(count(lit(1)).as("points"), sum("tokens_in").as("tokens"),
            sum(hash(col("source"), col("bucket"),
              graft.functions.duckRound(col("mean"), 9)).cast("long")).as("chk"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2), r.getLong(3).toHexString))
          .toSeq)
        finerLineage = Some(lineage)
        // One file per write task. The rebalance sizes the files (AQE
        // coalesces toward advisoryPartitionSizeInBytes): a metadata-sized
        // tier lands as one file, the 1m tier at scale as size-targeted
        // files, not a sliver per upstream task. The sorts keep each
        // source's rows contiguous, so parquet min/max prune on `source`.
        val featsW = stage.after(Some(lineage))(io.stage(p.tier,
          feats.hint("rebalance", "source").sortWithinPartitions("source", "bucket")))
        val ordered = feats
          .withColumn("bs", unix_timestamp(col("bucket")))
          .groupBy(col("source"), col("commit_bucket"))
          .agg(sort_array(collect_list(struct((Seq("bs") ++ conf.chunkFeatures)
            .map(col): _*))).as("pts"))
        val chunks = ordered.select(
          Seq(col("source"), col("commit_bucket"), size(col("pts")).as("n_points"),
            dod_encode(col("pts.bs")).as("ts_dod")) ++
            conf.chunkFeatures.map(c =>
              gorilla_encode(col(s"pts.$c")).as(s"${c}_gor")): _*)
        val chunksW = stage.after(Some(lineage))(io.stage(s"${p.tier}-chunks",
          chunks.sortWithinPartitions("source", "commit_bucket")))
        (featsW, lineage, chunksW)
      })
      stage.awaitAll()

      // 3. publish in manifest order
      val results = plans.zip(staged).map { case (p, writes) =>
        writes.fold(TierResult(p.tier, Nil, 0)) {
          case (featsW, lineage, chunksW) =>
            io.publish(featsW.get(), p.pending, conf.jobId)
            io.appendLineage(conf.jobId, p.tier, lineage.get())
            io.publish(chunksW.get(), p.pending, conf.jobId)
            // tier point count = the lineage rows' points summed
            TierResult(p.tier, p.pending, lineage.get().map(_._2).sum)
        }
      }

      // Retention. The cascade above guarantees coarser coverage only for
      // days in THIS run's input — doneBuckets can hold older days whose
      // coarser commits crashed in a previous run and whose data never
      // reappeared in an input since. Expiring such a day would vacuum the
      // only source a future 1d repair could cascade from (silent loss), so
      // the cutoff is clamped to the coarser tiers' covered prefix: a fine
      // day expires only when every coarser tier (features AND chunks) has
      // it committed.
      conf.retention.foreach { case (tierName, horizon) =>
        val days = io.doneBuckets(tierName)
        val coarser = conf.tiers.map(_._1).dropWhile(_ != tierName).drop(1)
        if (days.nonEmpty) {
          val covered = coarser.foldLeft(days) { (acc, t) =>
            acc.intersect(io.doneBuckets(t))
              .intersect(io.doneBuckets(s"$t-chunks"))
          }
          val uncovered = days.diff(covered)
          val cutoff = math.min(days.max - horizon,
            uncovered.minOption.getOrElse(Long.MaxValue))
          io.expire(tierName, cutoff)
          io.expire(s"$tierName-chunks", cutoff)
        }
      }
      results
    } finally cachedFrames.foreach(_.unpersist(blocking = false))
  }

  def main(args: Array[String]): Unit = {
    val inPath = args.lift(0).getOrElse("/tmp/graft_tokens")
    val root = args.lift(1).getOrElse("/tmp/graft_table")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tokens = spark.read.parquet(inPath)
    val res = run(spark, tokens, Conf(tableRoot = root))
    res.foreach(r => println(s"[rollup] tier=${r.tier} newDays=${r.newDays.size} points=${r.points}"))
    spark.stop()
  }
}
