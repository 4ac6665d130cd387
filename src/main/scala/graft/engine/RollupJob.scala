package graft.engine

import java.util.concurrent.TimeUnit

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
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
  * - One ordered pass builds every tier (TierFold). Each pending day
  *   enters at its finest pending tier: as row states, or (crash repair:
  *   done at the finer tier, pending here) as its committed finer-tier
  *   states read back from the table. One hash exchange on (source, day)
  *   and one sort feed one `mapPartitions` fold that emits the 1m, 1h and
  *   1d states together; no bucket is cut, so nothing is rebuilt, cached
  *   or collected, and the kernel runs once per row, in the exchange's
  *   map stage.
  * - Stage, then publish. The fold's states are finalized once, into one
  *   frame of every pending tier, which the features write consumes
  *   directly (partitioned by tier, see TableIO); its lineage is an
  *   `Observation` on that write, so it costs no job of its own. The
  *   chunks write then encodes from the features write's staged files.
  *   Then each tier is published in manifest order: per tier features ->
  *   lineage -> chunks, tiers finest first.
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

  /** The lineage of every (tier, day) in one pass: a keyed sum of points
    * out, tokens in and the order-free checksum sum(hash(source, bucket,
    * duckRound(mean, 9))). An `Observation` does not group, so the key
    * lives in the buffer; it holds one entry per (tier, day) of the run. */
  private object LineageSums extends Aggregator[(String, Long, Long, Long),
      Map[(String, Long), (Long, Long, Long)], Map[(String, Long), (Long, Long, Long)]] {
    private type Sums = Map[(String, Long), (Long, Long, Long)]
    val inputEncoder: Encoder[(String, Long, Long, Long)] = Encoders.tuple(
      Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    def zero: Sums = Map.empty
    def reduce(b: Sums, in: (String, Long, Long, Long)): Sums =
      add(b, (in._1, in._2), (1L, in._3, in._4))
    def merge(a: Sums, b: Sums): Sums = b.foldLeft(a) { case (m, (k, v)) => add(m, k, v) }
    private def add(m: Sums, k: (String, Long), v: (Long, Long, Long)): Sums =
      m.updated(k, m.get(k).fold(v)(o => (o._1 + v._1, o._2 + v._2, o._3 + v._3)))
    def finish(b: Sums): Sums = b
    def bufferEncoder: Encoder[Sums] = ExpressionEncoder[Sums]()
    def outputEncoder: Encoder[Sums] = ExpressionEncoder[Sums]()
  }

  // UTC-day truncation from the epoch directly — NOT date_trunc('day'),
  // which follows spark.sql.session.timeZone: a non-UTC caller would get
  // day buckets misaligned with window('1 day')'s UTC-epoch alignment,
  // committing day D's data under bucket D-1 and breaking resume. run()
  // is the public API; only graft.LocalSpark (main() and the tests) pins
  // the session to UTC.
  private def dayOf(c: org.apache.spark.sql.Column) =
    floor(unix_timestamp(c) / 86400L).cast("long") * 86400L

  /** Run `body` with its Spark jobs in job group `group`; on a failure,
    * cancel the group (and any job it submits later) and rethrow. The
    * caller's job group, if any, is restored. */
  private def inJobGroup[T](sc: SparkContext, group: String)(body: => T): T = {
    val saved = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(group, group)
    try body
    catch { case NonFatal(e) => sc.cancelJobGroupAndFutureJobs(group); throw e }
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Run (or resume) the full cascade. */
  def run(spark: SparkSession, tokens: DataFrame, conf: Conf): Seq[TierResult] = {
    val io = new TableIO(conf.tableRoot, conf.manifestCheckpointEvery)
    io.locked {
      val allDays = tokens.select(dayOf(col("event_time")).as("d"))
        .distinct().collect().map(_.getLong(0)).sorted.toSeq
      // A day is done only when BOTH of its commits landed (features, then
      // chunks). A crash between the two leaves the day pending, so the
      // resume re-runs it — the feature re-commit is last-commit-wins on
      // the same bucket, keeping the documented idempotence contract.
      val pending = conf.tiers.map { case (tierName, _) =>
        val done = io.doneBuckets(tierName)
          .intersect(io.doneBuckets(s"$tierName-chunks"))
        allDays.filterNot(done.contains)
      }

      // 1. the fold's units: each day enters at its finest pending tier k,
      // as its committed tier-(k-1) states read back manifest-pruned (crash
      // repair), else as row states at level 0
      val entryDays = allDays.groupBy(d => pending.indexWhere(_.contains(d)))
        .removed(-1).toSeq.sortBy(_._1)
      val rowStates = TokenRollup.rowStates(tokens, conf.scale)
        .withColumn("day", dayOf(col("event_time")))
      // buckets keep the input's timestamp type (TIMESTAMP or _NTZ)
      val tsType = tokens.schema("event_time").dataType
      val units = entryDays.map { case (k, days) =>
        val committed = if (k == 0) None else
          io.readRange(spark, conf.tiers(k - 1)._1, days.min, days.max + 1).map(df =>
            TierFold.stateUnits(df.where(col("commit_bucket").isin(days: _*)), k))
        committed.getOrElse(TierFold.rowUnits(rowStates.where(col("day").isin(days: _*)), 0))
      }

      // 2. one fold builds every tier; it runs in the features write's
      // first stage
      val wins = conf.tiers.map { case (_, win) => TierFold.micros(win) }
      val tierName = element_at(typedLit(conf.tiers.map(_._1)), col("level") + 1)
      val states = units.reduceOption(_ unionByName _).map { u =>
        TierFold(u, wins, pending.map(_.toSet))
          .select(tierName.as("tier"), col("source"),
            TierFold.fromMicros(col("bucket"), tsType).as("bucket"),
            col("P"), col("rows_in"), col("tokens_in"))
      }

      // 3. finalize once, then stage every pending tier with one features
      // write (observing the lineage), and the chunks from its staged
      // files, under one job group. Every tier dir is made first, so a tier
      // that cannot be one fails the run before any write.
      val tiers = conf.tiers.map(_._1).zip(pending).collect { case (t, p) if p.nonEmpty => t }
      val group = s"graft-rollup-${conf.jobId}-${java.util.UUID.randomUUID()}"
      io.tierDirs(tiers ++ tiers.map(t => s"$t-chunks"))
      val staged = states.map { s => inJobGroup(spark.sparkContext, group) {
        val f = TokenRollup.finalizeFeatures(s).withColumn("commit_bucket", dayOf(col("bucket")))
        // One file per (write task, tier). The rebalance sizes the files
        // (AQE coalesces toward advisoryPartitionSizeInBytes): the finest
        // tier spreads over tasks by source, each coarser tier (keyed on
        // null) lands in one task, so a metadata-sized tier is one file.
        // The sorts keep each source's rows contiguous, so parquet min/max
        // prune on `source`. The lineage is observed on the frame the write
        // consumes, so it is summed in the write's result stage, once per
        // task, with no job of its own.
        val lineage = Observation()
        val feats = io.stage(tiers, f
          .withColumn("spread", when(col("tier") === conf.tiers.head._1, col("source")))
          .hint("rebalance", "tier", "spread").drop("spread")
          .sortWithinPartitions("tier", "source", "bucket")
          .observe(lineage, udaf(LineageSums, LineageSums.inputEncoder)(col("tier"),
            col("commit_bucket"), coalesce(col("tokens_in"), lit(0L)),
            hash(col("source"), col("bucket"),
              graft.functions.duckRound(col("mean"), 9)).cast("long")).as("lineage")))
        // the chunks encode the staged points
        val ordered = io.readStaged(spark, feats, f.schema)
          .withColumn("bs", unix_timestamp(col("bucket")))
          .groupBy(col("tier"), col("source"), col("commit_bucket"))
          .agg(sort_array(collect_list(struct((Seq("bs") ++ conf.chunkFeatures)
            .map(col): _*))).as("pts"))
        val encoded = ordered.select(
          Seq(concat(col("tier"), lit("-chunks")).as("tier"), col("source"),
            col("commit_bucket"), size(col("pts")).as("n_points"),
            dod_encode(col("pts.bs")).as("ts_dod")) ++
            conf.chunkFeatures.map(c =>
              gorilla_encode(col(s"pts.$c")).as(s"${c}_gor")): _*)
        val chunks = io.stage(tiers.map(t => s"$t-chunks"),
          encoded.sortWithinPartitions("tier", "source", "commit_bucket"))
        // tier -> (day, points, tokens, checksum), days ascending. The
        // observed row reaches the Observation through the listener bus
        // after the write returns; the bound turns a lost event into a
        // failed run (nothing is published yet) instead of a hang.
        val sums = Await.result(lineage.future, Duration(60, TimeUnit.SECONDS))
          .getMap[Row, Row](0).toSeq
          .map { case (k, v) =>
            k.getString(0) -> (k.getLong(1), v.getLong(0), v.getLong(1), v.getLong(2).toHexString)
          }.sortBy(_._2._1).groupMap(_._1)(_._2)
        (sums, feats, chunks)
      }}

      // 4. publish in manifest order: per tier features -> lineage -> chunks
      val results = conf.tiers.map(_._1).zip(pending).map {
        case (tier, days) if days.isEmpty => TierResult(tier, Nil, 0)
        case (tier, days) =>
          val (lineage, feats, chunks) = staged.get
          val i = tiers.indexOf(tier)
          val rows = lineage.getOrElse(tier, Nil)
          io.publish(feats(i), days, conf.jobId)
          io.appendLineage(conf.jobId, tier, rows)
          io.publish(chunks(i), days, conf.jobId)
          // tier point count = the lineage rows' points summed
          TierResult(tier, days, rows.map(_._2).sum)
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
    }
  }

  def main(args: Array[String]): Unit = {
    val inPath = args.lift(0).getOrElse("/tmp/graft_tokens")
    val root = args.lift(1).getOrElse("/tmp/graft_table")
    val spark = graft.LocalSpark()
    val tokens = spark.read.parquet(inPath)
    val res = run(spark, tokens, Conf(tableRoot = root))
    res.foreach(r => println(s"[rollup] tier=${r.tier} newDays=${r.newDays.size} points=${r.points}"))
    spark.stop()
  }
}
