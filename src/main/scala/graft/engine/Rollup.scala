package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Continuous-aggregate machinery: algebraic partial states as plain
  * columns (mergeable, codegen'd, AQE/salting-friendly), cascading tier
  * merges, and LOCF gap-fill (SURVEY.md §7.3).
  *
  * Design: the partial state for the algebraic feature family is
  * (n, sum, sumsq, min, max) — every built-in Spark aggregate, so the
  * 1m -> 1h -> 1d cascade is a pure partial-merge with no custom UDAF,
  * map-side combine for free, and identical results to a direct
  * aggregation (exactness verified by the driver's DuckDB oracle on
  * q_tier_1h_cascade).
  */
object Rollup {

  /** Tier durations, finest first. */
  val Tiers: Seq[(String, String)] =
    Seq("1m" -> "1 minute", "1h" -> "1 hour", "1d" -> "1 day")

  /** Value column widened so `v * v` can't overflow: sub-long integral
    * types square in their native type under non-ANSI evaluation — an
    * IntegerType sample of |v| >= 46341 would wrap silently in p_sumsq. */
  private def widened(df: DataFrame, value: String) = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
    df.schema(value).dataType match {
      case ByteType | ShortType | IntegerType => col(value).cast("long")
      case _ => col(value)
    }
  }

  /** Algebraic partials for one tier from raw scalar samples. */
  def partials(df: DataFrame, keys: Seq[String], ts: String, value: String,
               win: String): DataFrame = {
    val v = widened(df, value)
    df.groupBy((keys.map(col) :+ window(col(ts), win).as("w")): _*)
      .agg(count(v).as("p_n"), sum(v).as("p_sum"),
        sum(v * v).as("p_sumsq"), min(v).as("p_min"), max(v).as("p_max"))
      .withColumn("bucket", col("w.start")).drop("w")
  }

  /** Merge a finer tier's partials up to a coarser window — the cascade
    * step. Input must carry p_n/p_sum/p_sumsq/p_min/p_max + bucket. */
  def merge(finer: DataFrame, keys: Seq[String], win: String): DataFrame =
    finer.groupBy((keys.map(col) :+ window(col("bucket"), win).as("w")): _*)
      .agg(sum("p_n").as("p_n"), sum("p_sum").as("p_sum"),
        sum("p_sumsq").as("p_sumsq"), min("p_min").as("p_min"),
        max("p_max").as("p_max"))
      .withColumn("bucket", col("w.start")).drop("w")

  /** Finalize partials into the feature columns they support. */
  def finalize(partials: DataFrame): DataFrame =
    partials
      .withColumn("mean", col("p_sum") / col("p_n"))
      .withColumn("rms", sqrt(col("p_sumsq") / col("p_n")))

  /** Salted two-stage aggregation of partials: defuses hot keys (a single
    * (source, bucket) receiving a disproportionate share of rows) by
    * pre-aggregating on (keys, bucket, salt) then de-salting. At 10^12 rows
    * this is the difference between one straggler reducer and S-way
    * parallelism per hot bucket; cheap at small scale because stage one
    * already collapses to <= S rows per group.
    */
  def saltedPartials(df: DataFrame, keys: Seq[String], ts: String,
                     value: String, win: String, saltBuckets: Int): DataFrame = {
    // salt from row content (deterministic under task retries)
    val salted = df.withColumn("_salt",
      pmod(hash(col(ts), widened(df, value)), lit(saltBuckets)))
    merge(partials(salted, keys :+ "_salt", ts, value, win), keys, win)
  }

  /** Dense-calendar LOCF gap-fill: explode the per-key [min, max] bucket
    * range at `step`, left-join the sparse rollup, carry the last
    * observation forward. The window scan is per key, ordered by bucket —
    * one shuffle on the key, linear scan after.
    */
  def gapFillLocf(rollup: DataFrame, keys: Seq[String], bucket: String,
                  valueCols: Seq[String], step: String): DataFrame = {
    val joined = denseGrid(rollup, keys, bucket, step)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(bucket))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // all LOCF exprs in ONE select -> one Window node for any number of
    // value columns (a per-column withColumn fold would interleave
    // Projects and defeat CollapseWindow)
    joined.select(col("*") +: valueCols.map(c =>
      last(col(c), ignoreNulls = true).over(w).as(s"${c}_locf")): _*)
      .withColumn("filled", filledFlag)
      .drop("_obs")
  }

  /** Dense-calendar LINEAR-interpolation gap-fill: interior gaps
    * interpolate between the surrounding observations (time-weighted);
    * trailing gaps carry the last observation forward (no future point
    * exists); LEADING gaps back-fill from the first observation (no past
    * point exists — reachable for secondary value columns whose first
    * buckets are null even though the grid starts at the key's first
    * observed bucket). Same single-shuffle-per-key shape as LOCF — two
    * ordered window scans instead of one. */
  def gapFillLinear(rollup: DataFrame, keys: Seq[String], bucket: String,
                    valueCols: Seq[String], step: String): DataFrame = {
    val joined = denseGrid(rollup, keys, bucket, step)
      .withColumn("_ts", unix_timestamp(col(bucket)))
    val wp = Window.partitionBy(keys.map(col): _*).orderBy(col(bucket))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(keys.map(col): _*).orderBy(col(bucket))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // ALL wp- and wn-spec exprs for ALL columns in one select -> exactly
    // two Window specs (one node when Spark merges same-partition/order
    // specs) for any number of value columns; a per-column fold would
    // interleave the specs and defeat CollapseWindow
    val helpers = valueCols.flatMap { c =>
      Seq(
        last(col(c), ignoreNulls = true).over(wp).as(s"_pv_$c"),
        last(when(col(c).isNotNull, col("_ts")), ignoreNulls = true).over(wp)
          .as(s"_pt_$c"),
        first(col(c), ignoreNulls = true).over(wn).as(s"_nv_$c"),
        first(when(col(c).isNotNull, col("_ts")), ignoreNulls = true).over(wn)
          .as(s"_nt_$c"))
    }
    val withH = joined.select(col("*") +: helpers: _*)
    val filled = withH.select(col("*") +: valueCols.map { c =>
      val pv = col(s"_pv_$c"); val pt = col(s"_pt_$c")
      val nv = col(s"_nv_$c"); val nt = col(s"_nt_$c")
      when(col(c).isNotNull, col(c))
        .when(nv.isNull, pv) // trailing gap: LOCF
        .when(pv.isNull, nv) // leading gap: next-observation back-fill
        .otherwise(pv + (nv - pv) * ((col("_ts") - pt) / (nt - pt)))
        .as(s"${c}_lin")
    }: _*)
    filled.withColumn("filled", filledFlag)
      .drop("_ts" +: "_obs" +: valueCols.flatMap(c =>
        Seq(s"_pv_$c", s"_pt_$c", s"_nv_$c", s"_nt_$c")): _*)
  }

  /** filled = "this bucket had no observation row" — detected by the
    * denseGrid join marker, NOT by a value column being null (a
    * pre-existing rollup row can legitimately carry null values, and a
    * secondary column can be filled on an observed row). */
  private def filledFlag =
    when(col("_obs").isNull, lit(1)).otherwise(lit(0))

  /** Per-key dense [min, max] bucket grid at `step` (a fixed-duration
    * interval), left-joined onto the sparse rollup with an `_obs`
    * observation marker.
    *
    * The grid is generated in bounded CHUNKS of `GridChunk` steps: a
    * single sequence() over the whole span materializes one array row
    * per key — a multi-year span at fine steps is a multi-MB (or
    * overflowing) single-task allocation. Two nested bounded explodes
    * keep peak per-row memory O(GridChunk) for any span. */
  private val GridChunk = 4096L

  private def denseGrid(rollup: DataFrame, keys: Seq[String], bucket: String,
                        step: String): DataFrame = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(step))
    require(iv.months == 0, s"denseGrid needs a fixed-duration step, got '$step'")
    val stepMicros = org.apache.spark.sql.catalyst.util.IntervalUtils
      .getDuration(iv, java.util.concurrent.TimeUnit.MICROSECONDS)
    require(stepMicros > 0 && stepMicros % 1000000L == 0,
      s"denseGrid needs a positive whole-second step, got '$step'")
    val stepSec = stepMicros / 1000000L
    val bounds = rollup.groupBy(keys.map(col): _*)
      .agg(min(col(bucket)).as("_lo"), max(col(bucket)).as("_hi"))
      .withColumn("_n",
        ((unix_timestamp(col("_hi")) - unix_timestamp(col("_lo"))) / stepSec)
          .cast("long") + 1L)
    val grid = bounds
      .select((keys.map(col) :+ col("_lo") :+ col("_n") :+
        explode(sequence(lit(0L),
          ((col("_n") - 1L) / GridChunk).cast("long"))).as("_ck")): _*)
      .select((keys.map(col) :+ col("_lo") :+
        explode(sequence(col("_ck") * GridChunk,
          least(col("_n") - 1L, col("_ck") * GridChunk + (GridChunk - 1L))))
          .as("_i")): _*)
      .select((keys.map(col) :+
        (col("_lo") + col("_i") * expr(s"INTERVAL '$stepSec' SECOND"))
          .as(bucket)): _*)
    grid.join(rollup.withColumn("_obs", lit(1)), keys :+ bucket, "left")
  }
}
