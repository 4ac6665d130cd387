package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.functions.{token_partials, feature, FeatureParams, TokenPartialsExpr}

/** Continuous aggregates over the token-sequence table: per-row partial
  * states composed, in concatenation order, into per-(source, window)
  * feature points at cascading retention tiers — the north rule's
  * raw -> 1m -> 1h -> 1d rollup.
  *
  *  - one narrow projection computes the per-row state (no explode; the
  *    token array never leaves the row),
  *  - `mergeToBuckets`/`cascade` compose states with TierFold's ordered
  *    fold (`RollupJob` runs the same fold over every tier at once), so
  *    each tier is the in-order `TokenState.++` of its units,
  *  - tier T+1 consumes tier T's *states* (17 small doubles per bucket),
  *    not raw data: the 1h and 1d cascades shuffle kilobytes per source
  *    regardless of input size. At 10^12 rows only the 1m level touches
  *    the data; everything above is metadata-sized.
  *  - holistic features (spectral/entropy/fractal family) are not
  *    mergeable (SURVEY.md §7.3): they recompute per window from the
  *    concatenated signal, capped by `maxHolisticTokens`.
  */
object TokenRollup {

  /** The state struct's field names, in order (graft.core.TokenState). */
  val StateFields: Seq[String] = TokenPartialsExpr.schema.fieldNames.toSeq

  /** Per-row states from the token table. The n >= 2 precondition is
    * filtered on the cheap n_tok column BEFORE the projection — filtering
    * on P itself would evaluate the kernel twice per row (once in the
    * Filter, once in the Project; CodegenFallback expressions get no
    * cross-operator subexpression elimination). */
  def rowStates(tokens: DataFrame, scale: Double): DataFrame =
    tokens
      .where(col("tokens").isNotNull && col("n_tok") >= 2)
      .select(col("source"), col("event_time"), col("doc_id"),
        col("n_tok").cast("long").as("row_tokens"),
        token_partials(col("tokens"), scale).as("P"))

  /** Compose unit states (rows of `rowStates`, or cascaded states with
    * `row_rows`) in (event_time, doc_id) order into one state per
    * (source, `win` bucket): TierFold's fold with a single window level,
    * so the range key is the bucket and no bucket is cut. `orderCols`
    * must start with event_time; the fold's order refines any such order.
    * The bucket keeps the input's timestamp type. */
  def mergeToBuckets(units: DataFrame, win: String,
                     orderCols: Seq[String]): DataFrame = {
    require(orderCols.headOption.contains("event_time"),
      s"mergeToBuckets orders by event_time first, got $orderCols")
    fold(TierFold.rowUnits(units, 0), win, units.schema("event_time").dataType)
  }

  /** Cascade: tier T bucket-states -> tier T+1 bucket-states. */
  def cascade(bucketStates: DataFrame, win: String): DataFrame =
    fold(TierFold.stateUnits(bucketStates, 0), win, bucketStates.schema("bucket").dataType)

  private def fold(units: DataFrame, win: String, tsType: DataType): DataFrame =
    TierFold(units, Seq(TierFold.micros(win)), Seq(_ => true)).where(col("out"))
      .select(col("source"), TierFold.fromMicros(col("bucket"), tsType).as("bucket"),
        col("P"), col("rows_in"), col("tokens_in"))

  /** Finalize a bucket-state into the algebraic feature columns —
    * closed forms over the merged sums, matching the reference kernels
    * (state fields in graft.core.TokenState). A `tier` column (RollupJob's
    * frame of every tier) is kept. */
  def finalizeFeatures(states: DataFrame): DataFrame = {
    val n = col("P.n").cast("double")
    val s1 = col("P.s1"); val s2 = col("P.s2")
    val s3 = col("P.s3"); val s4 = col("P.s4")
    val m = s1 / n
    val m2 = s2 / n - m * m
    val m3 = s3 / n - lit(3) * m * (s2 / n) + lit(2) * m * m * m
    val m4 = s4 / n - lit(4) * m * (s3 / n) + lit(6) * m * m * (s2 / n) -
      lit(3) * m * m * m * m
    val varX = (s2 - s1 * s1 / n) / (n - 1)
    // Hjorth with the reference's leading-zero pad (univariate.py:916-921)
    val varPad = (s2 - s1 * s1 / (n + 1)) / n
    val sumDSqPad = col("P.sumDSq") + col("P.f1") * col("P.f1")
    val varD = (sumDSqPad - col("P.l1") * col("P.l1") / n) / (n - 1)
    val mobility = sqrt(varD) / sqrt(varPad)
    val varYPad = (sumDSqPad - col("P.l1") * col("P.l1") / (n + 1)) / n
    val sumESqAll = col("P.sumESq") + col("P.f1") * col("P.f1") +
      pow(col("P.f2") - lit(2) * col("P.f1"), 2)
    val sumE = col("P.l1") - col("P.l2")
    val varE = (sumESqAll - sumE * sumE / n) / (n - 1)
    val mobilityD = sqrt(varE) / sqrt(varYPad)
    states.select(states.columns.filter(_ == "tier").map(col).toSeq ++ Seq(
      col("source"), col("bucket"), col("P"), col("rows_in"), col("tokens_in"),
      col("P.n").as("n_samples"),
      m.as("mean"),
      varX.as("variance"),
      sqrt(varX).as("std"),
      sqrt(s2 / n).as("rms"),
      (col("P.mx") - col("P.mn")).as("ptp_amp"),
      (m3 / pow(m2, 1.5)).as("skewness"),
      (m4 / (m2 * m2)).as("kurtosis"),
      (col("P.sumAbsD") / (n - 1)).as("line_length"),
      mobility.as("hjorth_mobility"),
      (mobilityD / mobility).as("hjorth_complexity"),
      (col("P.zc") + when(col("P.fSgn") === 0, 1L).otherwise(0L))
        .cast("double").as("zero_crossings")): _*)
  }

  /** Holistic tier features: per-(source, window) concatenated signal ->
    * non-mergeable kernels. `maxTokens` caps the per-window signal (the
    * documented holistic contract; excess windows are flagged).
    *
    * The collect is weight-bounded INSIDE the aggregation
    * (BoundedWeightedCollect): every stage — map-side partials and shuffle
    * rows included — holds at most ~maxTokens elements per (source,
    * window), so one pathological window costs O(maxTokens) executor
    * memory instead of materializing itself before a post-hoc slice. The
    * exact `truncated` flag comes from a plain sum of token counts. */
  def holisticFeatures(tokens: DataFrame, win: String, params: FeatureParams,
                       features: Seq[String],
                       maxTokens: Int = 4 * 1024 * 1024): DataFrame = {
    val grouped = tokens
      .groupBy(col("source"), window(col("event_time"), win).as("w"))
      .agg(graft.functions.bounded_weighted_collect(
        struct(col("event_time"), col("doc_id"), col("tokens")),
        maxTokens.toLong, 2).as("rows"),
        sum(size(col("tokens")).cast("long")).as("total_tokens"))
      .select(col("source"), col("w.start").as("bucket"),
        slice(flatten(col("rows.tokens")), 1, maxTokens).as("sig"),
        // coalesce: a window whose rows ALL have null token arrays sums
        // to null — that window is untruncated, not unknown
        coalesce(col("total_tokens") > maxTokens, lit(false)).as("truncated"))
    features.foldLeft(grouped) { (df, name) =>
      df.withColumn(name, feature(name, col("sig"), params))
    }.drop("sig")
  }
}
