package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{token_partials, feature, FeatureParams, TokenPartialsExpr}

/** Continuous aggregates over the token-sequence table: per-row partial
  * states composed, in concatenation order, into per-(source, window)
  * feature points at cascading retention tiers — the north rule's
  * raw -> 1m -> 1h -> 1d rollup.
  *
  * Execution shape of the Column form (`mergeToBuckets`/`cascade`, which
  * the streaming fallback and the tier queries run; `RollupJob` builds all
  * tiers in one ordered pass instead, see TierFold):
  *  - one narrow projection computes the per-row state (no explode; the
  *    token array never leaves the row),
  *  - one shuffle per tier level, on (source, bucket) — the window-lag
  *    "bridge" pass and the groupBy reuse the same clustering, so
  *    Exchange appears once per tier in the plan,
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

  /** Compose unit states (ordered by `orderCols` within (source, window))
    * into one state per (source, bucket). The lag-bridge materializes the
    * cross-unit boundary terms, after which the reduction is plain sums —
    * orderless, partial-aggregatable, salt-friendly. The Column form of
    * graft.core.TokenState's `++` (TokenStateSpec ties the two together). */
  def mergeToBuckets(units: DataFrame, win: String,
                     orderCols: Seq[String]): DataFrame = {
    val withW = units.withColumn("w", window(col(orderCols.head), win))
    val ord = orderCols.map(col)
    val w = Window.partitionBy(col("source"), col("w")).orderBy(ord: _*)
    // all three lags in ONE select -> a single Window node in the plan
    // (chained withColumn would interleave Projects and defeat
    // CollapseWindow, leaving one Window scan per lag)
    val lagged = withW.select(col("*"),
      lag(col("P.l1"), 1).over(w).as("_pl1"),
      lag(col("P.l2"), 1).over(w).as("_pl2"),
      lag(col("P.lSgn"), 1).over(w).as("_plSgn"))
    val pl1 = col("_pl1"); val pl2 = col("_pl2"); val plSgn = col("_plSgn")
    val d = col("P.f1") - pl1
    val bridged = lagged.select(col("*"),
      when(pl1.isNull, lit(0.0)).otherwise(abs(d)).as("bAbsD"),
      when(pl1.isNull, lit(0.0)).otherwise(d * d).as("bDSq"),
      when(pl1.isNull, lit(0.0)).otherwise(
        pow(d - (pl1 - pl2), 2) + pow((col("P.f2") - col("P.f1")) - d, 2)).as("bESq"),
      when(pl1.isNull, lit(0L)).otherwise(
        when(col("P.fSgn") === 0 && plSgn =!= 0, lit(1L)).otherwise(lit(0L)) +
          when(col("P.fSgn") * plSgn < 0, lit(1L)).otherwise(lit(0L))).as("bZc"),
      struct(ord: _*).as("ordKey"))
    val agg = bridged.groupBy(col("source"), col("w"))
      .agg(
        sum("P.n").as("n"), sum("P.s1").as("s1"), sum("P.s2").as("s2"),
        sum("P.s3").as("s3"), sum("P.s4").as("s4"),
        min("P.mn").as("mn"), max("P.mx").as("mx"),
        (sum("P.sumAbsD") + sum("bAbsD")).as("sumAbsD"),
        (sum("P.sumDSq") + sum("bDSq")).as("sumDSq"),
        (sum("P.sumESq") + sum("bESq")).as("sumESq"),
        min_by(col("P.f1"), col("ordKey")).as("f1"),
        min_by(col("P.f2"), col("ordKey")).as("f2"),
        max_by(col("P.l1"), col("ordKey")).as("l1"),
        max_by(col("P.l2"), col("ordKey")).as("l2"),
        (sum("P.zc") + sum("bZc")).as("zc"),
        min_by(col("P.fSgn"), col("ordKey")).as("fSgn"),
        max_by(col("P.lSgn"), col("ordKey")).as("lSgn"),
        // cascaded inputs carry how many SOURCE rows each unit already
        // represents (row_rows) — summing it keeps rows_in meaning "raw
        // rows in this bucket" at every tier instead of silently becoming
        // "finer buckets merged" above the finest level
        (if (units.columns.contains("row_rows")) sum(col("row_rows"))
         else count(lit(1))).as("rows_in"),
        sum(coalesce(col("row_tokens"), col("P.n"))).as("tokens_in"))
      .withColumn("bucket", col("w.start")).drop("w")
    agg.withColumn("P", struct(StateFields.map(col): _*))
      .select(col("source"), col("bucket"), col("P"), col("rows_in"),
        col("tokens_in"))
  }

  /** Cascade: tier T bucket-states -> tier T+1 bucket-states. */
  def cascade(bucketStates: DataFrame, win: String): DataFrame =
    mergeToBuckets(
      bucketStates.select(col("source"), col("bucket").as("event_time"),
        col("P"), col("tokens_in").as("row_tokens"),
        col("rows_in").as("row_rows")),
      win, Seq("event_time"))

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
