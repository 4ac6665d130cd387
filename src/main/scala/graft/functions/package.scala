package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column-level API for the feature expressions.
  *
  * Spark 4 removed the public `new Column(expr)` constructor; the blessed
  * route is `Column(ExpressionColumnNode(expr))` via the internal
  * converters, which `org.apache.spark.sql.classic.ExpressionUtils.column`
  * wraps. We go through the session's FunctionRegistry instead for SQL and
  * use `ExpressionUtils` for the typed API.
  */
package object functions {

  private def col(e: Expression): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(e)

  private def expr(c: Column): Expression =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)

  /** DuckDB-bit-identical rounding: round(x, d) in DuckDB is
    * std::round(x * 10^d) / 10^d in doubles (half away from zero), which
    * disagrees with Spark's exact-decimal HALF_UP `round` when x * 10^d
    * lands on .5 only after the double multiply. Queries gated by the
    * DuckDB oracle quantize with this instead (verified bit-equal on a
    * 200k fuzz corpus).
    */
  def duckRound(c: Column, digits: Int): Column = {
    import org.apache.spark.sql.functions._
    val p = math.pow(10, digits)
    val y = c * lit(p)
    val a = abs(y)
    val t = floor(a)
    val r = when(a - t >= 0.5, t + 1).otherwise(t)
    when(c < 0, -r).otherwise(r) / lit(p)
  }

  /** Generic entry: graft.functions.feature("hjorth_mobility", $"tokens", p). */
  def feature(name: String, tokens: Column,
              params: FeatureParams = FeatureParams()): Column =
    col(TokenFeature(expr(tokens), name, params))

  /** Bounded sorted collect (first maxLen struct values ascending) — the
    * memory-capped replacement for slice(sort_array(collect_list(...))):
    * the heap never exceeds maxLen at ANY stage, map-side partials
    * included. */
  def bounded_sorted_collect(c: Column, maxLen: Int): Column =
    col(BoundedSortedCollect(expr(c), maxLen).toAggregateExpression())

  /** Weight-bounded sorted collect: keeps the ascending order-prefix of
    * struct rows up to `maxWeight` total elements of the array at struct
    * field `weightField` (see BoundedWeightedCollect). */
  def bounded_weighted_collect(c: Column, maxWeight: Long,
                               weightField: Int): Column =
    col(BoundedWeightedCollect(expr(c), maxWeight, weightField)
      .toAggregateExpression())

  /** Null-preserving xxhash64: Spark's `xxhash64` is non-nullable — a
    * NULL input hashes to the bare seed (42), which would make every NULL
    * count as one extra distinct value downstream. This wrapper keeps
    * NULL as NULL so `hll_distinct`'s null-skip matches
    * `count(DISTINCT c)` semantics. */
  def null_safe_hash64(c: Column): Column =
    org.apache.spark.sql.functions.when(c.isNotNull,
      org.apache.spark.sql.functions.xxhash64(c))

  /** HLL++ distinct count over a PRE-HASHED long column (pass
    * `null_safe_hash64(col)` so hashing stays codegen'd AND NULLs stay
    * excluded like count(DISTINCT); bare `xxhash64` hashes NULL to the
    * seed and would count it): exact while any group's distinct count
    * fits `sparseMax`, 2^p-byte dense registers beyond (see
    * HllDistinct). */
  def hll_distinct(hashed: Column, sparseMax: Int = 4096, p: Int = 14): Column =
    col(HllDistinct(expr(hashed), sparseMax, p).toAggregateExpression())

  /** Misra-Gries heavy hitters with <= capacity counters at every stage;
    * rows carry an err_bound exactness certificate (see MisraGriesTopK). */
  def mg_topk(c: Column, capacity: Int): Column =
    col(MisraGriesTopK(expr(c), capacity).toAggregateExpression())

  /** Deterministic mergeable quantiles over integer-quantized values:
    * dyadic-collapse histogram, exact (bin_width = 1) while distinct
    * values fit capacity (see DyadicQuantiles). */
  def dyadic_quantiles(c: Column, capacity: Int, qs: Seq[Double]): Column =
    col(DyadicQuantiles(expr(c), capacity, qs).toAggregateExpression())

  /** Mergeable per-row partial state (see TokenPartialsExpr). */
  def token_partials(tokens: Column, scale: Double = 1.0): Column =
    col(TokenPartialsExpr(expr(tokens), scale))

  /** Cross-channel feature over array<struct<ch, sig>> (see TokenBivariate). */
  def bivariate(name: String, channels: Column, sfreq: Double = 256.0): Column =
    col(TokenBivariate(expr(channels), name, sfreq))

  // codec columns
  def gorilla_encode(c: Column): Column = col(GorillaEncodeExpr(expr(c)))
  def gorilla_decode(c: Column): Column = col(GorillaDecodeExpr(expr(c)))
  def dod_encode(c: Column): Column = col(DodEncodeExpr(expr(c)))
  def dod_decode(c: Column): Column = col(DodDecodeExpr(expr(c)))

  /** Register every catalog feature as a SQL function `graft_<alias>(arr)`
    * with default params (sfreq 256, scale 1.0) — the engine's analogue of
    * the reference's introspected registry (utils.py:257-314).
    */
  def registerAll(spark: SparkSession,
                  params: FeatureParams = FeatureParams()): Unit = {
    val registry = spark.sessionState.functionRegistry
    FeatureCatalog.all.keys.foreach { name =>
      registry.createOrReplaceTempFunction(
        s"graft_$name",
        (children: Seq[Expression]) => TokenFeature(children.head, name, params),
        "built-in")
    }
  }
}
