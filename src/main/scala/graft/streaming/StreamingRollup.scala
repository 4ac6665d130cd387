package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{TokenState, TokenSums}
import graft.functions.token_partials

/** Structured Streaming face of the tier engine: one stateful tier over
  * the same per-row mergeable state (graft.core.TokenState) as the batch
  * cascade. Its emissions carry the whole state, so the orderless family
  * (moments, extrema, counts) and the diff family (line_length, Hjorth,
  * zero crossings) both come out equal to the batch cascade and finalize
  * through TokenRollup.finalizeFeatures. Windows too hot to keep their
  * boundary tuples keep O(1) state with exact orderless sums and take
  * their diff family from the batch cascade (diffWithBatchFallback).
  */
object StreamingRollup {

  /** Stateful tier (r3): the cross-row boundary bridge under
    * incremental processing. flatMapGroupsWithState carries, per (source,
    * window), the per-row BOUNDARY tuples (first/last two samples + edge
    * signs, in row order) plus the running orderless merge of the row
    * states' sums (`TokenSums`, no edges); each trigger re-derives the
    * bridge terms from the sorted boundaries — so line_length, Hjorth and
    * zero-crossings come out EXACTLY equal to the batch cascade regardless
    * of arrival order, which a watermarked groupBy (orderless) cannot do.
    * State is O(rows-in-window) boundary tuples, capped by `maxSegs`
    * (hotter windows belong to the batch cascade); windows evict on
    * event-time timeout one watermark past the window end.
    *
    * Incremental state (r4): `segs` is kept SORTED as a state invariant —
    * each trigger sorts only its own k arrivals and two-pointer-merges
    * them into the state, O(k log k + m) instead of the r3 full re-sort's
    * O(m log m) per trigger. The bridge walk stays the same sequential
    * O(m) pass (it is the output computation anyway), so the emitted
    * arithmetic — and the batch equivalence — is bit-identical.
    *
    * Hot-window fallback (r5): a window whose boundary-tuple count would
    * exceed `maxSegs` transitions to overflow mode instead of failing the
    * job — its segs are dropped, state stays O(1), and every subsequent
    * emission carries `overflow = true` with the diff-family fields
    * zeroed. The driver unions those windows back from the batch cascade
    * (runOnceDiffWithBatchFallback); orderless sums keep accumulating and
    * stay correct throughout. */
  def diffTier(stream: DataFrame, win: String, watermark: String,
               scale: Double, maxSegs: Int = 1 << 17): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import StreamingDiff._
    val spark = stream.sparkSession
    import spark.implicits._
    val winMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(win))
    val winMillis = java.util.concurrent.TimeUnit.MICROSECONDS.toMillis(
      org.apache.spark.sql.catalyst.util.IntervalUtils.getDuration(
        winMs, java.util.concurrent.TimeUnit.MICROSECONDS))
    val wmMillis = java.util.concurrent.TimeUnit.MICROSECONDS.toMillis(
      org.apache.spark.sql.catalyst.util.IntervalUtils.getDuration(
        org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
          org.apache.spark.unsafe.types.UTF8String.fromString(watermark)),
        java.util.concurrent.TimeUnit.MICROSECONDS))
    val rows = stream
      .withColumn("P", token_partials(col("tokens"), scale))
      .where(col("P").isNotNull)
      .withWatermark("event_time", watermark)
      .select(col("source"),
        window(col("event_time"), win)("start").cast("long").as("bucketS"),
        // micros, not a seconds cast: sub-second timestamps must order
        // identically to the batch cascade's (event_time, doc_id) key
        unix_micros(col("event_time")).as("ts"), col("doc_id"),
        // the watermark-tagged column must reach the stateful operator for
        // EventTimeTimeout to be accepted (it is otherwise unused)
        col("event_time"), col("P"),
        coalesce(col("n_tok").cast("long"), col("P.n")).as("rowTokens"))
      .as[In]
    rows.groupByKey(r => (r.source, r.bucketS))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        (key: (String, Long), it: Iterator[In], state: GroupState[St]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(
              St(Vector.empty, TokenSums.empty, 0L, 0L, overflowed = false))
            val freshB = Vector.newBuilder[Seg]
            it.foreach { r =>
              val p = r.P
              freshB += Seg(r.ts, r.doc_id, p.f1, p.f2, p.l1, p.l2,
                p.fSgn, p.lSgn)
              st = st.copy(acc = st.acc + p.sums, rowsIn = st.rowsIn + 1,
                tokensIn = st.tokensIn + r.rowTokens)
            }
            val fresh = freshB.result()
            if (st.overflowed || st.segs.size + fresh.size > maxSegs) {
              // hot window: drop the boundary tuples (state back to O(1))
              // and flag every emission — the batch cascade owns this
              // window's diff family from here on
              st = st.copy(segs = Vector.empty, overflowed = true)
            } else {
              // sort only this trigger's arrivals; merge into sorted state
              st = st.copy(segs =
                mergeSorted(st.segs, fresh.sortBy(s => (s.ts, s.docId))))
            }
            state.update(st)
            // evict one watermark past the window end (never behind the
            // current watermark — Spark rejects stale timeout timestamps)
            state.setTimeoutTimestamp(math.max(
              (key._2 * 1000L) + winMillis + wmMillis,
              state.getCurrentWatermarkMs() + 1))
            val p = if (st.overflowed) st.acc.orderless else {
              // arrival-order sums with the sorted edges, then the bridge
              // terms in sorted order
              val s = st.segs
              val h = s.head; val l = s.last
              var b = st.acc.withEdges(h.f1, h.f2, l.l1, l.l2, h.fSgn, l.lSgn)
              var i = 1
              while (i < s.length) {
                val x = s(i - 1); val y = s(i)
                b = TokenState.bridge(b, x.l1, x.l2, x.lSgn, y.f1, y.f2, y.fSgn)
                i += 1
              }
              b
            }
            Iterator.single(Out(key._1, key._2, p, st.rowsIn, st.tokensIn,
              st.overflowed))
          }
        })
      .select(col("source"), col("bucketS"), col("P.*"), col("rows_in"),
        col("tokens_in"), col("overflow"))
  }

  /** Two-pointer merge of sorted boundary-tuple runs (ties: existing
    * first — both orders are stable under the strict (ts, docId) key,
    * which is unique per row). O(m + k), allocation-exact. */
  private[graft] def mergeSorted(a: Vector[StreamingDiff.Seg],
                                 b: Vector[StreamingDiff.Seg]): Vector[StreamingDiff.Seg] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = Vector.newBuilder[StreamingDiff.Seg]
    out.sizeHint(a.size + b.size)
    var i = 0; var j = 0
    while (i < a.size && j < b.size) {
      val x = a(i); val y = b(j)
      val cmp = if (x.ts != y.ts) java.lang.Long.compare(x.ts, y.ts)
                else x.docId.compareTo(y.docId)
      if (cmp <= 0) { out += x; i += 1 } else { out += y; j += 1 }
    }
    while (i < a.size) { out += a(i); i += 1 }
    while (j < b.size) { out += b(j); j += 1 }
    out.result()
  }

  /** Start the diff tier into its memory sink without awaiting (the
    * caller awaits or stops the returned query). */
  def startOnceDiff(spark: SparkSession, sourceDir: String, win: String,
                    watermark: String, scale: Double, queryName: String,
                    maxSegs: Int = 1 << 17): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(sourceDir).schema
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    diffTier(stream, win, watermark, scale, maxSegs)
      .writeStream.outputMode("update")
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Collapse a finished diff run's Update-mode emission log to the final
    * (max rows_in) state per key. */
  def collapseDiff(spark: SparkSession, queryName: String): DataFrame = {
    val t = spark.table(queryName)
    val outCols = t.columns.filterNot(c => c == "source" || c == "bucketS")
    t.groupBy(col("source"), col("bucketS"))
      .agg(max_by(struct(outCols.map(col): _*), col("rows_in")).as("o"))
      .select(col("source") +: col("bucketS") +:
        outCols.map(c => col(s"o.$c").as(c)): _*)
  }

  /** Bounded-source synchronous run of the diff tier; emissions are
    * deduplicated to the final (max rows_in) state per key. */
  def runOnceDiff(spark: SparkSession, sourceDir: String, win: String,
                  watermark: String, scale: Double, queryName: String,
                  maxSegs: Int = 1 << 17): DataFrame = {
    startOnceDiff(spark, sourceDir, win, watermark, scale, queryName, maxSegs)
      .awaitTermination()
    collapseDiff(spark, queryName)
  }

  /** Diff tier with automatic hot-window batch fallback: windows the
    * stateful operator flagged as overflowed are recomputed by the batch
    * cascade over the same source and unioned back — the streamed subset
    * and the batch subset carry the identical state algebra, so the
    * combined frame equals an all-batch run. The overflowed-key set is
    * tiny by construction (only windows hotter than maxSegs), hence the
    * broadcast semi-join. */
  def runOnceDiffWithBatchFallback(spark: SparkSession, sourceDir: String,
                                   win: String, watermark: String,
                                   scale: Double, queryName: String,
                                   maxSegs: Int = 1 << 17): DataFrame =
    diffWithBatchFallback(spark,
      runOnceDiff(spark, sourceDir, win, watermark, scale, queryName, maxSegs),
      sourceDir, win, scale)

  /** The overflow-union step alone, over an already-collapsed diff frame
    * (callers that started the stream themselves — see startOnceDiff). */
  def diffWithBatchFallback(spark: SparkSession, streamed: DataFrame,
                            sourceDir: String, win: String,
                            scale: Double): DataFrame = {
    val ok = streamed.where(!col("overflow")).drop("overflow")
    val overKeys = streamed.where(col("overflow"))
      .select(col("source"), col("bucketS"))
    if (overKeys.isEmpty) return ok
    val src = spark.read.parquet(sourceDir)
    val batch = graft.engine.TokenRollup
      .mergeToBuckets(graft.engine.TokenRollup.rowStates(src, scale), win,
        Seq("event_time", "doc_id"))
      .select(Seq(col("source"), unix_timestamp(col("bucket")).as("bucketS")) ++
        graft.engine.TokenRollup.StateFields.map(f => col(s"P.$f").as(f)) ++
        Seq(col("rows_in"), col("tokens_in")): _*)
    ok.unionByName(
      batch.join(broadcast(overKeys), Seq("source", "bucketS")))
  }
}

/** Typed rows for the stateful diff tier. */
object StreamingDiff {
  final case class Seg(ts: Long, docId: String, f1: Double, f2: Double,
                       l1: Double, l2: Double, fSgn: Int, lSgn: Int)
  final case class St(segs: Vector[Seg], acc: TokenSums, rowsIn: Long,
                      tokensIn: Long, overflowed: Boolean)
  final case class In(source: String, bucketS: Long, ts: Long,
                      doc_id: String, event_time: java.sql.Timestamp,
                      P: TokenState, rowTokens: Long)
  final case class Out(source: String, bucketS: Long, P: TokenState,
                       rows_in: Long, tokens_in: Long, overflow: Boolean)
}
