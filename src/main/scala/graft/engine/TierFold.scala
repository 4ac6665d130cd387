package graft.engine

import scala.collection.mutable.Queue

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.PreciseTimestampConversion
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.TokenState

/** One ordered pass builds every tier: the units are hash-partitioned
  * once on (source, coarsest bucket) and sorted within partitions on
  * (source, ts, doc_id), and one `mapPartitions` fold emits the 1m, 1h and
  * 1d bucket states together (*Factor Windows*, ICDE 2022: correlated
  * window sizes share one scan and one sort).
  *
  * Units. A unit enters at a level: a row state at level 0, a committed
  * tier-(k-1) state at level k (a day whose finest pending tier is k; its
  * ts is the bucket start, doc_id ""). Each level holds one open (source,
  * bucket); closing a level-j bucket emits it (when its day is pending at
  * tier j) and feeds it with `++` into level j+1, under floor(start / W)·W,
  * the bucket `window()` assigns. So every tier-j state (j >= 1) is the
  * left fold of its tier-(j-1) states in bucket order, and a task holds
  * one open bucket per level, never a partition.
  *
  * Partitioning. The hash key is (source, coarsest bucket): the UTC day
  * for RollupJob's tiers. Every bucket of every level then lies whole in
  * one task, so each state is the sequential fold of its units whatever
  * the partition count, and nothing is rebuilt from pieces: a repair from
  * committed 1m states equals a clean run bit for bit. The unit of
  * parallelism is one (source, coarsest bucket).
  *
  * `TokenRollup.mergeToBuckets`/`cascade` run the fold with one window,
  * so their hash key is the bucket itself.
  */
private[graft] object TierFold {

  /** A unit of fold input, at the level where it enters. */
  final case class Entry(source: String, ts: Long, doc_id: String, level: Int,
                         P: TokenState, rows: Long, tokens: Long)

  /** A tier-`level` bucket state (bucket start in epoch micros). */
  final case class Piece(level: Int, source: String, bucket: Long, P: TokenState,
                         rows_in: Long, tokens_in: Long)

  private val DayMicros = 86400L * 1000000L

  /** A fixed window such as "1 hour" in microseconds. */
  def micros(win: String): Long =
    IntervalUtils.getDuration(IntervalUtils.stringToInterval(UTF8String.fromString(win)),
      java.util.concurrent.TimeUnit.MICROSECONDS)

  /** A TIMESTAMP or TIMESTAMP_NTZ column `c` of type `t` as epoch micros
    * and back, with no time-zone shift: the micros `window()` aligns. */
  def toMicros(c: Column, t: DataType): Column =
    ColumnBridge.column(PreciseTimestampConversion(ColumnBridge.expression(c), t, LongType))

  def fromMicros(c: Column, t: DataType): Column =
    ColumnBridge.column(PreciseTimestampConversion(ColumnBridge.expression(c), LongType, t))

  /** Row states (source, event_time, doc_id, P, row_tokens) as units
    * entering at `level`. A cascaded state carries `row_rows`, the source
    * rows it already holds; a unit with no `doc_id` orders by "" within
    * its timestamp. */
  def rowUnits(rows: DataFrame, level: Int): DataFrame = {
    def opt(c: String, absent: Column) = if (rows.columns.contains(c)) col(c) else absent
    rows.select(col("source"),
      toMicros(col("event_time"), rows.schema("event_time").dataType).as("ts"),
      opt("doc_id", lit("")).as("doc_id"), lit(level).as("level"), col("P"),
      opt("row_rows", lit(1L)).as("rows"),
      coalesce(col("row_tokens"), col("P.n")).as("tokens"))
  }

  /** Bucket states (source, bucket, P, rows_in, tokens_in) as units
    * entering at `level`, each at its bucket start. */
  def stateUnits(states: DataFrame, level: Int): DataFrame =
    rowUnits(states.select(col("source"), col("bucket").as("event_time"), col("P"),
      col("tokens_in").as("row_tokens"), col("rows_in").as("row_rows")), level)

  /** Fold `units` (source, ts, doc_id, level, P, rows, tokens) into the
    * pieces of every tier. `wins` are the tier windows in micros, finest
    * first, each dividing the next; `pending(j)` says which days (epoch
    * seconds) to emit at tier j. */
  def apply(units: DataFrame, wins: Seq[Long], pending: Seq[Long => Boolean]): DataFrame = {
    val w = wins.toArray
    val p = pending.toArray
    units.repartition(col("source"), col("ts") - pmod(col("ts"), lit(w.last)))
      .sortWithinPartitions("source", "ts", "doc_id")
      .as(Encoders.product[Entry])
      .mapPartitions(it => new Fold(w, p).run(it))(Encoders.product[Piece])
      .toDF()
  }

  /** The per-partition fold over sorted entries. */
  private final class Fold(wins: Array[Long], pending: Array[Long => Boolean]) {
    private final class Open(val source: String, val start: Long, var p: TokenState,
                             var rows: Long, var tokens: Long)
    private val n = wins.length
    private val open = new Array[Open](n)
    private val ready = Queue.empty[Piece]

    private def close(j: Int): Unit = {
      val o = open(j)
      open(j) = null
      val piece = Piece(j, o.source, o.start, o.p, o.rows, o.tokens)
      if (pending(j)(Math.floorDiv(o.start, DayMicros) * 86400L)) ready += piece
      if (j + 1 < n) feed(j + 1, piece)
    }

    /** Add `c` (a row at level 0, else a closed tier-(j-1) state) to level
      * j's open bucket, closing it first when `c` starts another. */
    private def feed(j: Int, c: Piece): Unit = {
      val start = Math.floorDiv(c.bucket, wins(j)) * wins(j)
      val o = open(j)
      if (o != null && o.start == start && o.source == c.source) {
        o.p = o.p ++ c.P
        o.rows += c.rows_in
        o.tokens += c.tokens_in
      } else {
        if (o != null) close(j)
        open(j) = new Open(c.source, start, c.P, c.rows_in, c.tokens_in)
      }
    }

    private def add(e: Entry): Unit = {
      // everything open below the unit's level lies before it
      var j = 0
      while (j < e.level) { if (open(j) != null) close(j); j += 1 }
      feed(e.level, Piece(e.level - 1, e.source, e.ts, e.P, e.rows, e.tokens))
    }

    def run(in: Iterator[Entry]): Iterator[Piece] = new Iterator[Piece] {
      private var drained = false
      def hasNext: Boolean = {
        while (ready.isEmpty && !drained) {
          if (in.hasNext) add(in.next())
          else {
            for (j <- 0 until n) if (open(j) != null) close(j)
            drained = true
          }
        }
        ready.nonEmpty
      }
      def next(): Piece = {
        if (!hasNext) throw new NoSuchElementException("fold drained")
        ready.dequeue()
      }
    }
  }
}
