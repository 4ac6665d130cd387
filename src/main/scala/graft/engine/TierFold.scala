package graft.engine

import scala.collection.mutable.{ArrayBuffer, Queue}

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.PreciseTimestampConversion
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.TokenState

/** One ordered pass builds every tier: the units are range-partitioned
  * once on (source, 1m bucket) and sorted within partitions on (source,
  * ts, doc_id), and one `mapPartitions` fold emits the 1m, 1h and 1d
  * bucket states together (*Factor Windows*, ICDE 2022: correlated window
  * sizes share one scan and one sort).
  *
  * Units. A unit enters at a level: a row state at level 0, a committed
  * tier-(k-1) state at level k (a day whose finest pending tier is k; its
  * ts is the bucket start, doc_id ""). Each level holds one open (source,
  * bucket); closing a level-j bucket emits it and feeds it with `++` into
  * level j+1, under floor(start / W)·W, the bucket `window()` assigns. So
  * every tier-j state (j >= 1) is the left fold of its tier-(j-1) states
  * in bucket order. A level-j bucket waits for its parent to close before
  * it is emitted, so a task buffers at most the fan-out (60 minutes, 24
  * hours), never a partition.
  *
  * Edges. The range key never cuts a minute, so every 1m state is the
  * sequential fold of its rows in one task, whatever the range bounds.
  * Each partition flags its first and last bucket at every coarser level
  * (`edge`) and the children of those buckets (`child`); the driver
  * collects them and `combine` rebuilds every flagged bucket as the
  * in-order `++` of its complete children. Joining coarser pieces directly
  * would reassociate the summed fields: the result would then depend on
  * where the cuts fall, and a repair from committed 1m states would differ
  * from a clean run in the last bits.
  *
  * `TokenRollup.mergeToBuckets`/`cascade` run the fold with one window:
  * the range key is then the bucket itself, so no bucket is cut and no
  * piece is an edge.
  */
private[graft] object TierFold {

  /** A unit of fold input, at the level where it enters. */
  final case class Entry(source: String, ts: Long, doc_id: String, level: Int,
                         P: TokenState, rows: Long, tokens: Long)

  /** A tier-`level` bucket state (bucket start in epoch micros). `out`:
    * its day is pending at that tier; `edge`: a coarser bucket first or
    * last in its partition, so possibly partial; `child`: its parent is an
    * edge. */
  final case class Piece(level: Int, source: String, bucket: Long, P: TokenState,
                         rows_in: Long, tokens_in: Long, out: Boolean,
                         edge: Boolean, child: Boolean)

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

  /** Called with each run's fold output and the edge rows the driver
    * collected (tests observe cuts through it: a cut bucket has an edge
    * piece from each partition it spans). */
  @volatile private[graft] var onEdges: (DataFrame, Seq[Piece]) => Unit = (_, _) => ()

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

  /** Fold `units` (source, ts, doc_id, level, P, rows, tokens) into every
    * tier's pieces. `wins` are the tier windows in micros, finest first;
    * `pending(j)` says which days (epoch seconds) to emit at tier j. */
  def apply(units: DataFrame, wins: Seq[Long], pending: Seq[Long => Boolean]): DataFrame = {
    val w = wins.toArray
    val p = pending.toArray
    units.repartitionByRange(col("source"), col("ts") - pmod(col("ts"), lit(w(0))))
      .sortWithinPartitions("source", "ts", "doc_id")
      .as(Encoders.product[Entry])
      .mapPartitions(it => new Fold(w, p).run(it))(Encoders.product[Piece])
      .toDF()
  }

  /** The exact state of every edge bucket, from the collected edge and
    * child rows: each rebuilt from its children, finest level first. 1m
    * pieces are never cut, so they enter whole. */
  def combine(rows: Seq[Piece], wins: Seq[Long]): Seq[Piece] = {
    val byLevel = rows.groupBy(_.level)
    val edges = ArrayBuffer.empty[Piece]
    var finer = byLevel.getOrElse(0, Nil)
    for (j <- 1 until wins.length) {
      val kids = finer.groupBy(k => (k.source, Math.floorDiv(k.bucket, wins(j)) * wins(j)))
      finer = byLevel.getOrElse(j, Nil).groupBy(p => (p.source, p.bucket)).toSeq.map {
        case (_, Seq(one)) if !one.edge => one
        case (key, ps) =>
          val ks = kids.getOrElse(key, sys.error(s"edge bucket $key at tier $j has no children"))
            .sortBy(_.bucket)
          val e = Piece(j, key._1, key._2, ks.map(_.P).reduceLeft(_ ++ _),
            ks.map(_.rows_in).sum, ks.map(_.tokens_in).sum, ps.head.out,
            edge = true, child = false)
          edges += e
          e
      }
    }
    edges.toSeq
  }

  /** The per-partition fold over sorted entries. */
  private final class Fold(wins: Array[Long], pending: Array[Long => Boolean]) {
    private final class Open(val source: String, val start: Long, var p: TokenState,
                             var rows: Long, var tokens: Long, val first: Boolean) {
      val kids = ArrayBuffer.empty[Piece]
    }
    private val n = wins.length
    private val open = new Array[Open](n)
    private val seen = new Array[Boolean](n)
    private val ready = Queue.empty[Piece]

    private def emit(p: Piece): Unit = if (p.out || p.edge || p.child) ready += p

    private def close(j: Int, last: Boolean): Unit = {
      val o = open(j)
      open(j) = null
      val edge = j > 0 && (o.first || last)
      o.kids.foreach(k => emit(k.copy(child = edge)))
      val day = Math.floorDiv(o.start, DayMicros) * 86400L
      val piece = Piece(j, o.source, o.start, o.p, o.rows, o.tokens,
        pending(j)(day), edge, child = false)
      if (j + 1 < n) feed(j + 1, piece) else emit(piece)
    }

    /** Add `c` (a row at level 0, else a closed tier-(j-1) state) to level
      * j's open bucket, closing it first when `c` starts another. */
    private def feed(j: Int, c: Piece): Unit = {
      val start = Math.floorDiv(c.bucket, wins(j)) * wins(j)
      var o = open(j)
      if (o != null && o.start == start && o.source == c.source) {
        o.p = o.p ++ c.P
        o.rows += c.rows_in
        o.tokens += c.tokens_in
      } else {
        if (o != null) close(j, last = false)
        o = new Open(c.source, start, c.P, c.rows_in, c.tokens_in, first = !seen(j))
        open(j) = o
        seen(j) = true
      }
      if (j > 0) o.kids += c
    }

    private def add(e: Entry): Unit = {
      // everything open below the unit's level lies before it
      var j = 0
      while (j < e.level) { if (open(j) != null) close(j, last = false); j += 1 }
      feed(e.level, Piece(e.level - 1, e.source, e.ts, e.P, e.rows, e.tokens,
        out = false, edge = false, child = false))
    }

    def run(in: Iterator[Entry]): Iterator[Piece] = new Iterator[Piece] {
      private var drained = false
      def hasNext: Boolean = {
        while (ready.isEmpty && !drained) {
          if (in.hasNext) add(in.next())
          else {
            for (j <- 0 until n) if (open(j) != null) close(j, last = true)
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
