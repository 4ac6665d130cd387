package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TokenState
import graft.engine.{RollupJob, TierFold, TokenRollup}
import graft.gen.SplitMix64
import graft.gen.TokenGen.Doc
import graft.table.TableIO

/** RollupJob's one-pass fold across partition edges. Each spec runs with
  * many shuffle partitions and AQE coalescing off: at the default settings
  * AQE coalesces spec-sized data into one partition and no edge is cut. */
class TierFoldSpec extends AnyFunSuite with SparkSpec {
  private val Tiers = Seq("1m", "1h", "1d")
  private val Wins = Seq("1 minute", "1 hour", "1 day")
  private val T0 = 1704067200L // 2024-01-01T00:00:00Z

  import TierFoldSpec.{Key, St}

  private def withPartitions[T](n: Int)(body: => T): T = {
    val set = Seq("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Run RollupJob and return the edge rows its fold collected; asserts
    * that the fold emitted each minute once, from one task. */
  private def runJob(tokens: DataFrame, conf: RollupJob.Conf): Seq[TierFold.Piece] = {
    var edges = Seq.empty[TierFold.Piece]
    var split = -1L
    TierFold.onEdges = { (fold, e) =>
      edges = e
      split = fold.where(col("level") === 0).groupBy("source", "bucket").count()
        .where(col("count") > 1).count()
    }
    try RollupJob.run(spark, tokens, conf) finally TierFold.onEdges = (_, _) => ()
    assert(split == 0, s"$split minutes came from more than one fold task")
    edges
  }

  /** (level, source, bucket) of every bucket whose pieces came from at
    * least two fold partitions: each partition it spans flags it an edge. */
  private def cuts(edges: Seq[TierFold.Piece]): Set[(Int, String, Long)] =
    edges.filter(_.edge).groupBy(p => (p.level, p.source, p.bucket))
      .collect { case (k, ps) if ps.size >= 2 => k }.toSet

  /** Rows at `perMinute` seconds-spread slots of the given minutes of
    * hours 0, 5 and 23 on two days, for two sources; 2-20 tokens each. */
  private def corpus(minutes: Seq[Int], perMinute: Int, tok: SplitMix64 => Int,
                     days: Seq[Int] = Seq(0, 1), seed: Long = 5L): Seq[Doc] = {
    val rng = new SplitMix64(seed)
    for (src <- Seq("s0", "s1"); d <- days; h <- Seq(0, 5, 23); m <- minutes;
         i <- 0 until perMinute) yield {
      val toks = Array.fill(2 + rng.nextInt(19))(tok(rng))
      val s = T0 + d * 86400L + h * 3600L + m * 60L + i * 59L / perMinute
      Doc(f"$src/$d/$h%02d$m%02d/$i%03d", toks, toks.length, src,
        new java.sql.Timestamp(s * 1000L))
    }
  }

  private def frame(docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.toDF()
  }

  private val small: SplitMix64 => Int = r => r.nextInt(2047) - 1023
  private val full: SplitMix64 => Int = r => r.nextLong().toInt

  private def states(df: DataFrame): Map[Key, St] = {
    import spark.implicits._
    df.select(col("source"), unix_micros(col("bucket")), col("P"), col("rows_in"),
      col("tokens_in")).as[(String, Long, TokenState, Long, Long)].collect()
      .map { case (s, b, p, r, t) => (s, b) -> St(p, r, t) }.toMap
  }

  private def tableStates(root: String): Seq[Map[Key, St]] = {
    val io = new TableIO(root)
    Tiers.map(t => states(io.read(spark, t).get))
  }

  /** The 1m states on the driver: each (source, minute)'s row states,
    * collected, sorted by (ts, doc_id) and joined with `reduceLeft(_ ++ _)`. */
  private def driverMinutes(tokens: DataFrame, scale: Double): Map[Key, St] = {
    import spark.implicits._
    val w = TierFold.micros(Wins(0))
    TokenRollup.rowStates(tokens, scale)
      .select(col("source"), unix_micros(col("event_time")), col("doc_id"), col("P"),
        col("row_tokens")).as[(String, Long, String, TokenState, Long)].collect().toSeq
      .groupBy { case (s, ts, _, _, _) => (s, Math.floorDiv(ts, w) * w) }
      .map { case (k, rows) =>
        val sorted = rows.sortBy { case (_, ts, d, _, _) => (ts, d) }
        k -> St(sorted.map(_._4).reduceLeft(_ ++ _), rows.size, rows.map(_._5).sum)
      }
  }

  private def fields(s: TokenState): Seq[(String, Any)] =
    s.productElementNames.toSeq.zip(s.productIterator.toSeq)

  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case v => v
  }

  /** Fields of `a` that differ from `b` in any bit. */
  private def diff(a: St, b: St): Seq[String] =
    fields(a.P).zip(fields(b.P)).collect {
      case ((f, x), (_, y)) if bits(x) != bits(y) => f
    } ++ Seq("rows_in" -> (a.rows != b.rows), "tokens_in" -> (a.tokens != b.tokens))
      .collect { case (f, true) => f }

  private def assertSame(got: Seq[Map[Key, St]], want: Seq[Map[Key, St]],
                         tiers: Seq[String] = Tiers): Unit =
    for (j <- tiers.indices) {
      assert(got(j).keySet == want(j).keySet && got(j).nonEmpty, s"${tiers(j)} keys")
      val bad = want(j).toSeq.flatMap { case (k, w) =>
        val d = diff(got(j)(k), w)
        if (d.isEmpty) None else Some(k -> d)
      }
      assert(bad.isEmpty, s"${tiers(j)}: ${bad.size} buckets differ, e.g. ${bad.take(3)}")
    }

  /** Every tier-j state (j >= 1) is the left fold of its tier-(j-1)
    * states in bucket order, bit for bit. */
  private def assertLeftFolds(tiers: Seq[Map[Key, St]]): Unit =
    for (j <- 1 until Tiers.size) {
      val w = TierFold.micros(Wins(j))
      val folded = tiers(j - 1).toSeq.groupBy { case ((s, b), _) => (s, Math.floorDiv(b, w) * w) }
        .map { case (k, kids) => k -> kids.sortBy(_._1._2).map(_._2).reduceLeft((a, b) =>
          St(a.P ++ b.P, a.rows + b.rows, a.tokens + b.tokens)) }
      assertSame(Seq(tiers(j)), Seq(folded), tiers = Seq(s"${Tiers(j)} as a left fold"))
    }

  for ((tok, scale, label) <- Seq((small, 1.0, "|t| < 2^10 (scale 1.0)"),
    (small, 1.0 / (1 << 24), "|t| < 2^10 (scale 2^-24)"),
    (full, 1.0 / (1 << 24), "full-range int32 (scale 2^-24)"))) {
    test(s"fold == driver-side left fold across partition edges, bit for bit " +
      s"for $label") {
      spark.sparkContext.setLogLevel("ERROR")
      val tokens = frame(corpus(Seq(0, 1, 17, 30, 59), 12, tok))
      val root = Files.createTempDirectory("graft_fold").toString
      val edges = withPartitions(16)(runJob(tokens,
        RollupJob.Conf(tableRoot = root, scale = scale)))
      val cut = cuts(edges).map(_._1)
      assert(cut == Set(1, 2), s"cuts at levels $cut")
      val got = tableStates(root)
      assertSame(got.take(1), Seq(driverMinutes(tokens, scale)), Tiers.take(1))
      assertLeftFolds(got)
    }
  }

  test("one run, mixed repair levels: a day pending at every tier and a day " +
    "pending only at 1h/1d over its committed 1m equal a clean run") {
    spark.sparkContext.setLogLevel("ERROR")
    val scale = 1.0 / (1 << 24)
    // full-range tokens: day A many rows per minute, day B one row per
    // (source, minute), so B's hours depend on the order of their left
    // fold
    val dayA = corpus(Seq(0, 1, 17, 30, 59), 12, full, days = Seq(0))
    val dayB = corpus(0 until 60 by 2, 1, full, days = Seq(1), seed = 9L)
    val both = frame(dayA ++ dayB)
    val clean = Files.createTempDirectory("graft_mixed_clean").toString
    val repaired = Files.createTempDirectory("graft_mixed_repair").toString
    val conf = RollupJob.Conf(tableRoot = clean, scale = scale, jobId = "j")
    // the clean run cuts elsewhere (7 partitions), so equality also shows
    // that the result does not depend on where the edges fall
    withPartitions(7)(runJob(both, conf))
    val edges = withPartitions(16) {
      runJob(frame(dayB), conf.copy(tableRoot = repaired, tiers = Seq("1m" -> "1 minute")))
      // B's tokens are zeroed: a tier folded from its raw rows instead of
      // its committed 1m states would differ from the clean run
      val zeroedB = frame(dayA).unionByName(frame(dayB)
        .withColumn("tokens", transform(col("tokens"), x => x - x)))
      runJob(zeroedB, conf.copy(tableRoot = repaired))
    }
    val dayBMicros = (T0 + 86400L) * 1000000L
    assert(cuts(edges).exists { case (l, _, b) => l == 1 && b >= dayBMicros },
      "no hour of the repair day was cut")
    val (a, b) = (new TableIO(clean), new TableIO(repaired))
    assert(b.doneBuckets("1h") == Set(T0, T0 + 86400L))
    for (t <- Tiers.flatMap(t => Seq(t, s"$t-chunks"))) {
      val x = a.read(spark, t).get
      val y = b.read(spark, t).get
      assert(x.count() > 0 && x.exceptAll(y).count() == 0 &&
        y.exceptAll(x).count() == 0, s"$t differs from the clean run")
    }
    for (t <- Tiers) {
      def lineage(io: TableIO) = io.lineageLines().filter(_.contains(s"\"tier\":\"$t\"")).sorted
      assert(lineage(a).size == 2 && lineage(a) == lineage(b), s"$t lineage")
    }
  }

  test("full-range tokens, more rows per input partition than the range " +
    "sampler keeps: two partition counts give the same tiers bit for bit") {
    spark.sparkContext.setLogLevel("ERROR")
    val scale = 1.0 / (1 << 24)
    val tokens = frame(corpus(0 until 60, 4, full, seed = 13L))
    val inParts = tokens.rdd.getNumPartitions
    val runs = Seq(16, 5).map { n =>
      // RangePartitioner samples ~3 x 20 x n / inParts rows per input
      // partition; beyond that the bounds move with the sampler's seed
      assert(tokens.count() / inParts > math.ceil(3.0 * 20 * n / inParts),
        "the input partitions must outgrow the sample")
      val root = Files.createTempDirectory(s"graft_fold_p$n").toString
      val edges = withPartitions(n)(runJob(tokens,
        RollupJob.Conf(tableRoot = root, scale = scale)))
      (cuts(edges), tableStates(root))
    }
    assert(runs.forall(_._1.map(_._1) == Set(1, 2)) && runs(0)._1 != runs(1)._1,
      s"cuts ${runs.map(_._1.size)}")
    assertSame(runs(0)._2, runs(1)._2)
    assertLeftFolds(runs(0)._2)
  }
}

object TierFoldSpec {
  type Key = (String, Long) // (source, bucket start in epoch micros)
  final case class St(P: TokenState, rows: Long, tokens: Long)
}
