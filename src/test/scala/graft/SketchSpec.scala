package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{hll_distinct, mg_topk}

/** Sketch aggregates: exactness certificates in the gated regime, bounded
  * error + bounded state in the 100 TB regime, and merge determinism
  * across partitionings (the property that makes them safe under AQE
  * re-plans and speculative retries).
  */
class SketchSpec extends AnyFunSuite with SparkSpec {
  test("hll sparse regime is exact and partitioning-invariant") {
    import spark.implicits._
    val n = 3000
    // 700 distinct keys, skewed repetition, shuffled deterministically
    val rows = (0 until n).map(i => (i % 7, (i * 2654435761L) % 700))
    val exact = rows.map(_._2).distinct.size.toLong
    for (parts <- Seq(1, 3, 8)) {
      val df = rows.toDF("g", "k").repartition(parts)
      val out = df.agg(hll_distinct(xxhash64(col("k"))).as("d"))
        .collect()(0).getLong(0)
      assert(out == exact, s"parts=$parts")
    }
    // grouped: per-group exact too
    val grouped = rows.toDF("g", "k").groupBy("g")
      .agg(hll_distinct(xxhash64(col("k"))).as("d"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val truth = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(_._2).distinct.size.toLong }
    assert(grouped == truth)
  }

  test("hll dense regime: <2% error at 50k distinct, sparse/dense merges agree") {
    import spark.implicits._
    val distinct = 50000
    val df = (0 until distinct).flatMap(i => Seq(i, i)).toDF("k")
    // sparseMax 512 forces dense conversion mid-stream; partial buffers
    // on different partitions will be a sparse/dense mixture at merge
    val est = df.repartition(8)
      .agg(hll_distinct(xxhash64(col("k")), sparseMax = 512).as("d"))
      .collect()(0).getLong(0)
    val err = math.abs(est - distinct).toDouble / distinct
    assert(err < 0.02, s"est=$est err=$err")
    // determinism across partition counts (order-insensitive registers)
    val est2 = df.repartition(3)
      .agg(hll_distinct(xxhash64(col("k")), sparseMax = 512).as("d"))
      .collect()(0).getLong(0)
    assert(est == est2)
  }

  test("misra-gries under capacity: exact counts, err_bound 0, sorted output") {
    import spark.implicits._
    // 26 distinct words, zipf-ish counts, capacity 64 -> no eviction ever
    val words = ('a' to 'z').zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(260 - i * 10)(c.toString) }
    val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val out = words.toDF("w").repartition(5)
      .agg(mg_topk(col("w"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select("e.item", "e.est_count", "e.err_bound")
      .collect()
    assert(out.length == truth.size)
    out.foreach { case Row(item: String, cnt: Long, err: Long) =>
      assert(err == 0L, s"$item err=$err")
      assert(cnt == truth(item), s"$item")
    }
    // descending count, item tiebreak ascending
    val counts = out.map(_.getLong(1)).toSeq
    assert(counts == counts.sorted.reverse)
  }

  test("misra-gries over capacity: MG error bound holds and heavy item survives") {
    import spark.implicits._
    // one heavy key (40%) + 500 singletons-ish, capacity 16
    val heavy = Seq.fill(2000)("HEAVY")
    val tail = (0 until 3000).map(i => s"t${i % 500}")
    val rows = (heavy ++ tail).toDF("w").repartition(7)
    val out = rows.agg(mg_topk(col("w"), 16).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select("e.item", "e.est_count", "e.err_bound")
      .collect()
    assert(out.length <= 16)
    val n = heavy.size + tail.size
    out.foreach { case Row(item: String, cnt: Long, err: Long) =>
      val truth = if (item == "HEAVY") 2000L else tail.count(_ == item).toLong
      assert(cnt <= truth, s"$item overestimates")
      assert(cnt >= truth - err, s"$item below err bound")
    }
    val top = out.head
    assert(top.getString(0) == "HEAVY", "heavy hitter must survive eviction")
    // MG guarantee: any item with true freq > n/(cap+1) is present
    assert(2000 > n / 17)
  }

  test("dyadic quantiles exact regime: bit-equal to duckdb-style " +
    "interpolation over the sorted multiset, bin_width 1") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val vals = Seq.fill(5000)((rng.nextInt(6000) - 3000).toLong)
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    def truth(q: Double): Double = {
      val s = vals.sorted.map(_.toDouble)
      val idx = q * (s.length - 1).toDouble
      val lo = math.floor(idx)
      val f = idx - lo
      val a = s(lo.toInt); val b = s(math.min(lo.toInt + 1, s.length - 1))
      a * (1.0 - f) + b * f
    }
    for (parts <- Seq(1, 4, 9)) {
      val row = vals.toDF("v").repartition(parts)
        .agg(graft.functions.dyadic_quantiles(col("v"), 8192, qs).as("q"))
        .select("q.quantiles", "q.bin_width").collect()(0)
      val got = row.getSeq[Double](0)
      assert(row.getLong(1) == 1L, "exact regime must certify bin_width 1")
      qs.indices.foreach(i => assert(got(i) == truth(qs(i)),
        s"parts=$parts q=${qs(i)}: ${got(i)} != ${truth(qs(i))}"))
    }
  }

  test("dyadic quantiles over capacity: bounded bins, error <= bin_width, " +
    "partitioning-invariant") {
    import spark.implicits._
    // 100k distinct values, capacity 256 -> forced coarsening
    val vals = (0 until 100000).map(i => ((i * 2654435761L) % 100000))
    val qs = Seq(0.25, 0.5, 0.75)
    def run(parts: Int) = vals.toDF("v").repartition(parts)
      .agg(graft.functions.dyadic_quantiles(col("v"), 256, qs).as("q"))
      .select("q.quantiles", "q.bin_width").collect()(0)
    val r1 = run(3); val r2 = run(8)
    val width = r1.getLong(1)
    assert(width > 1L && width <= (100000L / 256L + 1L) * 4L,
      s"width $width out of expected range")
    // deterministic: the collapse level depends only on the value SET
    assert(r1.getSeq[Double](0) == r2.getSeq[Double](0) &&
      r1.getLong(1) == r2.getLong(1))
    // one-bin-width error bound vs the exact quantile
    val sorted = vals.sorted.map(_.toDouble)
    qs.zipWithIndex.foreach { case (q, i) =>
      val idx = q * (sorted.length - 1).toDouble
      val truth = sorted(math.floor(idx).toInt)
      assert(math.abs(r1.getSeq[Double](0)(i) - truth) <= width.toDouble,
        s"q=$q est=${r1.getSeq[Double](0)(i)} truth=$truth width=$width")
    }
  }

  test("sketch plan: partial aggregates before the exchange, no raw-value shuffle") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i % 3, s"w${i % 40}")).toDF("g", "w")
    val plan = df.groupBy("g")
      .agg(hll_distinct(xxhash64(col("w"))).as("d"),
        mg_topk(col("w"), 64).as("hh"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_hll_distinct"),
      "hll must partially aggregate map-side")
    assert(plan.contains("partial_graft_mg_topk"),
      "mg must partially aggregate map-side")
  }

  test("hll NULL semantics: null_safe_hash64 matches count(DISTINCT); " +
    "bare xxhash64 would count NULL as a value") {
    import spark.implicits._
    val df = Seq(Some("a"), Some("b"), None, Some("a"), None)
      .toDF("k")
    val viaNullSafe = df
      .agg(hll_distinct(graft.functions.null_safe_hash64(col("k"))).as("d"))
      .collect()(0).getLong(0)
    val exact = df.agg(countDistinct(col("k"))).collect()(0).getLong(0)
    assert(viaNullSafe == exact && exact == 2L)
    // the hazard this guards against: xxhash64(NULL) = seed, a distinct value
    val viaBare = df.agg(hll_distinct(xxhash64(col("k"))).as("d"))
      .collect()(0).getLong(0)
    assert(viaBare == 3L)
  }
}
