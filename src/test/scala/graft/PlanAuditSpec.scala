package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression gates for the scale-critical operators: the
  * r2 verdict's scale-killers were all PLAN shapes (a row_number window
  * shuffling every ANN candidate, vectors riding the near-dup pair
  * exchange, unbounded collect_list state). These tests pin the fixed
  * shapes so a refactor cannot silently reintroduce them. */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {
  val sfDir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString
  }

  test("ANN top-k: map-side bounded heap + broadcast queries, no window") {
    val p = plan("q_ann_cosine_top1")
    assert(p.contains("partial_graft_bounded_sorted_collect"),
      "top-k must partially aggregate map-side")
    assert(p.contains("BroadcastExchange"), "query side must broadcast")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "),
      "no per-query window over the full candidate set")
  }

  test("IVF top-1: min_by partial aggregate, no window") {
    val p = plan("q_ann_ivf_top1")
    assert(p.contains("partial_min_by"))
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "))
  }

  test("minhash LSH: hot-bucket cap is a map-side bounded collect, " +
    "no window, signatures stay off the bucket exchange") {
    val p = plan("q_dedup_minhash")
    assert(p.contains("partial_graft_bounded_sorted_collect"),
      "the per-bucket cap must partially aggregate map-side")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "),
      "no row_number window sorting a whole hot bucket in one task")
    // the bucket-cap exchange must carry only (band, bucket, doc_id)
    // partials — the 64-slot signature joins back per DISTINCT pair later
    val aggIdx = p.indexOf("partial_graft_bounded_sorted_collect")
    assert(!p.substring(aggIdx, math.min(p.length, aggIdx + 300))
      .contains("sig"), "signatures must not ride the bucket exchange")
  }

  test("embedding near-dup: vectors stay off the band-bucket exchange; " +
    "pair dedup partial-aggregates; cosine once per distinct pair") {
    val p = plan("q_embed_near_dup")
    // pair dedup = keys-only hash aggregate (map-side partials included)
    assert("""HashAggregate\(keys=\[id_a#\d+L?, id_b#\d+L?\], functions=\[\]""".r
      .findFirstIn(p).isDefined,
      s"distinct candidate pairs must partial-aggregate on the 16-byte ids:\n$p")
    // no Project feeding the banded self-join may carry the vector column
    // alongside band/bucket — at 100 TB that shipped every vector 8x
    assert("""Project \[[^\]]*band#[^\]]*\bv#\d+""".r.findFirstIn(p).isEmpty &&
      """Project \[[^\]]*\bv#\d+[^\]]*band#""".r.findFirstIn(p).isEmpty,
      s"vectors must not ride the band-bucket exchange:\n$p")
    // exact cosine evaluated per DISTINCT pair, never per band copy: at
    // most 2 plan occurrences (the threshold Filter pushed below the
    // Project re-states the expression — one extra evaluation per
    // surviving pair), versus 8 per-copy evaluations pre-distinct
    assert("graft_cosine".r.findAllMatchIn(p).size <= 2,
      s"cosine must run per distinct pair, not per band copy:\n$p")
  }

  test("linear gap-fill: one Window serves both directional scans, " +
    "grid joins by broadcast, bounded hash exchanges") {
    val p = plan("q_gapfill_linear_1h")
    val windowNodes = "\\bWindow \\[".r.findAllMatchIn(p).size
    assert(windowNodes == 1,
      s"forward+backward gap-fill scans must share ONE Window (same " +
        s"partitioning + ordering), got $windowNodes:\n$p")
    assert(p.contains("BroadcastExchange"),
      "the sparse rollup joins onto the dense grid by broadcast")
    val hashExchanges = "hashpartitioning\\(".r.findAllMatchIn(p).size
    assert(hashExchanges <= 3,
      s"gap-fill plan hash-shuffled $hashExchanges times:\n$p")
  }

  test("tier merge: mergeToBuckets hashes once on (source, bucket), no Window") {
    spark.sparkContext.setLogLevel("ERROR")
    val states = graft.engine.TokenRollup.rowStates(
      graft.gen.TokenGen.bulk(spark, 200, nSources = 4, minLen = 16, maxLen = 64), 1.0)
    val p = graft.engine.TokenRollup.mergeToBuckets(states, "1 minute",
      Seq("event_time", "doc_id")).queryExecution.executedPlan.toString
    assert("Exchange ".r.findAllMatchIn(p).size == 1 &&
      "Exchange hashpartitioning\\(source#\\d+, \\(".r.findFirstIn(p).isDefined,
      s"the merge must shuffle once, by hash on (source, bucket):\n$p")
    assert(!p.contains("Window"), s"no Window in the merge:\n$p")
  }

  test("tier fold: one hash exchange on (source, day), no Window") {
    spark.sparkContext.setLogLevel("ERROR")
    import graft.engine.{Rollup, TierFold, TokenRollup}
    // the fold exactly as RollupJob builds it for a clean run
    val units = TierFold.rowUnits(TokenRollup.rowStates(
      graft.gen.TokenGen.bulk(spark, 200, nSources = 4, minLen = 16, maxLen = 64), 1.0), 0)
    val fold = TierFold(units, Rollup.Tiers.map { case (_, w) => TierFold.micros(w) },
      Rollup.Tiers.map(_ => (_: Long) => true))
    val p = fold.queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllMatchIn(p).size
    val day = TierFold.micros("1 day")
    val hashes = s"Exchange hashpartitioning\\(source#\\d+, \\(ts#\\d+L? - pmod\\(ts#\\d+L?, ${day}\\)\\)"
      .r.findAllMatchIn(p).size
    assert(exchanges == 1 && hashes == 1,
      s"the fold must shuffle once, by hash on (source, day):\n$p")
    assert(!p.contains("Window"), s"no Window in the tier fold:\n$p")
  }

  test("sequence packing: the data-sized running sum is per-(source, " +
    "range-partition), never a per-source single-task window") {
    val p = plan("q_pack_sequences")
    assert(p.contains("rangepartitioning(source"),
      s"token rows must be range-partitioned on (source, doc_id):\n$p")
    assert(p.contains("BroadcastExchange"),
      s"partition offsets must broadcast back, not shuffle the data:\n$p")
    // the doc_id-ordered (data-sized) window must be partitioned by
    // (source, pid) — bounded per-task work at any corpus size
    assert("""\], \[source#\d+, pid#\d+\], \[doc_id#""".r
      .findFirstIn(p).isDefined,
      s"running sum must window over (source, pid):\n$p")
    // any Window partitioned by source ALONE may only scan the
    // per-partition subtotals (ordered by pid) — a doc_id-ordered one
    // would be the r5 scale-killer reintroduced
    val soloSourceOrders = """\], \[source#\d+\], \[(\w+)#""".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(soloSourceOrders.forall(_ == "pid"),
      s"per-source window over data rows (order cols $soloSourceOrders):\n$p")
  }

  test("raw-tier projection: column pruning reaches the parquet scan") {
    import org.apache.spark.sql.functions._
    val tokens = spark.read.parquet(s"$sfDir/events.parquet")
    // pruning check on a real parquet scan: select 2 of 5 columns
    val df = tokens.select(col("user_id"), col("value"))
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<user_id") &&
      !scan.contains("event_type"), s"scan not pruned:\n$scan")
  }
}
