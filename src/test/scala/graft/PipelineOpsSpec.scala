package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PipelineOps

/** Training-set assembly operators: packing conservation/determinism, the
  * decontamination collision contract + its broadcast plan shape, and
  * content-keyed split invariants.
  */
class PipelineOpsSpec extends AnyFunSuite with SparkSpec {
  private def docs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  test("packSequences: exact match against a sequential reference packing") {
    import spark.implicits._
    val rows = (0L until 60L).map { i =>
      val words = (1 + (i * 7 % 13)).toInt
      (i, Seq.fill(words)(s"w$i").mkString(" "), s"src${i % 3}")
    }
    val budget = 16
    val out = PipelineOps.packSequences(docs(rows), budget)
      .orderBy("source", "bin")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq

    // reference: per source in doc_id order, bin = floor(cumBefore/budget)
    val expected = rows.groupBy(_._3).toSeq.flatMap { case (src, rs) =>
      var cum = 0L
      val binned = rs.sortBy(_._1).map { case (id, text, _) =>
        val n = text.split("\\s+").length.toLong
        val b = cum / budget
        cum += n
        (b, id, n)
      }
      binned.groupBy(_._1).map { case (b, g) =>
        (src, b, g.size.toLong, g.map(_._3).sum,
          g.map(_._2).min, g.map(_._2).max)
      }
    }.sortBy(t => (t._1, t._2))
    assert(out == expected)
    // conservation: every token and doc lands in exactly one bin
    assert(out.map(_._4).sum ==
      rows.map(_._2.split("\\s+").length.toLong).sum)
    assert(out.map(_._3).sum == rows.size.toLong)
  }

  test("packSequences: skew soak — one source dominating the corpus still " +
    "matches the sequential reference (distributed prefix sum is exact)") {
    import spark.implicits._
    // hot source with 5000 docs vs two tiny cold ones, deterministically
    // interleaved and spread over 16 input partitions so the range
    // partitioner genuinely splits the hot source across several tasks —
    // the regime where the r5 per-source single-task window serialized
    val rows = ((0L until 5000L).map(i =>
        (i * 3, ("tok " * (1 + (i % 17)).toInt).trim, "hot")) ++
      (0L until 50L).map(i => (i * 3 + 1, "a b c", "cold1")) ++
      (0L until 50L).map(i => (i * 3 + 2, "d e", "cold2")))
      .sortBy(t => (t._1 * 2654435761L) % 101)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 16)).toDF("doc_id", "text", "source")
    val budget = 64
    val out = PipelineOps.packSequences(df, budget)
      .orderBy("source", "bin")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val expected = rows.groupBy(_._3).toSeq.flatMap { case (src, rs) =>
      var cum = 0L
      val binned = rs.sortBy(_._1).map { case (id, text, _) =>
        val n = text.split("\\s+").length.toLong
        val b = cum / budget
        cum += n
        (b, id, n)
      }
      binned.groupBy(_._1).map { case (b, g) =>
        (src, b, g.size.toLong, g.map(_._3).sum,
          g.map(_._2).min, g.map(_._2).max)
      }
    }.sortBy(t => (t._1, t._2))
    assert(out == expected)
  }

  test("decontaminate: planted shingle collision flagged, clean doc not; " +
    "held-out side broadcasts") {
    val train = docs(Seq(
      (1L, "alpha beta gamma delta epsilon", "s"),
      (2L, "one two three four five six", "s"),
      (3L, "totally unrelated content here now", "s")))
    val test = docs(Seq(
      (100L, "zzz alpha beta gamma qqq", "s"), // shares shingle "alpha beta gamma"
      (101L, "no overlap with anything", "s")))
    val out = PipelineOps.decontaminate(train, test)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(out.map(t => (t._1, t._3)) ==
      Seq((1L, true), (2L, false), (3L, false)))
    assert(out.head._2 >= 1L)
    // disable auto-broadcast so only the explicit broadcast() hint can
    // produce a BroadcastHashJoin — with the default 10 MB threshold the
    // tiny test relations would broadcast anyway and the assertion would
    // not guard the hint
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = PipelineOps.decontaminate(train, test)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        "held-out shingle set must broadcast (the 100 TB posture)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("splitAssign: deterministic, buckets bounded, content-keyed " +
    "(exact dups share a split across different doc_ids)") {
    val d = docs(Seq(
      (1L, "the quick brown fox jumps", "s"),
      (2L, "another document entirely", "s"),
      (999L, "the quick brown fox jumps", "s"))) // dup of doc 1
    val a = PipelineOps.splitAssign(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val b = PipelineOps.splitAssign(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(a == b)
    assert(a.forall(t => t._2 >= 0 && t._2 < 100))
    assert(a.forall(t => Set("train", "val", "test").contains(t._3)))
    val byId = a.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(1L) == byId(999L), "identical content must share a split")
  }
}
