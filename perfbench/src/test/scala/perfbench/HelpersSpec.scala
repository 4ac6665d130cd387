package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  private def tokenDigest(sh: TokenShape, seed: Long): Long =
    (0 until sh.nDocs).map(i => Gen.docHash(Gen.tokenDoc(sh, seed, i))).sum

  private def textDigest(sh: TextShape, seed: Long): Long =
    (0L until sh.nDocs).map { j =>
      val d = Gen.textDoc(seed, j)
      (d.text + "|" + d.source).hashCode.toLong * 31 + d.doc_id
    }.sum + (0L until sh.nVecs).map { j =>
      val v = Gen.vec(seed, j)
      scala.util.hashing.MurmurHash3.arrayHash(v.v).toLong * 31 + v.label
    }.sum

  test("token generator: same seed, same digest; new seed, new digest") {
    for (sh <- Seq(Workloads.LongShape.copy(nDocs = 200), Workloads.RowsShape.copy(nDocs = 2000),
                   Workloads.dayShape(31))) {
      assert(tokenDigest(sh, 7) == tokenDigest(sh, 7))
      assert(tokenDigest(sh, 7) != tokenDigest(sh, 8))
    }
  }

  test("token generator: doc i does not depend on the docs before it") {
    val sh = Workloads.LongShape
    val d = Gen.tokenDoc(sh, 3, 1234)
    (0 until 50).foreach(i => Gen.tokenDoc(sh, 3, i))
    val again = Gen.tokenDoc(sh, 3, 1234)
    assert(d.doc_id == again.doc_id && d.tokens.sameElements(again.tokens))
  }

  test("row-skew corpus puts the recorded share in one (source, minute)") {
    val sh = Workloads.RowsShape.copy(nDocs = 20000)
    val docs = (0 until sh.nDocs).map(Gen.tokenDoc(sh, 5, _))
    val hotStart = Gen.T0Ms + Gen.HotMinute * 60000L
    val hot = docs.count(d => d.source == "s0" &&
      d.event_time.getTime >= hotStart && d.event_time.getTime < hotStart + 60000)
    assert(math.abs(hot.toDouble / sh.nDocs - sh.hotShare) < 0.02)
    assert(docs.forall(d => d.n_tok >= sh.minLen && d.n_tok <= sh.maxLen))
  }

  test("prep generator: same seed, same digest; new seed, new digest") {
    val sh = Workloads.PrepShape.copy(nDocs = 500, nVecs = 200)
    assert(textDigest(sh, 11) == textDigest(sh, 11))
    assert(textDigest(sh, 11) != textDigest(sh, 12))
    val dups = (0L until 5000L).count(Gen.isNearDup(11, _))
    assert(math.abs(dups / 5000.0 - Gen.NearDupShare) < 0.02)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.beyond(40, 75) == 10)
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(39).isEmpty)
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(199).contains(90))
    assert(Stats.tailPercentile(200).contains(95))
    assert(Stats.tailPercentile(1000).contains(99))
  }

  test("quantile interpolates like the inclusive method") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.75) == 4.0)
  }

  test("interval union merges overlaps and touching ends") {
    assert(Stats.union(Seq((5.0, 6.0), (0.0, 2.0), (1.0, 3.0), (3.0, 4.0))) ==
      Seq((0.0, 4.0), (5.0, 6.0)))
    assert(Stats.union(Seq((1.0, 1.0))).isEmpty)
    assert(Stats.covered(Seq((0.0, 10.0), (2.0, 3.0), (20.0, 30.0)), 5.0, 25.0) == 10.0)
    assert(Stats.covered(Nil, 0.0, 1.0) == 0.0)
  }

  test("self time subtracts the union of child spans, not their sum") {
    val t = new Tracer
    t.spans ++= Seq(
      Span(0, -1, 1, "op", "bench", 0, 100),
      Span(1, 0, 1, "RollupJob.run", "engine", 10, 60),
      Span(2, 0, 1, "TableIO.readRange", "table", 50, 70),
      Span(3, 1, 1, "inner", "table", 20, 30))
    val self = t.selfTime
    assert(self("bench") == 0.040)                        // 100 - |[10, 70)|
    assert(self("engine") == 0.040)                       // 50 - 10
    assert(math.abs(self("table") - 0.030) < 1e-12)       // 20 + 10
  }

  test("jobs are attributed to the first graft frame of the call site") {
    val site = "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
      "graft.table.TableIO.commit(TableIO.scala:420)\n" +
      "graft.engine.RollupJob$.run(RollupJob.scala:120)"
    assert(JobLog.moduleOf(Seq(site)) == "table")
    assert(JobLog.moduleOf(Seq("graft.FeatureEngine$.extract(FeatureEngine.scala:9)")) == "graft")
    assert(JobLog.moduleOf(Seq("perfbench.Main$.force(Main.scala:3)")) == "bench")
  }
}
