package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnOps, DedupOps, SignalOps}
import graft.table.TableIO

/** Round-2 hardening: signal caps, manifest robustness, resume gap,
  * deterministic IVF, SQL-replicable fingerprints, multi-band LSH. */
class HardeningSpec extends AnyFunSuite with SparkSpec {
  val sfDir = "/root/testdata/sf0.001"

  test("eventSignals maxSeqLen cap: truncates to first K by (ts, event_id), flags") {
    spark.sparkContext.setLogLevel("ERROR")
    val capped = SignalOps.eventSignals(spark, sfDir, maxSeqLen = 10)
    val full = SignalOps.eventSignals(spark, sfDir)
    assert(capped.select(max(size(col("signal")))).head.getInt(0) <= 10)
    assert(capped.where(col("truncated")).count() ==
      full.where(size(col("signal")) > 10).count())
    // capped prefix == uncapped prefix for one user (order preserved)
    val u = full.where(size(col("signal")) > 10)
      .select(col("user_id"), col("signal")).head
    val c = capped.where(col("user_id") === u.getLong(0)).head
    assert(c.getSeq[Double](1) == u.getSeq[Double](1).take(10))
  }

  test("BoundedSortedCollect == slice(sort_array(collect_list)) across merges") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .repartition(13) // force partial states + merges + serde
    def viaAgg(k: Int) = ev.groupBy(col("user_id"))
      .agg(graft.functions.bounded_sorted_collect(
        struct(col("ts"), col("event_id"), col("value")), k).as("evs"))
      .select(col("user_id"), col("evs.value").as("signal"))
    def viaSort(k: Int) = ev.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("evs"))
      .select(col("user_id"), slice(col("evs.value"), 1, k).as("signal"))
    for (k <- Seq(5, 1 << 20)) {
      val a = viaAgg(k).collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val b = viaSort(k).collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      assert(a == b, s"k=$k")
    }
  }

  test("TableIO: quoted jobId round-trips; commit without commit_bucket rejected") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tio").toString
    val io = new TableIO(root)
    val df = Seq((1L, "a", 3.0)).toDF("commit_bucket", "source", "v")
    io.commit("t1", df, Seq(1L), jobId = """job "quoted" \ backslash""")
    assert(io.snapshots().head.jobId == """job "quoted" \ backslash""")
    assert(io.doneBuckets("t1") == Set(1L))
    val bad = Seq((1L, "a")).toDF("bucket", "source")
    intercept[IllegalArgumentException] {
      io.commit("t1", bad, Seq(2L), jobId = "j")
    }
    intercept[IllegalArgumentException] {
      io.commit("bad/tier", df, Seq(3L), jobId = "j")
    }
  }

  test("TableIO: two instances on one root commit concurrently in one " +
    "JVM — serialized ids, no OverlappingFileLockException") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val a = new TableIO(root)
    val b = new TableIO(root)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = Seq(a, b).zipWithIndex.map { case (io, t) =>
      new Thread(() => {
        try {
          (0 until 3).foreach { i =>
            val df = Seq((t * 10L + i, "s", 1.0)).toDF("commit_bucket", "source", "v")
            ids.add(io.commit("conc", df, Seq(t * 10L + i), s"job$t").id)
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent commit failed: ${errs.peek()}")
    import scala.jdk.CollectionConverters._
    val got = ids.asScala.toSeq
    assert(got.size == 6 && got.distinct.size == 6, s"ids collided: $got")
    assert(a.doneBuckets("conc").size == 6)
  }

  test("TableIO crash recovery: orphan snap dir reclaimed, torn manifest " +
    "tail skipped and sealed, undeclared commit_bucket filtered on read") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val io = new TableIO(root)
    val df1 = Seq((1L, "a", 1.0)).toDF("commit_bucket", "source", "v")
    io.commit("t", df1, Seq(1L), jobId = "j")
    // crash simulation 1: a snap dir renamed into place whose manifest
    // line never landed — the next commit must reclaim it, not wedge on
    // the non-empty ATOMIC_MOVE target forever
    val orphan = java.nio.file.Paths.get(root, "data/t/snap-2")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("junk"), "x")
    // crash simulation 2: a torn (truncated, no trailing '}') manifest
    // line — snapshots() must skip it, and the next append must seal it
    // onto its own line instead of concatenating
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "meta/snapshots.jsonl"),
      """{"id":2,"tier":"t","dir":"data/t/sn""",
      java.nio.charset.StandardCharsets.UTF_8,
      java.nio.file.StandardOpenOption.APPEND)
    assert(io.snapshots().size == 1, "torn tail skipped")
    val df2 = Seq((2L, "a", 2.0)).toDF("commit_bucket", "source", "v")
    io.commit("t", df2, Seq(2L), jobId = "j")
    assert(io.snapshots().map(_.id) == Seq(1L, 2L))
    assert(io.doneBuckets("t") == Set(1L, 2L))
    val back = io.read(spark, "t").get.select("commit_bucket", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(back == Set((1L, 1.0), (2L, 2.0)))
    // undeclared commit_bucket rows never leak past last-commit-wins:
    // snap declares bucket 3 but its data also carries bucket 2 rows
    val df3 = Seq((3L, "a", 3.0), (2L, "a", 99.0))
      .toDF("commit_bucket", "source", "v")
    io.commit("t", df3, Seq(3L), jobId = "j")
    val back2 = io.read(spark, "t").get.select("commit_bucket", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(back2 == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)),
      s"undeclared bucket rows leaked: $back2")
  }

  test("RollupJob resume closes the features-committed/chunks-missing gap") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_gap").toString
    val tok = (0 until 48).map { i =>
      val day = i / 24
      val ts = java.sql.Timestamp.valueOf(s"2024-01-0${day + 1} ${i % 24}:00:00")
      (s"d$i", Array.tabulate(16)(j => i * 100 + j * j % 5), 16, "s0", ts)
    }.toDF("doc_id", "tokens", "n_tok", "source", "event_time")
    val conf = graft.engine.RollupJob.Conf(tableRoot = root, scale = 1.0,
      tiers = Seq("1h" -> "1 hour"), jobId = "gap")
    // simulate a crash between the two commits: features for day 1 land,
    // chunks don't
    val io = new TableIO(root)
    val day1 = java.time.LocalDate.of(2024, 1, 1)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val states = graft.engine.TokenRollup.rowStates(
      tok.where(unix_timestamp(date_trunc("day", col("event_time"))) === day1), 1.0)
    val feats = graft.engine.TokenRollup.finalizeFeatures(
      graft.engine.TokenRollup.mergeToBuckets(states, "1 hour",
        Seq("event_time", "doc_id")))
      .withColumn("commit_bucket",
        unix_timestamp(date_trunc("day", col("bucket"))))
    io.commit("1h", feats, Seq(day1), "gap")
    assert(io.doneBuckets("1h") == Set(day1) &&
      io.doneBuckets("1h-chunks").isEmpty)
    // resume must treat day 1 as pending (chunks missing) and re-run it
    graft.engine.RollupJob.run(spark, tok, conf)
    assert(io.doneBuckets("1h-chunks").contains(day1))
    val readBack = io.read(spark, "1h-chunks").get
    assert(readBack.select(countDistinct(col("commit_bucket"))).head.getLong(0) == 2)
  }

  /** Run a rollup whose `failing` tier cannot stage (a plain file sits
    * where its directory belongs) and check that it rethrows, leaves no
    * Spark job running, publishes nothing, and that no staged write of
    * the run (found under `cancelled`) got as far as its job commit,
    * which leaves a _SUCCESS marker: every tier dir is made before the
    * first write, so the run fails before any write starts. */
  private def failedStaging(failing: String, cancelled: Seq[String]): Unit = {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_fail").toString
    val tok = (0 until 96).map { i =>
      val ts = java.sql.Timestamp.valueOf(s"2024-01-0${i / 24 + 1} ${i % 24}:00:00")
      (s"d$i", Array.tabulate(64)(j => i * 100 + j * j % 7), 64, s"s${i % 3}", ts)
    }.toDF("doc_id", "tokens", "n_tok", "source", "event_time")
    Files.createDirectories(Paths.get(root, "data"))
    Files.write(Paths.get(root, "data", failing), Array[Byte](1))
    val err = intercept[java.io.IOException](graft.engine.RollupJob.run(spark, tok,
      graft.engine.RollupJob.Conf(tableRoot = root, scale = 1.0, jobId = "fail")))
    assert(err.getMessage.contains(failing), err.getMessage)
    cancelled.map(t => Paths.get(root, "data", t)).filter(Files.exists(_)).foreach { d =>
      val files = Files.walk(d)
      try assert(!files.anyMatch(_.getFileName.toString == "_SUCCESS"),
        s"a staged write under $d ran to completion")
      finally files.close()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.SparkTestHooks.drainListeners(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a staged job outlived the run")
    val io = new TableIO(root)
    assert(io.snapshots().isEmpty && io.lineageLines().isEmpty,
      "a failed run published")
    assert(!Files.exists(Paths.get(root, "meta", "snapshots.jsonl")))
  }

  // the chunks write cannot make the last tier's dir: the features write of
  // every tier, staged under data/1m, never starts
  test("RollupJob: a failed staging cancels the run's Spark jobs and " +
    "publishes nothing") {
    failedStaging("1d-chunks", cancelled = Seq("1d", "1m"))
  }

  // the chunks write fails on its first tier: the features write and every
  // other action never start
  test("RollupJob: a failed first-tier staging cancels every later action") {
    failedStaging("1m-chunks", cancelled = Seq("1m", "1h", "1h-chunks", "1d", "1d-chunks"))
  }

  // a coarser features tier that cannot be a dir fails the features write
  // before it starts, not the 1h publish after 1m was published
  test("RollupJob: a coarser tier path that cannot be a dir fails the " +
    "staging, not a publish") {
    failedStaging("1h", cancelled = Seq("1m", "1m-chunks"))
  }

  test("kmeansCentroids: deterministic, k cells, unit-ish centroids") {
    val emb = AnnOps.embeddings(spark, sfDir)
    val c1 = AnnOps.kmeansCentroids(emb, 8)
    val c2 = AnnOps.kmeansCentroids(emb, 8)
    assert(c1.length == 8 && c1.head.length == 64)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
    assert(c1.map(_.map(x => x * x).sum).forall(n => n > 0 && n <= 1.000001))
  }

  test("param routing: epoch_len drives wavelet arity; svd/app emb split; mt knobs") {
    import graft.functions.FeatureParams
    val p0 = FeatureEngine.resolveParams("wavelet_coef_energy",
      FeatureParams(), Map("wavelet_coef_energy__epoch_len" -> "64"))
    assert(FeatureEngine.featureNames("wavelet_coef_energy", p0, "ch0").size ==
      graft.core.Dwt.refLevel(64)) // 3 detail levels at n=64, not 6
    assert(FeatureEngine.featureNames("teager_kaiser_energy", p0, "ch0").size ==
      (graft.core.Dwt.refLevel(64) + 1) * 2)
    // svd features read svdEmb (reference default 10), app/samp read emb (2)
    val p1 = FeatureEngine.resolveParams("svd_entropy", FeatureParams(),
      Map("svd_entropy__emb" -> "4"))
    assert(p1.svdEmb == 4 && FeatureParams().svdEmb == 10 &&
      FeatureParams().emb == 2)
    val p2 = FeatureEngine.resolveParams("spect_entropy", FeatureParams(),
      Map("spect_entropy__psd_method" -> "multitaper",
        "spect_entropy__mt_bandwidth" -> "3.5",
        "spect_entropy__mt_low_bias" -> "false"))
    assert(p2.psdMethod == "multitaper" && p2.mtHalfNbw == 3.5 && !p2.mtLowBias)
    // end-to-end: the kernel accepts the routed multitaper config
    val x = Array.tabulate(96)(t => math.cos(2 * math.Pi * 8 * t / 96.0))
    val e = graft.core.Features.spectEntropy(x, 256.0, p2.psdMethod, p2.psdConf)
    assert(e.isFinite && e > 0)
  }

  test("fingerprint: single-pass kernel, stable across runs, 31-bit range") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "a different document")).toDF("doc_id", "text")
    val fp = graft.operators.TextOps.fingerprint(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
    assert(fp.values.forall(v => v >= 0 && v < 2147483629L))
  }

  test("embeddingNearDup multi-band LSH emits the high-cosine pairs") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val out = DedupOps.embeddingNearDup(emb, 0.4).collect()
    assert(out.nonEmpty, "multi-band LSH must emit candidates at 0.4")
    assert(out.forall(_.getDouble(2) >= 0.4))
  }

  test("minhash hot-bucket cap bounds pair generation, unchanged results below cap") {
    val docs = graft.operators.TextOps.docs(spark, sfDir)
    val uncapped = DedupOps.minhashCandidates(docs, 0.2, maxBucket = DedupOps.MaxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // tiny corpus: a cap far above any bucket size changes nothing
    val big = DedupOps.minhashCandidates(docs, 0.2, maxBucket = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == big)
    // cap of 1 kills all pairs (no bucket can pair)
    assert(DedupOps.minhashCandidates(docs, 0.2, maxBucket = 1).count() == 0)
  }

  test("ivfTopK: k=1 equals ivfTop1; k=3 ranked descending per query") {
    val emb = AnnOps.embeddings(spark, sfDir)
    val top1 = AnnOps.ivfTop1(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val topK1 = AnnOps.ivfTopK(emb, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(top1 == topK1 && top1.nonEmpty)
    val top3 = AnnOps.ivfTopK(emb, 3).collect()
      .groupBy(_.getLong(0))
    top3.values.foreach { rows =>
      assert(rows.length <= 3)
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(sims == sims.sortBy(-_), s"not descending: $sims")
    }
    assert(top3.values.exists(_.length == 3))
  }

  test("duplicateClusters: connected components, component-min labels, keep-list") {
    import spark.implicits._
    // hand-built graph: {1,2,3,4} via chain 1-2,2-3,3-4; {10,11}; {20,21,22}
    // via star 20-21,20-22 — chain forces multiple propagation rounds
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (21L, 20L),
      (22L, 20L)).toDF("doc_a", "doc_b")
    val got = DedupOps.clustersFromPairs(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false), 4L -> (1L, false),
      10L -> (10L, true), 11L -> (10L, false),
      20L -> (20L, true), 21L -> (20L, false), 22L -> (20L, false)))
    // end-to-end over the corpus: every candidate pair lands in one
    // cluster; exactly one keep per cluster, and it is the minimum
    val docs = graft.operators.TextOps.docs(spark, sfDir)
    val clusters = DedupOps.duplicateClusters(docs, 0.5).persist()
    val lbl = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cand = DedupOps.minhashCandidates(docs, 0.5)
      .select("doc_a", "doc_b").collect()
    assert(cand.nonEmpty)
    cand.foreach(r => assert(lbl(r.getLong(0)) == lbl(r.getLong(1))))
    val perCluster = clusters.groupBy("cluster_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("keeps"),
        min("doc_id").as("mn"), first("cluster_id").as("cid"))
      .collect()
    perCluster.foreach { r =>
      assert(r.getLong(1) == 1L, "exactly one keep per cluster")
      assert(r.getLong(2) == r.getLong(3), "label is the component minimum")
    }
    clusters.unpersist()
  }

  test("clustersFromPairs: chain of 64 converges in O(log d) rounds " +
    "(pointer doubling, not O(diameter) hook-only propagation)") {
    import spark.implicits._
    // worst case for min-label propagation: a single path 0-1-2-...-63
    // ordered so the min label must travel the full diameter
    val d = 64
    val chain = (0 until d - 1).map(i => (i.toLong, i + 1L))
      .toDF("doc_a", "doc_b")
    val (df, rounds) = DedupOps.clustersFromPairsCounted(chain, maxIters = 20)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == d && got.values.forall(_ == 0L),
      "every chain node labels to the minimum")
    val bound = (math.log(d.toDouble) / math.log(2)).ceil.toInt + 2
    assert(rounds <= bound, s"chain d=$d took $rounds rounds (bound $bound)")
  }

  test("BoundedWeightedCollect: holisticFeatures == unbounded formulation, " +
    "state bounded when one window exceeds maxTokens") {
    import graft.engine.TokenRollup
    import graft.functions.FeatureParams
    val nonEmpty = graft.gen.TokenGen.bulk(spark, 400, nSources = 3,
      minLen = 16, maxLen = 96)
    // empty token arrays contribute nothing to flatten+slice, but with a
    // padded weight (pre-r4 max(1, len)) they inflated the prefix estimate
    // and could evict rows the slice still needed (ADVICE r3) — interleave
    // one empty twin per row to pin the equivalence
    val empties = nonEmpty.select(concat(col("doc_id"), lit("_e")).as("doc_id"),
      array().cast("array<int>").as("tokens"), lit(0).as("n_tok"),
      col("source"), col("event_time"))
    val bulk = nonEmpty.unionByName(empties).repartition(13).persist()
    val p = FeatureParams(sfreq = 256.0, scale = 1.0 / (1 << 24))
    def viaOld(maxTokens: Int) = bulk
      .groupBy(col("source"), window(col("event_time"), "1 hour").as("w"))
      .agg(sort_array(collect_list(struct(col("event_time"), col("doc_id"),
        col("tokens")))).as("rows"))
      .select(col("source"), col("w.start").as("bucket"),
        flatten(col("rows.tokens")).as("sig"))
      .withColumn("truncated", size(col("sig")) > maxTokens)
      .withColumn("sig", slice(col("sig"), 1, maxTokens))
      .withColumn("line_length", graft.functions.feature("line_length", col("sig"), p))
      .select(col("source"), col("bucket"), col("truncated"),
        col("line_length"), size(col("sig")).as("n"))
    def viaNew(maxTokens: Int) = TokenRollup.holisticFeatures(
      bulk, "1 hour", p, Seq("line_length"), maxTokens)
      .select(col("source"), col("bucket"), col("truncated"),
        col("line_length"), lit(-1).as("n"))
    // cap far above any window (equivalence) and a cap every busy window
    // exceeds (bounded-state path actually evicts across merges)
    for (cap <- Seq(1 << 20, 200)) {
      val a = viaOld(cap).collect()
        .map(r => (r.getString(0), r.get(1).toString) ->
          ((r.getBoolean(2), r.getDouble(3)))).toMap
      val b = viaNew(cap).collect()
        .map(r => (r.getString(0), r.get(1).toString) ->
          ((r.getBoolean(2), r.getDouble(3)))).toMap
      assert(a.keySet == b.keySet && a.nonEmpty, s"cap=$cap")
      a.foreach { case (k, (tA, vA)) =>
        val (tB, vB) = b(k)
        assert(tA == tB, s"cap=$cap $k truncated")
        assert(math.abs(vA - vB) <= 1e-12 * math.max(1.0, math.abs(vA)),
          s"cap=$cap $k line_length: old $vA new $vB")
      }
      if (cap == 200) assert(a.values.exists(_._1), "cap must actually bite")
    }
    // direct invariant: kept rows never exceed maxWeight + one row's tokens
    val kept = bulk.groupBy(col("source"),
      window(col("event_time"), "1 hour").as("w"))
      .agg(graft.functions.bounded_weighted_collect(
        struct(col("event_time"), col("doc_id"), col("tokens")), 200L, 2)
        .as("rows"))
      .select(aggregate(col("rows.tokens"), lit(0),
        (acc, t) => acc + size(t)).as("keptTokens"))
      .collect().map(_.getInt(0))
    assert(kept.forall(_ <= 200 + 96), s"state not bounded: ${kept.max}")
    bulk.unpersist()
  }

  test("gate tables stage under the per-JVM scratch root, not a fixed /tmp path") {
    val files = SparkEntry.queries("q_table_range_read")(spark, sfDir).inputFiles
    val dir = new java.io.File(SparkEntry.gateRoot, "graft_range_gate").toURI.getPath
    assert(files.nonEmpty)
    assert(files.forall(f => new java.net.URI(f).getPath.startsWith(dir)), files.toSeq)
    assert(!files.exists(_.contains("/tmp/graft_range_gate")), files.toSeq)
  }
}
