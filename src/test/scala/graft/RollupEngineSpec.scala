package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Features
import graft.engine.{RollupJob, TokenRollup}
import graft.functions.FeatureParams
import graft.gen.TokenGen
import graft.table.TableIO

/** Engine-level gates the reference cannot provide (SURVEY.md §5):
  * tier-cascade equality vs recompute-from-concatenated-raw, compressed
  * chunk round-trip, token-array ingest invariant, checkpoint-resume
  * idempotence.
  */
class RollupEngineSpec extends AnyFunSuite with SparkSpec {
  lazy val bulk = {
    spark.sparkContext.setLogLevel("ERROR")
    TokenGen.bulk(spark, 600, nSources = 4, minLen = 64, maxLen = 512).persist()
  }

  val scale: Double = 1.0 / (1 << 24)

  /** Stage `df` in the former source-partitioned layout and publish it,
    * under one hold of the lock like any other write. */
  def commitFormer(io: TableIO, tier: String, df: org.apache.spark.sql.DataFrame,
                   bucket: Long): Unit = io.locked {
    val dir = java.nio.file.Paths.get(io.root, "data", tier, "_staging", "former")
    df.write.partitionBy("source").parquet(dir.toString)
    io.publish(io.Staged(tier, dir, df.count()), Seq(bucket), "old")
  }

  /** Spark's inference over a tier's head snapshot (its lowest live id),
    * `source` pinned to string: the schema a range read must plan with. */
  def inferredSchema(io: TableIO, tier: String): org.apache.spark.sql.types.StructType = {
    val head = io.snapshots().filter(s => s.tier == tier && s.dir.nonEmpty).minBy(_.id)
    org.apache.spark.sql.types.StructType(
      spark.read.parquet(java.nio.file.Paths.get(io.root, head.dir).toString).schema.map(f =>
        if (f.name == "source") f.copy(dataType = org.apache.spark.sql.types.StringType) else f))
  }

  /** lineage.jsonl, as a set, equals each (tier, day)'s points, tokens and
    * checksum recomputed with a groupBy over the committed features. */
  def assertLineage(io: TableIO, tiers: Seq[String]): Unit = {
    def field(l: String, k: String) =
      ("\"" + k + "\":\"?([^,\"}]*)").r.findFirstMatchIn(l).get.group(1)
    val logged = io.lineageLines().map(l => Seq("tier", "bucket", "rowsOut", "tokensIn",
      "checksum").map(field(l, _))).toSet
    val recomputed = tiers.flatMap { t =>
      io.read(spark, t).get.groupBy("commit_bucket")
        .agg(count(lit(1)), sum("tokens_in"), sum(hash(col("source"), col("bucket"),
          graft.functions.duckRound(col("mean"), 9)).cast("long")))
        .collect().map(r => Seq(t, r.getLong(0).toString, r.getLong(1).toString,
          r.getLong(2).toString, r.getLong(3).toHexString))
    }.toSet
    assert(recomputed.map(_.head) == tiers.toSet)
    assert(logged == recomputed, s"lineage.jsonl != committed features")
  }

  /** No tier dir under `root` keeps a `_staging` dir after a run. */
  def assertNoStaging(root: String): Unit = {
    val left = java.nio.file.Paths.get(root, "data").toFile.listFiles().toSeq
      .flatMap(t => t.list().filter(_ == "_staging").map(s => s"${t.getName}/$s"))
    assert(left.isEmpty, s"staging left behind: $left")
  }

  /** Every chunked feature of every tier decodes to its committed point's
    * value bit for bit (doubleToLongBits: NaN and -0.0 count), with the
    * same (source, bucket) keys on both sides. */
  def assertChunksEqualFeatures(io: TableIO, tiers: Seq[String]): Unit = {
    val feats = RollupJob.Conf("").chunkFeatures
    def points(df: org.apache.spark.sql.DataFrame) =
      df.select((Seq(col("source"), col("bucket_s")) ++ feats.map(col)): _*).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> feats.indices.map(i =>
          if (r.isNullAt(i + 2)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(i + 2))))).toSeq
    for (t <- tiers) {
      val chunks = points(io.readChunkPoints(spark, t).get)
      val committed = points(io.read(spark, t).get
        .withColumn("bucket_s", unix_timestamp(col("bucket"))))
      assert(committed.nonEmpty && chunks.size == committed.size &&
        chunks.map(_._1).distinct.size == chunks.size, s"$t: chunk points != tier points")
      val want = committed.toMap
      val bad = chunks.filter { case (k, v) => !want.get(k).contains(v) }
      assert(bad.isEmpty, s"$t: ${bad.size} chunk points differ, e.g. ${bad.take(2)}")
    }
  }

  test("cascade 1m->1h states equal direct 1h states; features match " +
    "kernel on window-concatenated signal (the rolled-up-point oracle)") {
    val states = TokenRollup.rowStates(bulk, scale)
    val m1 = TokenRollup.mergeToBuckets(states, "1 minute", Seq("event_time", "doc_id"))
    val h1viaCascade = TokenRollup.finalizeFeatures(
      TokenRollup.cascade(m1, "1 hour"))
    val h1direct = TokenRollup.finalizeFeatures(
      TokenRollup.mergeToBuckets(states, "1 hour", Seq("event_time", "doc_id")))

    val feats = Seq("mean", "variance", "line_length", "hjorth_mobility",
      "hjorth_complexity", "skewness", "kurtosis", "zero_crossings")
    val a = h1viaCascade.select((Seq("source", "bucket") ++ feats).map(col) :+
        col("rows_in"): _*)
      .collect().map(r => (r.getString(0), r.get(1).toString) -> r).toMap
    val b = h1direct.select((Seq("source", "bucket") ++ feats).map(col) :+
        col("rows_in"): _*)
      .collect().map(r => (r.getString(0), r.get(1).toString) -> r).toMap
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (k, ra) =>
      val rb = b(k)
      feats.indices.foreach { i =>
        val va = ra.getDouble(2 + i); val vb = rb.getDouble(2 + i)
        assert(math.abs(va - vb) <= 1e-9 * math.max(1.0, math.abs(vb)),
          s"$k ${feats(i)}: cascade $va vs direct $vb")
      }
      // rows_in means "raw rows in this bucket" at EVERY tier: the
      // cascade must report the same count as the direct aggregation,
      // not the number of finer buckets it merged
      assert(ra.getLong(2 + feats.size) == rb.getLong(2 + feats.size),
        s"$k rows_in: cascade ${ra.getLong(2 + feats.size)} vs " +
          s"direct ${rb.getLong(2 + feats.size)}")
    }

    // rolled-up-point oracle: per (source, hour) the cascade features must
    // match the reference kernels applied to the window-concatenated signal
    val concat = bulk
      .groupBy(col("source"), window(col("event_time"), "1 hour").as("w"))
      .agg(sort_array(collect_list(struct(col("event_time"), col("doc_id"),
        col("tokens")))).as("rows"))
      .select(col("source"), col("w.start").as("bucket"),
        flatten(col("rows.tokens")).as("sig"))
      .collect()
    var checked = 0
    concat.foreach { r =>
      val key = (r.getString(0), r.getTimestamp(1).toString)
      val sig = r.getSeq[Int](2).toArray.map(_ * scale)
      if (sig.length >= 4) {
        val ra = a((r.getString(0), r.getTimestamp(1).toString))
        def check(name: String, idx: Int, expected: Double): Unit = {
          val got = ra.getDouble(2 + idx)
          assert(math.abs(got - expected) <= 1e-7 * math.max(1.0, math.abs(expected)),
            s"$key $name: rollup $got vs kernel $expected")
        }
        check("mean", 0, Features.meanF(sig))
        check("variance", 1, Features.varianceF(sig))
        check("line_length", 2, Features.lineLength(sig))
        check("hjorth_mobility", 3, Features.hjorthMobility(sig))
        check("hjorth_complexity", 4, Features.hjorthComplexity(sig))
        check("skewness", 5, Features.skewness(sig))
        check("kurtosis", 6, Features.kurtosis(sig))
        check("zero_crossings", 7, Features.zeroCrossings(sig))
        checked += 1
      }
    }
    assert(checked > 50, s"only $checked windows checked")
  }

  test("rollup job end-to-end + chunk roundtrip + resume idempotence") {
    import java.nio.file.Files
    val rootA = Files.createTempDirectory("graft_tblA").toString
    val rootB = Files.createTempDirectory("graft_tblB").toString
    val conf = RollupJob.Conf(tableRoot = rootA, scale = scale, jobId = "jobA")

    // full run
    val res = RollupJob.run(spark, bulk, conf)
    assert(res.forall(_.points > 0))
    val ioA = new TableIO(rootA)
    val m1 = ioA.read(spark, "1m").get
    assert(m1.count() > 0)
    // publish order: per tier features then chunks, finest tier first,
    // with each tier's lineage appended between its two commits
    assert(ioA.snapshots().map(s => s.id -> s.tier) == Seq(1L -> "1m",
      2L -> "1m-chunks", 3L -> "1h", 4L -> "1h-chunks", 5L -> "1d", 6L -> "1d-chunks"))
    assert(ioA.lineageLines().map(l => l.substring(l.indexOf("\"tier\""))
      .takeWhile(_ != ',')).distinct ==
      Seq("\"tier\":\"1m\"", "\"tier\":\"1h\"", "\"tier\":\"1d\""))

    // chunk round-trip: decode Gorilla/DoD chunks, compare to tier points
    import graft.functions.{gorilla_decode, dod_decode}
    val chunks = ioA.read(spark, "1h-chunks").get
    val decoded = chunks.select(col("source"),
      explode(arrays_zip(dod_decode(col("ts_dod")).as("bs"),
        gorilla_decode(col("mean_gor")).as("mean"))).as("z"))
      .select(col("source"), col("z.bs").as("bs"), col("z.mean").as("mean"))
    val tier = ioA.read(spark, "1h").get
      .select(col("source"), unix_timestamp(col("bucket")).as("bs"), col("mean"))
    val joined = decoded.as("d").join(tier.as("t"), Seq("source", "bs"))
    val n = joined.count()
    assert(n == tier.count() && n == decoded.count(), s"chunk/tier count mismatch")
    val mism = joined.where(col("d.mean") =!= col("t.mean")).count()
    assert(mism == 0, s"$mism decoded values differ from tier points")

    // first-class reader: readChunkPoints reconstructs every chunked
    // feature column exactly (schema discovered from *_gor columns)
    val pts = ioA.readChunkPoints(spark, "1h").get
    val tierFull = ioA.read(spark, "1h").get
      .select(col("source"), unix_timestamp(col("bucket")).as("bucket_s"),
        col("mean"), col("variance"), col("line_length"),
        col("hjorth_mobility"), col("hjorth_complexity"))
    val jp = pts.drop("commit_bucket").as("p")
      .join(tierFull.as("t"), Seq("source", "bucket_s"))
    assert(jp.count() == tierFull.count() && jp.count() == pts.count())
    for (f <- Seq("mean", "variance", "line_length", "hjorth_mobility",
      "hjorth_complexity")) {
      assert(jp.where(col(s"p.$f") =!= col(s"t.$f")).count() == 0, f)
    }

    // resume: interrupt after day 1 (commit only first day), then resume;
    // final table must equal the uninterrupted run
    val allDays = bulk.select(unix_timestamp(date_trunc("day", col("event_time"))).as("d"))
      .distinct().collect().map(_.getLong(0)).sorted
    val firstDay = allDays.head
    val partial = bulk.where(
      unix_timestamp(date_trunc("day", col("event_time"))) === firstDay)
    val confB = RollupJob.Conf(tableRoot = rootB, scale = scale, jobId = "jobB1")
    RollupJob.run(spark, partial, confB) // "crashed" after first day committed
    val resumed = RollupJob.run(spark, bulk, confB.copy(jobId = "jobB2"))
    val ioB = new TableIO(rootB)
    for (tierName <- Seq("1m", "1h", "1d")) {
      val full = ioA.read(spark, tierName).get
        .select("source", "bucket", "mean", "variance", "line_length")
      val res = ioB.read(spark, tierName).get
        .select("source", "bucket", "mean", "variance", "line_length")
      assert(full.count() == res.count(), s"$tierName row count")
      assert(full.exceptAll(res).count() == 0 && res.exceptAll(full).count() == 0,
        s"$tierName resumed run differs from uninterrupted run")
    }
    // lineage recorded for every (tier, day), equal to the committed
    // features after a clean run and after a resume
    assertLineage(ioA, Seq("1m", "1h", "1d"))
    assertLineage(ioB, Seq("1m", "1h", "1d"))
  }

  test("crash repair: coarser tiers pending over a committed finer tier " +
    "cascade from its committed states and equal a clean run") {
    import java.nio.file.Files
    val clean = Files.createTempDirectory("graft_clean").toString
    val repaired = Files.createTempDirectory("graft_repair").toString
    val conf = RollupJob.Conf(tableRoot = clean, scale = scale, jobId = "j")
    RollupJob.run(spark, bulk, conf)
    // a run that committed only the 1m tier...
    RollupJob.run(spark, bulk, conf.copy(tableRoot = repaired,
      tiers = Seq("1m" -> "1 minute")))
    // ...then a run with every tier over the same days. Its token arrays
    // are zeroed, so any tier computed from raw rows instead of the
    // committed 1m states would differ from the clean run
    val zeroed = bulk.withColumn("tokens", transform(col("tokens"), x => x - x))
    val res = RollupJob.run(spark, zeroed, conf.copy(tableRoot = repaired))
    assert(res.map(r => r.tier -> r.newDays.nonEmpty) ==
      Seq("1m" -> false, "1h" -> true, "1d" -> true))
    val (a, b) = (new TableIO(clean), new TableIO(repaired))
    for (t <- Seq("1h", "1h-chunks", "1d", "1d-chunks")) {
      val x = a.read(spark, t).get
      val y = b.read(spark, t).get
      assert(x.count() > 0 && x.exceptAll(y).count() == 0 &&
        y.exceptAll(x).count() == 0, s"$t differs from the clean run")
    }
    def lineage(io: TableIO, t: String) =
      io.lineageLines().filter(_.contains(s"\"tier\":\"$t\"")).sorted
    for (t <- Seq("1h", "1d"))
      assert(lineage(a, t).nonEmpty && lineage(a, t) == lineage(b, t), s"$t lineage")
    assertLineage(b, Seq("1m", "1h", "1d"))
  }

  test("one rollup run: at most 7 Spark jobs, no staging dir left behind") {
    import java.nio.file.{Files => JFiles}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.graft.SparkTestHooks.drainListeners
    bulk.count() // fill the input's cache outside the count
    val root = JFiles.createTempDirectory("graft_census").toString
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      RollupJob.run(spark, bulk, RollupJob.Conf(tableRoot = root, scale = scale))
      drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    // days collect 2 + features write 3 (fold exchange, rebalance, write;
    // the lineage is observed on it) + chunks write 2
    assert(jobs.get <= 7, s"${jobs.get} Spark jobs in one run")
    assert(new TableIO(root).snapshots().size == 6)
    assertNoStaging(root)
  }

  test("chunks decode to the committed features bit for bit, after a clean " +
    "run and after a crash repair") {
    import java.nio.file.Files
    val clean = Files.createTempDirectory("graft_chunks_clean").toString
    val repaired = Files.createTempDirectory("graft_chunks_repair").toString
    val conf = RollupJob.Conf(tableRoot = clean, scale = scale, jobId = "j")
    RollupJob.run(spark, bulk, conf)
    assertChunksEqualFeatures(new TableIO(clean), Seq("1m", "1h", "1d"))
    RollupJob.run(spark, bulk, conf.copy(tableRoot = repaired, tiers = Seq("1m" -> "1 minute")))
    val res = RollupJob.run(spark, bulk, conf.copy(tableRoot = repaired))
    assert(res.map(r => r.tier -> r.newDays.nonEmpty) ==
      Seq("1m" -> false, "1h" -> true, "1d" -> true))
    assertChunksEqualFeatures(new TableIO(repaired), Seq("1m", "1h", "1d"))
  }

  test("a day whose every row has n_tok < 2 publishes 0-row features and " +
    "chunks snapshots and counts as done") {
    import spark.implicits._
    import java.nio.file.Files
    val day0 = 1704067200L // 2024-01-01T00:00:00Z
    def docs(day: Long, n: Int) = (0 until 24).map { h =>
      (s"d$day/$h", Array.tabulate(n)(j => h * 10 + j), n, s"s${h % 3}",
        new java.sql.Timestamp((day + h * 3600L) * 1000L))
    }.toDF("doc_id", "tokens", "n_tok", "source", "event_time")
    val root = Files.createTempDirectory("graft_short").toString
    val conf = RollupJob.Conf(tableRoot = root, scale = scale, jobId = "j")
    RollupJob.run(spark, docs(day0, 16), conf)
    // the second day's rows all fall below the kernel's n >= 2
    val res = RollupJob.run(spark, docs(day0, 16).unionByName(docs(day0 + 86400L, 1)),
      conf.copy(jobId = "short"))
    assert(res.map(r => (r.tier, r.newDays, r.points)) ==
      Seq("1m", "1h", "1d").map(t => (t, Seq(day0 + 86400L), 0L)))
    val io = new TableIO(root)
    val tiers = Seq("1m", "1m-chunks", "1h", "1h-chunks", "1d", "1d-chunks")
    assert(io.snapshots().filter(_.jobId == "short").map(s => (s.tier, s.dir, s.rows)) ==
      tiers.map(t => (t, "", 0L)))
    tiers.foreach(t => assert(io.doneBuckets(t) == Set(day0, day0 + 86400L), t))
    assert(RollupJob.run(spark, docs(day0 + 86400L, 1), conf).forall(_.newDays.isEmpty))
    assertChunksEqualFeatures(io, Seq("1m", "1h", "1d"))
    assertNoStaging(root)
  }

  test("coarse tiers: each 1h and 1d snapshot is one file, the 1m tier " +
    "spreads, at 8 partitions with AQE coalescing off") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = JFiles.createTempDirectory("graft_coarse").toString
    withPartitions(8)(RollupJob.run(spark, TokenGen.bulk(spark, 300, nSources = 16,
      minLen = 16, maxLen = 128), RollupJob.Conf(tableRoot = root, scale = scale)))
    val files = new TableIO(root).snapshots().map(s => s.tier ->
      JPaths.get(root, s.dir).toFile.list().count(_.startsWith("part-"))).toMap
    assert(files("1h") == 1 && files("1d") == 1 && files("1m") > 1, s"part files: $files")
  }

  for (formerHead <- Seq(false, true))
    test(s"range read plans with no Spark job, ${if (formerHead) "former" else "new"} " +
      "layout at the head") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.graft.SparkTestHooks.drainListeners
    val root = JFiles.createTempDirectory("graft_schema").toString
    val io = new TableIO(root, checkpointEvery = 100)
    (0 until 5).foreach { i =>
      val df = Seq(("s1", i * 86400L, i.toDouble)).toDF("source", "commit_bucket", "value")
      if (i == 0 && formerHead) commitFormer(io, "f", df, 0L)
      else io.commit("f", df, Seq(i * 86400L), "j")
    }
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drainListeners(sc)
    sc.addSparkListener(listener)
    val slice = try {
      val df = io.readRange(spark, "f", 0L, 5 * 86400L).get
      drainListeners(sc)
      df
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} jobs planning a 5-snapshot range read")
    assert(slice.schema == inferredSchema(io, "f"))
    assert(slice.select("value").as[Double].collect().sorted.toSeq ==
      (0 until 5).map(_.toDouble))
  }

  test("range read schema equals Spark's inference, TIMESTAMP and _NTZ tables") {
    import java.nio.file.{Files => JFiles}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val tiers = Seq("1m", "1h", "1d")
    for ((input, tsType) <- Seq(bulk -> TimestampType,
      bulk.withColumn("event_time", col("event_time").cast("timestamp_ntz")) -> TimestampNTZType)) {
      val root = JFiles.createTempDirectory("graft_schema_eq").toString
      RollupJob.run(spark, input, RollupJob.Conf(tableRoot = root, scale = scale))
      val io = new TableIO(root)
      for (t <- tiers ++ tiers.map(_ + "-chunks")) {
        val schema = io.readRange(spark, t, Long.MinValue, Long.MaxValue).get.schema
        assert(schema == inferredSchema(io, t), s"$t ($tsType)")
        if (!t.endsWith("-chunks")) assert(schema("bucket").dataType == tsType, t)
      }
    }
  }

  test("staging leftovers: invisible to every reader, reclaimed by the " +
    "next commit") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = JFiles.createTempDirectory("graft_staging").toString
    val io = new TableIO(root, checkpointEvery = 100)
    def df(b: Long, v: Double) =
      Seq(("s1", b, v)).toDF("source", "commit_bucket", "value")
    io.commit("f", df(0L, 0.0), Seq(0L), "j")
    // a crashed writer's staged, never published write of a live bucket
    val stray = JPaths.get(root, "data", "f", "_staging", "x")
    df(0L, 99.0).write.partitionBy("source").parquet(stray.toString)
    def values(d: org.apache.spark.sql.DataFrame) =
      d.select("value").as[Double].collect().sorted.toSeq
    assert(values(io.read(spark, "f").get) == Seq(0.0))
    assert(values(io.readRange(spark, "f", 0L, 1L).get) == Seq(0.0))
    assert(io.doneBuckets("f") == Set(0L))
    assert(io.snapshots().map(_.dir) == Seq("data/f/snap-1"))
    io.commit("f", df(86400L, 1.0), Seq(86400L), "j")
    assert(!JFiles.exists(stray), "staging leftover survived a commit")
    assert(values(io.read(spark, "f").get) == Seq(0.0, 1.0))
  }

  test("manifest checkpoint compaction: many commits read via checkpoint; " +
    "results identical without it; dropped ids never reallocated") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = JFiles.createTempDirectory("graft_ckpt").toString
    val io = new TableIO(root, checkpointEvery = 4)
    def df(b: Long, v: Double) =
      Seq(("s1", b, v)).toDF("source", "commit_bucket", "value")
    def day(i: Int) = i * 86400L
    // commits 1-3: buckets 0,1,2; commit 4 re-commits bucket 0 (last
    // wins) and lands exactly on the compaction boundary, so snap 1 is
    // dropped from the checkpoint and its bucket folds into the compact
    // done set
    (0 until 3).foreach(i => io.commit("f", df(day(i), i.toDouble), Seq(day(i)), "j"))
    io.commit("f", df(day(0), 99.0), Seq(day(0)), "j2")
    (3 until 9).foreach(i => io.commit("f", df(day(i), i.toDouble), Seq(day(i)), "j"))
    val ckpt = JPaths.get(root, "meta", "checkpoint.jsonl")
    assert(JFiles.exists(ckpt), "compaction never triggered")
    def dump() = io.read(spark, "f").get.select("commit_bucket", "value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val withCkpt = dump()
    val done = io.doneBuckets("f")
    assert(done == (0 until 9).map(day).toSet)
    assert(withCkpt.size == 9 && withCkpt.head == (day(0), 99.0))
    // snapshots() lists live entries only: snap 1 was compacted away
    assert(!io.snapshots().exists(_.id == 1L))
    // id allocation survives compaction (maxId rides the checkpoint header)
    assert(io.commit("f", df(day(9), 9.0), Seq(day(9)), "j3").id == 11L)
    // the checkpoint is pure optimization: deleting it must not change
    // anything (full-log read recomputes the identical state)
    JFiles.delete(ckpt)
    assert(dump() == withCkpt :+ (day(9), 9.0))
    assert(io.doneBuckets("f") == done + day(9))
  }

  test("range read: manifest-level snapshot pruning, visibility rules " +
    "identical to the full read") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    val root = JFiles.createTempDirectory("graft_range").toString
    val io = new TableIO(root, checkpointEvery = 100)
    def df(b: Long, v: Double) =
      Seq(("s1", b, v)).toDF("source", "commit_bucket", "value")
    def day(i: Int) = i * 86400L
    // one snapshot per day 0..5, plus a day-2 re-commit (last wins)
    (0 until 6).foreach(i => io.commit("f", df(day(i), i.toDouble), Seq(day(i)), "j"))
    io.commit("f", df(day(2), 42.0), Seq(day(2)), "j2")
    val slice = io.readRange(spark, "f", day(1), day(4)).get
    val rows = slice.select("commit_bucket", "value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    // last-commit-wins inside the range, range bounds [from, until)
    assert(rows == Seq((day(1), 1.0), (day(2), 42.0), (day(3), 3.0)))
    // the manifest IS the zone map: out-of-range snapshot dirs are never
    // opened — day 0/4/5 files and the superseded day-2 original must not
    // appear in the scan's file list
    val files = slice.inputFiles.toSet
    val allFiles = io.read(spark, "f").get.inputFiles.toSet
    assert(files.subsetOf(allFiles) && files.size < allFiles.size)
    assert(!files.exists(_.contains("snap-1")), "day-0 snapshot opened")
    assert(!files.exists(_.contains("snap-5")), "day-4 snapshot opened")
    assert(!files.exists(_.contains("snap-6")), "day-5 snapshot opened")
    assert(!files.exists(_.contains("snap-3")), "superseded day-2 opened")
    assert(files.exists(_.contains("snap-7")), "winning day-2 missing")
    // expired buckets stay invisible through the range read too
    io.expire("f", day(2))
    val afterExpiry = io.readRange(spark, "f", day(1), day(4)).get
      .select("commit_bucket").collect().map(_.getLong(0)).sorted.toSeq
    assert(afterExpiry == Seq(day(2), day(3)))
  }

  test("compaction: many small snapshots bin-packed into one; results, " +
    "done-buckets and resume unchanged; old dirs reclaimed") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = JFiles.createTempDirectory("graft_compact").toString
    val io = new TableIO(root, checkpointEvery = 100)
    def df(b: Long, v: Double) =
      Seq(("s1", b, v), ("s2", b, v + 0.5)).toDF("source", "commit_bucket", "value")
    def day(i: Int) = i * 86400L
    (0 until 8).foreach(i => io.commit("f", df(day(i), i.toDouble), Seq(day(i)), "j"))
    io.commit("f", df(day(2), 42.0), Seq(day(2)), "j2") // last-wins rewrite
    def dump() = io.read(spark, "f").get
      .select("source", "commit_bucket", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val before = dump()
    val filesBefore = io.read(spark, "f").get.inputFiles.length
    val doneBefore = io.doneBuckets("f")

    val snap = io.compact(spark, "f").get
    assert(snap.buckets == (0 until 8).map(day))

    assert(dump() == before, "compaction changed visible rows")
    assert(io.doneBuckets("f") == doneBefore, "compaction changed done set")
    // the read now resolves through the single packed snapshot
    val files = io.read(spark, "f").get.inputFiles
    assert(files.forall(_.contains(s"snap-${snap.id}")),
      "read still touches pre-compaction snapshots")
    assert(files.length < filesBefore)
    // superseded dirs are physically reclaimed
    (1 to 9).foreach(id => assert(
      !JFiles.exists(JPaths.get(root, "data", "f", s"snap-$id")),
      s"snap-$id survived compaction"))
    // resume semantics: nothing recomputes after compaction
    assert(io.doneBuckets("f") == (0 until 8).map(day).toSet)
    // a later incremental commit still lands normally
    io.commit("f", df(day(8), 8.0), Seq(day(8)), "j3")
    assert(dump().size == before.size + 2)
  }

  test("retention expiry: tombstone hides + vacuum deletes expired " +
    "buckets; expired stays done; orphan dir reclaimed; cutoff monotone") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = JFiles.createTempDirectory("graft_ret").toString
    val io = new TableIO(root, checkpointEvery = 100)
    def df(b: Long, v: Double) =
      Seq(("s1", b, v)).toDF("source", "commit_bucket", "value")
    (0 until 3).foreach(i =>
      io.commit("f", df(i * 86400L, i.toDouble), Seq(i * 86400L), "j"))
    io.expire("f", 2 * 86400L)
    val rows = io.read(spark, "f").get.select("commit_bucket")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(2 * 86400L))
    // expiry is a visibility decision, not an un-commit
    assert(io.doneBuckets("f") == Set(0L, 86400L, 2 * 86400L))
    assert(io.retentionCutoff("f").contains(2 * 86400L))
    // fully-expired snapshot dirs are physically gone; survivor remains
    assert(!JFiles.exists(JPaths.get(root, "data", "f", "snap-1")))
    assert(!JFiles.exists(JPaths.get(root, "data", "f", "snap-2")))
    assert(JFiles.exists(JPaths.get(root, "data", "f", "snap-3")))
    // crash between tombstone append and delete: the orphaned dead dir is
    // reclaimed by the next vacuum
    JFiles.createDirectories(JPaths.get(root, "data", "f", "snap-1"))
    io.vacuum()
    assert(!JFiles.exists(JPaths.get(root, "data", "f", "snap-1")))
    // monotone: a lower cutoff appends nothing and changes nothing
    io.expire("f", 0L)
    assert(io.retentionCutoff("f").contains(2 * 86400L))
  }

  test("source round-trips as a string, in either snapshot order") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    import org.apache.spark.sql.types.StringType
    def df(sources: Seq[String], b: Long) =
      sources.map(s => (s, b, 1.0)).toDF("source", "commit_bucket", "value")
    def day(i: Int) = i * 86400L
    def sources(d: org.apache.spark.sql.DataFrame) =
      d.select("source").as[String].collect().sorted.toSeq
    val numeric = Seq("007", "012")
    for ((first, second) <- Seq(numeric -> Seq("s1"), Seq("s1") -> numeric)) {
      val io = new TableIO(JFiles.createTempDirectory("graft_srctype").toString)
      io.commit("f", df(first, day(0)), Seq(day(0)), "j")
      io.commit("f", df(second, day(1)), Seq(day(1)), "j")
      val all = io.read(spark, "f").get
      assert(all.schema("source").dataType == StringType)
      assert(sources(all) == Seq("007", "012", "s1"))
      assert(sources(io.readRange(spark, "f", day(0), day(1)).get) == first)
      assert(sources(io.readRange(spark, "f", day(1), day(2)).get) == second)
    }
  }

  test("tier snapshots: one clustered file per write task, no per-source " +
    "dirs, source predicate pushed into the parquet scan") {
    import java.nio.file.{Files => JFiles, Path => JPath, Paths => JPaths}
    import scala.jdk.CollectionConverters._
    val corpus = TokenGen.bulk(spark, 300, nSources = 16, minLen = 16, maxLen = 128)
    val root = JFiles.createTempDirectory("graft_layout").toString
    RollupJob.run(spark, corpus, RollupJob.Conf(tableRoot = root, scale = scale))
    val io = new TableIO(root)
    val maxFiles = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def walk(dir: JPath) = {
      val s = JFiles.walk(dir)
      try s.iterator().asScala.drop(1).toVector finally s.close()
    }
    val snaps = io.snapshots()
    assert(snaps.map(_.tier).sorted ==
      Seq("1d", "1d-chunks", "1h", "1h-chunks", "1m", "1m-chunks"))
    snaps.foreach { s =>
      val entries = walk(JPaths.get(root, s.dir))
      assert(!entries.exists(_.getFileName.toString.startsWith("source=")),
        s"${s.tier}: per-source dir in $entries")
      val parts = entries.filter(_.getFileName.toString.startsWith("part-"))
      assert(parts.nonEmpty && parts.size <= maxFiles, s"${s.tier}: ${parts.size} files")
      val key = if (s.tier.endsWith("-chunks")) "commit_bucket" else "bucket"
      parts.foreach { f =>
        val rows = spark.read.parquet(f.toString)
          .select(col("source"), col(key).cast("long")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(rows == rows.sorted, s"${s.tier}: $f not ordered by (source, $key)")
      }
    }
    val plan = io.readRange(spark, "1m", Long.MinValue, Long.MaxValue).get
      .where(col("source") === "s3").queryExecution.executedPlan.toString
    assert("PushedFilters: \\[.*EqualTo\\(source,s3\\)".r.findFirstIn(plan).isDefined,
      s"source predicate not pushed into the scan:\n$plan")
  }

  test("mixed layouts: a source-partitioned snapshot reads like the new " +
    "layout in either order, and compaction rewrites it") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    def df(b: Long, v: Double) =
      Seq(("007", b, v), ("s1", b, v + 0.5)).toDF("source", "commit_bucket", "value")
    def day(i: Int) = i * 86400L
    // three daily snapshots; `legacy` (if any) in the former layout, staged
    // and published under one hold of the lock like any other write
    def table(legacy: Option[Int]) = {
      val io = new TableIO(JFiles.createTempDirectory("graft_mixed").toString)
      (0 until 3).foreach { i =>
        if (legacy.contains(i)) commitFormer(io, "f", df(day(i), i.toDouble), day(i))
        else io.commit("f", df(day(i), i.toDouble), Seq(day(i)), "j")
      }
      io
    }
    def dump(d: org.apache.spark.sql.DataFrame) =
      d.select("source", "commit_bucket", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    def reads(io: TableIO) = Seq(io.read(spark, "f").get,
      io.readRange(spark, "f", day(0), day(2)).get,
      io.readRange(spark, "f", day(1), day(3)).get).map(dump)
    val expected = reads(table(None))
    assert(expected.head.size == 6)
    for (legacy <- Seq(0, 2)) {
      val io = table(Some(legacy))
      assert(JFiles.exists(JPaths.get(io.root, "data", "f", s"snap-${legacy + 1}", "source=007")))
      assert(reads(io) == expected, s"legacy snapshot at day $legacy")
      assert(io.read(spark, "f").get.schema == inferredSchema(io, "f"),
        s"schema, legacy snapshot at day $legacy")
      val snap = io.compact(spark, "f").get
      val dir = JPaths.get(io.root, snap.dir)
      val names = dir.toFile.list()
      assert(names.exists(_.startsWith("part-")) && !names.exists(_.startsWith("source=")))
      assert(spark.read.parquet(dir.toString).schema("source").dataType ==
        org.apache.spark.sql.types.StringType)
      assert(reads(io) == expected, s"compacted, legacy snapshot at day $legacy")
    }
  }

  test("an all-empty write publishes a dir-less 0-row snapshot that counts " +
    "as done and reads as nothing") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    val io = new TableIO(JFiles.createTempDirectory("graft_empty").toString)
    def df(b: Long) = Seq(("s1", b, 1.0)).toDF("source", "commit_bucket", "value")
    io.commit("f", df(0L), Seq(0L), "j")
    val snap = io.locked {
      val staged = io.stage("f", df(86400L).where(lit(false)))
      // the unpartitioned write leaves one schema-only part file
      val parts = staged.dir.toFile.list().filter(_.startsWith("part-"))
      assert(parts.length == 1 && staged.rows == 0L)
      io.publish(staged, Seq(86400L), "j")
    }
    assert(snap.dir == "" && snap.rows == 0L)
    assert(io.snapshots().map(s => (s.dir, s.rows)) == Seq(("data/f/snap-1", 1L), ("", 0L)))
    assert(io.doneBuckets("f") == Set(0L, 86400L))
    assert(!JFiles.exists(java.nio.file.Paths.get(io.root, "data", "f", "snap-2")))
    assert(io.read(spark, "f").get.select("commit_bucket").as[Long].collect().toSeq == Seq(0L))
    assert(io.readRange(spark, "f", 86400L, 2 * 86400L).isEmpty)
  }

  test("token-array equality invariant: ingest -> table -> read back") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_tok").toString
    bulk.write.mode("overwrite").partitionBy("source").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == bulk.count())
    val j = bulk.as("a").join(back.as("b"), Seq("doc_id"))
    val bad = j.where(col("a.tokens") =!= col("b.tokens") ||
      size(col("b.tokens")) =!= col("b.n_tok")).count()
    assert(bad == 0, s"$bad rows violate the token-array equality invariant")
  }

  test("gap-fill LOCF over tier buckets") {
    val states = TokenRollup.rowStates(bulk, scale)
    val m1 = TokenRollup.finalizeFeatures(
      TokenRollup.mergeToBuckets(states, "1 minute", Seq("event_time", "doc_id")))
    val filled = graft.engine.Rollup.gapFillLocf(
      m1.select(col("source"), col("bucket"), col("mean")),
      Seq("source"), "bucket", Seq("mean"), "1 minute")
    // grid is dense per source: count == (max-min)/60s + 1
    val bounds = filled.groupBy("source")
      .agg(count(lit(1)).as("n"),
        ((unix_timestamp(max(col("bucket"))) - unix_timestamp(min(col("bucket")))) / 60 + 1)
          .as("expected"))
    assert(bounds.where(col("n") =!= col("expected")).count() == 0)
    // gaps exist (generator skips every 7th minute) and are filled
    assert(filled.where(col("filled") === 1).count() > 0)
    assert(filled.where(col("mean_locf").isNull).count() == 0)
  }

  test("gap-fill linear: interior interpolation, trailing LOCF, leading " +
    "back-fill when a secondary column's first buckets are null") {
    import spark.implicits._
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    // primary column a observed at hours 0/3/4; secondary b only at hour 3
    // (the grid starts at a's first bucket, so b has a LEADING gap — the
    // case that yielded null through r3)
    val sparse = Seq(
      ("k", ts(0), Option(10.0), Option.empty[Double]),
      ("k", ts(3), Option(40.0), Option(7.0)),
      ("k", ts(4), Option(50.0), Option.empty[Double]))
      .toDF("source", "bucket", "a", "b")
    val filled = graft.engine.Rollup.gapFillLinear(
      sparse, Seq("source"), "bucket", Seq("a", "b"), "1 hour")
      .orderBy("bucket")
      .select("a_lin", "b_lin", "filled").collect()
    val aLin = filled.map(_.getDouble(0))
    val bLin = filled.map(_.getDouble(1))
    assert(aLin.sameElements(Array(10.0, 20.0, 30.0, 40.0, 50.0)),
      s"interior linear interpolation: ${aLin.toSeq}")
    assert(bLin.sameElements(Array(7.0, 7.0, 7.0, 7.0, 7.0)),
      s"leading back-fill + trailing LOCF: ${bLin.toSeq}")
    assert(filled.map(_.getInt(2)).sameElements(Array(0, 1, 1, 0, 0)))
  }
}
