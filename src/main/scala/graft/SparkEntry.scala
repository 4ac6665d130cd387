package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{feature, duckRound, FeatureParams}
import graft.operators.{AnnOps, DedupOps, PipelineOps, SignalOps, TextOps}
import graft.engine.Rollup

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), DuckDB-equivalent SQL in `oracleSql` where the operator
  * is ANSI-SQL-expressible. Column names and duckRound(, 6) quantization are
  * kept identical on both sides so the driver's sorted-column value hash
  * matches (floats agree to ~1e-12 between engines; rounding removes the
  * residue).
  */
object SparkEntry {
  private val P = FeatureParams() // sfreq=256, scale=1 (events are floats)

  private def sig(s: SparkSession, dir: String): DataFrame =
    SignalOps.eventSignals(s, dir).where(size(col("signal")) >= 8)

  private def f(name: String, p: FeatureParams = P)(c: Column): Column =
    feature(name, c, p)

  /** Cross-channel query: per user, channels = event_type series. */
  private def bivQ(s: SparkSession, dir: String, name: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
    val chans = ev.groupBy(col("user_id"), col("event_type"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("evs"))
      .select(col("user_id"), col("event_type"), col("evs.value").as("sig"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("event_type"), col("sig"))))
        .as("channels"))
    chans.select(col("user_id"),
      graft.functions.bivariate(name, col("channels")).as(name))
      .where(col(name).isNotNull)
      .select(col("user_id"),
        duckRound(element_at(col(name), 1), 6).as(s"${name}_p1"),
        duckRound(element_at(col(name), 2), 6).as(s"${name}_p2"))
      .orderBy("user_id")
  }

  /** events + integer-cents quantized value column (exact aggregation). */
  private def centsEvents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
      .withColumn("c", duckRound(col("value") * 100, 0).cast("long"))

  /** Events re-shaped as the north-rule token table: one doc per
    * (event_type, 10-minute window), tokens = ts/event_id-ordered cents.
    * Shared by the checkpoint-resume and retention gates. */
  private def centsTokens(s: SparkSession, dir: String): DataFrame =
    centsEvents(s, dir)
      .groupBy(col("event_type").as("source"),
        window(col("ts"), "10 minutes")("start").as("event_time"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("c")))).as("evs"))
      .select(col("source"), col("event_time"),
        concat(col("source"), lit("_"),
          unix_timestamp(col("event_time"))).as("doc_id"),
        transform(col("evs"), e => e.getField("c").cast("int")).as("tokens"))
      .withColumn("n_tok", size(col("tokens")))

  /** Flagship: headline features per user + 1h tier rollup, sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    sig(spark, dir).select(col("user_id"),
      f("mean")(col("signal")).as("mean"),
      f("variance")(col("signal")).as("variance"),
      f("line_length")(col("signal")).as("line_length"),
      f("hjorth_mobility")(col("signal")).as("hjorth_mobility"),
      f("hjorth_complexity")(col("signal")).as("hjorth_complexity"),
      f("spect_entropy")(col("signal")).as("spect_entropy"),
      f("higuchi_fd")(col("signal")).as("higuchi_fd"))
  }

  // ---- per-user scalar feature queries (DuckDB-gated) ---------------------

  private def scalarQ(name: String, outCol: String,
                      digits: Int = 6): (SparkSession, String) => DataFrame =
    (s, dir) => sig(s, dir)
      .select(col("user_id"), duckRound(f(name)(col("signal")), digits).as(outCol))
      .orderBy("user_id")

  private def del(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(del)
    f.delete()
  }

  /** The gate queries' scratch root: one temp dir per JVM, removed at
    * exit, so two runs on one host never delete each other's tables. */
  private[graft] lazy val gateRoot: java.io.File = {
    val r = java.nio.file.Files.createTempDirectory("graft_gates").toFile
    sys.addShutdownHook(del(r))
    r
  }

  /** A gate's table dir under [[gateRoot]], its old copy deleted. */
  private def gateDir(name: String): String = {
    val d = new java.io.File(gateRoot, name)
    del(d)
    d.getPath
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mean" -> scalarQ("mean", "mean"),
    "q_variance" -> scalarQ("variance", "variance"),
    "q_std" -> scalarQ("std", "std"),
    "q_rms" -> scalarQ("rms", "rms"),
    "q_ptp_amp" -> scalarQ("ptp_amp", "ptp_amp"),
    "q_skewness" -> scalarQ("skewness", "skewness"),
    "q_kurtosis" -> scalarQ("kurtosis", "kurtosis"),
    "q_hjorth_mobility" -> scalarQ("hjorth_mobility", "hjorth_mobility"),
    "q_hjorth_complexity" -> scalarQ("hjorth_complexity", "hjorth_complexity"),
    "q_katz_fd" -> scalarQ("katz_fd", "katz_fd"),
    "q_line_length" -> scalarQ("line_length", "line_length"),

    "q_quantile" -> ((s, dir) => {
      val qcol = f("quantile", P.copy(qs = Seq(0.25, 0.75)))(col("signal"))
      sig(s, dir).select(col("user_id"),
        duckRound(element_at(qcol, 1), 6).as("q25"),
        duckRound(element_at(qcol, 2), 6).as("q75")).orderBy("user_id")
    }),

    "q_zero_crossings" -> ((s, dir) =>
      sig(s, dir).select(col("user_id"),
        f("zero_crossings")(SignalOps.diffArray(col("signal")))
          .as("zero_crossings")).orderBy("user_id")),

    // ---- retention tiers over (event_type, tumbling window) --------------
    // Tier aggregation runs on integer-quantized samples (cents), so the
    // partial sums are exact integers and the result is identical under
    // ANY aggregation topology (direct, cascaded, salted) — the same
    // order-independence argument as the token-quantization convention
    // (FIXTURES.md par.2).
    "q_tier_1h" -> ((s, dir) => {
      val ev = centsEvents(s, dir)
      ev.groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("scc"),
          min(col("c")).as("cmin"), max(col("c")).as("cmax"))
        .select(col("event_type"), unix_timestamp(col("w.start")).as("bucket_s"),
          col("n"), (col("sc").cast("double") / col("n") / 100.0).as("mean"),
          (col("cmin").cast("double") / 100.0).as("vmin"),
          (col("cmax").cast("double") / 100.0).as("vmax"),
          (sqrt(col("scc").cast("double") / col("n")) / 100.0).as("rms"))
        .orderBy("event_type", "bucket_s")
    }),

    // continuous-aggregate cascade: 1m partials merged to 1h (exactness of
    // the partial-merge is the point; oracle computes 1h directly)
    "q_tier_1h_cascade" -> ((s, dir) => {
      val ev = centsEvents(s, dir)
      val m1 = Rollup.partials(ev, Seq("event_type"), "ts", "c", "1 minute")
      val h1 = Rollup.merge(m1, Seq("event_type"), "1 hour")
      h1.select(col("event_type"), unix_timestamp(col("bucket")).as("bucket_s"),
        col("p_n").as("n"),
        (col("p_sum").cast("double") / col("p_n") / 100.0).as("mean"),
        (sqrt(col("p_sumsq").cast("double") / col("p_n")) / 100.0).as("rms"))
        .orderBy("event_type", "bucket_s")
    }),

    // salted two-stage aggregation must equal the direct plan bit-for-bit
    "q_tier_1h_salted" -> ((s, dir) => {
      val ev = centsEvents(s, dir)
      val h1 = Rollup.saltedPartials(ev, Seq("event_type"), "ts", "c", "1 hour", 8)
      h1.select(col("event_type"), unix_timestamp(col("bucket")).as("bucket_s"),
        col("p_n").as("n"),
        (col("p_sum").cast("double") / col("p_n") / 100.0).as("mean"),
        (col("p_min").cast("double") / 100.0).as("vmin"),
        (col("p_max").cast("double") / 100.0).as("vmax"),
        (sqrt(col("p_sumsq").cast("double") / col("p_n")) / 100.0).as("rms"))
        .orderBy("event_type", "bucket_s")
    }),

    // holistic tier: features over the day-concatenated window signal
    "q_tier_1d" -> ((s, dir) =>
      SignalOps.bucketSignals(s, dir, "1 day")
        .where(size(col("signal")) >= 8)
        .select(col("event_type"), col("bucket_s"),
          duckRound(f("mean")(col("signal")), 6).as("mean"),
          duckRound(f("variance")(col("signal")), 6).as("variance"),
          duckRound(f("line_length")(col("signal")), 6).as("line_length"))
        .orderBy("event_type", "bucket_s")),

    // LOCF gap-fill on the dense hourly grid
    "q_gapfill_1h" -> ((s, dir) => {
      val ev = centsEvents(s, dir)
      val agg = ev.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("bucket"))
        .agg((sum(col("c")).cast("double") / count(lit(1)) / 100.0).as("mean"))
      Rollup.gapFillLocf(agg, Seq("event_type"), "bucket", Seq("mean"), "1 hour")
        .select(col("event_type"), unix_timestamp(col("bucket")).as("bucket_s"),
          col("mean_locf"), col("filled"))
        .orderBy("event_type", "bucket_s")
    }),

    // linear-interpolation gap-fill on the same dense hourly grid
    "q_gapfill_linear_1h" -> ((s, dir) => {
      val ev = centsEvents(s, dir)
      val agg = ev.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("bucket"))
        .agg((sum(col("c")).cast("double") / count(lit(1)) / 100.0).as("mean"))
      Rollup.gapFillLinear(agg, Seq("event_type"), "bucket", Seq("mean"), "1 hour")
        .select(col("event_type"), unix_timestamp(col("bucket")).as("bucket_s"),
          duckRound(col("mean_lin"), 6).as("mean_lin"), col("filled"))
        .orderBy("event_type", "bucket_s")
    }),

    // Streaming==batch gate: the SAME 10-minute token docs driven through
    // the stateful Structured Streaming tier (AvailableNow -> memory sink)
    // must reproduce the direct 1h aggregate the oracle computes — the
    // streaming face of the mergeable state is oracle-gated, not just
    // ScalaTest-gated.
    "q_streaming_equivalence" -> ((s, dir) => {
      val src = gateDir("graft_stream_gate")
      val ev = centsEvents(s, dir)
      ev.groupBy(col("event_type").as("source"),
        window(col("ts"), "10 minutes")("start").as("event_time"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("c")))).as("evs"))
        .select(col("source"),
          col("event_time").cast("timestamp").as("event_time"),
          concat(col("source"), lit("_"),
            unix_timestamp(col("event_time"))).as("doc_id"),
          transform(col("evs"), e => e.getField("c").cast("int")).as("tokens"))
        .withColumn("n_tok", size(col("tokens")))
        .write.mode("overwrite").parquet(src)
      // n and mean from the orderless sums, line_length from the boundary
      // bridge under incremental processing, exact vs the oracle. The
      // fallback wrapper, not bare collapse: if a window ever overflows
      // maxSegs here, its diff family must come from the batch cascade
      // rather than silently emitting the zeroed overflow row
      graft.streaming.StreamingRollup.runOnceDiffWithBatchFallback(s, src,
        "1 hour", "1 minute", 1.0, "graft_stream_diff_" + System.nanoTime())
        .select(col("source").as("event_type"), col("bucketS").as("bucket_s"),
          col("n"), (col("s1") / col("n") / 100.0).as("mean"),
          ((col("sumAbsD") / (col("n") - 1)) / 100.0).as("line_length"))
        .orderBy("event_type", "bucket_s")
    }),

    // ---- spectral / nonlinear features (no ANSI-SQL equivalent:
    //      rows-only driver check; exact parity covered by ScalaTest) ------
    "q_spect_entropy" -> scalarQ("spect_entropy", "spect_entropy"),
    "q_higuchi_fd" -> scalarQ("higuchi_fd", "higuchi_fd"),
    "q_hurst_exp" -> scalarQ("hurst_exp", "hurst_exp"),
    "q_app_entropy" -> scalarQ("app_entropy", "app_entropy"),
    "q_samp_entropy" -> scalarQ("samp_entropy", "samp_entropy"),
    "q_svd_entropy" -> scalarQ("svd_entropy", "svd_entropy"),
    "q_svd_fisher_info" -> scalarQ("svd_fisher_info", "svd_fisher_info"),
    "q_decorr_time" -> scalarQ("decorr_time", "decorr_time"),
    "q_hjorth_mobility_spect" -> scalarQ("hjorth_mobility_spect", "hjorth_mobility_spect"),
    // f^4 moments are ~4e7: quantize at 2 decimals so the oracle compare
    // sits far above the FFT-vs-DFT summation-order residue
    "q_hjorth_complexity_spect" -> scalarQ("hjorth_complexity_spect",
      "hjorth_complexity_spect", 2),

    "q_pow_freq_bands" -> ((s, dir) => {
      val v = f("pow_freq_bands")(col("signal"))
      sig(s, dir).select(col("user_id"),
        duckRound(element_at(v, 1), 6).as("band0"),
        duckRound(element_at(v, 2), 6).as("band1"),
        duckRound(element_at(v, 3), 6).as("band2"),
        duckRound(element_at(v, 4), 6).as("band3"),
        duckRound(element_at(v, 5), 6).as("band4")).orderBy("user_id")
    }),
    "q_spect_slope" -> ((s, dir) => {
      val v = f("spect_slope")(col("signal"))
      sig(s, dir).select(col("user_id"),
        duckRound(element_at(v, 1), 6).as("intercept"),
        duckRound(element_at(v, 2), 6).as("slope"),
        duckRound(element_at(v, 3), 6).as("mse"),
        duckRound(element_at(v, 4), 6).as("r2")).orderBy("user_id")
    }),
    "q_spect_edge_freq" -> ((s, dir) => {
      val v = f("spect_edge_freq", P.copy(edges = Seq(0.5, 0.9)))(col("signal"))
      sig(s, dir).select(col("user_id"),
        duckRound(element_at(v, 1), 6).as("edge50"),
        duckRound(element_at(v, 2), 6).as("edge90")).orderBy("user_id")
    }),
    "q_energy_freq_bands" -> ((s, dir) => {
      val v = f("energy_freq_bands")(col("signal"))
      sig(s, dir).select(col("user_id"),
        duckRound(element_at(v, 1), 6).as("band0"),
        duckRound(element_at(v, 5), 6).as("band4")).orderBy("user_id")
    }),
    "q_wavelet_coef_energy" -> ((s, dir) => {
      val v = f("wavelet_coef_energy")(col("signal"))
      sig(s, dir).select(col("user_id"),
        duckRound(element_at(v, 1), 6).as("d1_energy"),
        duckRound(element_at(v, 2), 6).as("d2_energy")).orderBy("user_id")
    }),
    "q_teager_kaiser_energy" -> ((s, dir) => {
      val v = f("teager_kaiser_energy")(col("signal"))
      sig(s, dir).select(col("user_id"),
        duckRound(element_at(v, 1), 6).as("l0_mean"),
        duckRound(element_at(v, 2), 6).as("l0_std")).orderBy("user_id")
    }),

    // ---- training-data pipeline ops (documents / embeddings) -------------
    "q_doc_token_count" -> ((s, dir) =>
      TextOps.tokenCount(TextOps.docs(s, dir)).orderBy("doc_id")),
    "q_doc_quality" -> ((s, dir) =>
      TextOps.quality(TextOps.docs(s, dir)).orderBy("doc_id")),
    "q_doc_langid" -> ((s, dir) =>
      TextOps.langId(TextOps.docs(s, dir)).orderBy("doc_id")),
    "q_doc_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(TextOps.docs(s, dir)).orderBy("doc_id")),
    "q_dedup_exact" -> ((s, dir) =>
      DedupOps.exact(TextOps.docs(s, dir)).orderBy("text_hash")),
    "q_dedup_minhash" -> ((s, dir) =>
      DedupOps.minhashCandidates(TextOps.docs(s, dir), 0.2)
        .orderBy("doc_a", "doc_b")),
    // duplicate clusters: connected components over the LSH pair graph,
    // component-min labels + canonical keep flag (see DedupOps)
    "q_dedup_clusters" -> ((s, dir) =>
      DedupOps.duplicateClusters(TextOps.docs(s, dir), 0.5)
        .orderBy("doc_id")),
    "q_dedup_simhash" -> ((s, dir) =>
      DedupOps.simhashSignatures(TextOps.docs(s, dir)).orderBy("doc_id")),
    // exact Jaccard verification over the MinHash-LSH candidate set (the
    // real dedup path: LSH candidates -> exact set similarity)
    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      DedupOps.ngramJaccardLsh(TextOps.docs(s, dir), 0.2)
        .orderBy("doc_a", "doc_b")),
    // training-set assembly: concat-then-chunk packing into 512-token
    // bins per source (oracle recomputes the window arithmetic)
    "q_pack_sequences" -> ((s, dir) =>
      PipelineOps.packSequences(TextOps.docs(s, dir), 512)
        .orderBy("source", "bin")),
    // decontamination: held-out set = doc_id % 97 == 0; training docs
    // sharing any word-3-gram shingle with it are flagged with the
    // distinct shared-shingle count (oracle recomputes via the same
    // mirrored shingle-hash pipeline as the dedup gates)
    "q_decontaminate" -> ((s, dir) => {
      val d = TextOps.docs(s, dir)
      PipelineOps.decontaminate(
        d.where(pmod(col("doc_id"), lit(97)) =!= 0),
        d.where(pmod(col("doc_id"), lit(97)) === 0))
        .orderBy("doc_id")
    }),
    // deterministic content-keyed train/val/test split (80/10/10 by
    // fingerprint mod 100 — exact dups can't straddle the boundary)
    "q_split_hash" -> ((s, dir) =>
      PipelineOps.splitAssign(TextOps.docs(s, dir)).orderBy("doc_id")),
    // sketch-in-streaming-state: the HLL++ aggregate running inside a
    // watermarked tumbling-window streaming aggregation — its binary
    // buffer must round-trip through the state store and still land in
    // the sparse-exact regime, so the oracle is a per-(type, day)
    // count(DISTINCT) recompute
    "q_streaming_distinct" -> ((s, dir) => {
      val src = gateDir("graft_stream_hll_gate")
      // stage into a directory (the file stream source rejects bare
      // files); window() requires TIMESTAMP — the NTZ cast is the
      // identity instant under the UTC session. 8 staged files +
      // maxFilesPerTrigger=2 force SEVERAL micro-batches so the sketch
      // buffer genuinely round-trips the state store between triggers
      // (one batch would compute the only output before the first
      // serialize). No watermark: complete mode keeps all state, and a
      // watermark would make out-of-order arrivals across batches a
      // late-row drop hazard.
      s.read.parquet(s"$dir/events.parquet")
        .select(col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"))
        .repartition(8)
        .write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
      val agg = stream
        .groupBy(col("event_type"), window(col("ts"), "1 day")("start").as("day"))
        .agg(graft.functions.hll_distinct(graft.functions.null_safe_hash64(col("user_id")))
          .as("n_users"))
      val name = "graft_stream_hll_" + System.nanoTime()
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name).select(col("event_type"),
        unix_timestamp(col("day")).as("day_s"), col("n_users"))
        .orderBy("event_type", "day_s")
    }),
    // streaming exact dedup: the batch keeper/count contract maintained
    // incrementally by flatMapGroupsWithState, driven through SEVERAL
    // micro-batches (maxFilesPerTrigger over a range-partitioned source
    // with synthesized duplicates) — the final view must hash-match the
    // one-shot batch oracle whatever the batch split was
    "q_dedup_streaming" -> ((s, dir) => {
      val src = gateDir("graft_stream_dedup_gate")
      val base = TextOps.docs(s, dir).select(col("doc_id"), col("text"))
      val dups = base.where(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      base.unionByName(dups).repartitionByRange(8, col("doc_id"))
        .write.mode("overwrite").parquet(src)
      graft.streaming.StreamingDedup.runOnce(s, src,
        "graft_stream_dedup_" + System.nanoTime())
        .orderBy("text_hash")
    }),
    // cardinality sketch: per-type distinct users through the mergeable
    // HLL++ aggregate (functions/SketchAggs.scala). Gate-scale groups sit
    // in the sparse-exact regime (<= 4096 distinct), so the oracle is
    // count(DISTINCT); at 100 TB the same plan ships 16 KiB register
    // blocks per group instead of a distinct-set shuffle.
    "q_distinct_hll" -> ((s, dir) =>
      centsEvents(s, dir).groupBy(col("event_type"))
        .agg(graft.functions.hll_distinct(graft.functions.null_safe_hash64(col("user_id")))
          .as("n_users"))
        .orderBy("event_type")),
    // quantile sketch: per-type value quantiles through the deterministic
    // dyadic-collapse histogram. Gate-scale groups hold < 4096 distinct
    // cents, so level stays 0 and the sketch interpolation IS
    // quantile_cont (bin_width = 1 is the exactness certificate); beyond
    // capacity the state stays bounded and every estimate is within one
    // bin width
    "q_quantile_sketch" -> ((s, dir) => {
      val qs = graft.functions.dyadic_quantiles(col("c"), 4096,
        Seq(0.25, 0.5, 0.75, 0.95))
      centsEvents(s, dir).groupBy(col("event_type")).agg(qs.as("qd"))
        .select(col("event_type"),
          duckRound(element_at(col("qd.quantiles"), 1) / 100.0, 6).as("p25"),
          duckRound(element_at(col("qd.quantiles"), 2) / 100.0, 6).as("p50"),
          duckRound(element_at(col("qd.quantiles"), 3) / 100.0, 6).as("p75"),
          duckRound(element_at(col("qd.quantiles"), 4) / 100.0, 6).as("p95"),
          col("qd.bin_width").as("bin_width"))
        .orderBy("event_type")
    }),
    // vocabulary heavy hitters: Misra-Gries summary with capacity 64 at
    // every stage — the corpus vocabulary (31 words) sits under capacity,
    // so err_bound = 0 certifies the counts exact and the oracle is a
    // plain frequency top-10; at 100 TB the same plan keeps O(64) state
    // per partition instead of shuffling the token stream
    "q_tok_heavy_hitters" -> ((s, dir) =>
      TextOps.docs(s, dir)
        .select(explode(split(trim(lower(col("text"))), " ")).as("w"))
        .agg(graft.functions.mg_topk(col("w"), 64).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("item"),
          col("e.est_count").as("est_count"),
          col("e.err_bound").as("err_bound"))
        .orderBy(desc("est_count"), asc("item"))
        .limit(10)),
    // welch PSD path (the reference's default psd_method)
    "q_spect_entropy_welch" -> ((s, dir) =>
      sig(s, dir).select(col("user_id"),
        duckRound(f("spect_entropy", P.copy(psdMethod = "welch"))(col("signal")), 6)
          .as("spect_entropy_welch")).orderBy("user_id")),
    "q_pow_freq_bands_welch" -> ((s, dir) => {
      val v = f("pow_freq_bands", P.copy(psdMethod = "welch"))(col("signal"))
      sig(s, dir).select(col("user_id"),
        duckRound(element_at(v, 2), 6).as("band1"),
        duckRound(element_at(v, 5), 6).as("band4")).orderBy("user_id")
    }),
    // multitaper PSD path over fixed 64-sample prefixes: a single taper
    // set (n=64) makes the DPSS literals SQL-inlineable for the oracle
    "q_spect_entropy_mt" -> ((s, dir) =>
      sig(s, dir).where(size(col("signal")) >= 64)
        .select(col("user_id"),
          duckRound(f("spect_entropy", P.copy(psdMethod = "multitaper"))(
            slice(col("signal"), 1, 64)), 6).as("spect_entropy_mt"))
        .orderBy("user_id")),
    // second taper set at n=72 (non-power-of-two: exercises the Bluestein
    // FFT path AND the size-independent DPSS solve at a second length)
    "q_spect_entropy_mt72" -> ((s, dir) =>
      sig(s, dir).where(size(col("signal")) >= 72)
        .select(col("user_id"),
          duckRound(f("spect_entropy", P.copy(psdMethod = "multitaper"))(
            slice(col("signal"), 1, 72)), 6).as("spect_entropy_mt72"))
        .orderBy("user_id")),
    // adaptive (Thomson-weighted) multitaper: the iterative weighting is
    // mirrored in the oracle as a recursive CTE (tools/oracles_r2.py
    // mt_adaptive_oracle) — the last operator knob without a gate in r3
    "q_spect_entropy_mt_adaptive" -> ((s, dir) =>
      sig(s, dir).where(size(col("signal")) >= 64)
        .select(col("user_id"),
          duckRound(f("spect_entropy",
            P.copy(psdMethod = "multitaper", mtAdaptive = true))(
            slice(col("signal"), 1, 64)), 6).as("spect_entropy_mt_adaptive"))
        .orderBy("user_id")),

    // ---- bivariate (cross-channel) ops: channels = a user's per-event_type
    //      series, truncated to the common min length -------------------
    "q_biv_time_corr" -> ((s, dir) => bivQ(s, dir, "time_corr")),
    "q_biv_phase_lock_val" -> ((s, dir) => bivQ(s, dir, "phase_lock_val")),
    "q_biv_max_cross_corr" -> ((s, dir) => bivQ(s, dir, "max_cross_corr")),
    "q_biv_spect_corr" -> ((s, dir) => bivQ(s, dir, "spect_corr")),
    "q_biv_nonlin_interdep" -> ((s, dir) => bivQ(s, dir, "nonlin_interdep")),

    // ---- north-rule engine gates: codec round-trip + checkpoint-resume ----
    // Gorilla (values) and delta-of-delta (timestamps) are lossless: the
    // decode∘encode image of each per-event_type ordered series must equal
    // the raw series — the oracle computes the same aggregates directly.
    "q_codec_roundtrip" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val series = ev.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("value")))).as("evs"))
        .select(col("event_type"), col("evs.value").as("vals"),
          transform(col("evs"),
            e => unix_timestamp(e.getField("ts"))).as("tss"))
      series
        .withColumn("vdec", graft.functions.gorilla_decode(
          graft.functions.gorilla_encode(col("vals"))))
        .withColumn("tdec", graft.functions.dod_decode(
          graft.functions.dod_encode(col("tss"))))
        .select(col("event_type"),
          size(col("vdec")).cast("long").as("n"),
          duckRound(aggregate(col("vdec"), lit(0.0), (a, v) => a + v), 6).as("vsum"),
          duckRound(element_at(col("vdec"), 1), 6).as("vfirst"),
          duckRound(element_at(col("vdec"), -1), 6).as("vlast"),
          aggregate(col("tdec"), lit(0L), (a, v) => a + v).as("ts_sum"))
        .orderBy("event_type")
    }),

    // Checkpoint-resume equivalence: run the manifest-committed rollup on a
    // day-1 prefix (simulating an interrupted job), then resume over the
    // full input; the manifest-reassembled 1h tier must equal the direct
    // 1h aggregate the oracle computes. Exercises TableIO commit/resume +
    // the mergeable-state cascade end to end.
    "q_resume_equivalence" -> ((s, dir) => {
      val root = gateDir("graft_resume_gate")
      // stage the token table ONCE for the multi-step backfill: both jobs
      // (and their day-list actions) re-evaluate `tok`, and centsTokens is
      // a full groupBy+collect shuffle per evaluation — the same persist a
      // real resumed backfill would hold across its steps
      val tok = centsTokens(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val conf = graft.engine.RollupJob.Conf(tableRoot = root, scale = 1.0,
        tiers = Seq("1h" -> "1 hour"), jobId = "resume-gate")
      val dayCol = unix_timestamp(date_trunc("day", col("event_time")))
      val firstDay = tok.select(dayCol.as("d")).agg(min(col("d")))
        .collect()(0).getLong(0)
      graft.engine.RollupJob.run(s, tok.where(dayCol === firstDay), conf)
      graft.engine.RollupJob.run(s, tok, conf) // resume: remaining days only
      tok.unpersist(false)
      val feats = new graft.table.TableIO(root).read(s, "1h").get
      feats.select(col("source").as("event_type"),
        unix_timestamp(col("bucket")).as("bucket_s"),
        col("n_samples").cast("long").as("n"),
        (col("mean") / 100.0).as("mean"))
        .orderBy("event_type", "bucket_s")
    }),

    // Retention-expiry gate: the cascade commits 1h + 1d, then the 1h
    // tier's retention policy (horizon 14 days behind the newest day)
    // tombstones and vacuums every older day bucket; manifest checkpoint
    // every 2 lines so the read path resolves through checkpoint +
    // tombstone + compaction. A second run proves expired buckets stay
    // done (resume recomputes nothing; output unchanged). The oracle
    // recomputes the surviving bucket set (day >= max event day) from raw
    // events.
    "q_retention" -> ((s, dir) => {
      val root = gateDir("graft_retention_gate")
      val tok = centsTokens(s, dir) // staged once across both runs
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val conf = graft.engine.RollupJob.Conf(tableRoot = root, scale = 1.0,
        tiers = Seq("1h" -> "1 hour", "1d" -> "1 day"),
        jobId = "retention-gate", retention = Map("1h" -> 14L * 86400L),
        manifestCheckpointEvery = 2)
      graft.engine.RollupJob.run(s, tok, conf)
      graft.engine.RollupJob.run(s, tok, conf.copy(jobId = "retention-gate-2"))
      tok.unpersist(false)
      val feats = new graft.table.TableIO(root).read(s, "1h").get
      feats.select(col("source").as("event_type"),
        unix_timestamp(col("bucket")).as("bucket_s"),
        col("n_samples").cast("long").as("n"),
        (col("mean") / 100.0).as("mean"))
        .orderBy("event_type", "bucket_s")
    }),

    // Manifest-pruned range read: the table is built in three 10-day
    // resume steps (three snapshots), then a middle 10-day slice is read
    // through TableIO.readRange — the manifest acts as the zone map, so
    // only the snapshots serving the range are opened (the third is never
    // listed; RollupEngineSpec pins that via inputFiles). The oracle
    // recomputes the 1h aggregate restricted to the same day range.
    "q_table_range_read" -> ((s, dir) => {
      val root = gateDir("graft_range_gate")
      val tok = centsTokens(s, dir) // staged once across all three steps
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val conf = graft.engine.RollupJob.Conf(tableRoot = root, scale = 1.0,
        tiers = Seq("1h" -> "1 hour"), jobId = "range-gate")
      val dayCol = unix_timestamp(date_trunc("day", col("event_time")))
      val d0 = tok.select(dayCol.as("d")).agg(min(col("d")))
        .collect()(0).getLong(0)
      graft.engine.RollupJob.run(s, tok.where(dayCol < d0 + 10 * 86400L), conf)
      graft.engine.RollupJob.run(s, tok.where(dayCol < d0 + 20 * 86400L), conf)
      graft.engine.RollupJob.run(s, tok, conf)
      tok.unpersist(false)
      val feats = new graft.table.TableIO(root)
        .readRange(s, "1h", d0 + 9 * 86400L, d0 + 19 * 86400L).get
      feats.select(col("source").as("event_type"),
        unix_timestamp(col("bucket")).as("bucket_s"),
        col("n_samples").cast("long").as("n"),
        (col("mean") / 100.0).as("mean"))
        .orderBy("event_type", "bucket_s")
    }),
    // Multimodal pipeline gate: document payloads as opaque binary media,
    // batch feature extraction through the real mapPartitions plumbing
    // (schema + partition-batch iteration); the decode kernel is the
    // documented deterministic stand-in, so the whole path is oracle-able.
    "q_multimodal_extract" -> ((s, dir) => {
      import s.implicits._
      val media = TextOps.docs(s, dir).select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("bytes"),
        lit(64).as("width"), lit(64).as("height"),
        lit(16000).as("sample_rate"), col("source"))
        .as[graft.operators.MultimodalOps.Media]
      graft.operators.MultimodalOps.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
          duckRound(col("brightness"), 6).as("brightness"), col("n_frames"))
        .orderBy("media_id")
    }),

    // REAL image decode gate (r3): deterministic P5 PGM payloads built
    // per doc_id, decoded by the pure-JVM netpbm parser; the oracle
    // recomputes the pixel function in closed form
    "q_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = TextOps.docs(s, dir).select(col("doc_id")).as[Long]
      val media = ids.map { id =>
        graft.operators.MultimodalOps.Media(id, "image",
          graft.operators.MediaCodecs.encodePgm(8, 8,
            Array.tabulate(64)(i => ((id * 31 + i) % 256).toInt)),
          8, 8, 0, "synth")
      }
      graft.operators.MultimodalOps.extractFeatures(media).toDF()
        .select(col("media_id"), col("decoded"), col("dec_width"),
          col("dec_height"), duckRound(col("brightness"), 6).as("brightness"))
        .orderBy("media_id")
    }),

    // REAL PNG decode gate (r5): deterministic non-interlaced 8-bit gray
    // PNGs built per doc_id (chunks + CRC32 + Deflater), decoded by the
    // pure-JVM chunk-walk + Inflater + scanline-filter parser; the oracle
    // recomputes the pixel function in closed form (decode inverts the
    // whole container exactly, so compression cancels out)
    "q_multimodal_png" -> ((s, dir) => {
      import s.implicits._
      val ids = TextOps.docs(s, dir).select(col("doc_id")).as[Long]
      val media = ids.map { id =>
        graft.operators.MultimodalOps.Media(id, "image",
          graft.operators.MediaCodecs.encodePng(8, 8, 1,
            Array.tabulate(64)(i => ((id * 37 + 3 * i) % 256).toInt)),
          8, 8, 0, "synth")
      }
      graft.operators.MultimodalOps.extractFeatures(media).toDF()
        .select(col("media_id"), col("decoded"), col("dec_width"),
          col("dec_height"), duckRound(col("brightness"), 6).as("brightness"))
        .orderBy("media_id")
    }),

    // REAL audio decode gate: deterministic PCM-16 WAV payloads per
    // doc_id, decoded by the pure-JVM RIFF parser; mean-abs level and
    // sample count recomputed in closed form by the oracle
    "q_multimodal_audio" -> ((s, dir) => {
      import s.implicits._
      val ids = TextOps.docs(s, dir).select(col("doc_id")).as[Long]
      val media = ids.map { id =>
        val n = 100 + (id % 50).toInt
        graft.operators.MultimodalOps.Media(id, "audio",
          graft.operators.MediaCodecs.encodeWavPcm16(16000, 1,
            Array.tabulate(n)(t => (((id * 7 + t) % 200 - 100) * 100).toShort)),
          0, 0, 16000, "synth")
      }
      graft.operators.MultimodalOps.extractFeatures(media).toDF()
        .select(col("media_id"), col("decoded"), col("dec_sample_rate"),
          duckRound(col("brightness"), 6).as("level"), col("n_frames"))
        .orderBy("media_id")
    }),

    "q_ann_cosine_top1" -> ((s, dir) =>
      AnnOps.bruteForceTopK(AnnOps.embeddings(s, dir), 1, 50)
        .select(col("query_id"), col("nn_id"), col("cos_sim"))
        .orderBy("query_id")),
    "q_ann_cosine_top3" -> ((s, dir) =>
      AnnOps.bruteForceTopK(AnnOps.embeddings(s, dir), 3, 50)
        .orderBy("query_id", "rk")),
    "q_ann_ivf_top1" -> ((s, dir) =>
      AnnOps.ivfTop1(AnnOps.embeddings(s, dir)).orderBy("query_id")),
    "q_ann_ivf_top3" -> ((s, dir) =>
      AnnOps.ivfTopK(AnnOps.embeddings(s, dir), 3)
        .orderBy("query_id", "rk")),
    "q_ann_ivf_kmeans" -> ((s, dir) =>
      AnnOps.ivfTopKKmeans(AnnOps.embeddings(s, dir), 3)
        .orderBy("query_id", "rk")),
    "q_embed_near_dup" -> ((s, dir) =>
      DedupOps.embeddingNearDup(s.read.parquet(s"$dir/embeddings.parquet"), 0.4)
        .orderBy("id_a", "id_b")),
    // int8-quantized brute-force top-1: the 4x-memory scale path for the
    // embedding corpus; quantized values are exact small integers, so the
    // whole ranking is bit-mirrorable in SQL (see AnnOps.quantizeInt8)
    "q_ann_int8_top1" -> ((s, dir) =>
      AnnOps.quantizedTopK(AnnOps.embeddings(s, dir), 1, 50)
        .select(col("query_id"), col("nn_id"), col("cos_sim"))
        .orderBy("query_id"))
  )

  // ---- DuckDB oracles (developed & validated in tools/oracles.py) --------

  private val W = "PARTITION BY user_id ORDER BY ts, event_id"

  def oracleSql: Map[String, String] = Map(
    "q_mean" ->
      """WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS l
              FROM events GROUP BY user_id HAVING count(*) >= 8)
         SELECT user_id, round(list_sum(l) / len(l), 6) AS mean FROM g ORDER BY user_id""",
    "q_variance" ->
      """WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS l
              FROM events GROUP BY user_id HAVING count(*) >= 8),
         m AS (SELECT user_id, l, len(l) AS n, list_sum(l) / len(l) AS mu FROM g)
         SELECT user_id, round(list_sum(list_transform(l, x -> (x - mu) * (x - mu))) / (n - 1), 6) AS variance
         FROM m ORDER BY user_id""",
    "q_std" ->
      """WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS l
              FROM events GROUP BY user_id HAVING count(*) >= 8),
         m AS (SELECT user_id, l, len(l) AS n, list_sum(l) / len(l) AS mu FROM g)
         SELECT user_id, round(sqrt(list_sum(list_transform(l, x -> (x - mu) * (x - mu))) / (n - 1)), 6) AS std
         FROM m ORDER BY user_id""",
    "q_rms" ->
      """WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS l
              FROM events GROUP BY user_id HAVING count(*) >= 8)
         SELECT user_id, round(sqrt(list_sum(list_transform(l, x -> x * x)) / len(l)), 6) AS rms
         FROM g ORDER BY user_id""",
    "q_ptp_amp" ->
      """SELECT user_id, round(max(value) - min(value), 6) AS ptp_amp
         FROM events GROUP BY user_id HAVING count(*) >= 8 ORDER BY user_id""",
    "q_skewness" ->
      """WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS l
              FROM events GROUP BY user_id HAVING count(*) >= 8),
         m AS (SELECT user_id, l, len(l) AS n, list_sum(l) / len(l) AS mu FROM g)
         SELECT user_id, round(
           (list_sum(list_transform(l, x -> (x - mu) * (x - mu) * (x - mu))) / n)
           / ((list_sum(list_transform(l, x -> (x - mu) * (x - mu))) / n) ^ 1.5), 6) AS skewness
         FROM m ORDER BY user_id""",
    "q_kurtosis" ->
      """WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS l
              FROM events GROUP BY user_id HAVING count(*) >= 8),
         m AS (SELECT user_id, l, len(l) AS n, list_sum(l) / len(l) AS mu FROM g)
         SELECT user_id, round(
           (list_sum(list_transform(l, x -> (x - mu) * (x - mu) * (x - mu) * (x - mu))) / n)
           / ((list_sum(list_transform(l, x -> (x - mu) * (x - mu))) / n)
            * (list_sum(list_transform(l, x -> (x - mu) * (x - mu))) / n)), 6) AS kurtosis
         FROM m ORDER BY user_id""",
    "q_quantile" ->
      """SELECT user_id, round(quantile_cont(value, 0.25), 6) AS q25,
                round(quantile_cont(value, 0.75), 6) AS q75
         FROM events GROUP BY user_id HAVING count(*) >= 8 ORDER BY user_id""",
    "q_line_length" ->
      """WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS l
              FROM events GROUP BY user_id HAVING count(*) >= 8)
         SELECT user_id, round(list_sum(list_transform(range(1, len(l)), i -> abs(l[i+1] - l[i]))) / (len(l) - 1), 6) AS line_length
         FROM g ORDER BY user_id""",
    "q_zero_crossings" ->
      s"""WITH d AS (
            SELECT user_id, value - lag(value) OVER ($W) AS d, ts, event_id FROM events),
          s AS (
            SELECT user_id, CASE WHEN abs(d) < 2.220446049250313e-16 THEN 0
                                 WHEN d > 0 THEN 1 ELSE -1 END AS sg,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM d WHERE d IS NOT NULL),
          p AS (
            SELECT user_id, sg, lag(sg) OVER (PARTITION BY user_id ORDER BY rn) AS prev, rn
            FROM s)
          SELECT user_id, CAST(
              sum(CASE WHEN rn = 1 AND sg = 0 THEN 1 ELSE 0 END)
            + sum(CASE WHEN prev IS NOT NULL AND sg = 0 AND prev <> 0 THEN 1 ELSE 0 END)
            + sum(CASE WHEN prev IS NOT NULL AND sg * prev < 0 THEN 1 ELSE 0 END)
            AS DOUBLE) AS zero_crossings
          FROM p GROUP BY user_id HAVING count(*) >= 7 ORDER BY user_id""",
    "q_hjorth_mobility" ->
      """WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS l
              FROM events GROUP BY user_id HAVING count(*) >= 8),
         l1 AS (SELECT user_id, list_prepend(0.0::DOUBLE, l) AS p, len(l) AS n FROM g),
         l2 AS (SELECT user_id, n, p, list_transform(range(1, n + 1), i -> p[i+1] - p[i]) AS d FROM l1),
         m AS (SELECT user_id, n, p, d, list_sum(p) / (n + 1) AS mp, list_sum(d) / n AS md FROM l2)
         SELECT user_id, round(
             sqrt(list_sum(list_transform(d, x -> (x - md) * (x - md))) / (n - 1))
           / sqrt(list_sum(list_transform(p, x -> (x - mp) * (x - mp))) / n), 6) AS hjorth_mobility
         FROM m ORDER BY user_id""",
    "q_hjorth_complexity" ->
      """WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS l
              FROM events GROUP BY user_id HAVING count(*) >= 8),
         l1 AS (SELECT user_id, list_prepend(0.0::DOUBLE, l) AS p, len(l) AS n FROM g),
         l2 AS (SELECT user_id, n, p, list_transform(range(1, n + 1), i -> p[i+1] - p[i]) AS d FROM l1),
         l3 AS (SELECT user_id, n, p, d, list_prepend(0.0::DOUBLE, d) AS dp FROM l2),
         l4 AS (SELECT user_id, n, p, d, dp, list_transform(range(1, n + 1), i -> dp[i+1] - dp[i]) AS e FROM l3),
         m AS (SELECT user_id, n, p, d, dp, e,
               list_sum(p) / (n + 1) AS mp, list_sum(d) / n AS md,
               list_sum(dp) / (n + 1) AS mdp, list_sum(e) / n AS me FROM l4)
         SELECT user_id, round(
             (sqrt(list_sum(list_transform(e, x -> (x - me) * (x - me))) / (n - 1))
            / sqrt(list_sum(list_transform(dp, x -> (x - mdp) * (x - mdp))) / n))
           / (sqrt(list_sum(list_transform(d, x -> (x - md) * (x - md))) / (n - 1))
            / sqrt(list_sum(list_transform(p, x -> (x - mp) * (x - mp))) / n)), 6) AS hjorth_complexity
         FROM m ORDER BY user_id""",
    "q_katz_fd" ->
      """WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS l
              FROM events GROUP BY user_id HAVING count(*) >= 8),
         a AS (SELECT user_id,
                 list_sum(list_transform(range(1, len(l)), i -> abs(l[i+1] - l[i]))) AS ll,
                 len(l) - 1 AS nd,
                 list_max(list_transform(l[2:], x -> abs(x - l[1]))) AS d
               FROM g)
         SELECT user_id, round(log10(ll / (ll / nd)) / (log10(ll / (ll / nd)) + log10(d / ll)), 6) AS katz_fd
         FROM a ORDER BY user_id""",
    "q_tier_1h" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS b,
                    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events)
         SELECT event_type, epoch(b)::BIGINT AS bucket_s, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(c) AS DOUBLE) / count(*) / 100.0 AS mean,
           CAST(min(c) AS DOUBLE) / 100.0 AS vmin, CAST(max(c) AS DOUBLE) / 100.0 AS vmax,
           sqrt(CAST(sum(c * c) AS DOUBLE) / count(*)) / 100.0 AS rms
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_tier_1h_cascade" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS b,
                    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events)
         SELECT event_type, epoch(b)::BIGINT AS bucket_s, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(c) AS DOUBLE) / count(*) / 100.0 AS mean,
           sqrt(CAST(sum(c * c) AS DOUBLE) / count(*)) / 100.0 AS rms
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_tier_1h_salted" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS b,
                    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events)
         SELECT event_type, epoch(b)::BIGINT AS bucket_s, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(c) AS DOUBLE) / count(*) / 100.0 AS mean,
           CAST(min(c) AS DOUBLE) / 100.0 AS vmin, CAST(max(c) AS DOUBLE) / 100.0 AS vmax,
           sqrt(CAST(sum(c * c) AS DOUBLE) / count(*)) / 100.0 AS rms
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_tier_1d" ->
      """WITH g AS (SELECT event_type, date_trunc('day', ts) AS b,
                    list(value ORDER BY ts, event_id) AS l
             FROM events GROUP BY 1, 2 HAVING count(*) >= 8),
         m AS (SELECT event_type, b, l, len(l) AS n, list_sum(l) / len(l) AS mu FROM g)
         SELECT event_type, epoch(b)::BIGINT AS bucket_s,
           round(mu, 6) AS mean,
           round(list_sum(list_transform(l, x -> (x - mu) * (x - mu))) / (n - 1), 6) AS variance,
           round(list_sum(list_transform(range(1, n), i -> abs(l[i+1] - l[i]))) / (n - 1), 6) AS line_length
         FROM m ORDER BY 1, 2""",
    "q_gapfill_1h" ->
      """WITH agg AS (
           SELECT event_type, date_trunc('hour', ts) AS b,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / count(*) / 100.0 AS mean
           FROM events GROUP BY 1, 2),
         bounds AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1),
         grid AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b FROM bounds),
         joined AS (
           SELECT g.event_type, g.b, a.mean FROM grid g
           LEFT JOIN agg a ON a.event_type = g.event_type AND a.b = g.b)
         SELECT event_type, epoch(b)::BIGINT AS bucket_s,
           last_value(mean IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mean_locf,
           CASE WHEN mean IS NULL THEN 1 ELSE 0 END AS filled
         FROM joined ORDER BY 1, 2""",
    "q_gapfill_linear_1h" ->
      """WITH agg AS (
           SELECT event_type, date_trunc('hour', ts) AS b,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / count(*) / 100.0 AS mean
           FROM events GROUP BY 1, 2),
         bounds AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1),
         grid AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b FROM bounds),
         joined AS (
           SELECT g.event_type, g.b, a.mean FROM grid g
           LEFT JOIN agg a ON a.event_type = g.event_type AND a.b = g.b),
         w AS (
           SELECT event_type, b, mean, epoch(b)::BIGINT AS t,
             last_value(mean IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN mean IS NOT NULL THEN epoch(b)::BIGINT END
               IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(mean IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN mean IS NOT NULL THEN epoch(b)::BIGINT END
               IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
           FROM joined)
         SELECT event_type, t AS bucket_s,
           round(CASE WHEN mean IS NOT NULL THEN mean
                 WHEN nv IS NULL THEN pv
                 WHEN pv IS NULL THEN nv
                 ELSE pv + (nv - pv) * ((t - pt) / (nt - pt)) END, 6) AS mean_lin,
           CASE WHEN mean IS NULL THEN 1 ELSE 0 END AS filled
         FROM w ORDER BY 1, 2""",
    // concat-then-chunk packing: bin = floor(tokens-before-me / 512)
    // per source in doc_id order — pure window arithmetic, recomputed
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        FROM documents),
        c AS (SELECT doc_id, source, n_tok,
          coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM t)
        SELECT source, CAST(cb // 512 AS BIGINT) AS bin,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS n_tokens,
          min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_doc_token_count" ->
      """SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_m
         FROM documents ORDER BY doc_id""",
    "q_doc_quality" ->
      """WITH s AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS t FROM documents)
         SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
           round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS punct_ratio,
           round(CAST(length(text) AS DOUBLE)
                 / len(regexp_split_to_array(trim(text), '\s+')), 6) AS chars_per_word,
           round(CAST((length(t) - length(replace(t, ' the ', ''))) / 5
          + (length(t) - length(replace(t, ' and ', ''))) / 5
          + (length(t) - length(replace(t, ' of ', ''))) / 4
          + (length(t) - length(replace(t, ' to ', ''))) / 4
          + (length(t) - length(replace(t, ' a ', ''))) / 3
          + (length(t) - length(replace(t, ' in ', ''))) / 4
          + (length(t) - length(replace(t, ' is ', ''))) / 4
          + (length(t) - length(replace(t, ' it ', ''))) / 4 AS DOUBLE)
                 / len(regexp_split_to_array(trim(text), '\s+')), 6) AS stopword_ratio
         FROM s ORDER BY doc_id""",
    "q_doc_langid" ->
      """WITH s AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
         sc AS (SELECT doc_id,
           ((length(t) - length(replace(t, ' the ', ''))) / 5
          + (length(t) - length(replace(t, ' and ', ''))) / 5)::BIGINT AS s_en,
           ((length(t) - length(replace(t, ' der ', ''))) / 5
          + (length(t) - length(replace(t, ' und ', ''))) / 5)::BIGINT AS s_de,
           ((length(t) - length(replace(t, ' le ', ''))) / 4
          + (length(t) - length(replace(t, ' et ', ''))) / 4)::BIGINT AS s_fr,
           ((length(t) - length(replace(t, ' el ', ''))) / 4
          + (length(t) - length(replace(t, ' y ', ''))) / 3)::BIGINT AS s_es
         FROM s)
         SELECT doc_id,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang,
           greatest(s_en, s_de, s_fr, s_es) AS score
         FROM sc ORDER BY doc_id""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS dup_count,
           min(doc_id) AS keep_doc_id
         FROM documents GROUP BY md5(text) ORDER BY text_hash""",
    // streaming windowed HLL vs batch distinct recompute (UTC-epoch days)
    "q_streaming_distinct" ->
      """SELECT event_type,
           (floor(epoch(ts))::BIGINT // 86400) * 86400 AS day_s,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // the streaming dedup's final view vs the one-shot batch recompute
    // over the same dup-injected corpus
    "q_dedup_streaming" ->
      """WITH d AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000, text FROM documents
                    WHERE doc_id % 7 = 0)
         SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_seen
         FROM d GROUP BY 1 ORDER BY 1""",
    // sparse-exact HLL regime: the sketch answer IS the true distinct count
    "q_distinct_hll" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY 1 ORDER BY 1""",
    // level-0 dyadic sketch = exact quantile_cont over the cents multiset
    "q_quantile_sketch" ->
      """WITH c AS (SELECT event_type,
                    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events)
         SELECT event_type,
           round(quantile_cont(c, 0.25::DOUBLE) / 100.0, 6) AS p25,
           round(quantile_cont(c, 0.5::DOUBLE) / 100.0, 6) AS p50,
           round(quantile_cont(c, 0.75::DOUBLE) / 100.0, 6) AS p75,
           round(quantile_cont(c, 0.95::DOUBLE) / 100.0, 6) AS p95,
           1::BIGINT AS bin_width
         FROM c GROUP BY 1 ORDER BY 1""",
    // under-capacity Misra-Gries: counts exact, err_bound 0 by certificate
    "q_tok_heavy_hitters" ->
      """SELECT w AS item, CAST(count(*) AS BIGINT) AS est_count,
           0::BIGINT AS err_bound
         FROM (SELECT unnest(string_split(trim(lower(text)), ' ')) AS w
               FROM documents)
         GROUP BY 1 ORDER BY est_count DESC, item LIMIT 10""",
    "q_codec_roundtrip" ->
      """WITH g AS (SELECT event_type, list(value ORDER BY ts, event_id) AS l,
                    list(floor(epoch(ts))::BIGINT ORDER BY ts, event_id) AS t
             FROM events GROUP BY 1)
         SELECT event_type, len(l)::BIGINT AS n, round(list_sum(l), 6) AS vsum,
           round(l[1], 6) AS vfirst, round(l[-1], 6) AS vlast,
           list_sum(t)::BIGINT AS ts_sum
         FROM g ORDER BY event_type""",
    // rows (= 10-minute docs) below the mergeable state's n >= 2 minimum
    // are excluded on both sides (the engine's documented row precondition)
    "q_resume_equivalence" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS b,
                    CAST(round(value * 100, 0) AS BIGINT) AS c,
                    count(*) OVER (PARTITION BY event_type,
                      time_bucket(INTERVAL 10 MINUTE, ts)) AS gn
              FROM events)
         SELECT event_type, epoch(b)::BIGINT AS bucket_s,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(c) AS DOUBLE) / count(*) / 100.0 AS mean
         FROM c WHERE gn >= 2 GROUP BY 1, 2 ORDER BY 1, 2""",
    // surviving-bucket recompute: full 1h aggregate, filtered to day
    // buckets >= the retention cutoff (max event day - 14 days). The
    // 10-minute windows never straddle a UTC day (600 | 86400), so the
    // day of a doc's window start equals the day of its raw events.
    "q_retention" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS b,
                    CAST(round(value * 100, 0) AS BIGINT) AS c,
                    count(*) OVER (PARTITION BY event_type,
                      time_bucket(INTERVAL 10 MINUTE, ts)) AS gn
              FROM events),
         mx AS (SELECT (max(floor(epoch(ts))::BIGINT) // 86400) * 86400
                  - 14 * 86400 AS cutoff FROM events)
         SELECT event_type, epoch(b)::BIGINT AS bucket_s,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(c) AS DOUBLE) / count(*) / 100.0 AS mean
         FROM c, mx WHERE gn >= 2
           AND (epoch(b)::BIGINT // 86400) * 86400 >= cutoff
         GROUP BY 1, 2, cutoff ORDER BY 1, 2""",
    // middle-slice recompute: the 1h aggregate restricted to day buckets
    // in [d0+9d, d0+19d) where d0 is the first event day
    "q_table_range_read" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS b,
                    CAST(round(value * 100, 0) AS BIGINT) AS c,
                    count(*) OVER (PARTITION BY event_type,
                      time_bucket(INTERVAL 10 MINUTE, ts)) AS gn
              FROM events),
         mn AS (SELECT (min(floor(epoch(ts))::BIGINT) // 86400) * 86400 AS d0
                  FROM events)
         SELECT event_type, epoch(b)::BIGINT AS bucket_s,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(c) AS DOUBLE) / count(*) / 100.0 AS mean
         FROM c, mn WHERE gn >= 2
           AND (epoch(b)::BIGINT // 86400) * 86400 >= d0 + 9 * 86400
           AND (epoch(b)::BIGINT // 86400) * 86400 < d0 + 19 * 86400
         GROUP BY 1, 2, d0 ORDER BY 1, 2""",
    // same direct-aggregate truth, reached through the streaming tier
    "q_streaming_equivalence" ->
      """WITH c AS (SELECT event_type, ts, event_id,
                    date_trunc('hour', ts) AS b,
                    CAST(round(value * 100, 0) AS BIGINT) AS c,
                    count(*) OVER (PARTITION BY event_type,
                      time_bucket(INTERVAL 10 MINUTE, ts)) AS gn
              FROM events),
         d AS (SELECT event_type, b, c,
                 c - lag(c) OVER (PARTITION BY event_type, b
                                  ORDER BY ts, event_id) AS dd
               FROM c WHERE gn >= 2)
         SELECT event_type, epoch(b)::BIGINT AS bucket_s,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(c) AS DOUBLE) / count(*) / 100.0 AS mean,
           (CAST(sum(abs(dd)) AS DOUBLE) / (count(*) - 1)) / 100.0
             AS line_length
         FROM d GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_multimodal_audio" ->
      """SELECT doc_id AS media_id, true AS decoded,
           16000 AS dec_sample_rate,
           round(CAST(list_sum(list_transform(
                   range(100 + doc_id % 50),
                   t -> abs(((doc_id * 7 + t) % 200 - 100) * 100))) AS DOUBLE)
                 / (100 + doc_id % 50) / 32768.0, 6) AS level,
           1 AS n_frames
         FROM documents ORDER BY doc_id""",
    "q_multimodal_decode" ->
      """SELECT doc_id AS media_id, true AS decoded,
           8 AS dec_width, 8 AS dec_height,
           round(list_sum(list_transform(range(64),
             i -> (doc_id * 31 + i) % 256)) / 64.0 / 255.0, 6) AS brightness
         FROM documents ORDER BY doc_id""",
    "q_multimodal_png" ->
      """SELECT doc_id AS media_id, true AS decoded,
           8 AS dec_width, 8 AS dec_height,
           round(list_sum(list_transform(range(64),
             i -> (doc_id * 37 + 3 * i) % 256)) / 64.0 / 255.0, 6) AS brightness
         FROM documents ORDER BY doc_id""",
    "q_ann_cosine_top1" ->
      """WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id % 50 = 0),
         sims AS (
           SELECT q.vec_id AS query_id, e.vec_id AS nn_id,
                  list_cosine_similarity(q.qe, e.embedding::DOUBLE[]) AS sim
           FROM q JOIN embeddings e ON e.vec_id <> q.vec_id),
         ranked AS (
           SELECT query_id, nn_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id) AS rk
           FROM sims WHERE NOT isnan(sim))
         SELECT query_id, nn_id, round(sim, 5) AS cos_sim FROM ranked WHERE rk = 1
         ORDER BY query_id""",
    // int8 mirror: same quantizer arithmetic (max|x|/127 scale,
    // floor(x/s + 0.5)) in SQL; quantized ints are exact in doubles, so
    // the cosine matches the engine bit-for-bit at 5 digits
    "q_ann_int8_top1" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s
             FROM embeddings),
         qz AS (SELECT vec_id,
               CASE WHEN s > 0 THEN list_transform(v, x -> floor(x / s + 0.5)) END AS qv
             FROM e),
         q AS (SELECT vec_id, qv AS qe FROM qz
               WHERE vec_id % 50 = 0 AND qv IS NOT NULL),
         sims AS (
           SELECT q.vec_id AS query_id, z.vec_id AS nn_id,
                  list_cosine_similarity(q.qe, z.qv) AS sim
           FROM q JOIN qz z ON z.vec_id <> q.vec_id AND z.qv IS NOT NULL),
         ranked AS (
           SELECT query_id, nn_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id) AS rk
           FROM sims WHERE NOT isnan(sim))
         SELECT query_id, nn_id, round(sim, 5) AS cos_sim FROM ranked WHERE rk = 1
         ORDER BY query_id""",
    "q_ann_cosine_top3" ->
      """WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id % 50 = 0),
         sims AS (
           SELECT q.vec_id AS query_id, e.vec_id AS nn_id,
                  list_cosine_similarity(q.qe, e.embedding::DOUBLE[]) AS sim
           FROM q JOIN embeddings e ON e.vec_id <> q.vec_id),
         ranked AS (
           SELECT query_id, nn_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id) AS rk
           FROM sims WHERE NOT isnan(sim))
         SELECT query_id, nn_id, round(sim, 5) AS cos_sim, rk::INT AS rk
         FROM ranked WHERE rk <= 3 ORDER BY query_id, rk""",
    "q_ann_ivf_top3" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cents AS (SELECT vec_id AS cid, v AS cv FROM e
                   WHERE vec_id % (SELECT greatest(count(*) // 16, 1) FROM e) = 0
                   ORDER BY vec_id LIMIT 16),
         asgn AS (SELECT vec_id, v, cid,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS crk
                  FROM e, cents),
         corpus AS (SELECT vec_id AS nn_id, v AS nv, cid AS cell
                    FROM asgn WHERE crk = 1),
         queries AS (SELECT vec_id AS query_id, v AS qv, cid AS cell
                     FROM asgn WHERE vec_id % 50 = 0 AND crk <= 4),
         cand AS (SELECT q.query_id, c.nn_id,
                    list_cosine_similarity(q.qv, c.nv) AS sim
                  FROM queries q JOIN corpus c ON c.cell = q.cell
                  WHERE c.nn_id <> q.query_id),
         best AS (SELECT query_id, nn_id, sim,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, nn_id) AS rk
                  FROM cand WHERE NOT isnan(sim))
         SELECT query_id, nn_id, round(sim, 5) AS cos_sim, rk::INT AS rk
         FROM best WHERE rk <= 3 ORDER BY query_id, rk"""
  ) ++ OracleSql.sql // round-2 generated oracles (tools/oracles_r2.py)
}
