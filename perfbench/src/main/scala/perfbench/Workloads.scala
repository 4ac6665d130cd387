package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.FeatureEngine
import graft.core.Features
import graft.engine.{RollupJob, TokenRollup}
import graft.functions.FeatureParams
import graft.operators.{AnnOps, DedupOps, PipelineOps, TextOps}
import graft.streaming.StreamingRollup
import graft.table.TableIO

import Main.force

object Workloads {
  /** Long docs for the kernel probe: the r4-r6 corpus shape, zipf
    * 64..4096 tokens/doc over 3 days. */
  val LongShape = TokenShape(nDocs = 2500, minLen = 64, maxLen = 4096,
    zipf = true, days = 3, tag = "long")
  /** Many short docs; a quarter of them in one hot (source, minute). */
  val RowsShape = TokenShape(nDocs = 60000, minLen = 8, maxLen = 64,
    zipf = false, days = 3, hotShare = 0.25, tag = "rows")
  /** Incremental: docs per day, history depth, reads per cycle, retention. */
  val DayDocs = 300
  val HistoryDays = 14
  val ReadsPerCycle = 4
  val Retention = Map("1m" -> 7 * Gen.DayS, "1h" -> 60 * Gen.DayS)
  def dayShape(day: Int): TokenShape =
    TokenShape(nDocs = DayDocs, minLen = 64, maxLen = 1024, zipf = true,
      days = 1, firstDay = day, tag = "day")
  val PrepShape = TextShape(nDocs = 3000, nVecs = 1000)

  val Feats = Seq("mean", "line_length", "hjorth_mobility", "spect_entropy",
    "higuchi_fd")
  val Params = FeatureParams(sfreq = 256.0, scale = Gen.Scale)
  val MinLen = Map("mean" -> 1, "line_length" -> 2, "hjorth_mobility" -> 2,
    "spect_entropy" -> 4, "higuchi_fd" -> 32)

  /** graft.core directly on a dequantized array; None where the engine
    * returns NULL (too short, or not finite). */
  def coreFeature(name: String, x: Array[Double]): Option[Double] =
    if (x.length < MinLen(name)) None
    else Some(name match {
      case "mean" => Features.meanF(x)
      case "line_length" => Features.lineLength(x)
      case "hjorth_mobility" => Features.hjorthMobility(x)
      case "spect_entropy" => Features.spectEntropy(x, Params.sfreq,
        Params.psdMethod, Params.psdConf)
      case "higuchi_fd" => Features.higuchiFd(x, Params.kmax)
    }).filter(d => java.lang.Double.isFinite(d))

  val Tiers = Seq("1m", "1h", "1d")
  /** State fields that are sums over a window's rows. */
  val Summed = Set("s1", "s2", "s3", "s4", "sumAbsD", "sumDSq", "sumESq")
  val ChunkFeats = RollupJob.Conf("").chunkFeatures

  /** Rows and tokens each tier holds over [from, until), from the table. */
  def tierSums(ctx: Ctx, io: TableIO, from: Long, until: Long): Seq[(String, Long, Long)] =
    Tiers.map { t =>
      val r = io.readRange(ctx.spark, t, from, until).get
        .agg(coalesce(sum("rows_in"), lit(0L)), coalesce(sum("tokens_in"), lit(0L))).head()
      (t, r.getLong(0), r.getLong(1))
    }

  /** Chunk-tier points that differ from (or are missing in) the 1m
    * feature tier over [from, until), compared bit for bit. */
  def chunkMismatches(ctx: Ctx, io: TableIO, from: Long, until: Long): Long = {
    val pts = io.readChunkPoints(ctx.spark, "1m").get
      .where(col("commit_bucket") >= from && col("commit_bucket") < until)
      .select(col("source") +: col("bucket_s") +: ChunkFeats.map(f => col(f).as(s"c_$f")): _*)
    val feats = io.readRange(ctx.spark, "1m", from, until).get
      .select(col("source") +: unix_timestamp(col("bucket")).as("bucket_s") +:
        ChunkFeats.map(f => col(f).as(s"f_$f")): _*)
    val same = ChunkFeats.map(f => col(s"c_$f") <=> col(s"f_$f")).reduce(_ && _)
    pts.join(feats, Seq("source", "bucket_s"), "full_outer").where(!same).count()
  }

  def sameTotals(what: String, got: Seq[(String, Long, Long)], rows: Long,
                 tokens: Long): Seq[String] =
    got.collect { case (t, r, k) if r != rows || k != tokens =>
      s"$what tier $t holds rows=$r tokens=$k, input rows=$rows tokens=$tokens"
    }
}

import Workloads._

/** backfill_rows: one op = a forced 5-feature extract plus a full
  * RollupJob.run into a fresh table root. */
final class Backfill(ctx: Ctx, shape: TokenShape) extends Workload {
  private val spark = ctx.spark
  private val inDir = ctx.dir("corpus")
  private var corpus: Gen.Corpus = _
  private var lastRoot: Option[String] = None
  private var bytesPerToken = 0.0
  private var extractDigest: Option[(Long, Long)] = None

  def setup(): Unit = {
    corpus = Gen.writeTokens(spark, shape, ctx.seed, inDir)
    Main.err(s"corpus: ${corpus.docs} docs, ${corpus.tokens} tokens, digest ${corpus.digest}")
  }
  def docsPerOp: Double = corpus.docs.toDouble

  private def extract(df: DataFrame): DataFrame =
    FeatureEngine.extract(df, "tokens", Feats, base = Params, keep = Seq("doc_id"))

  def op(i: Int): Map[String, Double] = {
    lastRoot.foreach(r => Main.deleteTree(Paths.get(r)))
    val root = ctx.dir("table")
    lastRoot = Some(root)
    val (dg, exS) = ctx.timed("FeatureEngine.extract", "graft")(force(extract(corpus.df)))
    val (_, rollS) = ctx.timed("RollupJob.run", "engine")(
      RollupJob.run(spark, corpus.df, RollupJob.Conf(tableRoot = root)))
    if (extractDigest.isEmpty) extractDigest = Some(dg)
    require(extractDigest.contains(dg), s"extract digest $dg differs from ${extractDigest.get}")
    Map("op" -> (exS + rollS), "extract_s" -> exS, "rollup_s" -> rollS)
  }

  def check(i: Int): Seq[String] = ctx.span("check", "bench") {
    val io = new TableIO(lastRoot.get)
    val sums = sameTotals("backfill", tierSums(ctx, io, Long.MinValue, Long.MaxValue),
      corpus.docs, corpus.tokens)
    val chunks = chunkMismatches(ctx, io, Long.MinValue, Long.MaxValue)
    // a seeded sample of extract rows against graft.core on the same arrays
    val r = Rng.at(ctx.seed, 9, i.toLong)
    val sample = Seq.fill(16)(Gen.tokenDoc(shape, ctx.seed, r.nextInt(shape.nDocs)))
    val got = extract(corpus.df.where(col("doc_id").isin(sample.map(_.doc_id): _*)))
      .collect().map(row => row.getString(0) -> row).toMap
    val kernel = sample.flatMap { d =>
      val x = Gen.dequantize(d.tokens)
      got.get(d.doc_id) match {
        case None => Seq(s"extract lost ${d.doc_id}")
        case Some(row) => Feats.zipWithIndex.flatMap { case (f, k) =>
          val have = if (row.isNullAt(k + 1)) None else Some(row.getDouble(k + 1))
          val want = coreFeature(f, x)
          val same = (have, want) match {
            case (Some(a), Some(b)) =>
              java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)
            case (a, b) => a == b
          }
          if (same) Nil else Seq(s"${d.doc_id} $f: extract=$have core=$want")
        }
      }
    }
    val (bytes, _) = Main.treeBytes(Paths.get(lastRoot.get))
    bytesPerToken = bytes.toDouble / corpus.tokens
    sums ++ (if (chunks == 0) Nil else Seq(s"$chunks chunk points differ from the 1m tier")) ++
      kernel
  }

  def details(ok: Seq[Map[String, Double]]): Map[String, Metric] = Map(
    "tokens_per_s" -> Metric(corpus.tokens / Stats.median(ok.map(_("op"))), "tokens/s"),
    "extract_tokens_per_s" -> Metric(corpus.tokens / Stats.median(ok.map(_("extract_s"))), "tokens/s"),
    "rollup_tokens_per_s" -> Metric(corpus.tokens / Stats.median(ok.map(_("rollup_s"))), "tokens/s"),
    "table_bytes_per_token" -> Metric(bytesPerToken, "B/token"),
    "corpus_docs" -> Metric(corpus.docs, "count"),
    "corpus_tokens" -> Metric(corpus.tokens, "count"))

  def probe(layers: Layers): Unit = {
    layers.kernels(corpus.df)
    val root = lastRoot.get
    layers.tableReads(root)
    layers.streamingOnce(corpus.df)
    layers.operators()
  }
}

/** incremental: a two-week table and a long-lived streaming diff tier; each
  * op lands one new day and reads recent ranges. A run measures one or two
  * days, so compaction (every few days in production) is left to the traced
  * run's probe. */
final class Incremental(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val root = ctx.dir("table")
  private val streamDir = Paths.get(ctx.dir("stream"))
  private val conf = RollupJob.Conf(tableRoot = root, retention = Retention)
  private val io = new TableIO(root)
  private var query: StreamingQuery = _
  private val days = scala.collection.mutable.Map.empty[Int, Gen.Corpus]
  private var tokensIn = 0L
  val QueryName = "perfbench_diff"

  private def dayStart(day: Int): Long = Gen.T0Ms / 1000 + day * Gen.DayS

  /** Copy a corpus's parquet files into the stream source dir; the
    * rename makes each file appear whole. */
  private def publish(dir: String, prefix: String): Unit = {
    val files = Files.list(Paths.get(dir))
    try files.filter(_.getFileName.toString.endsWith(".parquet")).forEach { f =>
      val tmp = streamDir.resolve(s".$prefix-${f.getFileName}")
      Files.copy(f, tmp)
      Files.move(tmp, streamDir.resolve(s"$prefix-${f.getFileName}"), StandardCopyOption.ATOMIC_MOVE)
    } finally files.close()
  }

  def setup(): Unit = {
    Files.createDirectories(streamDir)
    // history: the same generator, HistoryDays days deep, rolled up once
    val hist = TokenShape(nDocs = DayDocs * HistoryDays, minLen = 64, maxLen = 1024,
      zipf = true, days = HistoryDays, tag = "hist")
    val histDir = ctx.dir("hist")
    val c = Gen.writeTokens(spark, hist, ctx.seed, histDir)
    tokensIn = c.tokens
    val (_, buildS) = ctx.timed("RollupJob.run", "engine")(RollupJob.run(spark, c.df, conf))
    publish(histDir, "hist")
    val (_, streamS) = ctx.timed("stream start", "streaming") {
      query = StreamingRollup.diffTier(
          spark.readStream.schema(c.df.schema).parquet(streamDir.toString),
          "1 minute", "10 minutes", Gen.Scale)
        .writeStream.outputMode("update").format("memory").queryName(QueryName).start()
      query.processAllAvailable()
    }
    // the history build and the first trigger warmed the write and stream
    // paths; warm the read paths too instead of spending a whole cycle
    val (_, readS) = ctx.timed("warm reads", "table") {
      force(io.readRange(spark, "1h", dayStart(HistoryDays - 7), dayStart(HistoryDays)).get)
      force(io.readChunkPoints(spark, "1m").get)
    }
    Main.err(f"history rollup $buildS%.2f s, stream start $streamS%.2f s, warm reads $readS%.2f s")
  }
  override def warmUpOps: Int = 0
  def docsPerOp: Double = DayDocs

  /** Op i (from 1) lands day HistoryDays + i - 1, the day after the history. */
  private def dayOf(i: Int): Int = HistoryDays + i - 1

  def op(i: Int): Map[String, Double] = {
    val day = dayOf(i)
    val dir = ctx.dir(s"day$day")
    val c = Gen.writeTokens(spark, dayShape(day), ctx.seed, dir)
    publish(dir, s"day$day")
    days(day) = c
    tokensIn += c.tokens
    val (_, trigS) = ctx.timed("StreamingQuery.processAllAvailable", "streaming")(
      query.processAllAvailable())
    val (_, resS) = ctx.timed("RollupJob.run", "engine")(RollupJob.run(spark, c.df, conf))
    val r = Rng.at(ctx.seed, 7, i.toLong)
    val readS = (1 to ReadsPerCycle).map { _ =>
      val back = 1 + r.nextInt(14)
      ctx.timedRead(io, "1h", dayStart(day - back + 1), dayStart(day + 1))
    }
    val (_, chunkS) = ctx.timed("TableIO.readChunkPoints", "table")(
      force(io.readChunkPoints(spark, "1m").get))
    Map("op" -> (trigS + resS + readS.sum + chunkS), "trigger_s" -> trigS,
      "resume_s" -> resS, "chunks_s" -> chunkS, "tokens" -> c.tokens.toDouble) ++
      readS.zipWithIndex.map { case (t, k) => s"read_$k" -> t }
  }

  def check(i: Int): Seq[String] = ctx.span("check", "bench") {
    val day = dayOf(i)
    val c = days(day)
    val from = dayStart(day)
    val sums = sameTotals(s"day $day", tierSums(ctx, io, from, from + Gen.DayS), c.docs, c.tokens)
    val chunks = chunkMismatches(ctx, io, from, from + Gen.DayS)
    // the previous day's windows are closed (the watermark is inside this
    // day), so the streaming diff tier must equal the batch 1m tier there:
    // counts, extrema and boundary samples exactly, and the summed fields
    // to 1e-9 relative, the equality graft's own streaming==batch specs
    // use, because the two paths add a window's rows in different orders
    val prev = from - Gen.DayS
    val fields = TokenRollup.StateFields ++ Seq("rows_in", "tokens_in")
    val streamed = StreamingRollup.collapseDiff(spark, QueryName)
      .where(col("bucketS") >= prev && col("bucketS") < from)
      .select(col("source") +: col("bucketS") +: fields.map(f => col(f).as(s"s_$f")): _*)
    val batch = io.readRange(spark, "1m", prev, from).get
      .select(col("source") +: unix_timestamp(col("bucket")).as("bucketS") +:
        (TokenRollup.StateFields.map(f => col(s"P.$f").as(s"b_$f")) ++
          Seq(col("rows_in").as("b_rows_in"), col("tokens_in").as("b_tokens_in"))): _*)
    val same = fields.map { f =>
      val (a, b) = (col(s"s_$f"), col(s"b_$f"))
      if (!Summed.contains(f)) a <=> b
      else coalesce(abs(a - b) <= lit(1e-9) * greatest(lit(1.0), abs(b)), lit(false))
    }.reduce(_ && _)
    val diff = streamed.join(batch, Seq("source", "bucketS"), "full_outer").where(!same)
      .collect().toSeq
    days.remove(day - 1)
    sums ++ (if (chunks == 0) Nil else Seq(s"$chunks chunk points differ from the 1m tier")) ++
      diff.map(r => s"streaming window differs from the batch 1m tier: $r")
  }

  def details(ok: Seq[Map[String, Double]]): Map[String, Metric] = {
    val reads = ok.flatMap(_.collect { case (k, v) if k.startsWith("read_") => v })
    val n = reads.size
    val tail = Stats.tailPercentile(n).map(p =>
      s"range_read_s.p$p" -> Metric(Stats.quantile(reads, p / 100.0), "s")).toMap
    val (bytes, _) = Main.treeBytes(Paths.get(root))
    Map(
      "tokens_per_s" -> Metric(ok.map(_("tokens")).sum / ok.map(_("op")).sum, "tokens/s"),
      "resume_s.p50" -> Metric(Stats.median(ok.map(_("resume_s"))), "s"),
      "trigger_s.p50" -> Metric(Stats.median(ok.map(_("trigger_s"))), "s"),
      "range_read_s.p50" -> Metric(Stats.median(reads), "s"),
      "range_reads" -> Metric(n, "count"),
      "table_bytes_per_token" -> Metric(bytes.toDouble / tokensIn, "B/token")) ++ tail
  }

  def probe(layers: Layers): Unit = {
    layers.kernels(spark.read.parquet(streamDir.toString))
    layers.streamingState(query)
    ctx.compact(io, "1h")
    layers.tableState(root)
    layers.operators()
  }

  override def close(): Unit = if (query != null) { query.stop(); query.awaitTermination() }
}

/** The data-prep pipeline the traced run calls once as its operators
  * probe. */
object Prep {
  val Ops = Seq("quality", "dedup_clusters", "decontaminate", "pack", "split", "ann_ivf")

  /** One pass of the pipeline, each step forced under its own span. */
  def pipeline(ctx: Ctx, d: Gen.Prep): Unit = {
    val docs = d.docs
    val heldOut = col("doc_id") % Gen.HeldOutMod === 0
    def step(name: String)(df: => DataFrame): Unit =
      ctx.span(s"operators.$name", "operators")(force(df))
    step("quality")(TextOps.quality(docs))
    step("dedup_clusters")(DedupOps.duplicateClusters(docs))
    step("decontaminate")(PipelineOps.decontaminate(docs.where(!heldOut), docs.where(heldOut)))
    step("pack")(PipelineOps.packSequences(docs, 2048))
    step("split")(PipelineOps.splitAssign(docs))
    step("ann_ivf")(AnnOps.ivfTopK(d.vecs, k = 10))
  }
}
