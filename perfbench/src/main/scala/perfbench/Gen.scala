package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SplitMix64 (Steele et al. 2014): the benchmark's own seed stream, so the
  * inputs never depend on the program's generators. */
final class Rng(seed: Long) extends Serializable {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9e3779b97f4a7c15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
  def nextGaussian(): Double = {
    var u1 = nextDouble()
    while (u1 == 0.0) u1 = nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * nextDouble())
  }
}

object Rng {
  /** Independent stream per (seed, stream, index): doc i never depends on
    * how many docs came before it, so any doc can be regenerated alone. */
  def at(seed: Long, stream: Long, i: Long): Rng =
    new Rng(seed * 0x632be59bd9b4e019L ^ stream * 0x9e3779b97f4a7c15L ^
      (i + 1) * 0xd1b54a32d192ed03L)
}

final case class TokenDoc(doc_id: String, tokens: Array[Int], n_tok: Int,
                          source: String, event_time: Timestamp)

/** Shape of a token corpus: documents over 16 sources and `days` UTC days
  * from `firstDay`, every 7th minute left empty; a `hotShare` of them is
  * moved into one (source, minute), `Gen.HotMinute` of day 0 on "s0". */
final case class TokenShape(nDocs: Int, minLen: Int, maxLen: Int,
                            zipf: Boolean, days: Int, firstDay: Int = 0,
                            hotShare: Double = 0.0, tag: String = "doc")

final case class TextDoc(doc_id: Long, text: String, source: String)
final case class Vec(vec_id: Long, v: Array[Double], label: Int)

/** Size of the data-prep corpus: `nDocs` texts and `nVecs` embeddings. */
final case class TextShape(nDocs: Int, nVecs: Int)

object Gen {
  val Scale: Double = 1.0 / (1 << 24)
  val T0Ms: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val DayS: Long = 86400L
  val Sources = 16
  val HotMinute = 601

  // data-prep corpus: 20..160 words from a 4000-word zipf vocabulary plus
  // stopwords; NearDupShare of the docs are copies of one of the previous
  // 1000 docs with EditShare of their words replaced; docs with
  // doc_id % HeldOutMod == 0 are the held-out set; 64-d embeddings around
  // 16 seeded centres
  val MinWords = 20
  val MaxWords = 160
  val Vocab = 4000
  val NearDupShare = 0.10
  val EditShare = 0.05
  val HeldOutMod = 97
  val TextSources = 8
  val Dim = 64
  val Clusters = 16

  /** Truncated-Pareto length draw in [minLen, maxLen], exponent 1.2. */
  def zipfLen(r: Rng, minLen: Int, maxLen: Int): Int = {
    val s = 1.2
    val a = math.pow(minLen.toDouble, 1 - s)
    val b = math.pow(maxLen.toDouble, 1 - s)
    math.pow(a + r.nextDouble() * (b - a), 1.0 / (1 - s)).toInt
      .max(minLen).min(maxLen)
  }

  def tokenDoc(sh: TokenShape, seed: Long, i: Int): TokenDoc = {
    val r = Rng.at(seed, 1, i.toLong + sh.firstDay.toLong * 10000000L)
    val hot = sh.hotShare > 0 && r.nextDouble() < sh.hotShare
    val src = if (hot) "s0" else s"s${r.nextInt(Sources)}"
    val n = if (sh.zipf) zipfLen(r, sh.minLen, sh.maxLen)
            else sh.minLen + r.nextInt(sh.maxLen - sh.minLen + 1)
    val toks = new Array[Int](n)
    // a slow random walk plus noise: smooth enough for the diff family
    // and the Gorilla coder to see realistic structure
    var level = r.nextGaussian()
    var k = 0
    while (k < n) {
      level += 0.05 * r.nextGaussian()
      toks(k) = math.round((level + 0.5 * r.nextGaussian()) / Scale).toInt
      k += 1
    }
    val minute =
      if (hot) HotMinute
      else {
        val m = r.nextInt(sh.days * 1440)
        if (m % 7 == 0) m + 1 else m
      }
    val ms = T0Ms + (sh.firstDay.toLong * 1440 + minute) * 60000L +
      r.nextInt(60000)
    TokenDoc(f"${sh.tag}/$src/${sh.firstDay}%03d/$i%08d", toks, n, src,
      new Timestamp(ms))
  }

  def dequantize(t: Array[Int]): Array[Double] = t.map(_ * Scale)

  /** Order-independent digest of a corpus: the wrapping sum of per-doc
    * hashes, so a distributed pass and a local fold agree. */
  def docHash(d: TokenDoc): Long =
    scala.util.hashing.MurmurHash3.arrayHash(d.tokens).toLong * 31 +
      (d.doc_id + "|" + d.source + "|" + d.event_time.getTime).hashCode

  final case class Corpus(df: DataFrame, docs: Long, tokens: Long,
                          digest: Long)

  /** Generate and write a token corpus as parquet; totals and the digest
    * come from the same generation pass. */
  def writeTokens(spark: SparkSession, sh: TokenShape, seed: Long,
                  dir: String): Corpus = {
    import spark.implicits._
    val rdd = spark.sparkContext
      .parallelize(0 until sh.nDocs, 8)
      .map(i => tokenDoc(sh, seed, i))
    val acc = rdd.map(d => (1L, d.n_tok.toLong, docHash(d)))
      .fold((0L, 0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    rdd.toDF().write.mode("overwrite").parquet(dir)
    Corpus(spark.read.parquet(dir), acc._1, acc._2, acc._3)
  }

  private val Stop = Array("the", "and", "of", "to", "a", "in", "is", "it")

  private def words(seed: Long, j: Long): Array[String] = {
    val r = Rng.at(seed, 2, j)
    val n = MinWords + r.nextInt(MaxWords - MinWords + 1)
    Array.fill(n) {
      if (r.nextDouble() < 0.2) Stop(r.nextInt(Stop.length))
      else "w" + Integer.toString(zipfLen(r, 1, Vocab), 36)
    }
  }

  /** Doc j: fresh words, or (planted near-duplicate) the words of an
    * earlier doc with `editShare` of them replaced. */
  def textDoc(seed: Long, j: Long): TextDoc = {
    val r = Rng.at(seed, 3, j)
    val w =
      if (!(j > 0 && r.nextDouble() < NearDupShare)) words(seed, j)
      else {
        val base = words(seed, j - 1 - r.nextInt(math.min(j, 1000L).toInt))
        base.map(x => if (r.nextDouble() < EditShare) "e" + r.nextInt(Vocab) else x)
      }
    TextDoc(j, w.mkString(" "), s"src${r.nextInt(TextSources)}")
  }

  /** Whether doc j is a planted near-duplicate (the same draw textDoc makes). */
  def isNearDup(seed: Long, j: Long): Boolean =
    j > 0 && Rng.at(seed, 3, j).nextDouble() < NearDupShare

  def vec(seed: Long, j: Long): Vec = {
    val r = Rng.at(seed, 4, j)
    val c = r.nextInt(Clusters)
    val centre = Rng.at(seed, 5, c.toLong)
    val v = Array.fill(Dim)(centre.nextGaussian() + 0.35 * r.nextGaussian())
    Vec(j, v, c)
  }

  final case class Prep(docs: DataFrame, vecs: DataFrame)

  def writePrep(spark: SparkSession, sh: TextShape, seed: Long,
                dir: String): Prep = {
    import spark.implicits._
    val docs = spark.sparkContext.parallelize(0 until sh.nDocs, 8)
      .map(j => textDoc(seed, j.toLong))
    val vecs = spark.sparkContext.parallelize(0 until sh.nVecs, 8)
      .map(j => vec(seed, j.toLong))
    docs.toDF().write.mode("overwrite").parquet(s"$dir/docs")
    vecs.toDF().write.mode("overwrite").parquet(s"$dir/vecs")
    Prep(spark.read.parquet(s"$dir/docs"), spark.read.parquet(s"$dir/vecs"))
  }
}
