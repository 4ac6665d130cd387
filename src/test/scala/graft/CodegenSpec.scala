package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FeatureParams

/** The r3 doGenCode paths (TokenFeature, TokenPartialsExpr, CosineSimExpr)
  * must produce bit-identical results to the interpreted eval path —
  * including the NULL cases (null input, below-min-length arrays,
  * non-finite kernel results). Equality is asserted by running the same
  * plans with whole-stage codegen + codegen'd projections ON vs forced
  * interpreted (factoryMode=NO_CODEGEN). */
class CodegenSpec extends AnyFunSuite with SparkSpec {
  private def bothModes(df: => org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
    def rows(): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val gen = rows()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = rows()
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    (gen, interp)
  }

  test("TokenFeature + TokenPartials: codegen == interpreted incl. null cases") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val bulk = graft.gen.TokenGen.bulk(spark, 150, nSources = 4,
      minLen = 4, maxLen = 256)
      .select(col("doc_id"), col("tokens"))
    // edge rows: null array, empty, 1-sample, constant (zero variance =>
    // non-finite kernels => NULL), 3 samples (between minLens)
    val edges = Seq(
      ("edge_null", null),
      ("edge_empty", Array.emptyIntArray),
      ("edge_one", Array(5)),
      ("edge_const", Array.fill(64)(7)),
      ("edge_three", Array(1, -2, 3))
    ).toDF("doc_id", "tokens")
    val df = bulk.unionByName(edges)
    val p = FeatureParams(sfreq = 256.0, scale = 1.0 / (1 << 24))
    val scalars = Seq("mean", "std", "skewness", "kurtosis", "line_length",
      "hjorth_mobility", "hjorth_complexity", "higuchi_fd", "katz_fd",
      "zero_crossings", "spect_entropy", "samp_entropy", "hurst_exp")
    val vectors = Seq("quantile", "pow_freq_bands", "teager_kaiser_energy")
    def sel = df.select(
      (col("doc_id") +:
        scalars.map(n => graft.functions.feature(n, col("tokens"), p).as(n)) ++:
        vectors.map(n => graft.functions.feature(n, col("tokens"), p).as(n)) ++:
        Seq(graft.functions.token_partials(col("tokens"), p.scale).as("P"))): _*)
    val (gen, interp) = bothModes(sel)
    assert(gen.size == interp.size && gen.nonEmpty)
    gen.zip(interp).foreach { case (a, b) => assert(a == b) }
  }

  test("text-hash + hyperplane kernels: codegen == interpreted") {
    import spark.implicits._
    val docs = graft.operators.TextOps.docs(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((9001L, ""), (9002L, "one"),
        (9003L, "  two words  ")).toDF("doc_id", "text"))
    def selDocs = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.ShinglesExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("text")), 3)).as("sh"),
      graft.operators.DedupOps.simhash(col("text")).as("sim"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.FingerprintExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("text")))).as("fp"))
      .withColumn("mh", org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.MinHashExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("sh")), 64)))
    val (gd, id) = bothModes(selDocs)
    assert(gd == id && gd.nonEmpty)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def selEmb = emb.select(col("vec_id"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.HyperplaneBandSigExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("v")),
          graft.operators.DedupOps.hyperplanes.map(_.toSeq).toSeq, 4)).as("bands"))
    val (ge, ie) = bothModes(selEmb)
    assert(ge == ie && ge.nonEmpty)
  }

  test("codec exprs: codegen == interpreted (roundtrip columns)") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    def sel = ev.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("evs"))
      .select(col("event_type"),
        graft.functions.gorilla_decode(graft.functions.gorilla_encode(
          col("evs.value"))).as("v"),
        graft.functions.dod_decode(graft.functions.dod_encode(
          transform(col("evs"), e => unix_timestamp(e.getField("ts")))))
          .as("t"))
    val (g, i) = bothModes(sel)
    assert(g == i && g.nonEmpty)
  }

  test("CosineSimExpr: codegen == interpreted") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def sel = emb.as("a").join(emb.as("b"),
      col("a.vec_id") < col("b.vec_id") && col("b.vec_id") <= 20)
      .select(col("a.vec_id"), col("b.vec_id"),
        graft.operators.AnnOps.cosine(col("a.v"), col("b.v")).as("sim"))
    val (gen, interp) = bothModes(sel)
    assert(gen.size == interp.size && gen.nonEmpty)
    gen.zip(interp).foreach { case (a, b) => assert(a == b) }
  }

  test("QuantizeInt8Expr: codegen == interpreted incl. zero-vector null") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .unionByName(Seq((-1L, Array.fill(64)(0.0)), (-2L, null))
        .toDF("vec_id", "v"))
    def sel = emb.select(col("vec_id"),
      graft.operators.AnnOps.quantizeInt8(col("v")).as("qv"))
    val (gen, interp) = bothModes(sel)
    assert(gen.size == interp.size && gen.nonEmpty)
    gen.zip(interp).foreach { case (a, b) => assert(a == b) }
    // zero and null vectors both quantize to null
    val nulls = sel.where(col("qv").isNull).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(nulls == Seq(-2L, -1L))
  }
}
