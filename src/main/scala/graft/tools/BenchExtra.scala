package graft.tools

/** Supplementary per-query timing harness for the optimization round —
  * graft.Bench is frozen for measurement, so isolation runs live here.
  * Mirrors Bench's session config and forced-evaluation protocol exactly
  * (local[cpus], shuffle.partitions = max(cpus, 8), AQE on, one
  * xxhash64-checksum aggregation per timing) so numbers are comparable
  * with BENCH_r*.json entries; cpus is SPARK_GRAFT_CPUS, else the host's
  * processor count (graft.LocalSpark). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.BenchExtra [reps] [query ...]"
  *
  * No query list = the full suite. Prints per-query all samples + min; a
  * query with a rep that threw prints as FAILED and is left out of min
  * and total_min.
  */
object BenchExtra {

  /** Seconds one rep of `body` took, or None when it threw. */
  private[graft] def timeRep(name: String)(body: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[benchextra] $name: $e")
        None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.LocalSpark.defaultCpus
    val reps = args.headOption.flatMap(_.toIntOption).getOrElse(3)
    val qnames =
      (if (args.headOption.flatMap(_.toIntOption).isDefined) args.tail
       else args).toSeq
    val spark = graft.LocalSpark(cpus, partitions = Some(math.max(cpus, 8)))
    val named = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => qnames.isEmpty || qnames.contains(n) }
    // untimed warm-up absorbs JIT + plan-infra cold start (same as Bench)
    try forceEval(graft.SparkEntry.queries("q_mean")(spark, sfDir))
    catch { case _: Throwable => () }
    var total = 0.0
    var failed = 0
    named.foreach { case (name, fn) =>
      val samples = (1 to reps).map(_ => timeRep(name)(forceEval(fn(spark, sfDir))))
      val shown = samples.map(_.fold("FAILED")(s => f"$s%.3f")).mkString(",")
      if (samples.contains(None)) {
        failed += 1
        println(s"[benchextra] $name FAILED samples=$shown")
      } else {
        val min = samples.flatten.min
        total += min
        println(f"[benchextra] $name min=$min%.3f samples=$shown")
      }
    }
    println(f"[benchextra] total_min=$total%.3f queries=${named.size} failed=$failed")
    spark.stop()
  }
}
