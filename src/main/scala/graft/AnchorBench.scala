package graft

/** Spark-side timing for the BASELINE.md external-anchor table
  * (round 18): run the named registry queries over a given corpus dir
  * for N interleaved passes (canary before each, one after) and print
  * per-query min seconds as one JSON line (-1 for a failed query, and
  * the run exits non-zero) —
  * the Spark half of the engine-vs-DuckDB anchor protocol
  * (`tools/anchor_duckdb.py` is the DuckDB half). Usage:
  *
  *   sbt "runMain graft.AnchorBench <dir> <q1,q2,...> [passes] [tpch=N]"
  *
  * (trailing args in any order: a bare number is the pass count,
  * default 3; `tpch=N` synthesizes the N-shard TPC-H tables into
  * `<dir>` first.) */
object AnchorBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(',').toSeq
    // trailing args in any order: a bare number is the pass count, a
    // tpch=<copies> flag requests the TPC-H shard synthesis (parsing
    // positionally made the two optionals mutually exclusive —
    // review-r18 finding)
    val trailing = args.drop(2)
    val passes = trailing.find(_.forall(_.isDigit)).map(_.toInt)
      .getOrElse(3)
    val spark = BenchSession.local()
    // tpch=<copies>: synthesize the TPC-H shard tables into <dir>
    // first (SfSynth.ensureTpch) so the q1/q3-class anchors have an
    // sf1 column too
    trailing.find(_.startsWith("tpch=")).foreach { a =>
      SfSynth.ensureTpch(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        a.stripPrefix("tpch=").toInt, dir)
    }
    // objects=<copies>: synthesize the listing-honest documents shards
    // (SfSynth.ensureObjects) so d1-class anchors get an sf1 column too
    trailing.find(_.startsWith("objects=")).foreach { a =>
      SfSynth.ensureObjects(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        a.stripPrefix("objects=").toInt, dir)
    }
    val t = BenchSession.timePasses(spark, dir, passes,
      names.map(n => n -> SparkEntry.queries(n)))
    println(t.mins.map { case (n, v) => f""""$n":$v%.3f""" }
      .mkString("""{"metric":"anchor_spark","dir":"""" + dir + "\",",
        ",", "}"))
    t.errors.foreach { case (n, e) =>
      System.err.println(s"[anchor] $n failed: $e")
    }
    spark.stop()
    if (t.errors.nonEmpty) sys.exit(1)
  }
}
