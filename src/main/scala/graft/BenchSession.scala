package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one local-session recipe, CPU canary and timing loop shared by
  * every main (Bench, Verify, Smoke, OptTool, the scale benches,
  * AnchorBench, SkewBench, ScaleAudit): cross-bench ratios and per-layer
  * splits are only comparable when every receipt is measured under the
  * same session configuration and the same timing protocol. */
object BenchSession {

  /** `local[SPARK_GRAFT_CPUS]`, defaulting to every available core. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sql.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Fixed-work CPU canary: wall-clock of a constant compute so host
    * throttle windows are visible next to every measurement (~0.2 s
    * unthrottled, 20x slower inside a throttle window: a pass whose
    * canary is >3x the best one ran on a different machine, in effect). */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200000000L).selectExpr("sum(id * 3 % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-query min seconds in input order (-1 for a query that failed in
    * any pass), the first error text of each failed query, and the
    * canaries: one before each pass and one after the last. */
  final case class Timings(mins: Seq[(String, Double)],
      errors: ListMap[String, String], canaries: Seq[Double])

  /** Times `.count()` of each query over `passes` INTERLEAVED passes and
    * keeps the min per query: the first pass pays one-time JIT/codegen
    * that a long-lived cluster amortizes away, and interleaving means a
    * multi-minute host-throttling window can cover at most one of a
    * query's samples. A failure is recorded and the loop carries on; a
    * fast failure never masquerades as a fast query. */
  def timePasses(spark: SparkSession, dir: String, passes: Int,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]
  ): Timings = {
    val errors = mutable.LinkedHashMap[String, String]()
    val canaries = mutable.ArrayBuffer[Double]()
    val secs = (1 to passes).map { _ =>
      canaries += canary(spark)
      queries.map { case (name, q) =>
        val t0 = System.nanoTime()
        try q(spark, dir).count()
        catch { case e: Throwable =>
          errors.getOrElseUpdate(name, e.toString.take(200))
        }
        (System.nanoTime() - t0) / 1e9
      }
    }
    canaries += canary(spark)
    val mins = queries.map(_._1).zipWithIndex.map { case (name, i) =>
      name -> (if (errors.contains(name)) -1.0 else secs.map(_(i)).min)
    }
    Timings(mins, ListMap.from(errors), canaries.toSeq)
  }
}
