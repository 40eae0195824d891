package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, Skew}

/** Adversarial skew stress bench (round-5 work item): measures what the
  * hot-bucket tiling guard ([[graft.operators.Skew.selfJoinRows]])
  * actually buys on a planted viral cluster, by running each banding
  * path guarded vs unguarded (`hotThreshold = Long.MaxValue`) on the
  * same data and recording wall-clock, task counts, and the *maximum
  * single-task duration* — the metric that decides whether a 1000-task
  * stage on a real cluster finishes with its stragglers or dies on one
  * quadratic task. Output equality between modes is asserted via row
  * count + an order-independent checksum.
  *
  * Scenarios:
  *  - `primitive`: the Skew kernel itself on one 50k-row hot bucket
  *    (2.5e9 candidate pairs) amid 100k cold rows — isolates the guard
  *    from pipeline costs; both modes finish, so output equality is
  *    checked.
  *  - `primitive_xl`: one 150k-row hot bucket (11.2e9 pairs). What the
  *    guard buys here is BOUNDED TASKS, which at local[32] also wins
  *    wall-clock: the unguarded join is one ~11e9-pair task (measured
  *    ~96 s max task — on a 1000-executor cluster that one straggler
  *    is the whole job, and a larger bucket is a dead job), while the
  *    guarded tiling spreads the same pairs over ~G = tiles·(tiles+1)/2
  *    tile tasks (measured max task ~9-12 s, wall ~3× faster than
  *    unguarded at equal output checksum).
  *  - `jaccard_viral` / `minhash_viral`: sf0.1 documents plus a planted
  *    cluster of 3000 near-identical template docs (J≈0.79 pairwise),
  *    through [[Dedup.jaccardPairs]] / [[Dedup.minhashDedup]].
  *  - `ann_viral`: sf0.1 embeddings plus 3000 near-identical vectors
  *    (identical SRP signatures) through [[Similarity.annLsh]].
  *
  * Writes one JSON line per (scenario, mode) run to stdout and the
  * whole set to `BENCH_skew.json`.
  */
object SkewBench {

  /** Max task duration + task count over the listener's lifetime. */
  final class TaskStats extends SparkListener {
    val maxMs = new AtomicLong(0L)
    val n = new AtomicInteger(0)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val d = e.taskInfo.duration
      var cur = maxMs.get()
      while (d > cur && !maxMs.compareAndSet(cur, d)) cur = maxMs.get()
      n.incrementAndGet()
      ()
    }
  }

  final case class Run(scenario: String, mode: String, seconds: Double,
      rows: Long, checksum: Long, tasks: Int, maxTaskSec: Double,
      timedOut: Boolean) {
    def json: String =
      s"""{"scenario":"$scenario","mode":"$mode","seconds":$seconds,""" +
        s""""rows":$rows,"checksum":$checksum,"tasks":$tasks,""" +
        s""""max_task_sec":$maxTaskSec,"timed_out":$timedOut}"""
  }

  /** Execute `df`'s count+checksum aggregate with a per-run timeout
    * (cancel via job group) and task-duration tracking. The checksum is
    * an order-independent sum of per-row hashes mod a prime — overflow-
    * safe under ANSI up to ~9e9 rows. */
  def timed(spark: SparkSession, scenario: String, mode: String,
      checksumCols: Seq[String], timeoutSec: Int)(df: => DataFrame): Run = {
    val sc = spark.sparkContext
    val stats = new TaskStats
    sc.addSparkListener(stats)
    val group = s"skewbench-$scenario-$mode"
    @volatile var res: Option[(Long, Long)] = None
    val t0 = System.nanoTime()
    val th = new Thread(() => {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      try {
        val r = df
          .agg(count(lit(1)).as("c"),
            sum(pmod(xxhash64(checksumCols.map(col): _*),
              lit(1000000007L))).as("ck"))
          .collect()(0)
        res = Some((r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
      } catch { case _: Throwable => () }
    })
    th.setDaemon(true)
    th.start()
    th.join(timeoutSec * 1000L)
    val timedOut = th.isAlive
    if (timedOut) { sc.cancelJobGroup(group); th.join(30000L) }
    val secs = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener bus drain
    sc.removeSparkListener(stats)
    val (rows, ck) = res.getOrElse((-1L, 0L))
    Run(scenario, mode, math.round(secs * 1000) / 1000.0, rows, ck,
      stats.n.get, stats.maxMs.get / 1000.0, timedOut)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_SKEW_TIMEOUT", "300").toInt
    val spark = BenchSession.local()
    spark.range(1000).selectExpr("sum(id)").collect() // warm-up

    val runs = Seq.newBuilder[Run]
    def duel(scenario: String, checksumCols: Seq[String], guardedHt: Long)
        (mk: Long => DataFrame): Unit = {
      // guarded first (it must always complete), then unguarded
      val g = timed(spark, scenario, "guarded", checksumCols, timeoutSec)(
        mk(guardedHt))
      println(g.json)
      val u = timed(spark, scenario, "unguarded", checksumCols, timeoutSec)(
        mk(Long.MaxValue))
      println(u.json)
      val equal = !g.timedOut && !u.timedOut &&
        g.rows == u.rows && g.checksum == u.checksum
      println(s"""{"scenario":"$scenario","equal":$equal}""")
      require(!g.timedOut, s"$scenario: the GUARDED path timed out")
      require(u.timedOut || equal,
        s"$scenario: guarded and unguarded outputs differ")
      runs += g += u
    }

    // -- primitive: the Skew kernel on one hot bucket ----------------------
    def blockedTable(hotM: Long, coldN: Long) =
      spark.range(hotM + coldN).select(
        when(col("id") < hotM, lit("viral"))
          .otherwise(concat(lit("b"), (col("id") / 5).cast("string")))
          .as("bucket"),
        col("id").as("doc"))
        .localCheckpoint(true)
    // m=50k: both modes complete → output equality is checkable
    val blocked = blockedTable(50000L, 100000L)
    duel("primitive", Seq("i", "j"), 10000L) { ht =>
      Skew.selfJoinPairs(blocked, Seq("bucket"), "doc", hotThreshold = ht)
    }
    // m=150k (11.2e9 pairs in the viral bucket): the unguarded join is
    // one ~96 s quadratic task (the cluster-death shape), the guarded
    // tiles (16 here: (m/16)² pairs per tile task) stay bounded
    val blockedXl = blockedTable(150000L, 100000L)
    duel("primitive_xl", Seq("i", "j"), 10000L) { ht =>
      Skew.selfJoinPairs(blockedXl, Seq("bucket"), "doc",
        hotThreshold = ht, tiles = 16)
    }

    // -- viral documents through the text dedup paths ----------------------
    val viralDocs = 3000L
    val template = (1 to 40).map(i => s"tmpl$i").mkString(" ")
    val viral = spark.range(viralDocs).select(
      (col("id") + 1000000L).as("doc_id"),
      concat(lit(template),
        lit(" u"), col("id").cast("string"),
        lit(" v"), col("id").cast("string"),
        lit(" w"), col("id").cast("string"),
        lit(" x"), col("id").cast("string"),
        lit(" y"), col("id").cast("string")).as("text"))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionAll(viral)
      .localCheckpoint(true)

    duel("jaccard_viral", Seq("i", "j"), 2000L) { ht =>
      Dedup.jaccardPairs(docs, "doc_id", "text", 0.5, hotThreshold = ht)
    }
    duel("minhash_viral", Seq("i", "j"), 1000L) { ht =>
      Dedup.minhashDedup(docs, "doc_id", "text", 0.5, hotThreshold = ht)
    }

    // -- viral embeddings through SRP-LSH ANN ------------------------------
    val viralVecs = 3000L
    val dim = 64
    val baseVec = (0 until dim).map(d => ((d * 37 % 101) - 50) / 100.0f)
    val viralEmb = spark.range(viralVecs).select(
      (col("id") + 1000000L).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        element_at(typedLit(baseVec), d + 1) +
          (col("id") % 17L).cast("float") / lit(100000.0f)).as("embedding"))
    val embs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .unionAll(viralEmb)
      .localCheckpoint(true)

    duel("ann_viral", Seq("qid", "nid"), 2000L) { ht =>
      Similarity.annLsh(embs, "vec_id", "embedding", 10, dim = dim,
        hotThreshold = ht)
    }

    val all = runs.result()
    val out = all.map(_.json).mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_skew.json"),
      out.getBytes("UTF-8"))
    println(s"wrote BENCH_skew.json with ${all.size} runs")
    spark.stop()
  }
}
