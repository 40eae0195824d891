package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed op: a request (meta_requests) or a registry query. */
final case class OpResult(name: String, kind: String, startMs: Long,
    latMs: Double, buildMs: Double, ok: Boolean, error: String,
    resultRows: Long, tag: String, counters: Option[Recorder.Counters])

/** A workload as the harness drives it. */
trait Workload {
  /** Bring the workload to its first timed op on a fresh session.
    * Returns the seconds spent preparing expected answers, which
    * `setup_s` excludes. */
  def setup(spark: SparkSession, rep: Int): Double

  /** Work after the last set-up and before timing (outside `setup_s`). */
  def afterSetup(spark: SparkSession): Unit = ()

  /** One pass over the op list; `rec` is set on traced passes. Returns
    * the ops, the pass wall time and its read-only (serve) share. */
  def pass(spark: SparkSession,
      rec: Option[Recorder]): (Seq[OpResult], Double, Double)

  /** Workload-specific entries for the result file. */
  def extra: Map[String, Any] = Map.empty

  def close(): Unit = ()
}

/** JVM side of the benchmark (started by `perfbench/run.py`): sets one
  * workload up `--setups` times from a fresh session, then runs passes
  * for `--seconds` and writes `result.json` into `--work`. With
  * `--trace 1` passes go untraced, traced, traced, untraced, ... (at
  * least four), so warm-up during the window affects both kinds alike. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = kv("work")
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val setups = kv("setups").toInt
    val input = s"$work/input"
    val wl: Workload = kv("workload") match {
      case "meta_requests" =>
        new MetaRequests(input, kv("seed").toLong, kv("pass-requests").toInt)
      case "artifact_maintenance" =>
        new RegistryPasses(input, s"$work/dumps", kv("ops").split(",").toSeq,
          kv("serve").split(",").toSet)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime

    var spark: SparkSession = null
    val setupS = (1 to setups).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        graft.sources.Models.clearSessionCache()
        graft.sources.MaintenanceLog.resetSession()
        Seq("models", "warehouse", "tmp").foreach(d => emptyDir(s"$work/$d"))
      }
      spark = graft.BenchSession.local()
      val excluded = wl.setup(spark, rep)
      val elapsed =
        if (rep == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else (System.nanoTime() - t0) / 1e9
      elapsed - excluded
    }
    wl.afterSetup(spark)

    val canaryBefore = graft.BenchSession.canary(spark)
    val rec = if (trace) Some(new Recorder(spark)) else None
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsed < seconds || (trace && i < 4)) {
      val traced = trace && (i % 4 == 1 || i % 4 == 2)
      val r = rec.filter(_ => traced)
      r.foreach(_.attach())
      val c0 = Recorder.counters()
      val (ops, wallS, serveS) = wl.pass(spark, r)
      val delta = Recorder.counters() - c0
      r.foreach(_.drain())
      r.foreach(_.detach())
      passes += Map(
        "traced" -> traced, "wall_s" -> wallS, "serve_s" -> serveS,
        "counters" -> delta.toMap,
        "ops" -> ops.map(o => opRecord(o, r)))
      i += 1
    }
    val canaryAfter = graft.BenchSession.canary(spark)

    val result = Json.obj(
      "workload" -> kv("workload"),
      "setup_s" -> setupS,
      "canary_s" -> Seq(canaryBefore, canaryAfter),
      "cores" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "peak_rss_mb" -> peakRssMb(),
      "passes" -> passes) ++ wl.extra
    Files.write(Paths.get(s"$work/result.json"), Json.render(result).getBytes(UTF_8))
    wl.close()
    spark.stop()
  }

  /** The op's result-file entry; traced ops carry their layer record. */
  private def opRecord(o: OpResult, rec: Option[Recorder]): Map[String, Any] = {
    val base = Map[String, Any](
      "name" -> o.name, "kind" -> o.kind, "lat_ms" -> o.latMs,
      "ok" -> o.ok, "error" -> o.error, "result_rows" -> o.resultRows)
    rec.fold(base) { r =>
      val l = r.take(o.tag)
      val end = o.startMs + o.latMs
      val spans = l.jobSpans.map { case (s, e) =>
        (s.toDouble.max(o.startMs.toDouble), e.toDouble.min(end)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      val prejob =
        if (l.jobSpans.isEmpty) o.latMs
        else (l.jobSpans.map(_._1).min - o.startMs).toDouble.max(0.0).min(o.latMs)
      val jobWall = union(spans.toSeq)
      base ++ Map("layers" -> (Map[String, Any](
        "build_ms" -> o.buildMs,
        "prejob_ms" -> prejob,
        "gap_ms" -> (o.latMs - prejob - jobWall).max(0.0),
        "analysis_ms" -> l.analysisMs,
        "optimization_ms" -> l.optimizationMs,
        "planning_ms" -> l.planningMs,
        "query_executions" -> l.queryExecutions,
        "jobs" -> l.jobs, "stages" -> l.stages, "tasks" -> l.tasks,
        "job_wall_ms" -> jobWall,
        "run_ms" -> l.runMs, "cpu_ms" -> l.cpuNs / 1e6,
        "shuffle_read_bytes" -> l.shuffleRead,
        "shuffle_write_bytes" -> l.shuffleWrite,
        "spill_bytes" -> l.spill,
        "scan_rows" -> l.scanRows) ++
        o.counters.map(_.toMap).getOrElse(Map.empty)))
    }
  }

  /** Length of the union of [start, end) intervals sorted by start. */
  private def union(spans: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    spans.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, ce.max(e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0.0)
  }

  private def peakRssMb(): Double = {
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)
    hwm.map(_ / 1024.0).getOrElse(-1.0)
  }

  def emptyDir(dir: String): Unit = {
    graft.SfSynth.rmTree(dir)
    Files.createDirectories(Paths.get(dir))
    ()
  }

  /** Time `body` in milliseconds. */
  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
