package perfbench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sequential passes over registry queries (`graft.SparkEntry.registry`).
  *
  * Set-up runs every op twice: once on the empty models directory,
  * which trains the artifacts the ops read, then once more as warm-up.
  * The first answers are written to `dumps/<op>` after set-up, where
  * run.py checks them against the DuckDB oracle; every timed answer
  * must then have the same fingerprint. The timed action is a full `collect()`, so no
  * output column can be pruned away. */
final class RegistryPasses(input: String, dumps: String, ops: Seq[String],
    serve: Set[String]) extends Workload {

  private val registry = graft.SparkEntry.registry
  private val unknown = (ops ++ serve).filterNot(registry.contains)
  require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(",")}")

  private var setupAnswers = Map.empty[String, Either[String, (Array[Row], StructType)]]
  private var setupOpsS = Map.empty[String, Double]
  private var expected = Map.empty[String, String]

  def setup(spark: SparkSession, rep: Int): Double = {
    val timed = ops.map { name =>
      val (answer, ms) = Main.timedMs(try {
        val df = registry(name).fn(spark, input)
        Right((df.collect(), df.schema))
      } catch { case NonFatal(e) => Left(e.toString.take(300)) })
      (name, answer, ms / 1e3)
    }
    setupAnswers = timed.map(t => t._1 -> t._2).toMap
    setupOpsS = timed.map(t => t._1 -> t._3).toMap
    ops.foreach { name =>
      try registry(name).fn(spark, input).collect()
      catch { case NonFatal(_) => () }
    }
    0.0
  }

  override def afterSetup(spark: SparkSession): Unit = {
    Main.emptyDir(dumps)
    setupAnswers.foreach {
      case (name, Right((rows, schema))) =>
        expected += name -> RegistryPasses.fingerprint(rows, schema)
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.parquet(s"$dumps/$name")
      case _ =>
    }
  }

  def pass(spark: SparkSession,
      rec: Option[Recorder]): (Seq[OpResult], Double, Double) = {
    val results = ops.map { name =>
      val tag = rec.map(_.newTag()).getOrElse("")
      val c0 = rec.map(_ => Recorder.counters())
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var buildMs = 0.0
      val answer = try {
        def run() = {
          val (df, b) = Main.timedMs(registry(name).fn(spark, input))
          buildMs = b
          Right((df.collect(), df.schema))
        }
        rec.fold(run())(_.tagged(tag)(run()))
      } catch { case NonFatal(e) => Left(e.toString.take(300)) }
      val latMs = (System.nanoTime() - t0) / 1e6
      val counters = c0.map(c => Recorder.counters() - c)
      val kind = if (serve(name)) "serve" else "fold"
      answer match {
        case Right((rows, schema)) =>
          val fp = RegistryPasses.fingerprint(rows, schema)
          val err = expected.get(name) match {
            case None => "set-up run of this op failed; no answer to compare"
            case Some(e) if e != fp => "answer differs from the set-up answer"
            case _ => ""
          }
          OpResult(name, kind, startMs, latMs, buildMs, err.isEmpty, err,
            rows.length.toLong, tag, counters)
        case Left(err) =>
          OpResult(name, kind, startMs, latMs, buildMs, ok = false, err, 0L,
            tag, counters)
      }
    }
    val wall = results.map(_.latMs).sum / 1e3
    (results, wall, results.filter(_.kind == "serve").map(_.latMs).sum / 1e3)
  }

  override def extra: Map[String, Any] = Map(
    "oracle_sql" -> ops.flatMap(n => registry(n).oracle.map(n -> _)).toMap,
    "setup_errors" -> setupAnswers.collect { case (n, Left(e)) => n -> e },
    "setup_ops_s" -> setupOpsS)
}

object RegistryPasses {
  /** Order-insensitive digest of every column of every row (columns by
    * name, doubles to 6 decimals, as the oracle check canonicalizes). */
  def fingerprint(rows: Array[Row], schema: StructType): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def cell(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => f"$d%.6f"
    case f: Float => f"${f.toDouble}%.6f"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }
}
