package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Round-21 optimization workbench (measurement only — never part of
  * the driver contract). Two subcommands over the registered queries:
  *
  *   plan <outDir> <name...>   write .explain("formatted") per query
  *   jobs <name>               per-Spark-job wall-clock breakdown of
  *                             one query invocation (job description →
  *                             seconds), for locating which of a
  *                             multi-job query's stages carries the
  *                             cost, with a CPU canary before and after
  *
  * Min-of-N timing is `AnchorBench`; conf experiments pass `-Dspark.*`
  * properties, which the session builder reads.
  */
object OptTool {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession.local()
    val queries = SparkEntry.queries

    args.toList match {
      case "plan" :: outDir :: names =>
        // Queries that materialize internally (localCheckpoint /
        // fold-gate builders) hide their real plans behind a LogicalRDD
        // scan — capture EVERY QueryExecution that runs during build +
        // execution with a listener (the checkpoint actions go through
        // withAction, so the listener sees them), and write the final
        // returned plan followed by the intermediate ones.
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { n =>
          val seen = new java.util.concurrent.CopyOnWriteArrayList[
            (String, org.apache.spark.sql.execution.QueryExecution)]()
          val ql = new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                durationNs: Long): Unit = { seen.add((funcName, qe)); () }
            override def onFailure(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                exception: Exception): Unit = ()
          }
          spark.listenerManager.register(ql)
          val df = queries(n)(spark, sfDir)
          val finalTxt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          df.count() // execute so AQE final plans + count-path QEs land
          // drain the async listener bus by polling (per repo practice)
          var waited = 0
          var last = -1
          while (waited < 5000 && seen.size != last) {
            last = seen.size; Thread.sleep(250); waited += 250
          }
          spark.listenerManager.unregister(ql)
          val sb = new StringBuilder
          sb.append(s"== $n : returned DataFrame plan ==\n")
          sb.append(finalTxt).append("\n")
          import scala.jdk.CollectionConverters._
          seen.asScala.zipWithIndex.foreach { case ((fn, qe), i) =>
            sb.append(s"\n== intermediate QueryExecution #$i ($fn) ==\n")
            sb.append(try qe.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            catch { case e: Throwable => s"<explain failed: $e>" })
            sb.append("\n")
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/$n.txt"),
            sb.toString.getBytes("UTF-8"))
          println(s"[plan] wrote $outDir/$n.txt (${seen.size} intermediate QEs)")
        }

      case "jobs" :: name :: Nil =>
        val recs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
        val done = scala.collection.concurrent.TrieMap[Int, Double]()
        val listener = new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit = {
            val desc = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")
            recs.put(j.jobId, (desc, j.time))
          }
          override def onJobEnd(j: SparkListenerJobEnd): Unit = {
            Option(recs.get(j.jobId)).foreach { case (_, t0) =>
              done.put(j.jobId, (j.time - t0) / 1e3)
            }
          }
        }
        spark.sparkContext.addSparkListener(listener)
        // one warm pass (JIT/codegen), then the measured pass
        queries(name)(spark, sfDir).count()
        val c0 = BenchSession.canary(spark)
        recs.clear(); done.clear()
        val t0 = System.nanoTime()
        queries(name)(spark, sfDir).count()
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let the async listener bus drain
        val items = done.toSeq.sortBy(_._1)
        val c1 = BenchSession.canary(spark)
        println(f"[jobs] $name total=$total%.3f s, ${items.size} jobs, " +
          f"canary $c0%.3f/$c1%.3f s")
        items.foreach { case (id, sec) =>
          val desc = Option(recs.get(id)).map(_._1).getOrElse("")
          println(f"  job $id%4d  $sec%7.3f s  $desc")
        }
        println(f"[jobs] sum of jobs = ${items.map(_._2).sum}%.3f s " +
          f"(gap = ${total - items.map(_._2).sum}%.3f s driver/planning)")

      case other =>
        System.err.println(
          s"usage: plan <outDir> <names...> | jobs <name>; got: $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
