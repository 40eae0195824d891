package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-decade-further scale receipt (round 18, r17 verdict item 4):
  * the 100 TB argument extrapolated from sf1/sf0.1 (10×) ratios; this
  * main builds an sf10-class corpus — 100 disjoint sf0.1-shaped
  * shards via [[SfSynth]], 500k docs / 200k embeddings / 10M events — and measures
  * the five INDEXED/STEADY-STATE serving paths against the sf1
  * synthetic measured in the SAME JVM (same host, same session, so
  * the ratio cancels canary skew):
  *
  *   - `tx_bm25_postings`      serve BM25 from the tok-bucketed index
  *   - `dd_incremental_indexed` probe the persisted LSH index
  *   - `sim_ivfpq_indexed`     probe the persisted IVF-PQ triple
  *   - `dd_survivors_indexed`  survivors via the persisted cluster map
  *   - `sim_ivfpq_append_steady` per-batch ANN fold (base untimed)
  *
  * Protocol: two passes per scale, min per query — pass 1 pays any
  * first-use artifact training (the amortized base-train cost, same
  * as production's one-off), pass 2 is the steady-state number. The
  * interpretation gate is ratio ≤ ~2× per 10× rows for the serving
  * paths (they read O(probed buckets), not the corpus) and ≤ ~10×
  * where a corpus-sized scan is inherent. Writes `BENCH_sf10.json`. */
object BenchSf10 {

  val Steady = Seq(
    "tx_bm25_postings",
    "dd_incremental_indexed",
    "sim_ivfpq_indexed",
    "dd_survivors_indexed")

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession.local()

    val dir1 = s"${sys.props("user.dir")}/target/sf1_synth"
    val dir10 = s"${sys.props("user.dir")}/target/sf10_synth"
    SfSynth.ensure(spark, base, 10, dir1)
    SfSynth.ensure(spark, base, 100, dir10)

    // every timed query, tagged with its corpus dir (errors are
    // reported as name@dir, canaries in run order)
    val timings = scala.collection.mutable.ArrayBuffer[
      (String, BenchSession.Timings)]()
    def minsAt(dir: String,
        qs: Seq[(String, (SparkSession, String) => DataFrame)]
    ): Map[String, Double] = {
      val t = BenchSession.timePasses(spark, dir, 2, qs)
      timings += dir -> t
      t.mins.toMap
    }
    /** Two-pass min of one query over state its caller built untimed. */
    def minOf(dir: String, name: String)(q: => DataFrame): Double =
      minsAt(dir, Seq((name, (_, _) => q)))(name)

    // order matters for fairness: sf1 first, then sf10 (JIT warmed
    // equally by pass structure; each scale gets its own two passes)
    val steady = Steady.map(n => n -> SparkEntry.queries(n))
    val t1 = minsAt(dir1, steady)
    val t10 = minsAt(dir10, steady)

    // the ANN fold steady pair: base trained UNTIMED over the ~80%
    // md5 slice, each pass folds a DIFFERENT ~10% batch (folds mutate
    // the artifacts, so a replayed batch would no-op through
    // dedupeIds — a non-measurement); min of the two same-sized folds
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def annSteady(src: String): Double = {
      val embs = spark.read.parquet(s"$src/embeddings.parquet")
      val h = md5(encode(col("vec_id").cast("string"), "UTF-8"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-sf10-ann").toString
      try {
        embs.filter(h < "cc").write.mode("overwrite")
          .parquet(s"$tmp/embeddings.parquet")
        graft.sources.Models.ivfPqIndex(spark, tmp) // untimed base train
        val t = Seq(("cc", "e6"), ("e6", "g")).map { case (lo, hi) =>
          val batch = embs.filter(h >= lo && h < hi)
            .select("vec_id", "embedding").localCheckpoint(true)
          timed {
            graft.sources.Models.ivfPqIndexAppend(spark, tmp, batch,
              "vec_id", "embedding").count()
            ()
          }
        }.min
        graft.sources.Models.dropIvfPqArtifacts(spark, tmp)
        t
      } finally SfSynth.rmTree(tmp) // the staged corpus copy is large
    }
    val ann1 = annSteady(dir1)
    val ann10 = annSteady(dir10)

    // Isolating receipts for the two queries whose REGISTRY form has a
    // corpus-proportional term by construction (the ratio would grade
    // the query's shape, not the index):
    //  - dd_incremental_indexed probes the h>="cc" slice (~20% of the
    //    corpus), so its probe side is 10× bigger at sf10 — the
    //    FIXED-PROBE twin holds the probe batch at a constant row
    //    count against each scale's full index, isolating index-side
    //    cost (the thing that must not scale linearly);
    //  - sim_ivfpq_indexed probes nProbe/nList of an index whose cells
    //    hold ∝corpus vectors at FIXED nList=16 — the SCALED-NLIST twin
    //    applies the production parameterization (cells ∝ corpus, same
    //    nProbe/nList fraction), keeping cell population constant.
    def fixedProbe(src: String): Double = {
      graft.functions.GraftFunctions.register(spark)
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
      val (bands, sets) = graft.sources.Models.lshIndex(
        spark, src, docs.filter(h < "cc"), "doc_id", "text")
      val probe = docs.filter(h >= "cc").orderBy("doc_id").limit(1000)
        .select("doc_id", "text").localCheckpoint(true)
      minOf(src, "dd_incremental_fixed_probe") {
        graft.operators.Dedup.incrementalDedupIndexed(
          bands, sets, probe, "doc_id", "text", 0.8)
      }
    }
    // production ANN parameterization: nList ∝ corpus with nProbe
    // CONSTANT — probed work per query = nProbe · (N/nList) stays
    // constant (a constant nProbe/nList FRACTION would read a constant
    // fraction of the corpus, which is the wrong knob)
    def scaledNList(src: String, nList: Int): Double = {
      graft.functions.GraftFunctions.register(spark)
      val prep = graft.operators.Similarity.prepared(
        spark.read.parquet(s"$src/embeddings.parquet"),
        "vec_id", "embedding")
        .filter(size(col("qv")) === 64).localCheckpoint(true)
      val (cents, cbRows, codes) =
        graft.sources.Models.ivfPqIndex(spark, src, nList = nList)
      minOf(src, "sim_ivfpq_scaled_nlist") {
        graft.operators.Similarity.ivfPqScoreWith(prep, cents, cbRows,
          codes, k = 5, queryLimit = 10L, nProbe = 8, m = 8,
          dim = 64, rerank = 50)
      }
    }
    // constant-selectivity BM25 receipt: the registry query's terms
    // are the corpus's top-df tokens — at sf10 those are the
    // unprefixed language-marker words whose posting lists grow with
    // the corpus, so ITS ratio reads query selectivity (a 10× result
    // set costs 10× anywhere). This twin queries tokens of ONE shard
    // (copy-7 prefixed content tokens, present at both scales), whose
    // posting lists are shard-local — the index-side cost of serving
    // a fixed-selectivity query against a 10× index.
    def bm25LocalTerms(src: String): Double = {
      val df = graft.sources.Models.dfTable(spark, src)
      val lens = graft.sources.Models.docLens(spark, src)
      val tot = lens.agg(count(lit(1)).as("nn"), sum("dl").as("s"))
      val terms = df.filter(col("tok").startsWith("c7x"))
        .orderBy(col("df").desc, col("tok")).offset(10).limit(5)
        .select("tok").localCheckpoint(true)
      minOf(src, "tx_bm25_local_terms") {
        graft.sources.Models.postings(spark, src)
          .join(broadcast(terms), "tok")
          .join(broadcast(df), "tok")
          .join(lens, "doc_id")
          .crossJoin(broadcast(tot))
          .withColumn("idf",
            log((lit(2L) * (col("nn") - col("df")) + lit(1L))
              .cast("double")) -
              log((lit(2L) * col("df") + lit(1L)).cast("double")))
          .withColumn("t",
            col("idf") * (col("tf").cast("double") * lit(2.2)) /
              (col("tf").cast("double") + (lit(0.3) + lit(0.9) *
                ((col("dl") * col("nn")).cast("double") /
                  col("s").cast("double")))))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hits"), sum("t").as("sc"))
          .orderBy(col("sc").desc, col("doc_id")).limit(20)
      }
    }
    // Maintenance-lifecycle receipt (round 19, r18 verdict item 5):
    // one fold→compact→vacuum pass per scale, the maint_vacuum_cutover
    // shape with base artifacts PRE-BUILT untimed (production's
    // one-off train) over each scale's ~80% md5 slice. The fold
    // ingests a FIXED 2,000-doc batch — the steady-state claim is
    // "a day-sized batch costs the same against a 10× index", the
    // same fixed-work framing as dd_incremental_fixed_probe — then
    // compaction rewrites the bucketed postings (file COUNT is
    // bounded by IndexBuckets + fold fragments at both scales; bytes
    // grow with the index and are the expected residual term) and
    // vacuum sweeps one planted orphan (metadata-only walk). Two
    // passes with DIFFERENT batches (a replayed batch would no-op
    // through dedupeIds — a non-measurement), min of the two.
    def maintLifecycle(src: String): Double = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-sf10-maint").toString
      try {
        val docs = spark.read.parquet(s"$src/documents.parquet")
        val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
        docs.filter(h < "cc").write.mode("overwrite")
          .parquet(s"$tmp/documents.parquet")
        graft.sources.Models.buildRetrievalArtifacts(spark, tmp)
        val postPath = graft.sources.Models.postingsPath(tmp)
        val fs = new org.apache.hadoop.fs.Path(postPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val t = Seq(0, 2000).map { off =>
          val batch = docs.filter(h >= "cc").orderBy("doc_id")
            .offset(off).limit(2000)
            .select("doc_id", "text").localCheckpoint(true)
          timed {
            graft.sources.Models.postingsAppend(spark, tmp, batch,
              "doc_id", "text", dedupeIds = true)
            graft.sources.Models.compactRetrievalIndexes(spark, tmp)
            val orphan = new org.apache.hadoop.fs.Path(postPath,
              s"gen-${900 + off}")
            fs.mkdirs(orphan)
            graft.sources.Models.vacuum(spark, tmp, minAgeMs = 0L)
            ()
          }
        }.min
        graft.sources.Models.dropRetrievalArtifacts(spark, tmp)
        t
      } finally SfSynth.rmTree(tmp)
    }
    // Dedup-map daily-fold receipt (round 20, r19 verdict item 7):
    // the slowest steady fold's decade receipt stopped at sf1 (1.9×).
    // Same framing as maint_lifecycle — base map + LSH index trained
    // UNTIMED over the ~80% md5 slice (production's one-off), then a
    // FIXED 2,000-doc batch folds through Models.dedupMapAppend
    // (index-probed cross edges, exact batch-internal edges, mini
    // component pass, merge-remap ledger). Two passes with DIFFERENT
    // batches (dedupeIds makes a replayed batch a no-op — a
    // non-measurement), min of the two. The steady-state claim: a
    // day-sized batch costs the same against a 10× map+index.
    def dedupMapFold(src: String): Double = {
      graft.functions.GraftFunctions.register(spark)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-sf10-map").toString
      try {
        val docs = spark.read.parquet(s"$src/documents.parquet")
        val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
        docs.filter(h < "cc").write.mode("overwrite")
          .parquet(s"$tmp/documents.parquet")
        graft.sources.Models.dedupMap(spark, tmp, 80)
        graft.sources.Models.lshIndex(spark, tmp,
          Tables.documents(spark, tmp), "doc_id", "text")
        val t = Seq(0, 2000).map { off =>
          val batch = docs.filter(h >= "cc").orderBy("doc_id")
            .offset(off).limit(2000)
            .select("doc_id", "text").localCheckpoint(true)
          timed {
            graft.sources.Models.dedupMapAppend(spark, tmp, batch,
              "doc_id", "text", 80, dedupeIds = true)
          }
        }.min
        t
      } finally {
        graft.sources.Models.reset(spark, tmp)
        SfSynth.rmTree(tmp)
      }
    }
    val ml1 = maintLifecycle(dir1)
    val ml10 = maintLifecycle(dir10)
    val mf1 = dedupMapFold(dir1)
    val mf10 = dedupMapFold(dir10)

    val fp1 = fixedProbe(dir1)
    val fp10 = fixedProbe(dir10)
    val sn1 = scaledNList(dir1, 16)
    val sn10 = scaledNList(dir10, 160)
    val bl1 = bm25LocalTerms(dir1)
    val bl10 = bm25LocalTerms(dir10)
    // a query that FAILED at either scale reports -1 there: mark the
    // row itself (ratio -1 + failed flag) so a reader of the queries
    // block never reads a non-measurement as a scaling receipt without
    // cross-referencing the errors block (ADVICE r18)
    val rows = (Steady.map(n => (n, t10(n), t1(n))) ++ Seq(
      ("sim_ivfpq_append_steady", ann10, ann1),
      ("dd_incremental_fixed_probe", fp10, fp1),
      ("sim_ivfpq_scaled_nlist", sn10, sn1),
      ("tx_bm25_local_terms", bl10, bl1),
      ("maint_lifecycle", ml10, ml1),
      ("dd_map_fold_steady", mf10, mf1))).map { case (n, a10, a1) =>
      val failed = a10 < 0 || a1 < 0
      (n, a10, a1, if (failed || a1 == 0) -1.0 else a10 / a1, failed)
    }

    def jstr(s: String) = "\"" + s + "\""
    val qjson = rows.map { case (n, a10, a1, r, failed) =>
      s"${jstr(n)}:{" +
        f""""sf10_sec":$a10%.3f,"sf1_sec":$a1%.3f,"ratio":$r%.2f""" +
        (if (failed) ""","failed":true}""" else "}")
    }.mkString("{", ",", "}")
    val cjson = timings.flatMap(_._2.canaries).map(c => f"$c%.3f")
      .mkString("[", ",", "]")
    val ejson = timings.flatMap { case (dir, t) =>
      t.errors.map { case (k, v) =>
        s"${jstr(s"$k@$dir")}:${jstr(v.replace("\"", "'"))}"
      }
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"sf10_scaling","copies":100,"canary":$cjson,""" +
        s""""queries":$qjson,"errors":$ejson}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_sf10.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    rows.foreach { case (n, a10, a1, r, failed) =>
      val tag = if (failed) "  FAILED" else ""
      println(f"  $n%-26s sf1 $a1%7.2f s   sf10 $a10%7.2f s   x$r%.2f$tag")
    }
    spark.stop()
  }
}
