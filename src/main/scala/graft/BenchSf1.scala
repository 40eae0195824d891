package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf1 scaling evidence for the heavy bench families (round-12 task 7):
  * SCALE_METRICS audits plan shapes up to 2M rows; the per-round bench
  * runs at sf0.1 only. This main synthesizes a 10× corpus as TEN
  * INDEPENDENT sf0.1-shaped shards — every document's tokens get a
  * copy-unique prefix and every embedding a copy-constant offset, so
  * cross-copy similarity is exactly zero and the duplicate/cluster
  * structure per shard matches the natural sf0.1 corpus — then runs the
  * ten heaviest registered queries two-pass (min per query, same
  * protocol as [[Bench]]) and writes `BENCH_sf1.json` with the
  * sf1/sf0.1 ratios against the folded baseline.
  *
  * Ten disjoint shards is the HONEST scale-up for ratio measurement: a
  * naive 10× replication makes every document a 10-way near-duplicate,
  * which inflates the candidate-pair workload quadratically by
  * construction — the measured ratio would then grade the synthetic,
  * not the engine. (Correctness always runs on the driver's own
  * testdata; this synthetic feeds only the scaling ratio artifact.)
  *
  * Interpretation: ≈10× time per 10× rows is linear scaling; the
  * *_indexed / persisted-model families amortize training into pass 1
  * (the artifact-build cost) and pass 2's min is the steady-state
  * number, exactly as on the sf0.1 fold. */
object BenchSf1 {

  /** Heaviest folded families at sf0.1 (BASELINE.md protocol), plus
    * the round-12 rewrites whose scale behavior is the point: the LM
    * family (distributed decile) and the BM25 paths. */
  val Heavy = Seq(
    // the capstone steady-state composition (round-15: the synthetic
    // keeps language-marker words unprefixed, so the ingest gate
    // passes and the pipeline is NON-empty at sf1 — previously it was
    // exempt by design)
    "ds_daily_pipeline",
    "dd_jaccard_pairs", "dd_clusters", "dd_survivors", "dd_dup_weights",
    "dd_semdedup", "tx_subword_vocab",
    "sim_pq_adc", "sim_ivfpq", "sim_ivfpq_sweep", "sim_ivfpq_append",
    "tx_lm_score", "tx_lm_score_indexed",
    "tx_bm25_topk", "tx_bm25_postings",
    // the retrieval tier's fold/serve paths (round-13 carry-over): the
    // positional index probes, the daily postings fold, and the full
    // fold->compact->serve maintenance cycle
    "tx_phrase_match", "tx_near_match",
    "tx_bm25_append", "tx_bm25_compacted",
    // the LSH-index daily fold (round-14 oracle gate): base train +
    // fold + probe-from-folded-index, the dedup twin of tx_bm25_append
    "dd_incremental_append",
    // the IVF-PQ drift repair (round-14): base train + fold + full
    // rebuild + serve — the rebuild is a bounded retrain pass, so the
    // ratio should track the other retrain-class families
    "sim_ivfpq_rebuild",
    // the cluster-map daily fold (round-14): base map + LSH train,
    // probe-and-fold with the merge-remap ledger, resolved serve
    "dd_map_append",
    // the crashed-maintenance lifecycle gate (round-15): fold, planted
    // debris, exact vacuum sweep, atomic compaction cutover, post-
    // cutover fold — its sf1 row prices the whole maintenance cycle's
    // 10× behavior like the fold families' (round-16 task 7)
    "maint_vacuum_cutover",
    // the maintenance-events ledger gate (round-17 task 5: the one
    // green query that had no 10× receipt): enabled reporter + two
    // folds + compact + vacuum, serving the event ledger itself
    "maint_history")

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SF1_COPIES", "10").toInt
    val spark = BenchSession.local()

    val dir = s"${sys.props("user.dir")}/target/sf1_synth"
    // v3 token space: copy-unique prefixes on CONTENT words only —
    // language-marker words (TextOps.LangMarkers, all four languages)
    // keep their surface form, so langId/quality see the original
    // marker structure and the ingest gate passes: ds_daily_pipeline
    // measures a real pipeline at sf1. Cross-copy shingle overlap
    // stays negligible (a shared shingle needs THREE consecutive
    // marker words; minhash-band collision probability over
    // hundreds-of-shingle sets is ~0), so the per-shard dup structure
    // still matches the natural sf0.1 corpus.
    SfSynth.ensure(spark, base, copies, dir)

    val heavy = Heavy.map(n => n -> SparkEntry.queries(n))
    val sf1 = BenchSession.timePasses(spark, dir, 2, heavy)

    // dd_semdedup with nList SCALED with the corpus (16 → 160 at 10×):
    // within-cell pairwise work is Θ(n²/nList), so a fixed nList grows
    // it 10× per 10× rows — the production knob (SemDedup paper: cells
    // ∝ corpus) keeps cell population constant. Measure the scaled
    // point so the fixed-nList ratio reads as the parameterization,
    // not the engine.
    // …and the STEADY-STATE form at scaled nList: quantizer trained
    // once (untimed — the persisted-artifact model, dd_semdedup_indexed
    // at sf0.1), per-fold cost = assignment + bounded-cell pairwise.
    // The in-query Lloyd pass is Θ(n·nList) and dominates the scaled
    // form; production never pays it per run.
    val sf1Embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val sf1Prep = graft.operators.Similarity
      .prepared(sf1Embs, "vec_id", "embedding").localCheckpoint(true)
    val sf1Cents = graft.operators.Similarity
      .refinedCentroids(sf1Prep, 16 * copies, 2).localCheckpoint(true)
    val sem = BenchSession.timePasses(spark, dir, 2, Seq(
      ("dd_semdedup_scaled_nlist", (s, d) =>
        graft.operators.Similarity.semDedup(
          s.read.parquet(s"$d/embeddings.parquet"),
          "vec_id", "embedding", 0.4, nList = 16 * copies,
          refineIters = 2)),
      ("dd_semdedup_steady_scaled", (_, _) =>
        graft.operators.Similarity.semDedupWith(sf1Prep, sf1Cents, 0.4))))

    // ---- PURE-fold steady-state receipts (round-15): the oracle-
    // gated fold queries (dd_map_append, sim_ivfpq_append) pay
    // base-train + fold + serve per run — that is the ORACLE TAX, not
    // the production cost. Production trains base artifacts once and
    // pays only the per-batch fold. Measure exactly that: base
    // artifacts trained UNTIMED over an ~80% slice, then each pass
    // folds a DIFFERENT ~10% batch (folds mutate the artifacts, so a
    // replayed batch would no-op through dedupeIds — a non-
    // measurement); report the min of the two same-sized folds.
    def steadyPair(label: String,
        run: String => Double): (String, Double, Double, Double) = {
      val t1 = run(dir)
      val t01 = run(base)
      (label, t1, t01, if (t01 > 0) t1 / t01 else -1.0)
    }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val mapSteady = steadyPair("dd_map_append_steady", { src =>
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-steady-map").toString
      try {
      docs.filter(h < "cc").write.mode("overwrite")
        .parquet(s"$tmp/documents.parquet")
      graft.sources.Models.dedupMap(spark, tmp, 80) // untimed base
      graft.sources.Models.lshIndex(spark, tmp,
        spark.read.parquet(s"$tmp/documents.parquet"), "doc_id", "text")
      val t = Seq(("cc", "e6"), ("e6", "g")).map { case (lo, hi) =>
        val batch = docs.filter(h >= lo && h < hi)
          .select("doc_id", "text").localCheckpoint(true)
        timed(graft.sources.Models.dedupMapAppend(spark, tmp, batch,
          "doc_id", "text", 80))
      }.min
      graft.sources.Models.dropLshArtifacts(spark, tmp)
      t
      } finally SfSynth.rmTree(tmp)
    })
    val annSteady = steadyPair("sim_ivfpq_append_steady", { src =>
      val embs = spark.read.parquet(s"$src/embeddings.parquet")
      val h = md5(encode(col("vec_id").cast("string"), "UTF-8"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-steady-ann").toString
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
      } finally SfSynth.rmTree(tmp)
    })

    // sf0.1 reference: this JVM's own two sf0.1 passes (same host,
    // same session — removes cross-host canary skew from the ratio)
    val local01 = BenchSession.timePasses(spark, base, 2, heavy)

    def ratio(t1: Double, t01: Double) =
      if (t01 > 0 && t1 > 0) t1 / t01 else -1.0
    val ref01 = local01.mins.toMap
    val rows = (sf1.mins.map { case (name, t1) =>
      (name, t1, ref01(name), ratio(t1, ref01(name)))
    } ++ sem.mins.map { case (name, t1) =>
      (name, t1, ref01("dd_semdedup"), ratio(t1, ref01("dd_semdedup")))
    }) :+ mapSteady :+ annSteady
    val timings = Seq(sf1, sem, local01)
    def jstr(s: String) = "\"" + s + "\""
    val qjson = rows.map { case (n, t1, t01, r) =>
      s"${jstr(n)}:{" +
        f""""sf1_sec":$t1%.3f,"sf01_sec":$t01%.3f,"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    val cjson = timings.flatMap(_.canaries).map(c => f"$c%.3f")
      .mkString("[", ",", "]")
    val json =
      s"""{"metric":"sf1_scaling","copies":$copies,"canary":$cjson,""" +
        s""""queries":$qjson,"errors":${timings.map(_.errors.size).sum}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_sf1.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    rows.foreach { case (n, t1, t01, r) =>
      println(f"  $n%-22s sf0.1 $t01%7.2f s   sf1 $t1%7.2f s   x$r%.1f")
    }
    spark.stop()
  }
}
