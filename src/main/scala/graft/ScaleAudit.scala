package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** 100×-dry-run audit of the [[Lake]] layout (round-5 work item 8):
  * synthesizes an sf1-scale metadata table (50× the sf0.1 row count),
  * writes it through the production layout, and MEASURES — from the
  * executed plan's scan metrics, not from plan text — what a bucket
  * read actually touches: files, bytes, and rows, versus the table
  * totals. The claim under test is the one SCALE.md makes for 100 TB:
  * a listing/point read is O(one hash dir + the row groups its range
  * overlaps), independent of table size. Writes `SCALE_METRICS.json`.
  */
object ScaleAudit {

  /** numFiles/bytes/rows actually read by `df`'s file scan, after
    * executing it (AQE-aware: the scan hides under the adaptive root).
    *
    * Execution MUST go through this df's own QueryExecution:
    * `df.foreach`/`df.rdd` deserialize through a *new* QueryExecution,
    * leaving the inspected plan's metrics at zero (the round-5 bug —
    * every recorded metric read 0). `queryExecution.toRdd` is the
    * internal-row RDD of the same physical plan the metrics hang off. */
  def scanMetrics(df: DataFrame): (Long, Long, Long) = {
    df.queryExecution.toRdd.foreach(_ => ()) // execute to populate metrics
    val plan = df.queryExecution.executedPlan
    val exec = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = exec.collectLeaves().collect { case s: FileSourceScanExec => s }
    require(scans.nonEmpty, "no file scan in plan")
    val m = scans.head.metrics
    (m("numFiles").value, m("filesSize").value, m("numOutputRows").value)
  }

  def main(args: Array[String]): Unit = {
    val spark = BenchSession.local()
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("scale_audit").toString
    val nPart = Lake.DefaultParts // 64, the production default

    // sf1-scale objects: 250k objects over 25 buckets (sf0.1 holds 5k
    // docs → sf1 ≈ 50k; we go 5× beyond to make pruning ratios vivid)
    val nObjects = 250000L
    val nBuckets = 25
    val objects = spark.range(nObjects).select(
      concat(lit("tenant"), (col("id") % nBuckets).cast("string"))
        .as("bucket"),
      concat(lit("data/"), lpad((col("id") % 7).cast("string"), 2, "0"),
        lit("/obj_"), lpad(col("id").cast("string"), 9, "0"), lit(".bin"))
        .as("object"),
      col("id").as("inode"),
      (col("id") % 4096L * 17L).as("size"),
      md5(col("id").cast("string")).as("checksum"))
    Lake.writeObjects(objects, s"$root/objects", nPart)

    val total = scanMetrics(spark.read.parquet(s"$root/objects"))
    val one = scanMetrics(
      Lake.readBucket(spark, s"$root/objects", "tenant7", nPart))
    // the A6 range scan on top of the bucket read: prefix-bounded keys
    val ranged = scanMetrics(
      Lake.readBucket(spark, s"$root/objects", "tenant7", nPart)
        .filter(col("object") >= "data/03/" && col("object") < "data/04/"))

    // chunks layout: 2M chunk rows across 100k inodes
    val nChunks = 2000000L
    val chunks = spark.range(nChunks).select(
      (col("id") % 100000L).as("inode"),
      (col("id") / 100000L * 65536L).as("offset"),
      lit(65536).as("chunksize"),
      md5(col("id").cast("string")).as("payload"))
      .withColumn("block", col("offset") - (col("offset") % (65536L * 4)))
    Lake.writeChunks(chunks, s"$root/chunks", nPart)
    val chunksTotal = scanMetrics(spark.read.parquet(s"$root/chunks"))
    val oneInode = scanMetrics(
      Lake.readInode(spark, s"$root/chunks", 31337L, None, nPart))

    // bucketed-table co-located join at sf1 row counts: zero exchange
    spark.sql("DROP TABLE IF EXISTS sa_obj")
    spark.sql("DROP TABLE IF EXISTS sa_chk")
    Lake.writeBucketedTable(objects.select("inode", "bucket", "object"),
      "sa_obj", s"$root/bt_obj", "inode", 32)
    Lake.writeBucketedTable(
      chunks.select("inode", "offset", "chunksize"),
      "sa_chk", s"$root/bt_chk", "inode", 32)
    // force the sort-merge path (a broadcast join would hide whether
    // co-location removed the shuffle), execute through the join's OWN
    // QueryExecution so the adaptive plan finalizes, then count only
    // exchanges that hash-partition the join key — the claim is "the
    // join key is never shuffled", not "the plan has no exchange
    // anywhere" (LakeSpec's pinned assertion; the round-5 any-Exchange
    // count picked up an unrelated one and read as a contradiction).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("sa_obj").join(spark.table("sa_chk"), "inode")
    val joinRows = joined.queryExecution.toRdd.count()
    val finalPlan = joined.queryExecution.executedPlan.toString()
    val sortMerge = finalPlan.contains("SortMergeJoin")
    val exchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning(inode"))

    // corpus co-location at sf1 row counts: the per-doc metric pipeline
    // (tx_repetition's join+agg shape) over a doc_id-bucketed corpus
    // table plans with ZERO doc_id exchanges — the bucketed scan's
    // hash(doc_id) satisfies the (doc_id, word) grouping (subset key),
    // the (doc_id) grouping, and both join sides — while the same
    // pipeline over the same files read WITHOUT the bucket spec
    // shuffles on doc_id repeatedly. Both counts are measured from the
    // executed plan, mirroring LakeSpec's pinned assertion.
    val nDocs = 50000L
    val docsDf = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 40).map(k =>
        concat(lit("w"), ((col("id") + lit(k.toLong)) % 997L)
          .cast("string"))): _*).as("text"))
    spark.sql("DROP TABLE IF EXISTS sa_docs")
    Lake.writeBucketedTable(docsDf, "sa_docs", s"$root/bt_docs",
      "doc_id", 32)
    def repPipeline(src: DataFrame): DataFrame = {
      val docs = src.select(col("doc_id"),
        graft.operators.TextOps.tokens(col("text")).as("w"))
      val top = docs.select(col("doc_id"), explode(col("w")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
        .groupBy("doc_id").agg(max(col("n")).as("top_n"))
      docs.join(top.hint("merge"), "doc_id")
        .select(col("doc_id"),
          (col("top_n").cast("double") / size(col("w")).cast("double"))
            .as("top_word_ratio"))
    }
    def docIdExchanges(df: DataFrame): (Long, Long) = {
      val rows = df.queryExecution.toRdd.count()
      val ex = df.queryExecution.executedPlan.toString().linesIterator
        .count(_.contains("Exchange hashpartitioning(doc_id"))
      (rows, ex.toLong)
    }
    val (bkRows, bkEx) = docIdExchanges(repPipeline(spark.table("sa_docs")))
    val (plRows, plEx) =
      docIdExchanges(repPipeline(spark.read.parquet(s"$root/bt_docs")))

    // IVF assignment at wide nList (round-7 weak mark): the broadcast-
    // centroid form's only shuffle is the nList-row centroid aggregate
    // (then a broadcast) — NEVER an O(corpus·nList) explode/shuffle —
    // and the PLAN carries no nList-sized literal. Record assignment
    // shuffle bytes + plan size at nList=16 vs the SemDedup-realistic
    // 1024 (≈ √corpus here), both measured from the executed plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    graft.functions.GraftFunctions.register(spark)
    val nVecs = 20000L
    val embsDf = spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        (((col("id") * 31L + d * 7L) % 1997L).cast("double") / 1000.0)
          .cast("float")).as("embedding"))
      .localCheckpoint(true)
    def ivfAudit(nList: Int): (Long, Long, Long) = {
      val prep = graft.operators.Similarity
        .prepared(embsDf, "vec_id", "embedding")
      val cents = graft.operators.Similarity
        .refinedCentroids(prep, nList, 0)
      val asg = graft.operators.Similarity.ivfAssign(prep, cents)
      val rows = asg.queryExecution.toRdd.count()
      val sb = asg.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
      }.sum
      (rows, sb, asg.queryExecution.executedPlan.toString.length.toLong)
    }
    val (ivfR16, ivfSb16, ivfPl16) = ivfAudit(16)
    val (ivfR1024, ivfSb1024, ivfPl1024) = ivfAudit(1024)

    // Bloom vs join decontamination at sf1 doc counts: the claim is
    // that the Bloom probe never shuffles the training gram table —
    // its only exchanges are the tiny position-distinct (≤ m rows
    // after partial agg) and the per-doc hit aggregate — while the
    // exact join shuffles every training gram occurrence. Both shuffle
    // totals measured from executed plans over the same corpus.
    def shuffleAudit(df: DataFrame): (Long, Long) = {
      val rows = df.queryExecution.toRdd.count()
      val sb = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
      }.sum
      (rows, sb)
    }
    val heldOut = docsDf.filter(col("doc_id") % 500L === 0L)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val (blR, blSb) = shuffleAudit(graft.operators.Dedup
      .bloomProbe(docsDf, heldOut, "doc_id", "text"))
    val (cnR, cnSb) = shuffleAudit(graft.operators.Dedup
      .contamination(docsDf, heldOut, "doc_id", "text", minShared = 5))

    // Temporal-join audit at sf1-scale event counts: the as-of join's
    // claim is ONE key shuffle and NO join operator — vs the
    // max-subquery spelling (range join + two aggregates + two joins
    // back), which does strictly more shuffling over the same rows.
    // The interval join's claim is a plain bucket equi-join (no
    // BNLJ/cartesian) with single-bucket probe fan-out. All measured
    // from executed plans.
    // per-user event times cluster in a ~4k-wide span near
    // user_id*10000 (users spread over 1e9): realistic session-like
    // locality, so intervals are NARROW — a synthetic where every
    // interval spans the whole domain would make the true overlap
    // result itself quadratic, which no join algorithm can avoid
    val nEv = 2000000L
    val evDf = spark.range(nEv).select(
      col("id").as("event_id"),
      (col("id") % 100000L).as("user_id"),
      expr("(id % 100000) * 10000 + (id div 100000) * 197").as("us"),
      (col("id") % 7L).cast("double").as("value"))
      .localCheckpoint(true)
    val tProbes = evDf.filter(col("event_id") % 3L =!= 0L)
      .select("event_id", "user_id", "us")
    val tBuilds = evDf.filter(col("event_id") % 3L === 0L)
      .select("user_id", "us", "event_id", "value")
    val asofDf = graft.operators.Temporal.asofJoin(
      tProbes, tBuilds, "user_id", "us", "event_id", Seq("value"))
    val (asofRows, asofSb) = shuffleAudit(asofDf)
    val asofJoinFree =
      !asofDf.queryExecution.executedPlan.toString.contains("Join")
    // the max-subquery spelling of the same as-of semantics
    val mx = tProbes
      .join(tBuilds.select(col("user_id"), col("us").as("bus")), "user_id")
      .filter(col("bus") <= col("us"))
      .groupBy("event_id").agg(max("bus").as("v_us"))
    val subq = tProbes.join(mx, Seq("event_id"), "left")
      .join(tBuilds.select(col("user_id"), col("us").as("v_us"),
        col("value").as("asof_value")), Seq("user_id", "v_us"), "left")
    val (subqRows, subqSb) = shuffleAudit(subq)
    // interval join: per-user [min, max] event-time spans x instants
    val tIvs = tBuilds.groupBy(col("user_id").as("owner"))
      .agg(min("us").as("start_us"), max("us").as("end_us"))
    val ivDf = graft.operators.Temporal.intervalJoin(
      tProbes.select(col("user_id").as("p_user"), col("us")), "us",
      tIvs, "start_us", "end_us", widthUs = 5000L)
    val (ivRows, ivSb) = shuffleAudit(ivDf)
    val ivPlan = ivDf.queryExecution.executedPlan.toString
    val ivEqui = !ivPlan.contains("BroadcastNestedLoopJoin") &&
      !ivPlan.contains("CartesianProduct")

    // Unpartitioned-window bound audit, REGISTRY-DERIVED (round-12
    // task 2 — the round-8 hand list missed the LM family's
    // corpus-sized decile window, the exact defect the audit exists to
    // catch): walk EVERY registered query's executed plans, record each
    // empty-partitionSpec WindowExec's input rows, and fail the audit
    // when any exceeds its bound. Queries that localCheckpoint
    // intermediate results execute windows BEFORE the returned plan, so
    // a QueryExecutionListener captures every withAction execution
    // (checkpoint/count/collect) during each query's span, and the
    // final plan is walked explicitly (toRdd bypasses withAction).
    graft.functions.GraftFunctions.register(spark)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    // AQE hides finished stages behind QueryStageExec LEAVES; flatten
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
      case q: QueryStageExec => p +: allNodes(q.plan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    // "Input" = rows entering the window's single-partition STAGE (the
    // feeding exchange's record count, or the nearest measured
    // descendant): for a limit-fed window the upstream LOCAL limits cap
    // it at K rows per producing partition (bound K x parts); for
    // count/histogram rebase tables it is the table itself. Either way
    // it must never scale with the corpus.
    def rowsOf(n: SparkPlan): Long =
      n.metrics.get("numOutputRows").map(_.value)
        .orElse(n.metrics.get("shuffleRecordsWritten").map(_.value))
        .getOrElse(n.children.headOption.map(rowsOf).getOrElse(-1L))
    // a window is "global" when its partitionSpec is EMPTY, ALL-
    // FOLDABLE, or Rank.boundedGlobal's declared-bounded constant key
    // (BoundedGlobalKey — constant-valued but non-foldable, round 20,
    // extracted by the analyzer into a `_wN` attribute the helper
    // traces back; the silencing must not blind this audit)
    def globalWindowRows(qe: QueryExecution): Seq[Long] = {
      val nodes = allNodes(qe.executedPlan)
      val ids = graft.functions.BoundedGlobalKey.aliasedIds(nodes)
      nodes.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty ||
              graft.functions.BoundedGlobalKey
                .declaresBounded(w.partitionSpec, ids) =>
          rowsOf(w.child)
      }
    }
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        captured.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val shufParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    // Default bound: well under every corpus table's sf0.1 row count —
    // a window fed by any corpus-proportional table trips it. Named
    // overrides are the documented bounded-but-larger shapes.
    val DefaultWindowBound = 2048L
    val windowBoundOverrides: Map[String, Long] = Map(
      // vocab rank: K rows after the global TakeOrdered; each upstream
      // partition ships at most K into the single-partition stage
      "tx_subword_vocab" ->
        graft.operators.TextOps.SubwordVocabK.toLong * shufParts,
      // Rank.ntileExact value-histogram windows: bounded by the
      // DISCRETE VALUE DOMAIN (4dp-quantized nll_bits, ~250k possible
      // values), corpus-independent; at sf0.1 the histogram is
      // additionally capped by the doc count
      "tx_lm_score" -> 8192L,
      "tx_lm_score_indexed" -> 8192L,
      "ds_daily_pipeline" -> 8192L)
    spark.listenerManager.register(qel)
    val registryWindowAudit = SparkEntry.queries.keys.toSeq.sorted.map {
      name =>
        captured.clear()
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.queryExecution.toRdd.foreach(_ => ())
        // the listener bus is async: poll until the capture stabilizes
        var last = -1; var stable = 0
        while (stable < 2) {
          Thread.sleep(100)
          val c = captured.size
          if (c == last) stable += 1 else { stable = 0; last = c }
        }
        val rows = (df.queryExecution +:
          scala.jdk.CollectionConverters.IteratorHasAsScala(
            captured.iterator).asScala.toSeq)
          .flatMap(globalWindowRows)
        val worst = if (rows.isEmpty) 0L else rows.max
        val bound = windowBoundOverrides.getOrElse(name, DefaultWindowBound)
        require(worst <= bound,
          s"$name: unpartitioned window saw $worst rows > bound $bound")
        (name, rows.size, worst, bound)
    }
    spark.listenerManager.unregister(qel)
    // the JSON ledger lists only queries that HAVE global windows; the
    // audited-universe count proves the walk covered the registry
    val windowAudit = registryWindowAudit.filter(_._2 > 0)
    val windowAuditTotal = registryWindowAudit.size

    // Cluster-family audit (round-8 task 8): dd_clusters' cost model is
    // O(log diameter) pointer-jumping rounds, each a bounded shuffle of
    // the edge-touched vertex set — record the measured iteration count
    // and total/per-stage shuffle volume at sf0.1 so the slowest bench
    // family's scale behavior is an artifact, not wall-time folklore.
    val shufBytes = new java.util.concurrent.atomic.AtomicLong
    val shufStages = new java.util.concurrent.atomic.AtomicLong
    val ccListener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        if (w > 0) { shufBytes.addAndGet(w); shufStages.incrementAndGet() }
      }
    }
    spark.sparkContext.addSparkListener(ccListener)
    val ccRows = SparkEntry.queries("dd_clusters")(spark, sfDir).count()
    Thread.sleep(1000) // let the async listener bus drain
    spark.sparkContext.removeSparkListener(ccListener)
    val ccIters = graft.operators.Dedup.lastComponentsIterations

    // IVF-PQ daily-fold audit (round 11): appending a FIXED batch onto
    // indexes of different sizes must cost the same ENCODE/SHUFFLE work
    // (frozen model broadcast over the batch; only batch rows written)
    // — the index-size-proportional term is exactly one single-column
    // (cid) scan for the post-append drift audit, which shows up in
    // input bytes, never in shuffle. Synthetic embeddings at 20k and
    // 100k vectors; batch = 200.
    sys.props("graft.models.dir") = s"$root/models"
    def synEmb(n: Long, dir: String): Unit =
      spark.range(n).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), " +
          "k -> cast(((id * 31 + k) % 97) / 10.0 as float))").as("embedding"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def appendCost(n: Long): (Long, Long) = {
      val dir = s"$root/syn$n"
      synEmb(n, dir)
      graft.sources.Models.ivfPqIndex(spark, dir,
        nList = 16, iters = 1, m = 8, ksub = 16) // train once (untimed)
      val batch = spark.range(n, n + 200).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), " +
          "k -> cast(((id * 31 + k) % 97) / 10.0 as float))").as("embedding"))
      val sb = new java.util.concurrent.atomic.AtomicLong
      val ib = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          sb.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics
            .bytesWritten)
          ib.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
          ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      graft.sources.Models.ivfPqIndexAppend(spark, dir, batch,
        "vec_id", "embedding", nList = 16, iters = 1, m = 8, ksub = 16)
      Thread.sleep(1000)
      spark.sparkContext.removeSparkListener(l)
      (sb.get, ib.get)
    }
    val (apSb20, apIb20) = appendCost(20000L)
    val (apSb100, apIb100) = appendCost(100000L)

    // ---- maintenance at sf1 scale (round-16 task 7): the vacuum/
    // compaction story measured, not asserted. An sf1-sized corpus
    // (50k docs ≈ 10× the sf0.1 document table) takes five daily
    // postings folds (file fan-in growth), one compaction (file counts
    // before/after + wall time), and one vacuum over a root with
    // planted debris (sweep wall time): the claims under test are that
    // fold fragmentation is bounded-linear in folds, compaction
    // restores the minimal one-file-per-bucket layout in one bounded
    // pass, and the vacuum walk is metadata-cost only (independent of
    // artifact BYTES — it lists directories, never reads data files).
    val mDir = s"$root/maint_sf1"
    val mDocs = 50000L
    spark.range(mDocs).select(col("id").as("doc_id"),
      expr("array_join(transform(sequence(0, cast(id % 37 as int) + 3)," +
        " k -> concat('w', cast((id * 13 + k * 7) % 4096 as string)))," +
        " ' ')").as("text"))
      .write.mode("overwrite").parquet(s"$mDir/documents.parquet")
    val mAll = spark.read.parquet(s"$mDir/documents.parquet")
    graft.sources.Models.buildRetrievalArtifacts(spark, mDir,
      docs = Some(mAll.filter(col("doc_id") < mDocs / 2)))
    // the events ledger rides along (round-17 task 5): the measured
    // maintenance loop now INCLUDES its reporter, and the ledger's own
    // size/growth becomes a measured claim — one small row per applied
    // operation through the versioned sink, auto-compacted fan-in
    graft.sources.MaintenanceLog.enable(spark,
      graft.sources.Models.root(mDir))
    val postPath = graft.sources.Models.postingsPath(mDir)
    val filesBase =
      graft.sources.Generations.countParquetFiles(spark,
        graft.sources.Models.servingDir(spark, postPath))
    val foldN = 5
    (0 until foldN).foreach { k =>
      val lo = mDocs / 2 + k * (mDocs / 10)
      graft.sources.Models.postingsAppend(spark, mDir,
        mAll.filter(col("doc_id") >= lo && col("doc_id") < lo + mDocs / 10),
        "doc_id", "text", dedupeIds = true)
    }
    val filesAfterFolds =
      graft.sources.Generations.countParquetFiles(spark,
        graft.sources.Models.servingDir(spark, postPath))
    val tC0 = System.nanoTime()
    val (cBefore, cAfter) =
      graft.sources.Models.compactBucketed(spark, postPath, "tok")
    val compactSec = (System.nanoTime() - tC0) / 1e9
    // planted debris: an orphan generation, a dead tokenize staging
    // dir, a crashed _tmp_ marker — the three classes vacuum reclaims
    val mfs = new org.apache.hadoop.fs.Path(postPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphanP = new org.apache.hadoop.fs.Path(postPath, "gen-99")
    mfs.mkdirs(orphanP)
    mfs.create(new org.apache.hadoop.fs.Path(orphanP, "part-torn.parquet"),
      true).close()
    mfs.mkdirs(new org.apache.hadoop.fs.Path(
      graft.sources.Models.root(mDir), "tok_staging"))
    mfs.create(new org.apache.hadoop.fs.Path(postPath, "_tmp_dead"),
      true).close()
    val tV0 = System.nanoTime()
    val swept = graft.sources.Models.vacuum(spark, mDir, minAgeMs = 0L)
    val vacuumSec = (System.nanoTime() - tV0) / 1e9
    // ledger receipt: events recorded by the folds/compact/vacuum
    // above, and the on-disk footprint of the events family (staged
    // segments + commit log) — unbounded append is priced here: at one
    // row per applied operation, bytes/event × ops/day bounds years of
    // ledger in megabytes
    val ledgerN = graft.sources.MaintenanceLog.events(spark,
      graft.sources.Models.root(mDir)).count()
    val ledgerDir = new org.apache.hadoop.fs.Path(
      s"${graft.sources.Models.root(mDir)}/" +
        graft.sources.MaintenanceLog.Family)
    var ledgerFiles = 0L
    var ledgerBytes = 0L
    val lit0 = mfs.listFiles(ledgerDir, true)
    while (lit0.hasNext) {
      val s = lit0.next(); ledgerFiles += 1; ledgerBytes += s.getLen
    }

    def pct(a: Long, b: Long): Double =
      math.round(a.toDouble / b * 10000) / 100.0
    val json =
      s"""{
         |  "objects_rows": $nObjects, "objects_buckets": $nBuckets,
         |  "layout_parts": $nPart,
         |  "full_scan":   {"files": ${total._1}, "bytes": ${total._2}, "rows": ${total._3}},
         |  "bucket_read": {"files": ${one._1}, "bytes": ${one._2}, "rows": ${one._3},
         |                  "files_pct": ${pct(one._1, total._1)}, "bytes_pct": ${pct(one._2, total._2)}},
         |  "range_read":  {"files": ${ranged._1}, "bytes": ${ranged._2}, "rows": ${ranged._3}},
         |  "chunks_rows": $nChunks,
         |  "chunks_full": {"files": ${chunksTotal._1}, "rows": ${chunksTotal._3}},
         |  "inode_read":  {"files": ${oneInode._1}, "rows": ${oneInode._3},
         |                  "files_pct": ${pct(oneInode._1, chunksTotal._1)}},
         |  "bucketed_join": {"inode_hash_exchanges": $exchanges, "sort_merge": $sortMerge, "rows": $joinRows},
         |  "corpus_rows": $nDocs,
         |  "corpus_pipeline": {"bucketed_docid_exchanges": $bkEx, "plain_docid_exchanges": $plEx,
         |                      "bucketed_rows": $bkRows, "plain_rows": $plRows},
         |  "ivf_assign": {"corpus_rows": $nVecs,
         |    "nlist16":   {"rows": $ivfR16, "shuffle_bytes": $ivfSb16, "plan_chars": $ivfPl16},
         |    "nlist1024": {"rows": $ivfR1024, "shuffle_bytes": $ivfSb1024, "plan_chars": $ivfPl1024}},
         |  "decontaminate": {"train_docs": $nDocs, "held_docs": ${heldOut.count()},
         |    "bloom_probe": {"rows": $blR, "shuffle_bytes": $blSb},
         |    "exact_join":  {"rows": $cnR, "shuffle_bytes": $cnSb}},
         |  "temporal_sf1": {"events": $nEv,
         |    "asof_window":   {"rows": $asofRows, "shuffle_bytes": $asofSb, "join_free": $asofJoinFree},
         |    "asof_subquery": {"rows": $subqRows, "shuffle_bytes": $subqSb},
         |    "interval_join": {"rows": $ivRows, "shuffle_bytes": $ivSb, "equi_join": $ivEqui}},
         |  "global_windows_sf01": {"queries_audited": $windowAuditTotal,
         |    ${windowAudit.map { case (n, c, w, b) =>
               s""""$n": {"windows": $c, "max_input_rows": $w, "bound": $b}"""
             }.mkString(",\n    ")}},
         |  "dd_clusters_sf01": {"rows": $ccRows, "cc_iterations": $ccIters,
         |    "shuffle_stages": ${shufStages.get}, "shuffle_bytes": ${shufBytes.get}},
         |  "ivfpq_append": {"batch": 200,
         |    "idx20k":  {"shuffle_bytes": $apSb20, "input_bytes": $apIb20},
         |    "idx100k": {"shuffle_bytes": $apSb100, "input_bytes": $apIb100}},
         |  "maintenance": {"corpus_rows": $mDocs, "folds": $foldN,
         |    "postings_files_base": $filesBase,
         |    "postings_files_after_folds": $filesAfterFolds,
         |    "compact": {"files_before": $cBefore, "files_after": $cAfter,
         |                "sec": ${math.round(compactSec * 1000) / 1000.0}},
         |    "vacuum": {"swept": ${swept.size},
         |               "sec": ${math.round(vacuumSec * 1000) / 1000.0}},
         |    "ledger": {"events": $ledgerN, "files": $ledgerFiles,
         |               "bytes": $ledgerBytes,
         |               "bytes_per_event": ${
                           if (ledgerN > 0) ledgerBytes / ledgerN else 0L}}}
         |}""".stripMargin
    println(json)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("SCALE_METRICS.json"), json.getBytes("UTF-8"))

    // clean up the ~GB of synthetic parquet
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    Files.walk(Path.of(root)).sorted(Comparator.reverseOrder[Path]())
      .forEach(f => { val _ = Files.deleteIfExists(f) })
    spark.stop()
  }
}
