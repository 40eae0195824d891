package perfbench

import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{BlobOps, Listing}
import graft.operators.Listing.{ListParams, ListResult}

/** The S3 request surface as a closed loop of two clients, each waiting
  * for its reply before sending the next request. A pass is
  * `perPass` requests from each client; the clients draw requests from
  * their own seeded streams, so a pass's requests do not depend on
  * timing.
  *
  * Mix: 60% ListObjects (`Listing.listObjects`, half over the objects
  * view and half over the Cassandra-shaped connector table), 20% point
  * fetch of one key, 20% byte-range read of one object. Every answer is
  * checked against [[MetaReference]]. */
final class MetaRequests(input: String, seed: Long, perPass: Int)
    extends Workload {
  import MetaRequests._

  private var objects: DataFrame = _
  private var connector: DataFrame = _
  private var chunks: DataFrame = _
  private var ref: MetaReference = _
  private lazy val clients = Seq(0, 1).map(i => new Client(seed, i))
  private val pool = Executors.newFixedThreadPool(2, (r: Runnable) => {
    val t = new Thread(r, "perfbench-client")
    t.setDaemon(true)
    t
  })

  def setup(spark: SparkSession, rep: Int): Double = {
    objects = graft.Tables.objects(spark, input)
    chunks = graft.Tables.chunks(spark, input)
    val prepS = if (ref != null) 0.0 else {
      val (r, ms) = Main.timedMs(MetaReference.collect(spark, input, seed))
      ref = r
      ms / 1e3
    }
    graft.sources.CassandraLikeV2.clear()
    val store = new graft.sources.ConnectorStore(
      "graft.sources.CassandraLikeV2", t => Map(
        "table" -> t, "partitionKeys" -> "bucket", "clusteringKeys" -> "object"))
    store.write(objects.select("bucket", "object", "size", "checksum"),
      "objects", SaveMode.Overwrite)
    connector = store.read(spark, "objects")
    // warm-up: untimed requests from a stream of their own
    val warm = new Client(seed, -1 - rep)
    (1 to WarmupRequests).foreach(_ => warm.run(None))
    prepS
  }

  def pass(spark: SparkSession,
      rec: Option[Recorder]): (Seq[OpResult], Double, Double) = {
    val t0 = System.nanoTime()
    val futures = clients.map { c =>
      pool.submit(new Callable[Seq[OpResult]] {
        def call(): Seq[OpResult] = (1 to perPass).map(_ => c.run(rec))
      })
    }
    val results = futures.flatMap(_.get())
    val wall = (System.nanoTime() - t0) / 1e9
    // every request only reads, so the whole pass is serve time
    (results, wall, wall)
  }

  override def extra: Map[String, Any] =
    Map("reference" -> Map("objects" -> ref.size, "buckets" -> ref.buckets.size))

  override def close(): Unit = { pool.shutdownNow(); () }

  /** One client: its seeded request stream plus the truncated page it
    * may continue with the page's next marker. Requests come in shuffled
    * blocks of [[BlockSize]]: 60% lists, 20% fetches, 20% range reads,
    * and among the lists each table, delimiter choice, max-keys value and
    * prefix depth equally often, so seeds change the buckets, keys and
    * order a client asks for but not the request mix. */
  private final class Client(seed: Long, id: Int) {
    private val rnd = new java.util.Random(seed * 1000003L + id)
    private var truncated: Option[ListRequest] = None
    private var block = List.empty[Either[String, ListShape]]

    def next(): Request = {
      if (block.isEmpty) block = newBlock()
      val shape = block.head
      block = block.tail
      val follow = rnd.nextDouble() < FollowShare
      val bucket = ref.drawBucket(rnd)
      val keys = ref.keys(bucket)
      val key = keys(rnd.nextInt(keys.length))
      shape match {
        case Right(l) => truncated.filter(_ => follow).getOrElse {
          val prefix = if (l.depth == 0) None
            else Some(key.split("/").take(l.depth).mkString("", "/", "/"))
          ListRequest(l.onConnector, bucket, ListParams(prefix = prefix,
            delimiter = if (l.delimited) Some("/") else None, maxKeys = l.maxKeys))
        }
        case Left("fetch") => FetchRequest(bucket, key)
        case Left(_) =>
          val o = ref.obj(bucket, key)
          val start = rnd.nextInt(o.size.toInt.max(1)).toLong
          RangeRequest(o.inode, start, (start + 1 + rnd.nextInt(256)).min(o.size))
      }
    }

    /** 12 list shapes, 4 fetches and 4 range reads, shuffled. */
    private def newBlock(): List[Either[String, ListShape]] = {
      val r = new scala.util.Random(rnd.nextLong())
      val shapes = r.shuffle(List.tabulate(Lists)(_ % 2 == 0))
        .zip(r.shuffle(List.tabulate(Lists)(i => (i / 2) % 2 == 0)))
        .zip(r.shuffle(List.tabulate(Lists)(i => MaxKeys(i % MaxKeys.length))))
        .zip(r.shuffle(List.tabulate(Lists)(_ % 3)))
        .map { case (((c, d), m), p) => Right(ListShape(c, d, m, p)) }
      val others = (BlockSize - Lists) / 2
      r.shuffle(shapes ++ List.fill(others)(Left("fetch")) ++ List.fill(others)(Left("range")))
    }

    /** Draw, time, and check one request. */
    def run(rec: Option[Recorder]): OpResult = {
      val req = next()
      val tag = rec.map(_.newTag()).getOrElse("")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var buildMs = 0.0
      val answer = try {
        def exec() = execute(req, b => buildMs = b)
        Right(rec.fold(exec())(_.tagged(tag)(exec())))
      } catch { case scala.util.control.NonFatal(e) => Left(e.toString.take(300)) }
      val latMs = (System.nanoTime() - t0) / 1e6
      val (err, rows) = answer match {
        case Left(e) => (e, 0L)
        case Right(a) => (check(req, a), rowsOf(a))
      }
      req match {
        case l: ListRequest => truncated = answer.toOption.collect {
          case r: ListResult if r.truncated =>
            l.copy(params = l.params.copy(marker = r.nextMarker))
        }
        case _ =>
      }
      OpResult(req.kind, req.kind, startMs, latMs, buildMs, err.isEmpty, err,
        rows, tag, None)
    }
  }

  /** Run a request; `build` receives the plan-construction time of the
    * requests whose DataFrame is built here (listObjects builds and
    * collects in one call). */
  private def execute(req: Request, build: Double => Unit): Any = req match {
    case ListRequest(onConnector, bucket, p) =>
      Listing.listObjects(if (onConnector) connector else objects, bucket, p)
    case FetchRequest(bucket, key) =>
      val (df, b) = Main.timedMs(objects
        .filter(col("bucket") === bucket && col("object") === key)
        .select("bucket", "object", "size", "checksum").limit(1))
      build(b)
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3))).toSeq
    case RangeRequest(inode, start, end) =>
      val (df, b) = Main.timedMs(
        BlobOps.rangeRead(chunks.filter(col("inode") === inode), start, end))
      build(b)
      df.collect().map(r => (r.getLong(1), r.getString(2))).toSeq
  }

  /** "" when `answer` is what the reference gives, else what differs. */
  private def check(req: Request, answer: Any): String = (req, answer) match {
    case (ListRequest(_, bucket, p), got: ListResult) =>
      val want = ref.list(bucket, p)
      if (got.keys == want.keys && got.prefixes == want.prefixes &&
          got.truncated == want.truncated && got.nextMarker == want.nextMarker) ""
      else s"list $bucket $p: got ${got.keys.size} keys/${got.prefixes.size} " +
        s"prefixes/${got.nextMarker}, want ${want.keys.size}/${want.prefixes.size}/" +
        s"${want.nextMarker}"
    case (FetchRequest(bucket, key), got: Seq[_]) =>
      val o = ref.obj(bucket, key)
      if (got == Seq((bucket, key, o.size, o.checksum))) ""
      else s"fetch $bucket/$key: got $got"
    case (RangeRequest(inode, start, end), got: Seq[_]) =>
      val text = got.asInstanceOf[Seq[(Long, String)]].sortBy(_._1).map(_._2).mkString
      if (text == ref.text(inode).substring(start.toInt, end.toInt)) ""
      else s"range $inode [$start,$end): got ${text.length} chars"
    case _ => s"unexpected answer type for $req"
  }

  private def rowsOf(answer: Any): Long = answer match {
    case r: ListResult => (r.keys.size + r.prefixes.size).toLong
    case s: Seq[_] => s.size.toLong
    case _ => 0L
  }
}

object MetaRequests {
  val WarmupRequests = 40
  val BlockSize = 20
  val Lists = 12
  val MaxKeys: IndexedSeq[Int] = IndexedSeq(1, 10, 100, 1000)
  /** Share of list requests that continue the previous truncated page. */
  val FollowShare = 0.3

  final case class ListShape(onConnector: Boolean, delimited: Boolean,
      maxKeys: Int, depth: Int)

  sealed trait Request { def kind: String }
  final case class ListRequest(onConnector: Boolean, bucket: String,
      params: ListParams) extends Request {
    def kind: String = if (onConnector) "list:connector" else "list:objects"
  }
  final case class FetchRequest(bucket: String, key: String) extends Request {
    def kind = "fetch"
  }
  final case class RangeRequest(inode: Long, start: Long, end: Long)
      extends Request { def kind = "range" }
}
