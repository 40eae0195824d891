package perfbench

import org.apache.spark.sql.SparkSession

import graft.operators.Listing.{ListParams, ListResult}

/** Plain-Scala answers for the meta_requests checks, from the key set
  * and texts collected once: S3 ListObjects as pithos defines it
  * (meta.clj:230-251), a point fetch by key, and a byte range of an
  * object's content. */
final class MetaReference(objects: Seq[MetaReference.Obj],
    texts: Map[Long, String], seed: Long) {
  import MetaReference._

  private val byKey = objects.map(o => (o.bucket, o.key) -> o).toMap
  private val sortedKeys: Map[String, IndexedSeq[String]] =
    objects.groupBy(_.bucket).map { case (b, os) => b -> os.map(_.key).sorted.toIndexedSeq }
  val buckets: IndexedSeq[String] = sortedKeys.keys.toIndexedSeq.sorted
  def size: Int = objects.size

  /** Bucket popularity is Zipf(1.1) over the buckets in a seeded order,
    * so a few buckets take most requests. */
  private lazy val cumulative: IndexedSeq[Double] = {
    val w = buckets.indices.map(r => 1.0 / math.pow(r + 1.0, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private lazy val hotOrder: IndexedSeq[String] =
    new scala.util.Random(seed).shuffle(buckets)

  def drawBucket(rnd: java.util.Random): String = {
    val u = rnd.nextDouble()
    hotOrder(cumulative.indexWhere(_ >= u).max(0))
  }

  def keys(bucket: String): IndexedSeq[String] = sortedKeys(bucket)
  def obj(bucket: String, key: String): Obj = byKey((bucket, key))
  def text(inode: Long): String = texts(inode)

  /** One ListObjects page: keys in `[prefix, ...)` after the marker
    * (past the whole group when the marker is a common prefix), keys
    * with the delimiter after the prefix rolled up into their common
    * prefix, `maxKeys` entries in key order, the last one the next
    * marker when more remain. */
  def list(bucket: String, p: ListParams): ListResult = {
    val pre = p.prefix.getOrElse("")
    val delim = p.delimiter.filter(_.nonEmpty)
    val marker = p.marker.filter(_.nonEmpty)
    val groupMarker = marker.filter(m => delim.exists(m.endsWith))
    val entries = sortedKeys.getOrElse(bucket, IndexedSeq.empty).iterator
      .filter(_.startsWith(pre))
      .filter(k => marker.forall(k > _) && groupMarker.forall(!k.startsWith(_)))
      .map { k =>
        val rest = k.substring(pre.length)
        delim.map(d => rest.indexOf(d)).filter(_ >= 0) match {
          case Some(i) => Prefix(pre + rest.substring(0, i + delim.get.length))
          case None => Key(k)
        }
      }.toSeq.distinct.sortBy(_.entry)
    val kept = entries.take(p.maxKeys)
    val truncated = entries.size > p.maxKeys
    ListResult(
      kept.collect { case Key(k) => k },
      kept.collect { case Prefix(x) => x }.toSet,
      truncated,
      if (truncated && kept.nonEmpty) Some(kept.last.entry) else None)
  }
}

object MetaReference {
  final case class Obj(bucket: String, key: String, inode: Long, size: Long,
      checksum: String)

  private sealed trait Entry { def entry: String }
  private final case class Key(entry: String) extends Entry
  private final case class Prefix(entry: String) extends Entry

  /** Collect the key set (the objects view) and the document texts. */
  def collect(spark: SparkSession, input: String, seed: Long): MetaReference = {
    val objs = graft.Tables.objects(spark, input)
      .select("bucket", "object", "inode", "size", "checksum").collect()
      .map(r => Obj(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    val texts = graft.Tables.documents(spark, input).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    new MetaReference(objs, texts, seed)
  }
}
