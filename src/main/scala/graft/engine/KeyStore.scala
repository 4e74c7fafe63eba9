package graft.engine

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter
import scala.reflect.ClassTag

/** A co-partitioned membership store, one class for the B1 URL-seen store
  * (`url_lower -> url`) and the C5 signature store (`signature -> true`):
  * pairs hash-partitioned ONCE, deltas appended through a partitioner-aware
  * union, and probes that shuffle only the candidates to the matching
  * partitions — the store is never re-shuffled and never broadcast. Every k
  * epochs [[compact]] folds the chain flat. The partitioner is the
  * engine's: [[CrawlEngine.partitions]] ways (P), like every other engine
  * exchange, so a store exchange runs P reduce tasks; a restore
  * re-partitions a snapshot taken at another count.
  *
  * A probe reads a per-partition SORTED key array (a `long[]` for `Long`
  * keys: no boxing), built once per compaction and persisted, plus a hash
  * set of the delta appended since; a key in both answers identically, so
  * the snapshot may lag appends without a correctness window.
  *
  * While the crawl runs small epochs, a driver mirror of the table answers
  * membership with no job and is the table a snapshot commit writes; it
  * drops past [[CrawlEngine.mirrorCap]] rows, and with it the mirror of
  * `follower` (the signature store follows the seen store, which is never
  * smaller). The bloom group in front of the seen store lives here too; the
  * signature store never adds a generation.
  *
  * Not Serializable: task closures capture local vals only.
  */
private[engine] final class KeyStore[K: ClassTag, V: ClassTag](
    spark: SparkSession,
    partitioner: HashPartitioner,
    schema: StructType,
    toRow: ((K, V)) => Row,
    follower: Option[KeyStore[_, _]] = None) extends Sequential.Membership[K, V] {

  private def sc = spark.sparkContext
  private def empty: RDD[(K, V)] = sc.emptyRDD[(K, V)].partitionBy(partitioner)

  private var chain: RDD[(K, V)] = empty
  // the compacted (or restored) base the chain starts from, persisted
  private var base: Option[RDD[(K, V)]] = None
  /** Appends since the last compaction. */
  var appends = 0
  /** The store's row count, as its owner counts appends. */
  var count = 0L
  private var snapshot: RDD[AnyRef] = null
  private var delta: RDD[(K, V)] = empty
  // persisted sets behind lazy deltas, released at compaction
  private var owned = Vector.empty[() => Unit]
  private var mirror: java.util.HashMap[K, V] = new java.util.HashMap[K, V]()
  /** The bloom generations (fast-negative) in front of the store, each a
    * serialized filter sized to its epoch's delta, broadcast as a group —
    * never one giant filter (SURVEY §7 risk note).
    */
  var blooms = Vector.empty[Array[Byte]]

  def mirrored: Boolean = mirror != null
  def dropMirror(): Unit = { mirror = null; follower.foreach(_.dropMirror()) }

  /** Membership from the mirror while it lives, else one probe job over
    * the (at most threshold-many) keys.
    */
  def present(ks: Iterable[K]): K => Boolean = {
    val m = mirror
    if (m != null) m.containsKey
    else if (ks.isEmpty) _ => false
    else probe(sc.parallelize(ks.toSeq, 1).map(k => (k, ())), keepPresent = true).keys.collect().toSet
  }

  /** Adds driver-held rows: to the mirror and as a one-partition delta. */
  def add(entries: Seq[(K, V)]): Unit = {
    if (mirror != null) {
      entries.foreach(kv => mirror.put(kv._1, kv._2))
      if (mirror.size > CrawlEngine.mirrorCap) dropMirror()
    }
    count += entries.size
    if (entries.nonEmpty) append(sc.parallelize(entries, 1))
  }

  /** Appends a delta, co-partitioned; `release` frees the persisted set
    * behind it, at the next compaction.
    */
  def append(d: RDD[(K, V)], release: Option[() => Unit] = None): Unit = {
    val p = d.partitionBy(partitioner)
    chain = sc.union(chain, p)
    delta = sc.union(delta, p)
    appends += 1
    owned ++= release
  }

  /** Keyed candidates shuffled to the store's partitions (no shuffle when
    * a combine through the store's partitioner left them there), kept when
    * their key's presence equals `keepPresent`. The result keeps the
    * store's partitioning; payloads are whatever the caller shuffles.
    */
  def probe[P: ClassTag](cands: RDD[(K, P)], keepPresent: Boolean): RDD[(K, P)] = {
    if (snapshot == null) {
      val ct = implicitly[ClassTag[K]]
      snapshot = chain.mapPartitions(it => Iterator.single(KeyStore.sorted(it.map(_._1))(ct)),
        preservesPartitioning = true).persist(StorageLevel.MEMORY_AND_DISK)
    }
    cands.partitionBy(partitioner).zipPartitions(snapshot, delta, preservesPartitioning = true) {
      (cit, pit, dit) => KeyStore.filter(cit, pit, dit, keepPresent)
    }
  }

  /** State hygiene for long crawls: folds the delta chain flat
    * (localCheckpoint — distributed, partitioner preserved, no driver
    * funnel), drops the snapshot (the next probe rebuilds it from the
    * compacted store), releases the persisted deltas, and rebuilds the
    * bloom group only when it holds more than
    * [[CrawlEngine.bloomMaxGenerations]] generations.
    */
  def compact(): Unit = if (appends > 0) {
    val c = chain.persist(StorageLevel.MEMORY_AND_DISK)
    c.localCheckpoint()
    c.count()
    release(all = true)
    base = Some(c)
    chain = c
    appends = 0
    if (blooms.size > CrawlEngine.bloomMaxGenerations) rebuildBloom()
  }

  /** Releases the probe snapshot; with `all`, the base and the persisted
    * deltas too, which only a store no result table reads may do.
    */
  def release(all: Boolean): Unit = {
    if (all) {
      base.foreach(KeyStore.unpersist)
      base = None
      owned.foreach(_())
      owned = Vector.empty
    }
    if (snapshot != null) KeyStore.unpersist(snapshot)
    snapshot = null
    delta = empty
  }

  /** Restores the store from a snapshot table of `rows` rows: from the rows
    * the driver read (the mirror comes back with them), else lazily from
    * `table`.
    */
  def restore(rows: Long, local: Option[Seq[(K, V)]], table: => RDD[(K, V)]): Unit = {
    count = rows
    val kv = local match {
      case Some(kvs) =>
        mirror = new java.util.HashMap[K, V](kvs.size * 2)
        kvs.foreach(kv => mirror.put(kv._1, kv._2))
        sc.parallelize(kvs)
      case None =>
        dropMirror()
        table
    }
    chain = kv.partitionBy(partitioner).persist(StorageLevel.MEMORY_AND_DISK)
    base = Some(chain)
  }

  /** The store as a table: the mirror as a driver-held table (a snapshot
    * commit writes it with no job) while it lives, else [[rows]].
    */
  def table: DataFrame = {
    import scala.jdk.CollectionConverters._
    val m = mirror
    if (m == null) rows
    else CrawlEngine.localFrame(spark, m.entrySet.asScala.map(e => toRow((e.getKey, e.getValue))), schema)
  }

  /** The chain as a table, read lazily. */
  def rows: DataFrame = {
    val f = toRow
    spark.createDataFrame(chain.map(f), schema)
  }

  /** Merges bloom shards (the partition or task filters of one build) into
    * one generation.
    */
  def addBloom(parts: Seq[Array[Byte]]): Unit = if (parts.nonEmpty) {
    val merged = KeyStore.readBloom(parts.head)
    parts.tail.foreach(b => merged.mergeInPlace(KeyStore.readBloom(b)))
    blooms :+= KeyStore.bloomBytes(merged)
  }

  /** A generation built on the driver, from lower(url) keys it holds. */
  def bloomFromLocal(lowerKeys: Iterable[String], expected: Long): Unit =
    if (lowerKeys.nonEmpty) blooms :+= KeyStore.bloomOf(lowerKeys.iterator, expected)

  /** The bloom group rebuilt as one generation from the store: from the
    * mirror while it lives, else with a distributed scan (each partition
    * builds its shard, the driver ORs them).
    */
  def rebuildBloom(): Unit = {
    import scala.jdk.CollectionConverters._
    blooms = Vector.empty
    val expected = count
    val m = mirror
    if (m != null) bloomFromLocal(m.keySet.asScala.map(_.toString), expected)
    else if (expected > 0)
      addBloom(chain.mapPartitions { it =>
        if (it.isEmpty) Iterator.empty else Iterator.single(KeyStore.bloomOf(it.map(_._1.toString), expected))
      }.collect().toSeq)
  }
}

private[engine] object KeyStore {

  /** One partition's keys as a sorted array: `long[]` for Long keys. */
  private def sorted[K](keys: Iterator[K])(implicit ct: ClassTag[K]): AnyRef = {
    val a = keys.toArray
    (a: Any) match {
      case l: Array[Long] => java.util.Arrays.sort(l)
      case o: Array[AnyRef] => java.util.Arrays.sort(o)
    }
    a
  }

  /** The probe kernel of one partition. */
  private def filter[K, P](cands: Iterator[(K, P)], snap: Iterator[AnyRef],
      delta: Iterator[(K, _)], keepPresent: Boolean): Iterator[(K, P)] = {
    val inSnapshot: Any => Boolean = (if (snap.hasNext) snap.next() else null) match {
      case l: Array[Long] => k => java.util.Arrays.binarySearch(l, k.asInstanceOf[Long]) >= 0
      case o: Array[AnyRef] => k => java.util.Arrays.binarySearch(o, k.asInstanceOf[AnyRef]) >= 0
      case _ => _ => false
    }
    var d: java.util.HashSet[Any] = null
    while (delta.hasNext) {
      if (d == null) d = new java.util.HashSet[Any]()
      d.add(delta.next()._1)
    }
    cands.filter { case (k, _) => (inSnapshot(k) || (d != null && d.contains(k))) == keepPresent }
  }

  private def unpersist(r: RDD[_]): Unit =
    try r.unpersist(false) catch { case _: Throwable => }

  def readBloom(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  def bloomBytes(b: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    bos.toByteArray
  }

  /** A 1%-FPP bloom over lower(url) keys, sized for `expected` (>= 1024). */
  def bloomOf(lowerKeys: Iterator[String], expected: Long): Array[Byte] = {
    val b = BloomFilter.create(math.max(1024L, expected), 0.01)
    lowerKeys.foreach(u => b.putBinary(u.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    bloomBytes(b)
  }
}
