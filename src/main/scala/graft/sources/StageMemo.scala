package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry of cross-query stage artifacts: cluster tables,
  * candidate pairs, centroids, codebooks, dictionaries, persisted
  * indexes, classifier weights and power-iteration fits. Every operator
  * family builds its artifacts through [[stage]] or [[value]] and drops
  * them through [[clear]]; none keeps a memo of its own.
  *
  * Keys: `owner` + [[Tables.dataKey]] (session + dir + file-listing
  * fingerprint + `kind`). The owner namespace keeps two families that
  * happen to pick the same `kind` for one dir from serving each other's
  * frames, and scopes [[clear]] to one family.
  *
  * Bounded: one access-order LRU of [[Capacity]] entries across all
  * owners. A long-lived session that regenerates a dir mints a fresh key
  * per generation; eviction drops the eldest-by-access entry, whose
  * checkpoint files Spark's ContextCleaner reclaims once the frame is
  * unreachable.
  *
  * Concurrency: one reentrant lock around lookup + build. A concurrent
  * builder of a DIFFERENT key waits — acceptable because the driver
  * contract runs queries sequentially and a stage build is seconds; the
  * lock guarantees one key never builds twice. Builds nest (a cluster
  * table builds its pair table, a weight fit its feature table) on the
  * same thread, which the reentrant monitor allows. Tables' scan-frame
  * catalog is a separate memo so its lookups never wait behind a build.
  *
  * == The two-tier checkpoint discipline (the ONE home for the rule) ==
  *
  * This library truncates lineage at two different strengths, and the
  * choice is a contract, not a style:
  *
  *  - '''Tier 1 — transient `localCheckpoint(false)`''' is acceptable
  *    ONLY for an intermediate consumed entirely WITHIN one query's
  *    plan (iterative-loop lineage hygiene like the k-means/CC rounds,
  *    or a table feeding both sides of one self-join). Its blocks live
  *    in executor MEMORY_AND_DISK storage: they compete with execution
  *    memory and die with an executor — an exposure window that is fine
  *    for the seconds one query runs, and wrong for anything longer.
  *  - '''Tier 2 — [[reliableStage]] (or an explicit parquet store)''' is
  *    MANDATORY for any CROSS-QUERY shared artifact. A registered stage
  *    is by definition read by several later queries; it must be immune
  *    to block eviction and executor loss, so it goes through a reliable
  *    checkpoint file (or a parquet write) and every later read is a
  *    file scan.
  *
  * [[stage]] applies tier 2 by construction. [[value]] is for driver
  * values; a `value` whose type carries a DataFrame (the parquet-store
  * index pairs) must read back a parquet store, which StageMemoSpec
  * checks over main source.
  */
object StageMemo {

  /** Entries across all owners: the summed capacity of the per-family
    * memos this registry replaced, so no run evicts more than before.
    */
  private[graft] val Capacity = 128

  private val memo = new StageMemo[Any](Capacity)

  private def prefix(owner: String): String = owner + "|"

  /** A cross-query DataFrame artifact: built once per key, stored as a
    * [[reliableStage]] checkpoint.
    */
  def stage(owner: String, spark: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    value[DataFrame](owner, spark, dir, kind)(reliableStage(build))

  /** A cross-query driver value (weights, fits), built once per key.
    * Within one owner a `kind` names one value type.
    */
  def value[V](owner: String, spark: SparkSession, dir: String, kind: String)(
      build: => V): V =
    memo.getOrCompute(prefix(owner) + Tables.dataKey(spark, dir, kind))(build)
      .asInstanceOf[V]

  /** Drop every artifact of `owner`; their checkpoint files become
    * collectable.
    */
  def clear(owner: String): Unit = memo.removeKeys(_.startsWith(prefix(owner)))

  /** Drop every owner's artifacts, so the next lookup of any key builds
    * again: the start of a cold measurement.
    */
  def clearAll(): Unit = memo.clear()

  private[graft] def size(owner: String): Int =
    memo.countKeys(_.startsWith(prefix(owner)))

  /** Materialize a shared stage table through a RELIABLE checkpoint (a
    * file in the SparkContext's checkpoint dir), not `localCheckpoint`.
    *
    * Why: localCheckpoint blocks live in the block manager's
    * MEMORY_AND_DISK pool and COMPETE with execution memory — the 100×
    * scale probe measured memo-riding queries swinging 25 ↔ 68 s
    * run-to-run as the memoized cluster table's blocks were evicted and
    * recomputed under shuffle pressure. A memoized stage is by definition
    * read by several later queries; the at-scale posture is the same one
    * a cluster job uses for a shared intermediate: write it out once,
    * re-read it from storage, immune to executor memory pressure and (on
    * a real cluster) to executor loss. StageMemoSpec pins survival: the
    * memoized frame still evaluates after every cached/persisted block
    * is forcibly dropped.
    *
    * The checkpoint dir defaults to a per-session tmp path on first use;
    * a cluster deployment calls `sparkContext.setCheckpointDir` with a
    * durable location (HDFS/object store) before the first stage builds.
    */
  private[graft] def reliableStage(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(
        s"${System.getProperty("java.io.tmpdir")}/graft-ckpt/${sc.applicationId}")
    df.checkpoint() // eager + reliable: one write, every later read is a file scan
  }
}

/** Size-bounded access-order (LRU) memo: past `maxEntries` the
  * eldest-by-access entry is dropped. One lock around lookup + build.
  */
final class StageMemo[V](maxEntries: Int = 16) {
  private val map = new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
      this.size() > maxEntries
  }

  def getOrCompute(key: String)(build: => V): V = map.synchronized {
    val cur = map.get(key)
    if (cur != null) cur
    else {
      val v = build
      map.put(key, v)
      v
    }
  }

  def size: Int = map.synchronized(map.size())

  def contains(key: String): Boolean = map.synchronized(map.containsKey(key))

  def clear(): Unit = map.synchronized(map.clear())

  def removeKeys(p: String => Boolean): Unit =
    map.synchronized(map.keySet().removeIf(k => p(k))): Unit

  def countKeys(p: String => Boolean): Int = map.synchronized(map.keySet().asScala.count(p))
}
