package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver's TPC-H-ish parquet tables (see
  * /root/repo/TESTDATA.md). One function per table so every query goes
  * through a single scan definition — filters/projections placed on top of
  * these are pushed into the parquet reader by Catalyst (verify with
  * `.explain`: PushedFilters / ReadSchema).
  */
object Tables {
  private def p(dir: String, name: String) = s"$dir/$name.parquet"

  /** Every table of a data directory, stored as `<dir>/<name>.parquet`. */
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  /** Session+data-scoped memoization key for the [[StageMemo]] artifact
    * registry and the scan-frame memo below. Two requirements a
    * plain `identityHashCode(session)+dir` key misses:
    * (1) the driver regenerates the parquet tables between rounds — if a
    * session ever spans a regeneration of the SAME dir, a dir-keyed memo
    * silently serves stale clusters/centroids, so the key includes a
    * fingerprint of the dir's file listing (path+size+mtime of every file,
    * order-independent XOR so FS listing order can't flap the key);
    * (2) `identityHashCode` can collide across GC'd sessions — `sessionUUID`
    * is unique for the JVM's lifetime. Stale entries from a regenerated dir
    * are never hit again and age out of the memo's LRU bound.
    */
  def dataKey(spark: SparkSession, dir: String, variant: String = ""): String =
    sessionId(spark) + "|" + dir + "|" + fingerprint(spark, dir) +
      (if (variant.isEmpty) "" else "|" + variant)

  // Session identity that, unlike identityHashCode, is never reused after
  // a session is GC'd: each distinct live session gets the next counter
  // value (SparkSession doesn't override equals, so WeakHashMap keys by
  // identity; weak keys let stopped sessions unpin). sessionUUID would do
  // the same job but is private[sql].
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()
  private val sessionCounter = new java.util.concurrent.atomic.AtomicLong()
  private def sessionId(spark: SparkSession): String = sessionIds.synchronized {
    var id = sessionIds.get(spark)
    if (id == null) {
      id = "s" + sessionCounter.incrementAndGet()
      sessionIds.put(spark, id)
    }
    id
  }

  /** XOR of `path|length|mtime` over every file under `dir`, walked with
    * `listStatus`. Not `listFiles`: that builds a `LocatedFileStatus` per
    * file, whose constructor reads the permission and owner, and on
    * Hadoop's local FS each such read forks an `ls -ld` — 10 forks and
    * 37–59 ms per lookup for a 10-table dir on a 4-vCPU VM, paid on every
    * scan-frame and artifact lookup. `listStatus` reads only what the
    * entry needs (0.4–0.8 ms for the same dirs), and `ChecksumFileSystem`
    * hides `.crc` files from both calls alike, so the keys are unchanged.
    */
  private def fingerprint(spark: SparkSession, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return "absent"
    var h = 0L
    def walk(p: org.apache.hadoop.fs.Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else {
        val entry = st.getPath.toUri.getPath + "|" + st.getLen + "|" +
          st.getModificationTime
        h ^= scala.util.hashing.MurmurHash3.stringHash(entry).toLong * 0x9E3779B97F4A7C15L
      }
    }
    walk(path)
    java.lang.Long.toHexString(h)
  }

  /** The driver regenerates the parquet tables between rounds and the
    * timestamp physical annotation has varied (TIMESTAMP(MICROS) adjusted
    * to UTC, TIMESTAMP(NANOS), and most recently TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which Spark 4 surfaces as TIMESTAMP_NTZ).
    * Every operator in this library was written against TimestampType, so
    * normalize NTZ columns to TimestampType here, at the single scan
    * definition. All entry points pin `spark.sql.session.timeZone=UTC`, so
    * the NTZ→LTZ cast reinterprets the same wall-clock value as the same
    * UTC instant — epoch arithmetic (`unix_micros`, `cast(ts as bigint)`)
    * and DuckDB's naive-timestamp reading agree exactly. The cast is a
    * zero-cost metadata reinterpretation (both types are micros-since-epoch
    * longs) — but it is NOT pushdown-transparent: Catalyst's
    * UnwrapCastInBinaryComparison refuses NTZ→LTZ (timezone-dependent), so
    * a timestamp-literal filter above this cast would NOT reach the parquet
    * row-group pruner. Engine.tune therefore disables NTZ inference
    * (`spark.sql.parquet.inferTimestampNTZ.enabled=false`) so these columns
    * surface as TimestampType AT THE SCAN and this function is a no-op
    * safety net (it still fires if a session skipped Engine.tune).
    * Normalization recurses into struct/array/map types: a nested NTZ
    * field casts the containing column to the same shape with NTZ replaced
    * by TimestampType (struct-to-struct cast, per-field NTZ→LTZ — still a
    * metadata reinterpretation).
    */
  private[graft] def ntzToUtc(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      val repl = replaceNtz(f.dataType)
      if (repl == f.dataType) d else d.withColumn(f.name, d.col(f.name).cast(repl))
    }

  private def replaceNtz(dt: DataType): DataType = dt match {
    case TimestampNTZType => TimestampType
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = replaceNtz(f.dataType))))
    case a: ArrayType => a.copy(elementType = replaceNtz(a.elementType))
    case m: MapType =>
      m.copy(keyType = replaceNtz(m.keyType), valueType = replaceNtz(m.valueType))
    case other => other
  }

  /** Memoized ANALYZED scan frames, keyed on (session, dir, file
    * fingerprint, table). Why: `spark.read.parquet(path)` re-lists the
    * directory and re-reads the parquet footer (a 1-task schema-inference
    * job, ~50-80 ms) on EVERY call — and the bench/verify harness
    * constructs each query from scratch per timed run, so a suite of ~300
    * queries pays that footer job hundreds of times for the same
    * unchanged table. A real engine resolves a table through a catalog
    * whose schema is read once; this memo is that catalog. Only the
    * analyzed plan (path + schema) is reused — every action still scans
    * the parquet data, so nothing here caches results. The fingerprint in
    * the key (path+size+mtime of every file) makes a driver-side data
    * regeneration mint a fresh entry, never serving a stale schema. A hit
    * costs one [[dataKey]]: one fork-free listing of the dir, under 1 ms
    * for a 10-table local dir (see [[fingerprint]]).
    */
  private val frameMemo = new StageMemo[DataFrame](64)

  private def load(spark: SparkSession, dir: String, name: String)(
      mk: => DataFrame): DataFrame = {
    val reb = rebalanceOn(spark) && RebalancedTables(name)
    frameMemo.getOrCompute(dataKey(spark, dir, "tbl:" + name) +
      "|reb:" + reb + ":" + spark.sparkContext.defaultParallelism)(
      if (reb) balanced(spark, dir, name, mk) else mk)
  }

  private def rebalanceOn(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.scan.rebalance", "true").toBoolean

  /** Only the fact tables whose downstream per-row work dominates the
    * conditioner's extra exchange get rebalanced. Measured pairwise at
    * sf0.1 (run3 steady-state, seconds, on/off): lineitem-fed queries win
    * big (q1_agg 0.91/1.23, ref_envelope 0.86/1.75) and orders-fed ones
    * clearly (q_percentile 1.02/1.41), while documents is a wash (bpe
    * 1.59/1.38, ppbucket 1.33/1.59, kmv 1.40/1.34 — its ops explode into
    * a shuffle immediately anyway), and embeddings/events/dimension
    * tables lose outright (q_emb_ivfpq 2.27/1.51 — 2 k-row inputs where
    * the exchange is pure overhead, or broadcast dims whose build gains
    * a stage).
    */
  private val RebalancedTables = Set("lineitem", "orders")

  /** Below this many bytes a table is loaded as the bare scan: its
    * downstream work is too small to repay the rebalance's exchange and
    * extra map stage (on the 114 kB sf0.001 `lineitem` it only added a
    * stage and ~58 kB of shuffle to every query). The floor sits between
    * the largest sf0.001 table (`lineitem`, 114 kB) and the smallest
    * table rebalanced at sf0.01 (`orders`, 281 kB), so every sf0.01 and
    * sf0.1 scan keeps its rebalance decision.
    */
  private val RebalanceFloorBytes = 256L * 1024

  /** Small-scan rebalance (guide §2.5 "input skew: one huge unsplittable
    * file → repartition immediately after the read"): parquet scans split
    * at ROW-GROUP granularity, and Spark's split packing floors the split
    * size at `spark.sql.files.openCostInBytes` (4 MB) — so a table whose
    * total bytes are under `parallelism × 4 MB` can never fill the
    * machine from splits alone, and the driver's single-row-group
    * testdata files cap the scan at ONE task regardless of size. In that
    * sub-parallel regime (and only there) one deterministic round-robin
    * rebalance after the inherently-serial read spreads the downstream
    * per-row work (shingle explodes, validation pipelines, decimal
    * aggregation) across every core; the shuffle itself moves only the
    * few MB the condition just bounded. Tables under
    * [[RebalanceFloorBytes]] stay bare scans. At production scale the
    * condition is false and the scan plans exactly as before — the knob
    * (`spark.graft.scan.rebalance`) exists so plan-shape tests can pin
    * the operator plans without the input conditioner.
    */
  private def balanced(spark: SparkSession, dir: String, name: String,
      df: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val bytes =
      try {
        val path = new org.apache.hadoop.fs.Path(p(dir, name))
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
      } catch { case _: Throwable => 0L }
    if (par > 1 && bytes >= RebalanceFloorBytes && bytes < par.toLong * 4L * 1024 * 1024)
      // hash on a value DERIVED from the table's (first-column) key, not
      // round-robin and not the key itself: round-robin pays a local
      // binary sort of every row (sortBeforeRepartition, needed for
      // retry determinism), while partitioning on the bare key collides
      // with downstream joins on that key — EnsureRequirements rewrites
      // the user repartition to the join's partition count, whose
      // REPARTITION_BY_NUM origin AQE refuses to coalesce (measured:
      // 512-task join stages, +1.9 s on q_doc_ppbucket). xxhash64(key)
      // is deterministic per row, spreads unique-ish keys evenly, and is
      // never a join key, so the conditioner stays a fixed `par`-way
      // fan-out below whatever the plan needs above it.
      df.repartition(par, xxhash64(col(df.columns.head)))
    else df
  }

  /** Test lifecycle hook (the clearMemos contract). */
  def clearMemos(): Unit = frameMemo.clear()

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")(ntzToUtc(spark.read.parquet(p(dir, "region"))))
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")(ntzToUtc(spark.read.parquet(p(dir, "nation"))))
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")(ntzToUtc(spark.read.parquet(p(dir, "customer"))))
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")(ntzToUtc(spark.read.parquet(p(dir, "supplier"))))
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")(ntzToUtc(spark.read.parquet(p(dir, "part"))))
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")(ntzToUtc(spark.read.parquet(p(dir, "orders"))))
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")(ntzToUtc(spark.read.parquet(p(dir, "lineitem"))))
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")(ntzToUtc(spark.read.parquet(p(dir, "documents"))))
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")(ntzToUtc(spark.read.parquet(p(dir, "embeddings"))))

  /** events.parquet stores `ts` as parquet TIMESTAMP(NANOS), which Spark's
    * TimestampType (microseconds) cannot hold; with
    * `spark.sql.legacy.parquet.nanosAsLong=true` it surfaces as a raw
    * nanosecond long. Convert to a microsecond timestamp here (floor
    * division — matches DuckDB's ns→us truncation) so downstream operators
    * see a proper TimestampType column.
    */
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events") {
    val raw = spark.read.parquet(p(dir, "events"))
    raw.schema("ts").dataType.typeName match {
      // Integer FLOOR division: `/` on longs promotes to double and loses
      // precision at nanosecond magnitudes (~1.7e18 > 2^53), and a plain
      // `DIV` truncates toward zero — off by 1 µs for pre-epoch
      // timestamps. pmod-floor matches DuckDB's ns→µs conversion for any
      // sign.
      case "long" =>
        // ntzToUtc wraps this branch too: today ts is the only timestamp
        // column, but a regenerated events.parquet carrying an additional
        // NTZ column must not leak TIMESTAMP_NTZ past the one normalization
        // point
        ntzToUtc(raw.withColumn("ts",
          timestamp_micros(expr("(ts - ((ts % 1000) + 1000) % 1000) DIV 1000"))))
      case _      => ntzToUtc(raw)
    }
  }
}
