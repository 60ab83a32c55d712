package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the driver's local[32] single-JVM harness but configured the
  * way a 1000-executor cluster job would be: AQE on (runtime re-plan,
  * skew-join splitting, partition coalescing), UTC session time zone
  * (oracle parity), and shuffle partitions sized to the actual
  * parallelism instead of the 200 default.
  */
object Engine {
  val ShufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** AQE's coalesce starting width: 16× the base parallelism. The
    * big-cluster posture is "start wide, let AQE coalesce down by bytes":
    * a corpus 30× the reference size then simply FILLS more of the
    * initial partitions instead of needing a manual
    * `spark.sql.shuffle.partitions` bump (the override the scale probe
    * used to carry past x30 — a SHUFFLE_HASH build map at fixed width
    * grows linearly with the corpus and OOMs; at initial width ∝ high
    * constant, per-partition state stays bounded through the probed
    * range and a real deployment ties this knob to data volume).
    * Byte-based coalescing still folds tiny-but-compute-bound shuffles
    * to few tasks, so those paths keep their explicitly NUMBERED
    * repartitions, which AQE does not coalesce (the q_er_recall lesson).
    */
  val InitialPartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
      (ShufflePartitions * 16).toString).toInt

  def session(appName: String = "graft", master: String = s"local[$ShufflePartitions]"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // StageMemo.reliableStage writes RELIABLE checkpoints (files under
      // the checkpoint dir). Let the ContextCleaner delete the backing
      // files once LRU eviction / clearMemos drops the last reference —
      // otherwise a long-lived session that regenerates corpora
      // accumulates unbounded data under /tmp/graft-ckpt/<appId>. Core
      // conf, read ONCE at SparkContext construction: it must be set on
      // the builder (tune() would be too late).
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    tune(spark)
    spark
  }

  /** Apply engine runtime confs to an externally-created session (the
    * driver's Verify/Bench sessions call this so queries see the same
    * plan-shaping settings everywhere).
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // scale-adaptive shuffle width: start at InitialPartitions and let
    // AQE coalesce down (parallelismFirst keeps small-partition merging
    // bounded at minPartitionSize, preserving parallelism). shuffle
    // .partitions stays at the base width for the non-AQE paths
    // (streaming state stores key their layout off it).
    c.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      InitialPartitions.toString)
    // without this, CACHED plans keep AQE but skip the coalesce step
    // (their output partitioning is frozen) — the iterative CC loop
    // caches every round, and at a wide initial width each round would
    // run hundreds of near-empty tasks per shuffle
    c.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    // events.parquet carries TIMESTAMP(NANOS) which Spark cannot represent;
    // read the raw int64 and convert explicitly in Tables.events.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Surface parquet isAdjustedToUTC=false TIMESTAMP(MICROS) as
    // TimestampType directly AT THE SCAN instead of TIMESTAMP_NTZ (under
    // the pinned UTC session zone the instant is identical). With NTZ
    // inference on, Tables.ntzToUtc's post-scan cast kept the values right
    // but COST PUSHDOWN: UnwrapCastInBinaryComparison does not unwrap
    // NTZ→LTZ casts (timezone-dependent), so timestamp-literal predicates
    // stopped reaching the parquet row-group pruner. Scan-native
    // TimestampType keeps them pushable; ntzToUtc stays as a no-op safety
    // net for any future physical annotation drift.
    c.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // streaming checkpoint commits on local disk through java.nio rather
    // than Hadoop FileContext (tens of ms per file → under 1 ms); other
    // schemes keep Spark's default manager
    c.set(graft.streaming.LocalCheckpointFileManager.ClassKey,
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
    spark
  }
}
