package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: the one place a session is built.
  *
  * Configured the way a 1000-executor cluster job would be: AQE on
  * (runtime re-plan, skew-join splitting, partition coalescing), UTC
  * session time zone (oracle parity), and shuffle partitions sized to the
  * actual parallelism instead of the 200 default.
  */
object Engine {
  /** Local cores and base shuffle width: `SPARK_GRAFT_CPUS`, else every
    * core of the machine. */
  val ShufflePartitions: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with `cores` shuffle partitions. The
    * builder carries only those and the core confs read once at
    * SparkContext construction; every runtime conf comes from [[tune]].
    */
  def session(appName: String = "graft", cores: Int = ShufflePartitions): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      // StageMemo.reliableStage writes RELIABLE checkpoints (files under
      // the checkpoint dir). Let the ContextCleaner delete the backing
      // files once LRU eviction / clearMemos drops the last reference —
      // otherwise a long-lived session that regenerates corpora
      // accumulates unbounded data under /tmp/graft-ckpt/<appId>.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    tune(spark)
  }

  /** Apply engine runtime confs to a session, so queries see the same
    * plan-shaping settings everywhere.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // Scale-adaptive shuffle width: AQE's coalesce starts at 16× the base
    // parallelism. The big-cluster posture is "start wide, let AQE
    // coalesce down by bytes": a corpus 30× the reference size then
    // simply FILLS more of the initial partitions instead of needing a
    // manual `spark.sql.shuffle.partitions` bump (a SHUFFLE_HASH build
    // map at fixed width grows linearly with the corpus and OOMs; at
    // initial width ∝ high constant, per-partition state stays bounded
    // through the probed range). parallelismFirst keeps small-partition
    // merging bounded at minPartitionSize. shuffle.partitions stays at
    // the base width for the paths AQE does not re-plan (a streaming
    // micro-batch runs with AQE off). Byte-based coalescing still folds
    // tiny-but-compute-bound shuffles to few tasks, so those paths keep
    // their explicitly NUMBERED repartitions, which AQE does not
    // coalesce (the q_er_recall lesson).
    c.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      (16 * spark.sparkContext.defaultParallelism).toString)
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
