package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.model.OrderModel
import graft.operators.OrderPipeline

/** Streaming wiring for the order pipeline — the Spark re-expression of the
  * reference's consumer/producer loop (ref: src/app/order_validator.py:
  * 303-408).
  *
  * Topology parity (SURVEY §3.2):
  *  - S2 Kafka scan → [[fromKafka]] (`readStream.format("kafka")`,
  *    startingOffsets=earliest like the reference's auto_offset_reset).
  *  - manual commit-after-process (G1 at-least-once) → the checkpoint
  *    location: offsets are committed per micro-batch only after the batch's
  *    sinks succeed. Same guarantee, per-batch instead of per-record.
  *  - R1 two-topic routing → [[routeToSinks]]: ONE foreachBatch that
  *    persists the processed batch and writes both branches — the batch is
  *    read once, exactly like the reference's single consumer loop (two
  *    independent writeStreams would double-read the source).
  *  - K1 key + E1 envelope applied on the way out.
  *  - S3 JDBC sink → [[jdbcUpsertBatch]]: idempotent ON CONFLICT upsert
  *    (deliberate improvement over the reference's insert-mode sink, which
  *    fails on at-least-once redelivery; SURVEY §7.3), plus the reference
  *    sink's `delete.enabled=true` tombstone semantics: all-null payload →
  *    DELETE by PK, in both the row-wise and staging-MERGE paths.
  *
  * Scale: the pipeline itself is a narrow map (no shuffle); parallelism =
  * Kafka partition count, exactly the reference's scale-out story but
  * without its 1-consumer / sync-per-record ceiling.
  */
object OrderStream {

  /** Env-var surface mirroring the reference's configuration (ref:
    * src/app/order_validator.py:31-35).
    */
  case class Config(
      bootstrapServers: String = sys.env.getOrElse("KAFKA_BOOTSTRAP_SERVERS", "kafka:29092"),
      ordersTopic: String = sys.env.getOrElse("ORDERS_TOPIC", "orders"),
      invalidTopic: String = sys.env.getOrElse("INVALID_ORDERS_TOPIC", "invalid_orders"),
      enrichedTopic: String = sys.env.getOrElse("ENRICHED_ORDERS_TOPIC", "enriched_orders"),
      checkpointDir: String = sys.env.getOrElse("GRAFT_CHECKPOINT_DIR", "/tmp/graft-checkpoints"),
      maxOffsetsPerTrigger: Long = 10000L)

  /** S2 — Kafka source: raw records with `value` bytes. */
  def fromKafka(spark: SparkSession, cfg: Config): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("subscribe", cfg.ordersTopic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", cfg.maxOffsetsPerTrigger)
      .load()

  /** D1→V→E→T — parse + validate + enrich, streaming-safe (pure column
    * transforms; no state).
    */
  def process(raw: DataFrame): DataFrame =
    OrderPipeline.processOrders(OrderPipeline.parseOrders(raw))

  /** Serialize a routed branch to Kafka message shape: key + envelope value. */
  def toMessages(df: DataFrame): DataFrame =
    df.select(OrderPipeline.kafkaKey.as("key"), OrderPipeline.connectEnvelope.as("value"))

  /** R1+S4+G1 — single-pass dual-sink routing. `writeBranch` abstracts the
    * physical sink (Kafka in production, anything in tests) so the routing
    * logic itself is testable without a broker.
    *
    * Each micro-batch is persisted, split into its two branches and
    * written, then unpersisted. `writeBranch` may run concurrently for the
    * two branches: "enriched" on the stream thread, "invalid" on a helper
    * thread, so one branch's query planning and job scheduling overlaps
    * the other's. The second job's tasks wait on the cached block's lock,
    * so the batch is still computed once. Both writes finish before the
    * batch is unpersisted and its offsets are committed; if either throws,
    * the query fails with that exception.
    *
    * The branches are built on the `foreachBatch` batch, a `LogicalRDD`
    * over the already-planned micro-batch: nothing can be pushed into it,
    * so each branch is one plain `where` plus one `select`, without the
    * pushdown barrier that [[OrderPipeline.route]] needs in batch plans.
    */
  def routeToSinks(processed: DataFrame, checkpoint: String)(
      writeBranch: (DataFrame, String) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    processed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try inParallel(
          writeBranch(toMessages(batch.where(col("is_valid"))), "enriched"),
          writeBranch(toMessages(batch.where(!col("is_valid"))), "invalid"))
        finally { batch.unpersist(); () }
      }

  /** Run `a` on this thread and `b` on a new helper thread; return once
    * both have finished, rethrowing the first failure (`a`'s before
    * `b`'s). The helper is created here, so it inherits this thread's
    * Spark local properties (job group, job tags, description, SQL
    * execution id) and active session: a streaming query's `stop()`
    * cancels the helper's jobs along with the stream thread's. If this
    * thread is interrupted while it waits, the helper is interrupted too
    * and still awaited.
    */
  private def inParallel(a: => Unit, b: => Unit): Unit = {
    @volatile var failedB: Throwable = null
    val helper = new Thread(() => try b catch { case t: Throwable => failedB = t },
      s"${Thread.currentThread.getName}-branch")
    helper.setDaemon(true)
    helper.start()
    val failedA = try { a; null } catch { case t: Throwable => t }
    var interrupted: InterruptedException = null
    while (helper.isAlive)
      try helper.join()
      catch { case e: InterruptedException => interrupted = e; helper.interrupt() }
    val failure = Seq(failedA, failedB, interrupted).find(_ != null)
    failure.foreach { f =>
      Seq(failedB, interrupted).filter(t => t != null && (t ne f)).foreach(f.addSuppressed)
      throw f
    }
  }

  /** Kafka branch writer for [[routeToSinks]] (production path). */
  def kafkaBranchWriter(cfg: Config)(branch: DataFrame, which: String): Unit = {
    val topic = if (which == "enriched") cfg.enrichedTopic else cfg.invalidTopic
    branch.write
      .format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("kafka.acks", "all")
      .option("topic", topic)
      .save()
  }

  /** Start the full production pipeline: Kafka → process → two topics. */
  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    routeToSinks(process(fromKafka(spark, cfg)), s"${cfg.checkpointDir}/orders")(
      kafkaBranchWriter(cfg))
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .start()

  /** M1 — the reference's running valid/invalid counters (ref:
    * src/app/order_validator.py:332-335,363-372), done the Spark way:
    * `observe` attaches metric expressions to the streaming plan; every
    * micro-batch's QueryProgress reports them (observedMetrics) with zero
    * extra passes over the data.
    */
  def observed(processed: DataFrame): DataFrame =
    processed.observe("order_metrics",
      count(lit(1)).as("messages_processed"),
      count(when(col("is_valid"), 1)).as("messages_valid"),
      count(when(!col("is_valid"), 1)).as("messages_invalid"))

  /** S3 — idempotent JDBC upsert of one (micro-)batch into Postgres.
    * INSERT … ON CONFLICT (pk) DO UPDATE makes at-least-once redelivery
    * harmless (the reference's insert-mode sink would violate the PK).
    * Executed per partition — executors write in parallel, the driver
    * never materializes the batch.
    *
    * Tombstones (the reference sink runs `delete.enabled=true`, ref:
    * docs/kafka-connector-configurations.md:65-88): a row whose payload
    * columns are ALL null is a null-payload record → `DELETE … WHERE pk`.
    * Rows are applied in partition order (the opposing statement's batch
    * is flushed on every upsert↔delete switch), preserving the
    * per-partition ordering guarantee (G2) across mixed batches; deleting
    * an absent key affects 0 rows, so redelivered tombstones are no-ops.
    */
  def jdbcUpsertBatch(batch: DataFrame, url: String, table: String,
      props: java.util.Properties, pk: String = "order_id",
      sqlBuilder: (String, Seq[String], String) => String = upsertSql): Unit = {
    val cols = batch.schema.fieldNames.toSeq
    val sql = sqlBuilder(table, cols, pk)
    val delSql = deleteSql(table, pk)
    val pkIdx = cols.indexOf(pk)
    val payloadIdx = cols.indices.filterNot(_ == pkIdx)
    batch.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        val up = conn.prepareStatement(sql)
        val del = conn.prepareStatement(delSql)
        var mode = 0 // 0 = none pending, 1 = upserts pending, 2 = deletes pending
        var n = 0
        rows.foreach { r =>
          val tombstone = payloadIdx.nonEmpty && payloadIdx.forall(r.isNullAt)
          if (tombstone) {
            if (mode == 1) up.executeBatch()
            del.setObject(1, r.get(pkIdx))
            del.addBatch()
            mode = 2
          } else {
            if (mode == 2) del.executeBatch()
            cols.indices.foreach(i => up.setObject(i + 1, r.get(i)))
            up.addBatch()
            mode = 1
          }
          n += 1
          if (n % 1000 == 0) { if (mode == 1) up.executeBatch() else del.executeBatch() }
        }
        if (mode == 1) up.executeBatch() else if (mode == 2) del.executeBatch()
        conn.commit()
      } finally conn.close()
    }
  }

  /** Tombstone branch of the sink: DELETE by primary key. */
  def deleteSql(table: String, pk: String): String =
    s"DELETE FROM $table WHERE $pk = ?"

  /** Postgres upsert statement (the reference's sink DB). */
  def upsertSql(table: String, cols: Seq[String], pk: String): String = {
    val updates = cols.filterNot(_ == pk).map(c => s"$c = EXCLUDED.$c").mkString(", ")
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT ($pk) DO UPDATE SET $updates"
  }

  /** ANSI MERGE from a staging table (source must be a base table in
    * Derby; also the standard Postgres-at-scale pattern: parallel bulk
    * load into staging, one set-based merge into the target).
    */
  def mergeFromStagingSql(table: String, staging: String, cols: Seq[String], pk: String): String = {
    // Spark's jdbc writer creates the staging table with QUOTED (exact-case)
    // identifiers; the target keeps its DDL's canonical case → quote only
    // the staging side.
    def v(c: String) = s"""v."$c""""
    val payload = cols.filterNot(_ == pk)
    val updates = payload.map(c => s"$c = ${v(c)}").mkString(", ")
    // all-null payload = tombstone → DELETE (matched) / skip (not matched)
    val tomb = payload.map(c => s"${v(c)} IS NULL").mkString("(", " AND ", ")")
    s"MERGE INTO $table t USING $staging v ON t.$pk = ${v(pk)} " +
      s"WHEN MATCHED AND $tomb THEN DELETE " +
      s"WHEN MATCHED THEN UPDATE SET $updates " +
      s"WHEN NOT MATCHED AND NOT $tomb THEN INSERT (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(v).mkString(", ")})"
  }

  /** S3 alternative path — portable staging-table upsert: executors bulk-
    * write the batch into `<table>_stage` in parallel (plain JDBC insert),
    * then one set-based MERGE folds it into the target. Scales with
    * executor count; the merge is a single server-side statement.
    *
    * A MERGE source must be unique per key (two rows for one PK raise a
    * cardinality violation — Derby SQLSTATE 21000, Postgres "cannot
    * affect row a second time"). When a micro-batch can carry several
    * records per key (e.g. upsert then tombstone of the same order), pass
    * `orderCols` and only the LAST record per key (descending
    * lexicographic over the columns) is merged — set-based equivalent of
    * the row-wise path's in-order application. For a topic keyed by the
    * PK (the reference's setup) the Kafka offset alone is a total order
    * per key; for unkeyed topics pass (partition, offset) — Kafka defines
    * no cross-partition order, but a unique column pair makes the pick
    * deterministic, so redelivery stays idempotent. Without `orderCols`
    * the caller must guarantee at most one record per key per batch.
    */
  def jdbcUpsertViaStaging(batch0: DataFrame, url: String, table: String,
      props: java.util.Properties, pk: String = "order_id",
      orderCols: Seq[String] = Nil): Unit = {
    val batch =
      if (orderCols.isEmpty) batch0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(pk)).orderBy(orderCols.map(col(_).desc): _*)
        batch0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn" +: orderCols: _*)
      }
    val staging = s"${table}_stage"
    val cols = batch.schema.fieldNames.toSeq
    // string columns as VARCHAR, not the dialect's LOB default — LOBs are
    // not comparable in the merge's ON clause (Derby) and index poorly
    val varcharOverrides = batch.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} VARCHAR(255)").mkString(", ")
    val writer = batch.write.mode("overwrite")
    (if (varcharOverrides.nonEmpty)
       writer.option("createTableColumnTypes", varcharOverrides)
     else writer).jdbc(url, staging, props)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try conn.createStatement().execute(mergeFromStagingSql(table, staging, cols, pk))
    finally conn.close()
  }
}
