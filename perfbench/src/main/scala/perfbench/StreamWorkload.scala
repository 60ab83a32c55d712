package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.RefOrders
import graft.sources.Tables
import graft.streaming.OrderStream

/** The reference order pipeline as a stream: `RefOrders.rawOrders`
  * serialized to JSON once in set-up, fed through a `MemoryStream` in
  * fixed-size micro-batches (cycling over the input in seed-permuted
  * order), processed by `OrderStream.observed(OrderStream.process(..))`
  * and routed by `OrderStream.routeToSinks` into a branch writer that
  * writes each branch with the `noop` format. One operation is one
  * trigger: `addData` until `processAllAvailable` returns.
  */
final class StreamWorkload(spark: SparkSession, cfg: Config, tracer: Option[Tracer]) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val batch = cfg.int("batch")
  private val cores = spark.sparkContext.defaultParallelism

  /** Set-up: the raw order records as JSON lines, in a canonical order. */
  private def inputOnce(): (Double, Array[String]) = {
    val t0 = System.nanoTime()
    Tables.clearMemos()
    val raw = RefOrders.rawOrders(spark, cfg("stream_data"))
    val json = raw.select(to_json(struct(raw.columns.map(col): _*))).as[String].collect()
    java.util.Arrays.sort(json.asInstanceOf[Array[Object]])
    ((System.nanoTime() - t0) / 1e9, json)
  }

  private def readPerm(path: String): Array[Int] = {
    val buf = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(buf.remaining() / 4)(buf.getInt())
  }

  /** Sink counters of one streaming query. */
  private final class Sinks {
    val rows = scala.collection.mutable.Map("enriched" -> 0L, "invalid" -> 0L)
    val ms = scala.collection.mutable.Map("enriched" -> Vector.empty[Double], "invalid" -> Vector.empty[Double])
  }

  private def timedWriter(s: Sinks)(branch: DataFrame, which: String): Unit = {
    val obs = Observation(s"sink_$which")
    val t0 = System.nanoTime()
    branch.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    val n = obs.get("n").asInstanceOf[Long]
    s.synchronized {
      s.ms(which) = s.ms(which) :+ (System.nanoTime() - t0) / 1e6
      s.rows(which) += n
    }
  }

  private def start(ms: MemoryStream[String], name: String)(writer: (DataFrame, String) => Unit): StreamingQuery =
    OrderStream.routeToSinks(OrderStream.observed(OrderStream.process(ms.toDF())),
      s"${cfg.work}/stream-checkpoints/$name")(writer).start()

  private def observedTotals(q: StreamingQuery): Map[String, Long] = {
    val rows = q.recentProgress.toSeq.flatMap(p => Option(p.observedMetrics.get("order_metrics")))
    Seq("messages_processed", "messages_valid", "messages_invalid")
      .map(k => k -> rows.map(_.getAs[Long](k)).sum).toMap
  }

  def run(): Map[String, Any] = {
    val setups = (1 to cfg.setupReps).map(_ => inputOnce())
    val input = setups.last._2
    Files.write(Paths.get(s"${cfg.work}/stream_input.jsonl"), input.toSeq.asJava)
    val perm = readPerm(cfg("perm"))
    require(perm.length == input.length, s"permutation of ${perm.length} for ${input.length} records")
    val n = input.length
    def slice(from: Long, len: Int): Seq[String] =
      (0 until len).map(i => input(perm(((from + i) % n).toInt)))
    val heap = scala.collection.mutable.ArrayBuffer(Main.liveHeapMb())

    val sinks = new Sinks
    val ms = MemoryStream[String]
    var q: StreamingQuery = null
    var delivered = 0L
    // one trigger: add the next batch and wait until both sinks have it
    def trigger(opId: String, traced: Boolean): Map[String, Any] = {
      tracer.filter(_ => traced).foreach(_.attach())
      val data = slice(delivered, batch)
      val startMs = Main.nowMs()
      val t0 = System.nanoTime()
      val out = Main.withDeadline(spark, Seq(opId), cfg.deadlineMs) {
        if (q == null) q = start(ms, "timed")(timedWriter(sinks))
        ms.addData(data)
        q.processAllAvailable()
      }
      val durNs = System.nanoTime() - t0
      if (out.ok) delivered += batch
      else if (q != null) q.stop()
      tracer.filter(_ => traced).foreach { t =>
        t.detach()
        t.span(opId, "", "trigger", startMs, Main.nowMs(), durNs)
      }
      Map("op" -> opId, "ok" -> out.ok, "failure" -> out.failure,
        "ms" -> durNs / 1e6, "traced" -> traced, "start_ms" -> startMs, "end_ms" -> Main.nowMs())
    }

    // cold: query start plus its first trigger
    val cold = trigger("trigger-0", tracer.isDefined)
    // a failed or timed-out trigger leaves the query in an unknown state:
    // stop triggering, report the failure
    var failed = !cold("ok").asInstanceOf[Boolean]
    // untimed warm-up triggers: the first few still compile code
    val warmup = (1 to cfg.int("warmup")).iterator.takeWhile(_ => !failed).map { i =>
      val r = trigger(s"trigger-$i", traced = false)
      failed = !r("ok").asInstanceOf[Boolean]
      r
    }.toVector
    val warm = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    while (!failed && elapsed < cfg.seconds) {
      val i = warm.size
      val r = trigger(s"trigger-${warmup.size + i + 1}", tracer.isDefined && i % 2 == 0)
      warm += r
      failed = !r("ok").asInstanceOf[Boolean]
    }
    val warmS = elapsed
    val runId = if (q == null) "" else q.runId.toString
    if (q != null) q.stop()
    heap += Main.liveHeapMb()

    val progress = if (q == null) Seq.empty else q.recentProgress.toSeq.map { p =>
      Map[String, Any]("batch_id" -> p.batchId, "rows_in" -> p.numInputRows) ++
        p.durationMs.asScala.map { case (k, v) => s"d_$k" -> v.longValue() }
    }
    val totals = if (q == null) Map.empty[String, Long] else observedTotals(q)
    // per-trigger layer records: micro-batch b is trigger-b
    val traced = tracer.map { t =>
      (cold +: warm.toSeq).filter(_("traced") == true).map { r =>
        val b = r("op").toString.stripPrefix("trigger-")
        val plans = t.plansIn(r("start_ms").asInstanceOf[Long], r("end_ms").asInstanceOf[Long])
        Map[String, Any]("op" -> r("op"), "batch_id" -> b.toLong) ++
          Tracer.layerRecord(t.countersFor(s"$runId#$b"), plans) ++ Map("cores" -> cores)
      }
    }.getOrElse(Seq.empty)

    // output check, untimed: one trigger of the first `check` permuted
    // records through a fresh query whose branch writer keeps the messages
    val check = cfg.int("check")
    val cms = MemoryStream[String]
    val cq = start(cms, "check") { (branch, which) =>
      branch.write.mode("append").parquet(s"${cfg.work}/stream_check/$which")
    }
    cms.addData(slice(0, check))
    cq.processAllAvailable()
    cq.stop()

    Map("kind" -> "stream", "batch" -> batch, "records" -> n,
      "setup_s" -> setups.map(_._1), "cold" -> cold, "warmup" -> warmup, "warm" -> warm.toSeq,
      "warm_s" -> warmS,
      "delivered" -> delivered, "sink_rows" -> sinks.rows.toMap,
      "sink_ms" -> sinks.ms.toMap, "observed" -> totals, "progress" -> progress,
      "layers" -> traced, "check_records" -> check,
      "check_observed" -> observedTotals(cq), "live_heap_mb" -> heap.toSeq, "cores" -> cores,
      "raw_sql" -> RefOrders.rawOrdersSql, "processed_sql" -> RefOrders.processedSql)
  }
}
