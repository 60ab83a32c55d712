package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.Tables

/** A closed loop of `SparkEntry.queries` over one table directory: a cold
  * pass after clearing every memo (its outputs are written as parquet for
  * the oracle check), then warm passes, each in a seed-permuted order,
  * until the measuring time is used up. One operation is one query:
  * construction (`SparkEntry.queries(name)(spark, dir)`) plus its action
  * into the `noop` sink, which computes every output column.
  */
final class QueryWorkload(spark: SparkSession, cfg: Config, tracer: Option[Tracer]) {
  private val dir = cfg("data")
  private val names = cfg("queries").split(',').toSeq
  private val cores = spark.sparkContext.defaultParallelism

  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "events" -> Tables.events _)

  private def clearAllMemos(): Unit = {
    Tables.clearMemos()
    graft.operators.Dedup.clearMemos()
    graft.operators.Similarity.clearMemos()
    graft.operators.TextAnalysis.clearMemos()
    graft.operators.Curation.clearMemos()
    graft.operators.Classifier.clearMemos()
    graft.operators.Unigram.clearMemos()
  }

  /** Set-up: resolve each table the mix reads through `Tables`, scan it once. */
  private def setupOnce(): Double = {
    val t0 = System.nanoTime()
    Tables.clearMemos()
    cfg("tables").split(',').foreach { t =>
      loaders(t)(spark, dir).write.format("noop").mode("overwrite").save()
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(cfg.seed * 1000003L + pass).shuffle(names)

  /** One query as one operation; `sink` runs the action. */
  private def runQuery(opId: String, name: String, traced: Boolean)(sink: DataFrame => Unit): Map[String, Any] = {
    tracer.filter(_ => traced).foreach(_.attach())
    val ckptBefore = if (traced) Main.filesUnder(s"${cfg.work}/checkpoints") else Map.empty[String, Long]
    var constructNs, actionNs = 0L
    val startMs = Main.nowMs()
    val t0 = System.nanoTime()
    // construction and action run under their own job groups, so jobs
    // that construction runs (eager memo builds, driver collects) count apart
    val constructGroup = s"$opId/construct"
    val out = Main.withDeadline(spark, Seq(constructGroup, opId), cfg.deadlineMs) {
      val a = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      val b = System.nanoTime()
      constructNs = b - a
      spark.sparkContext.setJobGroup(opId, opId, interruptOnCancel = true)
      sink(df)
      actionNs = System.nanoTime() - b
    }
    val totalNs = System.nanoTime() - t0
    val endMs = Main.nowMs()
    val base = Map[String, Any]("op" -> opId, "name" -> name, "ok" -> out.ok,
      "failure" -> out.failure, "ms" -> totalNs / 1e6, "traced" -> traced)
    tracer.filter(_ => traced) match {
      case Some(t) =>
        t.detach()
        val constructMs = constructNs / 1e6
        t.span(opId, "", s"query:$name", startMs, endMs, totalNs)
        t.span(s"$opId/construct", opId, "SparkEntry.queries", startMs, startMs + constructMs.toLong, constructNs)
        t.span(s"$opId/action", opId, "action", startMs + constructMs.toLong, endMs, actionNs)
        val after = Main.filesUnder(s"${cfg.work}/checkpoints")
        val fresh = after.filter { case (p, _) => !ckptBefore.contains(p) }
        val built = t.countersFor(constructGroup)
        base ++ Tracer.layerRecord(Counters.sum(built, t.countersFor(opId)), t.plansIn(startMs, endMs)) ++ Map(
          "construct_ms" -> constructMs, "action_ms" -> actionNs / 1e6,
          "construct_jobs" -> built.jobs,
          "checkpoint_bytes" -> fresh.values.sum, "checkpoint_files" -> fresh.size,
          "cores" -> cores)
      case None => base
    }
  }

  def run(): Map[String, Any] = {
    val setupS = (1 to cfg.setupReps).map(_ => setupOnce())
    val heap = scala.collection.mutable.ArrayBuffer(Main.liveHeapMb())

    // cold pass: every memo cleared; outputs kept for the oracle check
    clearAllMemos()
    val coldT0 = System.nanoTime()
    val cold = order(0).zipWithIndex.map { case (name, i) =>
      runQuery(s"cold-$i", name, traced = tracer.isDefined) { df =>
        df.write.mode("overwrite").parquet(s"${cfg.work}/results/$name")
      }
    }
    val coldS = (System.nanoTime() - coldT0) / 1e9
    heap += Main.liveHeapMb()

    // one untimed warm-up pass: a query's second run still compiles code
    val warmup = order(-1).zipWithIndex.map { case (name, i) =>
      runQuery(s"warmup-$i", name, traced = false) { df =>
        df.write.format("noop").mode("overwrite").save()
      }
    }

    // whole warm passes while the measuring time lasts, so every query has
    // the same number of samples. The traced run runs each query twice in
    // a row, traced and untraced (alternating which goes first): the pairs
    // give the tracing overhead
    val warm = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    var pass = 1
    while (elapsed < cfg.seconds) {
      order(pass).foreach { name =>
        val n = warm.size
        val modes = if (tracer.isEmpty) Seq(false) else if (n % 4 == 0) Seq(true, false) else Seq(false, true)
        modes.foreach { traced =>
          warm += runQuery(s"w$pass-${warm.size}", name, traced) { df =>
            df.write.format("noop").mode("overwrite").save()
          }
        }
      }
      pass += 1
      heap += Main.liveHeapMb()
    }
    val warmS = elapsed

    val oracle = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap
    Map("kind" -> "queries", "setup_s" -> setupS, "cold_s" -> coldS,
      "cold" -> cold, "warmup" -> warmup, "warm" -> warm.toSeq, "warm_s" -> warmS,
      "live_heap_mb" -> heap.toSeq, "oracle_sql" -> oracle, "cores" -> cores)
  }
}
