package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Runs one declared query: builds `SparkEntry.queries(name)(spark, dir)`
  * and hands it to `sink`, under a job group named after the query and
  * with an optional deadline. Bench, Verify and the dev tools run every
  * query through here.
  */
object QueryRun {
  /** Result of one run. `failure` is empty on success, `timeout`, or
    * `exception: <class>: <message>`. `constructS` is NaN when
    * construction did not finish.
    */
  final case class Outcome(constructS: Double, totalS: Double, failure: String) {
    def ok: Boolean = failure.isEmpty
  }

  /** Deadline of the Bench and Verify runs: 6× the slowest cold query at
    * sf0.1 (`q_emb_opq2`, 95 s), so only a hung query reaches it.
    */
  val Deadline: FiniteDuration = 600.seconds

  /** Log levels of the Bench and Verify mains: WARN, with the two
    * classes of a benign race scoped to FATAL. The localCheckpoint cleaner
    * races the DAGScheduler's accumulator drain during the run loop, not
    * just at shutdown, and each collision prints an "ERROR DAGScheduler:
    * Failed to update accumulator" stack trace (110 in one sf0.1 Bench
    * run) although every query passes. A real failure still prints the
    * main's own `<name> failed`/`timeout` line, and every other logger
    * keeps WARN, so a genuine stop-time failure stays visible. Sessions
    * from [[Engine.session]] keep their levels: the tests and the
    * benchmark harness do not call this.
    */
  def quietLogs(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    Seq("org.apache.spark.scheduler.DAGScheduler",
        "org.apache.spark.ContextCleaner").foreach { cls =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        cls, org.apache.logging.log4j.Level.FATAL)
    }
  }

  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "graft-query-run")
      t.setDaemon(true) // an abandoned query must not keep the JVM alive
      t
    }
  })
  private val runs = new AtomicLong()

  /** Run query `name` into `sink`. The body runs on its own daemon thread:
    * at the deadline its job group is cancelled, together with any job it
    * submits later, and the run returns `timeout` without waiting — a
    * driver-side planning hang is abandoned too.
    */
  def apply(spark: SparkSession, name: String, dir: String,
      deadline: Duration = Duration.Inf)(sink: DataFrame => Unit): Outcome = {
    val sc = spark.sparkContext
    // one group per run: cancelling a timed-out run's future jobs must not
    // cancel a later run of the same query
    val group = s"$name#${runs.incrementAndGet()}"
    @volatile var constructS = Double.NaN
    val t0 = System.nanoTime()
    def sinceStart = (System.nanoTime() - t0) / 1e9
    val f = pool.submit(new Callable[Unit] {
      def call(): Unit = {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        try {
          val df = SparkEntry.queries(name)(spark, dir)
          constructS = sinceStart
          sink(df)
        } finally sc.clearJobGroup()
      }
    })
    try {
      if (deadline.isFinite) f.get(deadline.toMillis, TimeUnit.MILLISECONDS) else f.get()
      Outcome(constructS, sinceStart, "")
    } catch {
      case _: TimeoutException =>
        sc.cancelJobGroupAndFutureJobs(group)
        f.cancel(true)
        Outcome(constructS, sinceStart, "timeout")
      case e: ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        Outcome(constructS, sinceStart, s"exception: ${c.getClass.getSimpleName}: ${c.getMessage}")
    }
  }

  /** Warm-up on the measured data: a noop scan of every table touches
    * parquet footers, dictionary pages and the vectorized-reader path,
    * and one end-to-end query JITs agg/join codegen. Otherwise the first
    * timed query absorbs this one-time setup (q_scalar read 16.6 s first
    * in the map vs 1.25 s on an idle rerun). Failures are ignored.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    Tables.Names.foreach { t =>
      try spark.read.parquet(s"$dir/$t.parquet").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
  }
}
