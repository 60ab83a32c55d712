package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Harness settings, passed as `key=value` arguments by `run.py`. */
final case class Config(args: Map[String, String]) {
  def apply(k: String): String = args.getOrElse(k, sys.error(s"missing argument $k"))
  def int(k: String): Int = apply(k).toInt
  def double(k: String): Double = apply(k).toDouble
  val workload: String = apply("workload")
  val seed: Long = apply("seed").toLong
  val seconds: Double = double("seconds")
  val trace: Boolean = apply("trace") == "1"
  val work: String = apply("work")
  val deadlineMs: Long = (double("deadline_s") * 1000).toLong
  val setupReps: Int = int("setup_reps")
}

/** Outcome of one operation run under its own job group and deadline. */
final case class Outcome[T](value: Option[T], failure: String) {
  def ok: Boolean = value.isDefined
}

/** Entry point of the benchmark harness: one workload per JVM. It writes
  * raw samples (per-operation timings, counters, check outputs) to
  * `<work>/result.json`; `run.py` turns them into metrics.
  */
object Main {
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-op")
      t.setDaemon(true) // a hung operation must not keep the JVM alive
      t
    }
  })

  /** Run `body` under job group `groups.head` (the body may switch to the
    * other groups); at the deadline cancel every group and report
    * `timeout` instead of waiting for it.
    */
  def withDeadline[T](spark: SparkSession, groups: Seq[String], deadlineMs: Long)(body: => T): Outcome[T] = {
    val sc = spark.sparkContext
    val f = pool.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(groups.head, groups.head, interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }
    })
    try Outcome(Some(f.get(deadlineMs, TimeUnit.MILLISECONDS)), "")
    catch {
      case _: TimeoutException =>
        groups.foreach(sc.cancelJobGroup)
        f.cancel(true)
        Outcome(None, "timeout")
      case e: ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        Outcome(None, s"exception: ${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).take(300)}")
    }
  }

  /** Heap in use right after a full collection: the live data. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Regular files under `dir` with their sizes. */
  def filesUnder(dir: String): Map[String, Long] = {
    val root = new File(dir)
    if (!root.exists()) Map.empty
    else {
      val s = Files.walk(root.toPath)
      try {
        val it = s.iterator()
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) {
          val p = it.next()
          if (Files.isRegularFile(p)) b += p.toString -> Files.size(p)
        }
        b.result()
      } finally s.close()
    }
  }

  def nowMs(): Long = System.currentTimeMillis()

  def main(argv: Array[String]): Unit = {
    val cfg = Config(argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val t0 = System.nanoTime()
    val spark = graft.Engine.session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${cfg.work}/checkpoints")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (cfg.trace) Some(new Tracer(spark)) else None
    val body: Map[String, Any] =
      if (cfg.workload.startsWith("orders_")) new StreamWorkload(spark, cfg, tracer).run()
      else new QueryWorkload(spark, cfg, tracer).run()
    val rt = Runtime.getRuntime
    val info = Map(
      "nproc" -> rt.availableProcessors(),
      "spark_graft_cpus" -> graft.Engine.ShufflePartitions,
      "heap_max_mb" -> rt.maxMemory() / 1048576,
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "java_version" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master,
      "session_s" -> sessionS)
    val out = body ++ Map("info" -> info) ++
      tracer.map(t => Map("spans" -> t.spansJson)).getOrElse(Map.empty)
    spark.stop()
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out)
    Files.write(Paths.get(cfg("out")), json.getBytes("UTF-8"))
    // an operation thread that timed out may still be running
    sys.exit(0)
  }
}
