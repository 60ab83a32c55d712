package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** The one query runner (deadline, job-group cancellation, failure kinds)
  * and the one session factory.
  */
class QueryRunSpec extends SparkSpec {
  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a blocked query times out at its deadline, its job group is cancelled, and the session stays usable") {
    val sc = spark.sparkContext
    // a first run builds the memoized scans, so the blocked run below
    // reaches its task well inside the deadline
    val first = QueryRun(spark, "q1_agg", Sf, 120.seconds)(noop)
    assert(first.ok, first.failure)
    QueryRunSpec.started = new CountDownLatch(1)
    QueryRunSpec.interrupted = new CountDownLatch(1)
    val o = QueryRun(spark, "q1_agg", Sf, 10.seconds) { df =>
      df.foreachPartition { (_: Iterator[Row]) =>
        QueryRunSpec.started.countDown()
        try Thread.sleep(120000)
        catch { case e: InterruptedException => QueryRunSpec.interrupted.countDown(); throw e }
      }
    }
    assert(o.failure === "timeout")
    assert(o.totalS < 10 + 30, s"timeout took ${o.totalS} s")
    assert(QueryRunSpec.started.getCount === 0, "the blocked task never started")
    assert(QueryRunSpec.interrupted.await(30, TimeUnit.SECONDS),
      "cancelling the job group must interrupt the blocked task")
    val deadline = System.nanoTime() + 30e9.toLong
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "the cancelled job is still running")
    val next = QueryRun(spark, "q1_agg", Sf, 120.seconds)(noop)
    assert(next.ok, next.failure)
    assert(next.constructS >= 0 && next.constructS <= next.totalS)
  }

  test("a query whose builder throws reports the exception with its message") {
    val missing = Files.createTempDirectory("graft-queryrun").resolve("absent").toString
    val o = QueryRun(spark, "q1_agg", missing)(noop)
    assert(o.failure.startsWith("exception: "), o.failure)
    assert(o.failure.contains(missing), o.failure)
    assert(o.constructS.isNaN, "construction cannot have finished")
  }

  test("only Engine.session builds a SparkSession") {
    val builderCall = """SparkSession\s*\.\s*[Bb]uilder""".r
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    def sources(root: String) = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = (sources("src/main/scala") ++ sources("src/test/scala")).filter { f =>
      builderCall.findFirstIn(comments.replaceAllIn(Files.readString(f), "")).isDefined
    }.map(_.toString)
    assert(offenders === Seq("src/main/scala/graft/Engine.scala"))
  }
}

object QueryRunSpec {
  /** Set by the blocked task (same JVM under `local[*]`). */
  @volatile var started: CountDownLatch = new CountDownLatch(0)
  @volatile var interrupted: CountDownLatch = new CountDownLatch(0)
}
