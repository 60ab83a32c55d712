package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.streaming.OrderStream

/** `OrderStream.routeToSinks` writes its two branches concurrently: a
  * failing branch fails the query only after the other write is done, a
  * stop cancels a blocked branch write on the helper thread, and each
  * micro-batch is still computed once.
  */
class RouteToSinksSpec extends SparkSpec {
  import spark.implicits._

  private def checkpoint(): String =
    java.nio.file.Files.createTempDirectory("graft-route").toString

  private def orders(ids: Range): Seq[String] = ids.map { id =>
    s"""{"order_id":$id,"product_name":"p","quantity":${if (id % 5 == 0) -1 else 2},""" +
      """"price":3.5,"order_date":"2020-01-01"}"""
  }

  private def start(input: MemoryStream[String])(writeBranch: (DataFrame, String) => Unit): StreamingQuery =
    OrderStream.routeToSinks(OrderStream.observed(OrderStream.process(input.toDF())),
      checkpoint())(writeBranch).start()

  /** Whether `df` still reads the persisted micro-batch. */
  private def readsCache(df: DataFrame): Boolean =
    df.select(col("*")).queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r }.isDefined

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  for (failing <- Seq("enriched", "invalid")) {
    test(s"a throwing $failing writer fails the query after the other branch write is done") {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[String]
      val boom = new IllegalStateException(s"$failing sink down")
      @volatile var otherDone = false
      @volatile var otherSawCache = false
      val q = start(input) { (branch, which) =>
        if (which == failing) throw boom
        Thread.sleep(1500)
        otherSawCache = readsCache(branch)
        branch.collect()
        otherDone = true
      }
      input.addData(orders(1 to 20))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      q.stop()
      assert(causes(e).exists(_ eq boom), e)
      assert(otherDone, "the other branch write must finish before the batch is released")
      assert(otherSawCache, "the batch must stay persisted until both writes are done")
    }
  }

  test("stop() cancels a blocked branch write on the helper thread, which carries the stream's job group and tags") {
    implicit val ctx = spark.sqlContext
    val sc = spark.sparkContext
    val input = MemoryStream[String]
    val tag = "graft-route-to-sinks"
    val seen = mutable.Map.empty[String, (String, String, Set[String])]
    @volatile var invalidFailure: Throwable = null
    RouteToSinksSpec.started = new CountDownLatch(1)
    sc.addJobTag(tag)
    val q =
      try start(input) { (branch, which) =>
        seen.synchronized {
          seen(which) = (Thread.currentThread.getName,
            sc.getLocalProperty("spark.jobGroup.id"), sc.getJobTags())
        }
        if (which == "invalid")
          try branch.foreachPartition { (_: Iterator[Row]) =>
            RouteToSinksSpec.started.countDown()
            Thread.sleep(120000)
          } catch { case t: Throwable => invalidFailure = t; throw t }
      } finally sc.removeJobTag(tag)
    input.addData(orders(1 to 20))
    assert(RouteToSinksSpec.started.await(60, TimeUnit.SECONDS), "the invalid write never started")
    val t0 = System.nanoTime()
    q.stop()
    val stopS = (System.nanoTime() - t0) / 1e9
    assert(stopS < 30, s"stop took $stopS s")
    assert(invalidFailure != null, "the blocked write must be cancelled, not run out")
    val (streamThread, group, tags) = seen("enriched")
    val (helperThread, helperGroup, helperTags) = seen("invalid")
    assert(helperThread !== streamThread)
    assert(group === q.runId.toString && helperGroup === group)
    assert(tags.contains(tag) && helperTags === tags)
    val deadline = System.nanoTime() + 10e9.toLong
    def helperAlive = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .exists(_.getName == helperThread)
    while (helperAlive && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!helperAlive, "the helper thread must end with the query")
  }

  test("each micro-batch is computed once while both branches read it concurrently") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String](4)
    val rows = mutable.Map("enriched" -> 0L, "invalid" -> 0L)
    val q = start(input) { (branch, which) =>
      val n = branch.count()
      rows.synchronized(rows(which) += n)
    }
    for (b <- 0 until 5) { input.addData(orders(b * 40 + 1 to b * 40 + 40)); q.processAllAvailable() }
    q.stop()
    val observed = q.recentProgress.toSeq.flatMap(p => Option(p.observedMetrics.get("order_metrics")))
    def total(k: String) = observed.map(_.getAs[Long](k)).sum
    // observe() counts each computation of the batch: a second read of the
    // unpersisted batch would double these
    assert(total("messages_processed") === 200)
    assert(total("messages_valid") === 160 && total("messages_invalid") === 40)
    assert(rows.toMap === Map("enriched" -> 160L, "invalid" -> 40L))
  }
}

object RouteToSinksSpec {
  /** Set by the blocked branch write's task (same JVM under `local[*]`). */
  @volatile var started: CountDownLatch = new CountDownLatch(0)
}
