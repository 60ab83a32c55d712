package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{LocalCheckpointFileManager, OrderStream}

/** The java.nio commit path for local checkpoints: atomic create without
  * overwrite, cancel, stale Hadoop `.crc` siblings, delegation for other
  * schemes, and at-least-once restarts of the order stream on checkpoints
  * written by this manager or by Spark's default one.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): JPath = Files.createTempDirectory("graft-cfm")
  private def manager(dir: JPath, conf: Configuration = new Configuration()) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)
  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("engine sessions install the local manager") {
    assert(spark.conf.get(LocalCheckpointFileManager.ClassKey) ===
      classOf[LocalCheckpointFileManager].getName)
    val conf = spark.sessionState.newHadoopConf()
    val fm = CheckpointFileManager.create(new Path(tempDir().toUri), conf)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
  }

  test("create without overwrite on an existing file throws Hadoop's FileAlreadyExistsException") {
    val dir = tempDir()
    val fm = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(fm, p) === "first")
    assert(names(dir) === Set("0"), "no temp file may survive the failed create")
    write(fm, p, "third", overwrite = true)
    assert(read(fm, p) === "third")
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = tempDir()
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("overwrite drops the stale .crc of a file Spark's default manager wrote") {
    val dir = tempDir()
    val p = new Path(dir.resolve("2.delta").toUri)
    val default = new FileContextBasedCheckpointFileManager(p.getParent, new Configuration())
    write(default, p, "written by FileContext", overwrite = true)
    assert(names(dir) === Set("2.delta", ".2.delta.crc"))
    val fm = manager(dir)
    write(fm, p, "rewritten", overwrite = true)
    assert(names(dir) === Set("2.delta"))
    // the checksummed read path of both managers still reads the file
    assert(read(fm, p) === "rewritten")
    assert(read(default, p) === "rewritten")
  }

  test("a path on another scheme goes to Spark's default manager") {
    val dir = tempDir()
    val conf = new Configuration()
    conf.setClass("fs.graftlocal.impl", classOf[LocalCheckpointFileManagerSpec.OtherSchemeFs],
      classOf[FileSystem])
    conf.setBoolean("fs.graftlocal.impl.disable.cache", true)
    val p = new Path(s"graftlocal://${dir.resolve("3")}")
    val fm = new LocalCheckpointFileManager(p.getParent, conf)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    assert(out.getClass.getName.endsWith("RenameBasedFSDataOutputStream"), out.getClass.getName)
    out.write("elsewhere".getBytes(UTF_8))
    out.close()
    assert(new String(Files.readAllBytes(dir.resolve("3")), UTF_8) === "elsewhere")
  }

  // ---- at-least-once restart of routeToSinks --------------------------------

  private def orderJson(id: Int): String =
    s"""{"order_id":$id,"product_name":"p","quantity":${if (id % 7 == 0) -1 else 2},""" +
      """"price":3.5,"order_date":"2020-01-01"}"""

  /** Three batches through two runs of the order stream on one checkpoint;
    * `firstManager` writes the first run's checkpoint.
    */
  private def restartRun(firstManager: Option[String]): Unit = {
    implicit val ctx = spark.sqlContext
    val ckpt = tempDir().toString
    val input = MemoryStream[String]
    val delivered = mutable.Map("enriched" -> mutable.ArrayBuffer[Row](),
      "invalid" -> mutable.ArrayBuffer[Row]())
    def start(): StreamingQuery =
      OrderStream.routeToSinks(OrderStream.observed(OrderStream.process(input.toDF())), ckpt) {
        (branch, which) => delivered(which) ++= branch.collect()
      }.start()
    def observed(q: StreamingQuery): Long = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("order_metrics")))
      .map(_.getAs[Long]("messages_processed")).sum

    val key = LocalCheckpointFileManager.ClassKey
    firstManager.foreach(spark.conf.set(key, _))
    val q1 = try start() finally spark.conf.set(key, classOf[LocalCheckpointFileManager].getName)
    input.addData((1 to 40).map(orderJson)); q1.processAllAvailable()
    input.addData((41 to 70).map(orderJson)); q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    input.addData((71 to 100).map(orderJson)); q2.processAllAvailable()
    q2.stop()

    val ids = (delivered("enriched") ++ delivered("invalid")).map(_.getString(0).toInt)
    assert(ids.sorted === (1 to 100), "every order is delivered exactly once")
    assert(delivered("invalid").map(_.getString(0).toInt).toSet ===
      (1 to 100).filter(_ % 7 == 0).toSet)
    assert(observed(q1) + observed(q2) === 100)
    def batches(q: StreamingQuery) = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
    assert(batches(q1).toSeq === Seq(0L, 1L) && batches(q2).toSeq === Seq(2L))
    // the second run committed its batch through the local manager: no .crc
    val commits = Files.list(java.nio.file.Paths.get(ckpt, "commits")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(commits.contains("2") && !commits.contains(".2.crc"))
    assert(commits.exists(_.endsWith(".crc")) === firstManager.isDefined)
  }

  test("routeToSinks restarts on its own checkpoint: no batch twice, observe() totals match") {
    restartRun(None)
  }

  test("routeToSinks restarts on a checkpoint Spark's default manager wrote") {
    restartRun(Some(classOf[FileContextBasedCheckpointFileManager].getName))
  }
}

object LocalCheckpointFileManagerSpec {
  /** The raw local filesystem under a scheme of its own, with no
    * `FileContext` binding (Spark then falls back to its `FileSystem`-based
    * manager).
    */
  class OtherSchemeFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("graftlocal:///")
    override def getScheme: String = "graftlocal"
  }
}
