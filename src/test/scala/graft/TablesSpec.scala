package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.hadoop.fs.{BlockLocation, FileStatus, FileSystem, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission

import org.apache.spark.sql.types._
import graft.sources.Tables

/** Pins for the scan-definition layer: the memo data-key (session + data
  * fingerprint) and the recursive NTZ normalization.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("dataKey is stable for an unchanged dir and distinct across dirs/variants") {
    val k1 = Tables.dataKey(spark, Sf)
    val k2 = Tables.dataKey(spark, Sf)
    assert(k1 === k2, "same session + same unchanged dir must produce the same key")
    assert(Tables.dataKey(spark, "/root/testdata/sf0.01") !== k1)
    assert(Tables.dataKey(spark, Sf, "even") !== k1)
  }

  test("dataKey changes when the dir's data is regenerated (mtime/size change)") {
    val dir = Files.createTempDirectory("graft-datakey").toFile
    dir.deleteOnExit()
    val f = Paths.get(dir.toString, "t.parquet")
    Files.write(f, "v1".getBytes)
    Files.setLastModifiedTime(f, FileTime.fromMillis(1000000000000L))
    val before = Tables.dataKey(spark, dir.toString)
    // same listing, same mtimes -> same fingerprint
    assert(Tables.dataKey(spark, dir.toString) === before)
    // the driver regenerating a table bumps mtime (and usually size):
    // the key MUST move so session-lifetime memos can't serve stale stages
    Files.setLastModifiedTime(f, FileTime.fromMillis(1000000000001L))
    assert(Tables.dataKey(spark, dir.toString) !== before)
    // ...and a size change with a restored mtime still moves the key
    Files.write(f, "v2-longer".getBytes)
    Files.setLastModifiedTime(f, FileTime.fromMillis(1000000000000L))
    assert(Tables.dataKey(spark, dir.toString) !== before)
  }

  test("dataKey lists without permission, owner or block-location reads") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val impl = "fs.graftnoperm.impl"
    hconf.setClass(impl, classOf[TablesSpec.NoPermissionFs], classOf[FileSystem])
    hconf.setBoolean(impl + ".disable.cache", true)
    try {
      val root = Files.createTempDirectory("graft-datakey-noperm")
      val table = Files.createDirectories(root.resolve("t.parquet"))
      val f = table.resolve("part-0.parquet")
      Files.write(f, "v1".getBytes)
      Files.write(root.resolve("u.parquet"), "u".getBytes)
      Files.setLastModifiedTime(f, FileTime.fromMillis(1000000000000L))
      val dir = "graftnoperm://" + root
      val before = Tables.dataKey(spark, dir)
      assert(!before.contains("absent"))
      assert(Tables.dataKey(spark, dir) === before)
      // a file one level down moves the key on mtime and on size
      Files.setLastModifiedTime(f, FileTime.fromMillis(1000000000001L))
      assert(Tables.dataKey(spark, dir) !== before)
      Files.write(f, "v2-longer".getBytes)
      Files.setLastModifiedTime(f, FileTime.fromMillis(1000000000000L))
      assert(Tables.dataKey(spark, dir) !== before)
    } finally {
      hconf.unset(impl)
      hconf.unset(impl + ".disable.cache")
    }
  }

  test("dataKey on a missing dir does not throw (marks it absent)") {
    val k = Tables.dataKey(spark, "/tmp/graft-no-such-dir-xyz")
    assert(k.contains("absent"))
  }

  test("StageMemo: LRU-bounded under repeated key regeneration; clear() empties") {
    val memo = new graft.sources.StageMemo[String](4)
    var builds = 0
    def get(k: String) = memo.getOrCompute(k) { builds += 1; "v" + k }
    // memo hit: second lookup of a live key does not rebuild
    get("g1"); get("g1")
    assert(builds === 1)
    // a regenerating dir mints a fresh key per generation — the map must
    // stay bounded however many generations pass
    (2 to 20).foreach(i => get("g" + i))
    assert(memo.size === 4, s"memo grew past its bound: ${memo.size}")
    // eldest-by-access evicted, most recent retained
    assert(!memo.contains("g1"))
    assert(memo.contains("g20"))
    // access refreshes recency: touching g17 then inserting one more
    // evicts g18 (the eldest), not g17
    get("g17")
    get("g21")
    assert(memo.contains("g17") && !memo.contains("g18"))
    memo.clear()
    assert(memo.size === 0)
    // rebuilt after clear (fresh entry, not a stale survivor)
    val b0 = builds
    get("g21")
    assert(builds === b0 + 1)
  }

  test("Dedup/Similarity memos: clearMemos releases entries; next call rebuilds") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val c = graft.operators.Dedup.corpus(docs)
    val dir = "/tmp/graft-memo-spec-dir" // key only; fingerprint = absent
    val first = graft.operators.Dedup.clustersFor(c, dir)
    assert(graft.operators.Dedup.memoSize >= 1)
    // memo hit returns the SAME frame instance
    assert(graft.operators.Dedup.clustersFor(c, dir) eq first)
    graft.operators.Dedup.clearMemos()
    assert(graft.operators.Dedup.memoSize === 0)
    assert(!(graft.operators.Dedup.clustersFor(c, dir) eq first),
      "after clearMemos a fresh stage table must be built")
    graft.operators.Dedup.clearMemos()
    val e = Seq((0L, Array.fill(4)(0.1f), 0), (1L, Array.fill(4)(0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = graft.operators.Similarity.kmeansFitMemo(e, dir, "spec", k = 2, iters = 1)
    assert(graft.operators.Similarity.memoSize >= 1)
    assert(graft.operators.Similarity.kmeansFitMemo(e, dir, "spec", k = 2, iters = 1) eq cents)
    graft.operators.Similarity.clearMemos()
    assert(graft.operators.Similarity.memoSize === 0)
  }

  test("NTZ normalization recurses into struct, array, and map types") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("plain", TimestampNTZType),
      StructField("s", StructType(Seq(
        StructField("inner_ts", TimestampNTZType),
        StructField("deep", StructType(Seq(
          StructField("deepest", TimestampNTZType)))))) ),
      StructField("arr", ArrayType(TimestampNTZType)),
      StructField("m", MapType(StringType, TimestampNTZType))))
    val ldt = java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    val row = org.apache.spark.sql.Row(
      1L, ldt,
      org.apache.spark.sql.Row(ldt, org.apache.spark.sql.Row(ldt)),
      Seq(ldt), Map("k" -> ldt))
    val df = spark.createDataFrame(List(row).asJava, schema)
    val tmp = Files.createTempDirectory("graft-ntz").toString + "/t"
    df.write.parquet(tmp)

    // force NTZ inference ON for this read so the parquet round-trip
    // surfaces TIMESTAMP_NTZ at every nesting level, then normalize
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try {
      val read = spark.read.parquet(tmp)
      assert(read.schema("plain").dataType === TimestampNTZType)
      val fixed = Tables.ntzToUtc(read)
      def noNtz(dt: DataType): Boolean = dt match {
        case TimestampNTZType => false
        case s: StructType    => s.fields.forall(f => noNtz(f.dataType))
        case a: ArrayType     => noNtz(a.elementType)
        case m: MapType       => noNtz(m.keyType) && noNtz(m.valueType)
        case _                => true
      }
      assert(fixed.schema.fields.forall(f => noNtz(f.dataType)),
        s"NTZ survived normalization: ${fixed.schema.treeString}")
      // value check: session TZ is UTC, so wall-clock reinterprets exactly
      val got = fixed.selectExpr(
        "unix_micros(plain)", "unix_micros(s.inner_ts)",
        "unix_micros(s.deep.deepest)", "unix_micros(arr[0])",
        "unix_micros(m['k'])").head()
      val want = ldt.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
      (0 until 5).foreach(i => assert(got.getLong(i) === want))
    } finally {
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    }
  }
}

object TablesSpec {
  /** The raw local filesystem under its own scheme, whose listing refuses
    * every read a fingerprint does not need: a status throws on
    * permission, owner and group (on the local FS each of those forks an
    * `ls -ld`), and located listings and block locations throw.
    */
  class NoPermissionFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("graftnoperm:///")
    override def getScheme: String = "graftnoperm"
    override def getFileStatus(p: Path): FileStatus = bare(super.getFileStatus(p))
    override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(bare)
    override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] =
      throw new UnsupportedOperationException("listLocatedStatus")
    override def getFileBlockLocations(st: FileStatus, start: Long, len: Long): Array[BlockLocation] =
      throw new UnsupportedOperationException("getFileBlockLocations")

    private def bare(st: FileStatus): FileStatus =
      new FileStatus(st.getLen, st.isDirectory, 1, st.getBlockSize,
          st.getModificationTime, st.getPath) {
        override def getPermission: FsPermission = throw new UnsupportedOperationException("getPermission")
        override def getOwner: String = throw new UnsupportedOperationException("getOwner")
        override def getGroup: String = throw new UnsupportedOperationException("getGroup")
      }
  }
}
