package graft

import graft.operators.{Dedup, Similarity}
import graft.sources.{StageMemo, Tables}

/** The [[StageMemo]] artifact registry: owner-scoped keys and clears,
  * nested builds, one shared capacity bound, and the two-tier checkpoint
  * rule. The memoized stage tables (clusters / winnow pairs / centroids)
  * must be EVICTION-PROOF: a shared stage read by several later queries
  * cannot be backed by block-manager storage that competes with execution
  * memory (the 100× probe measured localCheckpoint-backed memos
  * recomputing under pressure — q_retrieval_e2e swinging 25 ↔ 68 s).
  * `reliableStage` routes them through a reliable checkpoint file
  * instead; this suite pins the survival property by forcibly dropping
  * every cached/persisted block — a superset of what eviction under
  * memory pressure does — and re-evaluating each memoized frame.
  */
class StageMemoSpec extends SparkSpec {

  test("memoized stage tables survive a full block-manager wipe") {
    val c = Dedup.corpus(Tables.documents(spark, Sf))
    val e = Tables.embeddings(spark, Sf)
    val clusters = Dedup.clustersFor(c, Sf)
    val winnow = Dedup.winnowPairsFor(c, Sf)
    val cents = Similarity.kmeansFitMemo(e, Sf, "all")
    val before = (clusters.count(), winnow.count(), cents.count())

    // simulate eviction: drop EVERY cached and persisted block, including
    // any localCheckpoint blocks (which cannot be recomputed — lineage is
    // truncated — so a local-checkpoint-backed memo would throw here)
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

    val after = (clusters.count(), winnow.count(), cents.count())
    assert(after === before,
      "memoized stage tables must re-read from the reliable checkpoint")
  }

  test("two-tier discipline: every DataFrame memo builds through reliableStage or a parquet store") {
    // the StageMemo scaladoc's boundary, enforced mechanically over main
    // source: `StageMemo.stage` checkpoints by construction, so the only
    // way to hand the registry a transient frame is a `StageMemo.value`
    // whose type carries a DataFrame — those must read back a parquet
    // store. Driver values (weights, fitted factors) are exempt. Every
    // value call spells its type, so the check cannot be dodged by
    // inference.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val callRe = """StageMemo\.value\b(\[(.+?)\]\()?""".r
    val sites = files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toVector
      lines.zipWithIndex.flatMap { case (line, i) =>
        callRe.findAllMatchIn(line).map { m =>
          val window = lines.slice(i, math.min(lines.size, i + 12)).mkString("\n")
          (s"$f:${i + 1}", Option(m.group(2)), window)
        }
      }
    }
    val untyped = sites.collect { case (at, None, _) => at }
    assert(untyped.isEmpty,
      s"StageMemo.value call sites must spell their value type:\n${untyped.mkString("\n")}")
    val frameSites = sites.filter(_._2.exists(_.contains("DataFrame")))
    assert(frameSites.nonEmpty, "the parquet-store index values must be discoverable")
    val offenders = frameSites.collect {
      case (at, Some(t), window) if !window.contains(".parquet(") => s"$at ($t)"
    }
    assert(offenders.isEmpty,
      s"DataFrame-carrying StageMemo.value sites missing a parquet store:\n${offenders.mkString("\n")}")
  }

  test("stage artifacts go through the registry only") {
    // outside graft.sources no code declares a memo of its own, builds a
    // memo key, or checkpoints a shared stage by hand
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val banned = Seq("new graft.sources.StageMemo", "new StageMemo", ".getOrCompute(",
      "dataKey(", "reliableStage(")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !f.toString.contains("/graft/sources/"))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if !line.trim.startsWith("*") && banned.exists(line.contains) =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  private val NoDir = "/tmp/graft-stage-memo-spec-dir" // key only; fingerprint = absent

  test("registry: one kind under two owners on one dir is two entries") {
    StageMemo.clear("specA"); StageMemo.clear("specB")
    val a = StageMemo.value[String]("specA", spark, NoDir, "k")("a")
    val b = StageMemo.value[String]("specB", spark, NoDir, "k")("b")
    assert((a, b) === (("a", "b")))
    assert(StageMemo.size("specA") === 1 && StageMemo.size("specB") === 1)
    // a hit serves the owner's own entry, never the other owner's
    assert(StageMemo.value[String]("specB", spark, NoDir, "k")("rebuilt") === "b")
    StageMemo.clear("specA")
    assert(StageMemo.size("specA") === 0 && StageMemo.size("specB") === 1)
    StageMemo.clear("specB")
  }

  test("registry: Dedup.clearMemos leaves Similarity's entries in place") {
    import spark.implicits._
    val c = Dedup.corpus(Tables.documents(spark, Sf))
    val e = Seq((0L, Array.fill(4)(0.1f), 0), (1L, Array.fill(4)(0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.kmeansFitMemo(e, NoDir, "spec", k = 2, iters = 1)
    Dedup.winnowPairsFor(c, Sf)
    assert(StageMemo.size(Dedup.Owner) >= 1)
    Dedup.clearMemos()
    assert(StageMemo.size(Dedup.Owner) === 0)
    assert(StageMemo.size(Similarity.Owner) >= 1)
    assert(Similarity.kmeansFitMemo(e, NoDir, "spec", k = 2, iters = 1) eq cents)
    Similarity.clearMemos()
  }

  test("registry: a nested build builds each key once and hits afterwards") {
    var outer = 0
    var inner = 0
    def in(): Int = StageMemo.value[Int]("specN", spark, NoDir, "inner") { inner += 1; 1 }
    def out(): Int = StageMemo.value[Int]("specN", spark, NoDir, "outer") { outer += 1; in() + 1 }
    assert(out() === 2 && out() === 2 && in() === 1)
    assert((outer, inner) === ((1, 1)))
    StageMemo.clear("specN")

    // the real nest: clustersFor builds jaccardPairsFor inside its build
    val c = Dedup.corpus(Tables.documents(spark, Sf))
    Dedup.clearMemos()
    val clusters = Dedup.clustersFor(c, Sf)
    assert(StageMemo.size(Dedup.Owner) === 2, "clusters + the verified pairs they were built from")
    val pairs = Dedup.jaccardPairsFor(c, Sf)
    assert(Dedup.clustersFor(c, Sf) eq clusters)
    assert(Dedup.jaccardPairsFor(c, Sf) eq pairs)
    assert(StageMemo.size(Dedup.Owner) === 2)
    Dedup.clearMemos()
  }

  test("registry: clearAll drops every owner's entries and the next lookup rebuilds") {
    StageMemo.clear("specA"); StageMemo.clear("specB")
    var builds = 0
    def get(owner: String): Int = StageMemo.value[Int](owner, spark, NoDir, "k") { builds += 1; builds }
    get("specA"); get("specB")
    assert(builds === 2)
    StageMemo.clearAll()
    assert(StageMemo.size("specA") === 0 && StageMemo.size("specB") === 0)
    assert(get("specA") === 3 && get("specB") === 4, "a lookup after clearAll must build")
    assert(get("specA") === 3, "and hit afterwards")
    StageMemo.clear("specA"); StageMemo.clear("specB")
  }

  test("registry: the capacity bound holds across owners") {
    StageMemo.clear("specA"); StageMemo.clear("specB")
    val n = StageMemo.Capacity - 28
    (1 to n).foreach(i => StageMemo.value[Int]("specA", spark, NoDir, s"k$i")(i))
    (1 to n).foreach(i => StageMemo.value[Int]("specB", spark, NoDir, s"k$i")(i))
    // 2n > Capacity fresh keys: every older entry (any owner) is evicted
    // first, then specA's eldest
    assert(StageMemo.size("specB") === n)
    assert(StageMemo.size("specA") === StageMemo.Capacity - n)
    // specA's survivors are its most recent keys
    assert(StageMemo.value[Int]("specA", spark, NoDir, s"k$n")(-1) === n)
    assert(StageMemo.value[Int]("specA", spark, NoDir, "k1")(-1) === -1)
    StageMemo.clear("specA"); StageMemo.clear("specB")
  }

  test("reliableStage sets a checkpoint dir on first use and is eager") {
    import spark.implicits._
    val df = StageMemo.reliableStage(Seq(1L, 2L, 3L).toDF("x"))
    assert(spark.sparkContext.getCheckpointDir.isDefined)
    // eager: the plan is already a materialized scan (no recompute of the
    // original lineage), and the data round-trips
    assert(df.as[Long].collect().sorted === Array(1L, 2L, 3L))
  }
}
