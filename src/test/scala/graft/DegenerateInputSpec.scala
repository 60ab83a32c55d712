package graft

import java.nio.file.Files

import graft.sources.Tables

/** Robustness sweep #2: every document-family query must run to
  * completion on DEGENERATE ROW VALUES — empty text, whitespace-only
  * text, one- and two-token docs, and NULL text. At 100 TB every one of
  * these exists somewhere in a crawl; an operator that throws on them
  * takes the whole stage down (the empty-token bigram slice crash that
  * motivated this suite was exactly such a latent bomb — real corpus
  * rows never triggered it). "Does not throw" is the contract; row
  * counts are not asserted.
  */
class DegenerateInputSpec extends SparkSpec {

  private lazy val degDir: String = {
    val d = Files.createTempDirectory("graft-degenerate").toString
    val tables = Tables.Names.filterNot(_ == "documents")
    tables.foreach { t =>
      spark.read.parquet(s"$Sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    import spark.implicits._
    Seq[(Long, String, String, String, java.lang.Long)](
      (1L, "", "en", "s1", 0L),
      (2L, "   ", "en", "s1", 3L),
      (3L, "one", "de", "s2", 3L),
      (4L, "two tokens", "fr", "s2", 10L),
      (5L, "a b", "en", "s1", 3L),
      (6L, null, "en", "s3", null),
      // a handful of normal docs so grouped stages have real data (and
      // one id divisible by 20 so Dedup.corpus still plants copies)
      (20L, "the quick brown fox jumps over the lazy dog by the river", "en", "s1", 57L),
      (21L, "der schnelle braune fuchs springt ueber den faulen hund heute", "de", "s2", 61L),
      (30L, "completely different text about distributed query engines and shuffles", "en", "s3", 71L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private val docFamily = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
    n.startsWith("q_doc_") || n.startsWith("q_dedup_") ||
      n.startsWith("q_pipeline") || n == "q_emb_topics"
  }

  for ((name, fn) <- docFamily) {
    test(s"$name tolerates degenerate document rows") {
      val n = fn(spark, degDir).count() // full execution, not just plan
      assert(n >= 0)
    }
  }

  /** Degenerate embedding values: the zero vector (norm 0 → cosine
    * divides 0/0), an extreme-magnitude vector, and exact duplicates.
    * Dimension stays uniform (mixed dims are out of contract — zip_with
    * would silently truncate). Doubles divide to NaN/Inf rather than
    * throwing, but every query must still EXECUTE.
    */
  private lazy val degEmbDir: String = {
    val d = Files.createTempDirectory("graft-degemb").toString
    val tables = Tables.Names.filterNot(_ == "embeddings")
    tables.foreach { t =>
      spark.read.parquet(s"$Sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    import spark.implicits._
    val dim = 64 // matches the real table: PQ's subspace layout is a dim contract
    def vec(f: Int => Float): Seq[Float] = (0 until dim).map(f)
    Seq[(Long, Seq[Float], Int)](
      (0L, vec(_ => 0f), 0),                         // zero vector, query id (0 % 50 == 0)
      (1L, vec(i => 1e30f * (i + 1)), 0),            // extreme magnitude
      (2L, vec(i => (i + 1).toFloat), 1),
      (3L, vec(i => (i + 1).toFloat), 1),            // exact duplicate of 2
      (4L, vec(i => -(i + 1).toFloat), 2),
      (50L, vec(i => (i % 2).toFloat), 2),           // second query point
      (5L, vec(i => if (i == 0) 1f else 0f), 3),
      (6L, vec(i => if (i == 1) 1f else 0f), 3))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private val embFamily = SparkEntry.queries.toSeq.sortBy(_._1)
    .filter { case (n, _) => n.startsWith("q_emb_") && n != "q_emb_topics" }

  for ((name, fn) <- embFamily) {
    test(s"$name tolerates degenerate embedding rows") {
      val n = fn(spark, degEmbDir).count()
      assert(n >= 0)
    }
  }

  /** Degenerate event rows: nulls in every nullable column, a PRE-EPOCH
    * timestamp (negative micros — exercises the DIV-truncation window
    * paths), and a single surviving normal session. The events table on
    * disk stores ts as TIMESTAMP(NANOS) → nanos-as-long, so the fixture
    * writes raw nanosecond longs the same way.
    */
  private lazy val degEvDir: String = {
    val d = Files.createTempDirectory("graft-degev").toString
    val tables = Tables.Names.filterNot(_ == "events")
    tables.foreach { t =>
      spark.read.parquet(s"$Sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    import spark.implicits._
    def ns(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000000L
    Seq[(java.lang.Long, java.lang.Long, java.lang.Long, String, java.lang.Double, String)](
      (1L, ns("2024-01-01 00:00:00"), 1L, "click", 5.0, """{"k": 1}"""),
      (2L, ns("2024-01-01 00:01:00"), 1L, "purchase", 9.0, """{"k": 2}"""),
      (3L, ns("1969-06-01 00:00:00"), 2L, "view", 1.0, "{}"),    // pre-epoch
      (4L, ns("2024-01-02 00:00:00"), null, "click", 2.0, null), // null user
      (5L, ns("2024-01-02 00:00:01"), 3L, null, null, "not json"), // null type/value
      (6L, ns("2024-01-02 00:00:02"), 3L, "error", Double.NaN, """{"k": null}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  private val evFamily = SparkEntry.queries.toSeq.sortBy(_._1)
    .filter { case (n, _) => n.startsWith("q_ev_") }

  for ((name, fn) <- evFamily) {
    test(s"$name tolerates degenerate event rows") {
      val n = fn(spark, degEvDir).count()
      assert(n >= 0)
    }
  }
}
