package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.expressions.CdcChunks
import graft.operators.Dedup
import graft.sources.Tables

/** Content-defined chunking + paragraph-level dedup.
  *
  * The load-bearing CDC property is INSERTION STABILITY: because chunk
  * boundaries depend only on token content, prepending tokens perturbs
  * only the chunk containing the splice point — every chunk after the
  * first boundary is byte-identical to the unedited document's, so
  * sub-document dedup still matches. Fixed-stride blocks shift globally
  * on the same edit (asserted as the contrast case).
  */
class CdcSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, Sf).cache()

  // docs is the shared memoized Tables.documents frame: left cached, every
  // later suite in this JVM would plan its corpus over InMemoryRelation
  override def afterAll(): Unit = {
    Seq(deduped, corpus, docs).foreach(_.unpersist())
    super.afterAll()
  }

  private def chunksOf(text: String): Seq[String] = {
    val arr = CdcChunks.chunks(org.apache.spark.unsafe.types.UTF8String.fromString(text))
    (0 until arr.numElements()).map(i =>
      arr.getUTF8String(i).toString)
  }

  test("chunks joined with a space reconstruct the original text exactly") {
    val bad = docs
      .select(col("text"),
        array_join(CdcChunks.cdc_chunks(col("text")), " ").as("rt"))
      .filter(col("rt") =!= col("text"))
    assert(bad.count() === 0)
  }

  test("every chunk ends at a boundary token except possibly the last") {
    for (text <- docs.select($"text").as[String].take(20)) {
      val cs = chunksOf(text)
      for (c <- cs.dropRight(1))
        assert(CdcChunks.isBoundary(c.split(" ", -1).last), s"chunk '$c' not closed by a boundary")
    }
  }

  test("CDC chunks are insertion-stable; fixed-stride blocks are not") {
    // pick a non-boundary prefix token so the splice stays inside chunk 0
    val prefix = Iterator.from(0).map(i => s"graftpad$i")
      .find(!CdcChunks.isBoundary(_)).get
    val texts = docs.select($"text").as[String].take(50)
      .filter(chunksOf(_).length >= 3)
    assert(texts.nonEmpty)
    var strideShifted = false
    for (text <- texts) {
      val orig = chunksOf(text)
      val edited = chunksOf(s"$prefix $text")
      // only chunk 0 absorbs the splice; the rest are byte-identical
      assert(edited.length === orig.length)
      assert(edited.head === s"$prefix ${orig.head}")
      assert(edited.tail === orig.tail)
      // the contrast: 20-token blocks all shift on the same edit
      val blocks = Dedup.paragraphs(Seq((1L, text)).toDF("doc_id", "text"))
        .select($"para").as[String].collect().toSeq
      val blocksEdited = Dedup.paragraphs(Seq((1L, s"$prefix $text")).toDF("doc_id", "text"))
        .select($"para").as[String].collect().toSeq
      if (blocks.length >= 2 && blocks.intersect(blocksEdited).isEmpty)
        strideShifted = true
    }
    assert(strideShifted, "expected at least one doc where every stride block shifted")
  }

  test("native CdcChunks equals the composed window formulation") {
    val toks = docs.select($"doc_id",
      posexplode(split($"text", " ", -1)).as(Seq("i", "w")))
    val w = Window.partitionBy($"doc_id").orderBy($"i")
        .rowsBetween(Window.unboundedPreceding, -1)
    val composed = toks
      .withColumn("b", when(substring(md5($"w"), 1, 1).isin("0", "1"), 1).otherwise(0))
      .withColumn("chunk_ord", coalesce(sum($"b").over(w), lit(0)))
      .groupBy($"doc_id", $"chunk_ord")
      .agg(array_join(transform(array_sort(collect_list(struct($"i", $"w"))),
        _.getField("w")), " ").as("chunk"))
    val native = docs.select($"doc_id",
      posexplode(CdcChunks.cdc_chunks($"text")).as(Seq("chunk_ord", "chunk")))
    assert(native.join(composed, Seq("doc_id", "chunk_ord", "chunk")).count()
      === native.count())
    assert(composed.count() === native.count())
  }

  test("empty text yields one empty chunk") {
    assert(chunksOf("") === Seq(""))
  }

  test("cdc_chunks is SQL-registered and matches the Column API") {
    graft.expressions.Registry.registerAll(spark)
    docs.limit(20).createOrReplaceTempView("cdc_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, cdc_chunks(text) AS cs FROM cdc_docs")
    val viaCol = docs.limit(20).select($"doc_id", CdcChunks.cdc_chunks($"text").as("cs"))
    assert(viaSql.exceptAll(viaCol).count() === 0)
    assert(viaCol.exceptAll(viaSql).count() === 0)
  }

  // ---- paragraph-level dedup ---------------------------------------------

  private lazy val corpus = Dedup.corpus(docs).cache()
  private lazy val deduped = Dedup.paragraphDedup(corpus).cache()

  test("exact copies are fully shadowed; their originals survive intact") {
    val exactIds = docs.filter($"doc_id" % 20 === 0).select($"doc_id").as[Long]
      .collect().toSet
    val out = deduped.select($"doc_id").as[Long].collect().toSet
    // every +2M exact copy lost all its blocks to the original
    assert(exactIds.forall(id => !out.contains(id + 2000000L)))
    assert(exactIds.forall(out.contains))
  }

  test("docs with no shadowed blocks reassemble to their original text") {
    val joined = deduped.join(corpus, "doc_id")
      .filter($"text_kept" === $"text")
    // at minimum, every doc whose text is unique at block level — count
    // must dominate the never-planted remainder (doc_id % 10 != 0 docs
    // can still share random blocks, so assert a floor, not equality)
    val untouched = joined.count()
    assert(untouched > 0.8 * docs.count())
    // and reassembled text token counts never exceed the original
    val over = deduped.join(corpus, "doc_id")
      .filter(size(split($"text_kept", " ", -1)) > size(split($"text", " ", -1)))
    assert(over.count() === 0)
  }

  test("near-copies keep only their novel tail blocks") {
    // a near-copy's tail block is novel UNLESS its base token count is a
    // multiple of 20: then the appended " graft near dup tail" forms a
    // standalone 4-token block identical across all such docs, and only
    // the first (smallest doc_id) keeps it — the rest are fully shadowed
    val nearBases = docs.filter($"doc_id" % 10 === 0)
      .select($"doc_id", size(split($"text", " ", -1)).as("nt"))
      .as[(Long, Int)].collect()
    val aligned = nearBases.filter(_._2 % 20 == 0).map(_._1 + 1000000L).sorted
    val expected = nearBases.map(_._1 + 1000000L).toSet -- aligned.drop(1)
    val kept = deduped.filter($"doc_id" >= 1000000L && $"doc_id" < 2000000L)
      .select($"doc_id", $"n_paras").as[(Long, Long)].collect()
    assert(kept.map(_._1).toSet === expected)
    // survivors keep at most 2 blocks: the straddler + a possible overflow
    assert(kept.forall(_._2 <= 2), s"near-copy kept too many blocks: ${kept.filter(_._2 > 2).mkString(",")}")
  }
}
