package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Winnowing fingerprint selection (TextAnalysis.winnow) against an
  * independent brute-force reference, plus the two properties the MOSS
  * paper (Schleimer, Wilkerson & Aiken, SIGMOD'03) guarantees:
  * containment (a shared token run of w + k - 1 yields a shared
  * fingerprint hash) and coverage (every w-window of the shingle stream
  * contains a selected position).
  */
class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private val W = 4
  private val P = 2147483648L // 2^31

  test("winnow (native narrow) equals the windowed cross-check formulation row-for-row") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "a b"),
      (3L, "one two three"),
      (4L, Seq.tabulate(40)(i => s"t${i % 7}").mkString(" "))
    ).toDF("doc_id", "text")
    val narrow = TextAnalysis.winnow(docs)
      .as[(Long, Long, Long)].collect().toSet
    val windowed = TextAnalysis.winnowWindowed(docs)
      .as[(Long, Long, Long)].collect().toSet
    assert(narrow === windowed)
  }

  test("native winnow_keys equals the HOF cross-check element-for-element") {
    // array_distinct's first-occurrence order must equal the native's
    // consecutive-reign collapse — exact array equality, both eval paths
    val docs = (1L to 50L).map { i =>
      val rnd = new scala.util.Random(i)
      val vocab = Seq("ab", "cd", "ef", "gh", "ij", "kl")
      (i, Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val rows = docs.select(
        TextAnalysis.winnowKeysNarrow($"text").as("nat"),
        TextAnalysis.winnowKeysHof($"text").as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (nat, hof) => assert(nat === hof) }
  }

  /** Reference PolyHash trigram shingles (ASCII inputs, so plain
    * toLowerCase matches the ICU path used by ShingleHashes).
    */
  private def shingles(text: String): Array[Long] = {
    val toks = text.trim.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty)
    (0 to toks.length - 3).map { i =>
      val s = s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}"
      s.foldLeft(7L)((h, c) => (h * 31L + c) % 1000000007L)
    }.toArray
  }

  /** Direct winnowing: min of each w-window of packed (hash, ~pos)
    * keys; one truncated window when the doc has fewer than w shingles.
    */
  private def winnowRef(hs: Array[Long]): Set[(Long, Long)] = {
    val n = hs.length
    if (n == 0) return Set.empty
    val keys = hs.zipWithIndex.map { case (h, p) => h * P + (P - 1 - p) }
    val starts = if (n < W) Seq(0) else 0 to (n - W)
    starts.map(s => keys.slice(s, s + W).min).toSet
      .map((mk: Long) => (mk >> 31, P - 1 - (mk & (P - 1))))
  }

  private def run(docs: Seq[(Long, String)]): Map[Long, Set[(Long, Long)]] =
    TextAnalysis.winnow(docs.toDF("doc_id", "text"), W)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (d, a) => d -> a.map(_._2).toSet }

  private val docs = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank today",
    2L -> "a a a a a a a a a a a a", // all-tie stream: rightmost-min rule
    3L -> "only four words here",    // 2 shingles < w: one truncated window
    4L -> "one two three",           // exactly 1 shingle
    5L -> "too short",               // no shingles: no rows
    6L -> ("alpha beta " * 20 + "gamma delta epsilon zeta eta theta"))

  test("matches the brute-force reference on varied docs (ties, short docs)") {
    val got = run(docs)
    for ((id, text) <- docs) {
      val want = winnowRef(shingles(text))
      assert(got.getOrElse(id, Set.empty) == want, s"doc $id")
    }
    assert(!got.contains(5L), "shingle-less doc must emit no fingerprints")
  }

  test("containment: a shared run of w+2 tokens shares a fingerprint hash") {
    // w + k - 1 = 4 + 3 - 1 = 6 shared tokens => >= 1 common hash
    val shared = "lorem ipsum dolor sit amet consectetur"
    val got = run(Seq(
      10L -> s"completely different lead in words $shared and unrelated tail",
      11L -> s"$shared with another distinct continuation entirely"))
    val common = got(10L).map(_._1) intersect got(11L).map(_._1)
    assert(common.nonEmpty, "MOSS containment guarantee violated")
  }

  test("coverage: consecutive selected positions gap at most w") {
    val got = run(docs)
    for ((id, fps) <- got if fps.size > 1) {
      val ps = fps.map(_._2).toSeq.sorted
      ps.sliding(2).foreach { case Seq(a, b) =>
        assert(b - a <= W, s"doc $id: gap ${b - a} between $a and $b")
      }
    }
  }

  test("density: a w-shingle doc selects exactly one fingerprint per window min") {
    // doc 2: identical hashes everywhere => every window min is the
    // rightmost position of that window; distinct keys = distinct pos
    val got = run(docs)
    val fps = got(2L)
    assert(fps.map(_._1).size == 1, "one distinct hash")
    // 10 shingles, windows start 0..6, min = rightmost => pos s+3
    assert(fps.map(_._2) == Set(3L, 4L, 5L, 6L, 7L, 8L, 9L))
  }
}
