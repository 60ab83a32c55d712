package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // Warm on the MEASURED scale factor, not sf0.001 (see QueryRun.warm).
    QueryRun.warm(spark, sfDir)
    // optional args = query-name filter (dev profiling; the driver passes none)
    val selected =
      if (args.isEmpty) SparkEntry.queries.keys
      else SparkEntry.queries.keys.filter(args.toSet)
    // noop sink: forces every output column to be fully computed —
    // count() would let Catalyst prune the projection and under-measure
    // map-heavy queries. A failed or timed-out query must not read as a
    // fast success: mark it -1.
    def timeOnce(name: String): Double = {
      val o = QueryRun(spark, name, sfDir, QueryRun.Deadline)(
        _.write.format("noop").mode("overwrite").save())
      if (o.ok) o.totalS
      else { System.err.println(s"[bench] $name: ${o.failure}"); -1.0 }
    }
    // min of 2 runs: a shared driver machine inflated r5 readings 15-18×
    // (q1_agg 25.94 s driver vs 1.40 s idle) — two timings make one noisy
    // neighbor unable to paint a phantom hotspot, and the min is the
    // honest estimate of the query's own cost. Skip the retry on failure:
    // a deterministic error would just fail twice. CAVEAT the min cannot
    // hide: the first caller of a memoized stage (dedup clusters, k-means
    // centroids) pays the build in t1 and rides the memo in t2, so the
    // min is always the warm time — `queries_first` keeps each query's
    // FIRST timing so the one-time build cost stays visible per round.
    // …and when t1 was a memo-build outlier (t1 > 1.5·t2), the min so far
    // is a SINGLE steady-state sample — one noisy neighbor away from a
    // phantom regression (r11: two disjoint false-positive sets across the
    // driver and judge runs). A third timing in exactly that case makes
    // the regression-gated number min-of-2 STEADY-STATE samples for every
    // query, at the cost of one extra warm run per memoized query.
    // A failed t3 after two SUCCESSFUL runs falls back to min(t1, t2)
    // rather than reporting the query failed — the de-noising retry must
    // not introduce a failure mode the 2-run spelling didn't have.
    val timed = selected.map { name =>
      val t1 = timeOnce(name)
      val t2 = if (t1 >= 0) timeOnce(name) else t1
      val ran3 = t1 >= 0 && t2 >= 0 && t1 > 1.5 * t2
      val t3 = if (ran3) timeOnce(name) else t1
      val mn =
        if (t1 < 0 || t2 < 0) -1.0
        else if (t3 < 0) math.min(t1, t2)
        else math.min(math.min(t1, t2), t3)
      val samples = if (t1 < 0) Seq(t1) else if (ran3) Seq(t1, t2, t3) else Seq(t1, t2)
      name -> ((mn, samples))
    }.toMap
    val results = timed.map { case (k, (mn, _)) => k -> mn }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Locale.ROOT: a comma-decimal default JVM locale would corrupt the
    // machine-parsed JSON with "1,40"-style numbers
    def d2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val firsts = timed.map { case (k, (_, ts)) => s"\"" + k + "\":" + d2(ts.head) }
      .mkString("{", ",", "}")
    // ALL raw timings per query (t1[, t2[, t3]]), not just the min: the
    // r12 driver-env artifact carried four phantom steady-state
    // regressions that only cross-artifact comparison could refute — with
    // the per-query spread visible, any consumer can see whether a flagged
    // min rests on one noisy sample, and the round-over-round gate can
    // require a regression to reproduce across independent artifacts.
    val samples = timed.map { case (k, (_, ts)) =>
      s"\"" + k + "\":" + ts.map(d2).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_first":$firsts,"samples":$samples,"sf":"$sfDir"}"""
    println(fullJson)
    // The driver's stdout capture truncates the single long per-query line
    // (r4 and r6: parsed=null) — persist the FULL per-query + cold maps to
    // a file so round-over-round per-query diffs never depend on capture-
    // window luck. The path is advertised on the compact summary line.
    // cwd-relative default (works on any checkout); BENCH_FULL.json is
    // gitignored so a later `git add -A` can't commit a benchmark dump
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    def writeJson(path: String): Unit =
      try {
        val w = new java.io.PrintWriter(path, "UTF-8")
        try w.println(fullJson) finally w.close()
      } catch { case e: Throwable => System.err.println(s"[bench] write $path: ${e.getMessage}") }
    writeJson(outPath)
    // Immutable per-round snapshot: BENCH_FULL.json is overwritten by
    // every bench invocation, so a later dev rerun can clobber a round's
    // closing artifact (it happened in round 8). Full (unfiltered) runs
    // also write BENCH_FULL_r{N}.json — N from SPARK_GRAFT_ROUND when the
    // driver provides it, else 1 + the largest committed BENCH_r{N}.json
    // in cwd — which IS git-tracked, giving each round a durable
    // per-query map.
    if (args.isEmpty) {
      val round = sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption).orElse {
        val re = "BENCH_r(\\d+)\\.json".r
        Option(new java.io.File(".").list()).map(_.toSeq.collect {
          case re(n) => n.toInt
        }).filter(_.nonEmpty).map(_.max + 1)
      }
      round.foreach(r => writeJson(f"BENCH_FULL_r$r%02d.json"))
    }
    // Second SHORT summary line: the compact tail keeps the round-over-round
    // total machine-readable even if the long line above is clipped.
    val failed = results.count(_._2 < 0)
    val slow = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + d2(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total_summary","value":${d2(total)},"unit":"sec","n_queries":${results.size},"n_failed":$failed,"full_json_file":"$outPath","slowest":$slow}""")
    spark.stop()
  }
}
