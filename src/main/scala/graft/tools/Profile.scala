package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.operators.{OrderPipeline, RefOrders}
import graft.sources.Tables

/** Dev profiling harness for the ref_* pipeline stages: times each prefix
  * of the synth → validate → enrich → project → envelope chain with a
  * noop sink so the stage deltas show where the per-query standalone cost
  * actually goes. Usage: dev/run.sh graft.tools.Profile [sfDir].
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Engine.tune(spark)
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(df: => DataFrame): Unit = {
      // warm once for JIT/codegen, then measure
      df.write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }

    time("scan lineitem")(Tables.lineitem(spark, sfDir))
    time("synth rawOrders")(RefOrders.rawOrders(spark, sfDir))
    time("+ validate")(OrderPipeline.validateOrders(RefOrders.rawOrders(spark, sfDir)))
    time("+ processOrders")(OrderPipeline.processOrders(RefOrders.rawOrders(spark, sfDir)))
    time("+ project only (no filter)") {
      OrderPipeline.projectEnriched(
        OrderPipeline.processOrders(RefOrders.rawOrders(spark, sfDir)))
    }
    time("+ filter only (no project)") {
      OrderPipeline.processOrders(RefOrders.rawOrders(spark, sfDir))
        .filter(col("is_valid"))
    }
    time("+ route(valid)+project") {
      val (valid, _) = OrderPipeline.route(OrderPipeline.processOrders(RefOrders.rawOrders(spark, sfDir)))
      OrderPipeline.projectEnriched(valid)
    }
    time("+ envelope(to_json)") {
      val (valid, _) = OrderPipeline.route(OrderPipeline.processOrders(RefOrders.rawOrders(spark, sfDir)))
      OrderPipeline.toConnectEnvelope(OrderPipeline.withKafkaKey(valid))
        .select(col("key"), col("value"))
    }

    // curation breakdown (see ProfileQuery for clean-process timings —
    // cache()/persist() probes in a shared process contaminate later
    // stages via CacheManager plan substitution)
    import graft.operators.{Curation, Dedup, TextAnalysis}
    def docs = Tables.documents(spark, sfDir)
    time("doc quality score only")(TextAnalysis.quality(docs, Seq("lang")))
    time("full qualityFilter")(Curation.qualityFilter(docs))

    // pipeline composition: the real query (lazy-checkpointed subtrees)
    // vs a no-persist rebuild of the same stages
    time("pipeline (real query)")(graft.SparkEntry.queries("q_pipeline_e2e")(spark, sfDir))
    time("pipeline, no persist") {
      val clean = Dedup.dedupedCorpus(Dedup.corpus(docs))
      val kept = clean.join(
        Curation.qualityFilter(clean).select(col("doc_id")), Seq("doc_id"))
      val sampled = kept.join(
        Curation.sampleStratified(kept).select(col("doc_id")), Seq("doc_id"))
      Curation.packSequences(sampled)
    }

    // dedup breakdown: candidates vs the CC loop
    time("minhash candidates")(Dedup.minhashCandidates(Dedup.corpus(docs)))
    val t0 = System.nanoTime()
    val clusters = Dedup.duplicateClusters(Dedup.minhashCandidates(Dedup.corpus(docs)))
    println(f"[profile] clusters eager (cands+loop) ${(System.nanoTime() - t0) / 1e9}%8.3f s" +
      s" (${Dedup.lastClusterRounds} rounds)")
    time("clusters result scan")(clusters)
    spark.stop()
  }
}
