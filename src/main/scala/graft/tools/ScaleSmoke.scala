package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale smoke: materialize a 10× replication of sf0.1 under
  * /tmp/graft_sf1 (one-time), run the heaviest catalog queries against
  * it, and print per-query wall-times next to their sf0.1 times — the
  * check that nothing goes super-linear one decade up.
  *
  * Replication preserves the workload's SHAPE instead of inflating it:
  *  - fact tables (lineitem, orders, events, documents, embeddings)
  *    get 10 copies with remapped keys; dimension tables stay single
  *    (exactly how a real star schema scales);
  *  - document copies replace every 3rd word with a copy+doc-specific
  *    token, so intra-copy near-dup structure mirrors the original
  *    while cross-copy Jaccard (~1/3) stays below every dedup
  *    threshold — pair counts scale ~10×, not quadratically;
  *  - embedding copies are cyclically rotated, so cross-copy cosines
  *    are uncorrelated and ANN/SemDeDup candidate sets scale linearly.
  */
object ScaleSmoke {
  private val Sf01 = "/root/testdata/sf0.1"
  private val Sf1 = "/tmp/graft_sf1"

  /** sf10 spot-materialization (r12 verdict task 3): a 100× replication
    * under /tmp/graft_sf10, same shape-preserving recipe as sf1, for
    * promoting the most scale-shape-sensitive entries two decades up.
    * `runMain graft.tools.ScaleSmoke gen-sf10` generates and exits
    * (the ledger run itself goes through Verify + tools/check.py with
    * DuckDB memory/spill caps, like the sf1 ledger).
    */
  private val Sf10 = "/tmp/graft_sf10"

  private val heavy = Seq(
    "q1_agg", "j3_profit_rollup", "tx8_tfidf", "c2_semantic_dedup",
    "d2_ngram_jaccard", "d4_simhash_pairs", "d6_dedup_groups",
    "d7_dedup_corpus", "d9_substring_dup", "d10_cross_dedup",
    "d11_dedup_keep_best", "d13_minhash_dedup", "tx9_annotate_bundle",
    "p10_source_cap", "st3_source_overlap", "d8c_bloom_decontaminated",
    // round 6: hash-first dedup, composed pipeline, heavy hitters,
    // encoding report, chunking, range/salted joins
    "d1b_dedup_exact_hash", "p13_corpus_pipeline", "st5_heavy_hitters",
    "tx13_encoding_quality", "p14_chunking", "j5_range_join",
    "j6_salted_join",
    // round 7: per-frame MJPEG bitstream decode (codec-bound — linear
    // in total frame pixels), sketch-tier numeric profile, saved dedup
    // index (build + serve), partition-scoped upsert (write-heavy)
    "mm4_mjpeg_pixels", "st2b_profile_sketch", "d15_saved_dedup_index",
    "z2_partition_upsert",
    // round 7b: event-sequence analytics (funnel join chain, single-
    // exchange retention/twap), bounded-heap ranking aggregates,
    // as-of attribution
    "a14_funnel", "a15_retention", "w4_twap", "p17_bottomk_sample",
    "st8_topk_docs", "j7_attribution",
    // round 7c: collocations (bigram wordcount), transition matrix +
    // user paths (user-keyed window/agg), stratified quotas, index
    // append (build+append+serve), decorrelated scalar subquery
    "tx16_collocations", "a17_transitions", "a18_user_paths",
    "p18_stratified_quota", "d16_index_append", "u4_scalar_subquery",
    // round 7d: hop latency (frontier joins), decayed engagement,
    // centroid outliers (narrow), footer audit (write + footer
    // fan-out), count-min, linear attribution (range join), filtered
    // ANN, OHLC bars, SCD2 history (user window over the corpus)
    "a20_funnel_hop_times", "a21_decayed_engagement",
    "c6_centroid_outliers", "z4_file_stats", "st9_countmin",
    "j9_linear_attribution", "s14_filtered_ann", "w6_ohlc_bars",
    "a19_state_history",
    // round 7e: iterative graph centrality (per-step edge join +
    // agg), sketch set algebra (one corpus exchange), drift report
    "g1_pagerank", "g2_personalized_pagerank", "g3_hits", "st10_vocab_overlap",
    "v2_profile_drift",
    // round 8: analytic pair reports (signature-group occupancies),
    // LSH calibration (sampled exact-Jaccard audit), soft dedup
    // (1/group-size gate over components), inference batching
    // (per-(shard,bucket) windows), time-sliced mixture drift
    "d4b_simhash_stats", "d3b_minhash_stats", "d3c_lsh_calibration",
    "d17_soft_dedup", "p19_length_batches", "v3_time_share_drift",
    // round 15 (optimization): the two reshaped batch queries — the
    // one-range-exchange state build (high-cardinality keyby) and the
    // sequence() week spine — so their scale curves are smoke-checked
    // in the same harness that vetted the originals
    "t3_state_when_filter", "u6_recursive_spine")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.build(s"local[$cpus]", "graft-scale-smoke", cpus.toInt)
    if (args.headOption.contains("gen-sf10")) {
      if (!new java.io.File(s"$Sf10/_DONE").exists())
        generate(spark, Sf10, copies = 100)
      else println(s"$Sf10 already materialized")
      spark.stop()
      return
    }
    if (!new java.io.File(s"$Sf1/_DONE").exists()) generate(spark, Sf1, copies = 10)

    def time(dir: String, name: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = Probe.fullOutputRows(graft.SparkEntry.queries(name)(spark, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (dt, rows)
    }
    val results = heavy.map { name =>
      time("/root/testdata/sf0.001", name) // codegen/JIT warmup per query
      val (t01, r01) = time(Sf01, name)
      val (t1, r1) = time(Sf1, name)
      println(f"$name%-22s sf0.1 $t01%7.2f s/$r01%d rows   sf1 $t1%7.2f s/$r1%d rows" +
        f"   ratio ${t1 / t01}%5.1f×")
      (name, t01, t1, r01, r1)
    }
    // super-linear TIME with sub-linear OUTPUT growth is a compute
    // defect; time tracking output cardinality (pair enumerators on
    // dup-dense corpora) is the operator doing its job
    val bad = results.filter { case (_, a, b, ra, rb) =>
      b / a > 20.0 && rb.toDouble / math.max(ra, 1) < b / a }
    println(if (bad.isEmpty) "SCALE_SMOKE_OK: no compute-super-linear query at 10x data"
      else s"SCALE_SMOKE_SUSPECT: ${bad.map(_._1).mkString(", ")}")
    spark.stop()
  }

  private def generate(spark: SparkSession, dst: String, copies: Int): Unit = {
    def fanout(name: String, perturb: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$Sf01/$name.parquet")
      (0 until copies).map(i => perturb(base, i))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    // dimension tables: single copy (star-schema scaling)
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$Sf01/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    fanout("lineitem", (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L)))
    fanout("orders", (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 100000000L)))
    fanout("events", (df, i) => df
      .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))
      .withColumn("user_id", col("user_id") + lit(i.toLong * 1000000L)))
    fanout("documents", (df, i) => df
      .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
      .withColumn("text", concat_ws(" ",
        transform(split(col("text"), " "), (w, j) =>
          when(j % 3 === 2,
            concat(lit(s"c${i}x"), pmod(col("doc_id"), lit(97)))).otherwise(w))))
      .withColumn("n_chars", length(col("text")).cast("long")))
    fanout("embeddings", (df, i) => {
      // cyclic rotation decorrelates cross-copy cosines; at copies > 10
      // the raw i*6 offset overruns the 64-dim vector, so rotate by
      // (i*6 mod 64) and add a tiny copy-specific sign flip on one
      // coordinate when the rotation aliases back to 0 (i multiple of
      // 32) — copies must never be bitwise-identical vectors or
      // SemDeDup/ANN candidate sets go quadratic in the copy count
      val rot = (i * 6) % 64
      val rotated =
        if (rot == 0 && i == 0) col("embedding")
        else if (rot == 0)
          concat(slice(col("embedding"), 2, 63),
            transform(slice(col("embedding"), 1, 1), x => -x))
        else concat(slice(col("embedding"), rot + 1, 64 - rot),
          slice(col("embedding"), 1, rot))
      df.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L))
        .withColumn("embedding", rotated)
    })
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$dst/_DONE"))
  }
}
