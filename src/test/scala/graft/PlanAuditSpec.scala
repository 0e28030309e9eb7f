package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that keep these operators fast
  * at 100 TB must hold in the optimized plan, not just in intent —
  * filter/column pushdown into the parquet scan, dim-table broadcast,
  * partial (map-side) aggregation before the exchange.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("T9 time gate: predicate pushed to the parquet reader") {
    val p = plan(graft.state.StateOps.timeGate(
      graft.core.Tables.load(spark, dir, "orders"), "o_orderdate",
      java.sql.Timestamp.valueOf("1997-06-01 00:00:00")))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"), p)
  }

  test("projection prunes the scan to referenced columns only") {
    val li = graft.core.Tables.load(spark, dir, "lineitem")
    val p = plan(li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s")))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>"), p)
  }

  test("q1-style aggregate does map-side partial aggregation") {
    val li = graft.core.Tables.load(spark, dir, "lineitem")
    val p = plan(li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s")))
    // partial HashAggregate below the exchange, final above
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange hashpartitioning(l_returnflag"), p)
  }

  test("j1 join broadcasts the dimension side") {
    val o = graft.core.Tables.load(spark, dir, "orders")
    val n = graft.core.Tables.load(spark, dir, "nation")
    val p = plan(o.join(broadcast(n), col("o_custkey") % 25 === col("n_nationkey")))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("lastByKey does map-side partial aggregation, one exchange, no object-agg") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val p = plan(graft.state.StateOps.lastByKey(ev, Seq("user_id"), "event_id"))
    // max(struct) lowers to SortAggregate (structs aren't hash-agg
    // buffer types) — measured faster than max_by's ObjectHashAggregate
    // (see StateOps.lastByKey); the scale-critical properties are the
    // partial aggregate BELOW the single keyed exchange:
    assert(p.contains("partial_max"), p)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p)
    assert(!p.contains("ObjectHashAggregate"), p)
  }

  test("fanOut: repartitions a one-file input, no-ops a well-split one (r15)") {
    val one = graft.core.Tables.load(spark, dir, "documents") // 1 split
    val cores = spark.sparkContext.defaultParallelism
    assert(one.rdd.getNumPartitions < cores) // precondition of the test
    val fanned = graft.core.Tables.fanOut(one)
    assert(fanned.rdd.getNumPartitions === cores)
    // same row multiset either way (round-robin only moves rows)
    assert(fanned.groupBy().count().head.getLong(0) ===
      one.groupBy().count().head.getLong(0))
    val wide = one.repartition(cores) // already at session parallelism
    assert(graft.core.Tables.fanOut(wide) eq wide) // literal no-op
  }

  test("lastByKeyRanged + scan share ONE range exchange (r15: the t3 shape)") {
    val li = graft.core.Tables.load(spark, dir, "lineitem")
      .withColumn("_seq", col("l_orderkey") * 100 + col("l_linenumber"))
    val keys = Seq("l_partkey", "l_suppkey")
    val p = plan(graft.state.StateOps.scan(
      graft.state.StateOps.lastByKeyRanged(li, keys, "_seq"), keys))
    // the range exchange below the aggregate serves the scan's ORDER BY
    // too: exactly one Exchange in the whole plan, and it is a range one
    assert("Exchange rangepartitioning".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("d5 embedding near-dup (blocked) plans a bucket equi-join, no nested-loop") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val p = plan(graft.pipeline.Dedup.embeddingNearDupPairs(
      emb, "vec_id", "embedding", 0.45, blocked = true))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("IVF cell assignment is narrow: no Exchange before the probe join") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    // Mirror ivfTopK's assign stage: corpus → (id, vec, cell). The whole
    // stage must be a narrow projection over the scan — any Exchange or
    // Window here would shuffle N×C rows at scale.
    val out = graft.pipeline.Similarity.ivfTopK(
      emb, emb.filter(col("vec_id") < 4),
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 104),
      "vec_id", "embedding", k = 2)
    val p = plan(out)
    // exactly ONE window operator (the final per-query top-k) — the old
    // assignment computed argmax via row_number over N×C scored rows
    assert("Window \\[".r.findAllIn(p).size === 1, p)
    // and only the exchanges the probe join + final top-k need: one
    // BroadcastExchange (query side), one hashpartitioning(qid) for the
    // top-k window; corpus assignment itself never shuffles
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"assignment leaked a shuffle ($shuffles hash exchanges):\n$p")
  }

  test("dedup candidate joins are bucket equi-joins: no nested-loop anywhere") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val plans = Seq(
      graft.pipeline.Dedup.jaccardPairs(docs, "doc_id", "text"),
      // the CATALOG d2 entry (r12: corpus augmented with the planted
      // twin slice) — the union feed must not change the join shape
      graft.SparkEntry.queries("d2_ngram_jaccard")(spark, dir),
      graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text"),
      graft.pipeline.Dedup.simhashPairs(docs, "doc_id", "text"),
      graft.pipeline.Dedup.containmentPairs(docs, "doc_id", "text"),
      graft.pipeline.Dedup.winnowPairs(docs, "doc_id", "text",
        k = 20, w = 8, minShared = 2, maxDf = 100)).map(plan)
    plans.foreach { p =>
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
      assert(!p.contains("CartesianProduct"), p.take(4000))
    }
  }

  test("event-analytics additions: keyed windows, bounded pair joins, no cartesian") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    // cusum: both sides + clamping mins ride keyed windows — exactly
    // one hash exchange on the key, never a global window
    val pc = plan(graft.operators.EventAnalytics.cusum(
      ev, "user_id", "ts", "value", 50.0, 10.0, 300.0,
      orderCols = Seq("event_id")))
    assert(pc.contains("hashpartitioning(user_id"), pc.take(3000))
    assert(!pc.contains("Exchange SinglePartition"), pc.take(3000))
    // co-occurrence: the session pair join is an equi-join on
    // (key, sid); the only nested-loop is the 1-row totals broadcast
    val pco = plan(graft.operators.EventAnalytics.cooccurrence(
      ev, "user_id", "ts", "event_type"))
    assert(!pco.contains("CartesianProduct"), pco.take(4000))
    // hour profile: cells partial-agg'd; windows partitioned by type
    val ph = plan(graft.operators.EventAnalytics.hourOfDayProfile(
      ev, "event_type", "ts"))
    assert(ph.contains("hashpartitioning(event_type"), ph.take(3000))
    assert(!ph.contains("Exchange SinglePartition"), ph.take(3000))
  }

  test("late-session additions: no cartesian products, metadata frames broadcast") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val edges = graft.pipeline.GraphOps.transitionEdges(
      ev, "user_id", get_json_object(col("props"), "$.k"), "ts",
      tieCols = Seq("event_id"))
    val plans = Seq(
      graft.operators.EventAnalytics.leadLag(ev, "event_type", "ts",
        "view", "purchase"),
      graft.pipeline.Dedup.dedupSavings(docs, "doc_id", "text",
        graft.pipeline.GraphOps.labelPropagation(edges, 1)
          .select(col("id"), col("lbl").as("component"))),
      graft.pipeline.GraphOps.modularity(edges,
        graft.pipeline.GraphOps.labelPropagation(edges, 1))).map(plan)
    plans.foreach { p =>
      assert(!p.contains("CartesianProduct"), p.take(4000))
    }
  }

  test("corpus text audits: one token exchange, windows only over metadata rows") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    // vocabGrowth: the only SinglePartition window runs over <= buckets
    // rows; the max-id bound rides as a broadcast, never a shuffle of
    // the token frame
    val pg = plan(graft.pipeline.Curation.vocabGrowth(docs, "doc_id", "text", 10))
    assert(pg.contains("BroadcastExchange"), pg.take(3000))
    assert(!pg.contains("CartesianProduct"), pg.take(3000))
    // zipfAudit: global top-K is TakeOrderedAndProject (per-partition
    // heaps), never a full Sort of the vocabulary frame
    val pz = plan(graft.pipeline.Curation.zipfAudit(docs, "text", 20))
    assert(pz.contains("TakeOrderedAndProject"), pz.take(3000))
    // boilerplateReport: line counts partial-agg'd on (source, hash);
    // no nested-loop, no global window
    val pb = plan(graft.pipeline.Curation.boilerplateReport(
      docs, "doc_id", "text", "source"))
    assert(!pb.contains("BroadcastNestedLoopJoin"), pb.take(3000))
    assert(!pb.contains("Exchange SinglePartition"), pb.take(3000))
  }

  test("pair REPORTS never materialize doc-level pairs: no doc-id join keys") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val plans = Seq(
      graft.pipeline.Dedup.simhashPairStats(docs, "doc_id", "text"),
      graft.pipeline.Dedup.minhashPairStats(docs, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.5)).map(plan)
    plans.foreach { p =>
      // enumeration artifacts would surface as id1/id2 pair columns;
      // the analytic report must compute from signature-level frames
      assert(!p.contains("id1#") && !p.contains("id2#"), p.take(4000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
      assert(!p.contains("CartesianProduct"), p.take(4000))
    }
  }

  test("inference batching: per-(shard,bucket) window, never a global sort") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.lengthBucketedBatches(
      docs, "doc_id", "text"))
    assert(p.contains("Window"), p.take(3000))
    // the window must be partitioned (one hash exchange), not global
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
    assert(p.contains("hashpartitioning(shard"), p.take(3000))
  }

  test("time-share drift: counts partial-agg'd, verdict joins metadata frames") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val p = plan(graft.pipeline.Curation.timeSlicedShareDrift(
      ev, "ts", Seq("event_type"), bucket = "day"))
    assert(p.contains("partial_count") || p.contains("partial_"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("lsh calibration: doc sets join only the SAMPLED pair frame") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Dedup.lshCalibrationReport(
      docs, "doc_id", "text"))
    // the 1-in-k sample gate must sit below the set joins, so the
    // shingle-set side joins a sampled frame, not the full pair set
    assert(p.contains("% 7) = 0") || p.contains("% 7)) = 0"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("j3 six-table rollup: all dims broadcast, exactly one hash-agg shuffle") {
    val p = plan(graft.RelationalQueries.all("j3_profit_rollup")(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(3000))
    assert(!p.contains("SortMergeJoin") || "SortMergeJoin".r.findAllIn(p).size <= 1, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("d8 decontamination: benchmark side broadcast, corpus text never shuffles") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.contaminationOverlap(
      docs.filter(col("doc_id") % 37 =!= 0), docs.filter(col("doc_id") % 37 === 0),
      "doc_id", "text", n = 5))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(3000))
    // only two keyed exchanges are admissible: the tiny bench-side
    // distinct and the final per-doc count — the corpus probe itself
    // must be broadcast, never a corpus shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(3000))
  }

  test("d8c bloom decontamination: corpus side is a pure narrow filter, zero exchanges") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.bloomDecontaminate(
      docs.filter(col("doc_id") % 37 =!= 0), docs.filter(col("doc_id") % 37 === 0),
      "doc_id", "text", n = 5, mBits = 1 << 16, k = 4)
      .select(col("doc_id"), col("n_chars")))
    // the bitset is plan metadata — no join, no exchange, no state;
    // this is the property that distinguishes the bloom path from d8
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(3000))
    assert(p.contains("graft_bloom_any"), p.take(3000))
  }

  test("p11 token budget: one metadata agg, rate side broadcast, corpus filter narrow") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.tokenBudgetSample(
      docs, "doc_id", "source", "text", Map("src0" -> 800L), defaultBudget = 600L)
      .select(col("doc_id"), col("source")))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(3000))
    // the only keyed exchange is the per-source token total (partial-agg'd)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p.take(3000))
    assert(p.contains("partial_sum") || p.contains("partial sum"), p.take(3000))
  }

  test("p25 mixture plan: corpus feeds one partial-agg'd exchange; the weight join is metadata-only") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.mixturePlan(
      docs, "lang", "text", budget = 1000000L,
      weightsPm = Map("en" -> 500L, "zh" -> 500L)))
    // the corpus contributes ONE partial-agg'd stratum exchange; the
    // FULL OUTER join against the weight table (which surfaces
    // weighted-but-absent strata) re-exchanges only the ≤|strata|
    // aggregate rows and the weight literals — never corpus rows
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p.take(3000))
    assert(p.contains("FullOuter"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct") &&
      !p.contains("Window"), p.take(3000))
    assert(p.contains("partial_sum") || p.contains("partial sum"), p.take(3000))
    // the join's children are the aggregate and a LocalTableScan of
    // the weight literals — the corpus scan sits BELOW the aggregate,
    // so corpus rows never reach the join
    assert(p.contains("LocalTableScan"), p.take(3000))
  }

  test("tx10 perplexity: threshold windows see histogram rows only, labels broadcast") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.perplexityBuckets(
      docs, "doc_id", "text", "lang", (0 until 64).map(b => (b * 7L) % 500L)))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(3000))
    // every Window's child chain must include the histogram aggregate —
    // no window directly over un-aggregated corpus rows (the p8b rule):
    // exchanges = (lang, score) histogram partial-agg + the histogram
    // window repartition; the scoring pass itself adds none
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p.take(3000))
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      p.contains("HashAggregate"), p.take(3000))
  }

  test("p2 packing: one shard exchange, one window — no global single-partition sort") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.packChunks(docs, "doc_id", "text", 512, 8))
    assert("Window \\[".r.findAllIn(p).size === 1, p.take(3000))
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(p).size === 1, p.take(3000))
    // the scale-killer shape would be Exchange SinglePartition
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("p1 hash sample is a pure narrow filter: zero exchanges") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(docs.filter(graft.pipeline.Curation.hashSample("doc_id", 10))
      .select(col("doc_id"), col("lang")))
    assert(!p.contains("Exchange"), p.take(3000))
  }

  test("kmeans: narrow assignment; one (cell,dim) partial-agg shuffle per round") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val cents = graft.pipeline.Clustering.seedCentroids(emb, "vec_id", "embedding", 4)
    // assignment is a pure projection over the scan — zero exchanges
    val assignP = plan(emb.select(col("vec_id"),
      graft.pipeline.Clustering.assignCell(col("embedding"), cents.toIndexedSeq).as("cell")))
    assert(!assignP.contains("Exchange"), assignP)
    // the Lloyd-round (cell,dim) aggregation: partial agg below
    // exactly ONE keyed exchange — the round's only shuffle
    val sumsP = plan(graft.pipeline.Clustering.lloydSums(
      emb, "embedding", cents.toIndexedSeq))
    assert("Exchange".r.findAllIn(sumsP).size === 1, sumsP)
    assert(sumsP.contains("partial_sum"), sumsP)
    // whole loop (incl. driver fold) runs
    assert(graft.pipeline.Clustering.kmeansAssign(emb, "vec_id", "embedding",
      k = 4, iters = 1).count() > 0)
  }

  test("c2 semantic dedup joins on the cell only — no nested-loop") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val cents = graft.pipeline.Clustering.seedCentroids(emb, "vec_id", "embedding", 4)
    val p = plan(graft.pipeline.Clustering.semanticDupPairsWith(
      emb, "vec_id", "embedding", cents, 0.4))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("_cell"), p) // the equi-join key is the cell
  }

  test("c8 semantic decontamination: eval side broadcast, cell equi-join, no nested-loop") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val p = plan(graft.pipeline.Clustering.semanticDecontaminate(
      emb.filter(col("vec_id") % 23 =!= 0), emb.filter(col("vec_id") % 23 === 0),
      "vec_id", "embedding", k = 4, threshold = 0.4, iters = 1))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(4000))
    // the probe join carries the broadcast eval side on the cell key;
    // a corpus-x-corpus shuffle join here would be the scale-killer
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("_cell"), p.take(4000))
  }

  test("d9 substring-dup: hash-keyed equi-joins only, partial-agg'd gram counts") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Dedup.substringDupStats(docs, "doc_id", "text"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    // gram-frequency count and the per-doc rollup both partial-aggregate
    assert(p.contains("partial_count"), p.take(4000))
  }

  test("PQ encode is pure narrow: zero exchanges; ADC top-k broadcasts queries only") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val cbs = graft.pipeline.Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, k = 8)
    val pEnc = plan(graft.pipeline.Similarity.pqEncode(emb, "vec_id", "embedding", cbs))
    assert(!pEnc.contains("Exchange"), pEnc.take(4000))
    val pTop = plan(graft.pipeline.Similarity.pqTopK(
      emb, emb.filter(col("vec_id") < 4), "vec_id", "embedding", k = 2, cbs))
    // corpus side: encode + reconstruct narrow; the only hash exchange
    // feeds the final per-query top-k window, queries broadcast
    assert("Exchange hashpartitioning".r.findAllIn(pTop).size <= 1, pTop.take(4000))
    assert(pTop.contains("BroadcastExchange"), pTop.take(4000))
  }

  test("s8 re-rank: candidate fetch broadcasts the pool, corpus never nested-loops") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val cbs = graft.pipeline.Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, k = 8)
    val p = plan(graft.pipeline.Similarity.pqRerankTopK(
      emb, emb.filter(col("vec_id") < 4), "vec_id", "embedding", k = 2, kCoarse = 6, cbs))
    // stage-2 exact fetch must be BROADCAST hash joins (candidate pool
    // + queries both broadcast-sized); the only nested loop allowed is
    // stage-1's ADC scoring against the broadcast query set — never an
    // un-broadcast cartesian
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    // per-query windows (stage-1 pool + stage-2 re-rank) are the only
    // hash exchanges — the corpus itself is never hash-shuffled
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(4000))
  }

  test("bm25: narrow tf folds, one stats broadcast, top-k never a corpus window") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.bm25TopK(
      docs, "doc_id", "text", Seq("spark", "window"), k = 5))
    // global top-k must be per-partition heaps (TakeOrderedAndProject),
    // with the unpartitioned rank window running AFTER the limit —
    // never a single-task window over corpus rows
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    // stats ride a broadcast; the corpus itself is never hash-shuffled
    assert(p.contains("BroadcastExchange"), p.take(4000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(4000))
  }

  test("j5 range join: bucket expansion plans an equi-join, never a nested loop") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val pts = ev.select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p"))
    val wins = ev.filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("win_id"), col("user_id").as("w_user"),
        unix_micros(col("ts")).as("lo"), (unix_micros(col("ts")) + lit(7200000000L)).as("hi"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(graft.operators.RangeJoin.pointInRange(
        pts, wins, "p", "lo", "hi", 3600000000L, Seq("user_id" -> "w_user")))
      // the whole point: the BETWEEN predicate rides an equi-join on
      // (bucket, user) — with broadcast off, a naive range join would
      // be a CartesianProduct/BroadcastNestedLoopJoin
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        p.take(4000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(4000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("j6 salted join: the salt is part of the join distribution") {
    val li = graft.core.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"))
    val ord = graft.core.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(graft.operators.SkewJoin.saltedJoin(
        li, ord, "l_orderkey", "o_orderkey",
        col("l_orderkey") * lit(31) + col("l_linenumber"), salts = 8))
      // hot-key rows must be spread over salts tasks: the exchanges
      // hash on (key, salt), not key alone
      assert(p.contains("_lsalt") && p.contains("_rsalt"), p.take(4000))
      assert("Exchange hashpartitioning\\(l_orderkey[^)]*_lsalt".r.findFirstIn(p).nonEmpty,
        p.take(4000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("b1 bucketed join: co-located fact tables join with ZERO exchange") {
    val li = graft.pipeline.Layout.bucketedTable(spark,
      graft.core.Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice")),
      "audit_b1_li", "l_orderkey", 8, "/tmp/graft_audit_b1/li")
    val ord = graft.pipeline.Layout.bucketedTable(spark,
      graft.core.Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
      "audit_b1_ord", "o_orderkey", 8, "/tmp/graft_audit_b1/ord")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(li.join(ord, col("l_orderkey") === col("o_orderkey")))
      // both sides read pre-distributed bucket files: the sort-merge
      // join plans with NO Exchange of any kind — the write-time
      // shuffle is the only one this join ever pays
      assert(p.contains("SortMergeJoin"), p.take(4000))
      assert(!p.contains("Exchange"), p.take(4000))
      assert(p.contains("SelectedBucketsCount"), p.take(4000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("v1 snapshot diff: only (id, md5) rows shuffle, never document text") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.snapshotDiff(
      docs.filter(col("doc_id") % 2 === 0), docs, "doc_id", Seq("text", "lang")))
    // full-outer equi-join: one hash exchange per side, fed by the
    // md5 projection — the exchange carries fixed-width digests
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p.take(4000))
    assert("md5".r.findAllIn(p).size >= 2, p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(4000))
    // text is consumed by the md5 projection at the scan and never
    // appears in the join output
    val joinOut = p.linesIterator.find(_.contains("SortMergeJoin")).getOrElse("")
    assert(!joinOut.contains("text"), joinOut)
  }

  test("p5 shuffle order: one shard exchange, partition-local window") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.shuffleOrder(docs, "doc_id", epoch = 1, shards = 8))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(4000))
    assert(!p.contains("Exchange SinglePartition"), p.take(4000))
  }

  test("tx7 quality filter and p4 upsample are narrow: zero exchanges") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val pTx7 = plan(graft.pipeline.Curation.gopherFilter(
      docs.select(col("doc_id"), col("text")), "text"))
    assert(!pTx7.contains("Exchange"), pTx7)
    val pP4 = plan(graft.pipeline.Curation.upsample(
      docs.select(col("doc_id"), col("lang")), "doc_id", "lang",
      Map("en" -> 250), defaultPct = 50))
    assert(!pP4.contains("Exchange"), pP4)
  }

  test("st1 corpus stats: grouping sets expand below one partial-agg'd exchange") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.corpusStats(docs, Seq("lang", "source"), "text"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(4000))
    assert(p.contains("partial_count") || p.contains("Expand"), p.take(4000))
  }

  test("p6 DSIR scoring pass is pure narrow: zero exchanges after the bucket metadata") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.importanceWeights(
      docs.filter(col("doc_id") % 41 =!= 0), docs.filter(col("doc_id") % 41 === 0),
      "doc_id", "text", n = 2, buckets = 64))
    assert(!p.contains("Exchange"), p.take(4000))
  }

  test("d10 cross-corpus dedup: band-bucket equi-join, never nested-loop") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Dedup.crossCorpusDedup(
      docs.filter(col("doc_id") % 3 =!= 0), docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("s5 IVF-PQ: narrow assignment+encode, queries broadcast, cell equi-join") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val cbs = graft.pipeline.Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, k = 8)
    val p = plan(graft.pipeline.Similarity.ivfPqTopK(
      emb, emb.filter(col("vec_id") < 4),
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 104),
      "vec_id", "embedding", k = 2, cbs))
    // the only hash exchange feeds the final per-query top-k window
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p.take(4000))
    assert(p.contains("BroadcastExchange"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("p9 classifier and p7 splits are narrow: zero exchanges") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val pP9 = plan(docs.select(col("doc_id"),
      graft.pipeline.Curation.linearClassifierScore(col("text"),
        graft.pipeline.Curation.lcgWeights(64), 64).as("logit")))
    assert(!pP9.contains("Exchange"), pP9.take(4000))
    val pP7 = plan(docs.select(col("doc_id"),
      graft.pipeline.Curation.splitAssign("doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5)).as("split")))
    assert(!pP7.contains("Exchange"), pP7.take(4000))
  }

  test("s6 nprobe: still a cell equi-join with broadcast queries, no nested-loop") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val p = plan(graft.pipeline.Similarity.ivfTopK(
      emb, emb.filter(col("vec_id") < 4),
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 104),
      "vec_id", "embedding", k = 2, nprobe = 2))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p.take(4000))
    assert(p.contains("BroadcastExchange"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    // hard-negative mining rides the identical cell equi-join; the
    // per-pair label predicate must not degrade it to a nested loop
    val ph = plan(graft.pipeline.Similarity.hardNegatives(
      emb, emb.filter(col("vec_id") < 4),
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 104),
      "vec_id", "embedding", "label", k = 2, nprobe = 2))
    assert("Exchange hashpartitioning".r.findAllIn(ph).size <= 1, ph.take(4000))
    assert(ph.contains("BroadcastExchange"), ph.take(4000))
    assert(!ph.contains("BroadcastNestedLoopJoin"), ph.take(4000))
  }

  test("p8b quantile selection: no window over raw corpus rows, histogram exchange keyed by bucket") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val df = graft.pipeline.Curation.selectAboveQuantile(
      docs.select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality")),
      "lang", "quality", keepPct = 20)
    // every Window must consume AGGREGATED (histogram) input — a
    // Window directly over the corpus scan is the p8 skew shape this
    // path exists to avoid (a corpus-scale stratum on one task)
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, lp.toString.take(3000))
    wins.foreach { w =>
      val aggBelow = w.child.collectFirst { case a: Aggregate => a }.isDefined
      assert(aggBelow, s"Window over un-aggregated input:\n${w.toString.take(2000)}")
    }
    val p = plan(df)
    // the only stratum-keyed exchange moves PARTIAL-AGGREGATED
    // histogram rows (≤ maps×buckets per stratum, never corpus rows):
    // map-side combine below it, and no other shuffle anywhere — the
    // corpus side reaches the broadcast join scan→filter→probe, narrow
    assert(p.contains("partial_count"), p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(3000))
    // threshold application is a broadcast join + narrow filter
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("p20 rank ensemble: exact global ranks with no range exchange, windows over histograms only") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val df = graft.pipeline.Curation.rankEnsemble(
      docs.select(col("doc_id"),
        (graft.functions.TextFunctions.qualityScore(col("text")) * 1048576.0)
          .cast("long").as("q"),
        (graft.functions.TextFunctions.punctRatio(col("text")) * 1048576.0)
          .cast("long").as("p"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("ntok")),
      "doc_id", Seq(("q", false), ("p", true), ("ntok", false)), keepPct = 20)
    // a global rank() would be an Exchange rangepartitioning (global
    // sort) over corpus rows — the exact shape this operator avoids
    val p = plan(df)
    assert(!p.contains("Exchange rangepartitioning"), p.take(4000))
    // every window consumes aggregated (histogram) input, never the scan
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, lp.toString.take(3000))
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"Window over un-aggregated input:\n${w.toString.take(2000)}")
    }
    // histogram exchange is partial-agg'd; rank pickup is broadcast
    assert(p.contains("partial_count"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the only nested-loop is the Cross against the 1-row count frame
    // (the repo-wide accepted shape for scalar broadcast)
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).toList
    assert(bnlj.size == 1 && bnlj.head.contains("Cross"), p.take(3000))
  }

  test("d1 exact-dedup groups: one partial-agg'd hash exchange, no added shuffles") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val df = graft.pipeline.Dedup.exactGroups(docs, "text", "doc_id")
    val p = plan(df)
    // partial min/count below the single text-keyed exchange (the
    // r4 bench delta on d1 was noise — pin the shape so a regression
    // can't hide)
    assert(p.contains("partial_min") || p.contains("partial_count"), p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
    assert(!p.contains("ObjectHashAggregate"), p.take(3000))
  }

  test("tx9 annotation bundle: one scan, zero exchanges, fully fused") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val df = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("quality"),
      graft.functions.TextFunctions.langId(col("text")).as("lang_detected"),
      graft.functions.TextFunctions.repetitionRatio(col("text")).as("repetition"))
    val p = plan(df)
    assert(!p.contains("Exchange"), p.take(3000))
    assert("FileScan".r.findAllIn(p).size === 1, p.take(3000))
  }

  test("st2b sketch profile: ONE FileScan carries all per-column distinct counts") {
    val li = graft.core.Tables.load(spark, dir, "lineitem")
    val df = graft.pipeline.Curation.numericProfileSketch(li,
      Seq("l_orderkey", "l_partkey", "l_quantity"))
    val p = plan(df)
    // the exact-path numericProfile runs one pruned scan PER column;
    // the sketch path must fuse every distinct count into the single
    // nulls/min/max scan — that is its entire reason to exist
    assert("FileScan".r.findAllIn(p).size === 1, p.take(3000))
    assert("Exchange".r.findAllIn(p).size === 1, p.take(3000)) // the one final-agg gather
  }

  test("st10 vocab overlap: one corpus scan into cached states; pairs expand metadata only") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val df = graft.pipeline.Curation.vocabOverlap(docs, "source", "text", n = 2)
    // the corpus is read once, into the persisted per-group state frame;
    // every downstream step (estimates, pair expansion, union merges)
    // re-reads that metadata cache, never the parquet: every leaf of the
    // optimized plan is the in-memory relation, no direct file relation
    val lp = df.queryExecution.optimizedPlan
    val leaves = lp.collectLeaves()
    assert(leaves.nonEmpty)
    assert(leaves.forall(_.getClass.getSimpleName.contains("InMemoryRelation")),
      leaves.map(_.getClass.getSimpleName).mkString(","))
    spark.catalog.clearCache()
  }

  test("p10 per-source cap: windows touch histogram rows only, threshold broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val df = graft.pipeline.Curation.capPerGroup(
      docs.select(col("doc_id"), col("source")), "source", "doc_id", cap = 10)
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, lp.toString.take(2000))
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"Window over un-aggregated input:\n${w.toString.take(1500)}")
    }
    assert(plan(df).contains("BroadcastHashJoin"), plan(df).take(2000))
  }

  test("sketch pair generators self-join DISTINCT values, never raw docs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val docs = graft.core.Tables.load(spark, dir, "documents")
    // the r5 scale fix: the candidate self-join must sit above the
    // distinct-value aggregate on BOTH sides — a doc-level self-join is
    // quadratic in hot-sketch occupancy (92× at 10× data when a 13k-doc
    // identical-sketch group exists)
    // adaptive=false forces the factored branch regardless of the test
    // corpus's uniqueness — this audit pins the HOT-GROUP shape
    for (pairs <- Seq(
        graft.pipeline.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 2,
          adaptive = false),
        graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text",
          adaptive = false))) {
      val lp = pairs.queryExecution.optimizedPlan
      val selfJoins = lp.collect {
        // simhash blocks ride a struct column `_b`; minhash band
        // buckets project a top-level `bh`
        case j: Join if j.condition.exists(_.references.exists(a =>
          a.name == "_b" || a.name == "bh")) => j
      }
      assert(selfJoins.nonEmpty, lp.toString.take(2000))
      selfJoins.foreach { j =>
        Seq(j.left, j.right).foreach { side =>
          assert(side.collectFirst { case a: Aggregate => a }.isDefined,
            s"candidate join side without distinct aggregate:\n${side.toString.take(1500)}")
        }
      }
    }
  }

  test("adaptive sketch pairs: near-unique corpus takes the direct doc-level join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val docs = graft.core.Tables.load(spark, dir, "documents")
    // the test corpus is ~all-unique text, so the runtime uniqueness
    // probe must pick the direct branch: ONE candidate self-join with
    // NO distinct aggregate below it and NO expansion joins above it
    for (pairs <- Seq(
        graft.pipeline.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 2),
        graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text"))) {
      val lp = pairs.queryExecution.optimizedPlan
      val candJoins = lp.collect {
        case j: Join if j.condition.exists(_.references.exists(a =>
          a.name == "_b" || a.name == "bh")) => j
      }
      assert(candJoins.size == 1, lp.toString.take(2000))
      candJoins.foreach { j =>
        Seq(j.left, j.right).foreach { side =>
          assert(side.collectFirst { case a: Aggregate => a }.isEmpty,
            s"direct branch should have no distinct aggregate:\n${side.toString.take(1500)}")
        }
      }
      // no expansion joins: the candidate join is the ONLY join
      assert(lp.collect { case j: Join => j }.size == 1, lp.toString.take(2000))
    }
  }

  test("d14 line dedup: df-agg and anti-join keyed on the 8-byte line hash, never line text") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"line a$i\nshared line\nline b$i"))
      .toDF("doc_id", "text")
    val p = plan(graft.pipeline.Curation.lineDedup(docs, "doc_id", "text", minDf = 2))
    // the doc-frequency aggregate partial-aggregates below its exchange
    // and both it and the boilerplate membership join move only the
    // hash (the line string never shuffles on the frequency path)
    assert(p.contains("partial_count(distinct"), p)
    assert("Exchange hashpartitioning\\(_lh".r.findAllIn(p).nonEmpty, p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("NestedLoop"), p)
  }

  test("d1b hash-first exact dedup: corpus exchange moves (hash, id), never text") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Dedup.exactGroupsByHash(docs, "text", "doc_id"))
    // phase 1: partial-agg'd exchange keyed on the 8-byte hash
    assert("Exchange hashpartitioning\\(_h".r.findFirstIn(p).nonEmpty, p.take(4000))
    assert(p.contains("partial_min") || p.contains("partial_count"), p.take(4000))
    // phase 2: the colliding slice is steered by a BROADCAST semi-join
    // (a shuffled semi-join would re-shuffle every text)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(4000))
    // the phase-1 exchange's payload is the partial-agg output keyed on
    // _h — (hash, min id, count), no text column
    assert("HashAggregate\\(keys=\\[_h".r.findFirstIn(p).nonEmpty, p.take(4000))
  }

  test("p13 composed pipeline: no nested loop anywhere in the 4-stage chain") {
    val p = plan(graft.SparkEntry.queries("p13_corpus_pipeline")(spark, dir))
    // composition must not degrade any stage's join strategy
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(4000))
    // the benchmark shingle probe stays broadcast inside the chain
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("p15 temperature mix: corpus filter is narrow — no join, no window") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.temperatureMixSample(
      docs, "doc_id", "source", "text", budget = 3000L))
    // rates are driver metadata baked in as a when-chain literal: the
    // corpus pass is a pure filter — no join against a rate frame, no
    // window, no aggregate in the serving plan
    assert(!p.contains("Join") && !p.contains("Window"), p.take(3000))
    assert(!p.contains("HashAggregate"), p.take(3000))
  }

  test("c5 cluster purity stage: window and totals run over grouped rows only") {
    // audit the purity stage in isolation (the upstream k-means FIT has
    // its own seed/refit windows, audited by the c1 cases)
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val assigned = emb.select(col("vec_id"), (col("vec_id") % 8).as("cell"))
    val p = plan(graft.pipeline.Clustering.clusterLabelPurity(
      assigned, emb.select(col("vec_id"), col("label")), "vec_id", "label"))
    // the (cell,label) count aggregate is partial-agg'd; the majority
    // window sees grouped rows, never corpus rows — exactly one Window
    // operator (WindowGroupLimit partials are the top-1 pushdown, a
    // bonus), and no exchange keyed by the raw row id
    assert("Window \\[".r.findAllIn(p).size === 1, p.take(4000))
    assert(p.contains("WindowGroupLimit"), p.take(4000))
    assert(p.contains("partial_count"), p.take(4000))
    assert(!p.contains("Exchange hashpartitioning(vec_id"), p.take(4000))
  }

  test("s10 saved index: probing scans only the queried cell partitions") {
    // save a small IVF index, then check the cells scan carries a
    // partition filter (static or dynamic) on `cell` — the layout's
    // entire point is that serving reads probed directories only
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("audit-annidx").toString
    graft.pipeline.Similarity.saveIndex(emb,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 108),
      "vec_id", "embedding", path)
    val idx = graft.pipeline.Similarity.loadIndex(spark, path)
    val p = plan(graft.pipeline.Similarity.queryIndex(
      idx, emb.filter(col("vec_id") < 4), "vec_id", "embedding", k = 3))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    val pruned = p.contains("dynamicpruning") ||
      "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined
    assert(pruned, "cells scan must be partition-pruned by the probe join:\n" + p.take(4000))
  }

  test("s12 IVF kNN probe: cell equi-join with broadcast queries, no corpus cross join") {
    val p = plan(graft.SparkEntry.queries("s12_knn_probe_ivf")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(4000))
  }

  test("tx14 phrase index: query prunes to the phrase terms' bucket partitions") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val path = java.nio.file.Files.createTempDirectory("audit-phraseidx").toString
    graft.pipeline.Curation.buildPhraseIndex(docs, "doc_id", "text", path)
    val p = plan(graft.pipeline.Curation.phraseSearch(
      spark.read.parquet(path), "doc_id", Seq("big", "order", "scan")))
    // the index scan must carry a static partition filter on _tb (the
    // term-bucket layout is the whole point: a phrase query reads its
    // terms' directories, not the corpus-wide postings)
    assert("PartitionFilters: \\[[^\\]]*_tb".r.findFirstIn(p).isDefined, p.take(4000))
    // and the term IN (...) residual is pushed to the parquet reader
    assert("PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(p).isDefined, p.take(4000))
  }

  test("mm4 MJPEG decode: payloads never shuffle past the decode boundary") {
    val p = plan(graft.SparkEntry.queries("mm4_mjpeg_pixels")(spark, dir))
    // exactly ONE exchange: the explicit input spread BEFORE the
    // payload even exists — after the udf builds the payload and the
    // codec folds it to an 8-dim feature, nothing exchanges again
    // (posexplode is a narrow generate)
    assert("Exchange".r.findAllIn(p).size === 1, p.take(4000))
    assert(p.contains("RoundRobinPartitioning") || p.contains("Exchange hashpartitioning"),
      p.take(4000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
  }

  test("hot ANN index: corpus side never re-shuffles; queries broadcast") {
    import scala.jdk.CollectionConverters._
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def vec(id: Long, xs: Seq[Float]) =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](id, xs), vecSchema): org.apache.spark.sql.Row
    val corpus = spark.createDataFrame(new java.util.ArrayList(
      Seq(vec(1, Seq(1f, 0f)), vec(2, Seq(0f, 1f))).asJava), vecSchema)
    val idx = new graft.streaming.HotAnnIndex(corpus, "vec_id", "embedding",
      Array((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))))
    try {
      val p = plan(idx.answer(corpus, k = 1))
      // serving reads the cached assignment; the only broadcast is the
      // (small) probed query side; the window's hash exchange carries
      // candidate rows only — no corpus-side hashpartitioning before
      // the join, no nested loop
      assert(p.contains("BroadcastHashJoin"), p.take(4000))
      assert(p.contains("InMemoryTableScan"), p.take(4000))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        p.take(4000))
      val joinAt = p.indexOf("BroadcastHashJoin")
      val corpusSide = p.substring(joinAt)
      assert(!corpusSide.contains("Exchange hashpartitioning(cid"), p.take(4000))
    } finally idx.release()
  }

  test("a14 funnel: ONE scan with In-filter pushed, ONE user exchange, fold in-plan") {
    val p = plan(graft.SparkEntry.queries("a14_funnel")(spark, dir))
    // the single-pass fold form: the scan carries the whole stage-set
    // predicate pushed (not one scan per stage)...
    assert(p.contains("In(event_type"), p.take(4000))
    // ...one user-keyed corpus exchange feeding BOTH the skew-guard
    // window (funnelCandidates' dominance prefilter) and the fold's
    // collect_list — same key, so Catalyst plans a single Exchange and
    // the guard costs a spill-able sort, never a second shuffle
    assert(p.contains("partial_collect_list"), p.take(4000))
    assert(p.contains("Window"), p.take(4000))
    // the per-stage fan-out is an in-plan inline generator over the one
    // aggregate row — no persisted scalar frame (no cache entry leaked
    // per call), no union of per-stage branches
    assert(!p.contains("InMemoryRelation"), p.take(4000))
    assert(!p.contains("Union"), p.take(4000))
    val userExIds = "Exchange hashpartitioning\\(user_id[^\\]]*plan_id=(\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(userExIds.size === 1, s"$userExIds\n${p.take(4000)}")
    val scanLocs = "Location: InMemoryFileIndex[^,]*".r.findAllIn(p).toSet
    assert(scanLocs.size <= 1, s"$scanLocs")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    val hashEx = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(hashEx.forall(_.startsWith("user_id")), s"$hashEx\n${p.take(4000)}")
  }

  test("a15 retention: ONE corpus exchange (user-keyed partial collect_set)") {
    val p = plan(graft.SparkEntry.queries("a15_retention")(spark, dir))
    // partial set-building below the single user exchange; the final
    // (cohort, offset) rollup aggregates metadata-sized rows
    assert(p.contains("partial_collect_set"), p.take(4000))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p.take(4000))
    assert(!p.contains("Join"), p.take(4000))
  }

  test("w4 twap: window sort and final aggregate share one user exchange") {
    val p = plan(graft.SparkEntry.queries("w4_twap")(spark, dir))
    // the groupBy(user) after the user-partitioned window reuses its
    // partitioning — exactly one exchange in the whole plan
    assert("Exchange".r.findAllIn(p).size === 1, p.take(4000))
    assert(p.contains("Exchange hashpartitioning(user_id"), p.take(4000))
  }

  test("p17 bottom-k sample: bounded partial heaps below the group exchange") {
    val p = plan(graft.SparkEntry.queries("p17_bottomk_sample")(spark, dir))
    // map-side partial bottom-k (O(k) state) before the source exchange;
    // no Window/Sort of the full per-group row set anywhere
    assert(p.contains("partial_graft_bottomk_sample"), p.take(4000))
    assert(p.contains("Exchange hashpartitioning(source"), p.take(4000))
    assert(!p.contains("Window"), p.take(4000))
  }

  test("st8 grouped top-k: bounded partial heaps, no per-group window sort") {
    val p = plan(graft.SparkEntry.queries("st8_topk_docs")(spark, dir))
    assert(p.contains("partial_graft_topk_by"), p.take(4000))
    assert(p.contains("Exchange hashpartitioning(source"), p.take(4000))
    assert(!p.contains("Window"), p.take(4000))
  }

  test("s15 filtered saved index: allow-list semi-join keeps partition pruning") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("audit-annidx-f").toString
    graft.pipeline.Similarity.saveIndex(emb,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 108),
      "vec_id", "embedding", path)
    val filtered = graft.pipeline.Similarity.filterIndex(
      graft.pipeline.Similarity.loadIndex(spark, path),
      emb.filter(pmod(col("label"), lit(2)) === 0).select(col("vec_id")), "vec_id")
    val p = plan(graft.pipeline.Similarity.queryIndex(
      filtered, emb.filter(col("vec_id") < 4), "vec_id", "embedding", k = 3))
    assert(p.contains("LeftSemi"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    val pruned = p.contains("dynamicpruning") ||
      "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined
    assert(pruned, "filtered cells scan must stay partition-pruned:\n" + p.take(4000))
  }

  test("g1 pagerank: cached transition edges reused, hash joins per step") {
    val df = graft.SparkEntry.queries("g1_pagerank")(spark, dir)
    val p = plan(df)
    // the row-stochastic edge table is persisted once and every power
    // step reads the cache, not the parquet lineage
    assert(p.contains("InMemoryTableScan"), p.take(4000))
    // rank-update joins are hash joins (broadcast or shuffled), never a
    // nested loop over corpus-scale frames; the only nested loops are
    // the 1-row scalar cross joins (|V| count, dangling mass)
    assert(p.contains("Join") && (p.contains("HashJoin") || p.contains("SortMergeJoin")),
      p.take(4000))
    // contribution aggregate is partial (map-side) before its exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(4000))
    spark.catalog.clearCache()
  }

  test("pagerank checkpoint cadence bounds lineage at 20+ rounds (no exponential plan)") {
    // at gate scale g1 runs 3 rounds and an open plan is fine; at 100×
    // you run 20+ rounds, where each round REFERENCES the previous rank
    // frame twice (contrib join + dangling mass) — an unchecked plan
    // grows exponentially in rounds. checkpointEvery must make the
    // analyzed plan size depend ONLY on the post-checkpoint tail, not
    // on total rounds.
    import spark.implicits._
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0), (1L, 3L, 2.0))
      .toDF("src", "dst", "w")
    def planNodes(df: org.apache.spark.sql.DataFrame): Int = {
      var n = 0
      df.queryExecution.analyzed.foreach(_ => n += 1)
      n
    }
    val n10 = planNodes(graft.pipeline.GraphOps.pageRank(e, iters = 10, checkpointEvery = 5))
    val n20 = planNodes(graft.pipeline.GraphOps.pageRank(e, iters = 20, checkpointEvery = 5))
    val n25 = planNodes(graft.pipeline.GraphOps.pageRank(e, iters = 25, checkpointEvery = 5))
    // same 5-round tail after the last checkpoint → identical plan size
    // regardless of total rounds: bounded, not merely slower-growing
    assert(n20 === n10, s"lineage grew with round count: $n10 -> $n20")
    assert(n25 === n10, s"lineage grew with round count: $n10 -> $n25")
    // and the checkpointed 20-round plan is far below the open one at
    // HALF the rounds (10 open rounds ≈ 2^10 leaf references) —
    // checkpointEvery = 0 forces the open plan, which is now an
    // explicit opt-out rather than the default
    val nOpen10 = planNodes(
      graft.pipeline.GraphOps.pageRank(e, iters = 10, checkpointEvery = 0))
    assert(n20 < nOpen10 / 4, s"ckpt(20)=$n20 vs open(10)=$nOpen10")
    // the AUTO default (r10 verdict task 7): a plain deep call gets the
    // measured cadence-2 bounded shape without the caller knowing the
    // knob exists — and shallow calls stay open (gate entries g1/g3
    // run 2–3 rounds and an eager checkpoint there costs more than it
    // saves, the measured trade-off in the operator comment)
    val nAuto20 = planNodes(graft.pipeline.GraphOps.pageRank(e, iters = 20))
    val nAuto21 = planNodes(graft.pipeline.GraphOps.pageRank(e, iters = 21))
    assert(nAuto20 < nOpen10 / 4, s"auto(20)=$nAuto20 vs open(10)=$nOpen10")
    assert(nAuto21 === nAuto20 || nAuto21 < nOpen10 / 4,
      s"auto cadence unbounded: $nAuto20 -> $nAuto21")
    val nAuto3 = planNodes(graft.pipeline.GraphOps.pageRank(e, iters = 3))
    val nExpl3 = planNodes(
      graft.pipeline.GraphOps.pageRank(e, iters = 3, checkpointEvery = 0))
    assert(nAuto3 === nExpl3, "shallow auto call must stay an open plan")
    spark.catalog.clearCache()
  }

  test("u3 correlated EXISTS decorrelates to semi/anti joins, no nested loop") {
    val p = plan(graft.SparkEntry.queries("u3_exists")(spark, dir))
    assert(p.contains("LeftSemi"), p.take(4000))
    assert(p.contains("LeftAnti"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("tx16 collocations: count threshold prunes before the vocabulary joins") {
    val p = plan(graft.SparkEntry.queries("tx16_collocations")(spark, dir))
    // the cxy >= minCount filter must sit on the aggregate BELOW both
    // joins (pairs too rare to matter never enter a join), and both
    // count aggregates are map-side partial
    val joinPos = p.indexOf("SortMergeJoin") match {
      case -1 => p.indexOf("BroadcastHashJoin")
      case i  => i
    }
    val filterPos = p.indexOf("(cxy")
    assert(joinPos >= 0 && filterPos >= 0, p.take(4000))
    assert(p.contains("partial_count"), p.take(4000))
  }

  test("a17 transitions: one corpus exchange (user window); totals over grouped rows") {
    val p = plan(graft.SparkEntry.queries("a17_transitions")(spark, dir))
    // the lag window exchanges on user; the (from,to) aggregate and the
    // per-from totals window run over |types|² grouped rows
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p.take(4000))
    assert(p.contains("partial_count"), p.take(4000))
  }

  test("a18 user paths: one keyed aggregate, no global sort") {
    val p = plan(graft.SparkEntry.queries("a18_user_paths")(spark, dir))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p.take(4000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(4000))
  }

  test("st9 count-min: partial sketches below the single exchange") {
    val p = plan(graft.SparkEntry.queries("st9_countmin")(spark, dir))
    assert(p.contains("partial_graft_countmin"), p.take(4000))
    assert("Exchange".r.findAllIn(p).size === 1, p.take(4000))
  }

  test("strictCompat projection degrades types per reference rules") {
    import spark.implicits._
    val df = Seq((1L, Seq(1, 2), Map("k" -> "v"))).toDF("a", "xs", "m")
      .withColumn("nest", struct(lit(2).as("b"), array(lit(3)).as("ys")))
    val out = graft.core.TypeProjection.strictCompat(df)
    val types = out.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("a") === "bigint")
    assert(types("xs") === "string") // list stringified
    assert(types("m") === "string")  // dict stringified
    assert(types("nest") === "struct<b:int,ys:string>") // recursive
    assert(out.collect().head.getAs[String]("xs") === "[1,2]")
  }

  test("enum ordinals serialize as names") {
    import spark.implicits._
    val r = Seq(0, 2).toDF("o")
      .select(graft.core.TypeProjection.enumName(col("o"), Seq("RED", "GREEN", "BLUE")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(r === Seq("RED", "BLUE"))
  }

  test("s16 gram matrix: map-side partial aggregation, single-buffer exchange") {
    val p = plan(graft.pipeline.Pca.gramTriples(
      graft.core.Tables.load(spark, dir, "embeddings"), "embedding", 64))
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial phase below the exchange: the shuffle carries ONE
    // serialized (n, sums, tri-products) buffer per partition, never
    // embedding rows
    assert("ObjectHashAggregate".r.findAllIn(p).size === 2, p.take(3000))
    assert(p.contains("partial_graft_gram"), p.take(3000))
    assert(p.contains("Exchange SinglePartition"), p.take(3000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    // scan pruned to the vector column
    assert(p.contains("ReadSchema: struct<embedding:array<float>>"), p.take(3000))
  }

  test("s16b axis projection and tx19 NFC audit are narrow: zero exchanges") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val p1 = plan(emb.select(col("vec_id"),
      graft.pipeline.Pca.axisProjectQuantized(col("embedding"),
        Array.tabulate(64)(_.toLong)).as("proj")))
    assert(!p1.contains("Exchange"), p1.take(3000))
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p2 = plan(graft.pipeline.Curation.nfcAudit(docs, "doc_id", "text"))
    assert(!p2.contains("Exchange"), p2.take(3000))
    assert(p2.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p2.take(3000))
  }

  test("w7/w8 tick windows: per-key partitioning only, one exchange end-to-end") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val p7 = plan(graft.operators.EventAnalytics.drawdown(
      ev, "user_id", "ts", "value", orderCols = Seq("event_id")))
    // two stacked running windows share the sort; the rollup groups on
    // the same key — one exchange, and never a global (empty-key) window
    assert("Exchange hashpartitioning".r.findAllIn(p7).size === 1, p7.take(3000))
    assert(!p7.contains("Exchange SinglePartition"), p7.take(3000))
    val p8 = plan(graft.operators.EventAnalytics.ewma(
      ev, "user_id", "ts", "value", orderCols = Seq("event_id")))
    assert("Exchange hashpartitioning".r.findAllIn(p8).size === 1, p8.take(3000))
    assert(!p8.contains("Exchange SinglePartition"), p8.take(3000))
    // w10: running masses and the anomaly verdict share ONE bounded
    // ROWS window — no second exchange, no unbounded frame
    val p10 = plan(graft.operators.EventAnalytics.rollingAnomaly(
      ev, "user_id", "ts", "value", orderCols = Seq("event_id")))
    assert("Exchange hashpartitioning".r.findAllIn(p10).size === 1, p10.take(3000))
    assert("Window \\[".r.findAllIn(p10).size === 1, p10.take(3000))
    assert(!p10.contains("Exchange SinglePartition"), p10.take(3000))
  }

  test("w9 realized variance: the rollup reuses the lag window's exchange") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val p = plan(graft.operators.EventAnalytics.realizedVariance(
      ev, "user_id", "ts", "value", orderCols = Seq("event_id")))
    // window partition keys == group keys → ONE hash exchange total
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("c7 assignment margin: scoring is one narrow projection — no explode, one cell exchange") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val p = plan(graft.pipeline.Clustering.assignmentMargin(
      emb, "vec_id", "embedding", StubQuantizer.qcents))
    // all centroid scores per row come from array arithmetic over the
    // literal — an explode or per-centroid join would shuffle N×C rows
    assert(!p.contains("Generate"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
    assert(p.contains("partial_count") || p.contains("partial_"), p.take(3000))
  }

  test("st11 MAD outliers: one corpus scan; median/MAD/outliers ride the cached histogram") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val p = plan(graft.pipeline.Curation.robustOutlierReport(
      ev, "event_type", "value"))
    // the single data pass: every downstream consumer (median, dev
    // histogram, MAD, outlier fold) reads the persisted (group, q, c)
    // histogram — each such read prints as an InMemoryTableScan whose
    // cached plan ECHOES the one FileScan, so count cache reads, not
    // scan strings
    assert("InMemoryTableScan".r.findAllIn(p).size >= 4, p.take(4000))
    // histogram aggregation partial-aggs below its exchange
    assert(p.contains("partial_count") || p.contains("partial_"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("g5 triangles: equi-joins only — orientation kills the hub blowup path") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val edges = graft.pipeline.GraphOps.transitionEdges(
      ev, "user_id", get_json_object(col("props"), "$.k"), "ts",
      tieCols = Seq("event_id"))
    val p = plan(graft.pipeline.GraphOps.triangleCount(edges))
    // wedge build and closure are hash equi-joins; a nested-loop or
    // cartesian here is the O(d^2)-per-hub shape the orientation exists
    // to forbid
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("tx22 dup-ngram coverage: doc-keyed exchanges, hashed grams, no raw text shuffle") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.dupNgramCoverage(
      docs, "doc_id", "text", 3))
    // every exchange keys on the document (occurrence counts group by
    // (doc_id, gram-hash); coverage and the join key by doc_id alone)
    val hashEx = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(hashEx.nonEmpty && hashEx.forall(_.startsWith("doc_id")),
      s"$hashEx\n${p.take(3000)}")
    assert(!p.contains("Exchange rangepartitioning"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // grams travel as polyHash longs, never as strings: the hash
    // expression sits in the plan feeding the occurrence aggregation
    assert(p.contains("graft_polyhash"), p.take(3000))
  }

  test("tx18 top-ngram: fused per-doc kernel — zero exchanges, no explode") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val p = plan(graft.pipeline.Curation.topNgramFraction(docs, "doc_id", "text"))
    // the top gram is a pure per-row signal; the fused graft_top_ngram
    // kernel keeps the whole computation in one narrow projection
    assert(!p.contains("Exchange"), p.take(3000))
    assert(!p.contains("Generate"), p.take(3000)) // no explode
    assert(p.contains("graft_top_ngram"), p.take(3000))
    // the declarative reference shape (the one the oracle mirrors)
    // still keys every exchange on the document and never shuffles text
    val pd = plan(graft.pipeline.Curation.topNgramFractionDeclarative(
      docs, "doc_id", "text"))
    val hashEx = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(pd).map(_.group(1)).toSet
    assert(hashEx.nonEmpty && hashEx.forall(_.startsWith("doc_id")),
      s"$hashEx\n${pd.take(3000)}")
    val firstEx = pd.indexOf("Exchange hashpartitioning")
    assert(firstEx > 0 && !pd.substring(0, firstEx).contains("text#"),
      pd.take(3000))
  }

  test("float-sum lint: no catalog entry sums a floating expression off the allowlist") {
    // the a11/w4 lesson, promoted (r10 verdict task 8): two rounds
    // running, a sum() over doubles hash-diverged from the oracle at
    // sf1 because float accumulation order is partition-dependent —
    // invisible at sf0.01 where partial sums are short. Sweep EVERY
    // batch catalog entry's analyzed plan for Sum/Average over a
    // floating child; each hit must be on the allowlist below, which
    // exists only for entries whose float outputs are gated under
    // check.py's 1e-9 RELATIVE tolerance (ratios/means of bounded
    // magnitude, where accumulation-order jitter stays far below the
    // tolerance) — never for raw accumulated mass, which is what broke
    // a11 (µs durations summed as double) and w4 (value·µs mass).
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Sum}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // every entry below is hash-matched green at sf1 (CORRECTNESS_sf1.md)
    // under check.py's 1e-9 RELATIVE tolerance; the notes say why the
    // float accumulation stays inside it
    val allow: Map[String, String] = Map(
      "q1_agg" -> "avg(l_quantity): TPC-H double column; sf1 ledger 'float-tolerant only'",
      "a1_json_view" -> "sum(l_quantity): TPC-H double; 3-group partial sums, sf1 green",
      "a2_pivot" -> "same sum(l_quantity) mass as a1, pivoted",
      "a10_cube" -> "same sum(l_quantity) mass, cube rollup",
      "a45_view_filter_expr" -> "sum(revenue): extendedprice*(1-discount), sf1 green",
      "a9_time_bucket" -> "sum(events.value) per bucket: bounded bucket mass, sf1 green",
      "a21_decayed_engagement" -> "exp-decayed sum(value): decay keeps per-key mass O(1/(1-λ)); sf1 green at 15k keys",
      "j1_join_agg" -> "TPC-H revenue sum; sf1 ledger 'float-tolerant'",
      "j3_profit_rollup" -> "TPC-H revenue sum; sf1 ledger 'float-tolerant'",
      "j6_salted_join" -> "sum(l_quantity) across salt shards, sf1 green",
      "g1_pagerank" -> "power-method ranks: normalized, per-node O(1/|V|)",
      "g2_personalized_pagerank" -> "seeded ranks normalized; edge-weight cast is integral mass < 2^53",
      "g3_hits" -> "hub/auth scores renormalized to 1 every half-step",
      "st3_source_overlap" -> "sum(est_jaccard): dyadic rationals k/16, exact in binary FP",
      "b1_bucketed_join" -> "TPC-H revenue sum over the bucketed table; sf1 ledger 'float-tolerant only'"
    )
    val streaming = graft.StreamingQueries.all.keySet
    val offenders = scala.collection.mutable.SortedMap.empty[String, String]
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      // streaming twins RUN eagerly on construction (MemoryStream
      // feeds); their accumulation discipline is pinned by the
      // batch==stream parity gates against these batch plans instead
      if (!streaming.contains(name)) {
        val df = fn(spark, dir)
        df.queryExecution.analyzed.foreach {
          case agg: Aggregate =>
            agg.aggregateExpressions.foreach(_.foreach {
              case s: Sum if s.child.dataType == DoubleType ||
                  s.child.dataType == FloatType =>
                offenders(name) = s"sum(${s.child.sql})"
              case a: Average if a.child.dataType == DoubleType ||
                  a.child.dataType == FloatType =>
                offenders(name) = s"avg(${a.child.sql})"
              case _ => ()
            })
          case _ => ()
        }
        spark.catalog.clearCache()
      }
    }
    val unlisted = offenders.filterNot { case (n, _) => allow.contains(n) }
    assert(unlisted.isEmpty,
      "floating sum/avg outside the allowlist (add integer-exact mass " +
        s"or document the tolerance): ${unlisted.mkString("; ")}")
    // the allowlist must not rot: every entry on it still trips the lint
    val stale = allow.keySet -- offenders.keySet
    assert(stale.isEmpty, s"allowlist entries no longer floating: $stale")
  }

  test("one session factory: GraftSession holds the only builder and the retention caps") {
    import scala.jdk.CollectionConverters._
    val builder = "SparkSession\\s*\\.builder".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val hits = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val n = builder.findAllIn(java.nio.file.Files.readString(f)).size
        Seq.fill(n)(f.getFileName.toString)
      }.toList
    finally files.close()
    assert(hits == List("GraftSession.scala"), hits)
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.ui.retainedJobs") == "50")
    assert(conf.get("spark.ui.retainedStages") == "50")
    assert(conf.get("spark.ui.retainedTasks") == "500")
    assert(spark.conf.get("spark.sql.ui.retainedExecutions") == "20")
  }

  test("Probe times the full output: j2 row count and its join shuffle") {
    val fn = SparkEntry.queries("j2_asof_join")
    val meter = new graft.tools.Probe.ShuffleMeter(spark)
    spark.sparkContext.addSparkListener(meter)
    val (expected, countWrite, pass) =
      try {
        meter.reset()
        val n = fn(spark, dir).count()
        meter.settle()
        val w = meter.written.get
        spark.catalog.clearCache()
        (n, w, graft.tools.Probe.measure(spark, meter, fn, dir)._1)
      } finally { spark.sparkContext.removeSparkListener(meter); spark.catalog.clearCache() }
    assert(pass.rows == expected)
    // count() prunes the as-of join's exchange down to its own final
    // aggregate; the full output runs the join shuffle too
    assert(pass.shuffleWrite > countWrite, (pass, countWrite))
    assert(pass.shuffleRead > 0, pass)
  }

  test("Bench records a throwing entry as -1, never as a time") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val failAtRun = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("run"); x })
    val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok" -> ((s, _) => s.range(10).toDF()),
      "throws_at_build" -> ((_, _) => throw new IllegalStateException("build")),
      // a filter, not a projection: count() would prune a projected UDF
      "throws_at_run" -> ((s, _) => s.range(3).toDF().filter(failAtRun(col("id")) > 0)))
    val t = Bench.timeEntries(spark, dir, entries)
    assert(t("throws_at_build") == -1.0)
    assert(t("throws_at_run") == -1.0)
    assert(t("ok") > 0)
    assert(t.values.filter(_ > 0).sum == t("ok"))
  }
}
