package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-curation operators a large-scale training-data pipeline
  * runs between raw ingest and tokenization: benchmark
  * decontamination, deterministic sampling, and sequence packing.
  * All three are declarative DataFrame plans over codegen'd
  * expressions — no UDFs, no driver-side loops.
  *
  * Scale shapes:
  *  - decontamination: the benchmark suite is tiny (thousands of
  *    docs) next to the corpus — its n-gram set is broadcast, the
  *    corpus side is a narrow shingle projection + broadcast
  *    semi-style join + per-doc partial count. The corpus text never
  *    shuffles; the only exchange is the final per-doc aggregation of
  *    (id, hash) pairs that survived the broadcast probe.
  *  - hash sampling: a pure narrow filter on a deterministic hash —
  *    zero shuffle, reproducible across runs/engines, and stratified
  *    for free because the rate applies uniformly within any stratum.
  *  - packing: documents are concatenated and chunked into
  *    fixed-size context windows WITHIN a hash shard (the way
  *    distributed pretraining pipelines actually pack — per worker,
  *    no global order), so the plan is one hash exchange + per-shard
  *    sort, never a single-partition global window.
  */
object Curation {

  // ---- benchmark decontamination ----------------------------------------

  /** Documents of `corpus` that share at least one word-`n`-gram with
    * any document of `bench` (the held-out benchmark suite), with the
    * count of distinct overlapping shingles — the GPT-3/Pile-style
    * n-gram decontamination check, as a broadcast probe.
    *
    * Returns (idCol, n_overlap), contaminated docs only.
    */
  def contaminationOverlap(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    // distinct hashed shingle set of the whole benchmark suite —
    // small by contract, broadcast to every corpus partition
    val benchShingles = bench
      .select(Dedup.shingleHashes(col(textCol), n).as("_shs"))
      .select(explode(col("_shs")).as("sh"))
      .distinct()
    // corpus side: materialize the shingle array in a projection
    // BELOW the Generate (inlining into explode() would evaluate the
    // kernel interpreted), then explode → broadcast join → count.
    // shingleHashes emits a set, and the broadcast side is distinct,
    // so count(*) == count of distinct overlapping shingles.
    corpus
      .select(col(idCol), Dedup.shingleHashes(col(textCol), n).as("_shs"))
      .select(col(idCol), explode(col("_shs")).as("sh"))
      .join(broadcast(benchShingles), "sh")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** The corpus with every contaminated document removed — one
    * broadcast probe + one anti-join on the contaminated id set.
    */
  def decontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame =
    corpus.join(
      contaminationOverlap(corpus, bench, idCol, textCol, n).select(idCol),
      Seq(idCol), "left_anti")

  /** Streaming decontamination: documents arriving on a stream are
    * dropped when any of their `n`-grams hits the benchmark shingle
    * set. The benchmark set is collected once and embedded as an array
    * literal — plan metadata, the same bounded-quantizer contract as
    * [[Similarity.ivfTopK]]'s centroids (a benchmark suite's distinct
    * n-grams are thousands-to-millions of longs, not corpus-scale) —
    * so the stream side is a PURE NARROW FILTER: no state, no
    * watermark, no shuffle, trivially incremental per micro-batch.
    * For benchmark sets too large to inline, run the batch
    * [[decontaminate]] probe per micro-batch via `foreachBatch`.
    */
  def decontaminateStream(
      corpusStream: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    val benchShingles = bench
      .select(explode(Dedup.shingleHashes(col(textCol), n)).as("sh"))
      .distinct().orderBy("sh") // deterministic literal
      .collect().map(_.getLong(0))
    if (benchShingles.isEmpty) corpusStream
    // coalesce(true): a NULL text has NULL shingles → NULL overlap;
    // a bare filter would DROP such rows, but the batch decontaminate
    // keeps them (zero exploded shingles → no overlap → anti-join keep)
    else corpusStream.filter(
      coalesce(
        !arrays_overlap(
          Dedup.shingleHashes(col(textCol), n),
          typedLit(benchShingles.toSeq)),
        lit(true)))
  }

  /** Build the `mBits`-bit Bloom bitset (as `mBits/64` longs) of the
    * benchmark suite's distinct word-`n`-gram hashes, `k` probes per
    * gram (Kirsch–Mitzenmacher, [[graft.functions.GraftBloom]]).
    * Driver-side by the same bounded-bench contract as
    * [[decontaminateStream]]'s literal — but the ARTIFACT here is
    * fixed-size (`mBits/8` bytes) no matter how many grams went in,
    * which is the point at scale.
    */
  def bloomBitset(
      bench: DataFrame,
      textCol: String,
      n: Int,
      mBits: Int,
      k: Int): Array[Long] = {
    require(mBits >= 128 && (mBits & (mBits - 1)) == 0,
      "mBits must be a power of two >= 128")
    require(k >= 1, "k must be >= 1")
    val bits = new Array[Long](mBits / 64)
    bench
      .select(explode(Dedup.shingleHashes(col(textCol), n)).as("sh"))
      .distinct().collect()
      .foreach(r => graft.functions.GraftBloom.insert(bits, r.getLong(0), k))
    bits
  }

  /** Bloom-filter decontamination — the SCALE path when the benchmark
    * n-gram set outgrows [[decontaminateStream]]'s sorted-literal
    * `arrays_overlap` (whose probe cost is O(|bench|) per shingle and
    * whose plan literal grows with the suite): the suite is folded
    * into a FIXED-SIZE bitset (`mBits` bits, `k` probes — e.g. 2^27
    * bits = 16 MiB holds tens of millions of grams at <1% false
    * positives), shipped once per executor as plan metadata, and the
    * corpus side stays a PURE NARROW FILTER with constant-time
    * membership per shingle inside whole-stage codegen. Zero shuffle,
    * zero state, no driver-side text.
    *
    * False positives over-drop at the classical (1-e^{-kn/m})^k rate;
    * false negatives are impossible — the safe direction for
    * decontamination. Exactly reproducible cross-engine: probes are
    * integer arithmetic on the portable hash, so the DuckDB oracle
    * replays the identical bitset (rendered from [[bloomBitset]]) and
    * drops the identical docs.
    */
  def bloomDecontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      mBits: Int = 1 << 16,
      k: Int = 4): DataFrame = {
    val bits = bloomBitset(bench, textCol, n, mBits, k)
    // coalesce: NULL text → NULL shingles → keep (matches decontaminate's
    // anti-join, which can't drop a doc that exploded zero shingles)
    corpus.filter(coalesce(
      !graft.functions.NativeExpressions.bloomAny(
        Dedup.shingleHashes(col(textCol), n), bits, k),
      lit(true)))
  }

  // ---- deterministic sampling -------------------------------------------

  /** Keep rows whose portable hash of `idCol` lands under `pct`
    * percent — deterministic, engine-portable (the DuckDB oracle
    * reproduces it bit-for-bit), and stable under reruns/appends,
    * unlike `df.sample` whose output depends on partitioning. Applied
    * uniformly it is stratified by construction: every stratum is
    * sampled at the same rate without a per-stratum pass.
    */
  def hashSample(idCol: String, pct: Int): Column =
    TextFunctions.polyHash(col(idCol).cast("string")) % 100 < pct

  /** Exact-SIZE stratified sample: per-stratum quotas proportional to
    * stratum size (`floor(totalK · n_s / N)` — integer arithmetic,
    * engine-portable), filled by each stratum's deterministic bottom-k
    * (smallest (polyHash, id), the [[hashSample]] discipline). Unlike
    * the rate-based gates (whose output SIZE varies with the hash
    * distribution), this returns exactly Σ quotas rows — the "give me
    * a 100k-doc eval slice, proportionally stratified" request.
    *
    * 100 TB shape: stratum counts are one metadata aggregate; the
    * per-stratum bottom-k is the [[graft.functions.BKSample]] bounded
    * heap (O(totalK) partial state, map-side pruning, no window sort);
    * quotas join back as a broadcast.
    */
  def stratifiedQuotaSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      totalK: Int): DataFrame = {
    require(totalK >= 1, "stratifiedQuotaSample needs totalK >= 1")
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
    val tot = df.agg(count(lit(1)).as("_tot"))
    val quotas = counts.crossJoin(broadcast(tot))
      .select(col(stratumCol),
        expr(s"(${totalK}L * _n) div _tot").as("_quota"))
    df.groupBy(col(stratumCol))
      .agg(graft.functions.BottomKSample.bottomKSample(col(idCol), totalK).as("_ids"))
      .select(col(stratumCol), posexplode(col("_ids")))
      .select(col(stratumCol), (col("pos") + 1).cast("long").as("rank"),
        col("col").as(idCol))
      .join(broadcast(quotas), stratumCol :: Nil)
      .filter(col("rank") <= col("_quota"))
      .select(col(stratumCol), col("rank"), col(idCol))
  }

  /** Data-mixture construction: per-stratum sampling rates (percent)
    * over the same deterministic hash — e.g. keep 50% of English, 20%
    * of German, `defaultPct` of everything else. Still one narrow
    * filter (the rate is a when-chain on the stratum column), still
    * reproducible across engines and reruns — upsampling beyond 100%
    * belongs to a repeat-explode pass, not here.
    */
  def mixtureSample(
      idCol: String,
      stratumCol: String,
      rates: Map[String, Int],
      defaultPct: Int = 0): Column = {
    val pct = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    TextFunctions.polyHash(col(idCol).cast("string")) % 100 < pct
  }

  /** Mixture upsampling: per-stratum rates in percent that may exceed
    * 100 (250 = every doc 2–3 times, expectation 2.5 epochs). Each row
    * gets `rate/100` whole copies plus one more when its deterministic
    * hash lands under `rate mod 100` — the repeat-explode complement
    * to [[mixtureSample]] (which caps at 100%). Narrow generate, no
    * shuffle; `copy` (1-based) disambiguates the replicas downstream.
    */
  def upsample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      rates: Map[String, Int],
      defaultPct: Int = 100): DataFrame = {
    val pct = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    val extra = when(
      TextFunctions.polyHash(col(idCol).cast("string")) % 100 < pct % 100,
      lit(1)).otherwise(lit(0))
    df.withColumn("_n", (pct / lit(100)).cast("int") + extra)
      // sequence(1, 0) would generate a DESCENDING range — filter first
      .filter(col("_n") > 0)
      .withColumn("copy", explode(sequence(lit(1), col("_n"))))
      .drop("_n")
  }

  /** Token-budget mixture: downsample each `stratumCol` stratum to a
    * TOKEN budget — pretraining mixtures are specified in tokens, not
    * document counts, so the keep-rate must come from the corpus
    * itself. One metadata-sized aggregate (a row per stratum: total
    * tokens) is joined back BROADCAST; each row then passes when its
    * deterministic portable hash lands under
    * `min(1000, budget·1000 div total)` per-mille — integer
    * arithmetic end-to-end, so the sample is bit-reproducible across
    * engines, runs, and appends, and strata already under budget keep
    * everything. Corpus text never shuffles: the aggregate moves
    * (stratum, count) partials, the filter is narrow.
    */
  def tokenBudgetSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      textCol: String,
      budgets: Map[String, Long],
      defaultBudget: Long = 0L): DataFrame = {
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    val rates = df.groupBy(col(stratumCol))
      .agg(sum(TextFunctions.tokenCount(col(textCol))).as("_total"))
      .withColumn("_budget", budget)
      // greatest(·,1): an all-empty-text stratum has 0 tokens — treat
      // as under budget (keep) rather than divide by zero
      .withColumn("_pm",
        least(lit(1000L), expr("_budget * 1000 div greatest(_total, 1)")))
      .select(col(stratumCol), col("_pm"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(TextFunctions.polyHash(col(idCol).cast("string")) % 1000 < col("_pm"))
      .drop("_pm")
  }

  /** Temperature-weighted mixture sampling (the T5/mT5 α-temperature
    * knob): per-stratum keep rates ∝ n_s^(α-1) normalized to an
    * overall token `budget`, so small strata are upweighted relative
    * to proportional sampling — with α = 1/2, rate_s =
    * budget / (√n_s · Σ_t √n_t). This implementation pins α = 1/2 and
    * quantizes through INTEGER isqrt(total-tokens), making the
    * per-mille gate engine-portable exactly (the 1e6-centroid
    * discipline: IEEE sqrt of a modest integer floors identically in
    * any engine, and everything after is integer arithmetic). A
    * zero-token stratum is under any budget — kept whole.
    *
    * Scale shape: one partial-aggregated metadata exchange for the
    * per-stratum totals (the driver holds #strata rows, nothing
    * corpus-sized), then the same zero-shuffle hash-gate filter as
    * [[hashSample]]/[[tokenBudgetSample]].
    */
  def temperatureMixSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      textCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, "temperatureMixSample: budget must be >= 0")
    val totals = df.groupBy(col(stratumCol))
      .agg(sum(TextFunctions.tokenCount(col(textCol))).as("_total"))
      .collect()
      .map(r => Option(r.get(0)).map(String.valueOf).orNull ->
        (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .sortBy(_._1)
    val isq = totals.map { case (s, n) => s -> math.floor(math.sqrt(n.toDouble)).toLong }
    val sumIsq = isq.map(_._2).sum
    val pm: Map[String, Long] = isq.map { case (s, q) =>
      s -> (if (q * sumIsq == 0L) 1000L
            else math.min(1000L, budget * 1000L / (q * sumIsq)))
    }.toMap
    val pmCol = pm.toSeq.sortBy(_._1).foldLeft(lit(0L)) { case (acc, (s, p)) =>
      when(col(stratumCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(TextFunctions.polyHash(col(idCol).cast("string")) % 1000 < pmCol)
  }

  /** Deterministic train/validation/test split label: the portable id
    * hash lands in [0, 100) and cumulative `splits` percentages carve
    * it up (e.g. `Seq("train" -> 90, "val" -> 5, "test" -> 5)`).
    * Same hash discipline as [[hashSample]]: stable under reruns,
    * appends, and engines — a document NEVER migrates between splits
    * when the corpus grows, which is the property that keeps eval sets
    * uncontaminated across dataset versions. Zero shuffle.
    */
  def splitAssign(idCol: String, splits: Seq[(String, Int)]): Column = {
    require(splits.map(_._2).sum == 100, "split percentages must sum to 100")
    val h = TextFunctions.polyHash(col(idCol).cast("string")) % 100
    // when-chain over cumulative upper bounds; last split = otherwise
    val cums = splits.scanLeft(0) { case (c, (_, p)) => c + p }.tail
    splits.init.zip(cums.init).reverse
      .foldLeft(lit(splits.last._1): Column) { case (acc, ((name, _), ub)) =>
        when(h < ub, lit(name)).otherwise(acc)
      }
  }

  /** Leakage-safe split: assign [[splitAssign]] labels, then DROP from
    * the train split any document that near-duplicates a held-out
    * document (MinHash cross-corpus dedup — the d10 machinery). This
    * is the eval-contamination guard a benchmark-clean training run
    * needs ON TOP of hash-stable splits: the hash keeps a document in
    * one split forever, but a near-copy of a test document can still
    * land in train — this removes it. Non-train splits pass through
    * unchanged.
    *
    * Scale shape: exactly [[graft.pipeline.Dedup.crossCorpusDedup]]'s
    * — both sides project to (id, signature), candidates meet in a
    * distinct-value band join, train re-enters via one semi-join; the
    * held-out side is typically tiny (5%) and never re-pairs with
    * itself.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splits: Seq[(String, Int)],
      trainSplit: String = "train",
      heldOut: String = "test",
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val assigned = df.withColumn("split", splitAssign(idCol, splits))
    val cleanTrain = Dedup.crossCorpusDedup(
      assigned.filter(col("split") === trainSplit),
      assigned.filter(col("split") === heldOut),
      idCol, textCol, n, numHashes, bands, threshold)
    cleanTrain.unionByName(assigned.filter(col("split") =!= trainSplit))
  }

  /** Fixed-size overlapping character chunks (the RAG / long-context
    * preparation step): chunk `i` covers
    * `[i·(size-overlap), i·(size-overlap) + size)`; the final chunk
    * may be shorter, and a doc shorter than `size` yields exactly one
    * chunk. Chunk count is integer arithmetic
    * (`max(1, (len - overlap + stride - 1) div stride)`) so the oracle
    * replays it without float-ceil drift. Null texts drop; empty
    * texts yield one empty chunk (the doc survives, auditable).
    * Zero shuffle — a narrow generate + substring projection.
    */
  def chunkDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      size: Int,
      overlap: Int): DataFrame = {
    require(size > 0, "chunk size must be positive")
    require(overlap >= 0 && overlap < size, "overlap must be in [0, size)")
    val stride = size - overlap
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol),
        expr(s"greatest(1, (length(`$textCol`) - $overlap + ${stride - 1}) div $stride)")
          .as("_n"))
      .select(col(idCol),
        explode(sequence(lit(0L), col("_n") - 1)).as("chunk_id"),
        col(textCol))
      .select(col(idCol), col("chunk_id"),
        expr(s"substring(`$textCol`, chunk_id * $stride + 1, $size)").as("chunk"))
  }

  /** Deterministic epoch shuffle: the reproducible pseudo-random
    * training order pretraining pipelines need — rerunning the job (or
    * any engine) yields byte-identical order, and changing `epoch`
    * reshuffles completely. The order key is [[epochMix]] of the
    * portable id hash — a QUADRATIC epoch mix; see that doc for why
    * the obvious alternatives (suffix hashing, linear multipliers)
    * silently fail to reshuffle. Rows land in `shards` by the mixed
    * key and get their within-shard position. One hash exchange +
    * partition-local row_number (same layout as [[packChunks]] — no
    * global single-partition sort at any scale). Returns
    * (idCol, shard, pos).
    */
  def shuffleOrder(
      df: DataFrame,
      idCol: String,
      epoch: Int,
      shards: Int = 32): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("_h"), col(idCol))
    df.select(col(idCol),
        epochMix(TextFunctions.polyHash(col(idCol).cast("string")), epoch)
          .as("_h"))
      .withColumn("shard", pmod(col("_h"), lit(shards)))
      .withColumn("pos", row_number().over(w))
      .drop("_h")
  }

  /** Epoch-decorrelated reshuffle key: `h·((h + A·epoch) mod P) mod P`
    * (A = Knuth's 2654435761, P the portable-hash prime). The mix MUST
    * be non-linear in `h` (spec-caught failure ladder): appending
    * ":<epoch>" to the hashed STRING only adds a constant to the
    * polynomial hash (order epoch-invariant — no reshuffle at all);
    * a small epoch multiplier never wraps mod P (monotone — same); and
    * ANY modular-linear relation between epochs preserves order on
    * exactly the pairs whose shard assignment also survives the epoch
    * change, so co-sharded pairs never flip (measured: 0 flips in
    * 3,043 such pairs). The quadratic term breaks the linear relation:
    * measured ~38% co-sharded pair flips, matching the global rate.
    */
  private[graft] def epochMix(h: Column, epoch: Int): Column = {
    val p = lit(TextFunctions.P)
    pmod(h * pmod(h + lit(2654435761L * epoch), p), p)
  }

  /** Annealed mixture schedule: per training epoch, the per-stratum
    * sampling weight interpolated from the corpus's NATURAL token
    * share (epoch 0) toward the curated TARGET mix (last epoch) —
    * `w_e = natural + (target − natural)·e div (E−1)`, exact integer
    * per-mille — plus the planned token draw under a per-epoch
    * budget. The standard mixture-annealing curriculum: early epochs
    * see data in its natural proportions (stable gradients), late
    * epochs converge on the deliberate mix; [[mixturePlan]] is the
    * static single-epoch endpoint of this schedule.
    *
    * Returns (epoch, stratum, natural_pm, target_pm, weight_pm,
    * planned_tokens) — epochs·|strata| metadata rows.
    *
    * Scale shape: one partial-agg'd stratum exchange for the natural
    * shares; the schedule fan-out and interpolation run over metadata
    * rows only.
    */
  def mixtureSchedule(
      df: DataFrame,
      stratumCol: String,
      textCol: String,
      epochs: Int,
      budgetPerEpoch: Long,
      targetPm: Map[String, Long]): DataFrame = {
    require(epochs >= 2, "mixtureSchedule: epochs must be >= 2")
    require(budgetPerEpoch >= 0, "mixtureSchedule: budget must be >= 0")
    require(targetPm.values.forall(w => w >= 0 && w <= 1000),
      "mixtureSchedule: target weights are per-mille in [0, 1000]")
    val spark = df.sparkSession
    import spark.implicits._
    val target = targetPm.toSeq.sortBy(_._1).toDF(stratumCol, "target_pm")
    val natural = df.groupBy(col(stratumCol))
      .agg(sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("_tok"))
    val shares = natural
      .crossJoin(broadcast(natural.agg(sum(col("_tok")).as("_tot"))))
      .withColumn("natural_pm", expr("_tok * 1000 div greatest(_tot, 1)"))
      .join(broadcast(target), Seq(stratumCol), "full_outer")
      .withColumn("natural_pm", coalesce(col("natural_pm"), lit(0L)))
      .withColumn("target_pm", coalesce(col("target_pm"), lit(0L)))
    shares
      .crossJoin(broadcast((0 until epochs).toDF("epoch")))
      .withColumn("weight_pm", expr(
        s"natural_pm + (target_pm - natural_pm) * epoch div ${epochs - 1}"))
      .withColumn("planned_tokens",
        expr(s"${budgetPerEpoch}L * weight_pm div 1000"))
      .select(col("epoch").cast("long").as("epoch"), col(stratumCol),
        col("natural_pm"), col("target_pm"), col("weight_pm"),
        col("planned_tokens"))
  }

  /** Dataset card: the one-row corpus summary sheet a training run is
    * signed off against — doc/token mass, language and source
    * diversity, null-text count, exact-duplicate share, and exact
    * discrete token-length quantiles (lower median and p90 via the
    * cumulative histogram over DISTINCT length values — order
    * statistics without a global sort). All integers; the quantile
    * definition (smallest v with cum·k ≥ q·n) is explicit so the
    * oracle replays it rather than trusting engine quantile variants.
    *
    * Scale shape: one narrow scan feeds three partial-agg'd
    * aggregations (global counts; text-hash groups for the dup share;
    * the token-length histogram, bounded by the longest document);
    * the quantile window runs over histogram rows. Returns one row:
    * (n_docs, n_tokens, n_langs, n_sources, n_null_texts,
    * distinct_texts, dup_doc_milli, median_doc_tokens,
    * p90_doc_tokens).
    */
  def corpusCard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      sourceCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol), col(textCol),
      col(langCol), col(sourceCol),
      when(col(textCol).isNotNull,
        TextFunctions.tokenCount(col(textCol)).cast("long")).as("_nt"))
    val totals = base.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("_nt")), lit(0L)).as("n_tokens"),
      countDistinct(col(langCol)).as("n_langs"),
      countDistinct(col(sourceCol)).as("n_sources"),
      sum(when(col(textCol).isNull, 1L).otherwise(0L)).as("n_null_texts"),
      countDistinct(col(textCol)).as("distinct_texts"))
    val hist = base.filter(col("_nt").isNotNull)
      .groupBy(col("_nt")).agg(count(lit(1)).as("_c"))
    val wq = Window.orderBy(col("_nt")) // histogram rows only
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("_cum", sum(col("_c")).over(wq))
      .crossJoin(broadcast(
        base.filter(col("_nt").isNotNull).agg(count(lit(1)).as("_n"))))
    val quants = cum.agg(
      min(when(col("_cum") * 2 >= col("_n"), col("_nt")))
        .as("median_doc_tokens"),
      min(when(col("_cum") * 10 >= col("_n") * 9, col("_nt")))
        .as("p90_doc_tokens"))
    totals.crossJoin(broadcast(quants))
      .withColumn("dup_doc_milli",
        expr("(n_docs - n_null_texts - distinct_texts) * 1000 div " +
          "greatest(n_docs - n_null_texts, 1)"))
      .select(col("n_docs"), col("n_tokens"), col("n_langs"),
        col("n_sources"), col("n_null_texts"), col("distinct_texts"),
        col("dup_doc_milli"), col("median_doc_tokens"), col("p90_doc_tokens"))
  }

  /** Curriculum training order: each document's position in an
    * easy→hard reading sequence, sharded. Within a shard documents
    * order by (difficulty asc, epoch-seeded hash, id) — the standard
    * curriculum-learning layout: a reader consuming shards
    * round-robin sees the difficulty progression, while the seeded
    * hash reshuffles WITHIN each difficulty level every epoch
    * (curriculum without the frozen-order overfitting of a static
    * sort). Shard assignment is epoch-independent (stable data
    * placement); only the within-level order reshuffles. Feed a
    * NEGATED difficulty for anti-curriculum.
    *
    * Returns (idCol, difficultyCol, shard, pos). Same 100 TB shape as
    * [[shuffleOrder]]: one hash exchange, per-shard sort — no global
    * window.
    */
  def curriculumOrder(
      df: DataFrame,
      idCol: String,
      difficultyCol: String,
      epoch: Int,
      shards: Int = 32): DataFrame = {
    require(shards >= 1, "curriculumOrder: shards must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard")
      .orderBy(col(difficultyCol), col("_h"), col(idCol))
    df.select(col(idCol), col(difficultyCol),
        TextFunctions.polyHash(col(idCol).cast("string")).as("_s"))
      // within-level order reshuffles per epoch via the quadratic
      // [[epochMix]] (suffix/linear mixes silently fail — see its doc)
      .withColumn("_h", epochMix(col("_s"), epoch))
      .withColumn("shard", pmod(col("_s"), lit(shards)))
      .withColumn("pos", row_number().over(w))
      .drop("_h", "_s")
  }

  // ---- document-quality filtering ---------------------------------------

  /** Gopher-style document-quality signals (Rae et al. 2021 §A1.1,
    * the rules that are meaningful on single-line corpora): word
    * count, mean word length, fraction of distinct words, and
    * stopword hit count. All narrow codegen'd column arithmetic —
    * zero shuffle at any scale.
    *
    * Returns the input plus `n_words`, `mean_word_len`,
    * `frac_unique_words`, `n_stop_hits`.
    */
  def gopherSignals(df: DataFrame, textCol: String): DataFrame = {
    val tk = TextFunctions.tokens(col(textCol))
    df.withColumn("n_words", TextFunctions.tokenCount(col(textCol)))
      .withColumn("mean_word_len", TextFunctions.meanTokenLength(col(textCol)))
      .withColumn("frac_unique_words",
        size(array_distinct(tk)).cast("double") /
          greatest(size(tk), lit(1)).cast("double"))
      .withColumn("n_stop_hits",
        size(filter(tk, t =>
          array_contains(array(TextFunctions.StopEn.map(lit): _*), t))))
  }

  /** Gopher keep/drop decision over [[gopherSignals]]: word count in
    * [minWords, maxWords], mean word length in [3, 10], at least
    * `minStopHits` stopword occurrences, and at least `minFracUnique`
    * distinct-word fraction (word-soup/templated spam guard).
    */
  def gopherFilter(
      df: DataFrame,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minStopHits: Int = 2,
      minFracUnique: Double = 0.2): DataFrame =
    gopherSignals(df, textCol)
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("n_stop_hits") >= minStopHits &&
          col("frac_unique_words") >= minFracUnique)

  /** Regex class of stray control characters (C0 minus tab/LF/CR,
    * plus DEL) as ESCAPE-based hex — `\\xNN` parses identically in
    * Java regex (Spark) and RE2 (DuckDB), and no literal control byte
    * ever sits in source, plan, or oracle SQL (a literal NUL would
    * terminate the SQL string).
    */
  val ControlCharClass: String = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Regex of Latin-1-mojibake digraphs: a 2-byte UTF-8 lead shown
    * through Latin-1 (U+00C2/U+00C3) followed by a continuation-range
    * codepoint — the signature of UTF-8 bytes decoded as Latin-1.
    */
  val MojibakeClass: String = "[\\xC2\\xC3][\\x80-\\xBF]"

  // ---- corpus reporting ---------------------------------------------------

  /** Corpus composition report: document/token/char totals per stratum
    * combination with ROLLUP subtotals and the grand total — the
    * "what's in this corpus" table every mixture decision starts from.
    * One keyed exchange with map-side partial aggregation (grouping
    * sets expand below the partial agg, so the shuffle carries one
    * partial row per (grouping set × stratum), never corpus rows).
    */
  def corpusStats(df: DataFrame, strata: Seq[String], textCol: String): DataFrame =
    df.rollup(strata.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"))

  /** k-anonymity audit over a quasi-identifier combination: the
    * group-size histogram of the corpus under the given columns, with
    * each size flagged risky when below `k` — rows in a sub-k group
    * are re-identifiable by that attribute combination (the release
    * gate a dataset with PII-adjacent columns must pass; pairs with
    * the tx6 redaction pass, which removes direct identifiers but
    * not quasi-identifier joins). Returns (group_size, n_groups,
    * n_rows, risky) — metadata-sized however large the corpus.
    *
    * Shape: one partial-agg'd exchange keyed by the quasi combo (the
    * unavoidable aggregation), then the size histogram is a second
    * exchange of group-count rows that map-side combine collapses to
    * one row per distinct size per partition.
    */
  def kAnonymityAudit(
      df: DataFrame,
      quasiCols: Seq[String],
      k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymityAudit needs quasi columns")
    require(k >= 2, "kAnonymityAudit: k must be >= 2")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("_sz"))
      .groupBy(col("_sz"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("_sz").as("group_size"), col("n_groups"),
        (col("_sz") * col("n_groups")).as("n_rows"),
        (col("_sz") < k).as("risky"))
  }

  /** Poisson(1) CDF cutoffs on the 2^20 integer grid (P(X≤k)·2^20,
    * trunc, k = 0..6; mass above 6 is ~1e-5 and caps at weight 7).
    * Integer literals so the Spark plan and the DuckDB oracle draw
    * the SAME weight from the same hash — no libm anywhere. */
  val PoissonUnitCdf20: Array[Long] =
    Array(385749L, 771499L, 964373L, 1028665L, 1044738L, 1047952L, 1048488L)

  /** Poisson bootstrap of a per-document metric: `reps` independent
    * resamples of the corpus, each weighting every doc by a
    * Poisson(1) draw — the distributed-systems bootstrap (a
    * with-replacement resample without materializing one: for large n
    * the multinomial row counts converge to independent Poisson(1),
    * which needs no global coordination). The spread of the replicate
    * means IS the sampling uncertainty of the corpus metric — the
    * error bar a quality/mixture decision should quote before acting
    * on a mean score.
    *
    * Determinism: the draw is inverse-CDF over
    * `polyHash(id:rep) mod 2^20` against [[PoissonUnitCdf20]] —
    * engine-portable, rerun-stable, append-stable. `metricCol` must
    * be an already-quantized long (the trunc(x·2^k) discipline).
    *
    * Scale shape: one narrow scan exploded ×reps (weight arithmetic
    * is per-row codegen), map-side combined into `reps` partial rows
    * per partition — the only exchange carries reps·partitions tiny
    * rows. Returns (rep, n_eff, w_sum, mean_q = w_sum div n_eff).
    */
  /** The narrow weighted-row stage beneath [[bootstrapReplicates]]:
    * (rep, _w, _m) rows, ×reps per input row, weights drawn per-row
    * by codegen'd integer arithmetic. Shared with the streaming twin
    * so live and batch draw identical weights. */
  private[graft] def bootstrapWeightedRows(
      df: DataFrame,
      idCol: String,
      metricCol: String,
      reps: Int): DataFrame = {
    require(reps >= 1 && reps <= 1024, "bootstrapReplicates reps in [1, 1024]")
    val wExpr = PoissonUnitCdf20.zipWithIndex
      .foldRight(lit(PoissonUnitCdf20.length.toLong)) { case ((c, i), els) =>
        when(col("_u") < lit(c), lit(i.toLong)).otherwise(els)
      }
    // a null metric is excluded from the resample entirely (its weight
    // never enters n_eff) — silently weighting a row whose metric
    // cannot contribute would bias every replicate mean downward
    df.filter(col(metricCol).isNotNull)
      .select(col(idCol), col(metricCol).as("_m"),
        explode(sequence(lit(0), lit(reps - 1))).as("rep"))
      .withColumn("_u", TextFunctions.polyHash(
        concat(col(idCol).cast("string"), lit(":"), col("rep").cast("string")))
        % 1048576L)
      .withColumn("_w", wExpr)
      .select(col("rep"), col("_w"), col("_m"))
  }

  def bootstrapReplicates(
      df: DataFrame,
      idCol: String,
      metricCol: String,
      reps: Int = 32): DataFrame =
    bootstrapWeightedRows(df, idCol, metricCol, reps)
      .groupBy(col("rep"))
      .agg(sum(col("_w")).as("n_eff"),
        sum(col("_w") * col("_m")).as("w_sum"))
      .withColumn("mean_q",
        expr("CASE WHEN n_eff > 0 THEN w_sum div n_eff ELSE 0L END"))

  /** Robust per-group outlier report on the median/MAD scale: the
    * profile that survives the outliers it is hunting (mean/stddev
    * move with every extreme row; the median and the median absolute
    * deviation do not). Values are quantized to the engine-portable
    * `trunc(v·2^scaleBits)` integer grid; the discrete median is the
    * LOWER median (smallest value whose ascending cumulative count
    * reaches ⌈n/2⌉ — SQL `quantile_disc(0.5)`), and a row is an
    * outlier when `|q − med| > k·MAD`.
    *
    * Scale shape — ONE corpus scan, then metadata arithmetic: the
    * scan partial-aggregates to a (group, quantized-value) histogram;
    * the deviation histogram is a pure TRANSFORM of that frame (shift
    * by the group's median, fold |·|), so MAD and the outlier count
    * never rescan data. Every window runs over histogram rows
    * partitioned by group — no global sort, no per-row window, no
    * second pass. Returns (groupCol, n, med_q, mad_q, n_outliers).
    */
  def robustOutlierReport(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      scaleBits: Int = 10,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(scaleBits >= 0 && scaleBits <= 40, "scaleBits in [0, 40]")
    require(k >= 1, "k must be >= 1")
    val scale = (1L << scaleBits).toDouble
    // double→long cast truncates toward zero — DuckDB trunc() parity
    val q = expr(s"CAST(CAST($valueCol AS DOUBLE) * ${scale}D AS LONG)")
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), q.as("q")).agg(count(lit(1)).as("c"))
      .persist()
    def lowerMedian(h: DataFrame, vCol: String, out: String): DataFrame = {
      val asc = Window.partitionBy(groupCol).orderBy(col(vCol).asc)
      val all = Window.partitionBy(groupCol)
      h.withColumn("_cum", sum(col("c")).over(asc))
        .withColumn("_n", sum(col("c")).over(all))
        .filter(expr("_cum >= (_n + 1) div 2"))
        .groupBy(groupCol)
        .agg(min(col(vCol)).as(out), max(col("_n")).as("_n"))
    }
    val med = lowerMedian(hist, "q", "med_q")
    // deviation histogram: a transform of the (group, q, c) METADATA
    // frame — |q − med| collides buckets, so re-aggregate
    val dev = hist.join(broadcast(med), groupCol)
      .groupBy(col(groupCol), abs(col("q") - col("med_q")).as("dv"))
      .agg(sum(col("c")).as("c"))
    val mad = lowerMedian(dev, "dv", "mad_q").drop("_n")
    val out = dev.join(broadcast(mad), groupCol)
      .groupBy(groupCol)
      .agg(sum(when(col("dv") > lit(k.toLong) * col("mad_q"), col("c"))
        .otherwise(lit(0L))).as("n_outliers"))
    med.join(mad, groupCol).join(out, groupCol)
      .select(col(groupCol), col("_n").as("n"), col("med_q"),
        col("mad_q"), col("n_outliers"))
  }

  /** Numeric table profile: per column the null count, distinct
    * count, and min/max (as double — exact for the numeric types
    * profiled), reshaped to (column, n_nulls, n_distinct, min_v,
    * max_v) rows — the ANALYZE-style corpus report that sizes every
    * downstream decision.
    *
    * Shape: nulls/min/max come from ONE scan and one aggregate row
    * (narrow stack reshape); each exact distinct count runs as its own
    * column-pruned scan + two-stage distinct aggregate, unioned and
    * joined back (8 rows). Measured faster than the single-agg
    * multi-`countDistinct` form, whose Expand multiplies every row by
    * the column count before the distinct aggregate — and the pruned
    * per-column scans read the same total bytes the fused scan would.
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "numericProfile needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      min(col(c).cast("double")).as(s"${c}__min"),
      max(col(c).cast("double")).as(s"${c}__max")))
    val parts = cols.map(c =>
      s"'$c', `${c}__nulls`, `${c}__min`, `${c}__max`")
    val base = df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, ${parts.mkString(", ")}) " +
        "as (column, n_nulls, min_v, max_v)"))
    // NULLs are excluded (SQL count(DISTINCT) semantics — a bare
    // distinct().count would count the NULL row n_nulls already reports)
    val distincts = cols.map(c =>
        df.select(col(c)).filter(col(c).isNotNull).distinct()
          .agg(count(lit(1)).as("n_distinct"))
          .select(lit(c).as("column"), col("n_distinct")))
      .reduce(_.unionAll(_))
    base.join(distincts, "column")
      .select(col("column"), col("n_nulls"), col("n_distinct"),
        col("min_v"), col("max_v"))
  }

  /** Pairwise vocabulary overlap between corpus groups via sketch SET
    * ALGEBRA: one fused scan builds a mergeable distinct sketch of each
    * group's word-`n`-gram hashes; `|A∪B|` is a two-state sketch merge
    * and `|A∩B|` follows by inclusion–exclusion — no cross-group
    * distinct join ever touches the corpus (contrast
    * [[Dedup.sourceOverlapMatrix]], which is exact doc-level overlap
    * via a factored pair join). Exact whenever each group's vocab fits
    * the sketch's exact tier (the gate tier — integer-equal to
    * `count(DISTINCT)` set arithmetic); ~0.8%-error HLL above it, where
    * the exact pair join would be the corpus-scale cost.
    *
    * 100 TB shape: ONE corpus exchange (the per-group sketch agg, fixed
    * state per group × partition, map-side partials); everything after
    * operates on `|groups|` metadata rows — the pair expansion is a
    * nested loop over that metadata frame by construction, never data.
    * Returns (src_a, src_b, v_a, v_b, v_union, v_intersect), src_a <
    * src_b, all counts integer.
    */
  def vocabOverlap(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 2,
      sketchK: Int = 1 << 17,
      sketchP: Int = 14): DataFrame = {
    val states = docs
      .select(col(groupCol).as("src"),
        explode(Dedup.positionalGramHashes(col(textCol), n)).as("gh"))
      .groupBy("src")
      .agg(graft.functions.DistinctSketch
        .sketchState(col("gh"), sketchK, sketchP).as("st"))
      .persist()
    val est = states.groupBy("src")
      .agg(graft.functions.DistinctSketch.mergeSketches(col("st")).as("v"))
    val pairs = states.select(col("src").as("src_a"), col("st").as("st_a"))
      .join(states.select(col("src").as("src_b"), col("st").as("st_b")),
        col("src_a") < col("src_b"))
    val unions = pairs
      .select(col("src_a"), col("src_b"),
        explode(array(col("st_a"), col("st_b"))).as("st"))
      .groupBy("src_a", "src_b")
      .agg(graft.functions.DistinctSketch.mergeSketches(col("st")).as("v_union"))
    unions
      .join(est.select(col("src").as("src_a"), col("v").as("v_a")), "src_a")
      .join(est.select(col("src").as("src_b"), col("v").as("v_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("v_a"), col("v_b"),
        col("v_union"), (col("v_a") + col("v_b") - col("v_union")).as("v_intersect"))
  }

  /** [[numericProfile]] in ONE fused scan: distinct counts ride the
    * same aggregate as nulls/min/max through the mergeable
    * [[graft.functions.DistinctSketch]] (exact below `sketchK`
    * distincts — the gate tier, hash-equal to `count(DISTINCT)` —
    * ~0.8%-error HLL above). At 100 TB × many columns this replaces N
    * column-pruned full scans with a single pass whose per-partition
    * state is N fixed-size sketches; [[numericProfile]] remains the
    * exact-at-any-cardinality option.
    */
  def numericProfileSketch(df: DataFrame, cols: Seq[String],
      sketchK: Int = 1 << 16): DataFrame = {
    require(cols.nonEmpty, "numericProfileSketch needs at least one column")
    // ONE fused buffer per column (nulls + sketch + min/max —
    // graft.functions.ProfileSketch) instead of four aggregate
    // expressions: the sketch already forces the object-agg path, so
    // fusing loses no codegen and quarters the plan's aggregate count
    // and the streaming buffer round-trips (st7s)
    val aggs = cols.map(c =>
      graft.functions.ProfileSketch.profile(col(c), sketchK).as(s"${c}__p"))
    val parts = cols.map(c =>
      s"'$c', `${c}__p`.n_nulls, `${c}__p`.n_distinct, `${c}__p`.min_v, `${c}__p`.max_v")
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, ${parts.mkString(", ")}) " +
        "as (column, n_nulls, n_distinct, min_v, max_v)"))
  }

  /** The persistable HALF of [[numericProfileSketch]]: one fused scan
    * emitting, per column, the mergeable partial state — row/null
    * counts, min/max, and the distinct sketch's serialized bytes —
    * instead of finalized numbers. Write it to parquet next to the
    * data it profiles; [[finalizeProfileStates]] folds any union of
    * states (base + deltas) back into the finished profile.
    *
    * This is incremental statistics maintenance at 100 TB: the base
    * corpus is scanned ONCE ever; each new partition/day costs one
    * delta-sized scan plus a merge over metadata-sized state rows
    * (states are O(columns × sketch size), independent of row count).
    */
  def numericProfileState(df: DataFrame, cols: Seq[String],
      sketchK: Int = 1 << 16): DataFrame = {
    require(cols.nonEmpty, "numericProfileState needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      graft.functions.DistinctSketch.sketchState(col(c), sketchK)
        .as(s"${c}__sk"),
      min(col(c).cast("double")).as(s"${c}__min"),
      max(col(c).cast("double")).as(s"${c}__max")))
    val parts = cols.map(c =>
      s"'$c', `${c}__nulls`, `${c}__sk`, `${c}__min`, `${c}__max`")
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, ${parts.mkString(", ")}) " +
        "as (column, n_nulls, sketch, min_v, max_v)"))
  }

  /** Fold persisted [[numericProfileState]] rows (any number of
    * snapshots unioned together) into the finished profile — the same
    * output shape as [[numericProfileSketch]]. The group-by key space
    * is the COLUMN LIST, so this aggregates metadata, not data: cost
    * is independent of the corpus size the states summarize.
    */
  def finalizeProfileStates(states: DataFrame): DataFrame =
    states.groupBy("column")
      .agg(
        sum(col("n_nulls")).as("n_nulls"),
        graft.functions.DistinctSketch.mergeSketches(col("sketch"))
          .as("n_distinct"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
      .select(col("column"), col("n_nulls"), col("n_distinct"),
        col("min_v"), col("max_v"))

  // ---- corpus snapshot diff ----------------------------------------------

  /** Delta between two corpus snapshots: which documents were added,
    * removed, or changed (by content) between `oldDf` and `newDf` —
    * the dataset-versioning primitive behind incremental re-curation
    * (only re-dedup/re-score the delta) and training-data audits
    * ("what changed between corpus v3 and v4?"). Content equality is
    * judged on `contentCols` joined with a \\u0001 separator and
    * md5-hashed.
    *
    * Scale shape: each side is projected to (id, 32-char md5) BEFORE
    * the join, so the full-outer equi-join shuffles fixed-width hash
    * rows, never document text — at 100 TB the exchange carries ~40
    * bytes/doc regardless of document size. Unchanged documents (the
    * overwhelming majority of any incremental snapshot) are filtered
    * out post-join, so the output is delta-sized.
    *
    * Returns (idCol, status) with status ∈ added | removed | changed.
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "snapshotDiff needs at least one content column")
    def hashed(df: DataFrame, h: String): DataFrame = df.select(
      col(idCol),
      md5(concat_ws("\u0001", contentCols.map(c => col(c).cast("string")): _*)).as(h))
    val o = hashed(oldDf, "_h_old")
    val n = hashed(newDf, "_h_new")
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("_h_old").isNull, lit("added"))
          .when(col("_h_new").isNull, lit("removed"))
          .when(col("_h_old") =!= col("_h_new"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(col(idCol), col("status"))
  }

  /** Distribution drift between two corpus snapshots, per stratum: doc
    * counts, mean `lenCol`, and a drift flag raised when the stratum's
    * SHARE of the corpus moved by more than `driftPct` percent
    * relative — the mixture-monitoring report a training pipeline
    * checks before each refresh ("did the web/wiki/code balance shift
    * under us?"). The flag compares shares by INTEGER cross-
    * multiplication (`100·n_new·tot_old` vs `(100±pct)·n_old·tot_new`)
    * so the verdict is exact on every engine — no float thresholding;
    * a stratum present only in the new snapshot always flags.
    *
    * Scale shape: the two snapshots union (no shuffle) into ONE keyed
    * partial-agg'd exchange on the strata; snapshot totals reduce the
    * per-stratum rows (metadata) and ride back as a 1-row broadcast.
    * Assumes `tot·n < 2^63 / 120` — beyond that, scale counts down
    * before flagging.
    */
  def snapshotDrift(
      oldDf: DataFrame,
      newDf: DataFrame,
      strata: Seq[String],
      lenCol: String,
      driftPct: Int = 20): DataFrame = {
    require(strata.nonEmpty, "snapshotDrift needs at least one stratum column")
    def side(df: DataFrame, snap: Int) = df.select(
      strata.map(col) ++ Seq(col(lenCol).cast("long").as("_len"),
        lit(snap).as("_snap")): _*)
    val g = side(oldDf, 0).unionByName(side(newDf, 1))
      .groupBy(strata.map(col): _*)
      .agg(
        sum(when(col("_snap") === 0, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("_snap") === 1, 1L).otherwise(0L)).as("n_new"),
        avg(when(col("_snap") === 0, col("_len"))).as("mean_len_old"),
        avg(when(col("_snap") === 1, col("_len"))).as("mean_len_new"))
    val tot = g.agg(sum("n_old").as("_tot_old"), sum("n_new").as("_tot_new"))
    g.crossJoin(tot)
      .withColumn("drifted",
        (col("n_new") * col("_tot_old") * 100L >
          col("n_old") * col("_tot_new") * (100L + driftPct)) ||
        (col("n_new") * col("_tot_old") * 100L <
          col("n_old") * col("_tot_new") * (100L - driftPct)))
      .drop("_tot_old", "_tot_new")
  }

  /** Time-sliced mixture drift WITHIN one corpus/stream: per
    * (time bucket, stratum), flag buckets where the stratum's share
    * deviates from its overall corpus share by more than `driftPct`
    * percent relative — [[snapshotDrift]]'s two-snapshot verdict
    * generalized to every time slice at once ("did the source mix
    * wobble over ingestion time?"). The verdict is the same integer
    * cross-multiplication (`n·tot·100` vs `sn·bn·(100±pct)`): exact
    * on every engine, no float thresholding.
    *
    * Scale shape: ONE partial-agg'd exchange builds the
    * (bucket, stratum) counts; bucket totals and stratum totals
    * aggregate those metadata-sized rows, and the grand total rides
    * back as a 1-row broadcast. The corpus is scanned once.
    * Assumes `n·tot < 2^63 / 120`, like snapshotDrift.
    */
  def timeSlicedShareDrift(
      df: DataFrame,
      tsCol: String,
      strata: Seq[String],
      bucket: String = "hour",
      driftPct: Int = 20): DataFrame = {
    require(strata.nonEmpty, "timeSlicedShareDrift needs at least one stratum column")
    val g = df
      .groupBy(date_trunc(bucket, col(tsCol)).as("bucket") +: strata.map(col): _*)
      .agg(count(lit(1)).as("n"))
    val bucketTot = g.groupBy("bucket").agg(sum("n").as("_bn"))
    val stratTot = g.groupBy(strata.map(col): _*).agg(sum("n").as("_sn"))
    val grand = g.agg(sum("n").as("_tot"))
    g.join(bucketTot, "bucket")
      .join(stratTot, strata)
      .crossJoin(grand)
      .withColumn("drifted",
        (col("n") * col("_tot") * 100L >
          col("_sn") * col("_bn") * (100L + driftPct)) ||
        (col("n") * col("_tot") * 100L <
          col("_sn") * col("_bn") * (100L - driftPct)))
      .drop("_bn", "_sn", "_tot")
  }

  /** Vocabulary coverage per stratum: token totals and in-vocabulary
    * token counts (with multiplicity) against a literal vocabulary —
    * the OOV-rate audit run before committing a tokenizer/vocab to a
    * corpus mix ("how much of each source does this vocab actually
    * cover?"). Integer counts only; consumers derive the rate.
    *
    * 100 TB shape: the membership count is a narrow per-row fold
    * (tokenize → hash-set membership count, all inside one codegen'd
    * projection — the vocab rides as a plan reference object, like
    * the decon bloom bitset), followed by ONE partial-agg'd stratum
    * exchange. Text never shuffles. Membership is O(1) per token via
    * [[graft.functions.InVocabCountExpr]], so a 50k-entry tokenizer
    * vocab costs the same per token as a stopword list (the previous
    * `array_contains`-over-literal form scanned the whole vocab per
    * token — right answer, ~10^4x the comparisons at BPE sizes).
    */
  def vocabCoverage(
      df: DataFrame,
      strata: Seq[String],
      textCol: String,
      vocab: Seq[String]): DataFrame = {
    require(strata.nonEmpty, "vocabCoverage needs at least one stratum column")
    require(vocab.nonEmpty, "vocabCoverage needs a non-empty vocabulary")
    val toks = TextFunctions.tokens(col(textCol))
    df.select(strata.map(col) :+
        size(toks).cast("long").as("_nt") :+
        graft.functions.NativeExpressions.inVocabCount(toks, vocab).as("_iv"): _*)
      .groupBy(strata.map(col): _*)
      .agg(sum(col("_nt")).as("n_tokens"), sum(col("_iv")).as("n_in_vocab"))
  }

  // ---- salient terms (tf-idf) --------------------------------------------

  /** Top-`k` salient terms per document by tf·idf, with the idf taken
    * as the exact document-frequency ratio `N/df` (rational, so the
    * score `tf·N/df` is one integer product + one IEEE division —
    * bit-reproducible across engines, unlike `ln(N/df)` whose last ulp
    * is libm-dependent; the ranking is the classic "rare terms first"
    * tf-idf family). Ties break on the term.
    *
    * Scale shape: wordcount — (doc, term) partial-agg'd before the
    * exchange, document frequency partial-agg'd from the tf table
    * (already distinct per doc), the corpus row count joined as a
    * broadcast scalar, and the per-doc top-k window partitions by doc.
    * Term strings shuffle once, counts after that.
    */
  def tfidfTopTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("_n"))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("_n")).cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("rank"))
  }

  /** Corpus collocations: adjacent word pairs whose co-occurrence
    * beats chance — the PMI family, with the association score kept
    * RATIONAL (`cxy·N / (ca·cb)`, the inside of the PMI log) for the
    * same engine-portability reason as [[tfidfTopTerms]]: integer
    * products, one IEEE division, bit-reproducible. Monotone in PMI,
    * so thresholds/rankings agree with the log form.
    *
    * Scale shape: bigram and unigram counts are wordcount-shaped
    * (partial-agg'd before their exchange); the `minCount` filter
    * prunes the bigram table BEFORE the two vocabulary joins, so the
    * joins carry only pairs frequent enough to matter; N joins as a
    * broadcast scalar. NOTE the score's integer product `cxy·N`
    * assumes `max(cxy)·N < 2^63` — beyond that (trillion-bigram
    * corpora) flip the two casts to double first; the ordering is
    * unchanged for any realistic counts.
    */
  def collocations(
      df: DataFrame,
      textCol: String,
      minCount: Int): DataFrame = {
    val toks = df.select(TextFunctions.tokens(col(textCol)).as("_ts"))
    val bi = toks.filter(size(col("_ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(_ts)-1), i -> named_struct('pa', _ts[i-1], 'pb', _ts[i]))"))
        .as("_p"))
      .select(col("_p.pa"), col("_p.pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    val uni = toks
      .select(explode(col("_ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = toks.agg(sum(greatest(size(col("_ts")) - 1, lit(0))).as("_n"))
    bi.join(uni.select(col("w").as("pa"), col("c").as("ca")), "pa")
      .join(uni.select(col("w").as("pb"), col("c").as("cb")), "pb")
      .crossJoin(broadcast(n))
      .select(col("pa"), col("pb"), col("cxy"), col("ca"), col("cb"),
        ((col("cxy") * col("_n")).cast("double") /
          (col("ca") * col("cb")).cast("double")).as("score"))
  }

  /** BM25 ranked retrieval (Robertson et al., Okapi) for a LITERAL
    * query-term set — the keyword-search complement to
    * [[tfidfTopTerms]]: given a handful of query terms, return the
    * top-`k` corpus documents by BM25. The idf factor is kept
    * RATIONAL — `(N - df + 0.5) / (df + 0.5)` without the standard
    * `ln` — for the same engine-portability reason as tf-idf above
    * (libm `ln` last-ulp drift breaks the cross-engine hash gate);
    * the `ln` variant is a one-line swap and ranks identically for
    * single-term queries. Per-term saturation is the real BM25 core:
    * `tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))`.
    *
    * Scale shape: the query terms are a literal handful, so per-doc
    * term frequencies are NARROW per-row folds over the token array
    * (no explode, no (doc,term) shuffle — compare [[tfidfTopTerms]],
    * which must shuffle because its term set is the whole vocabulary);
    * corpus stats (N, total tokens, per-term df) are ONE single-row
    * partial-agg'd aggregate broadcast back; scoring is narrow; and
    * the global top-k is `orderBy.limit(k)` = TakeOrderedAndProject —
    * per-partition heaps, never a single-task global window. The only
    * post-scan work proportional to the corpus is the one stats scan.
    * Every float op is a fixed expression tree (constants precomputed
    * driver-side and rendered identically into the oracle), so scores
    * are bit-reproducible across engines.
    *
    * Returns (idCol, score, rank), rank 1..k, ties on score broken by
    * ascending id.
    */
  def bm25TopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    import org.apache.spark.sql.expressions.Window
    val toks = TextFunctions.tokens(col(textCol))
    val tfd = df.select(
      Seq(col(idCol), TextFunctions.tokenCount(col(textCol)).cast("long").as("_dl")) ++
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === lit(t))).cast("long").as(s"_tf$i")
        }: _*)
    val stats = tfd.agg(
      count(lit(1)).as("_n"),
      sum(col("_dl")).as("_tot") +:
        terms.indices.map(i =>
          sum(when(col(s"_tf$i") > 0, 1L).otherwise(0L)).as(s"_df$i")): _*)
    // constants are folded ONCE on the driver and the SAME doubles are
    // rendered into the oracle SQL — no engine-side constant folding in
    // the float path
    val c1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    val avgdl = col("_tot").cast("double") / col("_n").cast("double")
    val ratio = col("_dl").cast("double") / col("_avgdl")
    def termScore(i: Int): Column = {
      val tf = col(s"_tf$i").cast("double")
      val dfq = col(s"_df$i").cast("double")
      val idf = (col("_n").cast("double") - dfq + lit(0.5)) / (dfq + lit(0.5))
      when(col(s"_tf$i") > 0,
        idf * (tf * lit(c1)) / (tf + lit(k1) * (lit(oneMinusB) + lit(b) * col("_ratio"))))
        .otherwise(lit(0.0))
    }
    val scored = tfd.crossJoin(broadcast(stats.withColumn("_avgdl", avgdl)))
      .withColumn("_ratio", ratio)
      .withColumn("score", terms.indices.map(termScore).reduceLeft(_ + _))
      .filter(col("score") > 0.0)
    val top = scored.select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
    // rank over the ALREADY-LIMITED k rows — the unpartitioned window
    // sees at most k rows, never the corpus
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col(idCol).asc)))
  }

  /** The constants [[bm25TopK]] folds driver-side, rendered for an
    * oracle that must replay the identical float expression tree. */
  def bm25Constants(k1: Double = 1.2, b: Double = 0.75): (String, String, String, String) =
    ((k1 + 1.0).toString, (1.0 - b).toString, k1.toString, b.toString)

  // ---- BPE merge training -------------------------------------------------

  /** Learn the first `rounds` BPE merges from the corpus (Sennrich et
    * al. 2016: count adjacent symbol pairs over the word-frequency
    * table, merge the most frequent pair everywhere, repeat).
    * Deterministic tie-break: count desc, then left/right symbol asc.
    *
    * Scale shape: the corpus is scanned ONCE (word→freq, one hash
    * agg); every round after that works on the distinct-word VOCAB
    * (Zipf-bounded, ~10^6-10^7 rows at 100 TB regardless of corpus
    * size) — a narrow pair-explode + hash-agg and a single argmax row
    * to the driver, then the merge applied as a codegen'd array fold.
    * The greedy leftmost-non-overlapping merge is a left fold:
    * "merge if last(acc)==A && cur==B" — equivalent to index-jump
    * scanning (CurationSpec pins the overlap chains aaa/abab).
    *
    * Returns one row per learned merge: (round, left, right, cnt).
    */
  def bpeTrainMerges(df: DataFrame, textCol: String, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "need at least one merge round")
    val spark = df.sparkSession
    import spark.implicits._
    val vocab0 = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("word"), ""))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def pairCounts(v: DataFrame): DataFrame = v
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1), i =>
          struct(element_at(col("syms"), i).as("pa"),
            element_at(col("syms"), i + lit(1)).as("pb")))).as("p"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(sum(col("freq")).as("cnt"))
    def applyMerge(a: String, b: String): Column = mergeFold(col("syms"), a, b)
    var vocab = vocab0
    val merges = try {
      (1 to rounds).map { r =>
        val best = pairCounts(vocab)
          .orderBy(col("cnt").desc, col("pa").asc, col("pb").asc)
          .limit(1).head()
        val (a, b) = (best.getString(0), best.getString(1))
        vocab = vocab.withColumn("syms", applyMerge(a, b))
        (r.toLong, a, b, best.getLong(2))
      }
    } finally vocab0.unpersist()
    merges.toDF("round", "left", "right", "cnt")
  }

  /** One greedy BPE merge pass over a symbol array: leftmost
    * non-overlapping pairing as a left fold (merge when the
    * accumulator's last symbol is `a` and the current is `b`). */
  private def mergeFold(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Learn the merge table as driver metadata — [[bpeTrainMerges]]
    * without the result framing, for feeding [[bpeTokenCount]]. */
  def bpeLearn(df: DataFrame, textCol: String, rounds: Int = 3): Seq[(String, String)] =
    bpeTrainMerges(df, textCol, rounds)
      .collect().sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq

  /** ENCODE with a learned merge table: per-document BPE token count
    * under `merges` applied in training order — the tokenizer-apply
    * path (works on unseen text; the merge list is a literal in the
    * expression tree). Pure narrow codegen per document: chars →
    * fold-per-merge → segment count summed across the document's
    * words. Zero shuffle, zero joins — at 100 TB this rides whatever
    * scan is already reading the text.
    */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    val words = filter(TextFunctions.tokens(text), t => t =!= "")
    val perWord = transform(words, t =>
      size(merges.foldLeft(split(t, ""))((s, m) => mergeFold(s, m._1, m._2))))
    aggregate(perWord, lit(0L), (acc, n) => acc + n.cast("long"))
  }

  // ---- phrase search over a positional inverted index ---------------------

  /** Positional postings: one row per token occurrence — (term, id,
    * pos), pos 1-based. The materialized form is partitioned by a
    * stable hash bucket of the term (`_tb`), so a phrase query reads
    * only its terms' buckets (partition-pruned) instead of the corpus.
    */
  def positionalPostings(df: DataFrame, idCol: String, textCol: String,
      termBuckets: Int = 256): DataFrame =
    df.select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("_p0", "term")))
      .select(col("term"), col(idCol), (col("_p0") + 1).cast("long").as("pos"),
        pmod(abs(hash(col("term"))), lit(termBuckets)).as("_tb"))

  /** Build the index on disk: postings parquet partitioned by term
    * bucket. 100 TB shape: one explode scan + one partitioned write;
    * queries after that never touch the corpus.
    */
  def buildPhraseIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, termBuckets: Int = 256): Unit =
    positionalPostings(df, idCol, textCol, termBuckets)
      // co-locate each bucket before the partitioned write: without
      // this every write task emits a file into every bucket dir
      // (tasks × buckets small files); with it a bucket's postings
      // arrive in one task → one file per directory. At 100 TB raise
      // termBuckets (and let several tasks share a bucket) rather
      // than letting the cross product explode
      .repartition(col("_tb"))
      .write.mode("overwrite").partitionBy("_tb").parquet(path)

  /** Exact phrase query against a built index: documents containing
    * the consecutive token sequence `phrase`, with occurrence count
    * and first match position.
    *
    * Scale shape: the scan is pruned twice BEFORE any join — partition
    * pruning on the term buckets (`_tb IN (...)` reaches the
    * FileSourceScan) then a pushed `term IN (...)` filter — so the
    * join chain sees only the phrase's own postings (inverted-index
    * selectivity), shuffled by (id, aligned position). Each chain step
    * is an equi-join on (id, start), i.e. posting-list intersection
    * with positional alignment, the standard phrase plan (cf. Lucene's
    * ExactPhraseMatcher over term postings).
    */
  def phraseSearch(index: DataFrame, idCol: String, phrase: Seq[String],
      termBuckets: Int = 256): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one term")
    val pruned = index
      .filter(col("_tb").isin(phraseTermBuckets(index, phrase, termBuckets): _*))
      .filter(col("term").isin(phrase: _*))
    val start = pruned.filter(col("term") === phrase.head)
      .select(col(idCol), col("pos").as("_start"))
    val aligned = phrase.zipWithIndex.drop(1).foldLeft(start) {
      case (acc, (t, i)) =>
        acc.join(
          pruned.filter(col("term") === t)
            .select(col(idCol), (col("pos") - i).as("_start")),
          Seq(idCol, "_start"))
    }
    aligned.groupBy(idCol)
      .agg(count(lit(1)).as("hits"), min(col("_start")).as("first_pos"))
  }

  /** The term→bucket map used by both build and query sides, computed
    * through Spark's own `hash()` so the two can never drift — a
    * one-row literal projection (LocalTableScan, no corpus touch). */
  private def phraseTermBuckets(index: DataFrame, phrase: Seq[String],
      termBuckets: Int): Seq[Int] = {
    val cols = phrase.map(t => pmod(abs(hash(lit(t))), lit(termBuckets)))
    val row = index.sparkSession.range(1).select(cols: _*).head()
    phrase.indices.map(row.getInt).distinct
  }

  /** Document-local phrase count — the scan path to [[phraseSearch]]'s
    * index path: a single narrow array expression (zero shuffle, full
    * codegen), right when the query set is small and the corpus scan
    * is already paid. Counts start positions of the consecutive run.
    */
  def phraseHits(text: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "phraseHits needs at least one term")
    val toks = TextFunctions.tokens(text)
    // sequence(1, n) is DESCENDING for n < 1 — gate the short-doc case
    // out before building the start list
    val counted = size(filter(
      sequence(lit(1), size(toks) - lit(phrase.size - 1)), i =>
        phrase.zipWithIndex.map { case (t, j) =>
          element_at(toks, (i + lit(j)).cast("int")) === lit(t)
        }.reduceLeft(_ && _)))
    when(size(toks) >= lit(phrase.size), counted).otherwise(lit(0))
  }

  // ---- importance weighting (DSIR) ---------------------------------------

  /** DSIR-style importance weight per document (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * hashed word-`n`-gram occurrences land in `buckets` buckets; the
    * target (the small domain sample you want more of) and the raw
    * corpus each induce a bucket distribution; a document's log-weight
    * is the sum over its gram occurrences of
    * `ln(p_target(bucket) / p_raw(bucket))` with add-half smoothing.
    *
    * The per-bucket log-ratios are INTEGER-QUANTIZED on the driver
    * (`floor(1e6·ln + 0.5)`) and embedded as a literal array, so the
    * per-document score is an exact integer sum — engine-portable, no
    * float accumulation-order sensitivity. Returns
    * (idCol, n_grams, logw_q) with `logw_q` in micro-nats.
    *
    * Scale shape: two bucket-count aggregations whose outputs are
    * `buckets`-bounded (partial-agg'd, then collected as plan metadata
    * — same bounded contract as [[Similarity.ivfTopK]]'s quantizer),
    * then one narrow scoring pass over the corpus: zero shuffle, the
    * text never moves. Works unchanged at any corpus size; `buckets`
    * (default 1024, DSIR's own default order) bounds the metadata.
    */
  def importanceWeights(
      corpus: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      buckets: Int = 1024): DataFrame = {
    def counts(df: DataFrame): Array[Long] = {
      val out = new Array[Long](buckets)
      dsirBucketCounts(df, textCol, n, buckets)
        .collect().foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
      out
    }
    dsirScore(corpus, idCol, textCol, n,
      dsirLogRatios(counts(target), counts(corpus)).toIndexedSeq)
  }

  /** Per-bucket hashed-gram occurrence counts — the DSIR feature fit.
    * One `buckets`-bounded partial-agg'd aggregation; integer-exact,
    * so it hash-gates directly (p6b). Returns (bucket, n).
    */
  def dsirBucketCounts(
      df: DataFrame, textCol: String, n: Int, buckets: Int): DataFrame =
    df.select(explode(Dedup.positionalGramHashes(col(textCol), n)).as("_gh"))
      .groupBy(pmod(col("_gh"), lit(buckets.toLong)).as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Quantized per-bucket log-ratios `floor(1e6·ln(ratio) + 0.5)` with
    * add-half smoothing — the one place libm `ln` enters DSIR, and
    * deliberately a DRIVER-SIDE scalar map over two tiny count arrays
    * (the fitted "model", same plan-metadata contract as the IVF
    * quantizer). Excluded from the hash gate by design: JVM Math.log
    * and another engine's ln can differ in the last ulp, flipping a
    * quantized value when 1e6·ln lands within ~1e-10 of a half-integer
    * (ADVICE r4, P≈2e-7/run) — so the gate covers the integer-exact
    * fit ([[dsirBucketCounts]], p6b) and the exact-integer scoring
    * fold ([[dsirScore]], p6 with embedded literal weights), leaving
    * this 1024-entry map as unverified-but-trivial glue.
    */
  def dsirLogRatios(tb: Array[Long], rb: Array[Long]): Array[Long] = {
    require(tb.length == rb.length, "bucket arrays must align")
    val buckets = tb.length
    val tTot = tb.sum.toDouble + buckets / 2.0
    val rTot = rb.sum.toDouble + buckets / 2.0
    Array.tabulate(buckets) { b =>
      math.floor(1e6 * math.log(((tb(b) + 0.5) * rTot) / ((rb(b) + 0.5) * tTot)) + 0.5).toLong
    }
  }

  /** The narrow DSIR scoring pass: each document's `logw_q` is the
    * exact integer sum of its gram-bucket weights (micro-nats). The
    * weight table ships as a literal — zero shuffle, the text never
    * moves, works unchanged at any corpus size.
    */
  def dsirScore(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      logRatios: Seq[Long]): DataFrame = {
    val buckets = logRatios.length
    val lrArr = typedLit(logRatios)
    corpus
      .select(col(idCol), Dedup.positionalGramHashes(col(textCol), n).as("_gs"))
      .select(col(idCol), size(col("_gs")).as("n_grams"),
        aggregate(col("_gs"), lit(0L),
          (s, g) => s + element_at(lrArr, pmod(g, lit(buckets.toLong)).cast("int") + lit(1)))
          .as("logw_q"))
  }

  // ---- model-based quality filtering (fastText-style) --------------------

  /** Linear text-classifier score: hashed bag-of-words inference, the
    * fastText/DCLM/FineWeb-Edu quality-filter shape. Each token hashes
    * into `buckets` and picks up that bucket's weight; the document's
    * logit is the left-to-right sum (deterministic across engines —
    * adding 0.0 first is exact, and both engines fold token order).
    * `weights` is the trained model shipped as plan metadata (the same
    * bounded contract as the IVF quantizer; fastText models are a few
    * MB of exactly this). Decision = `logit > threshold` — monotone in
    * the sigmoid, so the probability itself is never needed and no
    * libm `exp` enters the gate path. A narrow per-row fold: zero
    * shuffle at any corpus size.
    */
  def linearClassifierScore(
      textCol: Column,
      weights: Seq[Double],
      buckets: Int): Column = {
    require(weights.length == buckets, "one weight per bucket")
    val wArr = typedLit(weights)
    aggregate(
      transform(TextFunctions.tokens(textCol), t =>
        element_at(wArr,
          pmod(TextFunctions.polyHash(t), lit(buckets.toLong)).cast("int") + lit(1))),
      lit(0.0), (s, w) => s + w)
  }

  /** Deterministic stand-in weights (LCG over the bucket index, zero
    * mean, |w| <= ~1) — the catalog/demo model. Swap in trained
    * weights for production; the inference plumbing is identical.
    */
  def lcgWeights(buckets: Int): Seq[Double] =
    (0 until buckets).map(b =>
      ((1103515245L * b + 12345L) % 2000003L - 1000001L) / 1000001.0)

  /** TRAIN the hashed-bag-of-words logistic-regression quality
    * classifier (the fastText-style linear model whose inference path
    * is [[linearClassifierScore]]) by full-batch gradient descent —
    * distributed, deterministic, and cross-engine reproducible.
    *
    * Determinism is the hard part at scale: a double gradient summed
    * over shuffled partitions is not associative, so the same data can
    * yield different weights run to run. Here each document's gradient
    * contribution is quantized to a FIXED-POINT long
    * (`round(contrib × scale)`) and the cross-row sum is exact integer
    * arithmetic — any partition order, any engine, same weights. The
    * float work (sigmoid, normalization) stays per-document where
    * evaluation order is fixed by the expression tree.
    *
    * Shape per iteration: one scan of the cached normalized features,
    * map-side partial sums, a single `dims+1`-long aggregate row to
    * the driver; the model (`dims` doubles) is driver-held bounded
    * metadata, re-broadcast as literals each pass — exactly how a
    * linear probe over 100 TB should run. Features are L1-normalized
    * token-bucket counts, so documents of any length keep the sigmoid
    * in its responsive range.
    *
    * Returns one row per model coefficient: (dim, weight).
    */
  def trainHashedLogreg(
      df: DataFrame,
      textCol: String,
      label: Column,
      dims: Int = 8,
      iters: Int = 3,
      lr: Double = 0.5,
      scale: Double = 1e6): DataFrame = {
    require(dims >= 1 && iters >= 1, "need at least one dim and one iteration")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = TextFunctions.tokens(col(textCol))
    // split('',' ') = [''] and polyHash('') = 0, so n_tokens >= 1
    // always — no zero-division branch, matching the oracle's SQL
    val featCols = (0 until dims).map { j =>
      (size(filter(toks, t => TextFunctions.polyHash(t) % lit(dims.toLong) === lit(j.toLong)))
        .cast("double") / size(toks).cast("double")).as(s"_u$j")
    }
    val feats = df.select(label.cast("double").as("_y") +: featCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var w = Array.fill(dims)(0.0)
    try {
      for (_ <- 1 to iters) {
        val z = (0 until dims).map(j => lit(w(j)) * col(s"_u$j")).reduce(_ + _)
        val err = lit(1.0) / (lit(1.0) + exp(-z)) - col("_y")
        val aggs = (0 until dims).map(j =>
          sum(round(err * col(s"_u$j") * lit(scale)).cast("long")).as(s"_g$j")) :+
          count(lit(1)).as("_n")
        val row = feats.agg(aggs.head, aggs.tail: _*).head()
        val n = row.getLong(dims).toDouble
        w = Array.tabulate(dims)(j =>
          w(j) - lr * (row.getLong(j).toDouble / scale / n))
      }
    } finally feats.unpersist()
    w.toSeq.zipWithIndex.map { case (wj, j) => (j.toLong, wj) }
      .toDF("dim", "weight")
  }

  /** The clamped equal-width calibration cell — floor((s−lo)/(hi−lo)·
    * buckets) — shared by [[calibrationReport]] and its streaming twin
    * so batch and live monitor can never disagree on the binning. Each
    * IEEE op is exactly rounded, so the cell is engine-portable. */
  def calibrationCell(score: Column, lo: Double, hi: Double, buckets: Int): Column = {
    require(buckets >= 1, "calibrationCell: need at least one bucket")
    require(hi > lo, s"calibrationCell: need hi > lo, got [$lo, $hi)")
    least(greatest(
        floor((score - lit(lo)) / lit(hi - lo) * lit(buckets.toDouble)),
        lit(0.0)), lit((buckets - 1).toDouble))
      .cast("long")
  }

  /** `trunc(score·2^scaleBits)` as a long — the exact, order-free unit
    * both engines agree on (power-of-two scale, cast truncates toward
    * zero in Spark and DuckDB's trunc mirrors it). */
  def quantizedScore(score: Column, scaleBits: Int): Column = {
    require(scaleBits >= 0 && scaleBits <= 40, "quantizedScore: scaleBits in [0, 40]")
    (score * lit(java.lang.Math.scalb(1.0, scaleBits))).cast("long")
  }

  /** Reliability-diagram report for a scored classifier — the check a
    * pipeline runs BEFORE trusting a quality model's threshold on
    * 100 TB: does predicted confidence track the empirical positive
    * rate? Scores are binned into `buckets` equal-width cells over
    * [lo, hi) (out-of-range scores clamp into the end cells, so every
    * row is counted) and each cell reports its row count, its positive
    * count, and the exact integer sum of quantized scores — the
    * consumer reads empirical rate = pos/n against mean score =
    * score_qsum/(n·2^scaleBits) per cell, and a gap is miscalibration
    * (the ECE summand). All gated values are integers: counts, and a
    * per-row `trunc(score·2^scaleBits)` long summed exactly — no float
    * accumulation, engine-portable.
    *
    * Scale shape: one narrow scan, ONE partial-agg'd exchange keyed by
    * the bucket (≤ `buckets` result rows — bounded metadata at any
    * corpus size). Nothing else moves.
    */
  def calibrationReport(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      lo: Double,
      hi: Double,
      buckets: Int = 20,
      scaleBits: Int = 20): DataFrame =
    df.groupBy(calibrationCell(col(scoreCol), lo, hi, buckets).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("pos"),
        sum(quantizedScore(col(scoreCol), scaleBits)).as("score_qsum"))

  // ---- quality-ranked selection ------------------------------------------

  /** Keep the top `keepPct` percent of each stratum by `scoreCol`
    * (ties → lowest id): the DataComp/FineWeb-style "keep the best X%
    * by classifier score" selection, exact. One exchange on the
    * stratum + per-stratum window.
    *
    * Caveat at 100 TB: the window hash-partitions BY STRATUM, so a
    * handful of huge strata (5 languages over the whole corpus) each
    * land on one task. For that regime use [[selectAboveQuantile]] —
    * an approximate score threshold per stratum (tiny aggregate) and
    * a pure narrow filter — and accept the approximate cut; exact
    * per-stratum rank at that scale inherently costs a per-stratum
    * global order.
    */
  def selectTopByStratum(
      df: DataFrame,
      stratumCol: String,
      scoreCol: String,
      idCol: String,
      keepPct: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(col(scoreCol).desc, col(idCol).asc)
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(stratumCol)
    df.withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wc))
      .filter(col("_rn") * 100 <= col("_n") * keepPct)
      .drop("_rn", "_n")
  }

  /** Scale path for quality selection: per-stratum discrete-quantile
    * score threshold at `buckets` granularity, then a narrow filter.
    * No corpus-scale stratum ever lands on one task: scores are
    * quantized to integer buckets, the (stratum, bucket) histogram is
    * ONE hash-partitioned aggregate (map-side combine; partition key
    * includes the bucket, so a half-the-corpus stratum spreads over
    * the cluster), the threshold comes from a window over the
    * HISTOGRAM (≤ `buckets` rows per stratum — bounded metadata, never
    * corpus-sized), and the kept rows are a broadcast-join + narrow
    * filter. Contrast [[selectTopByStratum]], whose per-stratum
    * row_number puts the whole stratum on one task.
    *
    * The cut is exact at bucket granularity: the threshold bucket is
    * the one holding the stratum's `floor(n·keepPct/100)`-th best
    * score ([[selectTopByStratum]]'s k), and ALL rows at or above it
    * survive — ties at the threshold bucket keep slightly more than
    * keepPct rather than ranking within the bucket. Deterministic and
    * engine-portable (integer bucket counts, no sketches) — the p8b
    * gate entry hash-checks it against a DuckDB rank oracle.
    */
  def selectAboveQuantile(
      df: DataFrame,
      stratumCol: String,
      scoreCol: String,
      keepPct: Int,
      buckets: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qb = floor(col(scoreCol) * buckets).cast("long")
    val hist = df.groupBy(col(stratumCol), qb.as("_qb")).agg(count(lit(1)).as("_c"))
    val cum = hist
      .withColumn("_cum", sum(col("_c"))
        .over(Window.partitionBy(stratumCol).orderBy(col("_qb").desc)))
      .withColumn("_k", floor(sum(col("_c"))
        .over(Window.partitionBy(stratumCol)) * keepPct / 100))
    // threshold = highest bucket whose desc-cumulative count reaches k
    // (the bucket holding the k-th best score); k = 0 → stratum keeps
    // nothing (selectTopByStratum parity) and emits no threshold row
    val thresholds = cum.filter(col("_k") >= 1 && col("_cum") >= col("_k"))
      .groupBy(stratumCol).agg(max(col("_qb")).as("_thr"))
    df.join(broadcast(thresholds), stratumCol)
      .filter(qb >= col("_thr"))
      .drop("_thr")
  }

  /** Multi-signal consensus filtering (the FineWeb/DataComp "ensemble
    * of filters" step): every document gets an EXACT global
    * competition rank per quality signal, the ranks are Borda-summed,
    * and a document survives when its mean rank percentile beats
    * `keepPct` — a document must look good to SEVERAL independent
    * signals at once, so one mis-calibrated scorer cannot flood the
    * kept set the way a single-threshold filter lets it.
    *
    * `signals` are (column, smallerIsBetter) over ALREADY-INTEGER
    * scores — quantize doubles first (`(score·2^k).cast("long")`,
    * trunc-toward-zero on both engines) so the value domain is
    * bounded and engine-portable. Rank semantics are SQL
    * `rank()` (competition rank: 1 + count of strictly-better
    * values; ties share a rank).
    *
    * Scale shape — exact global rank WITHOUT a global sort: a global
    * `rank() OVER (ORDER BY score)` puts the whole corpus through one
    * task; instead each signal's rank function is recovered from its
    * value HISTOGRAM. One narrow explode to (signal, value) pairs,
    * ONE partial-agg'd exchange keyed by (signal, value) — the only
    * corpus-sized data movement, and map-side combine collapses it to
    * per-partition distinct values — then a cumulative window over
    * HISTOGRAM rows only (≤ the quantization domain per signal,
    * ~2^20 rows of metadata regardless of corpus size) yields
    * rank(v) = 1 + Σ count(better v'), and docs pick up their ranks
    * by broadcast hash join on the quantized value. The keep rule is
    * integer cross-multiplication (`borda·100 ≤ n·k·keepPct` — mean
    * rank percentile ≤ keepPct), no division, no doubles.
    *
    * Returns (idCol, r_<signal>… (long), borda, kept). Long.MinValue
    * scores are rejected (descending signals rank by negation).
    */
  def rankEnsemble(
      df: DataFrame,
      idCol: String,
      signals: Seq[(String, Boolean)],
      keepPct: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(signals.nonEmpty, "rankEnsemble: need at least one signal")
    require(signals.map(_._1).distinct.size == signals.size,
      "rankEnsemble: duplicate signal column")
    require(0 < keepPct && keepPct <= 100,
      s"rankEnsemble: need 0 < keepPct <= 100, got $keepPct")
    signals.foreach { case (c, _) =>
      val dt = df.schema(c).dataType
      require(dt == org.apache.spark.sql.types.LongType
          || dt == org.apache.spark.sql.types.IntegerType,
        s"rankEnsemble: signal '$c' must be integral (quantize doubles " +
          s"to a bounded domain first), got $dt")
    }
    // canonicalize better = smaller: descending signals rank by their
    // negation (exact for any long except Long.MinValue, which the
    // bounded-quantization contract excludes; ANSI negate would throw).
    // A NULL signal has no place in a rank (it would silently inflate
    // every real value's strictly-better mass via the nulls-first
    // histogram row AND vanish from the non-null-safe rank join, while
    // SQL rank() keeps it) — fail fast with the column named instead.
    val canon = df.select(col(idCol) +: signals.map { case (c, asc) =>
      val nn = when(col(c).isNull,
        raise_error(lit(s"rankEnsemble: null value in signal '$c' — " +
          "rank semantics are undefined for nulls; filter or impute first")))
        .otherwise(col(c).cast("long"))
      (if (asc) nn else -nn).as("_s_" + c)
    }: _*)
      // the scored projection is read k+1 times (one histogram build
      // per signal + the final rank pickup); cache it so the signal
      // expressions run over the corpus ONCE (id + k longs per row)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = canon.select(explode(array(signals.map { case (c, _) =>
      struct(lit(c).as("sig"), col("_s_" + c).as("v"))
    }: _*)).as("p")).select(col("p.sig").as("sig"), col("p.v").as("v"))
    val hist = pairs.groupBy("sig", "v").agg(count(lit(1)).as("_c"))
    // strictly-better mass per histogram row: window over histogram
    // rows only (domain-bounded metadata, never corpus rows)
    val wStrict = Window.partitionBy("sig").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // not persisted: each signal's rank pickup re-aggregates from the
    // CACHED canon (a narrow in-memory scan + partial agg of metadata
    // rows) — the expensive corpus expressions above ran exactly once
    val ranks = hist.select(col("sig"), col("v"),
      (coalesce(sum(col("_c")).over(wStrict), lit(0L)) + 1L).as("_r"))
    val joined = signals.foldLeft(canon: DataFrame) { case (acc, (c, _)) =>
      acc.join(broadcast(
          ranks.filter(col("sig") === c)
            .select(col("v").as("_s_" + c), col("_r").as("r_" + c))),
        Seq("_s_" + c))
    }
    val nRow = canon.agg(count(lit(1)).as("_n"))
    val k = signals.size
    joined.crossJoin(broadcast(nRow))
      .withColumn("borda", signals.map(s => col("r_" + s._1)).reduce(_ + _))
      .withColumn("kept", col("borda") * 100L <= col("_n") * (k * keepPct))
      .select(col(idCol) +: signals.map(s => col("r_" + s._1))
        :+ col("borda") :+ col("kept"): _*)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3):
    * every document is scored by a bucketed n-gram LM — each bigram
    * OCCURRENCE hashes to one of `weights.length` buckets holding a
    * quantized negative-log-prob in integer milli-nats (the
    * production fit is a KenLM table; either way bounded metadata
    * shipped as a plan literal) — and each language is split
    * head/middle/tail at its own discrete-quantile thresholds of the
    * per-doc mean NLL. The scoring pass is pure narrow integer
    * arithmetic over the weight literal (zero shuffle — the dsirScore
    * shape, all-occurrence grams via the fused positional kernel);
    * thresholds come from ONE (lang, score) histogram aggregate with
    * windows over HISTOGRAM rows only (the p8b shape — no
    * per-language window ever sees corpus rows); labeling is a
    * broadcast join + narrow bucket assignment.
    *
    * Cut rule (deterministic, engine-portable): thr(pct) = the
    * smallest integer score whose ascending cumulative count reaches
    * max(floor(n·pct/100), 1); docs at or below thr(headPct) are
    * "head", at or below thr(middlePct) "middle", the rest "tail" —
    * lower mean NLL = more fluent; CCNet keeps the head. Ties at a
    * threshold land in the better bucket. Docs with no bigram (one
    * word, empty, null) carry no LM evidence and are dropped.
    * `weights` must be non-negative so integer division truncation
    * equals floor on both engines.
    */
  def perplexityBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      weights: Seq[Long],
      headPct: Int = 33,
      middlePct: Int = 67): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(weights.nonEmpty, "perplexityBuckets needs a weight table")
    require(weights.forall(_ >= 0L), "perplexityBuckets: weights must be non-negative")
    require(0 < headPct && headPct < middlePct && middlePct <= 100,
      s"perplexityBuckets: need 0 < headPct < middlePct <= 100, got $headPct/$middlePct")
    val b = weights.length.toLong
    val wLit = typedLit(weights)
    val scored = df
      .withColumn("_bg",
        graft.functions.NativeExpressions.positionalGramHashes(col(textCol), 2))
      .filter(size(col("_bg")) >= 1)
      .withColumn("_sum", aggregate(col("_bg"), lit(0L),
        (acc, h) => acc + element_at(wLit, (pmod(h, lit(b)) + 1L).cast("int"))))
      .withColumn("_n", size(col("_bg")).cast("long"))
      .select(col(idCol), col(langCol), expr("_sum div _n").as("nll_milli"))
    val hist = scored.groupBy(col(langCol), col("nll_milli"))
      .agg(count(lit(1)).as("_c"))
    val cum = hist
      .withColumn("_cum", sum(col("_c"))
        .over(Window.partitionBy(langCol).orderBy(col("nll_milli").asc)))
      .withColumn("_ntot", sum(col("_c")).over(Window.partitionBy(langCol)))
    def thr(pct: Int) = min(when(
      col("_cum") >= greatest(floor(col("_ntot") * pct / 100).cast("long"), lit(1L)),
      col("nll_milli")))
    val thresholds = cum.groupBy(langCol)
      .agg(thr(headPct).as("_t1"), thr(middlePct).as("_t2"))
    scored.join(broadcast(thresholds), langCol)
      .withColumn("bucket",
        when(col("nll_milli") <= col("_t1"), lit("head"))
          .when(col("nll_milli") <= col("_t2"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("_t1", "_t2")
  }

  /** Domain/source balancing: keep AT MOST ~`cap` documents per group
    * (the CommonCrawl-pipeline "cap docs per domain" rule — one SEO
    * farm must not dominate the mixture), selected by deterministic
    * hash so the survivors are a uniform, reproducible sample of the
    * group. Same scale shape as [[selectAboveQuantile]]: groups are
    * FEW and HUGE (domains), so no per-group window ever sees corpus
    * rows — the per-(group, hash-bucket) histogram is one partial-
    * agg'd exchange, the rank-`cap` threshold bucket comes from a
    * window over histogram rows, and the cut is a broadcast join +
    * narrow filter. The cap is exact at hash-bucket granularity
    * (ties at the threshold bucket survive — overshoot is bounded by
    * bucket occupancy ≈ n/`buckets`); groups under the cap keep
    * everything.
    */
  def capPerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      cap: Long,
      buckets: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap >= 1, "capPerGroup: cap must be >= 1")
    val qb = pmod(TextFunctions.polyHash(col(idCol).cast("string")), lit(buckets))
    val hist = df.groupBy(col(groupCol), qb.as("_qb")).agg(count(lit(1)).as("_c"))
    val cum = hist.withColumn("_cum", sum(col("_c"))
      .over(Window.partitionBy(groupCol).orderBy(col("_qb").asc)))
    // threshold = lowest bucket whose asc-cumulative count reaches the
    // cap; a group that never reaches it keeps all rows (thr = max qb)
    val thresholds = cum.groupBy(groupCol).agg(
      min(when(col("_cum") >= cap, col("_qb"))).as("_thr"),
      max(col("_qb")).as("_max"))
      .select(col(groupCol), coalesce(col("_thr"), col("_max")).as("_thr"))
    df.join(broadcast(thresholds), groupCol)
      .filter(qb <= col("_thr"))
      .drop("_thr")
  }

  /** Line-level boilerplate removal (RefinedWeb line-wise filtering /
    * CCNet paragraph-dedup shape): a line occurring in at least
    * `minDf` DISTINCT documents is boilerplate (headers, navigation,
    * cookie banners — content that repeats across pages) and is struck
    * from EVERY document; the surviving lines reassemble in original
    * order. Returns (idCol, clean_text, n_lines, n_removed) — one row
    * per input document, clean_text = "" when everything was
    * boilerplate.
    *
    * Scale shape (the d9 gram-hash pattern): lines explode narrow; the
    * doc-frequency aggregate and the boilerplate membership anti-join
    * carry ONLY the 8-byte polyHash of each line, never line text
    * (64-bit collisions are the dedup-family tolerance, same as d9);
    * reassembly is one partial-agg'd groupBy whose per-doc state is
    * the document's own lines — bounded by document size, not corpus
    * size. The boilerplate set is df-filtered metadata (distinct
    * repeated lines only), so AQE turns the anti-join into a broadcast
    * when it is small.
    */
  def lineDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Int,
      sep: String = "\n"): DataFrame = {
    require(minDf >= 2, "lineDedup: minDf must be >= 2 (1 would drop everything)")
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), sepRe)).as(Seq("_i", "_line")))
      .withColumn("_lh", TextFunctions.polyHash(col("_line")))
    val boiler = lines.groupBy("_lh")
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") >= lit(minDf))
      .select("_lh")
    val rebuilt = lines.join(boiler, Seq("_lh"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(sep,
          transform(array_sort(collect_list(struct(col("_i"), col("_line")))),
            e => e.getField("_line"))).as("clean_text"),
        count(lit(1)).as("_n_kept"))
    df.select(col(idCol), size(split(col(textCol), sepRe)).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("_n_kept"), lit(0L))).as("n_removed"))
  }

  // ---- sequence packing --------------------------------------------------

  /** Concat-and-chunk sequence packing: documents are assigned to
    * `shards` by id hash, ordered by id within the shard, and the
    * running token offset places each document in its fixed-size
    * context `chunk` (= start_tok / ctxTokens). This is the
    * pretraining packing layout — concatenate in deterministic order,
    * cut every `ctxTokens` — computed per shard so the window sort is
    * partition-local (one hash exchange, no global single-partition
    * window).
    *
    * Returns (idCol, tieBreak..., shard, n_tokens, start_tok, chunk).
    *
    * `tieBreak`: extra order columns making the within-shard order
    * total when `idCol` alone is not unique (e.g. [[upsample]] output
    * needs `tieBreak = Seq("copy")`) — without a total order the ROWS
    * running sum is partition-order-dependent.
    */
  def packChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ctxTokens: Int = 512,
      shards: Int = 32,
      tieBreak: Seq[String] = Nil): DataFrame = {
    // explicit ROWS frame: the default RANGE frame sums over ALL
    // order-by peers, so duplicate ids (e.g. upsample output) would
    // each see the whole group's tokens in their start offset — and
    // diverge from the ROWS-framed oracle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy((idCol +: tieBreak).map(col): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.select(
        (col(idCol) +: tieBreak.map(col)) ++ Seq(
          pmod(TextFunctions.polyHash(col(idCol).cast("string")), lit(shards)).as("shard"),
          TextFunctions.tokenCount(col(textCol)).as("n_tokens")): _*)
      .withColumn("start_tok",
        coalesce(sum(col("n_tokens")).over(w) - col("n_tokens"), lit(0L)))
      .withColumn("chunk", (col("start_tok") / ctxTokens).cast("long"))
  }

  /** Length-bucketed inference batching: assign each document to a
    * power-of-two length bucket (≥ `minBucketLen`) and, within its
    * (shard, bucket), to a fixed-size batch of
    * `maxTokensPerBatch / bucket` rows ordered by (n_tokens, id) —
    * the standard padding-waste minimizer for batched inference /
    * scoring over variable-length text (padding is to the bucket
    * bound, so waste per doc is < 2× its own length instead of up to
    * the corpus max). [[packChunks]] is the TRAINING layout
    * (concatenate + cut); this is the INFERENCE layout (pad +
    * batch).
    *
    * 100 TB shape: the p2 pattern — batches are built per
    * (hash shard, bucket), so the window sort is partition-local
    * after ONE hash exchange; no global sort, no driver state.
    * Returns (idCol, shard, n_tokens, bucket, batch_id).
    */
  def lengthBucketedBatches(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxTokensPerBatch: Int = 4096,
      shards: Int = 8,
      minBucketLen: Int = 16): DataFrame = {
    require(maxTokensPerBatch >= minBucketLen, "budget below the smallest bucket")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard", "bucket").orderBy(col("n_tokens"), col(idCol))
    df.select(col(idCol),
        pmod(TextFunctions.polyHash(col(idCol).cast("string")), lit(shards)).as("shard"),
        TextFunctions.tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("bucket",
        pow(lit(2.0), ceil(log(2.0,
          greatest(col("n_tokens"), lit(minBucketLen.toLong)).cast("double"))))
          .cast("long"))
      .withColumn("_rpb",
        greatest(lit(1L),
          (lit(maxTokensPerBatch.toLong) / col("bucket")).cast("long")))
      .withColumn("batch_id",
        ((row_number().over(w) - lit(1)).cast("long") / col("_rpb")).cast("long"))
      .drop("_rpb")
  }

  /** Padding-waste audit over [[lengthBucketedBatches]]: per bucket,
    * how many batches/docs/tokens, and how many PAD tokens the layout
    * costs (docs padded to the bucket bound). Metadata-sized output
    * (≤ #buckets rows); the alternative single-batch-of-everything
    * waste is what this layout is bought to avoid.
    */
  def paddingWasteReport(assignments: DataFrame): DataFrame =
    assignments
      .groupBy(col("bucket"))
      .agg(
        countDistinct(col("shard"), col("batch_id")).as("n_batches"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        (count(lit(1)) * first(col("bucket")) - sum(col("n_tokens"))).as("padded_tokens"))
      .select(col("bucket"), col("n_batches"), col("n_docs"),
        col("sum_tokens"), col("padded_tokens"))

  /** Gopher-style intra-document repetition signal: the most frequent
    * word n-gram of each doc and the fraction of characters its
    * occurrences cover (`count · gramChars / docChars`, capped at 1 —
    * the standard open-reproduction approximation, occurrences counted
    * with overlap). Complements [[gopherSignals]]'s distinct-word
    * fraction (which sees word-soup) — this catches TEMPLATED spam
    * where one phrase dominates an otherwise diverse vocabulary.
    *
    * Ties break on the binary-larger gram so the winner is a pure
    * function of the document (engine-portable for the corpus's ASCII
    * tokens). Docs with fewer than `n` words emit no row.
    *
    * 100 TB shape: explode to (doc, gram) → two keyed aggregations,
    * both with map-side partial combine; grams of one doc co-locate
    * after the first exchange so the arg-max never sees corpus rows
    * twice. Text itself never shuffles — only (id, gram, count).
    */
  def topNgramFraction(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1 && n <= 8, "topNgramFraction n must be in [1, 8]")
    // fused per-doc kernel (graft_top_ngram): the top gram is a pure
    // per-row signal, so the plan is ONE narrow projection — no
    // explode, no exchange. `topNgramFractionDeclarative` below is the
    // SQL-portable reference semantics (bit-identical; spec-pinned).
    val top = graft.functions.NativeExpressions.topNgram(col(textCol), n)
    df.select(col(idCol), length(col(textCol)).as("chars"), top.as("top"))
      .filter(col("top").isNotNull)
      .select(col(idCol),
        col("top.gram").as("top_gram"),
        col("top.cnt").as("top_cnt"),
        least(lit(1.0),
          (col("top.cnt") * length(col("top.gram"))).cast("double") /
            col("chars").cast("double")).as("top_frac"))
  }

  /** Declarative reference semantics for [[topNgramFraction]] —
    * explode → two doc-keyed aggregations with a `max(struct)`
    * tie-break. Structurally the shape the DuckDB oracle mirrors;
    * kept as the parity pin for the fused kernel (CurationSpec
    * asserts bit-equality on corpus and edge cases).
    */
  private[graft] def topNgramFractionDeclarative(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2): DataFrame = {
    val tk = TextFunctions.tokens(col(textCol))
    val grams = when(size(tk) >= n,
      transform(sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", slice(tk, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), length(col(textCol)).as("chars"),
        explode(grams).as("gram"))
      .groupBy(col(idCol), col("chars"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol), col("chars"))
      .agg(max(struct(col("cnt"), col("gram"))).as("top"))
      .select(col(idCol),
        col("top.gram").as("top_gram"),
        col("top.cnt").as("top_cnt"),
        least(lit(1.0),
          (col("top.cnt") * length(col("top.gram"))).cast("double") /
            col("chars").cast("double")).as("top_frac"))
  }

  /** Gopher duplicate-n-gram coverage (Rae et al. 2021 §A1.1, the
    * `duplicate_ngram_chars_fraction` family): per doc, how many word
    * positions — and how much character mass — sit inside SOME
    * occurrence of an n-gram that repeats within the document.
    * Repetition measured as coverage (union of occurrence windows,
    * overlaps counted once) is the Gopher contract, and what the
    * tx18 top-bigram signal cannot see: a doc cycling through many
    * different repeated phrases scores low on any single gram but
    * high here.
    *
    * Returns (idCol, n, n_words, covered_words, covered_chars,
    * frac_milli) with `frac_milli = covered_chars·1000 div
    * total-word-chars` — integer, engine-portable.
    *
    * Scale shape: gram occurrences are (id, position, polyHash(gram))
    * triples — the text itself never shuffles. Two doc-keyed
    * aggregations (per-(doc, gram-hash) occurrence lists, then the
    * per-doc flatten) and one doc-keyed join back to the token frame;
    * the union-of-windows arithmetic is per-row array math bounded by
    * the document's own length. No global anything.
    */
  def dupNgramCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    require(n >= 2 && n <= 8, "dupNgramCoverage n must be in [2, 8]")
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("_tk"))
      .select(col(idCol), col("_tk"),
        size(col("_tk")).as("n_words"),
        transform(col("_tk"), t => length(t).cast("long")).as("_wl"))
    val occ = base.filter(col("n_words") >= n)
      .select(col(idCol),
        explode(sequence(lit(1), col("n_words") - (n - 1))).as("i"),
        col("_tk"))
      .select(col(idCol), col("i"),
        TextFunctions.polyHash(
          concat_ws(" ", slice(col("_tk"), col("i"), lit(n)))).as("gh"))
    // duplicated grams' occurrence windows, unioned per doc: the
    // flatten/sequence/array_distinct chain is doc-local arithmetic
    val covered = occ.groupBy(col(idCol), col("gh"))
      .agg(count(lit(1)).as("cnt"), collect_list(col("i")).as("is"))
      .filter(col("cnt") >= 2)
      .groupBy(col(idCol))
      .agg(flatten(collect_list(col("is"))).as("starts"))
      .select(col(idCol),
        array_distinct(flatten(transform(col("starts"),
          i => sequence(i, i + (n - 1))))).as("_cov"))
    base.join(covered, Seq(idCol), "left")
      .withColumn("_twc",
        aggregate(col("_wl"), lit(0L), (a, x) => a + x))
      .withColumn("covered_words",
        when(col("_cov").isNull, 0).otherwise(size(col("_cov"))))
      .withColumn("covered_chars",
        when(col("_cov").isNull, 0L).otherwise(
          aggregate(col("_cov"), lit(0L),
            (a, j) => a + element_at(col("_wl"), j))))
      .withColumn("frac_milli",
        when(col("_twc") > 0,
          expr("covered_chars * 1000L div _twc")).otherwise(lit(0L)))
      .select(col(idCol), lit(n).as("n"), col("n_words"),
        col("covered_words"), col("covered_chars"), col("frac_milli"))
  }

  /** Unicode-script profile: per doc, codepoint counts for the major
    * script blocks (Latin letters, digits, Cyrillic, Greek, CJK
    * unified ideographs, Arabic) and the dominant-script label — the
    * signal that catches wrong-language and transliteration-spam docs
    * that an n-gram language ID scores as plausible, and the router
    * for script-specific tokenizers. Pure codegen'd `regexp_count`
    * arithmetic over explicit codepoint ranges (identical character
    * classes compile in Java regex and RE2, unlike the `\\p{...}`
    * script names, which differ between the engines) — zero shuffle.
    * Dominance ties break by the fixed priority order of the CASE
    * chain (latin > cyrillic > greek > cjk > arabic > digit > none).
    */
  def scriptProfile(
      df: DataFrame,
      idCol: String,
      textCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val counted = df.select((col(idCol) +: carry.map(col)) ++ Seq(
      regexp_count(t, lit("[A-Za-z]")).as("n_latin"),
      regexp_count(t, lit("[0-9]")).as("n_digit"),
      regexp_count(t, lit("[\u0400-\u04ff]")).as("n_cyrillic"),
      regexp_count(t, lit("[\u0370-\u03ff]")).as("n_greek"),
      regexp_count(t, lit("[\u4e00-\u9fff]")).as("n_cjk"),
      regexp_count(t, lit("[\u0600-\u06ff]")).as("n_arabic")): _*)
    val scripts = Seq("latin" -> col("n_latin"), "cyrillic" -> col("n_cyrillic"),
      "greek" -> col("n_greek"), "cjk" -> col("n_cjk"),
      "arabic" -> col("n_arabic"), "digit" -> col("n_digit"))
    val mx = greatest(scripts.map(_._2): _*)
    val dominant = scripts.foldRight(lit("none")) { case ((name, c), els) =>
      when(mx > 0 && c === mx, lit(name)).otherwise(els)
    }
    counted.withColumn("dominant", dominant)
  }

  /** Language-ID × script cross-audit: the two independent signals
    * DISAGREE exactly on the docs worth a second look — stopword
    * language ID says "en" but the dominant script is Cyrillic
    * (transliteration spam, mojibake survivors, wrong-decoder
    * ingests), which each signal alone scores as plausible. Rolls the
    * corpus up to (lang_id, dominant-script) cells with a mismatch
    * flag wherever the language has an expected script (latin for
    * en/de/fr/es, cjk for zh) and the dominant script is not it;
    * 'und' carries no expectation. Both signals are narrow codegen'd
    * per-row arithmetic — one exchange, of metadata-sized cells.
    */
  def langScriptAudit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lid = df.withColumn("_lang_id", TextFunctions.langId(col(textCol)))
    scriptProfile(lid, idCol, textCol, carry = Seq("_lang_id"))
      .groupBy(col("_lang_id").as("lang_id"), col("dominant"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("mismatch", coalesce(
        when(col("lang_id").isin("en", "de", "fr", "es"),
          col("dominant") =!= "latin")
          .when(col("lang_id") === "zh", col("dominant") =!= "cjk"),
        lit(false)))
  }

  /** Unicode-normalization audit (the ftfy-adjacent NFC pass): per
    * doc, whether NFC changes the text, the normalized codepoint
    * length, and the MD5 of the normalized UTF-8 bytes — the
    * before-commit check that a mixed-source corpus hashes/dedups one
    * spelling per string. Pure codegen'd per-row arithmetic, zero
    * shuffle; the `graft_nfc` fast path returns already-normalized
    * text without allocation, so on a clean corpus the audit costs one
    * scan of cheap `isNormalized` checks.
    */
  def nfcAudit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = graft.functions.NativeExpressions.nfcNormalize(col(textCol))
    df.select(col(idCol),
      (norm =!= col(textCol)).as("changed"),
      length(norm).as("norm_chars"),
      md5(norm.cast("binary")).as("norm_md5"))
  }

  /** Epoch/repeat mixture planner: given target per-stratum mixture
    * weights (per-mille of the training run) and a global token
    * budget, compute from the corpus itself how many milli-epochs of
    * each stratum the run must take — the static "how many times do I
    * repeat Wikipedia" table that precedes [[tokenBudgetSample]]
    * (downsampling covers epochs < 1) and [[upsample]] (repetition
    * covers epochs > 1). All integer arithmetic, so the plan is
    * engine-portable exactly:
    * `target_tokens = budget·weight_pm div 1000`,
    * `milli_epochs  = min(cap, target·1000 div max(available,1))`,
    * `cap_bound     = the uncapped ratio exceeded the cap`,
    * `planned_tokens = available·milli_epochs div 1000`,
    * `deficit_tokens = max(0, target − planned)` WHEN the cap binds,
    * else 0 — so a positive deficit is PURELY the relax-the-cap /
    * re-weight signal (repeating a small stratum past ~4 epochs
    * measurably degrades models, hence the default cap), never
    * milli-epoch flooring noise (an uncapped stratum's remainder is
    * < available/1000 tokens and reports 0). The plan is a FULL OUTER
    * join of the corpus aggregate with the weight table: a weighted
    * stratum with no corpus rows still plans (available 0, cap bound,
    * deficit = the whole target — the typo'd-key / missing-source
    * case surfaces instead of vanishing); corpus strata absent from
    * `weightsPm` get weight 0 and plan nothing.
    *
    * Shape: ONE corpus scan partial-aggregated to a row per stratum
    * (the shuffle carries (stratum, count, token-sum) partials, never
    * corpus rows); the weight table and the join are metadata-sized.
    * The corpus text never moves.
    */
  def mixturePlan(
      df: DataFrame,
      stratumCol: String,
      textCol: String,
      budget: Long,
      weightsPm: Map[String, Long],
      maxMilliEpochs: Long = 4000L): DataFrame = {
    require(budget >= 0, "mixturePlan: budget must be >= 0")
    require(maxMilliEpochs >= 1, "mixturePlan: maxMilliEpochs must be >= 1")
    require(weightsPm.values.forall(w => w >= 0 && w <= 1000),
      "mixturePlan: weights are per-mille in [0, 1000]")
    val spark = df.sparkSession
    import spark.implicits._
    val weights = weightsPm.toSeq.sortBy(_._1).toDF(stratumCol, "weight_pm")
    df.groupBy(col(stratumCol))
      .agg(
        sum(TextFunctions.tokenCount(col(textCol)).cast("long"))
          .as("available_tokens"),
        count(lit(1)).as("n_docs"))
      .join(weights, Seq(stratumCol), "full_outer")
      .withColumn("available_tokens", coalesce(col("available_tokens"), lit(0L)))
      .withColumn("n_docs", coalesce(col("n_docs"), lit(0L)))
      .withColumn("weight_pm", coalesce(col("weight_pm"), lit(0L)))
      .withColumn("target_tokens",
        expr(s"${budget}L * weight_pm div 1000"))
      .withColumn("_uncapped",
        expr("target_tokens * 1000 div greatest(available_tokens, 1)"))
      .withColumn("cap_bound", col("_uncapped") > maxMilliEpochs)
      .withColumn("milli_epochs", least(lit(maxMilliEpochs), col("_uncapped")))
      .withColumn("planned_tokens",
        expr("available_tokens * milli_epochs div 1000"))
      .withColumn("deficit_tokens",
        when(col("cap_bound"),
          greatest(lit(0L), col("target_tokens") - col("planned_tokens")))
          .otherwise(lit(0L)))
      .select(col(stratumCol), col("available_tokens"), col("n_docs"),
        col("weight_pm"), col("target_tokens"), col("milli_epochs"),
        col("cap_bound"), col("planned_tokens"), col("deficit_tokens"))
  }

  /** Per-source boilerplate-line report: lines (newline-separated —
    * callers pre-line flat text, the d14 convention) that repeat
    * across at least `minDf` DISTINCT documents of the SAME source
    * and cover at least `minShareMilli`/1000 of that source's docs.
    * This is the site-template detector (headers, footers, cookie
    * banners) of the C4/RefinedWeb extraction stage: boilerplate is
    * source-scoped — the same nav bar on every page of one site —
    * which the global line dedup ([[lineDedup]], d14) cannot rank,
    * because it has no notion of "share of this site's pages".
    *
    * Returns (source, line, df, n_docs, df_milli) — one row per
    * (source, boilerplate line), `df_milli = df·1000 div n_docs`.
    *
    * Scale shape: lines shuffle as (source, polyHash(line)) with
    * map-side partial aggregation; the line string itself rides as a
    * `min` carry (hash collisions are deterministic and
    * astronomically rare vs the line universe — the shingleIndex
    * argument — and the oracle groups by the same hash). The source
    * doc counts are a metadata-sized frame; output is bounded by the
    * df filter, never corpus-sized.
    */
  def boilerplateReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      minDf: Int = 2,
      minShareMilli: Int = 0): DataFrame = {
    require(minDf >= 2, "boilerplateReport: minDf must be >= 2")
    require(minShareMilli >= 0 && minShareMilli <= 1000,
      "boilerplateReport: minShareMilli in [0, 1000]")
    val lines = df.filter(col(textCol).isNotNull)
      .select(col(sourceCol), col(idCol),
        explode(split(col(textCol), "\n")).as("_line"))
      .withColumn("_lh", TextFunctions.polyHash(col("_line")))
    val srcDocs = df.filter(col(textCol).isNotNull)
      .groupBy(col(sourceCol))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    lines
      .groupBy(col(sourceCol), col("_lh"))
      .agg(countDistinct(col(idCol)).as("df"), min(col("_line")).as("line"))
      .filter(col("df") >= minDf)
      .join(srcDocs, Seq(sourceCol))
      .withColumn("df_milli", expr("df * 1000 div n_docs"))
      .filter(col("df_milli") >= minShareMilli)
      .select(col(sourceCol), col("line"), col("df"), col("n_docs"),
        col("df_milli"))
  }

  /** Heaps-law vocabulary-growth audit: cumulative distinct-token
    * (type) count and cumulative token mass at `buckets` checkpoints
    * over the id RANGE `[0, max(id)]` (checkpoint b covers ids with
    * `id·buckets div (max_id+1) + 1 <= b` — exact doc deciles for
    * dense ids, well-defined id-range slices otherwise). The curve is
    * the "is more data still adding vocabulary?" verdict: natural
    * corpora grow types ~ tokens^β (β≈0.5); a flat tail means the new
    * data is re-treading the same vocabulary (template spam, crawl
    * loops), a linear tail means unbounded junk tokens (serial
    * numbers, mojibake) — both worth knowing before paying to train
    * a tokenizer on the larger corpus.
    *
    * Returns (bucket, new_types, bucket_tokens, vocab_size,
    * tokens_seen, types_per_kilotoken) — `buckets` metadata rows.
    *
    * Scale shape: one token-keyed partial-agg'd exchange computes
    * each type's FIRST bucket (min over an integer derived per row);
    * token mass per bucket map-side combines to `buckets` rows. The
    * cumulative window runs over ≤ `buckets` metadata rows; the max-id
    * bound rides as a 1-row broadcast frame. Text never shuffles.
    */
  def vocabGrowth(
      df: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, "vocabGrowth: buckets in [2, 1000]")
    import org.apache.spark.sql.expressions.Window
    val bound = df.agg(max(col(idCol)).cast("long").as("_mx")) // 1 row
    val tok = df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("_id"),
        explode(TextFunctions.tokens(col(textCol))).as("_t"))
      .crossJoin(broadcast(bound))
      .withColumn("_b", expr(s"_id * $buckets div (_mx + 1) + 1"))
    val newTypes = tok.groupBy(col("_t")).agg(min(col("_b")).as("_fb"))
      .groupBy(col("_fb").as("bucket")).agg(count(lit(1)).as("new_types"))
    val mass = tok.groupBy(col("_b").as("bucket"))
      .agg(count(lit(1)).as("bucket_tokens"))
    val w = Window.orderBy(col("bucket")) // <= `buckets` metadata rows
    newTypes.join(mass, Seq("bucket"), "full_outer")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("bucket_tokens", coalesce(col("bucket_tokens"), lit(0L)))
      .withColumn("vocab_size", sum(col("new_types")).over(w))
      .withColumn("tokens_seen", sum(col("bucket_tokens")).over(w))
      .withColumn("types_per_kilotoken",
        expr("vocab_size * 1000 div greatest(tokens_seen, 1)"))
  }

  /** Zipf rank-frequency audit over the global token distribution:
    * the top-`topK` tokens by count with their rank, the rank·count
    * product (constant under ideal Zipf), and `zipf_milli =
    * rank·count·1000 div count₁` (≈1000 at every rank under ideal
    * Zipf, collapsing toward 0 when the head is heavier — template
    * spam — and exceeding 1000 when the distribution is flatter than
    * natural language — shuffled/synthetic junk). The corpus
    * naturalness check run before trusting token statistics.
    *
    * Returns (rank, token, cnt, rank_cnt, zipf_milli), `topK` rows.
    *
    * Scale shape: one token-keyed partial-agg'd exchange to the
    * vocab-sized count frame; the top-K is `TakeOrderedAndProject`
    * (per-partition heaps, no global sort) and the rank window runs
    * over the K collected rows. The rank-1 mass rides as a 1-row
    * broadcast frame.
    */
  def zipfAudit(df: DataFrame, textCol: String, topK: Int = 20): DataFrame = {
    require(topK >= 1 && topK <= 10000, "zipfAudit: topK in [1, 10000]")
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(col(textCol).isNotNull)
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("token").asc).limit(topK)
    val c1 = counts.agg(max(col("cnt")).as("_c1")) // 1 row
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("token").asc))
          .cast("long")) // window over the K collected rows only
      .crossJoin(broadcast(c1))
      .withColumn("rank_cnt", expr("rank * cnt"))
      .withColumn("zipf_milli", expr("rank * cnt * 1000 div _c1"))
      .select(col("rank"), col("token"), col("cnt"), col("rank_cnt"),
        col("zipf_milli"))
  }
}
