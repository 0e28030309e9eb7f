package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Distributed streaming state operators — the cluster-scale
  * implementation of T1 (last-per-key accumulation) and streaming
  * exact dedup, built on `KeyValueGroupedDataset` +
  * `flatMapGroupsWithState` so the state lives in Spark's
  * checkpointed state store sharded across executors (NOT driver
  * memory — that's the [[ChannelRuntime]] serving cache, which is the
  * single-node analogue of the reference's in-process DuckDB).
  *
  * At 100 TB: state is partitioned by key hash across the cluster,
  * updates are shuffle-once per micro-batch, and the store is
  * RocksDB-backed + checkpointed — the same upsert semantics as the
  * reference's `INSERT OR REPLACE` buffer flush (state.py:453-487)
  * with principled fault tolerance the reference lacks.
  */
object StreamingState {

  /** Group-key string projected as a column: keys resolve as Catalyst
    * expressions, so dotted paths into nested structs work, and an
    * attribute missing from the schema keys the row under the NULL
    * marker — the same tolerance as the batch path
    * ([[graft.state.StateOps]] keyCol, reference channels.py:704-717)
    * and the driver-map serving path, instead of `fieldIndex` throwing
    * on anything but a plain top-level column.
    *
    * COMPAT: the key string is part of the persisted state-store
    * layout. Catalyst `cast(string)` renders some types differently
    * from the JVM `String.valueOf` encoding used before this change
    * (timestamps lose the trailing `.0`, structs print `{a, b}` not
    * `[a,b]`), so checkpoints written by the old encoding re-key on
    * upgrade — restart such jobs from a fresh checkpoint.
    */
  private def groupKeyExpr(schema: StructType, keys: Seq[String]): Column =
    concat_ws("\u0001", keys.map { k =>
      if (graft.state.QueryTranslator.resolveType(schema, k).isDefined)
        coalesce(col(k).cast("string"), lit("\u0000N"))
      else lit("\u0000N")
    }: _*)

  /** T1, streaming: emit the updated last-row-per-key on every
    * micro-batch that touches the key (update output mode). Keys may
    * be dotted paths into nested structs; a key missing from the
    * schema groups everything under NULL (batch-path parity). The
    * max-`seqCol` row wins within and across batches.
    */
  def lastByKeyStream(
      df: DataFrame,
      keys: Seq[String],
      seqCol: String): DataFrame = {
    require(keys.nonEmpty, "lastByKeyStream requires at least one key")
    val schema = df.schema
    val seqIdx = schema.fieldIndex(seqCol)
    val n = schema.length
    implicit val rowEnc = Encoders.row(schema)
    implicit val keyEnc = Encoders.STRING
    df.withColumn("_graft_gk", groupKeyExpr(schema, keys))
      .groupByKey((r: Row) => r.getString(n))
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          // reduce on the raw (n+1-field) rows and strip the appended
          // group-key column from the single WINNER only — the old
          // per-row `Row.fromSeq(r.toSeq.take(n))` allocated a Seq +
          // Row for every incoming row of the batch (r15 optimization;
          // seqIdx < n so the comparison reads the same field either
          // way, and holding rows across next() is safe for external
          // Row iterators — dedupStream's reduceLeft already relies on
          // it). Tie semantics unchanged: first delivery wins (`>=`
          // keeps `a` within the batch, the stored row across batches).
          val incoming = rows.reduceOption((a, b) =>
            if (a.getLong(seqIdx) >= b.getLong(seqIdx)) a else b)
          incoming match {
            case Some(newestRaw) =>
              val winner = state.getOption match {
                case Some(prev) if prev.getLong(seqIdx) >= newestRaw.getLong(seqIdx) => prev
                case _ => Row.fromSeq(newestRaw.toSeq.take(n))
              }
              state.update(winner)
              Iterator.single(winner)
            case None => Iterator.empty
          }
      }
  }

  /** Streaming exact dedup: emit each key's row only the first time it
    * is seen (training-pipeline dedup over an unbounded stream). State
    * per key is one boolean — bounded by distinct-key cardinality,
    * sharded across the cluster. Keys may be dotted struct paths
    * (same resolution as [[lastByKeyStream]]).
    *
    * Within a micro-batch the surviving row per key is arbitrary
    * (iterator order after the shuffle) unless `seqCol` names an
    * integral column — then the minimum-seq row wins, making the
    * result deterministic (and, with batches fed in ascending seq
    * order, equal to the batch `min(id) per key` dedup — the
    * streaming-parity contract the d1s gate entry verifies). A null
    * seq throws: silent arbitrary winners are worse than failing.
    */
  def dedupStream(
      df: DataFrame,
      keys: Seq[String],
      seqCol: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "dedupStream requires at least one key")
    val schema = df.schema
    val n = schema.length
    val seqIdx = seqCol.map(schema.fieldIndex)
    implicit val rowEnc = Encoders.row(schema)
    implicit val keyEnc = Encoders.STRING
    implicit val boolEnc = Encoders.BOOLEAN
    df.withColumn("_graft_gk", groupKeyExpr(schema, keys))
      .groupByKey((r: Row) => r.getString(n))
      .flatMapGroupsWithState[java.lang.Boolean, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[java.lang.Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val first = seqIdx match {
              case Some(i) =>
                // per-row null check (a reduceLeft-internal require
                // would skip singleton groups) + Number widening so
                // int and long seq columns both qualify as "integral"
                def seqOf(r: Row): Long = {
                  require(!r.isNullAt(i), s"dedupStream: null seq in '${seqCol.get}'")
                  r.get(i) match {
                    case x: Number => x.longValue()
                    case x => throw new IllegalArgumentException(
                      s"dedupStream: non-integral seq '${seqCol.get}' ($x)")
                  }
                }
                Iterator.single(rows.reduceLeft((a, b) =>
                  if (seqOf(a) <= seqOf(b)) a else b))
              case None => rows.take(1)
            }
            first.map { r =>
              seqIdx.foreach(i => require(!r.isNullAt(i),
                s"dedupStream: null seq in '${seqCol.get}'"))
              Row.fromSeq(r.toSeq.take(n))
            }
          }
      }
  }

  /** Per-bucket memory of previously seen documents for
    * [[minhashLshDedupStream]]. */
  final case class LshBucketState(ids: Array[Long], sigs: Array[Array[Long]])

  /** Streaming MinHash-LSH near-duplicate detection: documents are
    * routed to their LSH band buckets (`bands` keys per doc), each
    * bucket remembers the (id, signature) pairs it has seen — sharded
    * across executors in the keyed state store — and a new arrival
    * emits `(id1, id2, est_jaccard)` against every stored neighbor
    * whose signature agreement clears `threshold`. The streaming
    * analogue of [[graft.pipeline.Dedup.minhashLshPairs]]: same fused
    * signature kernel, same banding, pairs surface as soon as the
    * second member arrives (cross-batch, fault-tolerant state).
    *
    * A pair agreeing on several bands emits once per band — run
    * `dropDuplicates("id1","id2")` downstream if exact-once pairs
    * matter. Bucket state is bounded by bucket occupancy; cap hot
    * buckets upstream (e.g. drop docs after N per bucket) for
    * adversarial corpora.
    */
  def minhashLshDedupStream(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rpb = numHashes / bands
    val spark = df.sparkSession
    import spark.implicits._
    val withSig = df.select(
      col(idCol).cast("long").as("id"),
      graft.pipeline.Dedup.minhashSignature(col(textCol), n, numHashes).as("sig"))
      .filter(col("sig").getItem(0).isNotNull) // shingle-less docs can't match
    val exploded = withSig.select(
      col("id"), col("sig"),
      explode(array((0 until bands).map(b => concat_ws(":", lit(b),
        graft.pipeline.Dedup.bandHash(col("sig"), b, rpb))): _*)).as("bucket"))
      .as[(Long, Seq[Long], String)]
    exploded.groupByKey(_._3)
      .flatMapGroupsWithState[LshBucketState, (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(Long, Seq[Long], String)], state: GroupState[LshBucketState]) =>
          val st = state.getOption.getOrElse(LshBucketState(Array.empty, Array.empty))
          var ids = st.ids
          var sigs = st.sigs
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          // deterministic intra-batch order
          rows.toSeq.sortBy(_._1).foreach { case (id, sigSeq, _) =>
            if (!ids.contains(id)) {
              val sig = sigSeq.toArray
              var i = 0
              while (i < ids.length) {
                var agree = 0
                var j = 0
                while (j < sig.length) { if (sig(j) == sigs(i)(j)) agree += 1; j += 1 }
                val est = agree.toDouble / numHashes
                if (est >= threshold)
                  out += ((math.min(ids(i), id), math.max(ids(i), id), est))
                i += 1
              }
              ids = ids :+ id
              sigs = sigs :+ sig
            }
          }
          state.update(LshBucketState(ids, sigs))
          out.iterator
      }
      .toDF("id1", "id2", "est_jaccard")
  }

  /** Streaming sequence packing: the incremental analogue of
    * [[graft.pipeline.Curation.packChunks]] — documents arriving on a
    * stream are routed to their hash shard, each shard's running token
    * offset lives in the keyed state store, and every arrival is
    * placed at the shard's current offset (`chunk` = offset /
    * ctxTokens). Within a micro-batch rows pack in ascending-id order
    * (deterministic); across batches the offset continues where the
    * last batch stopped — so a pretraining packer can run on the live
    * ingest path instead of re-packing the corpus per snapshot.
    * Returns (id, shard, n_tokens, start_tok, chunk); state per shard
    * is ONE long.
    *
    * Memory bound: each shard task materializes its micro-batch slice
    * (`rows.toSeq.sortBy`) to order it — per-shard state stays one
    * long, but a micro-batch must fit `batchRows/shards` projected
    * rows (3 longs each) per task. Size `shards` (and the trigger
    * interval) so that holds; it is the same bound as one shard's
    * sort-partition in the batch packer. Non-numeric or null ids fail
    * fast rather than silently collapsing into one null key.
    */
  def packChunksStream(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ctxTokens: Int = 512,
      shards: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // a null/non-numeric id would cast to NULL and corrupt packing
    // order (ADVICE r4) — raise in the projection instead
    val idOrFail = when(col(idCol).cast("long").isNull,
      raise_error(lit(s"packChunksStream: null or non-numeric id in '$idCol'")))
      .otherwise(col(idCol).cast("long"))
    val projected = df.select(
      idOrFail.as("id"),
      pmod(graft.functions.TextFunctions.polyHash(col(idCol).cast("string")),
        lit(shards.toLong)).as("shard"),
      graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .as[(Long, Long, Long)]
    projected.groupByKey(_._2)
      .flatMapGroupsWithState[java.lang.Long, (Long, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[java.lang.Long]) =>
          var off: Long = state.getOption.map(_.longValue).getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (id, _, nTok) =>
            val start = off
            off += nTok
            (id, shard, nTok, start, start / ctxTokens)
          }
          state.update(java.lang.Long.valueOf(off))
          out.iterator
      }
      .toDF("id", "shard", "n_tokens", "start_tok", "chunk")
  }

  /** LIVE per-stratum quota admission — ingest throttling: the first
    * `cap` arrivals of each stratum are admitted (with their admission
    * rank), everything after the cap is dropped at the door. The
    * batch-side cap rules (p10's hash-uniform survivors) choose a
    * REPRESENTATIVE sample after the fact; an ingest pipe can't —
    * admission must be decided the moment a row arrives, with one
    * counter per stratum of state. Within a micro-batch rows are
    * processed in id order (and the gate feed arrives id-ascending),
    * so the admitted set is exactly the first `cap` ids per stratum —
    * the id-ordered row_number oracle applies verbatim. A null or
    * non-numeric id fails fast rather than corrupting admission order.
    */
  def quotaAdmissionStream(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      cap: Long): DataFrame = {
    require(cap >= 1, "quotaAdmissionStream: cap must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val idOrFail = when(col(idCol).cast("long").isNull,
      raise_error(lit(s"quotaAdmissionStream: null or non-numeric id in '$idCol'")))
      .otherwise(col(idCol).cast("long"))
    df.select(col(keyCol).cast("string").as("k"), idOrFail.as("id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[java.lang.Long, (String, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[(String, Long)], state: GroupState[java.lang.Long]) =>
          var admitted: Long = state.getOption.map(_.longValue).getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
          rows.toSeq.sortBy(_._2).foreach { case (_, id) =>
            if (admitted < cap) { admitted += 1; out += ((k, id, admitted)) }
          }
          state.update(java.lang.Long.valueOf(admitted))
          out.iterator
      }
      .toDF(keyCol, idCol, "admit_rank")
  }

  /** p19's streaming twin: LIVE inference-batch assignment. Arrivals
    * are bucketed by power-of-two length and appended to their
    * (shard, bucket)'s current batch; state per group is ONE counter
    * (rows seen), so a full batch slot is dispatchable the moment its
    * last row lands — the serving-side dispatcher to
    * [[graft.pipeline.Curation.lengthBucketedBatches]]'s offline
    * layout. Assignment is by arrival order (ts-ascending feed ⇒
    * id order per group), so the batch-path oracle with an id-ordered
    * window applies verbatim.
    */
  def lengthBatchesStream(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxTokensPerBatch: Int = 4096,
      shards: Int = 8,
      minBucketLen: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val idOrFail = when(col(idCol).cast("long").isNull,
      raise_error(lit(s"lengthBatchesStream: null or non-numeric id in '$idCol'")))
      .otherwise(col(idCol).cast("long"))
    val projected = df.select(
        idOrFail.as("id"),
        pmod(graft.functions.TextFunctions.polyHash(col(idCol).cast("string")),
          lit(shards.toLong)).as("shard"),
        graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("bucket",
        pow(lit(2.0), ceil(log(2.0,
          greatest(col("n_tokens"), lit(minBucketLen.toLong)).cast("double"))))
          .cast("long"))
      .as[(Long, Long, Long, Long)]
    projected.groupByKey(t => (t._2, t._4))
      .flatMapGroupsWithState[java.lang.Long, (Long, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, Long), rows: Iterator[(Long, Long, Long, Long)],
            state: GroupState[java.lang.Long]) =>
          var cnt = state.getOption.map(_.longValue).getOrElse(0L)
          val rpb = math.max(1L, maxTokensPerBatch.toLong / key._2)
          val out = rows.toSeq.sortBy(_._1).map { case (id, shard, nTok, bucket) =>
            val slot = cnt / rpb
            cnt += 1
            (id, shard, nTok, bucket, slot)
          }
          state.update(java.lang.Long.valueOf(cnt))
          out.iterator
      }
      .toDF("doc_id", "shard", "n_tokens", "bucket", "batch_id")
  }

  /** Watermarked stream-stream interval join: rows of two live streams
    * sharing `key` pair up when the right event lands within
    * `[left.ts, left.ts + within]` — the enrichment join the reference
    * scopes out entirely (csp has no join operator; SURVEY §2.5). Both
    * sides carry a `watermark`-bounded event-time state store, so
    * state is evicted once the interval can no longer match — the
    * canonical Structured Streaming shape for correlating two event
    * feeds (orders↔fills, request↔response) at cluster scale: one
    * keyed exchange per side, state sharded by key.
    *
    * Column collisions: right-side columns are suffixed `_r`.
    */
  def intervalJoinStream(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      within: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    // the blanket `_r` suffix can collide with a left column literally
    // named `<col>_r` (ADVICE r4) — ambiguous output names downstream;
    // fail fast with the offending names instead
    val collisions = right.columns.map(_ + "_r").toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"intervalJoinStream: left columns ${collisions.mkString(", ")} collide with " +
        "right '_r'-suffixed output columns — rename them before joining")
    // a right frame holding both `x` and `x_r` corrupts itself during
    // the sequential rename fold (x→x_r lands on the existing x_r
    // before x_r→x_r_r runs) — fail fast on that too (ADVICE r5)
    val selfCollisions = right.columns.map(_ + "_r").toSet.intersect(right.columns.toSet)
    require(selfCollisions.isEmpty,
      s"intervalJoinStream: right columns ${selfCollisions.mkString(", ")} collide with " +
        "their own '_r'-suffixed renames — rename them before joining")
    val l = left.withWatermark(tsCol, watermark)
    val r0 = right.columns.foldLeft(right) { (df, c) =>
      df.withColumnRenamed(c, s"${c}_r")
    }
    val r = r0.withWatermark(s"${tsCol}_r", watermark)
    l.join(r,
      col(key) === col(s"${key}_r") &&
        col(s"${tsCol}_r") >= col(tsCol) &&
        col(s"${tsCol}_r") <= col(tsCol) + expr(s"INTERVAL $within"))
      .drop(s"${key}_r")
  }

  /** Streaming cross-corpus duplicate alerts: documents arriving on a
    * stream are checked against a STATIC reference corpus (already
    * deduped shards, a licensed set, yesterday's crawl) and every
    * arrival that MinHash-band-matches a reference doc with signature
    * agreement >= `threshold` emits `(id, ref_id, est_jaccard)` — the
    * streaming complement of [[graft.pipeline.Dedup.crossCorpusDedup]]
    * (which returns batch survivors; a stream can't anti-join itself
    * per-doc without stateful aggregation, so the incremental surface
    * is the dup-evidence stream — drop flagged ids downstream).
    *
    * Pure stream-static equi-join on (band, bucket): no state store,
    * no watermark, trivially incremental. The reference bands are a
    * plain DataFrame — cached AND materialized here (one count() at
    * build time) so the full reference banding job runs before the
    * first arrival instead of inflating batch-0 latency; the
    * one-JVM A/B (SCALE.md "d10s static-side A/B") measured eager ~8% faster than
    * lazy end-to-end at sf0.1 and confirmed the cache is honored
    * across micro-batches (nocache ≈ lazy at gate scale — the
    * round-6 d10s "regression" was session noise). The cache lives
    * until the session clears it (`spark.catalog.clearCache()`), so a
    * caller cycling many reference corpora in one session owns that
    * cleanup. At cluster scale it is an ordinary shuffled (or
    * broadcast, if small) join per batch.
    */
  def crossCorpusDupStream(
      stream: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    import graft.pipeline.Dedup
    def toBands(df: DataFrame, idOut: String, sigOut: String) = Dedup.bandBucketsFromSigs(
      df.select(col(idCol).as(idOut),
        Dedup.minhashSignature(col(textCol), n, numHashes).as(sigOut)),
      idOut, sigOut, numHashes, bands)
    val refBands = toBands(ref, "ref_id", "_rsig").cache()
    refBands.count() // materialize before the stream starts
    crossCorpusDupStreamAgainst(stream, refBands, idCol, textCol,
      n, numHashes, bands, threshold)
    // a pair agreeing on several bands emits once per band (same est —
    // it comes from the full signatures); `dropDuplicates` downstream
    // if exactly-once pairs matter. Done here it would be a STATEFUL
    // stream dedup (unbounded state) — the caller should scope it.
  }

  /** [[crossCorpusDupStream]] against an already-built reference band
    * frame `(ref_id, _rsig, band, bh)` — e.g. doc-level bands loaded
    * from [[graft.pipeline.Dedup.saveDedupPairIndex]], completing the
    * build-once lifecycle for the STREAMING admission check: history
    * is shingled once, the alert stream serves against the loaded
    * frame (cache it and count() before the stream starts — the
    * static-side contract above).
    */
  def crossCorpusDupStreamAgainst(
      stream: DataFrame,
      refBands: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    import graft.pipeline.Dedup
    Dedup.bandBucketsFromSigs(
      stream.select(col(idCol).as("id"),
        Dedup.minhashSignature(col(textCol), n, numHashes).as("_sig")),
      "id", "_sig", numHashes, bands)
      .join(refBands, Seq("band", "bh"))
      .withColumn("est_jaccard", Dedup.sigAgreement(col("_sig"), col("_rsig"), numHashes))
      .filter(col("est_jaccard") >= lit(threshold))
      .select(col("id"), col("ref_id"), col("est_jaccard"))
  }

  /** Streaming ANN serving: a LIVE stream of query vectors probes a
    * STATIC IVF-indexed corpus and each query emits its exact top-`k`
    * same/nearby-cell neighbors `(qid, cid, cosine, rank)` — the
    * online complement of [[graft.pipeline.Similarity.ivfTopK]]
    * (retrieval-service lookups, dedup-against-index admission
    * checks), sharing its exact semantics: the quantizer is a plan
    * literal (narrow `nprobe`-cell fan-out on the query side, zero
    * Exchange before the cell join), corpus rows live in exactly one
    * cell, candidates meet in a stream-static equi-join on the cell,
    * self-matches and NaN cosines (zero-norm, unsearchable) drop.
    *
    * The corpus assignment is computed once and cached (the
    * [[crossCorpusDupStream]] static-side contract — the session
    * clears it). Per-query top-k runs in `flatMapGroupsWithState`
    * keyed by query id: a stream-static join emits ALL of a query's
    * candidates in the micro-batch the query arrived in, so the
    * group invocation ranks and emits immediately and KEEPS NO STATE
    * — re-sending a query id re-answers it, it does not dedup. At
    * cluster scale the per-batch work is one keyed exchange of
    * (qid, cid, cosine) candidate tuples, never corpus vectors.
    */
  def annQueryStream(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[(Long, Seq[Double])],
      k: Int,
      nprobe: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(cents.nonEmpty, "annQueryStream needs a fitted coarse quantizer")
    require(k >= 1 && nprobe >= 1, "annQueryStream: k and nprobe must be >= 1")
    val centArr = array(cents.toIndexedSeq.map { case (cid, v) =>
      struct(lit(cid).as("c"), typedLit(v).as("ce"))
    }: _*)
    val assigned = corpus
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("_cv"))
      .withColumn("_cell", graft.pipeline.Clustering.assignCell(col("_cv"), cents.toIndexedSeq))
      .filter(col("_cell") >= 0)
      .cache()
    assigned.count() // materialize the index before queries arrive
    val probed = queries
      .select(col(idCol).cast("long").as("qid"), col(vecCol).as("_qv"))
      // cell array materialized BELOW the Generate (the tx4 rule)
      .withColumn("_cells",
        graft.pipeline.Similarity.topCells(col("_qv"), centArr, nprobe))
      .select(col("qid"), col("_qv"), explode(col("_cells")).as("_cell"))
    val scored = probed.join(assigned, Seq("_cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        graft.functions.NativeExpressions.cosine(col("_qv"), col("_cv")).as("cosine"))
      .filter(!isnan(col("cosine")))
      .as[(Long, Long, Double)]
    scored.groupByKey(_._1)
      .flatMapGroupsWithState[Int, (Long, Long, Double, Int)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, Double)], _: GroupState[Int]) =>
          // batch-parity ranking: cosine desc, cid asc
          rows.toArray
            .sortBy { case (_, cid, cos) => (-cos, cid) }
            .take(k).zipWithIndex
            .map { case ((qid, cid, cos), i) => (qid, cid, cos, i + 1) }
            .iterator
      }
      .toDF("qid", "cid", "cosine", "rank")
  }

  /** Per-bucket memory for [[embeddingNearDupStream]]. */
  final case class VecBucketState(ids: Array[Long], vecs: Array[Array[Float]])

  /** The batch verify kernel, reused byte-for-byte by every streaming
    * roster (parity by construction, not by keeping loops in sync). */
  private def cosFloat(a: Array[Float], b: Array[Float]): java.lang.Double =
    graft.functions.CosineSim.cos(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(a),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(b),
      aFloat = true, bFloat = true)

  /** Streaming embedding near-dup detection: vectors are routed to
    * their sign-LSH bucket ([[graft.pipeline.Similarity.signLshBucket]]
    * — deterministic hyperplanes, same bucketing as the batch d5
    * path), each bucket remembers its members in the keyed state
    * store, and a new arrival emits `(id1, id2, cosine)` against every
    * stored same-bucket neighbor clearing `threshold`. Exact cosine on
    * the candidate set — same verify rule as the batch operator.
    */
  def embeddingNearDupStream(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 8,
      dims: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // null ids/vectors and wrong-dimension vectors are dropped up
    // front (batch parity: those rows can never produce a pair there
    // either) — without the size guard every off-dims vector would
    // silently collapse into bucket 0 and grow its state forever
    val bucketed = df
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        size(col(vecCol)) === dims)
      .select(
        col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        graft.pipeline.Similarity.signLshBucket(col(vecCol), planes, dims).as("bucket"))
      .as[(Long, Seq[Float], Long)]
    bucketed.groupByKey(_._3)
      .flatMapGroupsWithState[VecBucketState, (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, Seq[Float], Long)], state: GroupState[VecBucketState]) =>
          val st = state.getOption.getOrElse(VecBucketState(Array.empty, Array.empty))
          var ids = st.ids
          var vecs = st.vecs
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          rows.toSeq.sortBy(_._1).foreach { case (id, vecSeq, _) =>
            if (!ids.contains(id)) {
              val vec = vecSeq.toArray
              var i = 0
              while (i < ids.length) {
                val cos = cosFloat(vec, vecs(i))
                if (cos != null && cos >= threshold)
                  out += ((math.min(ids(i), id), math.max(ids(i), id), cos.doubleValue()))
                i += 1
              }
              ids = ids :+ id
              vecs = vecs :+ vec
            }
          }
          state.update(VecBucketState(ids, vecs))
          out.iterator
      }
      .toDF("id1", "id2", "cosine")
  }

  /** Streaming SemDeDup: documents are routed to their k-means cell by
    * a NARROW argmax over the fitted quantizer literal (fit it in
    * batch via [[graft.pipeline.Clustering.kmeansCentroids]] — the
    * standard periodically-refit online-clustering contract), and each
    * cell's state keeps only the KEPT representatives: an arrival
    * within `threshold` cosine of any kept doc in its cell is dropped,
    * otherwise it is kept, emitted as (id, cell), and added to the
    * roster. Representative-based, like SemDeDup's cluster-head rule:
    * arrivals compare against KEPT docs only, so on a transitive
    * near-dup chain (a~b, b~c, a!~c) the stream keeps {a, c} while the
    * batch [[graft.pipeline.Clustering.semanticDedup]] — which drops
    * any doc with a lower-id neighbor, kept or not — keeps only {a}.
    * The two agree when similarity at the threshold is transitive
    * within cells; the streaming rule is the one that never compares
    * against data it already discarded. Zero-norm vectors (cell -1)
    * pass through no cell and are never emitted — filter them upstream
    * if they must survive (batch parity keeps them).
    */
  def semanticDedupStream(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[(Long, Seq[Double])],
      threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(cents.nonEmpty, "semanticDedupStream needs a fitted quantizer")
    val dims = cents.head._2.size
    val assigned = df
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        size(col(vecCol)) === dims)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        graft.pipeline.Clustering.assignCell(col(vecCol), cents.toIndexedSeq).as("cell"))
      .filter(col("cell") >= 0)
      .as[(Long, Seq[Float], Long)]
    assigned.groupByKey(_._3)
      .flatMapGroupsWithState[VecBucketState, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (cell: Long, rows: Iterator[(Long, Seq[Float], Long)], state: GroupState[VecBucketState]) =>
          val st = state.getOption.getOrElse(VecBucketState(Array.empty, Array.empty))
          var ids = st.ids
          var vecs = st.vecs
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          rows.toSeq.sortBy(_._1).foreach { case (id, vecSeq, _) =>
            if (!ids.contains(id)) {
              val vec = vecSeq.toArray
              var dup = false
              var i = 0
              while (i < ids.length && !dup) {
                val cos = cosFloat(vec, vecs(i))
                if (cos != null && cos.doubleValue() >= threshold) dup = true
                i += 1
              }
              if (!dup) {
                ids = ids :+ id
                vecs = vecs :+ vec
                out += ((id, cell))
              }
            }
          }
          state.update(VecBucketState(ids, vecs))
          out.iterator
      }
      .toDF("id", "cell")
  }

  final case class CellSumState(count: Long, sums: Array[Long])

  /** Streaming k-means refit (mini-batch Lloyd, Sculley 2010 shape):
    * vectors arriving on a stream are assigned to their cell with a
    * NARROW argmax over the frozen batch-fitted quantizer
    * ([[graft.pipeline.Clustering.assignCell]] — same fold, zero
    * Exchange to assign), and per-cell refit statistics accumulate in
    * the sharded state store: running count and elementwise integer
    * sums of `floor(1e6·x + 0.5)` — the exact arithmetic of the batch
    * Lloyd round, so a streaming refit over the same rows reproduces
    * [[graft.pipeline.Clustering.kmeansCentroids]] bit-for-bit.
    *
    * State is keyed by (cell, shard) — `shards` hash-shards per cell —
    * so at 1000 executors the per-batch shuffle fans out k×shards
    * ways instead of bottlenecking k cells on k tasks; integer sums
    * commute, so shard partials merge exactly ([[kmeansRefitCentroids]]
    * does the tiny k×shards-row final merge). Assignment stays frozen
    * while statistics refine — the standard online layout; swap the
    * refined quantizer in by restarting the stream with the merged
    * centroids.
    *
    * Emits one (cell, shard, n, sums) partial per touched shard per
    * micro-batch (append mode — the latest row per (cell, shard) is
    * the current partial).
    */
  def kmeansRefitStream(
      df: DataFrame,
      vecCol: String,
      cents: Array[(Long, Seq[Double])],
      shards: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(cents.nonEmpty, "kmeansRefitStream needs a fitted quantizer")
    require(shards >= 1, "kmeansRefitStream: shards must be >= 1")
    val dims = cents.head._2.size
    val assigned = df
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(vecCol).as("vec"),
        graft.pipeline.Clustering.assignCell(col(vecCol), cents.toIndexedSeq).as("cell"),
        pmod(xxhash64(col(vecCol)), lit(shards.toLong)).as("shard"))
      .filter(col("cell") >= 0)
      .as[(Seq[Float], Long, Long)]
    assigned.groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[CellSumState, (Long, Long, Long, Seq[Double])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, Long), rows: Iterator[(Seq[Float], Long, Long)],
         state: GroupState[CellSumState]) =>
          val st = state.getOption.getOrElse(CellSumState(0L, Array.fill(dims)(0L)))
          var n = st.count
          val sums = st.sums.clone()
          rows.foreach { case (v, _, _) =>
            var d = 0
            while (d < dims) {
              sums(d) += math.floor(1e6 * v(d) + 0.5).toLong
              d += 1
            }
            n += 1
          }
          state.update(CellSumState(n, sums))
          Iterator.single((key._1, key._2, n, sums.map(_.toDouble).toSeq))
      }
      .toDF("cell", "shard", "n", "sums")
  }

  /** Merge [[kmeansRefitStream]] partials (latest row per (cell,
    * shard)) into refit centroids (cell, n, centroid) — k×shards
    * input rows, metadata-sized at any corpus scale. Integer-exact:
    * the partials commute, so the merged centroid equals the batch
    * Lloyd sum over the same rows.
    */
  def kmeansRefitCentroids(partials: DataFrame): DataFrame = {
    // the cumulative count n strictly grows per (cell, shard), so it
    // doubles as the recency key — no synthetic sequence needed
    val latest = graft.state.StateOps.lastByKey(partials, Seq("cell", "shard"), "n")
    latest
      .select(col("cell"), col("n"), posexplode(col("sums")).as(Seq("d", "x")))
      .groupBy("cell", "d")
      .agg(sum(col("n")).as("_n"), sum(col("x")).as("_s"))
      .groupBy("cell")
      .agg(first(col("_n")).as("n"),
        transform(array_sort(collect_list(struct(col("d"), col("_s")))),
          e => e.getField("_s")).as("centroid"))
  }

  /** Streaming running quantiles: one [[graft.functions.QSketch]] per
    * key in the state store, updated per micro-batch; every batch that
    * touches a key emits the key's refreshed quantile row (update
    * mode — last emission per key is the current estimate; the count
    * column strictly grows, so it doubles as the recency key).
    *
    * State per key is the sketch's own serialized form — bounded
    * O(k·log(n/k)) bytes regardless of stream length, sharded across
    * the cluster. The sketch's two-tier contract carries over: while a
    * key has seen ≤ k values the emitted quantiles are EXACT (the
    * st4s gate tier — the batch oracle applies verbatim), beyond that
    * a bounded-rank-error estimate.
    *
    * `quantiles` maps output column name → q, e.g.
    * `Seq("p50" -> 0.5, "p90" -> 0.9)`.
    */
  def quantileSketchStream(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      quantiles: Seq[(String, Double)],
      k: Int = 8192): DataFrame = {
    require(keys.nonEmpty, "quantileSketchStream requires at least one key")
    require(quantiles.nonEmpty, "quantileSketchStream requires at least one quantile")
    val schema = df.schema
    val n = schema.length
    val keyIdxs = keys.map(schema.fieldIndex)
    val valIdx = schema.fieldIndex(valueCol)
    val outSchema = StructType(
      keys.map(schema(_)) ++
        (org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false) +:
          quantiles.map { case (name, _) =>
            org.apache.spark.sql.types.StructField(name,
              org.apache.spark.sql.types.LongType, nullable = true)
          }))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.BINARY
    implicit val outEnc = Encoders.row(outSchema)
    df.withColumn("_graft_gk", groupKeyExpr(schema, keys))
      .groupByKey((r: Row) => r.getString(n))
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Array[Byte]]) =>
          val sketch = state.getOption
            .map(graft.functions.QSketch.deserialize)
            .getOrElse(new graft.functions.QSketch(k))
          var last: Row = null
          var added = false
          rows.foreach { r =>
            last = r
            val v = r.get(valIdx)
            if (v != null) {
              sketch.add(v.asInstanceOf[Number].longValue)
              added = true
            }
          }
          if (!added && sketch.count == 0) Iterator.empty
          else {
            state.update(sketch.serialize)
            val keyVals = keyIdxs.map(last.get)
            val qVals = quantiles.map { case (_, q) =>
              sketch.quantile(q).map(Long.box).orNull
            }
            Iterator.single(Row.fromSeq(keyVals ++ (Long.box(sketch.count) +: qVals)))
          }
      }
  }

  /** Running per-key count/sum state — the live side of snapshot-drift
    * monitoring ([[graft.pipeline.Curation.snapshotDrift]]): three
    * longs per key in the state store (row count, non-null count,
    * exact integer value sum), emitted on every micro-batch that
    * touches the key. Integer accumulation makes the final emission
    * bit-equal to the batch count/avg regardless of batch slicing —
    * the v2s gate joins it against the static baseline profile and
    * reuses the batch oracle verbatim. Bounded state: 24 bytes/key.
    */
  def runningStatsStream(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "runningStatsStream requires at least one key")
    val schema = df.schema
    val n = schema.length
    val keyIdxs = keys.map(schema.fieldIndex)
    val valIdx = schema.fieldIndex(valueCol)
    val outSchema = StructType(
      keys.map(schema(_)) ++ Seq(
        StructField("n", LongType, nullable = false),
        StructField("n_vals", LongType, nullable = false),
        StructField("sum_v", LongType, nullable = false)))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.kryo[Array[Long]]
    implicit val outEnc = Encoders.row(outSchema)
    df.withColumn("_graft_gk", groupKeyExpr(schema, keys))
      .groupByKey((r: Row) => r.getString(n))
      .flatMapGroupsWithState[Array[Long], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          val st = state.getOption.getOrElse(Array(0L, 0L, 0L))
          var last: Row = null
          rows.foreach { r =>
            last = r
            st(0) += 1
            val v = r.get(valIdx)
            if (v != null) { st(1) += 1; st(2) += v.asInstanceOf[Number].longValue }
          }
          if (last == null) Iterator.empty
          else {
            state.update(st)
            Iterator.single(Row.fromSeq(
              keyIdxs.map(last.get) ++ Seq(Long.box(st(0)), Long.box(st(1)),
                Long.box(st(2)))))
          }
      }
  }

  /** p21's streaming twin: a LIVE reliability monitor — per
    * calibration cell, three longs in the state store (row count,
    * positive count, exact quantized-score sum), emitted whenever the
    * cell sees data. The caller supplies the already-binned cell and
    * the already-quantized score (via
    * [[graft.pipeline.Curation.calibrationCell]] /
    * [[Curation.quantizedScore]] — the SAME expressions as the batch
    * report, so the two can never disagree on binning), and because
    * every accumulator is an exact integer the final emission is
    * bit-equal to the batch report regardless of micro-batch slicing.
    * State: 24 bytes per cell, bounded by the bucket count — the
    * cheapest live view of "is the classifier drifting off its
    * calibration" over an ingest stream.
    */
  def calibrationStream(
      df: DataFrame,
      cellCol: String,
      labelCol: String,
      qscoreCol: String): DataFrame = {
    val schema = df.schema
    val n = schema.length
    val cellIdx = schema.fieldIndex(cellCol)
    val labIdx = schema.fieldIndex(labelCol)
    val qIdx = schema.fieldIndex(qscoreCol)
    val outSchema = StructType(Seq(
      StructField("bucket", LongType, nullable = true),
      StructField("n", LongType, nullable = false),
      StructField("pos", LongType, nullable = false),
      StructField("score_qsum", LongType, nullable = false)))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.kryo[Array[Long]]
    implicit val outEnc = Encoders.row(outSchema)
    df.withColumn("_graft_gk", groupKeyExpr(schema, Seq(cellCol)))
      .groupByKey((r: Row) => r.getString(n))
      .flatMapGroupsWithState[Array[Long], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          val st = state.getOption.getOrElse(Array(0L, 0L, 0L))
          var last: Row = null
          rows.foreach { r =>
            last = r
            st(0) += 1
            if (!r.isNullAt(labIdx) && r.getBoolean(labIdx)) st(1) += 1
            // null score: counted in n, excluded from the sum — the
            // batch report's SQL-sum semantics, not an unboxing NPE
            if (!r.isNullAt(qIdx)) st(2) += r.getLong(qIdx)
          }
          if (last == null) Iterator.empty
          else {
            state.update(st)
            Iterator.single(Row.fromSeq(Seq(
              if (last.isNullAt(cellIdx)) null else Long.box(last.getLong(cellIdx)),
              Long.box(st(0)), Long.box(st(1)), Long.box(st(2)))))
          }
      }
  }

  /** p23's streaming twin: running Poisson-bootstrap replicate sums —
    * one (seen, n_eff, w_sum) triple per replicate key in the state
    * store (3 longs × reps keys, constant in stream length). Input is
    * the shared [[graft.pipeline.Curation.bootstrapWeightedRows]]
    * frame, so live and batch draw bit-identical weights; the final
    * emission per replicate (max `seen`) equals the batch aggregate
    * under any micro-batch slicing. The live read: the corpus
    * metric's error bar, updating as the corpus streams in.
    */
  def bootstrapStream(
      df: DataFrame,
      repCol: String = "rep",
      wCol: String = "_w",
      mCol: String = "_m"): DataFrame = {
    val schema = df.schema
    val n = schema.length
    val repIdx = schema.fieldIndex(repCol)
    val wIdx = schema.fieldIndex(wCol)
    val mIdx = schema.fieldIndex(mCol)
    val outSchema = StructType(Seq(
      StructField("rep", IntegerType, nullable = false),
      StructField("seen", LongType, nullable = false),
      StructField("n_eff", LongType, nullable = false),
      StructField("w_sum", LongType, nullable = false)))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.kryo[Array[Long]]
    implicit val outEnc = Encoders.row(outSchema)
    df.withColumn("_graft_gk", groupKeyExpr(schema, Seq(repCol)))
      .groupByKey((r: Row) => r.getString(n))
      .flatMapGroupsWithState[Array[Long], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          val st = state.getOption.getOrElse(Array(0L, 0L, 0L))
          var last: Row = null
          rows.foreach { r =>
            last = r
            st(0) += 1
            if (!r.isNullAt(wIdx)) {
              val w = r.getLong(wIdx)
              st(1) += w
              if (!r.isNullAt(mIdx)) st(2) += w * r.getLong(mIdx)
            }
          }
          if (last == null) Iterator.empty
          else {
            state.update(st)
            Iterator.single(Row.fromSeq(Seq(
              Int.box(last.getInt(repIdx)),
              Long.box(st(0)), Long.box(st(1)), Long.box(st(2)))))
          }
      }
  }

  /** st5's streaming twin: one SpaceSaving sketch per key in the state
    * store (≤ `k` entries per key regardless of stream length),
    * emitting the running top-`topN` (one row per entry) whenever the
    * key sees data. The sketch's two-tier contract carries over: while
    * a key's distinct items ≤ `k` the counts are EXACT and the final
    * emission equals the batch wordcount top-N — the st5s gate tier
    * (max-n emission per key, the st4s reduction).
    */
  def heavyHittersStream(
      df: DataFrame,
      keys: Seq[String],
      itemCol: String,
      topN: Int,
      k: Int = 1 << 16): DataFrame = {
    require(keys.nonEmpty, "heavyHittersStream requires at least one key")
    require(topN >= 1, "heavyHittersStream: topN must be >= 1")
    val schema = df.schema
    val n = schema.length
    val keyIdxs = keys.map(schema.fieldIndex)
    val itemIdx = schema.fieldIndex(itemCol)
    val outSchema = StructType(
      keys.map(schema(_)) ++ Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("item",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("count",
          org.apache.spark.sql.types.LongType, nullable = false)))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.BINARY
    implicit val outEnc = Encoders.row(outSchema)
    df.withColumn("_graft_gk", groupKeyExpr(schema, keys))
      .groupByKey((r: Row) => r.getString(n))
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Array[Byte]]) =>
          val sketch = state.getOption
            .map(graft.functions.HHSketch.deserialize)
            .getOrElse(new graft.functions.HHSketch(k))
          var last: Row = null
          var added = false
          rows.foreach { r =>
            last = r
            val v = r.get(itemIdx)
            if (v != null) {
              sketch.add(v.toString)
              added = true
            }
          }
          if (!added) Iterator.empty
          else {
            state.update(sketch.serialize)
            val keyVals = keyIdxs.map(last.get)
            sketch.top(topN).zipWithIndex.iterator.map { case ((item, c, _), i) =>
              Row.fromSeq(keyVals ++ Seq(Long.box(sketch.count),
                Long.box(i + 1L), item, Long.box(c)))
            }
          }
      }
  }

  /** st9's streaming twin: one count-min sketch per key in the state
    * store, updated per micro-batch, emitting the running point
    * estimates for the literal `targets` whenever the key sees data.
    * State per key is the fixed `width×depth` counter grid regardless
    * of stream length; elementwise-additive merges mean the final
    * emission equals the batch sketch over the same rows, so the
    * exact-count oracle applies at the gate's collision-free tier.
    */
  def countMinStream(
      df: DataFrame,
      keys: Seq[String],
      itemCol: String,
      targets: Seq[String],
      width: Int = 1 << 12,
      depth: Int = 4): DataFrame = {
    require(keys.nonEmpty, "countMinStream requires at least one key")
    require(targets.nonEmpty, "countMinStream needs at least one target")
    val schema = df.schema
    val n = schema.length
    val keyIdxs = keys.map(schema.fieldIndex)
    val itemIdx = schema.fieldIndex(itemCol)
    val outSchema = StructType(
      keys.map(schema(_)) ++ Seq(
        StructField("n", LongType, nullable = false),
        StructField("token", StringType, nullable = false),
        StructField("est_count", LongType, nullable = false)))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.BINARY
    implicit val outEnc = Encoders.row(outSchema)
    val targetList = targets.toIndexedSeq
    df.withColumn("_graft_gk", groupKeyExpr(schema, keys))
      .groupByKey((r: Row) => r.getString(n))
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Array[Byte]]) =>
          val sketch = state.getOption
            .map(graft.functions.CMSketch.deserialize)
            .getOrElse(new graft.functions.CMSketch(width, depth))
          var last: Row = null
          var added = false
          rows.foreach { r =>
            last = r
            val v = r.get(itemIdx)
            if (v != null) {
              val (h1, h2) = graft.functions.CMSketch.hashPair(
                org.apache.spark.unsafe.types.UTF8String.fromString(v.toString))
              sketch.add(h1, h2)
              added = true
            }
          }
          if (!added) Iterator.empty
          else {
            state.update(sketch.serialize)
            val keyVals = keyIdxs.map(last.get)
            targetList.iterator.map { t =>
              val (h1, h2) = graft.functions.CMSketch.hashPair(
                org.apache.spark.unsafe.types.UTF8String.fromString(t))
              Row.fromSeq(keyVals ++ Seq(Long.box(sketch.count), t,
                Long.box(sketch.estimate(h1, h2))))
            }
          }
      }
  }

  /** Streaming running distinct counts: one [[graft.functions.DSketch]]
    * per key in the state store, updated per micro-batch; every batch
    * that touches a key emits the key's refreshed count row (update
    * mode — the processed-value count `n` strictly grows and is the
    * recency key, the st5s contract). Two-tier like the batch
    * aggregate: EXACT while a key has seen ≤ `k` distinct values (the
    * st6s gate tier — DuckDB `count(DISTINCT …)` applies verbatim),
    * bounded-error HLL beyond, with constant-size state either way.
    * Values enter via the batch aggregate's exact representation
    * (`doubleToLongBits` of the double cast), so batch and stream
    * agree bit-for-bit on what "distinct" means.
    */
  def distinctCountStream(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      k: Int = 1 << 16,
      p: Int = 14): DataFrame = {
    require(keys.nonEmpty, "distinctCountStream requires at least one key")
    val withVal = df.withColumn("_graft_dv", col(valueCol).cast("double"))
    val schema = withVal.schema
    val n = schema.length
    val keyIdxs = keys.map(schema.fieldIndex)
    val valIdx = schema.fieldIndex("_graft_dv")
    val outSchema = StructType(
      keys.map(schema(_)) ++ Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_distinct",
          org.apache.spark.sql.types.LongType, nullable = false)))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.BINARY
    implicit val outEnc = Encoders.row(outSchema)
    // state carries (processed-count, sketch) — the count rides in the
    // first 8 bytes ahead of the sketch's own serialized form
    withVal.withColumn("_graft_gk", groupKeyExpr(schema, keys))
      .groupByKey((r: Row) => r.getString(n))
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Array[Byte]]) =>
          val (seen0, sketch) = state.getOption match {
            case Some(bytes) =>
              val bb = java.nio.ByteBuffer.wrap(bytes)
              val c = bb.getLong
              (c, graft.functions.DSketch.deserialize(
                java.util.Arrays.copyOfRange(bytes, 8, bytes.length)))
            case None => (0L, new graft.functions.DSketch(k, p))
          }
          var seen = seen0
          var last: Row = null
          rows.foreach { r =>
            last = r
            if (!r.isNullAt(valIdx)) {
              val d0 = r.getDouble(valIdx)
              val d = if (d0 == 0.0) 0.0 else if (d0 != d0) Double.NaN else d0
              sketch.add(java.lang.Double.doubleToLongBits(d))
              seen += 1
            }
          }
          if (seen == seen0) Iterator.empty
          else {
            val sk = sketch.serialize
            val out = java.nio.ByteBuffer.allocate(8 + sk.length)
            out.putLong(seen).put(sk)
            state.update(out.array())
            Iterator.single(Row.fromSeq(
              keyIdxs.map(last.get) ++ Seq(Long.box(seen), Long.box(sketch.estimate))))
          }
      }
  }

  /** Read the executor-side state of a [[lastByKeyStream]] query back
    * as a batch DataFrame via Spark's `statestore` data source — the
    * cluster serving path for T2/T3: state stays sharded in the
    * (RocksDB) store, the read is an ordinary distributed scan of the
    * last committed micro-batch's snapshot, and the driver never holds
    * the key frontier. Returns None before the first commit.
    *
    * flatMapGroupsWithState persists its state either flat or nested
    * under `groupState` depending on format version — both handled.
    */
  def stateSnapshot(spark: org.apache.spark.sql.SparkSession, checkpoint: String): Option[DataFrame] = {
    // "no state yet" is detected structurally (no committed batch in
    // the checkpoint) — NOT by swallowing read errors: a corrupt or
    // version-incompatible store must surface, or distributed serving
    // would silently answer [] forever. Resolved through Hadoop's
    // FileSystem so HDFS/S3 checkpoints (the cluster case this method
    // exists for) are probed correctly, not just file:// paths.
    val commitsPath = new org.apache.hadoop.fs.Path(checkpoint, "commits")
    val fs = commitsPath.getFileSystem(spark.sessionState.newHadoopConf())
    val committed = fs.exists(commitsPath) && fs.getFileStatus(commitsPath).isDirectory &&
      fs.listStatus(commitsPath).exists(s => s.getPath.getName.forall(_.isDigit))
    if (!committed) None
    else {
      val raw = spark.read.format("statestore").load(checkpoint)
      val valueType = raw.schema("value").dataType.asInstanceOf[StructType]
      Some(
        if (valueType.fieldNames.contains("groupState")) raw.select(col("value.groupState.*"))
        else raw.select(col("value.*")))
    }
  }

  /** A9/watermarked streaming aggregation: tumbling event-time window
    * with late-data bound — the principled late-row semantics the
    * reference lacks (SURVEY §4: emit-now + log). Returns
    * (window.start as bucket, groupCols…, count, sum).
    */
  def windowedCounts(
      df: DataFrame,
      tsCol: String,
      width: String,
      lateness: String,
      groupBy: Seq[String],
      sumCol: String,
      slide: Option[String] = None): DataFrame = {
    // slide < width = hopping windows: each row lands in width/slide
    // overlapping buckets (trending-window analytics); None = tumbling
    val win = slide match {
      case Some(s) => window(col(tsCol), width, s)
      case None    => window(col(tsCol), width)
    }
    df.withWatermark(tsCol, lateness)
      .groupBy((win +: groupBy.map(col)): _*)
      .agg(count(lit(1)).as("n"), sum(col(sumCol)).as("sum_value"))
      .withColumn("bucket", col("window.start"))
      .drop("window")
  }

  /** A11's streaming twin: watermarked SESSION windows (gap-based,
    * variable length — Spark's native `session_window` state merges
    * adjacent activity). Returns (groupCols…, session_start, n,
    * sum_value). Append-only: Spark rejects update mode for session
    * aggregations, so a session emits exactly once, when the watermark
    * passes its close — at stream end, push the watermark with
    * sentinel events (see the a11s gate entry) or the still-open tail
    * sessions stay in state.
    */
  def sessionCounts(
      df: DataFrame,
      tsCol: String,
      gap: String,
      lateness: String,
      groupBy: Seq[String],
      sumCol: String): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy((session_window(col(tsCol), gap) +: groupBy.map(col)): _*)
      .agg(count(lit(1)).as("n"), sum(col(sumCol)).as("sum_value"))
      .withColumn("session_start", col("session_window.start"))
      .drop("session_window")

  /** W4's streaming twin: a running time-weighted average per key.
    * State per key is FOUR scalars — (last ts, last value, weighted
    * sum, weighted span) — folded in ts order; each new tick closes
    * the previous tick's holding interval, exactly the batch lead()
    * formulation's sum. Emits the running (key, twap, n_intervals,
    * span_us) whenever a batch closes at least one interval, so the
    * final emission equals the batch w4 row (the last tick holds no
    * weight in either).
    *
    * Cross-batch contract and 100 TB shape as [[funnelStream]]: per-
    * key arrival must be ts-non-decreasing; state is O(keys) scalars.
    */
  /** w7's streaming twin: the LIVE drawdown monitor — running
    * (n, cum, peak, max-drawdown) longs per key in the state store
    * (4 longs + an order cursor, constant in stream length), ticks
    * sorted within each micro-batch by (ts, order) like [[twapStream]].
    * With an in-order feed the final emission per key equals the
    * batch [[graft.operators.EventAnalytics.drawdown]] row exactly —
    * all-integer arithmetic on the same quantized column.
    */
  def drawdownStream(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      qCol: String,
      orderCol: String): DataFrame = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val qIdx = schema.fieldIndex(qCol)
    val ordIdx = schema.fieldIndex(orderCol)
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(keyCol, schema(keyIdx).dataType),
      StructField("n", LongType, nullable = false),
      StructField("final_q", LongType, nullable = false),
      StructField("peak_q", LongType, nullable = false),
      StructField("max_dd_q", LongType, nullable = false))))
    implicit val keyEnc = Encoders.scalaLong
    implicit val stateEnc = Encoders.kryo[Array[Long]]
    val micros: Row => Long = rowMicrosOf(tsIdx)
    requireLongKey(schema, keyCol)
    df.groupByKey((r: Row) => r.getLong(keyIdx))
      .flatMapGroupsWithState[Array[Long], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          // state: n, cum, peak, maxdd — peak/maxdd seeded so the
          // FIRST tick establishes them (a first tick below zero is
          // already a drawdown from the flat start? no: peak starts
          // at the first cum, matching the batch running windows)
          val st = state.getOption.getOrElse(Array(0L, 0L, Long.MinValue, 0L))
          val nBefore = st(0)
          rows.map(r => (micros(r), r.getLong(ordIdx), r.getLong(qIdx)))
            .toArray.sorted
            .foreach { case (_, _, q) =>
              st(0) += 1
              st(1) += q
              if (st(1) > st(2)) st(2) = st(1)
              val dd = st(2) - st(1)
              if (dd > st(3)) st(3) = dd
            }
          if (st(0) == nBefore) Iterator.empty
          else {
            state.update(st)
            Iterator.single(Row(key, st(0), st(1), st(2), st(3)))
          }
      }
  }

  /** w11's streaming twin: the LIVE CUSUM drift monitor — running
    * (n, cumUp, minCumUp, cumDn, maxCumDn, maxSUp, maxSDn, nAlarms,
    * firstAlarmUs) longs per key (9 longs, constant in stream
    * length), applying the same clamped-recursion arithmetic the
    * batch [[graft.operators.EventAnalytics.cusum]] computes
    * closed-form on running windows — with an in-order feed the final
    * emission per key equals the batch row exactly (shared quantized
    * column, shared integer thresholds).
    *
    * Cross-batch contract as [[drawdownStream]]: per-key arrival
    * (ts, order)-ascending across batches, ticks sorted within each.
    */
  def cusumStream(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      qCol: String,
      orderCol: String,
      refQ: Long,
      slackQ: Long,
      hQ: Long): DataFrame = {
    require(slackQ >= 0, "cusumStream: slackQ must be >= 0")
    require(hQ > 0, "cusumStream: hQ must be > 0")
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val qIdx = schema.fieldIndex(qCol)
    val ordIdx = schema.fieldIndex(orderCol)
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(keyCol, schema(keyIdx).dataType),
      StructField("n", LongType, nullable = false),
      StructField("max_up_q", LongType, nullable = false),
      StructField("max_dn_q", LongType, nullable = false),
      StructField("n_alarms", LongType, nullable = false),
      StructField("first_alarm_us", LongType, nullable = true))))
    implicit val keyEnc = Encoders.scalaLong
    implicit val stateEnc = Encoders.kryo[Array[Long]]
    val micros: Row => Long = rowMicrosOf(tsIdx)
    requireLongKey(schema, keyCol)
    df.groupByKey((r: Row) => r.getLong(keyIdx))
      .flatMapGroupsWithState[Array[Long], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          // n, cu, minCu, cd, maxCd, maxSu, maxSd, nAlarms, firstUs(-1)
          val st = state.getOption.getOrElse(
            Array(0L, 0L, Long.MaxValue, 0L, Long.MinValue, 0L, 0L, 0L, -1L))
          val nBefore = st(0)
          rows.map(r => (micros(r), r.getLong(ordIdx), r.getLong(qIdx)))
            .toArray.sorted
            .foreach { case (us, _, q) =>
              st(0) += 1
              st(1) += q - (refQ + slackQ)
              if (st(1) < st(2)) st(2) = st(1)
              val su = st(1) - math.min(st(2), 0L)
              if (su > st(5)) st(5) = su
              st(3) += q - (refQ - slackQ)
              if (st(3) > st(4)) st(4) = st(3)
              val sd = math.max(st(4), 0L) - st(3)
              if (sd > st(6)) st(6) = sd
              if (su >= hQ || sd >= hQ) {
                st(7) += 1
                if (st(8) < 0) st(8) = us
              }
            }
          if (st(0) == nBefore) Iterator.empty
          else {
            state.update(st)
            Iterator.single(Row(key, st(0), st(5), st(6), st(7),
              if (st(8) < 0) null else java.lang.Long.valueOf(st(8))))
          }
      }
  }

  /** w10's streaming twin: LIVE rolling z-score anomaly flags — the
    * spike alert wired to a metric stream. State per key is a ring
    * buffer of the last `window` quantized ticks plus a seen counter
    * (window+1 longs, constant in stream length); each arriving tick
    * is judged against the buffer BEFORE it joins it (the batch
    * prior-window frame), with the same integer cross-multiplied
    * verdict — every tick emits exactly once, so the sink table IS
    * the batch [[graft.operators.EventAnalytics.rollingAnomaly]]
    * frame and the oracle applies verbatim.
    *
    * Cross-batch contract as [[drawdownStream]]: per-key arrival
    * (ts, order)-ascending across batches, ticks sorted within each.
    */
  def rollingAnomalyStream(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      qCol: String,
      orderCol: String,
      window: Int = 16,
      kMilli: Long = 3000L,
      minPrior: Int = 8): DataFrame = {
    require(window >= 2 && window <= 64, "rollingAnomalyStream: window in [2, 64]")
    require(minPrior >= 2 && minPrior <= window,
      "rollingAnomalyStream: minPrior in [2, window]")
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val qIdx = schema.fieldIndex(qCol)
    val ordIdx = schema.fieldIndex(orderCol)
    Seq(qCol -> qIdx, orderCol -> ordIdx).foreach { case (c, i) =>
      require(schema(i).dataType == LongType,
        s"rollingAnomalyStream column '$c' must be BIGINT, " +
          s"got ${schema(i).dataType.simpleString}")
    }
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(keyCol, schema(keyIdx).dataType),
      StructField(orderCol, LongType, nullable = false),
      StructField("n_prior", LongType, nullable = false),
      StructField("q", LongType, nullable = false),
      StructField("sum_prior", LongType, nullable = false),
      StructField("sumsq_prior", LongType, nullable = false),
      StructField("is_anomaly", org.apache.spark.sql.types.BooleanType,
        nullable = false))))
    implicit val keyEnc = Encoders.scalaLong
    implicit val stateEnc = Encoders.kryo[Array[Long]]
    val micros: Row => Long = rowMicrosOf(tsIdx)
    requireLongKey(schema, keyCol)
    df.groupByKey((r: Row) => r.getLong(keyIdx))
      .flatMapGroupsWithState[Array[Long], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          // state: seen counter + `window` ring slots
          val st = state.getOption.getOrElse(new Array[Long](window + 1))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.map(r => (micros(r), r.getLong(ordIdx), r.getLong(qIdx)))
            .toArray.sorted
            .foreach { case (_, ord, q) =>
              val seen = st(0)
              val nPrior = math.min(seen, window.toLong)
              var s = 0L; var qq = 0L; var i = 0
              while (i < nPrior) { val v = st(1 + i); s += v; qq += v * v; i += 1 }
              val dev = nPrior * q - s
              val anom = nPrior >= minPrior &&
                dev * dev * 1000000L >
                  kMilli * kMilli * (nPrior * (nPrior * qq - s * s))
              out += Row(key, ord, nPrior, q, s, qq, anom)
              st(1 + (seen % window).toInt) = q
              st(0) = seen + 1
            }
          if (out.isEmpty) Iterator.empty
          else { state.update(st); out.iterator }
      }
  }

  /** a22's streaming twin: the LIVE event-time lateness monitor — the
    * form the audit naturally wants, since arrival order IS the
    * stream. State per key is FIVE longs (running event-time
    * high-water mark, n, n_late, max_late_µs, Σlate_µs); each arrival
    * is compared to the frontier BEFORE it (the batch ROWS-to-(-1)
    * frame), then advances it. Read the emitted distribution to pick
    * a `withWatermark` delay from measurement instead of a guess —
    * before the guess silently drops the tail.
    *
    * Cross-batch contract: per-key ARRIVAL must be `arrivalCol`-
    * ascending across batches (rows sort within each batch; the
    * micro-batch sequence is the arrival order between them — true of
    * any real feed, which is the point). Keys are strings (channel /
    * event-type names); state is O(keys) scalars.
    */
  def latenessStream(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      arrivalCol: String): DataFrame = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val arrIdx = schema.fieldIndex(arrivalCol)
    require(schema(keyIdx).dataType == StringType,
      s"latenessStream key '$keyCol' must be STRING, " +
        s"got ${schema(keyIdx).dataType.simpleString}")
    require(schema(arrIdx).dataType == LongType,
      s"latenessStream arrival '$arrivalCol' must be BIGINT")
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(keyCol, StringType),
      StructField("n", LongType, nullable = false),
      StructField("n_late", LongType, nullable = false),
      StructField("max_late_us", LongType, nullable = false),
      StructField("sum_late_us", LongType, nullable = false))))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.kryo[Array[Long]]
    val micros: Row => Long = rowMicrosOf(tsIdx)
    df.groupByKey((r: Row) => r.getString(keyIdx))
      .flatMapGroupsWithState[Array[Long], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          // state: hwm (MinValue until the first arrival), n, n_late,
          // max_late, sum_late
          val st = state.getOption.getOrElse(
            Array(Long.MinValue, 0L, 0L, 0L, 0L))
          val nBefore = st(1)
          rows.map(r => (r.getLong(arrIdx), micros(r)))
            .toArray.sorted
            .foreach { case (_, us) =>
              val late = if (st(0) > us) st(0) - us else 0L
              st(1) += 1L
              if (late > 0L) st(2) += 1L
              if (late > st(3)) st(3) = late
              st(4) += late
              if (us > st(0)) st(0) = us
            }
          if (st(1) == nBefore) Iterator.empty
          else {
            state.update(st)
            Iterator.single(Row(key, st(1), st(2), st(3), st(4)))
          }
      }
  }

  /** a24's streaming twin: the LIVE diurnal profile — state per event
    * type is its 24 hour-of-day counters (24 longs, constant in
    * stream length); every micro-batch that touches a type re-emits
    * the type's full refreshed profile (hour rows with total, integer
    * share, peak hour, burst verdict recomputed from the counters),
    * so the latest emission per (type, hour) IS the batch
    * [[graft.operators.EventAnalytics.hourOfDayProfile]] frame and
    * the oracle applies verbatim. Counting is order-free — no
    * within-batch sort, no arrival contract needed.
    */
  def hourProfileStream(
      df: DataFrame,
      typeCol: String,
      tsCol: String,
      burstMilli: Long = 500L): DataFrame = {
    require(burstMilli >= 1 && burstMilli <= 1000,
      "hourProfileStream: burstMilli in [1, 1000]")
    val schema = df.schema
    val typeIdx = schema.fieldIndex(typeCol)
    val tsIdx = schema.fieldIndex(tsCol)
    require(schema(typeIdx).dataType == StringType,
      s"hourProfileStream key '$typeCol' must be STRING")
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(typeCol, StringType),
      StructField("hour", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("total", LongType, nullable = false),
      StructField("share_milli", LongType, nullable = false),
      StructField("is_peak", BooleanType, nullable = false),
      StructField("bursty", BooleanType, nullable = false))))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.kryo[Array[Long]]
    val micros: Row => Long = rowMicrosOf(tsIdx)
    df.groupByKey((r: Row) => r.getString(typeIdx))
      .flatMapGroupsWithState[Array[Long], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          val st = state.getOption.getOrElse(new Array[Long](24))
          var touched = false
          rows.foreach { r =>
            // floorDiv/floorMod: Java truncating `/`+`%` go negative
            // for pre-1970 timestamps — st(-1) would be a poison-pill
            // ArrayIndexOutOfBounds replayed from the checkpoint
            // forever (review finding); floorMod is the calendar hour
            st(Math.floorMod(
              Math.floorDiv(micros(r), 3600000000L), 24L).toInt) += 1L
            touched = true
          }
          if (!touched) Iterator.empty
          else {
            state.update(st)
            val total = st.sum
            val mx = st.max
            val peakHour = st.indexOf(mx) // first max = min hour
            (0 until 24).iterator.filter(st(_) > 0L).map { h =>
              Row(key, h.toLong, st(h), total, st(h) * 1000 / total,
                h == peakHour, mx * 1000 > burstMilli * total)
            }
          }
      }
  }

  /** v4's streaming twin: the LIVE entity-novelty feed — per entity
    * (a pre-concatenated string key), two longs of state (first-seen
    * epoch-day, last-emitted day); each tick landing on a NEW calendar
    * day for its entity emits one (entity, day, is_new) row, so
    * aggregating the emissions by day reproduces the batch
    * [[graft.operators.EventAnalytics.entityNovelty]] counts exactly
    * (is_new marks the entity's first day ever — the novelty mass).
    * Days use floorDiv (sign-correct pre-1970, the a24 finding).
    *
    * Cross-batch contract as [[drawdownStream]]: per-entity arrival
    * day-non-decreasing; ticks sort within each batch.
    */
  def noveltyStream(
      df: DataFrame,
      keyCol: String,
      tsCol: String): DataFrame = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tsIdx = schema.fieldIndex(tsCol)
    require(schema(keyIdx).dataType == StringType,
      s"noveltyStream key '$keyCol' must be STRING")
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(keyCol, StringType),
      StructField("day", LongType, nullable = false),
      StructField("is_new", BooleanType, nullable = false))))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.kryo[Array[Long]]
    val micros: Row => Long = rowMicrosOf(tsIdx)
    df.groupByKey((r: Row) => r.getString(keyIdx))
      .flatMapGroupsWithState[Array[Long], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          // state: firstDay, lastEmittedDay (MinValue until first tick)
          val st = state.getOption.getOrElse(Array(Long.MinValue, Long.MinValue))
          val out = Seq.newBuilder[Row]
          rows.map(r => Math.floorDiv(micros(r), 86400000000L))
            .toArray.sorted
            .foreach { day =>
              if (day > st(1)) {
                val isNew = st(0) == Long.MinValue
                if (isNew) st(0) = day
                st(1) = day
                out += Row(key, day, isNew)
              }
            }
          val res = out.result()
          if (res.isEmpty) Iterator.empty
          else {
            state.update(st)
            res.iterator
          }
      }
  }

  /** w9's streaming twin: the LIVE realized-variance monitor — per
    * key, the state is FIVE longs for the CURRENT bucket only
    * (bucket µs, last tick q, n returns, Σr, Σr²); a tick landing in
    * a new bucket flushes the closed bucket's final row and resets
    * (bucket boundaries reset the lag, and overnight gaps are not
    * returns — the batch [[graft.operators.EventAnalytics
    * .realizedVariance]] contract). Emits a (key, bucket_us,
    * n_returns, net_q, rv_q) row for every bucket that gained returns
    * in the micro-batch; n per bucket grows monotonically, so the
    * max-n emission per (key, bucket) equals the batch row exactly —
    * all-integer arithmetic on the caller's pre-quantized `qCol`
    * (shared with the batch expression). Single-tick buckets carry no
    * return and never emit, matching the batch frame.
    *
    * Cross-batch contract and 100 TB shape as [[drawdownStream]]:
    * per-key arrival ts-non-decreasing (ticks sort within each batch
    * by (ts, order)); state is O(keys) scalars — the current bucket
    * only, closed buckets leave the store.
    */
  def realizedVarianceStream(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      qCol: String,
      orderCol: String,
      bucketUsCol: String): DataFrame = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val qIdx = schema.fieldIndex(qCol)
    val ordIdx = schema.fieldIndex(orderCol)
    val bkIdx = schema.fieldIndex(bucketUsCol)
    Seq(qCol -> qIdx, orderCol -> ordIdx, bucketUsCol -> bkIdx).foreach {
      case (c, i) => require(schema(i).dataType == LongType,
        s"realizedVarianceStream column '$c' must be BIGINT, " +
          s"got ${schema(i).dataType.simpleString}")
    }
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(keyCol, schema(keyIdx).dataType),
      StructField("bucket_us", LongType, nullable = false),
      StructField("n_returns", LongType, nullable = false),
      StructField("net_q", LongType, nullable = false),
      StructField("rv_q", LongType, nullable = false))))
    implicit val keyEnc = Encoders.scalaLong
    implicit val stateEnc = Encoders.kryo[Array[Long]]
    val micros: Row => Long = rowMicrosOf(tsIdx)
    requireLongKey(schema, keyCol)
    df.groupByKey((r: Row) => r.getLong(keyIdx))
      .flatMapGroupsWithState[Array[Long], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          // state: bucket µs, last q, n, Σr, Σr² — current bucket only
          var cur = state.getOption.orNull
          var curNew = 0L // returns added to `cur` within THIS batch
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.map(r => (micros(r), r.getLong(ordIdx), r.getLong(bkIdx),
              r.getLong(qIdx)))
            .toArray.sorted
            .foreach { case (_, _, b, q) =>
              if (cur == null) { cur = Array(b, q, 0L, 0L, 0L); curNew = 0L }
              else if (b != cur(0)) {
                // bucket rollover: the closed bucket's row is final
                if (curNew > 0L) out += Row(key, cur(0), cur(2), cur(3), cur(4))
                cur = Array(b, q, 0L, 0L, 0L); curNew = 0L
              } else {
                val ret = q - cur(1)
                cur(1) = q; cur(2) += 1L; cur(3) += ret; cur(4) += ret * ret
                curNew += 1L
              }
            }
          if (cur != null) {
            state.update(cur)
            if (curNew > 0L) out += Row(key, cur(0), cur(2), cur(3), cur(4))
          }
          out.iterator
      }
  }

  def twapStream(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      orderCol: String): DataFrame = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val valIdx = schema.fieldIndex(valCol)
    val ordIdx = schema.fieldIndex(orderCol)
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(keyCol, schema(keyIdx).dataType),
      // nullable: a key whose intervals are all zero-length (consecutive
      // events at the same timestamp) has span 0, and the batch twin's
      // `_mass div span_us` yields NULL there — the stream must emit the
      // same NULL, not divide (a Long `/ 0` would kill the whole query)
      StructField("twap_milli", LongType, nullable = true),
      StructField("n_intervals", LongType, nullable = false),
      StructField("span_us", LongType, nullable = false))))
    implicit val keyEnc = Encoders.scalaLong
    implicit val stateEnc = Encoders.BINARY
    val micros: Row => Long = rowMicrosOf(tsIdx)
    requireLongKey(schema, keyCol)
    df.groupByKey((r: Row) => r.getLong(keyIdx))
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Row], state: GroupState[Array[Byte]]) =>
          // state: hasLast(1B) lastTs(8) lastValMilli(8) wsumMilli(8)
          // span(8) n(8) — the weighted mass is an INTEGER milli sum
          // (floor(value·1000)·dt), matching the batch operator exactly:
          // a double wsum is accumulation-order-dependent and diverged
          // from the batch/oracle at sf1 in the last ulp (the a11 class)
          var (hasLast, lastTs, lastValMilli, wsumMilli, span, n) =
            state.getOption match {
              case Some(b) =>
                val buf = java.nio.ByteBuffer.wrap(b)
                (buf.get() == 1, buf.getLong, buf.getLong, buf.getLong,
                  buf.getLong, buf.getLong)
              case None => (false, 0L, 0L, 0L, 0L, 0L)
            }
          val nBefore = n
          rows.map(r => (micros(r), r.getLong(ordIdx), r.getDouble(valIdx)))
            .toArray.sorted
            .foreach { case (tUs, _, v) =>
              if (hasLast) {
                val dt = tUs - lastTs
                wsumMilli += lastValMilli * dt; span += dt; n += 1
              }
              hasLast = true; lastTs = tUs
              lastValMilli = math.floor(v * 1000).toLong
            }
          val buf = java.nio.ByteBuffer.allocate(1 + 8 * 5)
          buf.put(if (hasLast) 1.toByte else 0.toByte)
            .putLong(lastTs).putLong(lastValMilli).putLong(wsumMilli)
            .putLong(span).putLong(n)
          state.update(buf.array())
          // span == 0 ⇔ every interval so far is zero-length: the batch
          // operator's `_mass div span_us` is NULL for that key, so emit
          // NULL rather than throw ArithmeticException (which would kill
          // the streaming query on the first same-timestamp pair)
          if (n > nBefore)
            Iterator.single(Row(key,
              if (span > 0L) Long.box(wsumMilli / span) else null, n, span))
          else Iterator.empty
      }
  }

  /** A15's streaming twin: the per-user active-period set maintained
    * in the state store (bounded by periods per user, e.g. ≤52
    * weeks/year — the same bound the batch collect_set relies on),
    * emitting each (user, period_start_us) pair ONCE, the first time
    * the user is active in that period. The emitted delta stream IS
    * the batch operator's distinct (user, period) frame, so the
    * cohort/offset rollup (and the a15 oracle) apply to it verbatim.
    */
  def retentionStream(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      period: String = "week"): DataFrame = {
    val withP = df.select(col(userCol),
      unix_micros(date_trunc(period, col(tsCol))).as("_p"))
    val schema = withP.schema
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(userCol, schema.head.dataType),
      StructField("period_us", LongType, nullable = false))))
    implicit val keyEnc = Encoders.scalaLong
    implicit val stateEnc = Encoders.BINARY
    requireLongKey(df.schema, userCol)
    withP.groupByKey((r: Row) => r.getLong(0))
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[Array[Byte]]) =>
          val seen = scala.collection.mutable.SortedSet.empty[Long]
          state.getOption.foreach { b =>
            val buf = java.nio.ByteBuffer.wrap(b)
            while (buf.hasRemaining) seen += buf.getLong
          }
          val fresh = rows.map(_.getLong(1)).filter(seen.add).toArray.sorted
          if (fresh.isEmpty) Iterator.empty
          else {
            val buf = java.nio.ByteBuffer.allocate(8 * seen.size)
            seen.foreach(buf.putLong)
            state.update(buf.array())
            fresh.iterator.map(p => Row(user, p))
          }
      }
  }


  /** The event-analytics streams key by a LONG id column (the events
    * channel contract); fail at plan time, not mid-stream. */
  /** Timestamp column -> epoch microseconds — the ONE event-time
    * conversion every per-key state fold in this file shares. Returns
    * a standalone lambda capturing only the column index, so the
    * state-fold closures that embed it stay serializable (they must
    * not drag this object across the task boundary). */
  private def rowMicrosOf(tsIdx: Int): Row => Long = { r =>
    val i = r.getTimestamp(tsIdx).toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private def requireLongKey(schema: StructType, keyCol: String): Unit = {
    val dt = schema(schema.fieldIndex(keyCol)).dataType
    require(dt == LongType,
      s"streaming event-analytics key '$keyCol' must be BIGINT, got ${dt.simpleString}")
  }

  /** W6's streaming twin: live OHLC bars. State per (key, day) is five
    * scalars — open (frozen at first arrival under the ts-ascending
    * contract), high, low, close (last arrival), tick count — emitted
    * refreshed on every batch that touches the bar (update mode);
    * n_ticks grows monotonically, so the max-n emission per bar is the
    * final one and the batch w6 oracle applies verbatim.
    */
  def ohlcStream(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      orderCol: String): DataFrame = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val valIdx = schema.fieldIndex(valCol)
    val ordIdx = schema.fieldIndex(orderCol)
    requireLongKey(schema, keyCol)
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(keyCol, schema(keyIdx).dataType),
      StructField("day_us", LongType, nullable = false),
      StructField("open", DoubleType, nullable = false),
      StructField("high", DoubleType, nullable = false),
      StructField("low", DoubleType, nullable = false),
      StructField("close", DoubleType, nullable = false),
      StructField("n_ticks", LongType, nullable = false))))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.BINARY
    val micros: Row => Long = rowMicrosOf(tsIdx)
    val dayUs = 86400000000L
    // key the state store by (key, day): each bar is its own state row
    df.withColumn("_graft_gk",
      concat_ws("\u0001", col(keyCol).cast("string"),
        (unix_micros(date_trunc("day", col(tsCol)))).cast("string")))
      .groupByKey((r: Row) => r.getString(schema.length))
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Array[Byte]]) =>
          var (key, day, open, high, low, close, n) = state.getOption match {
            case Some(b) =>
              val buf = java.nio.ByteBuffer.wrap(b)
              (buf.getLong, buf.getLong, buf.getDouble, buf.getDouble,
                buf.getDouble, buf.getDouble, buf.getLong)
            case None => (0L, 0L, 0.0, 0.0, 0.0, 0.0, 0L)
          }
          rows.map(r => (micros(r), r.getLong(ordIdx), r.getDouble(valIdx),
              r.getLong(keyIdx)))
            .toArray.sorted
            .foreach { case (tUs, _, v, k) =>
              if (n == 0L) {
                key = k; day = tUs - Math.floorMod(tUs, dayUs)
                open = v; high = v; low = v
              } else {
                if (v > high) high = v
                if (v < low) low = v
              }
              close = v; n += 1
            }
          val buf = java.nio.ByteBuffer.allocate(8 * 7)
          buf.putLong(key).putLong(day).putDouble(open).putDouble(high)
            .putDouble(low).putDouble(close).putLong(n)
          state.update(buf.array())
          Iterator.single(Row(key, day, open, high, low, close, n))
      }
  }

  /** A17's streaming twin: consecutive-event (from, to) pairs emitted
    * live. State per key is ONE tick — (ts, order, type) of the key's
    * latest event — so a batch's first event pairs with the previous
    * batch's last (the boundary transition the batch lag() sees).
    * Emits un-aggregated pair rows; the (from, to) count/probability
    * rollup is a batch aggregate over the emitted stream (the a17
    * tail), so the batch oracle applies verbatim.
    */
  def transitionsStream(
      df: DataFrame,
      keyCol: String,
      typeCol: String,
      tsCol: String,
      orderCol: String): DataFrame = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val typeIdx = schema.fieldIndex(typeCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val ordIdx = schema.fieldIndex(orderCol)
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField("from_type", StringType),
      StructField("to_type", StringType))))
    implicit val keyEnc = Encoders.scalaLong
    implicit val stateEnc = Encoders.BINARY
    val micros: Row => Long = rowMicrosOf(tsIdx)
    requireLongKey(schema, keyCol)
    df.groupByKey((r: Row) => r.getLong(keyIdx))
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[Row], state: GroupState[Array[Byte]]) =>
          var lastType: String = state.getOption.map { b =>
            val buf = java.nio.ByteBuffer.wrap(b)
            buf.getLong; buf.getLong // ts/ord kept for the contract, unused here
            val bytes = new Array[Byte](buf.remaining()); buf.get(bytes)
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          }.orNull
          var lastTs = 0L; var lastOrd = 0L
          val out = Vector.newBuilder[Row]
          // null types are skipped BEFORE the sort — the batch twin
          // (transitionMatrix) drops them via lag/filter, and a null
          // String would break both the tuple ordering and the state
          // encoding below
          rows.filter(r => !r.isNullAt(typeIdx))
            .map(r => (micros(r), r.getLong(ordIdx), r.getString(typeIdx)))
            .toArray.sorted
            .foreach { case (tUs, ord, typ) =>
              if (lastType != null) out += Row(lastType, typ)
              lastType = typ; lastTs = tUs; lastOrd = ord
            }
          if (lastType != null) { // all-null batch: state unchanged
            val tb = lastType.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val buf = java.nio.ByteBuffer.allocate(16 + tb.length)
            buf.putLong(lastTs).putLong(lastOrd).put(tb)
            state.update(buf.array())
          }
          out.result().iterator
      }
  }

  /** A18's streaming twin: each key's first-`firstN` event-type path
    * maintained live. State per key is AT MOST firstN (ts, order,
    * type) triples — once full it freezes (later events cannot enter a
    * "first N" prefix under the ts-ascending arrival contract), so
    * long-history keys stop paying state writes entirely. Emits
    * (key, path, n_events) whenever the prefix grows; n_events is
    * monotone, so the max-n emission per key is the final path and
    * the batch a18 rollup/oracle apply to it verbatim.
    */
  def pathsStream(
      df: DataFrame,
      keyCol: String,
      typeCol: String,
      tsCol: String,
      orderCol: String,
      firstN: Int): DataFrame = {
    require(firstN >= 1, "pathsStream needs firstN >= 1")
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val typeIdx = schema.fieldIndex(typeCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val ordIdx = schema.fieldIndex(orderCol)
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(keyCol, schema(keyIdx).dataType),
      StructField("path", StringType, nullable = false),
      StructField("n_events", IntegerType, nullable = false))))
    implicit val keyEnc = Encoders.scalaLong
    implicit val stateEnc = Encoders.BINARY
    val micros: Row => Long = rowMicrosOf(tsIdx)
    requireLongKey(schema, keyCol)
    df.groupByKey((r: Row) => r.getLong(keyIdx))
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Row], state: GroupState[Array[Byte]]) =>
          val utf8 = java.nio.charset.StandardCharsets.UTF_8
          var held: Vector[(Long, Long, String)] = state.getOption.map { b =>
            val buf = java.nio.ByteBuffer.wrap(b)
            val n = buf.getInt
            Vector.fill(n) {
              val ts = buf.getLong; val ord = buf.getLong
              val len = buf.getInt
              val bytes = new Array[Byte](len); buf.get(bytes)
              (ts, ord, new String(bytes, utf8))
            }
          }.getOrElse(Vector.empty)
          val before = held.size
          if (before < firstN) {
            val fresh = rows
              .map(r => (micros(r), r.getLong(ordIdx), r.getString(typeIdx)))
              .toArray.sortBy(t => (t._1, t._2))
            held = (held ++ fresh).take(firstN)
          }
          if (held.size > before) {
            val bufSz = 4 + held.map(t => 20 + t._3.getBytes(utf8).length).sum
            val buf = java.nio.ByteBuffer.allocate(bufSz)
            buf.putInt(held.size)
            held.foreach { case (ts, ord, t) =>
              val tb = t.getBytes(utf8)
              buf.putLong(ts).putLong(ord).putInt(tb.length).put(tb)
            }
            state.update(buf.array())
            Iterator.single(Row(key, held.map(_._3).mkString("->"), held.size))
          } else Iterator.empty
      }
  }

  /** A20's streaming twin: per-hop conversion latencies emitted live.
    * Same two-scalar (stage, reach time) state and greedy fold as
    * [[funnelStream]]; each advance past stage 1 emits the hop's
    * latency (µs) exactly once per (user, hop) — stages only move
    * forward — so the emitted stream IS the batch hop-latency row set
    * and the a20 rollup/oracle apply to it verbatim.
    */
  def funnelHopsStream(
      df: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String],
      orderCol: String): DataFrame = {
    require(stages.size >= 2, "funnelHopsStream needs at least two stages")
    require(stages.distinct.size == stages.size, "funnel stages must be distinct")
    val schema = df.schema
    val userIdx = schema.fieldIndex(userCol)
    val typeIdx = schema.fieldIndex(typeCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val ordIdx = schema.fieldIndex(orderCol)
    val stageOf = stages.zipWithIndex.toMap
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(userCol, schema(userIdx).dataType),
      StructField("hop_idx", IntegerType, nullable = false),
      StructField("dt_us", LongType, nullable = false))))
    implicit val keyEnc = Encoders.scalaLong
    implicit val stEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    val micros: Row => Long = rowMicrosOf(tsIdx)
    requireLongKey(schema, userCol)
    df.groupByKey((r: Row) => r.getLong(userIdx))
      .flatMapGroupsWithState[(Int, Long), Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[(Int, Long)]) =>
          var (stage, at) = state.getOption.getOrElse((0, Long.MinValue))
          val out = Vector.newBuilder[Row]
          rows.map(r => (micros(r), r.getLong(ordIdx), r.getString(typeIdx)))
            .toArray.sorted
            .foreach { case (tUs, _, typ) =>
              if (stage < stages.size &&
                  stageOf.get(typ).contains(stage) &&
                  (stage == 0 || tUs > at)) {
                if (stage > 0) out += Row(user, stage, tUs - at)
                stage += 1; at = tUs
              }
            }
          state.update((stage, at))
          out.result().iterator
      }
  }

  /** A14's streaming twin: ordered funnel progress maintained live.
    * State per user is TWO scalars — (stage reached, time it was
    * reached) — updated by a ts-ordered fold: an event of type
    * `stages(s)` strictly after the stage-s-1 reach time advances the
    * user (the greedy earliest-advance fold computes exactly the batch
    * funnel's min-time chain: the first qualifying stage-k event IS
    * min(ts > t_{k-1})). Emits (user, stage_reached, reached_at_us)
    * whenever a batch advances the user (update mode).
    *
    * Cross-batch contract: within a batch the fold sorts the group's
    * rows by (ts, orderCol); across batches events must arrive
    * non-decreasing in ts per user (the engine-log/Kafka replay order
    * the other streaming gates assume) — a stage event older than the
    * recorded reach time cannot retroactively advance a PAST stage.
    *
    * 100 TB shape: state is O(users) × 2 longs on the sharded state
    * store, never an event list; each batch shuffles only that batch's
    * rows, keyed on the user.
    */
  def funnelStream(
      df: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String],
      orderCol: String): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.distinct.size == stages.size, "funnel stages must be distinct")
    val schema = df.schema
    val userIdx = schema.fieldIndex(userCol)
    val typeIdx = schema.fieldIndex(typeCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val ordIdx = schema.fieldIndex(orderCol)
    val stageOf = stages.zipWithIndex.toMap // type -> 0-based stage index
    implicit val rowEnc = Encoders.row(StructType(Seq(
      StructField(userCol, schema(userIdx).dataType),
      StructField("stage_reached", IntegerType, nullable = false),
      StructField("reached_at_us", LongType, nullable = false))))
    implicit val keyEnc = Encoders.scalaLong
    implicit val stEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    val micros: Row => Long = rowMicrosOf(tsIdx)
    requireLongKey(schema, userCol)
    df.groupByKey((r: Row) => r.getLong(userIdx))
      .flatMapGroupsWithState[(Int, Long), Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[(Int, Long)]) =>
          var (stage, at) = state.getOption.getOrElse((0, Long.MinValue))
          val before = stage
          rows.map(r => (micros(r), r.getLong(ordIdx), r.getString(typeIdx)))
            .toArray.sorted
            .foreach { case (tUs, _, typ) =>
              if (stage < stages.size &&
                  stageOf.get(typ).contains(stage) &&
                  (stage == 0 || tUs > at)) {
                stage += 1; at = tUs
              }
            }
          if (stage > before) {
            state.update((stage, at))
            Iterator.single(Row(user, stage, at))
          } else Iterator.empty
      }
  }

  /** Streaming per-dimension second-moment monitor — the live twin of
    * [[graft.functions.GramMatrixAgg]]'s diagonal: one
    * [[graft.functions.GramBuf]] per key in the state store, updated
    * per micro-batch with the batch aggregate's exact quantization
    * (`trunc(toDouble(x)·2^scaleBits)`), so the final state's
    * per-dimension count/sum/sum-of-squares equal the batch Gram
    * bit-for-bit regardless of how the feed is sliced. Every batch
    * that touches a key re-emits its `dim` refreshed rows
    * `(keys…, n, j, s, p)` (update mode; `n` strictly grows and is
    * the recency key — the st5s contract). This is the
    * embedding-drift monitor: running mean/variance per dimension of
    * a live ingest, constant `O(dim²)` state per key, no corpus
    * retention. The full off-diagonal state rides along, so a PCA
    * refit ([[graft.pipeline.Pca.covariance]]) can consume the same
    * buffers without a second pass.
    */
  def gramStream(
      df: DataFrame,
      keys: Seq[String],
      vecCol: String,
      dim: Int,
      scaleBits: Int = graft.functions.GramMatrix.DefaultScaleBits): DataFrame = {
    require(keys.nonEmpty, "gramStream requires at least one key")
    val schema = df.schema
    val n = schema.length
    val keyIdxs = keys.map(schema.fieldIndex)
    val vecIdx = schema.fieldIndex(vecCol)
    // element accessor resolved from the schema, like the batch twin —
    // array<float> and array<double> both work, and a null element
    // fails with the same named error instead of an unboxing NPE
    val elemToDouble: Any => Double = schema(vecIdx).dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) =>
        v => v.asInstanceOf[Float].toDouble
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) =>
        v => v.asInstanceOf[Double]
      case other => sys.error(s"gramStream needs array<float|double>, got $other")
    }
    val scale = java.lang.Math.scalb(1.0, scaleBits)
    val outSchema = StructType(keys.map(schema(_)) ++ Seq(
      StructField("n", LongType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("s", LongType, nullable = false),
      StructField("p", LongType, nullable = false)))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.BINARY
    implicit val outEnc = Encoders.row(outSchema)
    df.withColumn("_graft_gk", groupKeyExpr(schema, keys))
      .groupByKey((r: Row) => r.getString(n))
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Array[Byte]]) =>
          val buf = state.getOption
            .map(graft.functions.GramBuf.deserialize)
            .getOrElse(new graft.functions.GramBuf(dim))
          val before = buf.n
          var last: Row = null
          rows.foreach { r =>
            last = r
            if (!r.isNullAt(vecIdx)) {
              val vec = r.getSeq[Any](vecIdx)
              require(vec.length == dim,
                s"gramStream: vector length ${vec.length} != dim $dim")
              val q = new Array[Long](dim)
              var k = 0
              while (k < dim) {
                val e = vec(k)
                require(e != null, s"gramStream: null component at index $k")
                q(k) = (elemToDouble(e) * scale).toLong
                k += 1
              }
              buf.add(q)
            }
          }
          if (buf.n == before) Iterator.empty
          else {
            state.update(buf.serialize)
            val keyVals = keyIdxs.map(last.get)
            // diagonal index of (j,j) in the upper-tri layout:
            // offset(j) = j*dim - j*(j-1)/2
            (0 until dim).iterator.map { j =>
              Row.fromSeq(keyVals ++ Seq(Long.box(buf.n), Int.box(j + 1),
                Long.box(buf.sums(j)),
                Long.box(buf.prods(j * dim - j * (j - 1) / 2))))
            }
          }
      }
  }
}
