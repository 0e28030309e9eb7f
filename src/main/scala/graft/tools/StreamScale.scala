package graft.tools

/** Streaming-twin scale ledger (r13 verdict task 5; widened per r14
  * task 3): the sf1/sf10 ledgers measured BATCH scaling; the
  * state-store claim — RocksDB backend, shuffle-once per micro-batch,
  * state linear in key cardinality — had no measured curve. This main
  * runs one representative per stateful-operator SHAPE, each with a
  * distinct state layout whose bytes/row curve is measured
  * independently:
  *   - st7s incremental profile  (O(columns) sketch partials)
  *   - a11s session merge        (watermark-flushed session windows)
  *   - d3s  streaming LSH dedup  (grows-with-keys roster)
  *   - a14s funnel               (per-user stage vector)
  *   - a15s retention            (per-user cohort + seen-period set)
  *   - w11s cusum                (per-series two-sided cusum scalars)
  *   - d10s cross dedup          (cross-corpus seen-hash roster)
  *   - c4s  k-means refit        (per-cell centroid accumulators)
  * at sf0.1 and at the 10× feed (/tmp/graft_sf1, built by
  * ScaleSmoke), on the PRODUCTION RocksDB provider, and emits one
  * JSON line per (entry, scale) with wall time, row count, the
  * order-independent row-hash signature (for cross-checking against
  * the batch oracle run), and per-batch progress parsed from the
  * engine's own StreamingQueryProgress (batch durations, state rows,
  * state bytes).
  *
  * Correctness at each scale is earned separately through the
  * standard Verify + tools/check.py flow over the same entries — this
  * main is the MEASUREMENT instrument.
  *
  * Usage: runMain graft.tools.StreamScale [entry ...]
  * Env: GRAFT_STREAMSCALE_SCALES=sf0.1[,sf1] — run a subset of the
  * scale axis; only the selected dirs are required to exist
  * (advisor r14: sf0.1-only runs must not demand /tmp/graft_sf1).
  */
object StreamScale {
  private val DefaultEntries = Seq(
    "st7s_profile_stream", "a11s_session_stream", "d3s_lsh_dedup_stream",
    "a14s_funnel_stream", "a15s_retention_stream", "w11s_cusum_stream",
    "d10s_cross_dup_stream", "c4s_kmeans_refit_stream")

  def main(args: Array[String]): Unit = {
    val entries = if (args.nonEmpty) args.toSeq else DefaultEntries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.core.GraftSession.build(s"local[$cpus]", "graft-stream-scale", cpus.toInt)
    // the production backend — the claim under measurement
    sys.props("graft.gate.provider") = "rocksdb"
    val outDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("/tmp/graft_streamscale")).toString
    val allScales = Seq(
      ("sf0.1", "/root/testdata/sf0.1"),
      ("sf1", "/tmp/graft_sf1"))
    val wanted = sys.env.get("GRAFT_STREAMSCALE_SCALES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val scales = allScales.filter { case (l, _) => wanted.forall(_(l)) }
    // only the scale dirs this run actually uses are required
    scales.foreach { case (_, dir) =>
      require(new java.io.File(dir).isDirectory,
        s"$dir missing — run `runMain graft.tools.ScaleSmoke` once to build sf1")
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for ((label, dir) <- scales; name <- entries) {
      val mfile = s"$outDir/${name}_$label.progress.jsonl"
      new java.io.File(mfile).delete()
      sys.props("graft.stream.metrics.file") = mfile
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val sig = graft.Verify.rowSigOf(df)
      val secs = (System.nanoTime() - t0) / 1e9
      sys.props.remove("graft.stream.metrics.file")
      spark.catalog.clearCache()
      // fold the engine's per-batch progress: trigger durations and
      // the LAST batch's state-operator totals (rows + bytes — for
      // RocksDB memoryUsedBytes tracks the loaded working set and
      // customMetrics.rocksdbSstFileSize the on-disk state)
      var batches = 0
      var sumMs = 0L
      var maxMs = 0L
      var stateRows = 0L
      var stateMem = 0L
      var sstBytes = 0L
      var peakRows = 0L
      var peakMem = 0L
      var peakSst = 0L
      // a non-streaming (or metrics-silent) entry writes no progress
      // file; emit batches:0 with a note instead of crashing the whole
      // ledger run on FileNotFoundException (advisor r14)
      val mexists = new java.io.File(mfile).exists()
      if (!mexists)
        Console.err.println(
          s"note: $name@$label wrote no progress file (non-streaming " +
            "or metrics-silent entry) — batches:0 below")
      val src =
        if (mexists) scala.io.Source.fromFile(mfile, "UTF-8")
        else scala.io.Source.fromString("")
      try src.getLines().foreach { line =>
        val p = mapper.readTree(line)
        batches += 1
        val d = p.path("durationMs").path("triggerExecution").asLong(0L)
        sumMs += d; maxMs = math.max(maxMs, d)
        val ops = p.path("stateOperators")
        if (ops.isArray && ops.size() > 0) {
          var r = 0L; var m = 0L; var s = 0L
          (0 until ops.size()).foreach { i =>
            val o = ops.get(i)
            r += o.path("numRowsTotal").asLong(0L)
            m += o.path("memoryUsedBytes").asLong(0L)
            s += o.path("customMetrics").path("rocksdbSstFileSize").asLong(0L)
          }
          // progress lines arrive oldest-first: last = post-flush
          // residue; PEAK is the working-set number the scaling claim
          // is about (watermark-flushed operators evict on the final
          // sentinel batch, so last alone under-reports, e.g. a11s)
          stateRows = r; stateMem = m; sstBytes = s
          peakRows = math.max(peakRows, r)
          peakMem = math.max(peakMem, m)
          peakSst = math.max(peakSst, s)
        }
      } finally src.close()
      println(
        s"""{"entry":"$name","scale":"$label","secs":${math.round(secs * 100) / 100.0},""" +
          s""""rows":${sig.rows},"agg_xor":"${java.lang.Long.toHexString(sig.xor)}",""" +
          s""""batches":$batches,"batch_ms_sum":$sumMs,"batch_ms_max":$maxMs,""" +
          s""""state_rows_peak":$peakRows,"state_mem_bytes_peak":$peakMem,""" +
          s""""rocksdb_sst_bytes_peak":$peakSst,""" +
          s""""state_rows_last":$stateRows,"state_mem_bytes_last":$stateMem,""" +
          s""""rocksdb_sst_bytes_last":$sstBytes,"progress_file":"$mfile"}""")
    }
    println("STREAM_SCALE_OK")
    spark.stop()
    graft.core.Scratch.sweep()
  }
}
