package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Beside each entry's parquet it also writes `<name>.manifest.json` —
  * row count + the SORTED per-row 64-bit FNV-1a hashes of a canonical
  * row rendering — and a rollup `manifest.json` (entry → rows/agg).
  * Rationale (r10 verdict): two rounds of driver-only hash-reds
  * (z6 r9+r10, a11 r10) were unreproducible from four booleans; the
  * manifest makes a red row forensically concrete — diffing the
  * driver run's manifest against the committed gate-run manifest
  * names the exact differing rows (or proves the Spark outputs were
  * identical and the divergence is oracle-side). The canonicalization
  * is environment-stable by construction: exact bit renderings
  * (Double.toHexString, epoch micros) — never locale/shortest-repr
  * formatting.
  */
object Verify {

  private val Fnv64Offset = 0xcbf29ce484222325L
  private val Fnv64Prime = 0x100000001b3L

  private[graft] def fnv64(s: String): Long = {
    var h = Fnv64Offset
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= Fnv64Prime; i += 1 }
    h
  }

  /** Canonical, environment-stable rendering of a result cell. Floats
    * render as exact IEEE hex (no shortest-repr ambiguity across JDKs),
    * timestamps as epoch micros (timezone-independent), binary as hex;
    * containers recurse with unambiguous delimiters. */
  private[graft] def canonCell(v: Any): String = v match {
    case null => "∅"
    case d: java.lang.Double =>
      if (d.isNaN) "NaN" else java.lang.Double.toHexString(d)
    case f: java.lang.Float =>
      if (f.isNaN) "NaN" else java.lang.Float.toHexString(f)
    case t: java.sql.Timestamp =>
      "ts:" + (t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case t: java.time.Instant =>
      "ts:" + (t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case d: java.sql.Date => "d:" + d.toString
    case d: java.time.LocalDate => "d:" + d.toString
    case b: Array[Byte] => "x:" + b.map(x => f"$x%02x").mkString
    case s: collection.Seq[_] => s.map(canonCell).mkString("[", "", "]")
    case a: Array[_] => a.map(canonCell).mkString("[", "", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => canonCell(k) + "" + canonCell(x) }
        .toSeq.sorted.mkString("{", "", "}")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(canonCell).mkString("(", "", ")")
    case bd: java.math.BigDecimal => "dec:" + bd.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  /** Per-entry manifest signature computed fully DISTRIBUTED over the
    * read-back parquet (hash what the comparator will read, not the
    * pre-write plan): the (rows, sum, xor) rollup never leaves the
    * executors un-aggregated, and only the sorted `cap`-bounded prefix
    * is collected for the manifest's row listing. Advisor r11: the old
    * path collected EVERY row hash to the driver (tens of MB per
    * multi-million-row entry) just to throw away all but 20k. */
  private[graft] case class RowSig(rows: Long, sum: Long, xor: Long, prefix: Array[Long])

  private[graft] def rowSigOf(df: org.apache.spark.sql.DataFrame,
                              cap: Int = ManifestCap): RowSig = {
    val rdd = hashRdd(df)
    // 8 bytes/row persisted briefly so the signature pass and the
    // bounded top-k pass don't recompute the parquet read + canon render
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (n, sum, xor) = rdd.aggregate((0L, 0L, 0L))(
        { case ((n, s, x), h) => (n + 1, s + h, x ^ h) },
        { case ((n1, s1, x1), (n2, s2, x2)) => (n1 + n2, s1 + s2, x1 ^ x2) })
      RowSig(n, sum, xor, rdd.takeOrdered(cap))
    } finally rdd.unpersist(blocking = false)
  }

  private val ManifestCap = 20000

  /** THE shared per-row hash pipeline every signature consumer rides:
    * columns in sorted-name order, cells rendered by [[canonCell]],
    * rows joined with the NUL separator — UNAMBIGUOUS, where a space
    * join would collapse rows ('a b','c') and ('a','b c') into one
    * signature (a silent-green hazard for text-bearing entries). A
    * second hand-rolled copy is exactly how separator drift happens
    * (review r11 found two space-joined copies), so [[rowHashesOf]]
    * and [[rowSigOf]] both delegate here. */
  private def hashRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[Long] = {
    val cols = df.columns.sorted.map(org.apache.spark.sql.functions.col)
    val sep = "\u0000"
    df.select(cols.toIndexedSeq: _*).rdd
      .map(r => fnv64(r.toSeq.map(canonCell).mkString(sep)))
  }

  /** Full sorted hash array — for SMALL frames (sweep/spec at sf0.01);
    * the Verify main loop uses the bounded [[rowSigOf]] instead. */
  private[graft] def rowHashesOf(df: org.apache.spark.sql.DataFrame): Array[Long] =
    hashRdd(df).collect().sorted

  /** Order-independent aggregate of a hash set: (rows, sum, xor). */
  private[graft] def sigOf(hashes: Array[Long]): (Long, Long, Long) = {
    var sum = 0L; var xor = 0L
    hashes.foreach { h => sum += h; xor ^= h }
    (hashes.length.toLong, sum, xor)
  }

  private def manifestJson(sig: RowSig): String = {
    // order-independent aggregates (sum + xor) survive any truncation;
    // the sorted prefix is what a diff names rows from
    s"""{"rows":${sig.rows},"agg_sum":"${java.lang.Long.toHexString(sig.sum)}",""" +
      s""""agg_xor":"${java.lang.Long.toHexString(sig.xor)}",""" +
      s""""truncated":${sig.rows > sig.prefix.length},""" +
      s""""row_hashes":[${sig.prefix.map(h => "\"" + java.lang.Long.toHexString(h) + "\"").mkString(",")}]}"""
  }

  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), rest) = args.splitAt(2)
    // optional extra args: run only the named queries (local iteration;
    // the driver always passes exactly two args → full run)
    val only = rest.toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the production session (GraftSession): the gate checks the
    // config the gateway serves from
    val spark = graft.core.GraftSession.build(s"local[$cpus]", "graft-verify", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    val rollup = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // forensic manifest: bounded sorted row-hash prefix + distributed
        // rollup of the on-disk result (hash what the comparator reads).
        // GRAFT_SKIP_MANIFEST=1 skips this extra per-entry pass — for
        // runs whose receipts are never driver-diffed (the mutation
        // campaign runs the full catalog once per mutant and only needs
        // the comparator verdict); round-close gate runs NEVER set it.
        if (!sys.env.get("GRAFT_SKIP_MANIFEST").contains("1")) {
          val sig = rowSigOf(spark.read.parquet(s"$outDir/$name"))
          Files.writeString(Paths.get(s"$outDir/$name.manifest.json"),
            manifestJson(sig))
          rollup(name) = (sig.rows,
            java.lang.Long.toHexString(sig.sum), java.lang.Long.toHexString(sig.xor))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // cache lifecycle boundary: operators persist reused
      // intermediates (dedup shingle sets / signatures); release them
      // once the query's output is on disk so an 89-query run stays
      // memory-flat (Bench does the same between timings)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val roll = rollup
      .map { case (n, (r, s, x)) =>
        s"${q(n)}: {\"rows\":$r,\"agg_sum\":\"$s\",\"agg_xor\":\"$x\"}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/manifest.json"), roll)
    spark.stop()
    // run-scoped /tmp hygiene (r11 verdict task 7): delete this run's
    // registered scratch (layouts, stream checkpoints, index roots) —
    // outDir and the z8 cross-run cache are never registered
    graft.core.Scratch.sweep()
  }
}
