package graft.tools

/** Cross-configuration invariance probe for the driver-red rows
  * (VERDICT r10 task 1 follow-through): run named catalog entries
  * under a matrix of session configs a foreign driver environment
  * could plausibly differ in — shuffle partitions, AQE, forced
  * per-bucket file splits (`maxRecordsPerFile`), whole-stage codegen —
  * and compare the ORDER-INDEPENDENT row-hash aggregate (Verify's
  * canonical rendering + FNV-64, summed and xor'd) across every cell.
  *
  * `runMain graft.tools.InvarianceSweep [sfDir] [query...]` — defaults
  * to the rows that have ever gone driver-red plus the footer-audit
  * family that shares their write-then-introspect shape. Exits nonzero
  * and names the (query, config) cells on any divergence, so the sweep
  * doubles as a regression receipt: a hash that is stable across THESE
  * axes leaves very little room for an environment-only red.
  *
  * Each cell runs in a fresh `SparkSession.newSession()` (shared
  * SparkContext, isolated SQL conf) — the same isolation a driver's
  * differently-tuned session has.
  */
object InvarianceSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // "ALL" sweeps the entire catalog against baseline + one hostile
    // config (every axis flipped at once) — the whole-gate flake
    // receipt; the default list is the focused 6-config matrix over
    // the rows that have ever gone driver-red
    val sweepAll = args.length > 1 && args(1) == "ALL"
    val queries =
      if (sweepAll) graft.SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1) args.drop(1).toSeq
      else Seq("z6_compaction_plan", "a11_session_window", "z4_file_stats",
        "z5_partition_skew", "z7_skipping_audit", "z8_zorder_skipping",
        "z9_layout_advisor", "w4_twap", "a9_time_bucket",
        // ever-DIVERGED in a sweep (r12 hostile_env caught their cutoff
        // literals riding the JVM default timezone — fixed, now pinned)
        "t3_state_when_filter", "t9_time_gate")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // 32 shuffle partitions: the baseline cell's value, so the base
    // session matches the cell every other cell is compared against
    val base = graft.core.GraftSession.build(s"local[$cpus]", "graft-invariance-sweep", 32)

    val allConfigs: Seq[(String, Map[String, String])] = Seq(
      "baseline_p32_aqe" -> Map(
        "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.adaptive.enabled" -> "true"),
      "p4" -> Map(
        "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.adaptive.enabled" -> "true"),
      "p200" -> Map(
        "spark.sql.shuffle.partitions" -> "200",
        "spark.sql.adaptive.enabled" -> "true"),
      "no_aqe" -> Map(
        "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.adaptive.enabled" -> "false"),
      // the r10 z6 hypothesis: an environment that splits one bucket
      // into many physical files (bucketStats must make this a no-op)
      "split_files" -> Map(
        "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.files.maxRecordsPerFile" -> "1000"),
      "interpreted" -> Map(
        "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.codegen.wholeStage" -> "false"))
    val hostile = "hostile_p200_noaqe_split_interp" -> Map(
      "spark.sql.shuffle.partitions" -> "200",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.files.maxRecordsPerFile" -> "1000",
      "spark.sql.codegen.wholeStage" -> "false")
    // r11 verdict task 4 — the UNSWEPT environment axes: JVM default
    // timezone and default locale. These leak through any code path
    // that bypasses the session conf (SimpleDateFormat, String.format,
    // toUpperCase — the Turkish-İ trap turns 'i'.toUpperCase into 'İ'
    // under tr-TR, silently changing any locale-sensitive
    // canonicalization). `spark.sql.session.timeZone` itself is NOT an
    // axis: GraftSession pins it to UTC for Verify/Bench, so no
    // driver run can differ on it — and flipping it would legitimately
    // move day-truncation boundaries (semantics, not environment).
    // The JVM flips are marked with jvm.* pseudo-keys, applied around
    // the cell and restored after. Caveat stated honestly: formatters
    // already initialized by earlier cells may cache the old defaults,
    // so this is a strictly weaker receipt than a fresh
    // -Duser.timezone/-Duser.language JVM — but any red it CAN produce
    // is a real locale/timezone leak.
    val hostileEnv = "hostile_env_nytz_trlocale" -> Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "jvm.timezone" -> "America/New_York",
      "jvm.locale" -> "tr-TR")
    val configs =
      if (sweepAll) Seq(allConfigs.head, hostile, hostileEnv)
      else allConfigs :+ hostileEnv

    // rows whose output carries genuinely float-accumulated columns
    // (the PlanAuditSpec float-sum allowlist's iterative members): a
    // partition-count change legally reorders their double sums, the
    // driver compare covers them with 1e-9 relative tolerance, and the
    // full-catalog sweep measured the divergence to be EXACTLY this
    // set — every integer-exact row is bit-invariant
    val toleranceClass = Set("g1_pagerank", "g2_personalized_pagerank", "g3_hits")

    var failed = List.empty[String]
    queries.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown catalog entry: $name"))
      val cells = configs.map { case (label, conf) =>
        val s = base.newSession()
        conf.foreach { case (k, v) =>
          if (!k.startsWith("jvm.")) s.conf.set(k, v) }
        val prevTz = java.util.TimeZone.getDefault
        val prevLoc = java.util.Locale.getDefault
        conf.get("jvm.timezone").foreach(tz =>
          java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(tz)))
        conf.get("jvm.locale").foreach(l =>
          java.util.Locale.setDefault(java.util.Locale.forLanguageTag(l)))
        try {
          // THE shared signature implementation (Verify.rowHashesOf):
          // canonical rendering, sorted-name columns, NUL row separator —
          // same axis and same bytes as the committed manifests
          val (n, sum, xor) = graft.Verify.sigOf(
            graft.Verify.rowHashesOf(fn(s, sfDir)))
          s.catalog.clearCache()
          (label, n, java.lang.Long.toHexString(sum),
            java.lang.Long.toHexString(xor))
        } finally {
          java.util.TimeZone.setDefault(prevTz)
          java.util.Locale.setDefault(prevLoc)
        }
      }
      val distinctSigs = cells.map(c => (c._2, c._3, c._4)).distinct
      val verdict =
        if (distinctSigs.size == 1) "INVARIANT"
        else if (toleranceClass(name)) "FLOAT-TOLERANCE CLASS (divergence expected)"
        else "DIVERGED"
      if (distinctSigs.size != 1 && !toleranceClass(name)) failed ::= name
      println(s"$name: $verdict rows=${cells.head._2} over ${cells.size} configs")
      if (distinctSigs.size != 1)
        cells.foreach { case (l, n, su, x) =>
          println(f"  $l%-18s rows=$n sum=$su xor=$x") }
    }
    println(if (failed.isEmpty) s"SWEEP_OK (${queries.size} queries x ${configs.size} configs)"
      else s"SWEEP_DIVERGED: ${failed.reverse.mkString(", ")}")
    base.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
