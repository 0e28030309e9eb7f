package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph centrality over an edge list — the web-graph quality signal a
  * large corpus pipeline derives per domain/page before sampling (the
  * CommonCrawl-style "rank the hosts, keep the reputable tail" step).
  *
  * Spark shape: the graph is an edge DataFrame `(src, dst, w)`; PageRank
  * is the fixed-iteration power method expressed as one shuffle-join per
  * iteration. Everything scalar (node count, dangling mass) stays IN the
  * plan as 1-row frames crossed in — no driver collect, so the same code
  * runs at web-graph scale:
  *
  *  - the transition matrix (`w / out-weight`) is computed once and
  *    persisted — iterations reuse the cached, already-partitioned edges;
  *  - each iteration is `edges ⋈ pr on src` (co-partitioned hash join)
  *    followed by one `groupBy(dst)` partial-agg'd shuffle — the only
  *    corpus-scale exchange per iteration;
  *  - dangling mass (rank parked on sink nodes) is a one-scalar aggregate
  *    redistributed uniformly, keeping total rank at exactly 1 so the
  *    power method is a proper stochastic iteration;
  *  - ranks are O(|V|) ≪ O(|E|) rows; the rank side of the join is the
  *    small one and AQE broadcast-picks it when it fits.
  *
  * Long chains: each iteration extends lineage by one join. For the
  * fixed small iteration counts of the curation use (3–6) the single
  * plan is fine; beyond that lineage must be truncated (lazy
  * localCheckpoint, or a reliable checkpoint when the session has a
  * checkpoint dir — see `truncate`) — the
  * rank-style operators default to [[AutoCadence]], which applies the
  * measured cadence automatically past ~6 iterations so a plain
  * `pageRank(e, iters = 30)` gets the bounded-lineage shape.
  *
  * Reference analogue: none (the reference has no graph operators) —
  * this is part of the training-data-pipeline surface, like the dedup
  * and ANN families.
  */
object GraphOps {

  /** `checkpointEvery = AutoCadence` (the default) resolves to the
    * measured guidance (SCALE.md "Deep-iteration PageRank"): cadence 2 once the iteration
    * count exceeds ~6 (each deeper open round re-references the
    * previous frame and the recompute doubles per round — 30 open
    * PageRank rounds measured 44 s where cadence 2 runs 12 s), open
    * plan below (at 3–6 rounds the eager checkpoint costs more than
    * the recompute it saves). Pass 0 to force an open plan, n > 0 for
    * an explicit cadence.
    */
  val AutoCadence: Int = -1

  private def resolveCadence(checkpointEvery: Int, iters: Int): Int =
    if (checkpointEvery >= 0) checkpointEvery
    else if (iters > 6) 2
    else 0

  /** Lineage truncation for the iterative operators — LAZY (eager =
    * false), so constructing a deep-iteration plan stays a pure,
    * job-free operation and the cost lands with the caller's action
    * (review r11: the AutoCadence default must not make
    * `pageRank(e, 30)` fire ~14 jobs at call time). The returned
    * frame's analyzed plan is already the truncated LogicalRDD, so
    * plan-size boundedness is unchanged. RELIABLE checkpoints are
    * used when the session has `sc.setCheckpointDir` configured:
    * localCheckpoint blocks live only on executors and do NOT survive
    * executor loss/decommission — a dynamic-allocation cluster that
    * scales down mid-job would fail a local-checkpointed lineage
    * where the open plan would have recomputed, so durability is the
    * caller's one-line opt-in. */
  private def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  /** Weighted PageRank, `iters` power-method steps from the uniform
    * start. Input: edges `(srcCol, dstCol, wCol)`; parallel edges are
    * summed. Output: `(id, pr)`, one row per node (any endpoint of any
    * edge), with `sum(pr) = 1`.
    */
  def pageRank(
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w",
      checkpointEvery: Int = AutoCadence): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val cadence = resolveCadence(checkpointEvery, iters)
    val e = edges
      .groupBy(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .agg(sum(col(wCol).cast("double")).as("w"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().persist()
    val outw = e.groupBy("src").agg(sum("w").as("ow"))
    // row-stochastic transition edges, built once and reused every step
    val trans = e.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("p")).persist()
    val nRow = nodes.agg(count(lit(1)).cast("double").as("n"))
    val dangling = nodes.join(outw.select(col("src").as("id")), Seq("id"), "left_anti").persist()
    val teleport: Column = (lit(1.0) - lit(damping)) / col("n")

    var pr = nodes.crossJoin(nRow).select(col("id"), (lit(1.0) / col("n")).as("pr"))
    for (i <- 1 to iters) {
      val contrib = trans.join(pr, col("src") === col("id"))
        .groupBy("dst").agg(sum(col("p") * col("pr")).as("contrib"))
      val dangMass = dangling.join(pr, "id")
        .agg(coalesce(sum("pr"), lit(0.0)).as("dm"))
      pr = nodes.join(contrib, col("id") === col("dst"), "left")
        .crossJoin(nRow).crossJoin(dangMass)
        .select(col("id"),
          (teleport + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dm") / col("n"))).as("pr"))
      // NOT persisted per round, measured: pr is |V| rows and the next
      // round's double reference (contrib + dangling mass) recomputes
      // only cached-base joins — at gate scale caching the tiny frame
      // cost MORE than the recompute (g1 3.05 s -> 4.88 s persisted).
      // For iteration counts beyond ~10, the cadence's lineage
      // truncation also stops the cross-round recompute (lazy: the
      // materialization lands with the caller's action, see truncate).
      if (cadence > 0 && i % cadence == 0 && i < iters)
        pr = truncate(pr)
    }
    pr
  }

  /** Synchronous label propagation (community detection): every node
    * starts as its own community and each round adopts the label with
    * the largest total edge weight among its neighbors (ties → the
    * smallest label, so the fixed-iteration result is deterministic on
    * any engine and any partitioning — classic async LPA is famously
    * run-order dependent; this is the synchronous variant). The
    * curation uses: grouping near-dup clusters into page families,
    * collapsing browse graphs into session communities, and
    * domain-level spam-neighborhood detection.
    *
    * Edges are treated as UNDIRECTED (each directed edge votes both
    * ways); parallel edges sum; weights are integral so neighbor mass
    * is exact integer arithmetic, never an order-dependent float sum.
    * A self-loop votes for the node's own current label.
    *
    * Scale shape per round (the [[pageRank]] family): one hash join of
    * the label frame (O(|V|) rows, AQE broadcast when it fits) onto the
    * persisted undirected edges, one partial-agg'd exchange keyed by
    * (node, label), and a per-node top-1 window over label-MASS rows
    * (bounded by the node's distinct neighbor labels — never a
    * corpus-scale partition). Output: (id, lbl).
    */
  def labelPropagation(
      edges: DataFrame,
      iters: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w",
      checkpointEvery: Int = 0,
      undirected: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(iters >= 1, "iters must be >= 1")
    // `undirected`: an already-built (and caller-persisted)
    // undirectedWeighted view of the SAME edges — callers that also
    // score the labeling (g8: LPA + modularityMulti + singletons over
    // one graph) otherwise rebuild the corpus-scale undirected
    // exchange once per consumer (r16, §2.4)
    val und = undirected.getOrElse(
      undirectedWeighted(edges, srcCol, dstCol, wCol).persist())
    var lbl = und.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    for (i <- 1 to iters) {
      val mass = und.join(lbl.select(col("id").as("src"), col("lbl")), "src")
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(sum("w").as("m"))
      val top = Window.partitionBy("id").orderBy(col("m").desc, col("lbl").asc)
      lbl = mass.withColumn("_rn", row_number().over(top))
        .filter(col("_rn") === 1).select("id", "lbl")
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        lbl = truncate(lbl)
    }
    lbl
  }

  /** The undirected weighted edge view: each directed edge votes both
    * ways, parallel edges sum — the shared construction of
    * [[labelPropagation]] and [[modularity]] (one helper so the two
    * can never disagree about what "the graph" is).
    */
  def undirectedWeighted(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w"): DataFrame = {
    val dir = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), col(wCol).cast("long").as("w"))
    dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy("src", "dst").agg(sum("w").as("w"))
  }

  /** Weighted modularity of a community assignment (Newman): per
    * community, `Q_c = in_c/W2 − (deg_c/W2)²` where `W2 = Σw` over
    * the [[undirectedWeighted]] view, `in_c` its in-community mass
    * and `deg_c` its degree mass — the "did community detection find
    * real structure" score (Q ≈ 0: the partition is no better than
    * random wiring; each community's contribution shows WHICH groups
    * carry the structure). Per-MILLION contributions (per-mille is too coarse: a k-community
    * random partition scores ~ −1/k) compute in
    * DECIMAL(38,0) (in_c·W2 and deg_c² wrap a long once W2 ≳ 3e9 —
    * exactly web-scale graphs) and cast back exactly (|micro| ≤ 1e6).
    *
    * Returns (lbl, n_nodes, in_w, deg_w, contrib_micro, q_micro) —
    * one row per community, `q_micro` the whole-partition total on
    * every row.
    *
    * Scale shape: two label-keyed joins of the node-label frame onto
    * the undirected edges (the LPA per-round shape), two partial-agg'd
    * exchanges to community rows, 1-row W2/total frames broadcast.
    */
  def modularity(
      edges: DataFrame,
      labels: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w"): DataFrame =
    modularityMulti(edges, Seq(("", labels)), srcCol, dstCol, wCol)
      .drop("partition")

  /** [[modularity]] of SEVERAL partitions of the SAME graph in one
    * pass: the undirected edge build, the per-node degree aggregate
    * and the total edge mass W2 are partition-independent and shared
    * — the comparison use ("does LPA beat singletons / truth / last
    * week's labels") otherwise rebuilds the corpus-scale edge frame
    * once per candidate partition. Labels union with a `partition`
    * tag; every community aggregate and the in-community edge join
    * key on (partition, lbl), so per-partition results are exactly
    * [[modularity]]'s. Returns one row per (partition, community)
    * with `q_micro` the partition's total on each of its rows.
    */
  def modularityMulti(
      edges: DataFrame,
      parts: Seq[(String, DataFrame)],
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w",
      undirected: Option[DataFrame] = None): DataFrame = {
    require(parts.nonEmpty, "modularityMulti: need at least one partition")
    // duplicate tags would UNION two labelings into one corrupted
    // partition (double-counted degrees, cross-matched communities) —
    // silently wrong Q, so fail loudly instead
    require(parts.map(_._1).distinct.size == parts.size,
      s"modularityMulti: duplicate partition names in ${parts.map(_._1)}")
    // see labelPropagation's `undirected` note: same shared-view knob
    val und = undirected.getOrElse(
      undirectedWeighted(edges, srcCol, dstCol, wCol).persist())
    // labels persisted: referenced three times below (degree join + both
    // endpoint joins), and the caller's label frames often carry an
    // expensive lineage (a full LPA run) that would re-derive each time
    val lbl = parts.map { case (name, labels) =>
      labels.select(lit(name).as("partition"), col("id"), col("lbl"))
    }.reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w2 = und.agg(sum(col("w")).as("_w2")) // 1 row, same for every partition
    // per-node degree is label-independent: build once, fan out per label
    val deg = und.groupBy(col("src").as("id")).agg(sum(col("w")).as("_d"))
      .join(lbl, Seq("id"))
      .groupBy(col("partition"), col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("_d")).as("deg_w"))
    val inw = und
      .join(lbl.select(col("id").as("src"), col("partition"), col("lbl").as("_ls")),
        Seq("src"))
      .join(lbl.select(col("id").as("dst"), col("partition"), col("lbl").as("_ld")),
        Seq("dst", "partition"))
      .filter(col("_ls") === col("_ld"))
      .groupBy(col("partition"), col("_ls").as("lbl")).agg(sum(col("w")).as("in_w"))
    // truncating integral division (`div`), NOT floor: DuckDB's `//`
    // truncates toward zero on negatives, and contributions go
    // negative whenever deg² > in·W2 — floor would diverge by one
    val per = deg.join(inw, Seq("partition", "lbl"), "left")
      .withColumn("in_w", coalesce(col("in_w"), lit(0L)))
      .crossJoin(broadcast(w2))
      .withColumn("contrib_micro",
        expr("CAST(((CAST(in_w AS DECIMAL(38,0)) * _w2 " +
          "- CAST(deg_w AS DECIMAL(38,0)) * deg_w) * 1000000) div " +
          "(CAST(_w2 AS DECIMAL(38,0)) * _w2) AS BIGINT)"))
    // per is community-rows-sized and referenced twice (total + output)
    per.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = per.groupBy(col("partition")).agg(
      expr("CAST((sum(CAST(in_w AS DECIMAL(38,0)) * _w2 " +
        "- CAST(deg_w AS DECIMAL(38,0)) * deg_w) * 1000000) div " +
        "(CAST(max(_w2) AS DECIMAL(38,0)) * max(_w2)) AS BIGINT)")
        .as("q_micro")) // one row per partition
    per.join(broadcast(total), Seq("partition"))
      .select(col("lbl"), col("n_nodes"), col("in_w"), col("deg_w"),
        col("contrib_micro"), col("q_micro"), col("partition"))
  }

  /** Bounded k-core peeling: iteratively drop nodes whose UNDIRECTED
    * simple-graph degree is below `k`, `rounds` times — the density
    * skeleton that isolates mutually-reinforcing neighborhoods
    * (bot/spam rings, tightly-coupled near-dup families) where degree
    * alone over-counts chains and stars: a star center has huge degree
    * but dies in one peel once its leaves (degree 1) go. Returns the
    * surviving (id, degree) with degree measured in the surviving
    * subgraph. `rounds` bounds the iteration deterministically (an
    * oracle replays it exactly); a true fixpoint needs at most |V|
    * rounds, and in practice the peel converges in a handful — pass
    * `rounds` generously and check the tail (a round that removes
    * nothing is free: the semi-joins pass everything through).
    *
    * Scale shape (the g1/g4 discipline): parallel edges collapse once
    * up front; each round is one partial-agg'd degree exchange + two
    * semi-joins on node ids — edge rows shuffle by endpoint, nothing
    * ever leaves the cluster; `checkpointEvery` truncates the growing
    * join lineage on long peels.
    */
  def kCore(
      edges: DataFrame,
      k: Int,
      rounds: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      checkpointEvery: Int = 0): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    require(rounds >= 1, "kCore: rounds must be >= 1")
    val dir = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    var und = dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    for (i <- 1 to rounds) {
      val keep = und.groupBy("src").agg(count(lit(1)).as("_deg"))
        .filter(col("_deg") >= k).select("src")
      val next = und
        .join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        // persist EVERY round: a peel references its predecessor three
        // times (degree agg + both endpoint semi-joins), so unpersisted
        // rounds recompute 3^i-fold — measured 6.9 s → 2.4 s at gate
        // scale for 3 rounds. The edge frame shrinks monotonically;
        // harness clearCache releases the chain.
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      und =
        if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < rounds)
          truncate(next)
        else next
    }
    und.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
  }

  /** Personalized (topic-sensitive) PageRank: teleport and dangling
    * mass return to the SEED set (uniformly) instead of all nodes —
    * rank concentrates around the seeds, the "score everything by
    * proximity to this trusted set" primitive (TrustRank-style seed
    * propagation for corpus quality). Same per-step cost and plan
    * shape as [[pageRank]]; the seed indicator is one extra metadata
    * column on the node frame. Nodes unreachable from the seeds get
    * rank 0 (exactly — no baseline teleport). `sum(pr) = 1`.
    */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w",
      seedCol: String = "id",
      checkpointEvery: Int = AutoCadence): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val cadence = resolveCadence(checkpointEvery, iters)
    val e = edges
      .groupBy(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .agg(sum(col(wCol).cast("double")).as("w"))
    val ids = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    // node frame carries the teleport vector: 1/|seeds ∩ nodes| on
    // seeds, 0 elsewhere — built once, cached, reused every step
    val seedIds = seeds.select(col(seedCol).cast("long").as("id")).distinct()
    val flagged = ids.join(seedIds.withColumn("_s", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("_s"), lit(0L)).as("_s")).persist()
    // ONE aggregate job both validates and supplies the teleport
    // denominator: an empty seed∩nodes intersection must FAIL FAST
    // (ns=0 would turn the division into SQL NULLs and the whole rank
    // vector would silently come back all-NULL), and a driver scalar
    // here is cheaper than the 1-row-frame crossJoin it replaces
    val nSeedsVal = flagged.agg(coalesce(sum("_s"), lit(0L))).head.getLong(0)
    require(nSeedsVal > 0,
      "personalizedPageRank: no seed id appears in the edge set's nodes")
    val nodes = flagged
      .select(col("id"), (col("_s").cast("double") / lit(nSeedsVal.toDouble)).as("t"))
      .persist()
    val outw = e.groupBy("src").agg(sum("w").as("ow"))
    val trans = e.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("p")).persist()
    val dangling = nodes.join(outw.select(col("src").as("id")), Seq("id"), "left_anti")
      .select(col("id")).persist()

    var pr = nodes.select(col("id"), col("t").as("pr"))
    for (i <- 1 to iters) {
      val contrib = trans.join(pr, col("src") === col("id"))
        .groupBy("dst").agg(sum(col("p") * col("pr")).as("contrib"))
      val dangMass = dangling.join(pr, "id")
        .agg(coalesce(sum("pr"), lit(0.0)).as("dm"))
      pr = nodes.join(contrib, col("id") === col("dst"), "left")
        .crossJoin(dangMass)
        .select(col("id"),
          ((lit(1.0) - lit(damping)) * col("t") + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dm") * col("t"))).as("pr"))
      // not persisted per round — same measured trade-off as pageRank
      if (cadence > 0 && i % cadence == 0 && i < iters)
        pr = truncate(pr)
    }
    pr
  }

  /** HITS hubs & authorities (Kleinberg 1999), `iters` mutual-
    * reinforcement steps with L1 normalization: an authority is pointed
    * to by good hubs, a hub points to good authorities — the
    * directional complement to PageRank (a page that only LINKS well
    * ranks as hub, not authority; curation uses the split to separate
    * directory/spam-hub pages from content pages). Per half-step cost
    * is one edge hash join + one partial-agg'd shuffle, normalizers
    * ride as 1-row frames — the exact [[pageRank]] plan shape, twice
    * per iteration. Returns (id, s_hub, s_auth), each score column summing
    * to 1.
    */
  def hits(
      edges: DataFrame,
      iters: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w",
      checkpointEvery: Int = AutoCadence): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val cadence = resolveCadence(checkpointEvery, iters)
    val e = edges
      .groupBy(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .agg(sum(col(wCol).cast("double")).as("w")).persist()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().persist()
    var h = nodes.select(col("id"), lit(1.0).as("h"))
    var a = nodes.select(col("id"), lit(0.0).as("a"))
    for (i <- 1 to iters) {
      // raw-score frames not persisted, measured: at gate scale the
      // cache overhead beats the recompute (g3 3.3 s -> 8.2 s when
      // persisted); checkpointEvery handles deep iteration counts
      val aRaw = e.join(h, col("src") === col("id"))
        .groupBy("dst").agg(sum(col("w") * col("h")).as("ar"))
      val aTot = aRaw.agg(sum("ar").as("at"))
      a = nodes.join(aRaw, col("id") === col("dst"), "left").crossJoin(aTot)
        .select(col("id"), (coalesce(col("ar"), lit(0.0)) / col("at")).as("a"))
      val hRaw = e.join(a, col("dst") === col("id"))
        .groupBy("src").agg(sum(col("w") * col("a")).as("hr"))
      val hTot = hRaw.agg(sum("hr").as("ht"))
      h = nodes.join(hRaw, col("id") === col("src"), "left").crossJoin(hTot)
        .select(col("id"), (coalesce(col("hr"), lit(0.0)) / col("ht")).as("h"))
      if (cadence > 0 && i % cadence == 0 && i < iters) {
        h = truncate(h); a = truncate(a)
      }
    }
    h.join(a, "id").select(col("id"), col("h").as("s_hub"), col("a").as("s_auth"))
  }

  /** Exact triangle participation counts by degree-ordered
    * orientation (the compact-forward shape): every undirected edge
    * is kept once, directed from its (degree, id)-smaller endpoint to
    * the larger; a wedge joins two out-edges at a common tail (heads
    * kept in orientation order), and an equi-join against the
    * oriented edge set closes it. Each triangle is found exactly
    * once — at its orientation-minimal vertex.
    *
    * The orientation is the scale property, not a tie-break nicety:
    * it bounds every out-degree by O(√m), so the wedge frame cannot
    * blow up at a hub the way a naive neighbor self-join does on a
    * power-law graph (a degree-d hub contributes d² wedges unoriented
    * but only O(m) across ALL nodes oriented). Plan: three equi-joins
    * and one keyed count — no nested loop anywhere.
    *
    * Input is any directed/undirected edge list; self-loops drop and
    * duplicate/parallel/reversed edges collapse first. Output
    * `(node, n_tri)` for every node in at least one triangle.
    */
  def triangleCount(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val pairs = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"))
      .distinct()
    val deg = pairs.select(col("lo").as("id"))
      .unionAll(pairs.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // lo < hi always, so on a degree tie the lower id is the smaller
    // endpoint in (deg, id) order
    val o = pairs
      .join(deg.select(col("id").as("lo"), col("deg").as("dlo")), "lo")
      .join(deg.select(col("id").as("hi"), col("deg").as("dhi")), "hi")
      .select(
        when(col("dlo") <= col("dhi"), col("lo")).otherwise(col("hi")).as("src"),
        when(col("dlo") <= col("dhi"), col("hi")).otherwise(col("lo")).as("dst"),
        when(col("dlo") <= col("dhi"), col("dhi")).otherwise(col("dlo")).as("ddst"))
      .persist()
    val wedges = o.select(col("src"), col("dst").as("b"), col("ddst").as("db"))
      .join(o.select(col("src"), col("dst").as("c"), col("ddst").as("dc")),
        Seq("src"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
    // both wedge heads are orientation-greater than the tail, so the
    // closing edge — if present — is oriented b → c exactly
    val tri = wedges
      .join(o.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
      .select(col("src").as("ta"), col("b"), col("c"))
    tri.select(explode(array(col("ta"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Transition edge list from an event stream: consecutive events per
    * `keyCol` (ordered by `tsCol`, then `tieCols`) become one directed
    * edge `prev node → node`, weighted by occurrence count. The node is
    * any long-valued column expression (page id, domain hash, …).
    */
  def transitionEdges(
      events: DataFrame,
      keyCol: String,
      node: Column,
      tsCol: String,
      tieCols: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy((col(tsCol) +: tieCols.map(col)): _*)
    events.select(Seq(col(keyCol), col(tsCol), node.cast("long").as("node")) ++
        tieCols.map(col): _*)
      .withColumn("prev", lag(col("node"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("src"), col("node").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
  }
}
