package graft.state

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The state layer: last-tick-per-key accumulation and the query surface
  * over it (reference operators T1-T7, SURVEY.md §2.3).
  *
  * Design for scale: `lastByKey` is ONE shuffle with map-side partial
  * aggregation (`max_by(struct(*), seq)` — hash aggregate, combiner
  * collapses duplicates per partition before the exchange). A window
  * `row_number` formulation would shuffle + full sort; avoided. The
  * reference buffers upserts and bulk-flushes into DuckDB
  * (state.py:453-487); Spark's micro-batch/hash-aggregate model gives
  * the same collapsing natively.
  *
  * Arrival order: csp's engine is totally ordered; Spark is not. Every
  * channel therefore carries an explicit monotonic `seq` column assigned
  * at ingest (single writer per channel) — load-bearing for T1/T5
  * determinism (SURVEY.md §7.5.3).
  */
object StateOps {

  /** Key column may be a dotted path into nested structs; an attribute
    * missing from the schema keys the whole stream under NULL
    * (reference channels.py:704-717: missing keyby attr → key None).
    */
  private def keyCol(df: DataFrame, key: String): Column = {
    val exists = QueryTranslator.resolveType(df.schema, key).isDefined
    if (exists) col(key) else lit(null)
  }

  /** Sanitized output alias for a (possibly dotted) key. */
  def keyAlias(key: String): String = key.replace('.', '_')

  /** T1 — accumulate last tick per unique keyby tuple
    * (reference channels.py:696-739, state.py:649-660).
    * Returns the full last row per key group.
    */
  def lastByKey(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    require(keys.nonEmpty, "keyby requires at least one attribute")
    // max(struct(seq, rest…)) instead of max_by(struct, seq): `seq` is
    // unique per channel so the orderings agree, but Max is a
    // declarative aggregate (codegen'd hash agg) while MaxBy is a
    // typed-imperative one (ObjectHashAggregate, sort-fallback risk at
    // high group counts) — measured ~30% faster at 160k+ groups in a
    // one-JVM A/B (the figure is recorded only here).
    val rest = df.columns.filterNot(_ == seqCol)
    val packed = struct((col(seqCol) +: rest.toIndexedSeq.map(col)): _*)
    val groups = keys.map(k => keyCol(df, k).as(keyAlias(k)))
    // keep the group-alias columns that aren't plain row columns
    // (dotted paths, missing attrs) — scan()/query() order by them
    val extraKeyCols = keys.map(keyAlias).distinct.filterNot(df.columns.contains)
    df.groupBy(groups: _*)
      .agg(max(packed).as("_last"))
      .select(df.columns.toIndexedSeq.map(c => col(s"_last.$c")) ++ extraKeyCols.map(col): _*)
  }

  /** [[lastByKey]] for HIGH-CARDINALITY key spaces whose result will be
    * key-ordered anyway (the T2/T3 scan contract): ONE range exchange
    * of the raw ticks + one in-partition sort serve BOTH the aggregate
    * (RangePartitioning on the group keys satisfies the aggregation's
    * ClusteredDistribution) and the scan's global ORDER BY (the final
    * Sort/Exchange are elided against the same partitioning/ordering).
    *
    * vs [[lastByKey]]: that shape partial-aggregates before a hash
    * exchange — the right plan when groups ≪ rows (t1: 1.5 k users
    * over 1 M events, the combiner collapses 99.9% of the shuffle).
    * When keys are nearly unique per row the combiner collapses almost
    * nothing and the plan pays sort + partial agg + hash exchange +
    * sort + final agg + range exchange + sort; this variant pays range
    * exchange + sort + agg. r15 A/B at sf0.1 (t3_state_when_filter,
    * 417 k groups / 600 k rows): 2.84 s → see OPTIMIZATION_r15.md.
    * Results identical (same aggregate, same total order — both
    * oracle-gated); the 100 TB guidance is the same split: keyby
    * cardinality ~rows → this shape, ≪ rows → [[lastByKey]].
    */
  def lastByKeyRanged(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    require(keys.nonEmpty, "keyby requires at least one attribute")
    require(keys.forall(df.columns.contains),
      "lastByKeyRanged supports plain existing key columns only " +
        "(dotted/missing keys take the lastByKey path)")
    val rest = df.columns.filterNot(_ == seqCol)
    val packed = struct((col(seqCol) +: rest.toIndexedSeq.map(col)): _*)
    val order = keys.map(col(_).asc_nulls_first)
    val keySet = keys.toSet
    // group on the RAW key attributes (no alias) and project them
    // through as themselves: the grouping attrs keep the pre-exchange
    // expression ids, so the aggregate's output still satisfies the
    // RangePartitioning/ordering and the scan's ORDER BY plans no new
    // Exchange/Sort. The winner's key fields equal the group key by
    // definition, so the projection is value-identical to lastByKey's.
    df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .groupBy(keys.map(col): _*)
      .agg(max(packed).as("_last"))
      .select(df.columns.toIndexedSeq.map(c =>
        if (keySet(c)) col(c) else col(s"_last.$c").as(c)): _*)
  }

  /** T2 — full state scan ordered by key columns ASC NULLS FIRST
    * (reference state.py:284-299: DuckDB `ORDER BY keys ASC NULLS
    * FIRST`). `tieBreak` columns make the order total so results are
    * byte-deterministic.
    */
  def scan(state: DataFrame, keys: Seq[String], tieBreak: Seq[String] = Nil): DataFrame =
    state.orderBy((keys ++ tieBreak).map(k => col(k).asc_nulls_first): _*)

  /** T3 — conjunctive filtered state query (reference state.py:339-376):
    * filters applied to the *accumulated* state, then T2's ordering.
    */
  def query(
      state: DataFrame,
      keys: Seq[String],
      q: StateQuery,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val filtered = QueryTranslator.toColumn(state.schema, q) match {
      case Some(cond) => state.filter(cond)
      case None       => state
    }
    scan(filtered, keys, tieBreak)
  }

  /** T1+T3 in one shot over a raw tick stream. */
  def queryTicks(
      ticks: DataFrame,
      keys: Seq[String],
      seqCol: String,
      q: StateQuery = StateQuery(),
      tieBreak: Seq[String] = Nil): DataFrame =
    query(lastByKey(ticks, keys, seqCol), keys.map(keyAlias), q, tieBreak)

  /** T5 — most recent tick of a channel (reference channels.py:747-787);
    * for a dict basket pass the basket key column to get last-per-key.
    */
  def last(df: DataFrame, seqCol: String, basketKey: Option[String] = None): DataFrame =
    basketKey match {
      case Some(k) => lastByKey(df, Seq(k), seqCol)
      case None    => df.orderBy(col(seqCol).desc).limit(1)
    }

  /** T7 — lookup by id (reference utils/struct/base.py:26-94). At scale
    * this is a parquet scan with the predicate pushed to the reader; the
    * serving layer additionally keeps an in-memory map for O(1) lookups
    * (graft.streaming.ChannelRuntime).
    */
  def lookup(df: DataFrame, idCol: String, id: String): DataFrame =
    df.filter(col(idCol) === lit(id))

  /** T9 — block-until / start-writing time gate
    * (reference channels.py:455-470: `csp.times(e) >= t` filter).
    */
  def timeGate(df: DataFrame, tsCol: String, notBefore: java.sql.Timestamp): DataFrame =
    df.filter(col(tsCol) >= lit(notBefore))
}
