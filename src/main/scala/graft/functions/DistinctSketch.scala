package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.{ColumnBridge, TypeBridge}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType}

/** Mergeable distinct-count sketch: exact value set up to capacity
  * `k`, HyperLogLog registers above it (Flajolet et al. 2007, the
  * `approx_count_distinct` structure — rebuilt here with an explicit
  * exact tier and deterministic degrade).
  *
  * Contract tiers (the [[QSketch]] / [[HHSketch]] pattern):
  *  - distinct ≤ k: the sketch holds every distinct value — `estimate`
  *    is EXACT and independent of partial-merge order. This is the
  *    gate tier: the st2b oracle compares against DuckDB's exact
  *    `count(DISTINCT …)`.
  *  - distinct > k: the set degrades to 2^p HLL registers (relative
  *    error ~1.04/√2^p ≈ 0.8% at the default p=14). Registers are a
  *    pointwise MAX over per-value hashes, so the estimate depends
  *    only on the value SET — deterministic under any merge order,
  *    including mixed exact/HLL merges.
  *
  * 100 TB shape: fixed-size partial state per (group × partition),
  * map-side partials, register-max merge — the distinct count of N
  * columns rides ONE fused scan instead of N column-pruned distinct
  * aggregates ([[graft.pipeline.Curation.numericProfileSketch]]).
  */
/** Primitive open-addressing long set (linear probing, power-of-2
  * table, 0 tracked out-of-band as the empty sentinel). The exact
  * tier round-trips through the streaming state store EVERY micro
  * batch at up to 2^18 values per column — a boxed
  * `mutable.HashSet[Long]` there pays an allocation + unboxing per
  * value per batch; this is the round-8 st7s serde cut (A/B in
  * SCALE.md).
  */
private[functions] final class LongSet(initialCapacity: Int = 16) extends Serializable {
  private var table = new Array[Long]({
    // smallest power of two that keeps `initialCapacity` entries
    // under the 0.6 load factor (no growth during a presized load)
    val target = math.max(initialCapacity, 16).toLong * 5 / 3 + 1
    var cap = 16
    while (cap < target) cap <<= 1
    cap
  })
  private var used = 0 // non-zero slots
  private var hasZero = false

  def size: Int = used + (if (hasZero) 1 else 0)

  def add(v: Long): Unit =
    if (v == 0L) hasZero = true
    else {
      if ((used + 1) * 5 > table.length * 3) grow() // load factor 0.6
      val mask = table.length - 1
      var i = (java.lang.Long.hashCode(v * 0x9e3779b97f4a7c15L)) & mask
      while (table(i) != 0L && table(i) != v) i = (i + 1) & mask
      if (table(i) == 0L) { table(i) = v; used += 1 }
    }

  def foreach(f: Long => Unit): Unit = {
    if (hasZero) f(0L)
    var i = 0
    while (i < table.length) {
      if (table(i) != 0L) f(table(i))
      i += 1
    }
  }

  /** Canonical (sorted) primitive image — the serialized form. */
  def toSortedArray: Array[Long] = {
    val out = new Array[Long](size)
    var n = 0
    if (hasZero) { out(0) = 0L; n = 1 }
    var i = 0
    while (i < table.length) {
      if (table(i) != 0L) { out(n) = table(i); n += 1 }
      i += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  private def grow(): Unit = {
    val old = table
    table = new Array[Long](old.length << 1)
    val mask = table.length - 1
    var i = 0
    while (i < old.length) {
      val v = old(i)
      if (v != 0L) {
        var j = (java.lang.Long.hashCode(v * 0x9e3779b97f4a7c15L)) & mask
        while (table(j) != 0L) j = (j + 1) & mask
        table(j) = v
      }
      i += 1
    }
  }
}

final class DSketch(val k: Int, val p: Int) extends Serializable {
  require(k >= 1, "exact-tier capacity must be >= 1")
  require(p >= 4 && p <= 18, s"HLL precision $p out of [4, 18]")

  private[functions] var exact: LongSet = new LongSet()
  private[functions] var registers: Array[Byte] = null // null = exact tier

  def isExact: Boolean = registers == null
  private def m: Int = 1 << p

  /** splitmix64 finalizer — a full-avalanche 64-bit mix, so register
    * index and rank bits are independent enough for HLL's analysis. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def addToRegisters(v: Long): Unit = {
    val h = mix(v)
    val idx = (h >>> (64 - p)).toInt
    val rest = h << p
    // rank = leading zeros of the remaining bits + 1, capped by width
    val rank = (java.lang.Long.numberOfLeadingZeros(rest | (1L << (p - 1))) + 1)
      .min(64 - p + 1).toByte
    if (rank > registers(idx)) registers(idx) = rank
  }

  private def degrade(): Unit = {
    registers = new Array[Byte](m)
    exact.foreach(addToRegisters)
    exact = null
  }

  def add(v: Long): Unit =
    if (registers != null) addToRegisters(v)
    else {
      exact.add(v)
      if (exact.size > k) degrade()
    }

  def mergeWith(o: DSketch): Unit = {
    require(o.k == k && o.p == p,
      s"cannot merge sketches of shape ($k,$p) and (${o.k},${o.p})")
    (registers == null, o.registers == null) match {
      case (true, true) =>
        o.exact.foreach(exact.add)
        if (exact.size > k) degrade()
      case (true, false) =>
        val ex = exact
        registers = o.registers.clone()
        exact = null
        ex.foreach(addToRegisters)
      case (false, true) => o.exact.foreach(addToRegisters)
      case (false, false) =>
        var i = 0
        while (i < m) {
          if (o.registers(i) > registers(i)) registers(i) = o.registers(i)
          i += 1
        }
    }
  }

  /** Distinct-count estimate: exact cardinality in the exact tier,
    * bias-corrected HLL otherwise (linear counting in the small range,
    * which an exact-tier degrade at k ≪ m can land in).
    */
  def estimate: Long =
    if (registers == null) exact.size.toLong
    else {
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      var invSum = 0.0
      var zeros = 0
      var i = 0
      while (i < m) {
        invSum += java.lang.Math.scalb(1.0, -registers(i).toInt)
        if (registers(i) == 0) zeros += 1
        i += 1
      }
      val e = alpha * m.toDouble * m.toDouble / invSum
      val corrected =
        if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
      math.rint(corrected).toLong
    }

  /** Wire form for shuffle/state-store ROUND-TRIPS (r16, guide §1.2
    * per-task work): exact-tier values in table-iteration order — no
    * sort. st7s round-trips up to 2^18 values per column per
    * micro-batch hop, and the canonical sort was ~75% of serialize
    * time (OPTIMIZATION_r16.md: 13 ms sorted vs ~3 ms raw at 139k
    * values) for bytes nobody compares. The PERSISTABLE image stays
    * [[canonicalSerialize]] (one byte image per value set — the
    * emitState contract st7/st10 write to parquet).
    */
  def serialize: Array[Byte] =
    if (registers == null) {
      val buf = java.nio.ByteBuffer.allocate(1 + 4 + 4 + 4 + exact.size * 8)
      buf.put(2: Byte).putInt(k).putInt(p).putInt(exact.size)
      exact.foreach(v => buf.putLong(v))
      buf.array()
    } else {
      val buf = java.nio.ByteBuffer.allocate(1 + 4 + 4 + m)
      buf.put(1: Byte).putInt(k).putInt(p).put(registers)
      buf.array()
    }

  /** Canonical bytes: exact tier sorts its value set, so a given
    * value SET has exactly ONE byte image — the persistable partial
    * for incremental profile maintenance (emitState). HLL registers
    * are already canonical (pointwise max over the value set).
    */
  def canonicalSerialize: Array[Byte] =
    if (registers == null) {
      val vals = exact.toSortedArray
      val buf = java.nio.ByteBuffer.allocate(1 + 4 + 4 + 4 + vals.length * 8)
      buf.put(0: Byte).putInt(k).putInt(p).putInt(vals.length)
      vals.foreach(buf.putLong)
      buf.array()
    } else serialize
}

object DSketch {
  def deserialize(bytes: Array[Byte]): DSketch = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val tier = buf.get()
    val s = new DSketch(buf.getInt, buf.getInt)
    // tiers 0 (canonical sorted) and 2 (round-trip, table order) are
    // the same exact-tier payload — a value list; order never matters
    // on load
    if (tier == 0 || tier == 2) {
      val n = buf.getInt
      s.exact = new LongSet(n + 1) // presized: no growth during load
      var i = 0
      while (i < n) { s.exact.add(buf.getLong); i += 1 }
    } else {
      s.registers = new Array[Byte](1 << s.p)
      buf.get(s.registers)
      s.exact = null
    }
    s
  }
}

/** `graft_distinct_sketch(col[, k[, p]])` — typed imperative aggregate
  * over a double-coerced column (every numeric profiles through its
  * double image; bigints below 2^53 stay injective, the columns a
  * numeric profile touches). Nulls are skipped — `count(DISTINCT)`
  * semantics; -0.0 normalizes to 0.0 and NaNs to the canonical NaN so
  * bit-pattern aliases of SQL-equal values count once.
  */
case class DistinctSketchAgg(
    child: Expression,
    k: Int,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    emitState: Boolean = false)
  extends TypedImperativeAggregate[DSketch] with UnaryLike[Expression]
  with ImplicitCastInputTypes {

  override def inputTypes: Seq[TypeBridge.AbstractDataType] = Seq(DoubleType)

  override def createAggregationBuffer(): DSketch = new DSketch(k, p)

  override def update(b: DSketch, input: InternalRow): DSketch = {
    val v = child.eval(input)
    if (v != null) {
      val d0 = v.asInstanceOf[Double]
      val d = if (d0 == 0.0) 0.0 else if (d0 != d0) Double.NaN else d0
      b.add(java.lang.Double.doubleToLongBits(d))
    }
    b
  }

  override def merge(b: DSketch, o: DSketch): DSketch = { b.mergeWith(o); b }

  // emitState: the sketch's CANONICAL bytes (exact tier sorts its
  // value set, so a given value SET has ONE byte image) — the
  // persistable partial for incremental profile maintenance. The
  // shuffle/state round-trip below stays on the unsorted wire form.
  override def eval(b: DSketch): Any =
    if (emitState) b.canonicalSerialize else b.estimate

  override def serialize(b: DSketch): Array[Byte] = b.serialize
  override def deserialize(bytes: Array[Byte]): DSketch = DSketch.deserialize(bytes)

  override def dataType: DataType = if (emitState) BinaryType else LongType
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(o: Int): DistinctSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DistinctSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): DistinctSketchAgg =
    copy(child = newChild)
  override def prettyName: String = "graft_distinct_sketch"
}

/** `graft_sketch_merge(stateCol)` — folds serialized [[DSketch]] states
  * (the `emitState` output, round-tripped through parquet BINARY) back
  * into one sketch and evaluates the distinct-count estimate. This is
  * the finalize side of incremental profile maintenance: profile 100 TB
  * once, persist the per-column states, then each daily delta is ONE
  * scan of the delta plus a metadata-sized state merge — never a
  * re-scan of the base corpus.
  */
case class SketchMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DSketch] with UnaryLike[Expression]
  with ImplicitCastInputTypes {

  override def inputTypes: Seq[TypeBridge.AbstractDataType] = Seq(BinaryType)

  // shape (k, p) is read from the first state seen; a null buffer
  // marks "nothing merged yet" so empty groups stay well-defined
  override def createAggregationBuffer(): DSketch = null

  private def fold(b: DSketch, bytes: Array[Byte]): DSketch = {
    val o = DSketch.deserialize(bytes)
    if (b == null) o else { b.mergeWith(o); b }
  }

  override def update(b: DSketch, input: InternalRow): DSketch = {
    val v = child.eval(input)
    if (v == null) b else fold(b, v.asInstanceOf[Array[Byte]])
  }

  override def merge(b: DSketch, o: DSketch): DSketch =
    if (o == null) b else if (b == null) o else { b.mergeWith(o); b }

  override def eval(b: DSketch): Any = if (b == null) 0L else b.estimate

  // a null buffer serializes as empty bytes; deserialize mirrors it
  override def serialize(b: DSketch): Array[Byte] =
    if (b == null) Array.emptyByteArray else b.serialize
  override def deserialize(bytes: Array[Byte]): DSketch =
    if (bytes.isEmpty) null else DSketch.deserialize(bytes)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(o: Int): SketchMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): SketchMergeAgg =
    copy(child = newChild)
  override def prettyName: String = "graft_sketch_merge"
}

object DistinctSketch {
  /** Column wrapper: `distinctCount($"l_orderkey")`. Exact below `k`
    * distincts, ~0.8%-error HLL above. */
  def distinctCount(c: Column, k: Int = 1 << 16, p: Int = 14): Column =
    ColumnBridge.column(
      DistinctSketchAgg(ColumnBridge.expression(c.cast("double")), k, p)
        .toAggregateExpression())

  /** The same aggregate, evaluating to the sketch's serialized state
    * (BINARY) instead of the estimate — persist it, then finalize any
    * union of states with [[mergeSketches]]. */
  def sketchState(c: Column, k: Int = 1 << 16, p: Int = 14): Column =
    ColumnBridge.column(
      DistinctSketchAgg(ColumnBridge.expression(c.cast("double")), k, p,
        emitState = true)
        .toAggregateExpression())

  /** Merge serialized sketch states and evaluate the distinct count. */
  def mergeSketches(c: Column): Column =
    ColumnBridge.column(
      SketchMergeAgg(ColumnBridge.expression(c)).toAggregateExpression())
}
