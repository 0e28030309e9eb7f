package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the pipeline hot paths.
  *
  * The declarative formulations (split→transform→aggregate chains in
  * [[TextFunctions]] / [[graft.pipeline.Similarity]]) are semantically
  * exact but materialize per-character / per-element arrays; these
  * expressions compute the identical values in one fused loop and
  * participate in whole-stage codegen (`doGenCode` emits a static
  * call, so the generated code stays a single JVM method call inside
  * the produce/consume loop — no UDF boxing, no Catalyst array
  * allocation).
  *
  * Parity contract: bit-for-bit the same results as the declarative
  * versions AND the DuckDB oracles — same codepoint order, same
  * left-to-right double accumulation. The correctness gate
  * (tools/check.py) verifies this every round.
  */
object PolyHash {
  final val P = 1000000007L

  /** h = (h*31 + codepoint) mod P, left to right over codepoints. */
  def hash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % P
      i += Character.charCount(cp)
    }
    h
  }
}

/** `graft_polyhash(str)` — portable polynomial hash, codegen'd. */
case class PolyHashExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c)")
  override protected def withNewChildInternal(newChild: Expression): PolyHashExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_polyhash"
}

object CosineSim {
  /** Cosine over two equal-length numeric arrays, accumulating in
    * double, element order — identical to the zip_with/aggregate
    * formulation and DuckDB's list_dot_product. Length mismatch
    * returns null (the declarative spec zips with null padding, which
    * nulls the whole sum); per-side element types are honored.
    */
  def cos(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
}

/** `graft_cosine(vec, vec)` — cosine similarity, codegen'd. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // length mismatch -> null
  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.cos(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r =
        graft.functions.CosineSim.cos($a, $b, ${isFloat(left)}, ${isFloat(right)});
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }
    """)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_cosine"
}

object MinHashSig {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** MinHash signature from precomputed shingle HASHES (the
    * [[ShingleHashes]] output): one pass, updating all `numHashes`
    * minima per hash — vs the declarative form's numHashes
    * re-traversals. Same values: sig_j = min over shingle hashes h of
    * ((2j+1)*h + 97j+13) mod P.
    */
  def sigFromHashes(hashes: ArrayData, numHashes: Int): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](numHashes)(null))
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = ((2L * j + 1) * h + 97L * j + 13) % PolyHash.P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** `graft_minhash_from_hashes(hashes, numHashes)`. */
case class MinHashSigFromHashesExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullSafeEval(input: Any): Any =
    MinHashSig.sigFromHashes(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.sigFromHashes($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigFromHashesExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_from_hashes"
}

object SimHash {
  /** SimHash over an array of token strings: one pass, each token
    * hashed once, bit votes accumulated — vs the declarative form's
    * `bits` re-traversals.
    *
    * Bit b's vote comes from an independent re-hash of the token hash
    * (`((h*(2b+3)) mod P) & 1`), NOT from raw bit b of h: the base
    * hash is mod P < 2^30, so raw bits 30+ would be constant zero and
    * any sketch wider than 30 bits would silently degenerate (all
    * docs agreeing on the upper bits — catastrophic for block-join
    * candidate generation).
    */
  def simhash(tokens: ArrayData, bits: Int): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = PolyHash.hash(tokens.getUTF8String(i))
      var b = 0
      while (b < bits) {
        if ((((h * (2L * b + 3)) % PolyHash.P) & 1L) == 1L) counts(b) += 1
        else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

object SimHashText {
  /** SimHash straight off the raw text: one codepoint scan, rolling
    * per-token polynomial hash (token boundary = space; empty tokens
    * hash to 0, same as `split(text, " ")` with multiplicity), bit
    * votes accumulated at each boundary. Value-identical to
    * [[SimHash.simhash]] over the split token array — without
    * materializing it.
    */
  def simhash(s: UTF8String, bits: Int): Long = {
    val str = s.toString
    val counts = new Array[Int](bits)
    def vote(h: Long): Unit = {
      var b = 0
      while (b < bits) {
        if ((((h * (2L * b + 3)) % PolyHash.P) & 1L) == 1L) counts(b) += 1
        else counts(b) -= 1
        b += 1
      }
    }
    var h = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      if (cp == ' ') { vote(h); h = 0L }
      else h = (h * 31 + cp) % PolyHash.P
      i += Character.charCount(cp)
    }
    vote(h) // final token (split keeps trailing empties at limit -1)
    var out = 0L
    var b = 0
    while (b < bits) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** `graft_simhash_text(text, bits)` — SimHash fused over raw text. */
case class SimHashTextExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SimHashText.simhash(input.asInstanceOf[UTF8String], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashText.simhash($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression): SimHashTextExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash_text"
}

/** `graft_simhash(tokens, bits)` — fused SimHash sketch. */
case class SimHashExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SimHash.simhash(input.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.simhash($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash"
}

object ShingleHashes {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Distinct word n-gram shingle hashes in ONE fused pass — the
    * candidate-generation kernel shared by n-gram-Jaccard and MinHash.
    *
    * Identical values to
    * `array_distinct(transform(shingles(text,n), polyHash))` by
    * construction: `concat_ws(" ", w_i..w_{i+n-1})` reconstructs the
    * exact original substring for ANY spacing (empty tokens from
    * consecutive delimiters contribute their separators back), so each
    * shingle hash is the polynomial hash of a text substring —
    * computed O(1) from prefix hashes `H` and powers of 31 mod P:
    * `h[j0,j1) = H(j1) - H(j0)·31^(j1-j0)`. O(len) per document vs the
    * declarative form's per-shingle string allocation + re-hash.
    */
  def hashes(s: UTF8String, n: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val L = cps.length
    // token start offsets: 0 and after every space (split(text, " ")
    // limit -1 semantics: leading/trailing/consecutive spaces yield
    // empty tokens)
    val starts = new Array[Int](L + 2)
    var m = 0
    starts(0) = 0; m = 1
    var i = 0
    while (i < L) { if (cps(i) == ' ') { starts(m) = i + 1; m += 1 }; i += 1 }
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val P = PolyHash.P
    val h = new Array[Long](L + 1) // prefix hashes
    val pw = new Array[Long](L + 1) // 31^i mod P
    pw(0) = 1L
    i = 0
    while (i < L) {
      h(i + 1) = (h(i) * 31 + cps(i)) % P
      pw(i + 1) = (pw(i) * 31) % P
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var t = 0
    val nShingles = m - n + 1
    while (t < nShingles) {
      val j0 = starts(t)
      // shingle ends where token t+n-1 ends: next start - 1, or L
      val j1 = if (t + n - 1 < m - 1) starts(t + n) - 1 else L
      val v = ((h(j1) - (h(j0) * pw(j1 - j0)) % P) % P + P) % P
      seen.add(v)
      t += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }
}

object PositionalGramHashes {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** ALL word n-gram hashes of a text in start-position order,
    * duplicates preserved — the exact-substring-duplication kernel
    * ([[graft.pipeline.Dedup.substringDupStats]]): the unit of measure
    * there is the gram OCCURRENCE, so unlike [[ShingleHashes.hashes]]
    * nothing is deduplicated. Same prefix-hash construction — each
    * gram hash is the polynomial hash of the exact original substring,
    * O(1) per position after one O(len) scan — vs the declarative
    * slice/concat_ws/polyHash transform, which allocates a string per
    * position and (being a lambda under a higher-order function) never
    * enters codegen.
    */
  def hashes(s: UTF8String, n: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val L = cps.length
    val starts = new Array[Int](L + 2)
    var m = 0
    starts(0) = 0; m = 1
    var i = 0
    while (i < L) { if (cps(i) == ' ') { starts(m) = i + 1; m += 1 }; i += 1 }
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val P = PolyHash.P
    val h = new Array[Long](L + 1)
    val pw = new Array[Long](L + 1)
    pw(0) = 1L
    i = 0
    while (i < L) {
      h(i + 1) = (h(i) * 31 + cps(i)) % P
      pw(i + 1) = (pw(i) * 31) % P
      i += 1
    }
    val nGrams = m - n + 1
    val out = new Array[Long](nGrams)
    var t = 0
    while (t < nGrams) {
      val j0 = starts(t)
      val j1 = if (t + n - 1 < m - 1) starts(t + n) - 1 else L
      out(t) = ((h(j1) - (h(j0) * pw(j1 - j0)) % P) % P + P) % P
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_positional_gram_hashes(text, n)` — fused positional gram hashes. */
case class PositionalGramHashesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    PositionalGramHashes.hashes(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PositionalGramHashes.hashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): PositionalGramHashesExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_positional_gram_hashes"
}

/** `graft_shingle_hashes(text, n)` — fused distinct shingle hashes. */
case class ShingleHashesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ShingleHashes.hashes(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashes.hashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_shingle_hashes"
}

object WinnowFp {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03) in one fused
    * pass: polyHash of every k-codepoint gram, minimum of each sliding
    * window of w hashes, sorted distinct minima. Identical values to
    * the declarative substr/transform/slice formulation (and the DuckDB
    * oracle) — same codepoint indexing, same hash, same window bounds.
    * O(len·k) vs the declarative form's per-row array-of-arrays
    * materialization (measured 199s → sub-second at sf0.01).
    */
  def fp(s: UTF8String, k: Int, w: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val L = cps.length
    if (L < k + w - 1) return new GenericArrayData(Array.emptyLongArray)
    val m = L - k + 1
    val kh = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * 31 + cps(i + j)) % PolyHash.P; j += 1 }
      kh(i) = h
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    var j2 = 0
    val nw = m - w + 1
    while (j2 < nw) {
      var mn = Long.MaxValue
      var t = 0
      while (t < w) { if (kh(j2 + t) < mn) mn = kh(j2 + t); t += 1 }
      seen.add(mn)
      j2 += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }
}

/** `graft_winnow_fp(text, k, w)` — fused winnowing fingerprint. */
case class WinnowFpExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    WinnowFp.fp(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowFp.fp($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFpExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_winnow_fp"
}

object GraftBloom {
  /** Knuth's 32-bit multiplicative constant: remixes the stride hash
    * so a full-probe collision needs sh ≡ sh' BOTH mod m and (after
    * the multiply) mod m/2 — with h2 drawn straight from sh, every
    * pair of grams agreeing mod m collided on ALL k probes (measured
    * ~3% doc over-drop at a 0.6% load factor). sh < 2^30 by the
    * polyHash contract, so sh·K < 2^62 never overflows — in the JVM
    * or in DuckDB's checked BIGINT arithmetic.
    */
  final val Mix = 2654435761L

  /** Kirsch–Mitzenmacher probe positions over an m-bit bitset
    * (m = 64·words, power of two by construction): h1 = sh mod m,
    * h2 = 2·((sh·Mix mod P) mod m/2) + 1 (odd, so probes cycle the
    * whole table), pos_j = (h1 + j·h2) mod m. `sh` is a portable
    * polyHash value — non-negative by contract, so plain `%` matches
    * SQL `%` exactly and the DuckDB oracle replays the probes
    * bit-for-bit.
    */
  def insert(bits: Array[Long], sh: Long, k: Int): Unit = {
    val m = bits.length.toLong * 64
    val h1 = sh % m
    val h2 = 2L * ((sh * Mix % PolyHash.P) % (m / 2)) + 1L
    var j = 0
    while (j < k) {
      val pos = ((h1 + j * h2) % m).toInt
      bits(pos >> 6) |= (1L << (pos & 63))
      j += 1
    }
  }

  /** True iff ANY hash in `hashes` has all `k` probe bits set —
    * the decontamination contaminated-test. `>> & 1` (not `>>>`)
    * to literally match the SQL mirror; with `& 1` both extract
    * bit pos regardless of the word's sign.
    */
  def anyContains(hashes: ArrayData, bits: Array[Long], k: Int): Boolean = {
    val m = bits.length.toLong * 64
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val sh = hashes.getLong(i)
      val h1 = sh % m
      val h2 = 2L * ((sh * Mix % PolyHash.P) % (m / 2)) + 1L
      var j = 0
      var all = true
      while (all && j < k) {
        val pos = ((h1 + j * h2) % m).toInt
        all = ((bits(pos >> 6) >> (pos & 63)) & 1L) == 1L
        j += 1
      }
      if (all) return true
      i += 1
    }
    false
  }
}

/** `graft_bloom_any(hashes)` — true iff any element of a long-array
  * column tests positive in the (plan-literal) Bloom bitset. The
  * bitset rides along as a codegen reference object: constant-time
  * membership per element regardless of how large the benchmark set
  * was, inside whole-stage codegen.
  */
case class BloomAnyContainsExpr(child: Expression, bits: Array[Long], k: Int)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any =
    GraftBloom.anyContains(input.asInstanceOf[ArrayData], bits, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBits", bits, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftBloom.anyContains($c, $ref, $k)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomAnyContainsExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_bloom_any"
}

object VocabMembership {
  /** In-vocabulary token count (with multiplicity): hash-set
    * membership per element, O(1) per token regardless of vocabulary
    * size — the exact-set sibling of [[GraftBloom.anyContains]]. A
    * 50k-entry BPE vocab costs the same per token as a 50-entry
    * stopword list (the `array_contains`-over-literal form it
    * replaces was O(|vocab|) per token: ~10^4x more comparisons at
    * tokenizer-vocab sizes).
    */
  def count(tokens: ArrayData, vocab: java.util.HashSet[UTF8String]): Long = {
    val n = tokens.numElements()
    var i = 0
    var c = 0L
    while (i < n) {
      if (!tokens.isNullAt(i) && vocab.contains(tokens.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  def build(vocab: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](Math.max(16, vocab.size * 2))
    vocab.foreach(v => s.add(UTF8String.fromString(v)))
    s
  }
}

/** `graft_in_vocab_count(tokens)` — number of elements of a string
  * array present in the (plan-literal) vocabulary, counted with
  * multiplicity. The set rides along as a codegen reference object,
  * like [[BloomAnyContainsExpr]]'s bitset, keeping the whole audit
  * inside whole-stage codegen with O(1) membership per token.
  */
case class InVocabCountExpr(child: Expression, vocab: java.util.HashSet[UTF8String])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    VocabMembership.count(input.asInstanceOf[ArrayData], vocab)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vocabSet", vocab, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.functions.VocabMembership.count($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): InVocabCountExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_in_vocab_count"
}

object FixMojibake {
  /** One-level Latin-1-mojibake repair for the 2-byte UTF-8 range: a
    * Â/Ã character (U+00C2/U+00C3 — the lead bytes of 2-byte UTF-8
    * sequences shown through a Latin-1 decode) followed by a
    * continuation-range codepoint (U+0080–U+00BF) re-combines to the
    * codepoint the original bytes encoded:
    * `(lead & 0x1F) << 6 | (cont & 0x3F)`. Everything else passes
    * through unchanged; a trailing lone lead char stays as-is.
    */
  def fix(s: UTF8String): UTF8String = {
    val str = s.toString
    val sb = new java.lang.StringBuilder(str.length)
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if ((c == 0xC2 || c == 0xC3) && i + 1 < str.length &&
          str.charAt(i + 1) >= 0x80 && str.charAt(i + 1) <= 0xBF) {
        sb.append((((c & 0x1F) << 6) | (str.charAt(i + 1) & 0x3F)).toChar)
        i += 2
      } else {
        sb.append(c)
        i += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }
}

/** `graft_fix_mojibake(str)` — Latin-1 mojibake repair, codegen'd. */
case class FixMojibakeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    FixMojibake.fix(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FixMojibake.fix($c)")
  override protected def withNewChildInternal(newChild: Expression): FixMojibakeExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_fix_mojibake"
}

/** Unicode canonical composition (NFC) — the first normalization pass
  * of every web-scale text pipeline (combining sequences from OCR,
  * decomposed filenames, and mixed-source corpora collapse to their
  * precomposed forms, so downstream hashing/dedup sees one spelling).
  * Fast path: `Normalizer.isNormalized` is a cheap scan that is true
  * for (near-)all ASCII/already-composed text, so the common case
  * allocates nothing and returns the input buffer unchanged.
  * Parity: java.text.Normalizer implements the same Unicode NFC the
  * DuckDB oracle's `nfc_normalize` does — the gate row pins it.
  */
object NfcNormalize {
  def nfc(u: UTF8String): UTF8String = {
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

/** Per-document top word-n-gram in one fused loop — the kernel under
  * `Curation.topNgramFraction`. A document's most frequent n-gram is a
  * pure per-row signal; computing it by exploding grams and shuffling
  * (doc, gram, count) tuples moves a multiple of the corpus token
  * count through two exchanges for no cross-row information at all.
  * This expression builds the gram multiset in a doc-local hash map
  * (O(words), one allocation arena per row) and returns
  * `struct(gram, cnt)` — zero shuffle, whole-stage-codegen friendly.
  *
  * Parity contract with the declarative plan the oracle mirrors:
  * tokens = `split(text, " ")` (Java split semantics, trailing empties
  * kept), grams joined by a single space, ties broken by the
  * UTF8String-binary-LARGER gram (== Spark's `max(struct(cnt, gram))`
  * and DuckDB's `ORDER BY cnt DESC, gram DESC` for valid UTF-8, since
  * UTF-8 byte order is code-point order). Fewer than n tokens → null.
  */
object TopNgram {
  def eval(u: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = u.toString.split(" ", -1)
    if (toks.length < n) return null
    val counts = new java.util.HashMap[String, Long]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      counts.merge(sb.toString, 1L, (a, b) => a + b)
      i += 1
    }
    var bestGram: String = null
    var bestCnt = 0L
    var bestU: UTF8String = null
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (bestGram == null || e.getValue > bestCnt) {
        bestGram = e.getKey; bestCnt = e.getValue; bestU = null
      } else if (e.getValue == bestCnt) {
        // tie: UTF8 binary-larger gram wins (lazy conversion — ties
        // are rare next to the per-gram hash updates)
        if (bestU == null) bestU = UTF8String.fromString(bestGram)
        val cand = UTF8String.fromString(e.getKey)
        if (cand.binaryCompare(bestU) > 0) {
          bestGram = e.getKey; bestU = cand
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](if (bestU != null) bestU else UTF8String.fromString(bestGram),
        bestCnt))
  }
}

case class TopNgramExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 8, "TopNgramExpr n must be in [1, 8]")
  override def dataType: DataType = StructType(Seq(
    StructField("gram", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TopNgram.eval(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // short documents yield null even for non-null input, so the
    // generated code must re-derive isNull from the result
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TopNgram.eval($c, $n);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): TopNgramExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_top_ngram"
}

case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_nfc"
}

object NativeExpressions {
  /** Column wrappers for direct DataFrame use. */
  def fixMojibake(c: Column): Column =
    ColumnBridge.column(FixMojibakeExpr(ColumnBridge.expression(c)))
  def nfcNormalize(c: Column): Column =
    ColumnBridge.column(NfcNormalizeExpr(ColumnBridge.expression(c)))
  def topNgram(text: Column, n: Int): Column =
    ColumnBridge.column(TopNgramExpr(ColumnBridge.expression(text), n))
  def polyHash(c: Column): Column =
    ColumnBridge.column(PolyHashExpr(ColumnBridge.expression(c)))
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def simhash(tokens: Column, bits: Int): Column =
    ColumnBridge.column(SimHashExpr(ColumnBridge.expression(tokens), bits))
  def simhashText(text: Column, bits: Int): Column =
    ColumnBridge.column(SimHashTextExpr(ColumnBridge.expression(text), bits))
  def winnowFp(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFpExpr(ColumnBridge.expression(text), k, w))
  def shingleHashes(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashesExpr(ColumnBridge.expression(text), n))
  def positionalGramHashes(text: Column, n: Int): Column =
    ColumnBridge.column(PositionalGramHashesExpr(ColumnBridge.expression(text), n))
  def minhashSigFromHashes(hashes: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSigFromHashesExpr(ColumnBridge.expression(hashes), numHashes))
  def bloomAny(hashes: Column, bits: Array[Long], k: Int): Column =
    ColumnBridge.column(BloomAnyContainsExpr(ColumnBridge.expression(hashes), bits, k))
  def inVocabCount(tokens: Column, vocab: Seq[String]): Column =
    ColumnBridge.column(InVocabCountExpr(
      ColumnBridge.expression(tokens), VocabMembership.build(vocab)))
}

/** SparkSessionExtensions hook: registers the native functions into
  * the session's FunctionRegistry so they are callable from SQL
  * (`SELECT graft_polyhash(text) …`). Enable with
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_polyhash"),
      new ExpressionInfo(classOf[PolyHashExpr].getName, "graft_polyhash"),
      (exprs: Seq[Expression]) => PolyHashExpr(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_fix_mojibake"),
      new ExpressionInfo(classOf[FixMojibakeExpr].getName, "graft_fix_mojibake"),
      (exprs: Seq[Expression]) => FixMojibakeExpr(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "graft_nfc"),
      (exprs: Seq[Expression]) => NfcNormalizeExpr(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimExpr].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => CosineSimExpr(exprs(0), exprs(1))))
    // aggregate sketches: literal (q/topN, capacity) arguments are
    // folded at registration — the analyzer wraps the returned
    // AggregateFunction the same way builtin percentile_approx works
    def litD(e: Expression): Double = e.eval() match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue
      case other => sys.error(s"expected numeric literal, got $other")
    }
    def litI(e: Expression): Int = litD(e).toInt
    ext.injectFunction((
      FunctionIdentifier("graft_quantile_sketch"),
      new ExpressionInfo(classOf[QuantileSketchAgg].getName, "graft_quantile_sketch"),
      (exprs: Seq[Expression]) => QuantileSketchAgg(exprs(0), litD(exprs(1)),
        if (exprs.size > 2) litI(exprs(2)) else 8192)))
    ext.injectFunction((
      FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHittersAgg].getName, "graft_heavy_hitters"),
      (exprs: Seq[Expression]) => HeavyHittersAgg(exprs(0), litI(exprs(1)),
        if (exprs.size > 2) litI(exprs(2)) else 1 << 16)))
    ext.injectFunction((
      FunctionIdentifier("graft_distinct_sketch"),
      new ExpressionInfo(classOf[DistinctSketchAgg].getName, "graft_distinct_sketch"),
      (exprs: Seq[Expression]) => DistinctSketchAgg(exprs(0),
        if (exprs.size > 1) litI(exprs(1)) else 1 << 16,
        if (exprs.size > 2) litI(exprs(2)) else 14)))
    ext.injectFunction((
      FunctionIdentifier("graft_bottomk_sample"),
      new ExpressionInfo(classOf[BottomKSampleAgg].getName, "graft_bottomk_sample"),
      (exprs: Seq[Expression]) => BottomKSampleAgg(exprs(0), litI(exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_topk_by"),
      new ExpressionInfo(classOf[TopKByAgg].getName, "graft_topk_by"),
      (exprs: Seq[Expression]) => TopKByAgg(exprs(0), exprs(1), litI(exprs(2)))))
  }
}
