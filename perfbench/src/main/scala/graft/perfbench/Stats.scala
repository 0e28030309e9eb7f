package graft.perfbench

/** Latency summaries with the benchmark's percentile rule: a tail is
  * reported at the highest percentile that still has at least ten
  * samples beyond it, and every summary carries its sample count.
  */
object Stats {

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  val MinBeyond = 10

  /** Nearest rank of percentile `p` among `n` samples (1-based); the
    * epsilon keeps 99.9 % of 10,000 at rank 9,990. */
  private def rank(n: Int, p: Double): Int = math.ceil(p * n / 100.0 - 1e-9).toInt

  /** Nearest-rank percentile of an ascending array. */
  def pct(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    sorted(math.min(sorted.length - 1, math.max(0, rank(sorted.length, p) - 1)))
  }

  /** Samples strictly beyond the nearest-rank `p` percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Highest percentile of [[TailLadder]] with at least [[MinBeyond]]
    * samples beyond it; None when `n` is too small for any of them. */
  def tailPercentile(n: Int): Option[Double] =
    TailLadder.find(p => beyond(n, p) >= MinBeyond)

  final case class Dist(n: Int, p50: Double, tailP: Option[Double], tail: Double,
      max: Double) {
    /** `p50=… p99=… max=… (n=…)`, the form every notes line uses. */
    def describe(unit: String): String = {
      val t = tailP.map(p => f"p${fmtP(p)}=$tail%.3f$unit").getOrElse("no tail percentile")
      f"p50=$p50%.3f$unit $t max=$max%.3f$unit (n=$n)"
    }
  }

  private def fmtP(p: Double): String =
    if (p == math.rint(p)) p.toInt.toString else p.toString

  /** Summary of `xs` with the tail at the highest percentile of
    * [[TailLadder]] that has enough samples beyond it; the tail falls
    * back to the maximum when too few samples exist for any of them. */
  def dist(xs: Iterable[Double]): Dist = {
    val a = xs.toArray
    if (a.isEmpty) return Dist(0, 0.0, None, 0.0, 0.0)
    java.util.Arrays.sort(a)
    val tp = tailPercentile(a.length)
    Dist(a.length, pct(a, 50.0), tp, tp.map(pct(a, _)).getOrElse(a.last), a.last)
  }

  def median(xs: Iterable[Double]): Double = dist(xs).p50

  /** Like [[dist]], but the tail is taken at percentile `p` whenever
    * `p` has at least [[MinBeyond]] samples beyond it, so runs of one
    * workload report the same percentile although their sample counts
    * differ. */
  def distAt(xs: Iterable[Double], p: Double): Dist = {
    val d = dist(xs)
    if (d.n > 0 && beyond(d.n, p) >= MinBeyond) {
      val a = xs.toArray
      java.util.Arrays.sort(a)
      d.copy(tailP = Some(p), tail = pct(a, p))
    } else d
  }
}

/** Growable primitive buffer for per-sample recording off the hot path. */
final class DoubleBuf(initial: Int = 1024) {
  private var a = new Array[Double](initial)
  private var n = 0
  def add(x: Double): Unit = synchronized {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = x; n += 1
  }
  def values: Array[Double] = synchronized(java.util.Arrays.copyOf(a, n))
  def dist: Stats.Dist = Stats.dist(values)
}
