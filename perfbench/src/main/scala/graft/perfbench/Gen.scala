package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input a workload hands the engine
  * comes from here; the same seed gives the same inputs. */
object Gen {

  val Dim = 100
  val Clusters = 50
  val Sigma = 0.5
  val CentreRange = 4.0

  /** The fixed mixture: 50 centres drawn once from U[0,4)^100 with a
    * constant seed, so every workload seed samples the same mixture. */
  private val centres: Array[Array[Double]] = {
    val r = new SplittableRandom(0x6d697874L)
    Array.fill(Clusters, Dim)(CentreRange * r.nextDouble())
  }

  /** Independent stream `salt` of the workload seed. */
  def stream(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** A vector from U[0,1)^100, the reference's recall-test distribution. */
  def uniform(r: SplittableRandom): Array[Float] = Array.fill(Dim)(r.nextDouble().toFloat)

  /** A vector from the 50-cluster Gaussian mixture (σ = 0.5). */
  def mixture(r: SplittableRandom): Array[Float] = {
    val c = centres(r.nextInt(Clusters))
    Array.tabulate(Dim)(i => (c(i) + Sigma * gaussian(r)).toFloat)
  }

  /** Box-Muller, so the draws do not depend on the JDK's own method. */
  def gaussian(r: SplittableRandom): Double = {
    var u = 0.0
    while (u == 0.0) u = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  /** `n` distinct indices from [0, bound), in draw order. */
  def distinct(r: SplittableRandom, n: Int, bound: Int): Array[Int] = {
    require(n <= bound, s"cannot draw $n distinct values below $bound")
    val seen = new java.util.BitSet(bound)
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val x = r.nextInt(bound)
      if (!seen.get(x)) { seen.set(x); out(i) = x; i += 1 }
    }
    out
  }

  sealed trait Op
  case object Insert extends Op
  case object Search extends Op
  case object Delete extends Op
  case object Lookup extends Op

  /** ingest-churn's op mix: 60% insert, 25% search, 10% delete by key,
    * 5% key lookup. */
  val Mix: Seq[(Op, Double)] = Seq(Insert -> 0.60, Search -> 0.25, Delete -> 0.10, Lookup -> 0.05)

  def nextOp(r: SplittableRandom): Op = {
    val u = r.nextDouble()
    var acc = 0.0
    Mix.find { case (_, w) => acc += w; u < acc }.map(_._1).getOrElse(Mix.last._1)
  }
}
