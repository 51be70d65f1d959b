package graft.perfbench

/** Pure statistics: percentiles, recall and the benchmark's own exact
  * ground truth. Nothing here calls the engine. */
object Stats {

  /** Percentiles the benchmark may report, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 95.0, 99.0, 99.9)

  /** Samples strictly above the nearest-rank `p`-th percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Nearest-rank position (1-based) of the `p`-th percentile of `n`. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The highest percentile of [[Ladder]] that has at least ten samples
    * beyond it, or None when even the median has fewer. */
  def highestSupported(n: Int): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= 10).lastOption

  /** Nearest-rank percentile of unsorted samples. A tail percentile is
    * refused unless at least ten samples lie beyond it. */
  def percentile(xs: Array[Long], p: Double): Long = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p <= 50.0 || beyond(xs.length, p) >= 10,
      s"p$p needs ten samples beyond it; have ${xs.length} samples")
    val s = xs.clone()
    java.util.Arrays.sort(s)
    s(rank(s.length, p) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The `q`-quantile (0 to 1) of `xs`, interpolated linearly between
    * neighbouring order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.length) s(lo) else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }

  /** Mean over queries of |found ∩ truth| / k. */
  def recall(found: Seq[Array[Long]], truth: Seq[Array[Long]], k: Int): Double = {
    require(found.length == truth.length && found.nonEmpty, "recall needs one result per query")
    val hits = found.zip(truth).map { case (f, t) =>
      val want = t.take(k).toSet
      f.take(k).distinct.count(want.contains)
    }
    hits.sum.toDouble / (k.toDouble * found.length)
  }

  /** Euclidean distance in double precision, summed in index order. */
  def dist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  /** Exact top-k ids of `q` among `(id, vector)` pairs, nearest first,
    * ties broken by id. */
  def exactTopK(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]], k: Int): Array[Long] = {
    // bounded max-heap on (dist, id): the root is the worst kept
    val hd = new Array[Double](k)
    val hi = new Array[Long](k)
    var size = 0
    def worse(d1: Double, i1: Long, d2: Double, i2: Long) = d1 > d2 || (d1 == d2 && i1 > i2)
    def siftDown(): Unit = {
      var p = 0
      var done = false
      while (!done) {
        val l = 2 * p + 1
        val r = l + 1
        var m = p
        if (l < size && worse(hd(l), hi(l), hd(m), hi(m))) m = l
        if (r < size && worse(hd(r), hi(r), hd(m), hi(m))) m = r
        if (m == p) done = true
        else {
          val td = hd(p); hd(p) = hd(m); hd(m) = td
          val ti = hi(p); hi(p) = hi(m); hi(m) = ti
          p = m
        }
      }
    }
    var j = 0
    while (j < ids.length) {
      val d = dist(q, vecs(j))
      if (size < k) {
        var c = size
        hd(c) = d; hi(c) = ids(j); size += 1
        while (c > 0 && worse(hd(c), hi(c), hd((c - 1) / 2), hi((c - 1) / 2))) {
          val p = (c - 1) / 2
          val td = hd(p); hd(p) = hd(c); hd(c) = td
          val ti = hi(p); hi(p) = hi(c); hi(c) = ti
          c = p
        }
      } else if (worse(hd(0), hi(0), d, ids(j))) {
        hd(0) = d; hi(0) = ids(j); siftDown()
      }
      j += 1
    }
    (0 until size).map(i => (hd(i), hi(i))).sortBy(identity).map(_._2).toArray
  }

  /** Exact top-k for every query, spread over the available cores. */
  def groundTruth(queries: Array[Array[Float]], ids: Array[Long],
      vecs: Array[Array[Float]], k: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel()
      .forEach(i => out(i) = exactTopK(queries(i), ids, vecs, k))
    out
  }
}
