package graft.perfbench

import graft.index.Metric
import scala.collection.mutable

/** The parts every workload shares: result checks, the 1-client and
  * `nproc`-client search loops, key lookups, deletes and the metrics
  * every workload reports. */
object Serve {

  type Hit = (Option[String], Long, Double)

  val K = 10
  /** Untimed searches before the first timed one, so the JIT and the
    * serving structures' lazy state settle. */
  val WarmupQueries = 1000
  /** The 1-client loop runs in short segments of this many searches,
    * spread over the run. Neighbours on a shared host only ever slow a
    * segment down, by up to half again, for tenths of a second to seconds
    * at a time, and may leave only a small share of a run quiet. So the
    * end-to-end figures come from the run's quietest part:
    * `search_p50_ms` is the lower [[QuietQuantile]] of the segments' p50s,
    * and `search_qps` the rate of the segments at or below it, taken
    * together. A slower program slows every segment, quiet or not. The
    * medians over all segments are kept as detail. */
  val SegmentSearches = 100
  val QuietQuantile = 0.05
  /** Shares of `--seconds` given to the 1-client and the parallel loop. */
  val OneClientShare = 0.85
  val ParallelShare = 0.15
  val RateSliceSeconds = 0.25

  def nproc: Int = Runtime.getRuntime.availableProcessors

  /** Live vectors by public id, as the benchmark inserted them. */
  final class Live {
    private val m = mutable.HashMap.empty[Long, Array[Float]]
    def put(id: Long, v: Array[Float]): Unit = m(id) = v
    def remove(id: Long): Unit = m.remove(id)
    def clear(): Unit = m.clear()
    def apply(id: Long): Array[Float] = m.getOrElse(id, null)
    def size: Int = m.size
    def contains(id: Long): Boolean = m.contains(id)
    def snapshot: (Array[Long], Array[Array[Float]]) = {
      val ids = m.keys.toArray.sorted
      (ids, ids.map(m))
    }
  }

  /** At most K distinct live ids, ascending distance, each distance equal
    * to the benchmark's own double-precision recomputation. */
  def checkHits(run: Run, q: Array[Float], hits: IndexedSeq[Hit], live: Live): Boolean = {
    val ids = hits.map(_._2)
    run.check(hits.size <= K, s"search returned ${hits.size} > $K hits") &&
    run.check(ids.distinct.size == ids.size, s"search returned duplicate ids $ids") &&
    run.check(ids.forall(live.contains), s"search returned an id that is not live: $ids") &&
    run.check(hits.indices.drop(1).forall(i => hits(i - 1)._3 <= hits(i)._3),
      s"search distances not ascending: ${hits.map(_._3)}") &&
    run.check(hits.forall { case (_, id, d) => d == Stats.dist(q, live(id)) },
      "search distance differs from the exact recomputation")
  }

  /** The 1-client searches' latencies, in segments. When tracing, every
    * other call is traced, so the two halves give the tracing overhead. */
  final class SearchLoop {
    val segments = mutable.ArrayBuffer.empty[Samples]
    val all, traced, untraced, allocBytes = new Samples
    /** The next query: successive segments go on through the queries. */
    var next = 0
    def add(segment: Samples): Unit = if (segment.size > 0) {
      segments += segment
      segment.toArray.foreach(all.add)
    }
    private def p50s = segments.map(s => ms(s.p(50).toDouble)).toSeq
    private def rates = segments.map(s => s.size / (s.sum / 1e9)).toSeq
    def p50Ms: Double = Stats.quantile(p50s, QuietQuantile)
    def qps: Double = {
      val quiet = segments.filter(s => ms(s.p(50).toDouble) <= p50Ms)
      quiet.map(_.size).sum / (quiet.map(_.sum).sum / 1e9)
    }
    def medianP50Ms: Double = Stats.median(p50s)
    def medianQps: Double = Stats.median(rates)
    /** Over all segments' searches together. */
    def p99Ms: Double = if (Stats.beyond(all.size, 99.0) >= 10) ms(all.p(99).toDouble) else Double.NaN
  }

  /** The closed loop with one client, for `seconds` and for at least one
    * segment: it goes on through `queries` from where the last call left
    * off, [[SegmentSearches]] searches to a segment. */
  def oneClient(run: Run, layer: String, queries: Array[Array[Float]],
      search: Array[Float] => IndexedSeq[Hit], live: Live, seconds: Double, loop: SearchLoop): Unit =
    run.timed("search.1client") {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      do {
        val lat = new Samples
        (0 until SegmentSearches).foreach { _ =>
          val i = loop.next
          loop.next += 1
          val q = queries(i % queries.length)
          val traceIt = run.traceOn && i % 2 == 0
          val a0 = if (run.traceOn) JvmCounters.threadAllocated() else 0L
          run.call(layer, "search", i, traceIt)(search(q)).foreach { case (hits, ns) =>
            val a1 = if (run.traceOn) JvmCounters.threadAllocated() else 0L
            if (checkHits(run, q, hits, live)) {
              lat.add(ns)
              if (traceIt) loop.traced.add(ns) else loop.untraced.add(ns)
              if (run.traceOn) loop.allocBytes.add(a1 - a0)
            }
          }
        }
        loop.add(lat)
      } while (System.nanoTime() < end)
    }

  /** Untimed searches before the first timed one. */
  def warm(run: Run, layer: String, queries: Array[Array[Float]],
      search: Array[Float] => IndexedSeq[Hit], live: Live): Unit =
    run.phase("search.warmup") {
      (0 until WarmupQueries).foreach { i =>
        val q = queries(i % queries.length)
        run.call(layer, "search", i, trace = false)(search(q)).foreach { case (h, _) => checkHits(run, q, h, live) }
      }
    }

  /** Lets background JIT work finish before a timed phase; the wait is
    * recorded as `jit_settle_s`. */
  def settle(run: Run): Unit = {
    val waited = JvmCounters.settleJit()
    run.detail("jit_settle_s") = (run.detail.get("jit_settle_s").map(_._1).getOrElse(0.0) + waited, "s")
  }

  /** `nproc` closed-loop clients. Each first searches its share of the
    * queries once (their hits are returned, for recall), then keeps
    * cycling until `seconds` have passed. Returns (searches/s, hits per
    * query); the rate is the median over [[RateSliceSeconds]] slices of
    * the loop, so a burst of host noise moves it little. */
  def parallel(run: Run, layer: String, queries: Array[Array[Float]],
      search: Array[Float] => IndexedSeq[Hit], live: Live, seconds: Double): (Double, Array[Array[Long]]) = {
    val threads = nproc
    val found = Array.fill(queries.length)(Array.empty[Long])
    val ends = Array.fill(threads)(new Samples)
    settle(run)
    run.timed("search.parallel") {
      val start = System.nanoTime()
      val end = start + (seconds * 1e9).toLong
      val workers = (0 until threads).map { t =>
        new Thread(() => {
          val a0 = JvmCounters.threadAllocated()
          var i = t
          while (i < queries.length || System.nanoTime() < end) {
            val qi = i % queries.length
            val q = queries(qi)
            run.call(layer, "search", i)(search(q)).foreach { case (hits, _) =>
              if (checkHits(run, q, hits, live)) {
                ends(t).add(System.nanoTime() - start)
                if (i < queries.length) found(qi) = hits.map(_._2).toArray
              }
            }
            i += threads
          }
          run.addAlloc(JvmCounters.threadAllocated() - a0)
        }, s"perfbench-client-$t")
      }
      workers.foreach(_.start())
      workers.foreach(_.join())
      val slice = (RateSliceSeconds * 1e9).toLong
      val all = ends.flatMap(_.toArray)
      val full = (all.max / slice).toInt
      require(full > 0, "parallel loop shorter than one rate slice")
      val counts = new Array[Int](full)
      all.foreach { t => val b = (t / slice).toInt; if (b < full) counts(b) += 1 }
      (Stats.median(counts.map(_ / RateSliceSeconds).toSeq), found)
    }
  }

  /** `idForKey` then `embeddingByKey` for each key: the id must be the
    * one the insert returned and the vector must match bit for bit. */
  def lookups(run: Run, layer: String, keys: Seq[(String, Long)], live: Live,
      idForKey: String => Option[Long], embedding: (String, Long) => Array[Float]): Samples = {
    val lat = new Samples
    run.timed("lookup") {
      keys.zipWithIndex.foreach { case ((k, id), i) =>
        run.call(layer, "idForKey", i)(idForKey(k)).foreach { case (got, ns) =>
          if (run.check(got.contains(id), s"idForKey($k) = $got, expected $id")) lat.add(ns)
        }
        run.call(layer, "embedding", i)(embedding(k, id)).foreach { case (v, _) =>
          run.check(sameBits(v, live(id)), s"embedding of $k differs from the inserted vector")
        }
      }
    }
    lat
  }

  def sameBits(a: Array[Float], b: Array[Float]): Boolean =
    a != null && b != null && a.length == b.length &&
      a.indices.forall(i => java.lang.Float.floatToRawIntBits(a(i)) == java.lang.Float.floatToRawIntBits(b(i)))

  /** Nanoseconds per `Metric.Euclidean.dist` call on consecutive corpus
    * pairs: the median of 21 rounds of 10,000 calls. */
  def distNanos(run: Run, corpus: Array[Array[Float]]): Double = {
    val calls = 10000
    var sink = 0.0
    val rounds = (0 until 21).map { _ =>
      run.tracer("Metric", "dist.x10000") {
        val t0 = System.nanoTime()
        var i = 0
        while (i < calls) {
          sink += Metric.Euclidean.dist(corpus(i % corpus.length), corpus((i + 1) % corpus.length))
          i += 1
        }
        (System.nanoTime() - t0).toDouble / calls
      }
    }
    if (sink.isNaN) run.fail("distance kernel returned NaN")
    Stats.median(rounds)
  }

  def ms(ns: Double): Double = ns / 1e6

  /** Records the metrics every workload reports. `inserts` and `deletes`
    * are per-call latencies of the workload's writes; each workload
    * derives `insert_p50_ms` from its inserts as it describes. */
  def report(run: Run, setupSeconds: Double, heapBytes: Long, loop: SearchLoop,
      qpsPar: Double, recall: Double, insertP50Ms: Double, inserts: Samples, deletes: Samples,
      insertAlloc: Samples, wire: Samples, lookupsNs: Samples, distNs: Double,
      spark: SparkMeter.Totals, diskBytes: Long): Unit = {
    val qps = loop.qps
    run.e2e ++= Seq(
      "setup_s" -> (setupSeconds, "s"),
      "heap_mb" -> (heapBytes / 1048576.0, "MB"),
      "search_p50_ms" -> (loop.p50Ms, "ms"),
      "search_qps" -> (qps, "1/s"),
      "insert_p50_ms" -> (insertP50Ms, "ms"))
    run.detail ++= Seq(
      "search_segments" -> (loop.segments.size.toDouble, "count"),
      "search_median_p50_ms" -> (loop.medianP50Ms, "ms"),
      "search_median_qps" -> (loop.medianQps, "1/s"),
      "search_samples" -> (loop.all.size.toDouble, "count"),
      "insert_samples" -> (inserts.size.toDouble, "count"),
      "insert_tail_pct" -> (inserts.tail._1, "%"),
      "delete_samples" -> (deletes.size.toDouble, "count"),
      "delete_tail_pct" -> (deletes.tail._1, "%"))
    val jvm = run.jvmTimed
    def medianOr(s: Samples, scale: Double): Double =
      if (s.size == 0) Double.NaN else s.p(50) / scale
    run.layer ++= Seq(
      "serving.recall_at_10" -> (recall, "fraction"),
      "metric.dist_ns" -> (distNs, "ns"),
      "serving.search_ms" -> (loop.p50Ms, "ms"),
      "serving.search_alloc_kb" -> (medianOr(loop.allocBytes, 1024.0), "KB"),
      "serving.insert_ms" -> (medianOr(inserts, 1e6), "ms"),
      "serving.insert_tail_ms" -> (ms(inserts.tail._2.toDouble), "ms"),
      "serving.insert_alloc_kb" -> (medianOr(insertAlloc, 1024.0), "KB"),
      "serving.wire_search_ms" -> (medianOr(wire, 1e6), "ms"),
      "serving.delete_ms" -> (medianOr(deletes, 1e6), "ms"),
      "serving.delete_tail_ms" -> (ms(deletes.tail._2.toDouble), "ms"),
      "serving.key_lookup_us" -> (medianOr(lookupsNs, 1e3), "us"),
      "client.search_p99_ms" -> (loop.p99Ms, "ms"),
      "client.search_qps_par" -> (qpsPar, "1/s"),
      "client.par_scaling" -> (qpsPar / (qps * nproc), "ratio"),
      "jvm.gc_ms" -> (jvm.gcMs.toDouble, "ms"),
      "jvm.gc_count" -> (jvm.gcCount.toDouble, "count"),
      "jvm.alloc_mb" -> (jvm.allocBytes / 1048576.0, "MB"),
      "spark.jobs" -> (spark.jobs.toDouble, "count"),
      "spark.tasks" -> (spark.tasks.toDouble, "count"),
      "spark.shuffle_mb" -> (spark.shuffleBytes / 1048576.0, "MB"),
      "spark.spill_mb" -> (spark.spillBytes / 1048576.0, "MB"),
      "artifact.disk_mb" -> (diskBytes / 1048576.0, "MB"),
      "trace.overhead_pct" -> (
        if (loop.traced.size == 0 || loop.untraced.size == 0) Double.NaN
        else 100.0 * (loop.traced.p(50).toDouble / loop.untraced.p(50) - 1.0), "%"))
  }
}
