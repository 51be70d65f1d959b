package graft.perfbench

import graft.index.ServingIndex
import scala.collection.mutable

/** ingest-churn: one `ServingIndex` takes writes beside reads. After a
  * keyed preload, a seeded stream of 60% insert, 25% search, 10%
  * delete by key and 5% key lookup runs from one client until the live
  * set reaches [[TargetLive]] and at least [[MinDeletes]] deletes and
  * [[MinSearches]] searches have run. Inserts pay an ef-300 self-search, a
  * truncation prune and key-map updates; deletes unlink and may re-elect
  * the entry point. Recall is measured at the end against brute force
  * over the live set. */
object IngestChurn {

  val Preload = 1000
  /** The preload is the set-up; it is repeated and the median reported. */
  val PreloadRounds = 3
  val TargetLive = 6000
  val Queries = 1000
  /** The delete tail is a p99, which needs ten samples beyond it. */
  val MinDeletes = 1000
  /** The stream's searches are one segment: its thirds differ by design
    * (the index grows from 1,000 to 6,000 live), so they are not split.
    * Their p99 needs ten samples beyond it. */
  val MinSearches = 1000

  def run(run: Run): Unit = {
    val corpusR = Gen.stream(run.seed, 11)
    val queryR = Gen.stream(run.seed, 12)
    val opR = Gen.stream(run.seed, 13)
    val pickR = Gen.stream(run.seed, 14)
    val queries = Array.fill(Queries)(Gen.mixture(queryR))
    val preload = Array.fill(Preload)(Gen.mixture(corpusR))

    val live = new Serve.Live
    val keys = mutable.ArrayBuffer.empty[(String, Long)] // live keys, for uniform picks
    val inserts, insertAlloc, wire, deletes, lookups = new Samples
    val searches = new Samples
    val loop = new Serve.SearchLoop
    var next = 0 // keys are c<next>, in insert order

    /** Inserts `v` under the next key; returns the call's nanoseconds, or
      * 0 when it failed. */
    def insert(idx: ServingIndex, v: Array[Float], op: Long, timed: Boolean): Long = {
      val key = s"c$next"
      next += 1
      if (timed && run.traceOn && live.size > 0)
        run.call("ServingIndex", "search.wire", op)(idx.search(v, 64, 300)).foreach(w => wire.add(w._2))
      val a0 = JvmCounters.threadAllocated()
      run.call("ServingIndex", "insert", op)(idx.insert(v, Some(key))).map { case ((k, id), ns) =>
        if (timed && run.traceOn) insertAlloc.add(JvmCounters.threadAllocated() - a0)
        if (run.check(k == key && !live.contains(id), s"insert of $key returned ($k, $id)")) {
          if (timed) inserts.add(ns)
          live.put(id, v)
          keys += ((key, id))
          ns
        } else 0L
      }.getOrElse(0L)
    }

    def takeKey(): (String, Long) = {
      val i = pickR.nextInt(keys.size)
      val kv = keys(i)
      keys(i) = keys.last
      keys.remove(keys.size - 1)
      kv
    }

    val rounds = (1 to PreloadRounds).map { _ =>
      live.clear(); keys.clear(); next = 0
      val idx = new ServingIndex(Gen.Dim)
      val t0 = System.nanoTime()
      run.phase("setup") { preload.indices.foreach(i => insert(idx, preload(i), i, timed = false)) }
      (idx, (System.nanoTime() - t0) / 1e9)
    }
    val idx = rounds.last._1
    val setupSeconds = Stats.median(rounds.map(_._2))
    JvmCounters.heapAfterFullGc()
    Serve.settle(run)

    var ops = 0L
    var opNanos = 0L
    run.timed("churn") {
      while (live.size < TargetLive || deletes.size < MinDeletes || searches.size < MinSearches) {
        val op = if (keys.isEmpty) Gen.Insert else Gen.nextOp(opR)
        op match {
          case Gen.Insert =>
            val v = Gen.mixture(corpusR)
            opNanos += insert(idx, v, ops, timed = true)
          case Gen.Search =>
            val q = queries(pickR.nextInt(Queries))
            val traceIt = run.traceOn && searches.size % 2 == 0
            val a0 = JvmCounters.threadAllocated()
            run.call("ServingIndex", "search", ops, traceIt)(idx.searchWithDistances(q, Serve.K)).foreach {
              case (hits, ns) =>
                val a1 = JvmCounters.threadAllocated()
                if (Serve.checkHits(run, q, hits, live)) {
                  opNanos += ns
                  searches.add(ns)
                  if (traceIt) loop.traced.add(ns) else loop.untraced.add(ns)
                  if (run.traceOn) loop.allocBytes.add(a1 - a0)
                }
            }
          case Gen.Delete =>
            val (k, id) = takeKey()
            run.call("ServingIndex", "deleteByKey", ops)(idx.deleteByKey(k)).foreach { case (ok, ns) =>
              if (run.check(ok && idx.idForKey(k).isEmpty, s"deleted key $k still resolves")) {
                opNanos += ns; deletes.add(ns); live.remove(id)
              }
            }
          case Gen.Lookup =>
            val (k, id) = keys(pickR.nextInt(keys.size))
            run.call("ServingIndex", "idForKey", ops)(idx.idForKey(k)).foreach { case (got, ns) =>
              if (run.check(got.contains(id), s"idForKey($k) = $got, expected $id")) {
                opNanos += ns; lookups.add(ns)
              }
            }
            run.call("ServingIndex", "embedding", ops)(idx.embeddingByKey(k)).foreach { case (v, ns) =>
              if (run.check(Serve.sameBits(v, live(id)), s"embedding of $k differs from the inserted vector"))
                opNanos += ns
            }
        }
        ops += 1
      }
    }
    loop.add(searches)
    run.check(idx.numPoints == live.size, s"index holds ${idx.numPoints} points, expected ${live.size}")
    val heap = JvmCounters.heapAfterFullGc()

    val (liveIds, liveVecs) = live.snapshot
    val truth = Stats.groundTruth(queries, liveIds, liveVecs, Serve.K)
    val search: Array[Float] => IndexedSeq[Serve.Hit] = q => idx.searchWithDistances(q, Serve.K)
    val (qpsPar, found) = Serve.parallel(run, "ServingIndex", queries, search, live, run.seconds * Serve.ParallelShare)
    val recall = Stats.recall(found.toSeq, truth.toSeq, Serve.K)

    run.detail ++= Seq(
      "ops" -> (ops.toDouble, "count"),
      "ops_s" -> (ops / (opNanos / 1e9), "1/s"),
      "live_vectors" -> (live.size.toDouble, "count"))
    Serve.report(run, setupSeconds, heap, loop, qpsPar, recall, Serve.ms(inserts.p(50).toDouble), inserts,
      deletes, insertAlloc, wire, lookups, Serve.distNanos(run, liveVecs), SparkMeter.Totals(), 0L)
  }
}
