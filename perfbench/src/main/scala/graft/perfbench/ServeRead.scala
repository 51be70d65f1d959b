package graft.perfbench

import graft.index.ServingIndex

/** serve-read: one insert-built `ServingIndex` over uniform vectors, then
  * top-10 searches of held-out queries from 1 and from `nproc` clients.
  * Graph traversal, the distance kernel and the exact re-rank do nearly
  * all the work; Spark, scatter and PQ stay idle. After the timed
  * searches the run looks keys up and deletes some, so the key maps and
  * delete path are checked and timed too.
  *
  * The set-up, inserting the corpus one vector at a time, is done
  * [[Builds]] times into fresh indexes; the builds do identical work.
  * `setup_s` is the median build time. For `insert_p50_ms` each chunk of
  * [[InsertChunk]] consecutive inserts takes its p50 from the build in
  * which it ran fastest (host neighbours only ever slow a call down), and
  * the figure is the median over chunks. The last build is searched. */
object ServeRead {

  val Vectors = 3000
  val Builds = 3
  val InsertChunk = 100
  val Queries = 1000
  val Lookups = 1000
  /** Enough deletes for the delete tail to be a p99. */
  val Deletes = 1100
  /** Groups of 1-client segments, at different points of the run. */
  val Groups = 3

  def run(run: Run): Unit = {
    val corpusR = Gen.stream(run.seed, 1)
    val queryR = Gen.stream(run.seed, 2)
    val pickR = Gen.stream(run.seed, 3)
    val corpus = Array.fill(Vectors)(Gen.uniform(corpusR))
    val queries = Array.fill(Queries)(Gen.uniform(queryR))
    val keys = Array.tabulate(Vectors)(i => s"r$i")
    val ids = new Array[Long](Vectors)
    val live = new Serve.Live

    val inserts, insertAlloc, wire = new Samples
    val chunks = Array.fill(Builds, (Vectors + InsertChunk - 1) / InsertChunk)(new Samples)
    val buildSeconds = new Array[Double](Builds)
    var idx: ServingIndex = null
    (0 until Builds).foreach { b =>
      idx = null
      live.clear()
      val index = new ServingIndex(Gen.Dim)
      val wireBefore = wire.sum
      val start = System.nanoTime()
      run.phase("setup") {
        corpus.indices.foreach { i =>
          // the traced run's extra calls, made in the first build only
          if (run.traceOn && b == 0 && i > 0)
            run.call("ServingIndex", "search.wire", i)(index.search(corpus(i), 64, 300)).foreach(w => wire.add(w._2))
          val a0 = JvmCounters.threadAllocated()
          run.call("ServingIndex", "insert", i)(index.insert(corpus(i), Some(keys(i)))).foreach {
            case ((k, id), ns) =>
              if (run.traceOn && b == 0) insertAlloc.add(JvmCounters.threadAllocated() - a0)
              if (run.check(k == keys(i) && !live.contains(id), s"insert of ${keys(i)} returned ($k, $id)")) {
                inserts.add(ns); chunks(b)(i / InsertChunk).add(ns); ids(i) = id; live.put(id, corpus(i))
              }
          }
        }
      }
      // wire searches are not set-up work
      buildSeconds(b) = (System.nanoTime() - start - (wire.sum - wireBefore)) / 1e9
      idx = index
    }
    val setupSeconds = Stats.median(buildSeconds.toSeq)
    val insertP50Ms = Stats.median(chunks.transpose.toSeq.flatMap { c =>
      c.filter(_.size > 0).map(s => Serve.ms(s.p(50).toDouble)).minOption
    })
    val heap = JvmCounters.heapAfterFullGc()

    val (liveIds, liveVecs) = live.snapshot
    val truth = Stats.groundTruth(queries, liveIds, liveVecs, Serve.K)
    val search: Array[Float] => IndexedSeq[Serve.Hit] = q => idx.searchWithDistances(q, Serve.K)
    val loop = new Serve.SearchLoop
    def group(): Unit = {
      Serve.settle(run)
      Serve.oneClient(run, "ServingIndex", queries, search, live, run.seconds * Serve.OneClientShare / Groups, loop)
    }
    Serve.warm(run, "ServingIndex", queries, search, live)
    group()
    val (qpsPar, found) = Serve.parallel(run, "ServingIndex", queries, search, live, run.seconds * Serve.ParallelShare)
    val recall = Stats.recall(found.toSeq, truth.toSeq, Serve.K)
    group()

    val picks = Gen.distinct(pickR, Lookups, Vectors).map(i => (keys(i), ids(i))).toSeq
    val lookups = Serve.lookups(run, "ServingIndex", picks, live, idx.idForKey, (k, _) => idx.embeddingByKey(k))
    group()
    val deletes = new Samples
    run.timed("delete") {
      Gen.distinct(pickR, Deletes, Vectors).foreach { i =>
        run.call("ServingIndex", "deleteByKey", i)(idx.deleteByKey(keys(i))).foreach { case (ok, ns) =>
          if (run.check(ok && idx.idForKey(keys(i)).isEmpty, s"deleted key ${keys(i)} still resolves")) {
            deletes.add(ns); live.remove(ids(i))
          }
        }
      }
    }
    run.check(idx.numPoints == live.size, s"index holds ${idx.numPoints} points, expected ${live.size}")

    run.detail ++= buildSeconds.zipWithIndex.map { case (s, b) => s"build${b + 1}_s" -> (s, "s") }
    Serve.report(run, setupSeconds, heap, loop, qpsPar, recall, insertP50Ms, inserts, deletes, insertAlloc, wire,
      lookups, Serve.distNanos(run, corpus), SparkMeter.Totals(), 0L)
  }
}
