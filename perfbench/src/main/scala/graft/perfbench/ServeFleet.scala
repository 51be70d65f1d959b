package graft.perfbench

import graft.index.{DistributedSearch, GraphBuilder, Metric, ShardedServing, VectorIndex}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** serve-fleet: the Spark production path on `local[nproc]` over vectors
  * from the 50-cluster mixture. Set-up is `VectorIndex.build`, a 4-shard
  * `ShardedServing.fromIndex`, `fitPQ(m = 10)` and PQ low-memory
  * traversal; then top-10 searches through the router from 1 and from
  * `nproc` clients, and a micro-batch of inserts and deletes applied to
  * the live fleet call by call; the inserts also go to two restarted
  * twins of the fleet, so that each is timed three times. The traced run adds the batch paths: one
  * `DistributedSearch.beamSearch` batch, the same micro-batch made
  * durable (`insertBatch`, `deleteBatch`), a reload and `exactKnnGraph`.
  * This exercises every layer serve-read bypasses: Spark build, Parquet
  * persistence, fleet load, scatter-gather, PQ ADC and batch search. */
object ServeFleet {

  val Vectors = 3000
  val Queries = 1000
  val Shards = 4
  val PqM = 10
  val BeamQueries = 200
  val BatchInserts = 1000
  /** The micro-batch's inserts land in this many chunks on the live fleet
    * and on [[Twins]] twins: fleets restarted from the same index, which
    * take the same chunks in the same order, each [[TwinLag]] chunks behind
    * the one before, so all do the same work at different times. A
    * stretch of the 1-client search loop follows each step. Each chunk
    * counts with its fastest p50 of all fleets, and `insert_p50_ms` is the
    * lower [[Serve.QuietQuantile]] of those, for the reason
    * [[Serve.SegmentSearches]] gives: the fleet grows by only a third, so
    * its chunks are alike. */
  val InsertChunks = 50
  val Twins = 2
  val TwinLag = 20
  val BatchDeletes = 500
  val Lookups = 1000
  /** Queries whose per-shard times split a router search into the
    * slowest shard and the scatter-gather around it. */
  val ShardProbeQueries = 200

  private val vectorSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))
  private val querySchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false)))

  final class Aborted(msg: String) extends RuntimeException(msg)

  def run(run: Run, work: String): Unit = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${Serve.nproc}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Serve.nproc.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    run.detail("spark_start_s") = ((System.nanoTime() - t0) / 1e9, "s")
    try body(run, spark, s"$work/index") finally spark.stop()
  }

  private def body(run: Run, spark: SparkSession, path: String): Unit = {
    val corpusR = Gen.stream(run.seed, 21)
    val queryR = Gen.stream(run.seed, 22)
    val batchR = Gen.stream(run.seed, 23)
    val pickR = Gen.stream(run.seed, 24)
    val corpus = Array.fill(Vectors)(Gen.mixture(corpusR))
    val queries = Array.fill(Queries)(Gen.mixture(queryR))
    val batch = Array.fill(BatchInserts)(Gen.mixture(batchR))
    val keys = Array.tabulate(Vectors)(i => s"f$i")
    val batchKeys = Array.tabulate(BatchInserts)(i => s"b$i")
    val victims = Gen.distinct(pickR, BatchDeletes, Vectors)
    val live = new Serve.Live
    corpus.indices.foreach(i => live.put(i + 1L, corpus(i)))
    val sc = spark.sparkContext
    val source = spark.createDataFrame(
      sc.parallelize(corpus.indices.map(i => Row(i.toLong, keys(i), corpus(i).toSeq)), Serve.nproc), vectorSchema)

    val meter = new SparkMeter(spark)
    val must = new Must(run, meter)

    val (idx, buildNs) = run.phase("setup") { must("VectorIndex", "build")(VectorIndex.build(spark, path, source, Gen.Dim)) }
    val buildBytes = Disk.bytes(path)
    val (fleet, loadNs) = run.phase("setup") { must("ShardedServing", "fromIndex")(ShardedServing.fromIndex(idx, Shards)) }
    val layoutBytes = Disk.bytes(path) - buildBytes
    val (pq, fitNs) = run.phase("setup") { must("VectorIndex", "fitPQ")(idx.fitPQ(PqM)) }
    val (_, enableNs) = run.phase("setup") {
      must("ShardedServing", "enableLowMemoryTraversal")(fleet.enableLowMemoryTraversal(pq))
    }
    val setupSeconds = (buildNs + loadNs + fitNs + enableNs) / 1e9
    run.check(fleet.numPoints == Vectors, s"fleet holds ${fleet.numPoints} points, expected $Vectors")
    val heap = JvmCounters.heapAfterFullGc()
    val (twins, restartNs) = (1 to Twins).map { _ =>
      val (twin, ns) = must("ShardedServing", "fromIndex.restart")(ShardedServing.fromIndex(idx, Shards))
      run.check(twin.numPoints == Vectors, s"restarted fleet holds ${twin.numPoints} points")
      must("ShardedServing", "enableLowMemoryTraversal.restart")(twin.enableLowMemoryTraversal(pq))
      (twin, ns)
    }.unzip

    val truth = Stats.groundTruth(queries, corpus.indices.map(_ + 1L).toArray, corpus, Serve.K)
    val search: Array[Float] => IndexedSeq[Serve.Hit] = q => fleet.search(q, Serve.K)
    val loop = new Serve.SearchLoop
    val stretch = run.seconds * Serve.OneClientShare / (InsertChunks + Twins * TwinLag)
    def oneClient(): Unit = Serve.oneClient(run, "ShardedServing", queries, search, live, stretch, loop)
    Serve.warm(run, "ShardedServing", queries, search, live)
    Serve.settle(run)
    oneClient()
    val shardNs = shardProbe(run, fleet, queries, live)
    // recall is measured before any insert, against the corpus
    val (qpsPar, found) = Serve.parallel(run, "ShardedServing", queries, search, live, run.seconds * Serve.ParallelShare)
    val recall = Stats.recall(found.toSeq, truth.toSeq, Serve.K)
    pqKernels(run, pq, queries, corpus)

    // the micro-batch's inserts land on the live fleet and on its twins in
    // chunks between the remaining search stretches, call by call
    val insertChunks = batch.indices.grouped((BatchInserts + InsertChunks - 1) / InsertChunks).toSeq
    val inserts, insertAlloc, wire, deletes = new Samples
    val fleets = fleet +: twins
    val chunkLatencies = Array.fill(fleets.size, insertChunks.size)(new Samples)
    val liveIds = new Array[Long](BatchInserts)
    def insertChunk(f: Int, c: Int): Unit = run.timed("insert") {
      insertChunks(c).foreach { i =>
        if (run.traceOn && f == 0)
          run.call("ShardedServing", "search.wire", i)(fleet.search(batch(i), 64, 300)).foreach(w => wire.add(w._2))
        val a0 = JvmCounters.threadAllocated()
        val name = if (f == 0) "insert" else "insert.twin"
        run.call("ShardedServing", name, i)(fleets(f).insert(batch(i), Some(batchKeys(i)))).foreach { case ((k, gid), ns) =>
          if (run.traceOn && f == 0) insertAlloc.add(JvmCounters.threadAllocated() - a0)
          val ok =
            if (f > 0) run.check(k == batchKeys(i) && gid == liveIds(i),
              s"twin insert of ${batchKeys(i)} returned ($k, $gid), the live fleet ${liveIds(i)}")
            else run.check(k == batchKeys(i) && !live.contains(gid),
              s"fleet insert of ${batchKeys(i)} returned ($k, $gid)")
          if (ok) {
            chunkLatencies(f)(c).add(ns); inserts.add(ns)
            if (f == 0) { live.put(gid, batch(i)); liveIds(i) = gid }
          }
        }
      }
    }
    (0 until insertChunks.size + Twins * TwinLag).foreach { t =>
      if (t > 0) oneClient()
      fleets.indices.foreach { f =>
        val c = t - f * TwinLag
        if (c >= 0 && c < insertChunks.size) insertChunk(f, c)
      }
    }
    twins.foreach(tw => run.check(tw.numPoints == Vectors + BatchInserts, s"twin holds ${tw.numPoints} points"))
    val insertP50Ms = Stats.quantile(insertChunks.indices.flatMap { c =>
      chunkLatencies.map(_(c)).filter(_.size > 0).map(l => Serve.ms(l.p(50).toDouble)).minOption
    }, Serve.QuietQuantile)
    run.timed("delete") {
      victims.foreach { v =>
        run.call("ShardedServing", "delete", v)(fleet.delete(v + 1L)).foreach { case (_, ns) =>
          if (run.check(fleet.idForKey(keys(v)).isEmpty, s"deleted key ${keys(v)} still resolves")) {
            deletes.add(ns); live.remove(v + 1L)
          }
        }
      }
    }
    val victimSet = victims.toSet
    val picks = Gen.distinct(pickR, Lookups, Vectors).filterNot(victimSet).map(i => (keys(i), i + 1L)).toSeq
    val lookups = Serve.lookups(run, "ShardedServing", picks, live, fleet.idForKey, (_, id) => fleet.embeddingById(id))
    val expected = Vectors + BatchInserts - BatchDeletes
    run.check(fleet.numPoints == expected, s"fleet holds ${fleet.numPoints} points, expected $expected")

    // The batch paths are measured in the traced run only: each costs
    // several seconds of Spark work and feeds no end-to-end metric.
    if (run.traceOn) batchPaths(run, spark, path, idx, must, corpus, queries, truth, batch, batchKeys, victims, expected)
    val diskBytes = Disk.bytes(path)

    val calls = meter.calls
    calls.foreach { case (c, t) =>
      run.detail ++= Seq(
        s"spark.$c.jobs" -> (t.jobs.toDouble, "count"),
        s"spark.$c.tasks" -> (t.tasks.toDouble, "count"),
        s"spark.$c.cpu_s" -> (t.cpuNanos / 1e9, "s"),
        s"spark.$c.gc_s" -> (t.gcMs / 1e3, "s"),
        s"spark.$c.shuffle_mb" -> (t.shuffleBytes / 1048576.0, "MB"),
        s"spark.$c.spill_mb" -> (t.spillBytes / 1048576.0, "MB"))
    }
    run.detail ++= Seq(
      "build_s" -> (buildNs / 1e9, "s"),
      "load_s" -> (loadNs / 1e9, "s"),
      "fit_pq_s" -> (fitNs / 1e9, "s"),
      "restart_load_s" -> (Stats.median(restartNs.map(_ / 1e9)), "s"),
      "disk_bytes_per_user_byte" -> (diskBytes.toDouble / (expected * Gen.Dim * 4.0), "ratio"),
      "artifact.build_mb" -> (buildBytes / 1048576.0, "MB"),
      "artifact.fleet_layout_mb" -> (layoutBytes / 1048576.0, "MB"),
      "sharded.search_ms" -> (shardNs._1, "ms"),
      "sharded.shard_max_ms" -> (shardNs._2, "ms"),
      "sharded.scatter_ms" -> (shardNs._3, "ms"))
    Serve.report(run, setupSeconds, heap, loop, qpsPar, recall, insertP50Ms, inserts, deletes, insertAlloc, wire,
      lookups, Serve.distNanos(run, corpus), calls.map(_._2).reduce(_ + _), diskBytes)
    // the ServingIndex layer on its own: a shard's direct search
    run.layer("serving.search_ms") = (shardNs._4, "ms")
  }

  /** Times a call whose failure leaves nothing to measure: the run stops. */
  private final class Must(run: Run, meter: SparkMeter) {
    def apply[T](layer: String, name: String)(f: => T): (T, Long) =
      run.call(layer, name)(meter(name)(f)).getOrElse(throw new Aborted(s"$layer.$name failed"))
  }

  /** `DistributedSearch.beamSearch` of [[BeamQueries]] queries (result
    * collected and released), the durable micro-batch (`insertBatch`,
    * `deleteBatch`), a reload that must hold `expected` points, and
    * `exactKnnGraph` over the stored vectors. */
  private def batchPaths(run: Run, spark: SparkSession, path: String, idx: VectorIndex, must: Must,
      corpus: Array[Array[Float]], queries: Array[Array[Float]], truth: Array[Array[Long]],
      batch: Array[Array[Float]], batchKeys: Array[String], victims: Array[Int], expected: Long): Unit = {
    val sc = spark.sparkContext
    val qdf = spark.createDataFrame(
      sc.parallelize((0 until BeamQueries).map(i => Row(i.toLong, queries(i).toSeq)), Serve.nproc), querySchema)
    val (rows, beamNs) = must("DistributedSearch", "beamSearch") {
      val res = DistributedSearch.beamSearch(idx, qdf, Serve.K)
      try res.select("query_id", "public_id", "dist", "rnk").collect() finally DistributedSearch.release(res)
    }
    // the durable index still holds exactly the corpus
    val stored = new Serve.Live
    corpus.indices.foreach(i => stored.put(i + 1L, corpus(i)))
    val byQuery = rows.groupBy(_.getLong(0))
    val beamFound = (0 until BeamQueries).map { i =>
      val hits = byQuery.getOrElse(i.toLong, Array.empty[Row]).sortBy(_.getInt(3))
        .map(r => (Option.empty[String], r.getLong(1), r.getDouble(2))).toIndexedSeq
      if (Serve.checkHits(run, queries(i), hits, stored)) hits.map(_._2).toArray else Array.empty[Long]
    }

    val batchDf = spark.createDataFrame(
      sc.parallelize(batch.indices.map(i => Row(i.toLong, batchKeys(i), batch(i).toSeq)), Serve.nproc), vectorSchema)
      .select("key", "vec")
    val before = Disk.bytes(path)
    val (idx2, insertBatchNs) = must("VectorIndex", "insertBatch")(idx.insertBatch(batchDf))
    val (_, deleteBatchNs) = must("VectorIndex", "deleteBatch")(idx2.deleteBatch(victims.map(_ + 1L).toSeq))
    val writeBytes = Disk.bytes(path) - before
    val (reloaded, _) = must("VectorIndex", "load")(VectorIndex.load(spark, path).vectors.count())
    run.check(reloaded == expected, s"reloaded index holds $reloaded points, expected $expected")

    val (edges, knnNs) = must("GraphBuilder", "exactKnnGraph") {
      GraphBuilder.exactKnnGraph(VectorIndex.load(spark, path).vectors.select("id", "vec"),
        idx.meta.maxDegree - 2, Metric.Euclidean).count()
    }
    run.check(edges > 0, "exactKnnGraph returned no edges")
    run.detail ++= Seq(
      "batch_search_s" -> (beamNs / 1e9, "s"),
      "beam.recall_at_10" -> (Stats.recall(beamFound, truth.take(BeamQueries).toSeq, Serve.K), "fraction"),
      "write_batch_s" -> ((insertBatchNs + deleteBatchNs) / 1e9, "s"),
      "artifact.write_batch_mb" -> (writeBytes / 1048576.0, "MB"),
      "graph_builder.knn_s" -> (knnNs / 1e9, "s"))
  }

  /** Router time, slowest shard's direct `searchWithDistances`, their
    * difference (the scatter-gather), and a shard's median direct search,
    * all as medians in ms over [[ShardProbeQueries]] queries. */
  private def shardProbe(run: Run, fleet: ShardedServing, queries: Array[Array[Float]],
      live: Serve.Live): (Double, Double, Double, Double) = {
    val router, slowest, scatter, shard = new Samples
    run.phase("search.shards") {
      (0 until ShardProbeQueries).foreach { i =>
        val q = queries(i % queries.length)
        val times = fleet.shardRefs.zipWithIndex.flatMap { case (s, j) =>
          run.call("ServingIndex", s"search.shard$j", i)(s.searchWithDistances(q, Serve.K)).map(_._2)
        }
        run.call("ShardedServing", "search", i)(fleet.search(q, Serve.K)).foreach { case (hits, ns) =>
          if (Serve.checkHits(run, q, hits, live) && times.size == fleet.shardRefs.size) {
            router.add(ns); slowest.add(times.max); scatter.add(ns - times.max); times.foreach(shard.add)
          }
        }
      }
    }
    (Serve.ms(router.p(50).toDouble), Serve.ms(slowest.p(50).toDouble),
      Serve.ms(scatter.p(50).toDouble), Serve.ms(shard.p(50).toDouble))
  }

  /** PQ kernels on this run's data: `lutFor` per query, `encodeOne` per
    * vector, and `adc` per (code, table) pair. */
  private def pqKernels(run: Run, pq: graft.index.Quantization.PQModel,
      queries: Array[Array[Float]], corpus: Array[Array[Float]]): Unit = run.phase("pq") {
    val luts = queries.take(200).map(q => run.call("Quantization", "lutFor")(pq.lutFor(q)))
    val codes = corpus.take(1000).map(v => run.call("Quantization", "encodeOne")(pq.encodeOne(v)))
    val ok = luts.forall(_.isDefined) && codes.forall(_.isDefined)
    if (run.check(ok, "a PQ kernel threw")) {
      val ls = luts.map(_.get._1)
      val cs = codes.map(_.get._1)
      var sink = 0.0
      val adcNs = run.call("Quantization", "adc.x200000") {
        var i = 0
        while (i < 200000) { sink += graft.index.Quantization.adc(cs(i % cs.length), ls(i % ls.length), pq.k); i += 1 }
      }.map(_._2 / 200000.0)
      run.check(!sink.isNaN, "adc returned NaN")
      run.detail ++= Seq(
        "pq.lut_us" -> (Stats.median(luts.map(_.get._2 / 1e3).toSeq), "us"),
        "pq.encode_us" -> (Stats.median(codes.map(_.get._2 / 1e3).toSeq), "us"),
        "pq.adc_ns" -> (adcNs.getOrElse(Double.NaN), "ns"))
    }
  }
}

/** Bytes of the regular files under a directory. */
object Disk {
  def bytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
