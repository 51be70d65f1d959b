package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** One timed interval around a call into a layer. `parent` is the id of
  * the enclosing span on the same thread, or -1. */
final case class Span(id: Int, parent: Int, request: Long, layer: String, name: String,
    start: Long, end: Long)

/** In-memory span recorder; when disabled, `apply` only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[java.util.ArrayDeque[Integer]](() => new java.util.ArrayDeque[Integer]())

  def apply[T](layer: String, name: String, request: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val stack = open.get()
      val parent = if (stack.isEmpty) -1 else stack.peek().intValue
      val id = ids.getAndIncrement()
      stack.push(id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        done.add(Span(id, parent, request, layer, name, t0, t1))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer {

  /** Nanoseconds of each span not covered by its children. Children
    * may overlap each other (a parallel phase); their union counts once. */
  def selfNanos(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> ((s.end - s.start) - covered)
    }.toMap
  }

  /** Self time per layer, summed over its spans. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNanos(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}

/** Cumulative collector time and count, and the calling thread's
  * allocated bytes. */
final case class JvmCounters(gcMs: Long, gcCount: Long, allocBytes: Long) {
  def -(o: JvmCounters): JvmCounters =
    JvmCounters(gcMs - o.gcMs, gcCount - o.gcCount, allocBytes - o.allocBytes)
}

object JvmCounters {
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  def threadAllocated(): Long = threads.getCurrentThreadAllocatedBytes

  def now(): JvmCounters = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    JvmCounters(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      threadAllocated())
  }

  /** Waits, up to `maxSeconds`, until the JIT compilers have had no work
    * for half a second, so background compilation of the set-up's hot
    * code does not compete with a timed phase. Returns seconds waited. */
  def settleJit(maxSeconds: Double = 20.0): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = -1L
    var quiet = 0
    while (quiet < 5 && System.nanoTime() - t0 < maxSeconds * 1e9) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      if (now == last) quiet += 1 else quiet = 0
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after full collections, in bytes. Collections repeat
    * until the figure stops falling: objects that only become garbage
    * after a collection (weakly held caches, Spark's cleaner) need a
    * second or third one. */
  def heapAfterFullGc(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    var best = Long.MaxValue
    var rounds = 0
    var falling = true
    while (falling && rounds < 8) {
      System.gc()
      Thread.sleep(100)
      val used = mem.getHeapMemoryUsage.getUsed
      falling = used < best - (1L << 20)
      best = math.min(best, used)
      rounds += 1
    }
    best
  }
}

/** A growable array of nanosecond samples. */
final class Samples {
  private var xs = new Array[Long](1024)
  private var n = 0
  def add(x: Long): Unit = {
    if (n == xs.length) xs = java.util.Arrays.copyOf(xs, n * 2)
    xs(n) = x
    n += 1
  }
  def size: Int = n
  def toArray: Array[Long] = java.util.Arrays.copyOf(xs, n)
  def sum: Long = toArray.sum
  def p(pct: Double): Long = Stats.percentile(toArray, pct)
  /** The highest percentile with ten samples beyond it, and its value. */
  def tail: (Double, Long) = {
    val p = Stats.highestSupported(n).getOrElse(50.0)
    (p, Stats.percentile(toArray, p))
  }
}
