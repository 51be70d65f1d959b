package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One benchmark run: op accounting, correctness failures, timed calls
  * and the metrics the run reports. */
final class Run(val workload: String, val seed: Long, val seconds: Double, traced: Boolean) {

  val tracer = new Tracer(traced)
  def traceOn: Boolean = tracer.enabled

  private val attempts = new AtomicLong
  private val failures = new AtomicLong
  private val messages = new ConcurrentLinkedQueue[String]()

  /** End-to-end, per-layer and workload-specific metrics, in report order. */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** JVM counters summed over the timed phases. */
  private val timedGcMs = new AtomicLong
  private val timedGcCount = new AtomicLong
  private val timedAlloc = new AtomicLong

  def attempted: Long = attempts.get
  def failed: Long = failures.get
  def failureMessages: Seq[String] = messages.toArray.toSeq.map(_.toString)

  def fail(msg: String): Unit = {
    failures.incrementAndGet()
    if (messages.size < 20) messages.add(msg)
  }

  /** Records `msg` as a failed op unless `ok`. */
  def check(ok: Boolean, msg: => String): Boolean = { if (!ok) fail(msg); ok }

  /** Times one public call of `layer`. An exception counts as a failed
    * op and yields None, never a time. */
  def call[T](layer: String, name: String, request: Long = -1L, trace: Boolean = true)(f: => T): Option[(T, Long)] = {
    attempts.incrementAndGet()
    try {
      val t0 = System.nanoTime()
      val v = if (trace) tracer(layer, name, request)(f) else f
      Some((v, System.nanoTime() - t0))
    } catch {
      case e: Exception =>
        fail(s"$layer.$name threw ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** A benchmark phase: a span of layer `client` (when tracing) whose
    * children are the calls made inside it. */
  def phase[T](name: String)(f: => T): T = tracer("client", name)(f)

  /** A timed phase: its collector time, collections and the calling
    * thread's allocation count towards the run's jvm.* metrics. */
  def timed[T](name: String)(f: => T): T = {
    val before = JvmCounters.now()
    try phase(name)(f)
    finally addJvm(JvmCounters.now() - before)
  }

  /** Allocation by a worker thread inside a timed phase (collector time
    * is process-wide and already counted by [[timed]]). */
  def addAlloc(bytes: Long): Unit = timedAlloc.addAndGet(bytes)

  private def addJvm(d: JvmCounters): Unit = {
    timedGcMs.addAndGet(d.gcMs)
    timedGcCount.addAndGet(d.gcCount)
    timedAlloc.addAndGet(d.allocBytes)
  }

  def jvmTimed: JvmCounters = JvmCounters(timedGcMs.get, timedGcCount.get, timedAlloc.get)
}
