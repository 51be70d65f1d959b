package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Counts Spark's work per engine call. Calls run one after another, so
  * a job belongs to the call whose wall-clock window holds its submission
  * time; that also catches jobs the engine submits from its own threads. */
final class SparkMeter(spark: SparkSession) extends SparkListener {
  import SparkMeter.Totals

  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Seq[Int])]
  private val tasks = mutable.ArrayBuffer.empty[(Int, Totals)]

  spark.sparkContext.addSparkListener(this)

  /** Runs `f`, attributing the Spark jobs submitted meanwhile to `call`. */
  def apply[T](call: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally synchronized { windows += ((call, t0, System.currentTimeMillis())) }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.time, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += ((e.stageId,
      if (m == null) Totals(tasks = 1)
      else Totals(tasks = 1, cpuNanos = m.executorCpuTime, gcMs = m.jvmGCTime,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)))
  }

  /** Totals per call, in call order, once every posted event has been
    * delivered. Work outside every call is reported as `other`. */
  def calls: Seq[(String, Totals)] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      def callAt(t: Long) = windows.find { case (_, a, b) => t >= a && t <= b }.map(_._1).getOrElse("other")
      val stageCall = mutable.HashMap.empty[Int, String]
      val out = mutable.LinkedHashMap.empty[String, Totals]
      windows.foreach { case (c, _, _) => out(c) = Totals() }
      jobs.foreach { case (t, stages) =>
        val c = callAt(t)
        stages.foreach(s => stageCall(s) = c)
        out(c) = out.getOrElse(c, Totals()) + Totals(jobs = 1)
      }
      tasks.foreach { case (s, t) =>
        val c = stageCall.getOrElse(s, "other")
        out(c) = out.getOrElse(c, Totals()) + t
      }
      out.toSeq
    }
  }
}

object SparkMeter {
  final case class Totals(jobs: Long = 0, tasks: Long = 0, cpuNanos: Long = 0, gcMs: Long = 0,
      shuffleBytes: Long = 0, spillBytes: Long = 0) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, tasks + o.tasks, cpuNanos + o.cpuNanos,
      gcMs + o.gcMs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  }
}
