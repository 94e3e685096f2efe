package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters from one `SparkListener`. Totals only grow; a phase's
  * share is the difference of two snapshots taken with the listener bus
  * drained, so phases must run one at a time. */
final class EngineListener extends SparkListener {
  val jobs, stages, tasks, singleTaskStageNs, executorRunNs, shuffleWriteBytes,
      spillBytes, recordsRead = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.incrementAndGet()
    if (i.numTasks == 1)
      for (s <- i.submissionTime; c <- i.completionTime)
        singleTaskStageNs.addAndGet((c - s) * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      executorRunNs.addAndGet(m.executorRunTime * 1000000L)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snapshot(spark: SparkSession): Engine = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    Engine(jobs.get, stages.get, tasks.get, singleTaskStageNs.get, executorRunNs.get,
      shuffleWriteBytes.get, spillBytes.get, recordsRead.get, System.nanoTime())
  }
}

final case class Engine(jobs: Long, stages: Long, tasks: Long, singleTaskStageNs: Long,
                        executorRunNs: Long, shuffleWriteBytes: Long, spillBytes: Long,
                        recordsRead: Long, atNs: Long) {
  def -(o: Engine): Engine = Engine(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    singleTaskStageNs - o.singleTaskStageNs, executorRunNs - o.executorRunNs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    recordsRead - o.recordsRead, atNs - o.atNs)
  def +(o: Engine): Engine = Engine(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    singleTaskStageNs + o.singleTaskStageNs, executorRunNs + o.executorRunNs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    recordsRead + o.recordsRead, atNs + o.atNs)
  def wallS: Double = atNs / 1e9
}

object Engine {
  val zero: Engine = Engine(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** A recorded span: a call into one layer, with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder and engine listener for the traced run. Spans are kept
  * in memory and written out when the run ends. With tracing off,
  * `span` only runs its body and no listener is registered. */
final class Tracer(spark: SparkSession) {
  private var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0
  val engine = new EngineListener

  def enable(): Unit = if (!on) {
    on = true
    spark.sparkContext.addSparkListener(engine)
  }

  def disable(): Unit = if (on) {
    on = false
    spark.sparkContext.removeSparkListener(engine)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val (id, parent) = synchronized { nextId += 1; (nextId, stack.get.headOption.getOrElse(0)) }
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Median duration (ms) of the spans with this name, 0 if none ran. */
  def medianMs(name: String): Double = Stats.median(all.filter(_.name == name).map(_.ms))

  /** Per span name: total and self time (ms); self time is the span's
    * duration minus the part of it that its child spans cover. */
  def selfTimes: Seq[(String, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, xs) =>
      val total = xs.map(_.ms).sum
      val self = xs.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
        var covered = 0L; var end = s.startNs
        cs.foreach { case (a, b) =>
          val a1 = math.max(a, end)
          if (b > a1) { covered += b - a1; end = b }
        }
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
      (n, total, self)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p90/p99/p99.9 with at least ten samples beyond it,
    * as (label, value); None when the sample is too small for a tail. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p999", 0.999), ("p99", 0.99), ("p90", 0.9))
      .find { case (_, q) => xs.size * (1 - q) >= 10 }
      .map { case (l, q) => (l, quantile(xs, q)) }
}
