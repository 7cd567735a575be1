package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative Spark work counters, as seen by [[Counters.Listener]]. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0, jobBusyMs: Long = 0,
    outputBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    jobBusyMs - o.jobBusyMs, outputBytes - o.outputBytes)
  def taskS: Double = taskMs / 1e3
}

object Counters {
  /** Benchmark-registered listener: job, stage and task counts, executor
    * run/cpu/gc time, shuffle and spill bytes, scan input, bytes written
    * by tasks, and the wall
    * time during which at least one job was running (`jobBusyMs`, from the
    * events' own timestamps) — the rest of a timed interval is driver gap.
    */
  final class Listener extends SparkListener {
    private val c = Array.fill(13)(new AtomicLong(0L))
    private var active = 0
    private var busySince = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      c(0).incrementAndGet()
      synchronized {
        if (active == 0) busySince = e.time
        active += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      active = math.max(0, active - 1)
      if (active == 0) c(11).addAndGet(math.max(0L, e.time - busySince))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c(1).incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c(2).incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c(3).addAndGet(m.executorRunTime)
        c(4).addAndGet(m.executorCpuTime)
        c(5).addAndGet(m.jvmGCTime)
        c(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c(7).addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c(8).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c(9).addAndGet(m.inputMetrics.bytesRead)
        c(10).addAndGet(m.inputMetrics.recordsRead)
        c(12).addAndGet(m.outputMetrics.bytesWritten)
      }
    }

    def snapshot(): Counters = {
      val busy = synchronized {
        c(11).get + (if (active > 0) math.max(0L, System.currentTimeMillis() - busySince) else 0L)
      }
      Counters(c(0).get, c(1).get, c(2).get, c(3).get, c(4).get, c(5).get,
        c(6).get, c(7).get, c(8).get, c(9).get, c(10).get, busy, c(12).get)
    }
  }
}

/** One traced interval. `trace` groups the spans of one query, batch or
  * window; `work` holds the listener counts that landed inside the span.
  */
final case class Span(id: Int, parent: Int, trace: String, name: String,
    startNs: Long, endNs: Long, work: Counters)

/** Timing and tracing around calls into the engine.
  *
  * [[time]] always measures the call and keeps the sample under its name;
  * with tracing on it also records a [[Span]] (parent from a per-thread
  * stack) whose listener counts are exact because the bus is drained at
  * both edges. Time spent in that bookkeeping is summed as the tracing
  * overhead.
  */
final class Obs(sc: SparkContext, val tracing: Boolean) {
  val listener = new Counters.Listener
  sc.addSparkListener(listener)

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0
  private val overheadNs = new AtomicLong(0L)

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def counters(): Counters = listener.snapshot()

  /** Keep a sample (milliseconds) under `name`. */
  def sample(name: String, ms: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
  }

  def samplesOf(name: String): Seq[Double] = synchronized {
    samples.get(name).map(_.toSeq).getOrElse(Nil)
  }

  /** Run `body`, keep its duration under `name` and, when tracing, record
    * its span. Returns the result and the duration in milliseconds.
    */
  def time[T](name: String, trace: String)(body: => T): (T, Double) = {
    if (!tracing) {
      val t0 = System.nanoTime()
      val r = body
      val ms = (System.nanoTime() - t0) / 1e6
      sample(name, ms)
      (r, ms)
    } else {
      val b0 = System.nanoTime()
      drain()
      val c0 = counters()
      val parent = stack.get.headOption.getOrElse(-1)
      val id = synchronized { nextId += 1; nextId }
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      overheadNs.addAndGet(t0 - b0)
      try {
        val r = body
        val t1 = System.nanoTime()
        drain()
        val work = counters() - c0
        val ms = (t1 - t0) / 1e6
        sample(name, ms)
        synchronized { spans += Span(id, parent, trace, name, t0, t1, work) }
        overheadNs.addAndGet(System.nanoTime() - t1)
        (r, ms)
      } finally stack.set(stack.get.drop(1))
    }
  }

  /** Record a span measured elsewhere (a streaming trigger reported by the
    * engine's progress events), with wall-clock milliseconds converted to
    * the nanoTime base of the other spans.
    */
  def record(name: String, trace: String, startMs: Long, endMs: Long,
      parent: Int = -1): Int = {
    val b0 = System.nanoTime()
    sample(name, (endMs - startMs).toDouble)
    val id = if (!tracing) -1 else {
      val shift = System.nanoTime() - System.currentTimeMillis() * 1000000L
      synchronized {
        nextId += 1
        spans += Span(nextId, parent, trace, name,
          startMs * 1000000L + shift, endMs * 1000000L + shift, Counters())
        nextId
      }
    }
    overheadNs.addAndGet(System.nanoTime() - b0)
    id
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)
  def overheadSeconds: Double = overheadNs.get / 1e9
}

object Stats {
  /** Nearest-rank percentile; NaN on no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def gmean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  /** Union length (ns) of [start, end) intervals, clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
