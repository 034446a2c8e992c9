package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are wall-clock
  * nanoseconds; `trace` groups the spans of one query or one trigger.
  */
final case class Span(id: Long, trace: String, name: String, start: Long, end: Long, parent: Long) {
  def dur: Long = end - start
}

/** Spark-side work counters, summed over finished tasks and stages. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill)
}

/** In-memory span recorder. With tracing off, [[span]] only runs its body
  * and no Spark listener is registered, so end-to-end runs pay nothing.
  *
  * Spans come from three places: the harness's own timers around calls
  * into the program, `SparkListener` job events, and the planning phases
  * and streaming progress that Spark reports through its public listeners.
  * Spans recorded without a parent get one when read back ([[all]]).
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  private val sc = spark.sparkContext
  // wall-clock origin that maps nanoTime onto listener event times (ms)
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - originNs
  def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000000L
  def at(nanoTime: Long): Long = nanoTime - originNs

  private val PropSpan = "graftbench.span"
  private val PropTrace = "graftbench.trace"

  /** Time `body` as a span named `name`, nested under this thread's
    * innermost open span; Spark jobs submitted inside it name it as parent.
    */
  def span[T](name: String, trace: String = "")(body: => T): T =
    if (!on) body
    else {
      val outer = stack.get()
      val tr = if (trace.nonEmpty) trace else outer.headOption.map(_._2).getOrElse("")
      val id = ids.incrementAndGet()
      val t0 = now()
      stack.set((id, tr) :: outer)
      sc.setLocalProperty(PropSpan, id.toString)
      sc.setLocalProperty(PropTrace, tr)
      try body
      finally {
        spans.add(Span(id, tr, name, t0, now(), outer.headOption.map(_._1).getOrElse(0L)))
        stack.set(outer)
        sc.setLocalProperty(PropSpan, outer.headOption.map(_._1.toString).orNull)
        sc.setLocalProperty(PropTrace, outer.headOption.map(_._2).orNull)
      }
    }

  def add(trace: String, name: String, start: Long, end: Long, parent: Long = 0L): Long = {
    val id = ids.incrementAndGet()
    if (on) spans.add(Span(id, trace, name, start, end, parent))
    id
  }

  // --- Spark listener: jobs as spans, task and stage counters ---------
  @volatile private var counters = Counters()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val planNs = new AtomicLong(0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(PropSpan))).map(_.toLong).getOrElse(0L)
      val tr = p.flatMap(x => Option(x.getProperty(PropTrace))).getOrElse("")
      jobStarts.put(e.jobId, (fromEpochMs(e.time), parent, tr))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, parent, tr) =>
        add(tr, "spark.job", start, fromEpochMs(e.time), parent)
        synchronized { counters = counters.copy(jobs = counters.jobs + 1) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { counters = counters.copy(stages = counters.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      synchronized {
        counters = counters.copy(
          tasks = counters.tasks + 1,
          runMs = counters.runMs + m.executorRunTime,
          cpuNs = counters.cpuNs + m.executorCpuTime,
          gcMs = counters.gcMs + m.jvmGCTime,
          shuffleWrite = counters.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          shuffleRead = counters.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          spill = counters.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        planNs.addAndGet((s.endTimeMs - s.startTimeMs) * 1000000L)
        add("", s"spark.$phase", fromEpochMs(s.startTimeMs), fromEpochMs(s.endTimeMs))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  }

  if (on) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Block until every posted listener event has been handled. */
  def settle(): Unit = if (on) org.apache.spark.BenchAccess.waitForListeners(sc)

  def snapshot(): Counters = { settle(); synchronized(counters) }
  def planSeconds: Double = planNs.get() / 1e9

  /** Streaming progress events seen so far, oldest first. */
  def progressEvents: Seq[StreamingQueryProgress] = { settle(); progress.asScala.toSeq }

  /** Trigger spans with one child per reported phase, laid out in the
    * order micro-batch execution runs them.
    */
  def addTriggerSpans(ps: Seq[StreamingQueryProgress]): Unit = ps.foreach { p =>
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val total = d.getOrElse("triggerExecution", 0L) * 1000000L
    val tr = s"${p.name}/b${p.batchId}"
    val id = add(tr, "stream.trigger", start, start + total)
    var t = start
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { k =>
        d.get(k).foreach { ms =>
          add(tr, s"stream.$k", t, t + ms * 1000000L, id)
          t += ms * 1000000L
        }
      }
  }

  /** Every recorded span. A span recorded without a parent is attached to
    * the innermost span that contains it in time: a listener span to any
    * such span, a harness span (the batch callback) to a trigger phase of
    * its own trace.
    */
  def all(): Seq[Span] = {
    settle()
    val ss = spans.asScala.toSeq.sortBy(s => (s.start, -s.end))
    val phases = ss.filter(_.name.startsWith("stream.")).groupBy(_.trace)
    val slack = 1000000L // listener times have millisecond resolution
    ss.map { s =>
      if (s.parent != 0L) s
      else {
        val owners = if (s.name.startsWith("spark.")) ss else phases.getOrElse(s.trace, Nil)
        owners.filter(o => o.id != s.id && o.dur > s.dur &&
            o.start <= s.start + slack && o.end + slack >= s.end)
          .minByOption(_.dur)
          .map(o => s.copy(parent = o.id, trace = o.trace)).getOrElse(s)
      }
    }
  }

  /** Self time per span name: duration minus the union of its children. */
  def selfTimes(ss: Seq[Span]): Map[String, Long] = {
    val kids = ss.groupBy(_.parent)
    val self = ss.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (cs0, ce0) = (Long.MinValue, Long.MinValue)
      cs.foreach { case (a, b) =>
        if (a > ce0) { if (ce0 > cs0) covered += ce0 - cs0; cs0 = a; ce0 = b }
        else ce0 = math.max(ce0, b)
      }
      if (ce0 > cs0) covered += ce0 - cs0
      s.name -> math.max(0L, s.dur - covered)
    }
    self.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: java.nio.file.Path, ss: Seq[Span]): Unit = {
    val lines = ss.map(s =>
      Json.obj("id" -> s.id, "trace" -> s.trace, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  def close(): Unit = if (on) {
    settle()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The p-th percentile by the Harrell-Davis estimator: a weighted mean of
    * every order statistic, with Beta((n+1)q, (n+1)(1-q)) weights. Unlike a
    * single order statistic it does not jump when two samples swap ranks,
    * which matters for the registry's 13 per-query latencies.
    */
  def hd(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toArray
      val n = s.length
      val q = p / 100.0
      val beta = new org.apache.commons.math3.distribution.BetaDistribution((n + 1) * q, (n + 1) * (1 - q))
      var (prev, acc) = (0.0, 0.0)
      for (i <- 1 to n) {
        val c = beta.cumulativeProbability(i.toDouble / n)
        acc += (c - prev) * s(i - 1)
        prev = c
      }
      acc
    }

  /** (steal, total) CPU ticks of this machine so far, from /proc/stat:
    * time the hypervisor ran other guests while this one wanted the CPU.
    */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } finally src.close()
  }

  /** Peak resident set of this JVM, from the kernel's process status. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
