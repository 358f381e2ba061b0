package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters for one measured window. Installed only in traced
  * runs; `BenchBus.drain` is called before the counters are read, so every
  * event of the window has been delivered.
  */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicInteger
  val stages = new AtomicInteger
  val tasks = new AtomicInteger        // successful first attempts
  val retries = new AtomicInteger      // successful later attempts
  val failures = new AtomicInteger     // task ends that did not succeed
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shufR = new AtomicLong
  val shufW = new AtomicLong
  val spill = new AtomicLong
  val input = new AtomicLong
  val output = new AtomicLong
  /** (launch, finish) wall-clock millis of every task in the window. */
  val spans = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val info = t.taskInfo
    if (info != null) {
      if (!info.successful) failures.incrementAndGet()
      else if (info.attemptNumber == 0) tasks.incrementAndGet()
      else retries.incrementAndGet()
      spans.add((info.launchTime, info.finishTime))
    }
    val m = t.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Seconds of `[t0, t1)` (wall millis) during which no task ran. */
  def noTaskSeconds(t0: Long, t1: Long): Double = {
    val iv = spans.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = t0
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0 - covered) / 1e3
  }

  def metrics(t0: Long, t1: Long, cores: Int): Seq[(String, Double)] = {
    val mb = 1024.0 * 1024.0
    val wall = math.max(1L, t1 - t0) / 1e3
    Seq(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.task_retries" -> retries.get.toDouble,
      "spark.task_failures" -> failures.get.toDouble,
      "spark.no_task_s" -> noTaskSeconds(t0, t1),
      "spark.core_util" -> runMs.get / 1e3 / (wall * cores),
      "spark.task_run_s" -> runMs.get / 1e3,
      "spark.task_cpu_s" -> cpuNs.get / 1e9,
      "spark.gc_s" -> gcMs.get / 1e3,
      "spark.shuffle_read_mb" -> shufR.get / mb,
      "spark.shuffle_write_mb" -> shufW.get / mb,
      "spark.spill_mb" -> spill.get / mb,
      "spark.input_mb" -> input.get / mb,
      "spark.output_mb" -> output.get / mb)
  }
}

/** Catalyst phase times of every executed query, from the
  * `QueryPlanningTracker` each `QueryExecution` carries.
  */
final class CatalystPhases extends QueryExecutionListener {
  private val ms = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  private def add(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      ms.getOrElseUpdate(phase, new AtomicLong).addAndGet(p.durationMs); ()
    }
  override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)

  def metrics: Seq[(String, Double)] =
    Seq("analysis", "optimization", "planning").map { p =>
      s"catalyst.${p}_ms" -> ms.get(p).map(_.get.toDouble).getOrElse(0.0)
    }
}

/** In-memory span recorder. A span covers one call the benchmark makes
  * into a graft module; spans nest per thread, and spans of one request
  * share its request id. Disabled tracers record nothing.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, req: Long,
      start: Long, end: Long)
  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val request = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  def withRequest[T](req: Long)(body: => T): T = {
    val prev = request.get
    request.set(req)
    try body finally request.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parents.headOption.getOrElse(0L), name,
          request.get, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the part of it its child spans cover.
    */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var sum = 0L; var end = s.start
      iv.foreach { case (a, b) => if (b > end) { sum += b - math.max(a, end); end = b } }
      sum
    }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(s => (s.end - s.start) / 1e6).sum,
        ss.map(s => (s.end - s.start - covered(s)) / 1e6).sum))
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""req":${s.req},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Measure {
  def nowMs: Long = System.currentTimeMillis()

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs `tasks` on `threads` threads and waits for all of them; the
    * first failure is rethrown.
    */
  def parallel(threads: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  /** Linear-interpolated percentile `p` (0..100) of `xs`. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest of p75/p90/p95/p99/p99.9 that still has at least ten
    * samples beyond it, and its value; with fewer than forty samples
    * (no such percentile) the maximum.
    */
  def tail(xs: Seq[Double]): (String, Double) = {
    val n = xs.size
    Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(p => n * (1 - p / 100.0) >= 10.0 - 1e-9) match {
      case Some(p) => (s"p${if (p == p.floor) p.toInt.toString else p.toString}", pct(xs, p))
      case None    => ("max", xs.max)
    }
  }

  /** Largest heap occupancy seen right after a garbage collection, in MB:
    * the high-water mark of data the program kept alive. Call [[watchHeap]]
    * once at start-up.
    */
  def heapPeakMb: Double = heapPeak.get / 1048576.0
  private val heapPeak = new AtomicLong

  def watchHeap(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if !pool.contains("Metaspace") && !pool.contains("CodeHeap") &&
                  !pool.contains("Compressed Class") => u.getUsed
            }.sum
            heapPeak.getAndAccumulate(used, (a, b) => math.max(a, b))
          }
          ()
        }, null, null)
      case _ => ()
    }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Bytes and regular files under `dir`. */
  def du(dir: java.io.File): (Long, Long) = {
    var bytes = 0L; var files = 0L
    def rec(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rec))
      else if (f.isFile) { bytes += f.length; files += 1 }
    rec(dir)
    (bytes, files)
  }

  // splitmix64 finalizer: the calibration spin's unit of work
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  @volatile private var sink = 0L
  private def spin(n: Long, seed: Long): Unit = {
    var acc = seed; var i = 0L
    while (i < n) { acc = mix(acc ^ i); i += 1 }
    sink ^= acc
  }

  /** Host calibration: million mix-ops per second on one thread and
    * summed over `threads` concurrent threads. Context for reading the
    * timings, not a metric.
    */
  def calibrate(threads: Int, n: Long = 20_000_000L): (Double, Double) = {
    spin(n / 10, 1)
    val t1 = System.nanoTime()
    spin(n, 2)
    val one = n / ((System.nanoTime() - t1) / 1e9) / 1e6
    val t2 = System.nanoTime()
    val ws = (0 until threads).map { i =>
      val t = new Thread(() => spin(n, i + 3L)); t.start(); t
    }
    ws.foreach(_.join())
    (one, n.toDouble * threads / ((System.nanoTime() - t2) / 1e9) / 1e6)
  }

  /** Installs the traced-run listeners; `finish` drains the listener bus,
    * removes them and yields their metrics for the window `[t0, t1)`.
    */
  final class Listening(spark: SparkSession, cores: Int) {
    private val sc = spark.sparkContext
    val counters = new SparkCounters
    private val catalyst = new CatalystPhases
    sc.addSparkListener(counters)
    spark.listenerManager.register(catalyst)

    /** Jobs started so far, after delivering every queued event. */
    def jobsNow: Int = { org.apache.spark.BenchBus.drain(sc); counters.jobs.get }

    def finish(t0: Long, t1: Long): Seq[(String, Double)] = {
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(counters)
      spark.listenerManager.unregister(catalyst)
      counters.metrics(t0, t1, cores) ++ catalyst.metrics
    }
  }
}
