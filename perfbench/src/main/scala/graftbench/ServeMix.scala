package graftbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.serve.QueryService
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** serve_mix: the dashboard read path. An open loop at a fixed rate
  * (requests timed from their due time), then a closed loop of three
  * clients that measures capacity. Every response is checked against the
  * fingerprint of the same request computed at set-up, and the set-up
  * responses of the registry's serving queries against their DuckDB
  * oracles.
  */
object ServeMix {
  /** Open-loop arrival rate (requests per second): about half the
    * closed-loop capacity of this mix on a 4-core host (18-23 req/s), so a
    * slower host does not tip the open loop into a growing backlog. */
  val Rate = 10.0
  /** Open-loop requests per run: a p90 with 12 samples beyond it. */
  val OpenRequests = 120
  val Workers = 3
  val Clients = 3
  /** Shortest closed-loop phase, in seconds. */
  val MinClosedS = 3.0

  final case class Req(ep: String, key: String, mk: () => DataFrame)

  final case class Sample(ep: String, latMs: Double, queueMs: Double,
      lateMs: Double, buildMs: Double, execMs: Double)

  /** The request catalogue for dataset `d`: 26 distinct plan keys. */
  def catalogue(s: SparkSession, d: String, windows: Seq[String], lines: Seq[String])
      : Seq[(Req, Double)] = {
    val rides = windows.map { w =>
      Req("rides", s"rides:$w", () => QueryService.ridesWindow(s, d, w, plus6h(w), 365))
    }
    val demand = lines.map(l => Req("demand", s"demand:$l", () => QueryService.demandByLine(s, d, l)))
    val vec = for (k <- Seq(3, 5, 10); tier <- Seq("ivf", "pq", "rerank"))
      yield Req("vec", s"vec:$k:$tier", () => QueryService.vecSearch(s, d, k, tier))
    val docs = Seq(5, 10).map(k => Req("docs", s"docs:$k", () => QueryService.docSearch(s, d, k)))
    val state = Seq(Req("state", "state", () => QueryService.busState(s, d)))
    val hybrid = Seq(Req("hybrid", "hybrid", () => QueryService.hybridSearch(s, d)))
    // request shares per endpoint, spread evenly over its keys
    Seq(rides -> 0.30, state -> 0.05, demand -> 0.05, vec -> 0.30, docs -> 0.15, hybrid -> 0.15)
      .flatMap { case (rs, w) => rs.map(_ -> w / rs.size) }
  }

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def plus6h(w: String): String =
    java.time.LocalDateTime.parse(w, tsFmt).plusHours(6).format(tsFmt)

  /** `n` requests holding every key in proportion to its share (largest
    * remainder), in a seeded random order: every run sends the same mix.
    */
  private def stratified(cat: Seq[(Req, Double)], n: Int, r: scala.util.Random): Seq[Req] = {
    val total = cat.map(_._2).sum
    val exact = cat.map { case (q, w) => (q, w / total * n) }
    val base = exact.map { case (q, x) => (q, x.floor.toInt, x - x.floor) }
    val extra = base.sortBy(-_._3).take(n - base.map(_._2).sum).map(_._1.key).toSet
    r.shuffle(base.flatMap { case (q, k, _) => Seq.fill(k + (if (extra(q.key)) 1 else 0))(q) })
  }

  /** One request as a client sees it: build, execute, collect. */
  private def call(tr: Tracer, q: Req): (Seq[Row], Double, Double) =
    tr.span(s"serve.${q.ep}") {
      val (df, b) = Measure.timed(tr.span(s"serve.${q.ep}.build")(q.mk()))
      val (rows, e) = Measure.timed(tr.span(s"serve.${q.ep}.exec")(df.collect().toSeq))
      (rows, b, e)
    }

  def run(run: Run): Outcome = {
    val s = run.spark
    val rnd = run.rnd
    val t0 = System.nanoTime()
    // first builds of the serving roots (rides snapshot, vector index,
    // BM25 snapshot), concurrently; then the windows and lines to request
    val cat = {
      val d = run.data
      var span: org.apache.spark.sql.Row = null
      var allLines = Seq.empty[String]
      Measure.parallel(Workers)(Seq(
        () => span = QueryService.servedRides(s, d)
          .agg(min("timestamp_at_stop"), max("timestamp_at_stop")).head(),
        () => { QueryService.vecSearch(s, d).collect(); () },
        () => {
          QueryService.docSearch(s, d).collect()
          allLines = QueryService.busLines(s, d).select("bus_line").collect().map(_.getString(0)).toSeq
        }))
      val lo = span.getTimestamp(0).toLocalDateTime.withMinute(0).withSecond(0).withNano(0)
      val hours = math.max(1L, java.time.Duration.between(lo,
        span.getTimestamp(1).toLocalDateTime).toHours - 6)
      // a fixed grid of parameters, the same for every seed: 8 windows
      // spread evenly over the served day and 6 lines spread over the
      // network (random picks made the mix's cost depend on the seed)
      val windows = (0 until 8).map(i => lo.plusHours(i * hours / 8).format(tsFmt))
      val sorted = allLines.sortBy(l => (l.length, l))
      catalogue(s, d, windows, (0 until 6).map(i => sorted(i * sorted.size / 6)))
    }
    run.note("serving roots built")
    // the reference response of every request key
    val expected = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]
    Measure.parallel(Workers)(cat.map { case (q, _) => () =>
      expected.put(q.key, Fingerprint.of(q.mk().collect().toSeq)); ()
    })
    run.note("reference responses done")
    // untimed warm-up: every request key twice more, so the timed phase
    // starts on compiled request paths
    Measure.parallel(Workers)((cat ++ cat).map { case (q, _) => () => { q.mk().collect(); () } })
    val setupS = (System.nanoTime() - t0) / 1e9
    run.note("first builds done")

    def timed(traced: Boolean): (Seq[Sample], Double, Int, Seq[(String, Double)]) = {
      val tr = if (traced) run.tracer else new Tracer(false)
      val listen = if (traced) Some(new Measure.Listening(s, run.cores)) else None
      val w0 = Measure.nowMs
      val samples = new ConcurrentLinkedQueue[Sample]
      def check(q: Req, rows: Seq[Row]): Unit = {
        run.attempted()
        run.check(Fingerprint.of(rows) == expected.get(q.key), s"serve ${q.key}: result differs from set-up")
      }
      // open loop: requests are due every 1/Rate s, whatever the backlog
      val n = OpenRequests
      val reqs = stratified(cat, n, rnd)
      val pool = Executors.newFixedThreadPool(Workers)
      val start = System.nanoTime() + 20_000_000L
      reqs.zipWithIndex.foreach { case (q, i) =>
        val due = start + (i * 1e9 / Rate).toLong
        val sleep = due - System.nanoTime()
        if (sleep > 0) TimeUnit.NANOSECONDS.sleep(sleep)
        val sent = System.nanoTime()
        pool.execute { () =>
          val began = System.nanoTime()
          try {
            val (rows, b, e) = tr.withRequest(i.toLong)(call(tr, q))
            val done = System.nanoTime()
            samples.add(Sample(q.ep, (done - due) / 1e6, (began - sent) / 1e6,
              (sent - due) / 1e6, b, e))
            check(q, rows)
          } catch { case t: Throwable => run.attempted(); run.fail(s"serve ${q.key}: $t") }
        }
      }
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
      // closed loop: each client sends its next request when the last returns
      val closedS = math.max(MinClosedS, run.seconds - n / Rate)
      // every client walks one fixed weighted order of the catalogue from
      // its own offset, so each run's closed loop sends the same mix
      val closedOrder = stratified(cat, 100, new scala.util.Random(0))
      val completed = new AtomicInteger
      val deadline = System.nanoTime() + (closedS * 1e9).toLong
      val clients = (0 until Clients).map { c =>
        val th = new Thread(() => {
          var i = 0
          while (System.nanoTime() < deadline) {
            val q = closedOrder((c * closedOrder.size / Clients + i) % closedOrder.size)
            try {
              val (rows, _, _) = tr.withRequest(1000000L * (c + 1) + i)(call(tr, q))
              completed.incrementAndGet(); check(q, rows)
            } catch { case t: Throwable => run.attempted(); run.fail(s"serve ${q.key}: $t") }
            i += 1
          }
        })
        th.start(); th
      }
      val c0 = System.nanoTime()
      clients.foreach(_.join())
      val capacity = completed.get / ((System.nanoTime() - c0) / 1e9)
      val layers = listen.map(_.finish(w0, Measure.nowMs)).getOrElse(Nil)
      (samples.asScala.toSeq, capacity, n + completed.get, layers)
    }

    val (samples, capacity, nReq, spark) = timed(run.trace)
    run.note("timed phase done")
    val lat = samples.map(_.latMs)
    val (tailName, tailMs) = Measure.tail(lat)
    val p50 = Measure.median(lat)
    val e2e = Seq("p50_ms" -> p50, "tail_ms" -> tailMs, "throughput_per_s" -> capacity)

    val layers = mutable.ArrayBuffer.empty[(String, Double)]
    if (run.trace) {
      layers ++= spark
      val jobs = spark.find(_._1 == "spark.jobs").map(_._2).getOrElse(0.0)
      layers += "serve.jobs_per_req" -> jobs / nReq
      layers += "serve.queue_ms" -> Measure.median(samples.map(_.queueMs))
      layers += "serve.gen_late_ms" -> Measure.median(samples.map(_.lateMs))
      for (ep <- Seq("rides", "state", "demand", "vec", "docs", "hybrid")) {
        val xs = samples.filter(_.ep == ep)
        if (xs.nonEmpty) {
          layers += s"serve.$ep.build_ms" -> Measure.median(xs.map(_.buildMs))
          layers += s"serve.$ep.exec_ms" -> Measure.median(xs.map(_.execMs))
        }
      }
      layers ++= Seq("graft.ops" -> nReq.toDouble, "graft.jobs_per_op" -> jobs / nReq,
        "graft.op_ms" -> samples.map(x => x.buildMs + x.execMs).sum / samples.size)
      val (untraced, _, _, _) = timed(false)
      layers += "trace.overhead_pct" ->
        100.0 * (p50 - Measure.median(untraced.map(_.latMs))) / Measure.median(untraced.map(_.latMs))
    }

    // oracle checks of the registry's serving queries, after the timing
    for (name <- Seq("serve_rides_window", "serve_vec_search", "serve_vec_search_pq",
        "serve_vec_search_rerank", "serve_doc_search", "serve_hybrid_search")) {
      val sql = graft.SparkEntry.oracleSql.get(name)
      sql.foreach(q => run.oracle(name, graft.SparkEntry.queries(name)(s, run.data), q))
    }
    val (rootBytes, _) = Measure.du(new java.io.File(s"${run.tmp}/graft-scratch"))
    val inBytes = new java.io.File(run.data).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    Outcome(setupS, e2e :+ ("space_amp" -> rootBytes.toDouble / inBytes),
      layers.toSeq ++ Seq("serve_p50_ms" -> p50, s"serve_${tailName}_ms" -> tailMs,
        "serve_capacity_rps" -> capacity, "serve_requests" -> samples.size.toDouble),
      Seq("open_loop_rate" -> Rate.toString, "closed_loop_clients" -> Clients.toString, "tail_percentile" -> tailName,
        "open_loop_requests" -> samples.size.toString, "plan_keys" -> cat.size.toString))
  }
}
