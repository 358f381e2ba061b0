package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** batch_pipeline: the reference pipeline, staging -> simulation ->
  * forecasting -> tables -> stream replay -> relational, one pass after
  * another. The registry stages run with the session cache cleared before
  * each and their outputs are consumed through a checksum (row count plus
  * an order-independent hash), which must equal the checksum of the
  * set-up pass; the set-up outputs are also compared with the DuckDB
  * oracles after the run. The tables step lands the next ingest batch
  * with real writes and reads them back ([[TableWrites]]).
  */
object BatchPipeline {
  val Tables = "tables"
  val Steps: Seq[(String, String)] = Seq(
    "staging" -> "stage_minute_spread_conservation",
    "sim" -> "sim_bus_rides",
    "forecast" -> "m3_forecast_xreg",
    Tables -> "",
    "stream" -> "t11_throughput",
    "relational" -> "j1_composite_2key_join")
  val Stages: Seq[(String, String)] = Steps.filter(_._1 != Tables)

  /** Row count and the sum of per-row hashes, each reduced below 2^31 so
    * the sum cannot overflow. Values are hashed exactly: the registry
    * queries are bit-deterministic (their DuckDB oracles compare exact
    * values), so any difference between passes is a wrong result.
    */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  final case class Step(group: String, ms: Double, jobs: Int)

  def run(run: Run): Outcome = {
    val s = run.spark
    val d = run.data
    val nBatches = TableWrites.batches(d)
    require(nBatches >= 2, s"batch_pipeline needs ingest batch files, found $nBatches")
    // set-up, all steps at once on `run.cores` threads: an untimed pass on
    // throwaway roots for the tables step, the registry stages with their
    // outputs landing as parquet (the oracle inputs; the checksums of the
    // read-back outputs are the references), and the first builds of the
    // measured roots
    val t0 = System.nanoTime()
    val expected = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]
    val roots = new TableWrites.Roots(run, "main", run.tracer)
    val warm = new TableWrites.Roots(run, "warm", new Tracer(false))
    Measure.parallel(run.cores)(Seq[() => Unit](
      () => { warm.create(); warm.cycle(nBatches - 1) }, () => roots.create()) ++
      Stages.map { case (_, q) => () => {
        val dir = s"${run.work}/oracle/$q"
        graft.SparkEntry.queries(q)(s, d).write.mode("overwrite").parquet(dir)
        expected.put(q, checksum(s.read.parquet(dir))); ()
      } })
    val setupS = (System.nanoTime() - t0) / 1e9
    run.note("set-up done")
    Stages.foreach { case (_, q) =>
      graft.SparkEntry.oracleSql.get(q).foreach { sql =>
        run.oracleChecks += ((q, s"${run.work}/oracle/$q", sql))
      }
    }

    /** Whole passes, until the next pass would end past the window; pass
      * `p` lands ingest batch `p` through `tw`.
      */
    def timed(tw: TableWrites.Roots, traced: Boolean)
        : (Seq[Double], Seq[Step], Seq[(String, Double)]) = {
      val tr = if (traced) run.tracer else new Tracer(false)
      val listen = if (traced) Some(new Measure.Listening(s, run.cores)) else None
      val w0 = Measure.nowMs
      val start = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[Double]
      val steps = mutable.ArrayBuffer.empty[Step]
      def elapsed = (System.nanoTime() - start) / 1e9
      while (passes.isEmpty ||
          (elapsed + passes.min <= run.seconds && passes.size < nBatches - 1)) {
        val p0 = System.nanoTime()
        tr.withRequest(passes.size.toLong) {
          tr.span("batch.pass") {
            Steps.foreach { case (g, q) =>
              val j0 = listen.map(_.jobsNow).getOrElse(0)
              val s0 = System.nanoTime()
              try tr.span(s"batch.$g") {
                if (g == Tables) tw.cycle(passes.size)
                else {
                  s.catalog.clearCache()
                  val df = tr.span(s"batch.$q.build")(graft.SparkEntry.queries(q)(s, d))
                  val sum = tr.span(s"batch.$q.exec")(checksum(df))
                  run.attempted()
                  run.check(sum == expected.get(q), s"batch $q: checksum $sum, set-up pass gave ${expected.get(q)}")
                }
              } catch { case t: Throwable => run.attempted(); run.fail(s"batch $g $q: $t") }
              steps += Step(g, (System.nanoTime() - s0) / 1e6,
                listen.map(_.jobsNow - j0).getOrElse(0))
            }
          }
        }
        passes += (System.nanoTime() - p0) / 1e9
      }
      (passes.toSeq, steps.toSeq, listen.map(_.finish(w0, Measure.nowMs)).getOrElse(Nil))
    }

    val (passes, steps, spark) = timed(roots, run.trace)
    run.note("timed phase done")
    // latency samples: each registry stage, and each write, read and
    // maintenance operation of the tables step
    val opMs = steps.filter(_.group != Tables).map(_.ms) ++ roots.all.map(_._2)
    val pipelineS = Measure.median(passes)
    val (tailName, tailMs) = Measure.tail(opMs)
    val layers = mutable.ArrayBuffer.empty[(String, Double)]
    def med(kind: String): Double = {
      val v = roots.all.filter(_._1 == kind).map(_._2)
      if (v.isEmpty) 0.0 else Measure.median(v)
    }
    val commitMs = roots.commits.map(_._2).toSeq
    layers ++= Seq(
      "pipeline_s" -> pipelineS, "passes" -> passes.size.toDouble,
      "ingest_rows_per_s" -> roots.userRows / (steps.filter(_.group == Tables).map(_.ms).sum / 1e3),
      "ingest_commit_p50_ms" -> Measure.median(commitMs),
      s"ingest_commit_${Measure.tail(commitMs)._1}_ms" -> Measure.tail(commitMs)._2,
      "read_after_write_p50_ms" -> med("search"),
      "bytes_per_user_byte" -> roots.bytes.toDouble / roots.userBytes)
    if (run.trace) {
      layers ++= spark
      steps.groupBy(_.group).toSeq.sortBy(_._1).foreach { case (g, rs) =>
        layers += s"batch.$g.wall_s" -> rs.map(_.ms).sum / 1e3 / passes.size
        layers += s"batch.$g.jobs" -> rs.map(_.jobs).sum.toDouble / passes.size
      }
      layers ++= Seq(
        "operators.VectorOps.append_ms" -> med("append"),
        "operators.VectorOps.delete_ms" -> med("delete"),
        "operators.VectorOps.compact_ms" -> med("compact"),
        "operators.VectorOps.search_after_write_ms" -> med("search"),
        "operators.TextOps.neardup_ingest_ms" -> med("neardup"),
        "core.Snapshots.merge_ms" -> med("merge"),
        "core.Snapshots.read_ms" -> med("time_travel"),
        "core.Snapshots.diff_ms" -> med("diff"),
        "core.VersionedStore.versions_live" -> roots.versionsLive.toDouble,
        "core.VersionedStore.bytes_mb" -> Measure.du(new java.io.File(roots.vecRoot))._1 / 1048576.0,
        "core.VersionedStore.vacuum_ms" -> med("vacuum"))
      val jobs = spark.find(_._1 == "spark.jobs").map(_._2).getOrElse(0.0)
      layers ++= Seq("graft.ops" -> opMs.size.toDouble, "graft.jobs_per_op" -> jobs / opMs.size,
        "graft.op_ms" -> opMs.sum / opMs.size)
      // tracing overhead: the same passes again, untraced, on fresh roots
      val plain = new TableWrites.Roots(run, "untraced", new Tracer(false))
      plain.create()
      val (untraced, _, _) = timed(plain, traced = false)
      layers += "trace.overhead_pct" ->
        100.0 * (pipelineS - Measure.median(untraced)) / Measure.median(untraced)
    }
    Outcome(setupS,
      Seq("p50_ms" -> Measure.median(opMs), "tail_ms" -> tailMs,
        "throughput_per_s" -> opMs.size / passes.sum,
        "space_amp" -> roots.bytes.toDouble / roots.userBytes),
      layers.toSeq,
      Seq("steps" -> Steps.map(x => if (x._1 == Tables) Tables else x._2).mkString(","),
        "passes" -> passes.size.toString, "ops" -> opMs.size.toString,
        "tail_percentile" -> tailName))
  }
}
