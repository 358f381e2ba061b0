package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    setupS: Double,
    // end-to-end metrics, without setup_s / peak_rss_mb (added by Main)
    endToEnd: Seq[(String, Double)],
    // workload-specific layer breakdown, written to layers.json
    layers: Seq[(String, Double)],
    context: Seq[(String, String)])

/** Shared state of one benchmark JVM: session, paths, tracer, and the
  * attempted/failed ledger every output check reports into.
  */
final class Run(val spark: SparkSession, val data: String, val work: String,
    val seed: Long, val seconds: Double, val trace: Boolean, val cores: Int) {
  val tracer = new Tracer(trace)
  val rnd = new scala.util.Random(seed)
  private val attempts = new java.util.concurrent.atomic.AtomicLong
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
  // oracle checks run after the JVM exits: (name, result dir, DuckDB SQL)
  val oracleChecks = mutable.ArrayBuffer.empty[(String, String, String)]

  def attempted(n: Long = 1): Unit = { attempts.addAndGet(n); () }
  def fail(msg: String): Unit = {
    failures.add(msg)
    if (failures.size <= 20) System.err.println(s"[perfbench] FAIL $msg")
  }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
  def nAttempted: Long = attempts.get
  def nFailed: Int = failures.size

  def tmp: String = System.getProperty("java.io.tmpdir")

  private val born = System.nanoTime()
  /** Progress line on stderr (the JVM log), stamped with run time. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2fs $msg")

  /** Writes `df` for a DuckDB oracle comparison made after the run. */
  def oracle(name: String, df: DataFrame, sql: String): Unit = {
    val dir = s"$work/oracle/$name"
    df.write.mode("overwrite").parquet(dir)
    oracleChecks += ((name, dir, sql))
  }
}

object Fingerprint {
  private def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Row count plus an order-independent hash of the canonical rows
    * (exact values, as the serving queries are deterministic).
    */
  def of(rows: Seq[Row]): (Long, Long) = {
    val hs = rows.map(r => scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong)
    (rows.size.toLong, hs.foldLeft(0L)((acc, h) => acc + (h * 0x9e3779b97f4a7c15L ^ (h >>> 7))))
  }
}

object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val data = arg(args, "--data").getOrElse(sys.error("--data"))
    val work = arg(args, "--work").getOrElse(sys.error("--work"))
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(4)

    Measure.watchHeap()
    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.configure(
        SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.sql.warehouse.dir", s"${System.getProperty("java.io.tmpdir")}/warehouse")
      .config("spark.local.dir", s"${System.getProperty("java.io.tmpdir")}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val (calib1, calibPar) = Measure.calibrate(cores)

    val run = new Run(spark, data, work, seed, seconds, trace, cores)
    val out = workload match {
      case "serve_mix"      => ServeMix.run(run)
      case "batch_pipeline" => BatchPipeline.run(run)
      case other            => sys.error(s"unknown workload $other")
    }
    val (scratchBytes, scratchFiles) = Measure.du(new java.io.File(run.tmp))
    if (trace) run.tracer.write(s"$work/spans.jsonl")
    val selfTimes = run.tracer.selfTimes.toSeq.sortBy(_._1)

    val layers = out.layers ++ (if (!trace) Nil else Seq(
      "store.bytes_mb" -> scratchBytes / 1048576.0, "store.files" -> scratchFiles.toDouble,
      "trace.spans" -> run.tracer.spans.size.toDouble))
    val e2e = Seq("setup_s" -> (sessionS + out.setupS),
      "heap_peak_mb" -> Measure.heapPeakMb) ++ out.endToEnd
    val ctx = Seq("session_start_s" -> f"$sessionS%.3f",
      "peak_rss_mb" -> f"${Measure.peakRssMb}%.0f",
      "calib_mops_1t" -> f"$calib1%.0f", "calib_mops_par" -> f"$calibPar%.0f",
      "cores" -> cores.toString, "scratch_mb" -> f"${scratchBytes / 1048576.0}%.2f",
      "scratch_files" -> scratchFiles.toString) ++ out.context
    Json.write(s"$work/result.json", workload, e2e, layers, ctx, selfTimes,
      run.nAttempted, run.nFailed, run.oracleChecks.toSeq)
    run.note("result written")
    spark.stop()
  }
}

/** Minimal JSON writer for the result file run.py reads. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def write(path: String, workload: String, e2e: Seq[(String, Double)],
      layers: Seq[(String, Double)], ctx: Seq[(String, String)],
      self: Seq[(String, (Int, Double, Double))], attempted: Long, failed: Int,
      oracle: Seq[(String, String, String)]): Unit = {
    val body = obj(Seq(
      "workload" -> str(workload),
      "end_to_end" -> obj(e2e.map { case (k, v) => k -> num(v) }),
      "layers" -> obj(layers.map { case (k, v) => k -> num(v) }),
      "context" -> obj(ctx.map { case (k, v) => k -> str(v) }),
      "spans" -> obj(self.map { case (k, (n, tot, slf)) =>
        k -> obj(Seq("count" -> n.toString, "total_ms" -> num(tot), "self_ms" -> num(slf)))
      }),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "oracle" -> oracle.map { case (n, d, q) =>
        obj(Seq("name" -> str(n), "dir" -> str(d), "sql" -> str(q)))
      }.mkString("[", ",", "]")))
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(body) finally w.close()
  }
}
