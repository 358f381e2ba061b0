package graftbench

import scala.collection.mutable

import graft.api.Graft
import graft.core.Snapshots
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The pipeline's table-writing step, on real writes with reads after
  * them. Each cycle appends a vector batch and searches it, deletes part
  * of it and searches for the deleted vectors, gates a document batch
  * (half of it replays accepted documents) through the near-duplicate
  * index, and MERGEs a rides batch into a snapshot table, then reads the
  * previous version by time travel and diffs the two; then the vector
  * index is compacted and its old versions vacuumed. Every step checks an
  * invariant: appended vectors are found, deleted ids never come back,
  * replays are rejected, MERGE row counts add up.
  */
object TableWrites {
  val DeletePerCycle = 8

  /** Ingest batch files the generator wrote for `data`. */
  def batches(data: String): Int =
    Option(new java.io.File(s"$data/ingest").listFiles())
      .map(_.count(_.getName.startsWith("vec_"))).getOrElse(0)

  /** Writer and reader state of one set of roots. */
  final class Roots(run: Run, tag: String, tr: Tracer) {
    private val s: SparkSession = run.spark
    val dir = s"${run.tmp}/ingest-$tag"
    val vecRoot = s"$dir/vec"
    val ndRoot = s"$dir/neardup"
    val table = s"bench_rides_$tag"
    private val deleted = mutable.Set.empty[Long]
    private val accepted = mutable.Set.empty[String]
    private val keys = mutable.Set.empty[(Long, Int)]
    val commits = mutable.ArrayBuffer.empty[(String, Double)]
    val reads = mutable.ArrayBuffer.empty[(String, Double)]
    val maint = mutable.ArrayBuffer.empty[(String, Double)]
    var userRows = 0L
    var userBytes = 0L
    var cycles = 0

    private def file(name: String): String = s"${run.data}/ingest/$name"
    private def op[T](kind: String, into: mutable.ArrayBuffer[(String, Double)], name: String)(
        body: => T): T = {
      val (r, ms) = Measure.timed(tr.span(name)(body))
      into += kind -> ms
      r
    }

    def create(): Unit = {
      val emb = graft.core.Tables.embeddings(s, run.data)
      tr.span("operators.VectorOps.init")(Graft.annInitVersionedVecIndex(emb, vecRoot, "ivf"))
      val docs = graft.core.Tables.documents(s, run.data)
      tr.span("operators.TextOps.neardup_build")(Graft.buildNearDupIndex(docs, ndRoot))
      accepted ++= docs.select("text").collect().map(_.getString(0))
      val base = s.read.parquet(file("rides_base.parquet"))
      Snapshots.reset(table)
      tr.span("core.Snapshots.write")(Snapshots.write(s, table, base))
      keys ++= base.select("ride_id", "stop_index").collect().map(r => (r.getLong(0), r.getInt(1)))
      userBytes = Seq("embeddings.parquet", "documents.parquet").map(f =>
        new java.io.File(run.data, f).length).sum + new java.io.File(file("rides_base.parquet")).length
    }

    private def search(q: DataFrame, k: Int): Seq[(Long, Long)] =
      Graft.annSearchVersionedVecIndex(s, vecRoot, q, k, tier = "ivf", excludeSelf = false)
        .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    def cycle(b: Int): Unit = tr.withRequest(b.toLong) {
      val names = Seq(f"vec_$b%04d.parquet", f"docs_$b%04d.parquet", f"rides_$b%04d.parquet")
      userBytes += names.map(n => new java.io.File(file(n)).length).sum
      // vectors: append, then find each appended vector as its own neighbour
      val vecs = s.read.parquet(file(names(0))).select("vec_id", "embedding").cache()
      val ids = vecs.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      op("append", commits, "operators.VectorOps.append")(Graft.annAppendVersionedVecIndex(vecs, vecRoot))
      userRows += ids.size
      val probe = vecs.filter(col("vec_id").isin(ids.take(3): _*))
      val found = op("search", reads, "operators.VectorOps.search_after_write")(search(probe, 3))
      run.attempted()
      run.check(ids.take(3).forall(i => found.contains((i, i))),
        s"ingest batch $b: appended vectors not found by search")
      // delete part of the batch; the deleted ids must never come back
      val gone = ids.takeRight(DeletePerCycle)
      op("delete", commits, "operators.VectorOps.delete")(
        Graft.annDeleteFromVersionedVecIndex(s, vecRoot, s.createDataFrame(
          gone.map(Tuple1(_))).toDF("vec_id")))
      deleted ++= gone
      userRows += gone.size
      val after = op("search", reads, "operators.VectorOps.search_after_write")(
        search(vecs.filter(col("vec_id").isin(gone: _*)), 5))
      run.attempted()
      run.check(after.nonEmpty && after.forall { case (_, n) => !deleted(n) },
        s"ingest batch $b: search returned a deleted id or nothing")
      vecs.unpersist()
      // documents: replays of accepted texts must be rejected
      val docs = s.read.parquet(file(names(1)))
      val texts = docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val verdicts = op("neardup", commits, "operators.TextOps.neardup_ingest")(
        Graft.nearDupIndexIngest(docs, ndRoot).select("doc_id", "keep").collect()
          .map(r => r.getLong(0) -> r.getBoolean(1)).toMap)
      run.attempted()
      run.check(verdicts.keySet == texts.keySet, s"ingest batch $b: verdicts do not cover the batch")
      val replayKept = texts.count { case (id, t) => accepted(t) && verdicts.getOrElse(id, true) }
      run.attempted()
      run.check(replayKept == 0, s"ingest batch $b: $replayKept replayed documents accepted")
      val kept = texts.filter { case (id, _) => verdicts.getOrElse(id, false) }
      accepted ++= kept.values
      userRows += kept.size
      // rides: MERGE, then the previous version by time travel and the
      // change log: every source row (its batch column is new) is one
      // insert, and every key it updates adds one delete
      val src = s.read.parquet(file(names(2)))
      val srcKeys = src.select("ride_id", "stop_index").collect().map(r => (r.getLong(0), r.getInt(1)))
      val before = keys.size
      val updated = srcKeys.count(keys.contains)
      val v = op("merge", commits, "core.Snapshots.merge")(
        Snapshots.merge(s, table, src, Seq("ride_id", "stop_index")))
      keys ++= srcKeys
      userRows += srcKeys.length
      val prev = op("time_travel", reads, "core.Snapshots.time_travel")(Snapshots.read(s, table, v - 1).count())
      val changes = op("diff", reads, "core.Snapshots.diff")(
        Snapshots.diff(s, table, v - 1, v).groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
      run.attempted(2)
      run.check(prev == before, s"ingest batch $b: version ${v - 1} has $prev rows, expected $before")
      run.check(changes.getOrElse("insert", 0L) == srcKeys.length && changes.getOrElse("delete", 0L) == updated,
        s"ingest batch $b: diff $changes, expected ${srcKeys.length} inserts and $updated deletes")
      cycles += 1
      op("compact", maint, "operators.VectorOps.compact")(Graft.annCompactVersionedVecIndex(s, vecRoot))
      op("vacuum", maint, "core.VersionedStore.vacuum")(Graft.annVacuumVecIndexVersions(s, vecRoot, 2))
    }

    /** Bytes under the roots: the vector and near-duplicate indexes and
      * the snapshot table. */
    def bytes: Long =
      Measure.du(new java.io.File(dir))._1 +
        Measure.du(new java.io.File(s"${run.tmp}/graft-scratch/snapshots/$table"))._1

    def all: Seq[(String, Double)] = (commits ++ reads ++ maint).toSeq

    def versionsLive: Int =
      Option(new java.io.File(s"$vecRoot/manifest").listFiles()).map(
        _.count(_.getName.matches("v\\d{8,}"))).getOrElse(0)
  }
}
