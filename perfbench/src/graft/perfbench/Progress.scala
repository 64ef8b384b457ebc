package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.sources.BinlogOffset

/** One executed micro-batch, read from the query's own
  * [[StreamingQueryProgress]]: its offsets (no start offset: the log's
  * beginning), input rows, trigger start and completion (start plus
  * `triggerExecution`) and its phase durations. */
final case class Batch(id: Long, start: Option[BinlogOffset], end: BinlogOffset, rows: Long,
                       startMs: Long, endMs: Long, durations: Map[String, Long]) {
  def ms(k: String): Double = durations.getOrElse(k, 0L).toDouble
}

object Progress {
  /** The query's executed batches in order; idle progress events (no offset
    * movement) are dropped. Needs `spark.sql.streaming.numRecentProgressUpdates`
    * large enough to hold every batch of the run. */
  def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.flatMap(of).sortBy(_.id)

  def of(p: StreamingQueryProgress): Option[Batch] = {
    val src = p.sources.headOption
    val start = src.flatMap(s => Option(s.startOffset)).map(BinlogOffset.fromJson)
    val end = src.flatMap(s => Option(s.endOffset)).map(BinlogOffset.fromJson)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    end.filter(e => !start.contains(e)).map { e =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      Batch(p.batchId, start, e, p.numInputRows, t0, t0 + d.getOrElse("triggerExecution", 0L), d)
    }
  }

  /** The offset the query has committed through, from any progress event
    * (an idle one included). */
  def committed(p: StreamingQueryProgress): Option[BinlogOffset] =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).map(BinlogOffset.fromJson)

  /** Record every batch as a `stream` span keyed by its batch id, so jobs
    * carrying `streaming.sql.batchId` attribute to it. */
  def trace(bs: Seq[Batch]): Unit =
    bs.foreach(b => Trace.record(s"stream#b${b.id}", Trace.msToNs(b.startMs), Trace.msToNs(b.endMs)))

  /** Micro-batch layer metrics shared by the streaming workloads. */
  def layerMetrics(bs: Seq[Batch]): Map[String, Double] = if (bs.isEmpty) Map.empty else Map(
    "sources.latest_offset_ms_p50" -> Util.pct(bs.map(_.ms("latestOffset")), 50),
    "sources.query_planning_ms_p50" -> Util.pct(bs.map(_.ms("queryPlanning")), 50),
    "sources.batches" -> bs.size.toDouble,
    "sources.rows_per_batch_p50" -> Util.pct(bs.map(_.rows.toDouble), 50),
    "streaming.add_batch_ms_p50" -> Util.pct(bs.map(_.ms("addBatch")), 50),
    "streaming.add_batch_ms_p99" -> Util.pct(bs.map(_.ms("addBatch")), 99),
    "streaming.commit_ms_p50" -> Util.pct(bs.map(b => b.ms("walCommit") + b.ms("commitOffsets")), 50))

  /** Time from one batch's completion to the next batch's trigger start. */
  def triggerGapsMs(bs: Seq[Batch]): Seq[Double] =
    bs.zip(bs.drop(1)).map { case (a, b) => (b.startMs - a.endMs).toDouble }
}
