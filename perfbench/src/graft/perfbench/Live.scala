package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.CdcMaterializer

/** `live`: a catch-up phase drains a fixed pre-written `bench.big` backlog
  * at a fixed `maxBytesPerTrigger` into a fresh table, once untimed and then
  * [[Drains]] times timed; then an open-loop generator appends transactions
  * at a fixed rate to a binlog that rotates during the run, while a
  * processing-time `readStream` feeds [[CdcMaterializer.materialize]]. The
  * drains come first so the open loop meets a warm materializer, and its
  * first [[WarmupS]] seconds are left out of the lag sample. Per-batch fixed
  * costs dominate; the codec does little. The traced run also replays the
  * backlog as a batch ([[Replay]]) for the codec, scan and collapse layers. */
final class Live(spark: SparkSession, work: Path, seed: Long, seconds: Double,
                 cores: Int, tally: Tally) extends Workload {
  val Rate = 100.0 // transactions per second, open loop
  val WarmupS = 3.0 // the open loop's first seconds, left out of the lag sample
  val MaxOps = 4
  val Keys = 20000
  val LiveFileBytes = 128L << 10
  val TriggerMs = 250L
  val BacklogTxns = 6000
  val BacklogFileBytes = 512L << 10
  val BacklogBatches = 4
  val Drains = 2
  val Buckets = 8
  val ddl = "id INT, val DECIMAL(12,4), word STRING"

  private val backlogDir = work.resolve("live-backlog")
  private var backlog: BigGen = _
  private val digests = mutable.ArrayBuffer.empty[String]
  // the last measured phase, for the traced layer metrics
  private var liveBatches = Seq.empty[Batch]
  private var drainBatches = Seq.empty[Batch]
  private var lateMs = Seq.empty[Double]
  private var lagBytes = Seq.empty[Double]

  def inputs: String = s"open loop ${Rate} txn/s x (${WarmupS} + ${seconds}) s; backlog ${BacklogTxns} txns, " +
    s"${backlog.changeRows} change rows, ${backlog.closedFiles.size + 1} files, ${backlog.headPos} bytes, " +
    s"truth ${backlog.truthDigest.take(16)}"

  def aliases = Map(
    "rows_per_s" -> ("catchup_rows_per_s", "rows/s"),
    "latency_ms_p50" -> ("live_lag_ms_p50", "ms"),
    "latency_ms_p99" -> ("live_lag_ms_p99", "ms"),
    "space_amp" -> ("live_space_amp", "ratio"))

  private def stream(dir: Path, maxBytes: Option[Long]): DataFrame = {
    val r = spark.readStream.format("mysql-binlog").option("payloadDdl", ddl)
    maxBytes.fold(r)(b => r.option("maxBytesPerTrigger", b.toString)).load(dir.toString)
  }

  private def tableMatches(table: String, g: BigGen): Boolean = {
    val rows = CdcMaterializer.readTable(spark, table).select("id", "val", "word").collect()
    rows.length == g.state.size && rows.forall { r =>
      g.state.get(r.getInt(0).toLong).exists { case (v, w) =>
        v.compareTo(r.getDecimal(1)) == 0 && w == r.getString(2)
      }
    }
  }

  /** Drain `dir` with AvailableNow into a fresh table; returns the batches
    * and the wall seconds from start to termination. */
  private def drain(dir: Path, g: BigGen, name: String, maxBytes: Option[Long]): (Seq[Batch], Double) = {
    val table = work.resolve(s"$name-table")
    val ckpt = work.resolve(s"$name-ckpt")
    Util.deleteRecursively(table); Util.deleteRecursively(ckpt)
    val (q, s) = Util.timed {
      val q = CdcMaterializer.materialize(stream(dir, maxBytes), "id", table.toString,
        ckpt.toString, nBuckets = Buckets, trigger = Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    val bs = Progress.batches(q)
    tally.check(s"$name: every change row read exactly once")(bs.map(_.rows).sum == g.changeRows)
    tally.check(s"$name: materialized table equals ground truth")(tableMatches(table.toString, g))
    (bs, s)
  }

  def setup(): Unit = {
    Gen.freshDir(backlogDir)
    backlog = Gen.writeAll(new BigGen(backlogDir, seed ^ 0xb1L, Keys, BacklogFileBytes),
      BacklogTxns, MaxOps, new java.util.SplittableRandom(seed ^ 0xb2L))
    digests += backlog.bytesDigest
    tally.check("live: same seed gives byte-identical files")(digests.distinct.size == 1)
    // warm-up: the streaming path end to end over a short log
    val warmDir = Gen.freshDir(work.resolve("live-warm"))
    val warm = Gen.writeAll(new BigGen(warmDir, seed ^ 0xa1L, Keys, LiveFileBytes), 300, MaxOps,
      new java.util.SplittableRandom(seed ^ 0xa2L))
    drain(warmDir, warm, "live-warm", None)
  }

  def measure(): Map[String, Double] = {
    val cap = backlog.headPos / BacklogBatches
    // one untimed drain first: the timed ones run warm
    val drains = (0 to Drains).map { _ =>
      val (bs, s) = tally.op("live: catch-up drain")(drain(backlogDir, backlog, "catchup", Some(cap)))
      Progress.trace(bs)
      drainBatches = bs
      s
    }
    Util.log(s"drain s: ${drains.map(x => f"$x%.2f").mkString(" ")}")
    val (lagMs, amp) = livePhase()
    Map("rows_per_s" -> backlog.changeRows / Util.median(drains.tail),
      "latency_ms_p50" -> Util.pct(lagMs, 50),
      "latency_ms_p99" -> Util.pct(lagMs, 99),
      "space_amp" -> amp)
  }

  /** The open loop. Returns each transaction's lag (due time at the
    * generator to completion of the batch that committed it) and the
    * materialized table's space amplification. */
  private def livePhase(): (Seq[Double], Double) = {
    val dir = Gen.freshDir(work.resolve("live-log"))
    val table = work.resolve("live-table")
    val ckpt = work.resolve("live-ckpt")
    Util.deleteRecursively(table); Util.deleteRecursively(ckpt)
    val g = new BigGen(dir, seed ^ 0x11L, Keys, LiveFileBytes)
    g.flush() // the first file exists (magic + FORMAT_DESCRIPTION) before the stream starts
    val opsRnd = new java.util.SplittableRandom(seed ^ 0x12L)
    val q: StreamingQuery = CdcMaterializer.materialize(stream(dir, None), "id", table.toString,
      ckpt.toString, nBuckets = Buckets, trigger = Trigger.ProcessingTime(TriggerMs))
    val late = mutable.ArrayBuffer.empty[Double]
    val lagSamples = mutable.ArrayBuffer.empty[Double]
    val lag = mutable.ArrayBuffer.empty[Double]
    try {
      val gen = new Thread(() => {
        val n = (Rate * (WarmupS + seconds)).toInt
        val t0Ns = System.nanoTime()
        val t0Ms = System.currentTimeMillis().toDouble
        var i = 0
        while (i < n) {
          val dueNs = t0Ns + (i * 1e9 / Rate).toLong
          val wait = dueNs - System.nanoTime()
          if (wait > 0) LockSupport.parkNanos(wait)
          val nowNs = System.nanoTime()
          // every transaction due by now goes out in this write
          val first = i
          while (i < n && t0Ns + (i * 1e9 / Rate).toLong <= nowNs) {
            g.nextTxn(1 + opsRnd.nextInt(MaxOps)).dueMs = t0Ms + i * 1000.0 / Rate
            i += 1
          }
          g.flush()
          val doneNs = System.nanoTime()
          (first until i).foreach(j => late += (doneNs - (t0Ns + (j * 1e9 / Rate).toLong)) / 1e6)
          Option(q.lastProgress).flatMap(Progress.committed).foreach { c =>
            lagSamples += (g.headPos - g.globalPos(c.file, c.pos)).toDouble
          }
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      // wait until the stream has committed the generator's head
      val last = g.txns.last
      val deadline = System.nanoTime() + 60e9.toLong
      def caughtUp = Progress.batches(q).lastOption.exists(b =>
        g.globalPos(b.end.file, b.end.pos) >= g.globalPos(last.file, last.endPos))
      while (!caughtUp && System.nanoTime() < deadline) Thread.sleep(20)
      tally.check("live: stream caught up with the generator")(caughtUp)
    } finally q.stop()

    val bs = Progress.batches(q)
    liveBatches = bs
    lateMs = late.toSeq
    lagBytes = lagSamples.toSeq
    Progress.trace(bs)
    // each transaction belongs to the batch whose (start, end] holds its end
    val ranges = bs.map(b =>
      (b.start.fold(0L)(s => g.globalPos(s.file, s.pos)), g.globalPos(b.end.file, b.end.pos), b))
    val perBatch = mutable.HashMap.empty[Long, Long]
    var unassigned = 0
    val warmTxns = (Rate * WarmupS).toInt
    g.txns.zipWithIndex.foreach { case (t, i) =>
      val te = g.globalPos(t.file, t.endPos)
      ranges.find { case (s, e, _) => s < te && te <= e } match {
        case Some((_, _, b)) =>
          perBatch(b.id) = perBatch.getOrElse(b.id, 0L) + t.rows
          if (i >= warmTxns) lag += b.endMs - t.dueMs
        case None => unassigned += 1
      }
    }
    Util.log(s"${lag.size} lag samples; batch ms: ${bs.map(b => b.endMs - b.startMs).mkString(" ")}")
    tally.check("live: batches are contiguous")(
      ranges.zip(ranges.drop(1)).forall { case (a, b) => a._2 == b._1 })
    tally.check("live: every transaction observed exactly once")(unassigned == 0 &&
      bs.forall(b => perBatch.getOrElse(b.id, 0L) == b.rows))
    tally.check("live: materialized table equals ground truth")(tableMatches(table.toString, g))
    (lag.toSeq, Util.dataBytes(table).toDouble / g.truthBytes)
  }

  def layers(): Map[String, Double] =
    new Replay(spark, backlogDir, work.resolve("replay-snapshot"), backlog, ddl, cores, tally).layers() ++
    TraceSummary(Ledger.SpanKinds) ++ Progress.layerMetrics(liveBatches) ++ Map(
      "sources.lag_bytes_p99" -> Util.pct(lagBytes, 99),
      "streaming.trigger_gap_ms_p50" -> Util.pct(Progress.triggerGapsMs(drainBatches), 50),
      "gen.late_ms_p99" -> Util.pct(lateMs, 99),
      "trace.coverage" -> {
        // share of the catch-up drain's wall time spent inside batches
        val iv = drainBatches.map(b => (b.startMs, b.endMs))
        Trace.unionNs(iv) / math.max(1.0, (iv.map(_._2).max - iv.map(_._1).min).toDouble)
      })
}
