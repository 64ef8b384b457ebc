package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.binlog.{BinlogReader, RowsEvent}
import graft.streaming.CdcMaterializer

/** Batch replay of a rotated multi-file `bench.big` binlog, the traced-only
  * layer split of `live`'s catch-up backlog: a single-thread codec pass
  * (`eventIterator`), count-only DSv2 scans, and replays through the DSv2
  * scan collapsed to the latest image per key, written as a parquet
  * snapshot and checked against the generator's ground truth. The codec and
  * the scan do almost all the work here; micro-batch admission none. */
final class Replay(spark: SparkSession, logDir: Path, snapDir: Path, gen: BigGen, ddl: String,
                   cores: Int, tally: Tally) {
  import spark.implicits._

  val Passes = 3

  private def changes: DataFrame =
    spark.read.format("mysql-binlog").option("payloadDdl", ddl).load(logDir.toString)

  /** The latest image per key, written as a parquet snapshot table. */
  private def collapse(in: DataFrame, out: String): Unit =
    in.filter($"_delta_type" =!= "update-before")
      .groupBy($"id")
      .agg(max(struct(CdcMaterializer.fileSeq($"log_file").as("fo"), $"log_pos",
        $"log_seq", $"_delta_type".as("dt"), $"val", $"word")).as("m"))
      .filter($"m.dt" =!= "delete")
      .select($"id", $"m.val".as("val"), $"m.word".as("word"))
      .write.mode("overwrite").parquet(out)

  private def matchesTruth(snap: String): Boolean = {
    val rows = spark.read.parquet(snap).collect()
    rows.length == gen.state.size && rows.forall { r =>
      gen.state.get(r.getInt(0).toLong).exists { case (v, w) =>
        v.compareTo(r.getDecimal(1)) == 0 && w == r.getString(2)
      }
    }
  }

  /** Collapse, write and check once; returns the wall seconds. */
  private def pass(): Double = tally.op("replay: pass") {
    Util.timed {
      Trace.span("collapse")(collapse(changes, snapDir.toString))
      Trace.span("check")(tally.check("replay: latest-image table equals ground truth")(
        matchesTruth(snapDir.toString)))
    }._2
  }

  /** The codec, scan and collapse metrics, and the share of a replay's wall
    * time their self times account for. */
  def layers(): Map[String, Double] = {
    val files = gen.closedFiles.map(_._1) :+ gen.currentFile
    val bytes = files.map(f => Files.size(Paths.get(f))).sum
    val (images, decodeS) = Trace.span("decode")(Util.timed {
      var n = 0L
      files.foreach { f =>
        BinlogReader.eventIterator(BinlogReader.mapFile(f), 4L).foreach {
          case r: RowsEvent => n += r.rows.size + r.afterRows.size
          case _ =>
        }
      }
      n
    })
    tally.check("replay: codec row images equal generated change rows")(images == gen.changeRows)
    val scans = (1 to Passes).map(_ => Trace.span("scan")(Util.timed(changes.count())))
    tally.check("replay: scan row count equals generated change rows")(
      scans.forall(_._1 == gen.changeRows))
    val passS = Util.median((1 to Passes).map(_ => pass()))
    val scanS = Util.median(scans.map(_._2))
    val collapseS = Util.median(TraceSummary.durationsMs("collapse")) / 1000
    val checkS = Util.median(TraceSummary.durationsMs("check")) / 1000
    // the codec's share of a scan, if the files decode in parallel
    val binlogS = decodeS / math.min(files.size, cores)
    val split = Map(
      "self.binlog_s" -> binlogS,
      "self.sources_s" -> (scanS - binlogS),
      "query.collapse_s" -> (collapseS - scanS),
      "self.check_s" -> checkS)
    split ++ Map(
      "binlog.decode_mb_per_s" -> bytes / 1e6 / decodeS,
      "binlog.row_images_per_s" -> images / decodeS,
      "sources.scan_mb_per_s" -> bytes / 1e6 / scanS,
      "sources.scan_partitions" -> changes.rdd.getNumPartitions.toDouble,
      "replay.coverage" -> split.values.sum / passS)
  }
}
