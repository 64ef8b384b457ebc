package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{CdcBinlog, Layout, Similarity, TextAnalysis}
import graft.streaming.CdcMaterializer

/** `maintain`: a pre-written backlog of `bench.docs` upserts and deletes is
  * drained at a fixed `maxBytesPerTrigger` (so batch boundaries repeat
  * exactly) into the four CDC-maintained structures — text index, IVF index,
  * fp log, band log, appended and folded concurrently — folding each every
  * [[FoldEvery]] batches; between batches one closed-loop prober issues BM25,
  * MIPS, fp and near-dup probes. Writes and reads hit the same structures. A
  * pass drains the whole backlog into fresh structures; after one untimed
  * warm-up pass, at least [[MinPasses]] passes run, and more until the run's
  * time is spent. Probe latency is reported per kind and averaged over the
  * four kinds. */
final class Maintain(spark: SparkSession, work: Path, seed: Long, seconds: Double,
                     tally: Tally) extends Workload {
  import spark.implicits._

  val Keys = 3000
  val InitialDocs = 300
  val Txns = 1500
  val MaxOps = 4
  val FileBytes = 256L << 10
  val Batches = 2
  val FoldEvery = 2
  val TextBuckets = 8
  val AnnK = 8
  val TopK = 10
  val ProbesPerBatch = 1
  val MinPasses = 2
  val WarmTxns = 100
  val Kinds = Seq("text", "ann", "fp", "band")
  val ddl = "doc_id BIGINT, body STRING, emb STRING"

  private val backlogDir = work.resolve("maintain-log")
  private var gen: DocGen = _
  private val digests = mutable.ArrayBuffer.empty[String]
  private val batchCounts = mutable.ArrayBuffer.empty[Int]
  private var warmed = false

  // the last measured phase, for the traced layer metrics
  private var lastBatches = Seq.empty[Batch]
  private var appendMs = Map.empty[String, Seq[Double]]
  private var foldMs = Map.empty[String, Seq[Double]]
  private var probeMs = Map.empty[String, Seq[Double]]
  private var segmentsMax = Map.empty[String, Int]
  private var bytes = Map.empty[String, Long]
  private var ingestS = 0.0

  def inputs: String = s"${InitialDocs} bulk-loaded docs + ${Txns} txns, ${gen.changeRows} change rows, " +
    s"${gen.state.size} live docs, ${gen.closedFiles.size + 1} files, ${gen.headPos} bytes, " +
    s"${dupDocs.size} probe docs, truth ${gen.truthDigest.take(16)}"

  def aliases = Map(
    "rows_per_s" -> ("maintain_rows_per_s", "rows/s"),
    "latency_ms_p50" -> ("probe_ms_p50", "ms"),
    "latency_ms_p99" -> ("probe_ms_p99", "ms"),
    "space_amp" -> ("maintain_space_amp", "ratio"))

  private final class Structures(root: Path) {
    val dirs: Map[String, String] = Kinds.map(k => k -> root.resolve(k).toString).toMap
    def text = dirs("text"); def ann = dirs("ann"); def fp = dirs("fp"); def band = dirs("band")
  }

  /** A batch's latest image per document (cdcm4's rule: the last change in
    * log order wins), with the embedding parsed to the long array the IVF
    * index stores and the batch id as the version. */
  private def images(batch: DataFrame, batchId: Long): DataFrame =
    batch.filter($"_delta_type" =!= "update-before")
      .groupBy($"doc_id")
      .agg(max(struct(CdcMaterializer.fileSeq($"log_file").as("fo"), $"log_pos", $"log_seq",
        $"_delta_type".as("dt"), $"body", $"emb")).as("m"))
      .select($"doc_id", $"m.body".as("text"),
        split($"m.emb", ",").cast("array<bigint>").as("embedding"),
        lit(batchId).as("ver"), ($"m.dt" === "delete").as("deleted"))

  private def append(st: Structures, imgs: DataFrame, seg: String, kind: String): Unit = kind match {
    case "text" => TextAnalysis.appendCdcTextSegment(
      imgs.select("doc_id", "text", "ver", "deleted"), st.text, seg, nBuckets = TextBuckets)
    case "ann" => Similarity.appendCdcAnnSegment(
      imgs.select($"doc_id".as("vec_id"), $"embedding", $"ver", $"deleted"), st.ann, seg, k = AnnK)
    case "fp" => CdcBinlog.appendCdcFpSegment(
      imgs.select($"doc_id", $"ver", $"deleted", md5(TextAnalysis.normalize($"text")).as("fp"))
        .coalesce(4), st.fp, seg)
    case "band" => CdcBinlog.appendCdcFpSegment(
      CdcBinlog.cdcm15BandImages(imgs.select("doc_id", "ver", "deleted", "text")).coalesce(4),
      st.band, seg)
  }

  private def fold(st: Structures, kind: String): Unit = kind match {
    case "text" => TextAnalysis.compactCdcTextIndex(spark, st.text, nBuckets = TextBuckets)
    case "ann" => Similarity.compactCdcAnnIndex(spark, st.ann)
    case "fp" => CdcBinlog.compactCdcFpLog(spark, st.fp)
    case "band" => CdcBinlog.compactCdcBandLog(spark, st.band)
  }

  private def advice(st: Structures): Array[Row] =
    CdcBinlog.maintenanceAdviceReport(spark, Seq(("text", "text", st.text),
      ("ann", "ann", st.ann), ("fp", "log", st.fp), ("band", "log", st.band))).collect()

  /** A probe as comparable rows: (key, score) pairs in result order. */
  private def probe(st: Structures, kind: String, arg: Either[Seq[String], Seq[Long]],
                    doc: Long): Seq[(Long, Long, Double)] = kind match {
    case "text" => TextAnalysis.bm25TopKViaCdcIndex(spark, st.text, arg.left.toOption.get, TopK,
      nBuckets = TextBuckets).select($"doc_id".cast("long"), $"bm25").collect()
      .map(r => (r.getLong(0), -1L, r.getDouble(1))).toSeq
    case "ann" => Similarity.mipsTopKViaCdcAnnIndex(spark, st.ann, arg.toOption.get, TopK)
      .select($"vec_id".cast("long"), $"dot".cast("double")).collect()
      .map(r => (r.getLong(0), -1L, r.getDouble(1))).toSeq
    case "fp" => CdcBinlog.cdcFpProbe(spark, st.fp, doc).select($"dup_doc_id").collect()
      .map(r => (r.getLong(0), -1L, 0.0)).toSeq
    case "band" => CdcBinlog.cdcNearDupProbe(spark, st.band, doc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  private type ProbeArgs = (Either[Seq[String], Seq[Long]], Long)

  /** Arguments for one probe of `kind`, drawn from `rnd`: two query terms
    * (text), a query vector (ann) or a doc id (fp, band). The doc is one of
    * the bulk-loaded docs no transaction updates or deletes, preferring one
    * with an exact duplicate among those, so a probe after any batch finds
    * it live with the same partners and takes the same path (a deleted doc
    * answers at once, and such probes made the latency depend on the seed). */
  private def argsFor(kind: String, rnd: java.util.SplittableRandom): ProbeArgs = {
    val terms = Seq.fill(2)(gen.vocab(rnd.nextInt(60)))
    val vec = Seq.fill(8)(rnd.nextLong(-1000, 1001))
    val doc = dupDocs(rnd.nextInt(dupDocs.size))
    (if (kind == "text") Left(terms) else Right(vec), doc)
  }

  private lazy val dupDocs: IndexedSeq[Long] = {
    val kept = gen.state.toSeq.filter { case (k, _) => k < InitialDocs && !gen.touched(k) }
    val dups = kept.groupBy(_._2._1).values.filter(_.size > 1).flatMap(_.map(_._1)).toIndexedSeq.sorted
    if (dups.nonEmpty) dups else kept.map(_._1).toIndexedSeq.sorted
  }

  private def segments(dir: String): Int = {
    val leg = Seq(Path.of(dir, "doclog"), Path.of(dir)).find(Files.isDirectory(_))
    leg.map { p =>
      val s = Files.list(p)
      try s.iterator().asScala.count(d => d.getFileName.toString.startsWith("seg=") &&
        d.getFileName.toString != "seg=base" && Files.exists(d.resolve("_SUCCESS")))
      finally s.close()
    }.getOrElse(0)
  }

  private final case class PassResult(ingestS: Double, batches: Seq[Batch], probeMs: Map[String, Seq[Double]],
                              appendMs: Map[String, Seq[Double]], foldMs: Map[String, Seq[Double]],
                              segmentsMax: Map[String, Int],
                              lastRound: Map[String, (ProbeArgs, Seq[(Long, Long, Double)])],
                              bytes: Map[String, Long])

  /** Drain the whole backlog into fresh structures. After each batch the
    * prober, closed loop, issues `probeRounds` rounds of one probe of
    * each kind against the structures as that batch left them; the drain's
    * ingest time is its wall time minus those rounds. */
  private def pass(name: String, log: Path, g: DocGen, batches: Int, probeRounds: Int): PassResult = {
    val root = Gen.freshDir(work.resolve(name))
    val st = new Structures(root)
    val appends = Kinds.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val folds = Kinds.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val probes = Kinds.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val segMax = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val rnd = new java.util.SplittableRandom(seed ^ 0x9eL)
    val lastRound = mutable.HashMap.empty[String, (ProbeArgs, Seq[(Long, Long, Double)])]
    var probeS = 0.0
    val cap = g.headPos / batches
    val (q, wallS) = Util.timed {
      val q = spark.readStream.format("mysql-binlog").option("payloadDdl", ddl)
        .option("maxBytesPerTrigger", cap.toString).load(log.toString)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          tally.op("maintain: batch") {
            val imgs = Trace.span("images") {
              val i = images(batch, batchId).persist()
              i.count()
              i
            }
            try {
              val seg = f"b$batchId%06d"
              // the four structures' legs are independent: run them
              // concurrently, as the engine's own maintenance daemon does
              val took = Layout.inParallelLegs(Kinds.map(k => () =>
                (Util.timed(Trace.span("append")(append(st, imgs, seg, k)))._2 * 1000,
                  segments(st.dirs(k)))))
              Kinds.zip(took).foreach { case (k, (ms, n)) =>
                appends(k) += ms
                segMax(k) = math.max(segMax(k), n)
              }
              if (batchId % FoldEvery == 0) {
                Trace.span("advice")(advice(st))
                val took = Layout.inParallelLegs(Kinds.map(k => () =>
                  Util.timed(Trace.span("fold")(fold(st, k)))._2 * 1000))
                Kinds.zip(took).foreach { case (k, ms) => folds(k) += ms }
              }
            } finally imgs.unpersist()
            probeS += Util.timed(for (_ <- 1 to probeRounds; kind <- Kinds) {
              val (arg, doc) = argsFor(kind, rnd)
              val (res, s) = Util.timed(Trace.span("probe")(
                tally.op(s"maintain: $kind probe")(probe(st, kind, arg, doc))))
              probes(kind) += s * 1000
              lastRound(kind) = ((arg, doc), res)
            })._2
          }
          ()
        }.start()
      q.awaitTermination()
      q
    }
    val bs = Progress.batches(q)
    tally.check(s"$name: every change row read exactly once")(bs.map(_.rows).sum == g.changeRows)
    PassResult(wallS - probeS, bs, probes.map { case (k, v) => k -> v.toSeq },
      appends.map { case (k, v) => k -> v.toSeq }, folds.map { case (k, v) => k -> v.toSeq },
      segMax.toMap, lastRound.toMap, Kinds.map(k => k -> Util.dataBytes(Path.of(st.dirs(k)))).toMap)
  }

  private def docs(dir: Path, seed: Long): DocGen = {
    val g = new DocGen(dir, seed, Keys, FileBytes)
    g.bulkLoad(InitialDocs, 50)
    g
  }

  def setup(): Unit = {
    Gen.freshDir(backlogDir)
    gen = Gen.writeAll(docs(backlogDir, seed), Txns, MaxOps,
      new java.util.SplittableRandom(seed ^ 0xd0cL))
    digests += gen.bytesDigest
    tally.check("maintain: same seed gives byte-identical files")(digests.distinct.size == 1)
    // warm-up: one batch-read of a short log appended to every structure
    val warmLog = Gen.freshDir(work.resolve("maintain-warm-log"))
    Gen.writeAll(docs(warmLog, seed ^ 0xa1L), WarmTxns, MaxOps, new java.util.SplittableRandom(seed ^ 0xa2L))
    val st = new Structures(Gen.freshDir(work.resolve("maintain-warm")))
    val imgs = images(spark.read.format("mysql-binlog").option("payloadDdl", ddl)
      .load(warmLog.toString), 0L).persist()
    try Layout.inParallelLegs(Kinds.map(k => () => append(st, imgs, "b000000", k)))
    finally imgs.unpersist()
  }

  def measure(): Map[String, Double] = {
    // warm-up: one untimed pass, so the streaming drain, advice, folds and
    // probes run warm when timed (a traced measure follows a warm one)
    if (!warmed) {
      pass("maintain-pass", backlogDir, gen, Batches, probeRounds = 0)
      // one probe of each kind against what the warm-up pass built: its
      // base and a segment, so every probe path has run once
      val st = new Structures(work.resolve("maintain-pass"))
      val rnd = new java.util.SplittableRandom(seed)
      Kinds.foreach { k =>
        val (arg, doc) = argsFor(k, rnd)
        tally.op(s"maintain: warm-up $k probe")(probe(st, k, arg, doc))
      }
    }
    warmed = true
    val results = mutable.ArrayBuffer.empty[PassResult]
    val t0 = System.nanoTime()
    while (results.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      results += pass("maintain-pass", backlogDir, gen, Batches, ProbesPerBatch)
    val last = results.last
    batchCounts ++= results.map(_.batches.size)
    tally.check("maintain: batch boundaries repeat exactly")(batchCounts.distinct.size == 1)
    results.foreach(r => Progress.trace(r.batches))
    checkAgainstFreshBuild(last.lastRound)
    def merged(f: PassResult => Map[String, Seq[Double]]) =
      Kinds.map(k => k -> results.flatMap(r => f(r)(k)).toSeq).toMap
    lastBatches = last.batches
    appendMs = merged(_.appendMs)
    foldMs = merged(_.foldMs)
    probeMs = merged(_.probeMs)
    segmentsMax = last.segmentsMax
    bytes = last.bytes
    ingestS = results.map(_.ingestS).sum
    Kinds.foreach(k => Util.log(s"$k probe ms: ${probeMs(k).map(x => f"$x%.0f").mkString(" ")}; " +
      s"append ms: ${appendMs(k).map(x => f"$x%.0f").mkString(" ")}; fold ms: ${foldMs(k).map(x => f"$x%.0f").mkString(" ")}"))
    tally.check("maintain: the prober completed probes of every kind")(probeMs.values.forall(_.nonEmpty))
    // the mix weighs the kinds equally: a kind's percentile, averaged over
    // kinds (pooled, the kinds' latencies cluster apart and a percentile
    // would jump between clusters)
    def mixPct(q: Double) = Kinds.map(k => Util.pct(probeMs(k), q)).sum / Kinds.size
    Util.log(s"passes ${results.size}, ingest s ${results.map(r => f"${r.ingestS}%.2f").mkString(" ")}")
    Map("rows_per_s" -> gen.changeRows * results.size / ingestS,
      "latency_ms_p50" -> mixPct(50),
      "latency_ms_p99" -> mixPct(99),
      "space_amp" -> bytes.values.sum.toDouble / gen.truthBytes)
  }

  /** The last probe round (run against the final structures) must answer
    * exactly as the same probes over the four structures built in one batch
    * from the ground-truth latest images. */
  private def checkAgainstFreshBuild(lastRound: Map[String, (ProbeArgs, Seq[(Long, Long, Double)])]): Unit = {
    val fresh = new Structures(Gen.freshDir(work.resolve("maintain-fresh")))
    val truth = gen.state.toSeq.map { case (id, (text, emb)) => (id, text, emb) }
      .toDF("doc_id", "text", "emb")
      .select($"doc_id", $"text", split($"emb", ",").cast("array<bigint>").as("embedding"),
        lit(0L).as("ver"), lit(false).as("deleted"))
      .persist()
    // the four structures are independent: build, then probe, them concurrently
    try Layout.inParallelLegs(Kinds.map(k => () => append(fresh, truth, "b000000", k)))
    finally truth.unpersist()
    val same = Layout.inParallelLegs(Kinds.map { kind =>
      val ((arg, doc), got) = lastRound(kind)
      () => got == probe(fresh, kind, arg, doc)
    })
    Kinds.zip(same).foreach { case (kind, ok) =>
      tally.check(s"maintain: final $kind probe equals fresh-build probe")(ok)
    }
  }

  def layers(): Map[String, Double] = {
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Util.pct(xs, 50)
    val ingest = Seq("images", "append", "fold", "advice")
    val ingestNs = Trace.unionNs(Trace.spans.filter(s => ingest.contains(s.kind)).map(s => (s.startNs, s.endNs)))
    TraceSummary(Ledger.SpanKinds) ++ Progress.layerMetrics(lastBatches) ++ Map(
      "streaming.trigger_gap_ms_p50" -> p50(Progress.triggerGapsMs(lastBatches)),
      "maintain.images_ms_p50" -> p50(TraceSummary.durationsMs("images")),
      "advice.measure_ms_p50" -> p50(TraceSummary.durationsMs("advice")),
      "trace.coverage" -> ingestNs / 1e9 / ingestS) ++
      Kinds.flatMap(k => Seq(
        s"$k.append_ms_p50" -> p50(appendMs(k)),
        s"$k.fold_ms_p50" -> p50(foldMs(k)),
        s"$k.probe_ms_p50" -> p50(probeMs(k)),
        s"$k.segments_max" -> segmentsMax.getOrElse(k, 0).toDouble,
        s"$k.bytes" -> bytes(k).toDouble))
  }
}
