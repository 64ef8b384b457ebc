package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The replay-after-fold seam, reconstructed deterministically for the
  * CDC-maintained structures. foreachBatch is at-least-once: a
  * crash between a batch's append and its checkpoint commit replays the
  * batch. Plain replay is an idempotent overwrite of the batch's own
  * segment — but if a MID-STREAM COMPACTION folded that segment into
  * seg=base before the crash, the replay would re-create rows base
  * already holds, and the probes' (doc_id|vec_id, ver) liveness joins
  * would double-count them (text: df and per-doc scores inflate; ANN:
  * duplicate vec_ids in the top-k). The `_folded_through` fence makes
  * the replay a SKIP instead; these tests pin the fence (replay after
  * fold changes nothing, physically and in the probe), that post-fence
  * ingest still lands, and that a TORN segment (no _SUCCESS — a crashed
  * append whose batch never committed) is dropped by the fold rather
  * than folded, leaving its replay free to rewrite it — and that a fold
  * with nothing committed fails by name. The last two run once per
  * maintained kind (text, ann, fp, band), since all four fold through
  * the one shared protocol.
  */
class CdcReplayFenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def segNames(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles())
      .map(_.map(_.getName).filter(_.startsWith("seg=")).toSet)
      .getOrElse(Set.empty)

  private def collectStr(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  // ---- text -------------------------------------------------------------

  private def textImages(rows: (Int, String, Int, Boolean)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text", "ver", "deleted")
      .select($"doc_id".cast("long").as("doc_id"), $"text",
        $"ver".cast("long").as("ver"), $"deleted")
  }

  test("text: a replayed folded batch is fenced — no segment, no double counting") {
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-fence-txt")
    val idx = work.resolve("index").toString
    val terms = Seq("alpha", "beta")
    def probe() = collectStr(TextAnalysis
      .bm25TopKViaCdcIndex(spark, idx, terms, 10, nBuckets = 4)
      .orderBy("r_sparse"))

    val b2 = textImages((4, "alpha beta beta", 2, false), (2, "", 2, true))
    assert(TextAnalysis.appendCdcTextSegment(
      textImages((1, "alpha alpha x", 0, false), (2, "beta y", 0, false)),
      idx, "b000000", nBuckets = 4))
    assert(TextAnalysis.appendCdcTextSegment(
      textImages((3, "alpha z", 1, false), (1, "beta beta w", 1, false)),
      idx, "b000001", nBuckets = 4))
    assert(TextAnalysis.appendCdcTextSegment(b2, idx, "b000002", nBuckets = 4))
    val want = probe()
    assert(want.nonEmpty)

    TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
    assert(segNames(s"$idx/doclog") === Set("seg=base"))
    assert(probe() === want, "compaction alone must be probe-invariant")

    // the crash replay: batch 2 re-runs after its segment was folded
    assert(!TextAnalysis.appendCdcTextSegment(b2, idx, "b000002", nBuckets = 4),
      "replay of a folded batch must be fenced")
    assert(segNames(s"$idx/doclog") === Set("seg=base"),
      "the fenced replay must not re-create its segment")
    assert(probe() === want,
      "a replayed folded batch double-counted postings through the probe")

    // post-fence ingest still lands and supersedes
    assert(TextAnalysis.appendCdcTextSegment(
      textImages((1, "z only", 3, false)), idx, "b000003", nBuckets = 4))
    assert(segNames(s"$idx/doclog") === Set("seg=base", "seg=b000003"))
    val after = probe()
    assert(after !== want, "the post-fence update must be visible")
    assert(!after.exists(_.startsWith("[1,")),
      "doc 1 no longer matches the terms after its update")
  }

  // ---- ANN --------------------------------------------------------------

  private def annImages(rows: (Int, Seq[Long], Int, Boolean)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding", "ver", "deleted")
      .select($"vec_id".cast("long").as("vec_id"), $"embedding",
        $"ver".cast("long").as("ver"), $"deleted")
  }

  test("ANN: a replayed folded batch is fenced — no duplicate vec_ids in the top-k") {
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-fence-ann")
    val idx = work.resolve("annindex").toString
    val qVec = Seq(3L, 1L, 2L)
    def probe() = collectStr(Similarity
      .mipsTopKViaCdcAnnIndex(spark, idx, qVec, 10).orderBy("r_dense"))

    val b1 = annImages((4, Seq(5L, 5L, 5L), 1, false), (1, Seq(9L, 0L, 0L), 1, false))
    assert(Similarity.appendCdcAnnSegment(
      annImages((1, Seq(1L, 2L, 3L), 0, false), (2, Seq(2L, 2L, 2L), 0, false),
        (3, Seq(0L, 1L, 0L), 0, false)), idx, "b000000", k = 4))
    assert(Similarity.appendCdcAnnSegment(b1, idx, "b000001", k = 4))
    val want = probe()
    assert(want.size === 4)

    Similarity.compactCdcAnnIndex(spark, idx)
    assert(segNames(s"$idx/doclog") === Set("seg=base"))
    assert(segNames(s"$idx/cells") === Set("seg=base"))
    assert(probe() === want, "compaction alone must be probe-invariant")

    assert(!Similarity.appendCdcAnnSegment(b1, idx, "b000001", k = 4),
      "replay of a folded batch must be fenced")
    assert(segNames(s"$idx/doclog") === Set("seg=base"))
    val got = probe()
    assert(got === want,
      "a replayed folded batch produced duplicate scored rows in the top-k")

    // post-fence ingest still lands
    assert(Similarity.appendCdcAnnSegment(
      annImages((5, Seq(7L, 7L, 7L), 2, false)), idx, "b000002", k = 4))
    assert(probe().size === 5)
  }

  test("text: the fence is monotone across successive folds") {
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-fence-2fold")
    val idx = work.resolve("index").toString
    val root = new org.apache.hadoop.fs.Path(idx)
    def probe() = collectStr(TextAnalysis
      .bm25TopKViaCdcIndex(spark, idx, Seq("alpha"), 10, nBuckets = 4)
      .orderBy("r_sparse"))

    assert(TextAnalysis.appendCdcTextSegment(
      textImages((1, "alpha a", 0, false)), idx, "b000000", nBuckets = 4))
    TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
    assert(Layout.foldedThrough(fs, root) === Some(0L))

    assert(TextAnalysis.appendCdcTextSegment(
      textImages((2, "alpha b", 2, false)), idx, "b000002", nBuckets = 4))
    TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
    // second fold: max(existing fence, newly folded) — never regresses
    assert(Layout.foldedThrough(fs, root) === Some(2L))
    val want = probe()
    assert(want.size === 2)

    // both folded batches replay fenced; a fresh one lands
    assert(!TextAnalysis.appendCdcTextSegment(
      textImages((1, "alpha a", 0, false)), idx, "b000000", nBuckets = 4))
    assert(!TextAnalysis.appendCdcTextSegment(
      textImages((2, "alpha b", 2, false)), idx, "b000002", nBuckets = 4))
    assert(probe() === want)
    assert(TextAnalysis.appendCdcTextSegment(
      textImages((3, "alpha c", 3, false)), idx, "b000003", nBuckets = 4))
    assert(probe().size === 3)

    // a base-only re-fold (nothing new) keeps the fence
    TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
    assert(Layout.foldedThrough(fs, root) === Some(3L))
    TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
    assert(Layout.foldedThrough(fs, root) === Some(3L))
    assert(probe().size === 3)
  }

  // ---- fingerprint log ----------------------------------------------------

  test("fp log: a replayed folded batch is fenced; groups unchanged") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-fence-fp")
    val log = work.resolve("fplog").toString
    def fpImages(rows: (Int, Int, Boolean, String)*): DataFrame =
      rows.toSeq.toDF("doc_id", "ver", "deleted", "fp")
        .select($"doc_id".cast("long").as("doc_id"),
          $"ver".cast("long").as("ver"), $"deleted", $"fp")
    def groups() = collectStr(CdcBinlog.cdcFpGroups(spark, log))

    val b1 = fpImages((3, 1, false, "A"), (4, 1, false, "B"))
    assert(CdcBinlog.appendCdcFpSegment(
      fpImages((1, 0, false, "A"), (2, 0, false, "B")), log, "b000000"))
    assert(CdcBinlog.appendCdcFpSegment(b1, log, "b000001"))
    val want = groups()
    assert(want.size === 2) // {1,3} on A, {2,4} on B

    CdcBinlog.compactCdcFpLog(spark, log)
    assert(segNames(log) === Set("seg=base"))
    assert(groups() === want)

    assert(!CdcBinlog.appendCdcFpSegment(b1, log, "b000001"),
      "replay of a folded batch must be fenced")
    assert(segNames(log) === Set("seg=base"))
    assert(groups() === want)

    // post-fence ingest: doc 1 moves off A — group A dissolves
    assert(CdcBinlog.appendCdcFpSegment(
      fpImages((1, 2, false, "C")), log, "b000002"))
    assert(groups().size === 1)
  }

  // ---- the shared fold protocol, once per maintained kind ------------------

  /** One maintained structure under the fold protocol: batch 0 commits,
    * batch 1 is the one whose append gets torn (and later replays);
    * batch 1 adds exactly one row to `probe`. `torn` is the `_SUCCESS`
    * marker a crashed append never wrote; `legs` are the directories a
    * fold collapses to seg=base.
    */
  private final case class Kind(root: String, torn: String,
                                legs: Seq[String], append: Int => Boolean,
                                fold: () => Unit, probe: () => Seq[String])

  private def kind(name: String): Kind = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory(s"graft-fold-$name")
    val root = work.resolve(name).toString
    def seg(b: Int) = f"b$b%06d"
    name match {
      case "text" =>
        val batches = Seq(
          textImages((1, "alpha a", 0, false), (2, "alpha b", 0, false)),
          textImages((3, "alpha c", 1, false)))
        Kind(root, s"doclog/seg=${seg(1)}/_SUCCESS", Seq(s"$root/doclog"),
          b => TextAnalysis.appendCdcTextSegment(batches(b), root, seg(b), nBuckets = 4),
          () => TextAnalysis.compactCdcTextIndex(spark, root, nBuckets = 4),
          () => collectStr(TextAnalysis
            .bm25TopKViaCdcIndex(spark, root, Seq("alpha"), 10, nBuckets = 4)
            .orderBy("r_sparse")))
      case "ann" =>
        val batches = Seq(
          annImages((1, Seq(1L, 2L, 3L), 0, false), (2, Seq(2L, 2L, 2L), 0, false),
            (3, Seq(0L, 1L, 0L), 0, false)),
          annImages((4, Seq(5L, 5L, 5L), 1, false)))
        // the DATA leg is the torn one here: the intersect must drop it
        // just the same
        Kind(root, s"cells/seg=${seg(1)}/_SUCCESS",
          Seq(s"$root/doclog", s"$root/cells"),
          b => Similarity.appendCdcAnnSegment(batches(b), root, seg(b), k = 4),
          () => Similarity.compactCdcAnnIndex(spark, root),
          () => collectStr(Similarity
            .mipsTopKViaCdcAnnIndex(spark, root, Seq(3L, 1L, 2L), 10).orderBy("r_dense")))
      case "fp" =>
        def fpImages(rows: (Int, Int, Boolean, String)*): DataFrame =
          rows.toSeq.toDF("doc_id", "ver", "deleted", "fp")
            .select($"doc_id".cast("long").as("doc_id"),
              $"ver".cast("long").as("ver"), $"deleted", $"fp")
        val batches = Seq(
          fpImages((1, 0, false, "A"), (2, 0, false, "A"), (3, 0, false, "B")),
          fpImages((4, 1, false, "B")))
        Kind(root, s"seg=${seg(1)}/_SUCCESS", Seq(root),
          b => CdcBinlog.appendCdcFpSegment(batches(b), root, seg(b)),
          () => CdcBinlog.compactCdcFpLog(spark, root),
          () => collectStr(CdcBinlog.cdcFpGroups(spark, root)))
      case "band" =>
        val twin = "the quick brown fox jumps over the lazy dog"
        val other = "lorem ipsum dolor sit amet consectetur adipiscing elit"
        val batches = Seq(
          textImages((1, twin, 0, false), (2, twin, 0, false), (3, other, 0, false)),
          textImages((4, other, 1, false)))
        Kind(root, s"seg=${seg(1)}/_SUCCESS", Seq(root),
          b => CdcBinlog.appendCdcFpSegment(
            CdcBinlog.cdcm15BandImages(batches(b)), root, seg(b)),
          () => CdcBinlog.compactCdcBandLog(spark, root),
          () => collectStr(CdcBinlog.cdcNearDupPairs(spark, root)))
    }
  }

  private val kinds = Seq("text", "ann", "fp", "band")

  kinds.foreach { name =>
    test(s"$name: a torn segment is dropped by the fold, not folded — its replay rewrites it") {
      val k = kind(name)
      assert(k.append(0))
      val want = k.probe()

      // a crashed append: segment written but one leg's commit torn
      assert(k.append(1))
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"${k.root}/${k.torn}"), false))

      k.fold()
      // the torn segment is gone from the tree and NOT behind the fence
      k.legs.foreach(l => assert(segNames(l) === Set("seg=base")))
      assert(Layout.foldedThrough(fs, new org.apache.hadoop.fs.Path(k.root)) === Some(0L))
      assert(k.probe() === want, "the torn (uncommitted) batch must not be folded")

      // the batch replays (it never committed) and lands normally now
      assert(k.append(1))
      assert(k.probe().size === want.size + 1)
    }
  }

  kinds.foreach { name =>
    test(s"$name: a fold with no committed segments fails by name and publishes nothing") {
      val k = kind(name)
      val root = new org.apache.hadoop.fs.Path(k.root)
      assert(k.append(0))
      // the only segment is torn: nothing is committed
      val onlySeg = k.torn.replace("b000001", "b000000")
      assert(fs.delete(new org.apache.hadoop.fs.Path(root, onlySeg), false))
      val e = intercept[IllegalArgumentException](k.fold())
      assert(e.getMessage.contains(s"compact: no committed segments under ${k.root}"),
        e.getMessage)
      // no fence, no lease left behind, the torn segment untouched
      assert(Layout.foldedThrough(fs, root) === None)
      assert(!fs.exists(Layout.foldLeasePath(root)))
      k.legs.foreach(l => assert(segNames(l) === Set("seg=b000000")))
    }
  }
}
