package graft.perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `setup` (re)generates the inputs from the
  * seed and warms up; `measure` runs the timed phase and returns the
  * end-to-end metrics; `layers` runs the traced-only layer measurements and
  * derives the workload's per-layer metrics from the trace of the last
  * `measure`. */
trait Workload {
  def setup(): Unit
  def measure(): Map[String, Double]
  def layers(): Map[String, Double]
  /** Human-readable name and unit of each end-to-end metric on this workload. */
  def aliases: Map[String, (String, String)]
  /** The generated input's sizes, once set up. */
  def inputs: String
}

/** Benchmark entry point:
  * `Main --workload <live|maintain> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Prints each metric on its own line (`name value unit`), then, as the last
  * line, one JSON object: `correct`, `attempted`, `failed` and `metrics` —
  * the end-to-end metrics untraced (`--trace 0`) or the per-layer ledger
  * (`--trace 1`, which also measures untraced first and reports the
  * difference as `overhead.*`; its spans and jobs go to
  * `<work>/../<workload>.trace.tsv`). Exits non-zero if any output check
  * failed.
  */
object Main {
  val EndToEnd = Seq("rows_per_s" -> "rows/s", "latency_ms_p50" -> "ms",
    "latency_ms_p99" -> "ms", "space_amp" -> "ratio", "setup_s" -> "s")
  val SetupRepeats = 3

  def main(argv: Array[String]): Unit = {
    if (argv.sameElements(Array("--ledger"))) { println(Ledger.json); return }
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work: Path = Paths.get(args("work")).toAbsolutePath
    // one processor stays free for the driver, GC and JIT threads: on a small
    // host, tasks on every processor run slower and spread more between runs
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))

    val (spark, sessionS) = Util.timed {
      val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        // keep every progress event: batch completion and offsets come from them
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        // checkpoint logs through Hadoop FileSystem, so the traced run's
        // counting filesystem sees the commit-log calls too
        .config("spark.sql.streaming.checkpointFileManagerClass",
          "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      b.getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    Trace.install(spark.sparkContext)
    if (trace) spark.sparkContext.addSparkListener(JobLedger)

    val tally = new Tally
    val w: Workload = workload match {
      case "live" => new Live(spark, work, seed, seconds, cores, tally)
      case "maintain" => new Maintain(spark, work, seed, seconds, tally)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val code = try {
      val setups = (1 to SetupRepeats).map { i =>
        val s = Util.timed(w.setup())._2
        Util.log(f"setup $i: $s%.2f s")
        s
      }
      System.gc() // garbage from generation is not the measured phase's to collect
      val e2e = w.measure() + ("setup_s" -> Util.median(setups))
      Util.log("measured")
      val out = mutable.LinkedHashMap.empty[String, (Double, String)]
      println(s"inputs ${w.inputs}")
      println(f"session_start_s $sessionS%.3f s")
      println(s"setup_s_samples ${setups.map(x => f"$x%.3f").mkString(",")} s")
      EndToEnd.foreach { case (m, unit) =>
        val (alias, aliasUnit) = w.aliases.getOrElse(m, (m, unit))
        println(f"$alias ${e2e(m)}%.6f $aliasUnit")
        if (!trace) out(m) = (e2e(m), unit)
      }
      if (trace) {
        Trace.reset()
        System.gc()
        Trace.enabled = true
        val gc0 = Util.gcMs
        val traced = try w.measure() finally Trace.enabled = false
        Util.log("measured with tracing")
        val gcMs = (Util.gcMs - gc0).toDouble
        Trace.enabled = true
        val layer = try w.layers() finally Trace.enabled = false
        Trace.dump(work.resolveSibling(s"$workload.trace.tsv"))
        val ledger = Ledger.metrics
        ledger.foreach { case (m, unit) =>
          val v = if (m == "jvm.gc_ms") gcMs
            else if (m.startsWith("overhead.")) {
              val base = m.stripPrefix("overhead.")
              traced(base) - e2e(base)
            } else layer.getOrElse(m, 0.0)
          out(m) = (v, unit)
        }
      }
      val errorRate = if (tally.attempted == 0) 0.0 else tally.failed.toDouble / tally.attempted
      println(f"error_rate $errorRate%.6f (${tally.failed} of ${tally.attempted})")
      if (trace) out.foreach { case (m, (v, u)) => println(f"$m $v%.6f $u") }
      tally.failures.foreach(f => System.err.println(s"FAILED $f"))
      val correct = tally.failed == 0
      val metrics = out.map { case (m, (v, u)) =>
        s""""$m": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": ${tally.attempted}, "failed": ${tally.failed}, "metrics": {$metrics}}""")
      if (correct) 0 else 1
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        tally.failures.foreach(f => System.err.println(s"FAILED $f"))
        2
    } finally spark.stop()
    sys.exit(code)
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString
}
