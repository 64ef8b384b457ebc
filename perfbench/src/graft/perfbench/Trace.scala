package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run.
  *
  * A span is (kind, instance id, parent, thread, start, end). The span key
  * `kind#id` is set as the Spark local property [[Trace.SpanKey]] while the
  * body runs, so jobs (via [[JobLedger]]) and Hadoop FS calls (via
  * [[CountingFileSystem]]) started on behalf of the span are attributed to
  * it; jobs a streaming query runs carry `streaming.sql.batchId` instead and
  * are attributed to the `stream` kind. When disabled every call is a plain
  * pass-through, so the untraced and traced phases run the same code.
  */
object Trace {
  val SpanKey = "perfbench.span"
  val BatchKey = "streaming.sql.batchId"

  final case class Span(id: Long, key: String, parent: Long, startNs: Long, endNs: Long) {
    def kind: String = kindOf(key)
  }

  /** Spark event times are epoch milliseconds; spans use the monotonic
    * clock. One offset, taken at load, maps the former onto the latter. */
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def msToNs(epochMs: Long): Long = epochMs * 1000000L + epochToNano

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def install(context: SparkContext): Unit = sc = context

  def reset(): Unit = { done.clear(); JobLedger.reset(); CountingFileSystem.reset() }

  def spans: Seq[Span] = done.asScala.toSeq

  def span[T](kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s"$kind#$id")
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, s"$kind#$id", parents.headOption.getOrElse(0L), t0, System.nanoTime()))
        stack.set(parents)
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Record an interval measured elsewhere (a micro-batch, from its own
    * millisecond progress timestamps) as a top-level span under a given key;
    * top-level spans inside it (a `foreachBatch` body's) become its children. */
  def record(key: String, startNs: Long, endNs: Long): Unit = if (enabled) {
    val id = ids.incrementAndGet()
    val slackNs = 2000000L // the batch's end is rounded to milliseconds
    done.asScala.filter(s => s.parent == 0L && s.startNs >= startNs && s.endNs <= endNs + slackNs)
      .toSeq.foreach { s => done.remove(s); done.add(s.copy(parent = id)) }
    done.add(Span(id, key, 0L, startNs, endNs))
  }

  /** Write the recorded spans and jobs, one per line, tab-separated:
    * `span key id parent start_ns end_ns` and
    * `job key start_ns end_ns tasks`. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map(s => s"span\t${s.key}\t${s.id}\t${s.parent}\t${s.startNs}\t${s.endNs}") ++
      JobLedger.all.sortBy(_.startMs).map(j =>
        s"job\t${j.key}\t${msToNs(j.startMs)}\t${msToNs(j.endMs)}\t${j.tasks}")
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** The span key a job or FS call belongs to, read from the caller's
    * Spark local properties (task side or driver side). */
  def currentKey: String = {
    val tc = TaskContext.get()
    def prop(k: String): String =
      if (tc != null) tc.getLocalProperty(k)
      else if (sc != null) sc.getLocalProperty(k) else null
    keyOf(prop(SpanKey), prop(BatchKey))
  }

  def keyOf(span: String, batch: String): String =
    if (span != null) span
    else if (batch != null) s"stream#b$batch"
    else "other#0"

  def kindOf(key: String): String = key.takeWhile(_ != '#')

  /** Self time per span: duration minus the union of its children's
    * intervals. */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }
}

/** SparkListener that keeps, per job, the span key it ran under (from the
  * job's local properties), its wall interval and its task count. */
object JobLedger extends SparkListener {
  final case class Job(key: String, startMs: Long, var endMs: Long, var tasks: Int)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  def reset(): Unit = { jobs.clear(); stageJob.clear() }

  def all: Seq[Job] = jobs.values().asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.enabled) {
    val p = e.properties
    val key =
      if (p == null) "other#0"
      else Trace.keyOf(p.getProperty(Trace.SpanKey), p.getProperty(Trace.BatchKey))
    jobs.put(e.jobId, Job(key, e.time, e.time, 0))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach(j => j.synchronized(j.tasks += 1))
}

/** The local filesystem with a per-span-kind call counter, registered
  * through `spark.hadoop.fs.file.impl` (configuration only). Counts the
  * entry points every higher-level call funnels into: listings, status
  * lookups (`exists` included), creates, renames and deletes. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.count

  override def listStatus(f: Path): Array[FileStatus] = { count("list"); super.listStatus(f) }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    count("list"); super.listLocatedStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = { count("status"); super.getFileStatus(f) }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    count("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { count("rename"); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete"); super.delete(f, recursive)
  }
}

object CountingFileSystem {
  val Ops = Seq("list", "status", "create", "rename", "delete")
  private val counts = new ConcurrentHashMap[(String, String), LongAdder]()

  def count(op: String): Unit = if (Trace.enabled)
    counts.computeIfAbsent((Trace.kindOf(Trace.currentKey), op), _ => new LongAdder).increment()

  def reset(): Unit = counts.clear()

  def snapshot: Map[(String, String), Long] =
    counts.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

/** Per-span-kind rollup of spans, jobs and FS calls into the ledger's
  * `spark.<kind>.*`, `fs.<kind>.*` and `self.<kind>_s` metrics, each per
  * span instance (per call, or per micro-batch for `stream`). */
object TraceSummary {
  def apply(kinds: Seq[String]): Map[String, Double] = {
    val spans = Trace.spans
    val self = Trace.selfNs(spans)
    val jobsByKey = JobLedger.all.groupBy(_.key)
    val fs = CountingFileSystem.snapshot
    val out = mutable.LinkedHashMap.empty[String, Double]
    kinds.foreach { k =>
      val ss = spans.filter(_.kind == k)
      val n = math.max(1, ss.size).toDouble
      val jobs = JobLedger.all.filter(j => Trace.kindOf(j.key) == k)
      // driver gap: span self time that no job of the span covered
      val gapNs = ss.map { s =>
        val own = jobsByKey.getOrElse(s.key, Nil).map(j =>
          (math.max(Trace.msToNs(j.startMs), s.startNs), math.min(Trace.msToNs(j.endMs), s.endNs)))
        math.max(0L, self(s.id) - Trace.unionNs(own))
      }.sum
      out(s"spark.$k.jobs") = jobs.size / n
      out(s"spark.$k.tasks") = jobs.map(_.tasks).sum / n
      out(s"spark.$k.job_ms") = jobs.map(j => j.endMs - j.startMs).sum / n
      out(s"spark.$k.driver_gap_ms") = gapNs / 1e6 / n
      CountingFileSystem.Ops.foreach(op =>
        out(s"fs.$k.${op}_calls") = fs.getOrElse((k, op), 0L) / n)
      out(s"self.${k}_s") = ss.map(s => self(s.id)).sum / 1e9 / n
    }
    out.toMap
  }

  /** Durations in ms of every span of one kind. */
  def durationsMs(kind: String): Seq[Double] =
    Trace.spans.filter(_.kind == kind).map(s => (s.endNs - s.startNs) / 1e6)
}
