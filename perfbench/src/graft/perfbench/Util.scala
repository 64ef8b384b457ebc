package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Util {
  private val t0 = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f] $msg")

  /** Nearest-rank percentile (q in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q / 100.0 * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  /** Bytes of the data files under a directory, excluding Hadoop's `.crc`
    * side files and `_SUCCESS` markers. */
  def dataBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
      val n = f.getFileName.toString
      !n.endsWith(".crc") && !n.startsWith("_")
    }).map(Files.size).sum
    finally s.close()
  }

  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Attempted and failed operations of a run — batches, probes and output
  * checks — from which `error_rate` is computed. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def check(what: String)(ok: => Boolean): Unit = synchronized {
    attempted += 1
    val good = try ok catch { case e: Exception => failures += s"$what: $e"; false }
    if (!good) { failed += 1; if (!failures.exists(_.startsWith(what))) failures += what }
  }

  /** Count one operation; a throw counts as failed and is rethrown. */
  def op[T](what: String)(body: => T): T = {
    synchronized(attempted += 1)
    try body
    catch { case e: Throwable => synchronized { failed += 1; failures += s"$what: $e" }; throw e }
  }
}
