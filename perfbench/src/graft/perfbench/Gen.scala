package graft.perfbench

import java.io.FileOutputStream
import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

import graft.binlog.BinlogWriter.{ColSpec, Writer}

/** Seeded binlog load generator over [[graft.binlog.BinlogWriter]].
  *
  * Writes one table's change stream as rotated binlog files
  * (`binlog.000001`, ... each closed by a ROTATE) and keeps the ground
  * truth the engine is checked against: the latest image per key, the exact
  * number of change rows the source must emit (an update emits a before and
  * an after image) and, per transaction, the byte position just past its XID.
  * Keys are Zipf-skewed; a key that is absent is inserted, a present key is
  * updated or deleted. Everything derives from `seed`, so one seed gives
  * byte-identical files.
  *
  * Bytes reach disk through [[flush]], which appends only what was written
  * since the last flush (a live log grows the way a server's does); a file
  * is created in one write holding at least its magic and FORMAT_DESCRIPTION.
  */
abstract class LogGen(dir: Path, seed: Long, keys: Int, zipfS: Double,
                      fileBytes: Long) {
  protected val rnd = new java.util.SplittableRandom(seed)
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1, zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  /** Key rank r maps to a scattered id so hot keys spread over buckets. */
  protected def zipfKey(): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    val r = if (i >= 0) i else -i - 1
    (r.toLong * 7919L) % keys
  }

  val tableId = 42L
  def db: String
  def table: String
  def cols: Seq[ColSpec]

  val txns = mutable.ArrayBuffer.empty[LogGen.Txn]
  var changeRows = 0L
  private var fileNo = 1
  private var w: Writer = _
  private var flushed = 0
  private val done = mutable.ArrayBuffer.empty[(String, Long)] // closed files and sizes
  private val fileDigest = MessageDigest.getInstance("SHA-256")
  private var xid = 1000L

  def fileName(n: Int): String = f"binlog.$n%06d"
  def currentFile: String = dir.resolve(fileName(fileNo)).toString
  def closedFiles: Seq[(String, Long)] = done.toSeq

  private def open(): Unit = {
    w = new Writer()
    w.writeFormatDescription(ts = 1700000000L)
    flushed = 0
  }
  open()

  /** Global byte position of (file, pos) across the rotated log; files
    * compare by name, so any path spelling of the log's files works. */
  def globalPos(file: String, pos: Long): Long = {
    val name = new java.io.File(file).getName
    done.takeWhile(f => new java.io.File(f._1).getName != name).map(_._2).sum + pos
  }

  def headPos: Long = done.map(_._2).sum + w.position

  /** One transaction over `ops` distinct Zipf-drawn keys. */
  def nextTxn(ops: Int): LogGen.Txn = {
    val ks = mutable.LinkedHashSet.empty[Long]
    while (ks.size < ops) ks += zipfKey()
    nextTxnOn(ks.toSeq)
  }

  /** One transaction on the given distinct keys: BEGIN, TABLE_MAP, then one
    * rows event per change kind, XID. */
  def nextTxnOn(ks: Seq[Long]): LogGen.Txn = {
    val (ins, upd, del) = plan(ks)
    val ts = 1700000000L + txns.size / 100
    w.writeQuery(db, "BEGIN", ts = ts)
    w.writeTableMap(tableId, db, table, cols, ts = ts)
    if (ins.nonEmpty) w.writeInsert(tableId, cols, ins, ts = ts)
    if (upd.nonEmpty) w.writeUpdate(tableId, cols, upd, ts = ts)
    if (del.nonEmpty) w.writeDelete(tableId, cols, del, ts = ts)
    xid += 1
    w.writeXid(xid, ts = ts)
    val rows = ins.size + 2 * upd.size + del.size
    changeRows += rows
    val t = LogGen.Txn(currentFile, w.position, rows)
    txns += t
    if (w.position >= fileBytes) rotate()
    t
  }

  private def rotate(): Unit = {
    w.writeRotate(fileName(fileNo + 1), ts = 1700000000L)
    flush()
    done += currentFile -> w.position
    fileNo += 1
    open()
  }

  /** Append the bytes written since the last flush to the current file. */
  def flush(): Unit = {
    val all = w.toBytes
    if (all.length > flushed) {
      val out = new FileOutputStream(currentFile, true)
      try out.write(all, flushed, all.length - flushed) finally out.close()
      fileDigest.update(all, flushed, all.length - flushed)
      flushed = all.length
    }
  }

  /** SHA-256 over every byte flushed so far, in write order. */
  def bytesDigest: String = {
    val d = fileDigest.clone().asInstanceOf[MessageDigest]
    hex(d.digest())
  }

  /** Inserts, updates (before, after) and deletes of one transaction over
    * distinct keys; updates the ground truth. */
  protected def plan(ks: Seq[Long]): (Seq[Seq[Any]], Seq[(Seq[Any], Seq[Any])], Seq[Seq[Any]])

  /** Canonical text of every live row, sorted by key: the digest input. */
  def truthLines: Seq[String]

  /** Bytes of the live rows as row images (the ground-truth data size). */
  def truthBytes: Long

  def truthDigest: String = {
    val d = MessageDigest.getInstance("SHA-256")
    truthLines.foreach(l => d.update(l.getBytes("UTF-8")))
    hex(d.digest())
  }

  protected def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
}

object LogGen {
  /** One generated transaction: the file holding it, the byte position just
    * past its XID, the change rows it emits and (open loop) when it was due. */
  final case class Txn(file: String, endPos: Long, rows: Int, var dueMs: Double = 0.0)
}

/** `bench.big(id INT, val DECIMAL(12,4), word VARCHAR(50))`, the reference's
  * bench table: 60% of ops on present keys update, 40% delete. */
final class BigGen(dir: Path, seed: Long, keys: Int, fileBytes: Long)
    extends LogGen(dir, seed, keys, 1.1, fileBytes) {
  def db = "bench"
  def table = "big"
  val cols: Seq[ColSpec] = Seq(ColSpec.int, ColSpec.decimal(12, 4), ColSpec.varchar(50))
  val state = mutable.HashMap.empty[Long, (JBigDecimal, String)]

  private val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
  private def value(): (JBigDecimal, String) =
    (JBigDecimal.valueOf(rnd.nextLong(-99999999999L, 99999999999L), 4),
      s"${words(rnd.nextInt(words.length))}_${rnd.nextInt(100000)}")

  protected def plan(ks: Seq[Long]) = {
    val ins = mutable.ArrayBuffer.empty[Seq[Any]]
    val upd = mutable.ArrayBuffer.empty[(Seq[Any], Seq[Any])]
    val del = mutable.ArrayBuffer.empty[Seq[Any]]
    ks.foreach { k =>
      state.get(k) match {
        case None =>
          val v = value(); state(k) = v; ins += Seq(k.toInt, v._1, v._2)
        case Some(old) if rnd.nextInt(10) < 6 =>
          val v = value(); state(k) = v
          upd += ((Seq(k.toInt, old._1, old._2), Seq(k.toInt, v._1, v._2)))
        case Some(old) =>
          state.remove(k); del += Seq(k.toInt, old._1, old._2)
      }
    }
    (ins.toSeq, upd.toSeq, del.toSeq)
  }

  def truthLines: Seq[String] =
    state.toSeq.sortBy(_._1).map { case (k, (v, w)) => s"$k|${v.toPlainString}|$w\n" }

  def truthBytes: Long = state.valuesIterator.map(v => 4L + 6L + 1L + v._2.length).sum
}

/** `bench.docs(doc_id BIGINT, body VARCHAR(1000), emb VARCHAR(255))`: a
  * document table whose text feeds the text index, fp log and band log and
  * whose 8-dimension integer embedding (comma-joined) feeds the IVF index.
  * One upsert in ten copies a live document's text and embedding exactly and
  * one in ten copies it with one word replaced, so exact and near duplicates
  * exist. Present docs are updated (70%) or deleted (30%). [[bulkLoad]]
  * opens the log with an initial corpus of the lowest ids: the IVF index
  * seeds its quantizer from the vectors with `vec_id < k` of the first
  * batch, so those must be live in it. */
final class DocGen(dir: Path, seed: Long, keys: Int, fileBytes: Long)
    extends LogGen(dir, seed, keys, 0.8, fileBytes) {
  def db = "bench"
  def table = "docs"
  val cols: Seq[ColSpec] = Seq(ColSpec.bigint, ColSpec.varchar(1000), ColSpec.varchar(255))
  val state = mutable.LinkedHashMap.empty[Long, (String, String)]
  /** Every doc a transaction has updated or deleted since it was inserted. */
  val touched = mutable.HashSet.empty[Long]

  val vocab: Array[String] = Array.tabulate(400)(i =>
    s"${Seq("data", "log", "row", "key", "page", "node", "file", "task")(i % 8)}${i / 8}")
  private val vocabCdf = {
    val c = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last).toArray
  }
  def term(): String = {
    val i = java.util.Arrays.binarySearch(vocabCdf, rnd.nextDouble())
    vocab(if (i >= 0) i else -i - 1)
  }

  private def fresh(): (String, String) = {
    val n = 8 + rnd.nextInt(9)
    (Seq.fill(n)(term()).mkString(" "),
      Seq.fill(8)(rnd.nextInt(-1000, 1001)).mkString(","))
  }
  private def body(): (String, String) = {
    val pick = rnd.nextInt(10)
    if (pick >= 2 || state.isEmpty) fresh()
    else {
      val src = state.valuesIterator.drop(rnd.nextInt(math.min(state.size, 64))).next()
      if (pick == 0) src
      else {
        val ws = src._1.split(" ")
        ws(rnd.nextInt(ws.length)) = term()
        (ws.mkString(" "), src._2)
      }
    }
  }

  protected def plan(ks: Seq[Long]) = {
    val ins = mutable.ArrayBuffer.empty[Seq[Any]]
    val upd = mutable.ArrayBuffer.empty[(Seq[Any], Seq[Any])]
    val del = mutable.ArrayBuffer.empty[Seq[Any]]
    ks.foreach { k =>
      state.get(k) match {
        case None =>
          val v = body(); state(k) = v; ins += Seq(k, v._1, v._2)
        case Some(old) if rnd.nextInt(10) < 7 =>
          val v = body(); state(k) = v; touched += k
          upd += ((Seq(k, old._1, old._2), Seq(k, v._1, v._2)))
        case Some(old) =>
          state.remove(k); touched += k; del += Seq(k, old._1, old._2)
      }
    }
    (ins.toSeq, upd.toSeq, del.toSeq)
  }

  /** Insert docs 0 until n, `perTxn` to a transaction. */
  def bulkLoad(n: Int, perTxn: Int): Unit =
    (0L until n.toLong).grouped(perTxn).foreach(ks => nextTxnOn(ks))

  def truthLines: Seq[String] =
    state.toSeq.sortBy(_._1).map { case (k, (t, e)) => s"$k|$t|$e\n" }

  def truthBytes: Long = state.valuesIterator.map(v => 8L + 2L + v._1.length + 1L + v._2.length).sum
}

object Gen {
  /** Write a whole log of `txns` transactions of 1..`maxOps` ops. */
  def writeAll[G <: LogGen](g: G, txns: Int, maxOps: Int, opsRnd: java.util.SplittableRandom): G = {
    var i = 0
    while (i < txns) { g.nextTxn(1 + opsRnd.nextInt(maxOps)); i += 1 }
    g.flush()
    g
  }

  def freshDir(p: Path): Path = {
    if (Files.exists(p)) Util.deleteRecursively(p)
    Files.createDirectories(p)
  }
}
