package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** One timed iteration: the wall time of each timed stage (the cycle is
  * their sum), and what the write-amplification ratio needs. */
final case class Iteration(stages: Seq[(String, Double)], bytesWritten: Long,
                           bytesProcessed: Long) {
  def seconds: Double = stages.map(_._2).sum
}

/** Operation ledger. A failed check or an exception is one failed
  * operation; an iteration with any failure yields no time. */
final class Ops {
  var attempted = 0L
  var failed = 0L

  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] FAILED $what ${detail.take(2000)}")
    }
    ok
  }
}

trait Workload {
  /** Rows of input one iteration is measured against (rows_per_s). */
  def inputRows: Long
  /** Work that belongs to set-up (genie_nightly's base state). */
  def setup(ops: Ops): Unit = ()
  /** Runs one iteration; records its checks in `ops`. */
  def iterate(ops: Ops): Iteration
  /** Output checks made once per run, outside the timed iterations. */
  def finalCheck(ops: Ops): Unit = ()
  /** Per-layer numbers the workload measures itself (trace runs). */
  def layerMetrics(iterations: Int): Map[String, Double] = Map.empty
}

object Io {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` with Console output captured; returns it line by line. */
  def captured[T](body: => T): (T, Seq[String]) = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    val r = Console.withOut(ps)(body)
    ps.flush()
    (r, buf.toString("UTF-8").linesIterator.toSeq)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally w.close()
  }

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList finally w.close()
    }

  /** Bytes of data files under `p` last modified at or after `sinceMs`. */
  def bytesWrittenSince(p: Path, sinceMs: Long): Long =
    files(p).filter(f => !f.getFileName.toString.endsWith(".crc") &&
      Files.getLastModifiedTime(f).toMillis >= sinceMs).map(Files.size).sum
}
