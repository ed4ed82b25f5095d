package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

/** File-system probe on a doc-table root, run on the benchmark's single
  * background thread. It records each commit as its `_coverage` marker
  * appears, with the bytes and files the version added. */
final class Probe(stateDir: File) {
  import Probe._

  private val known = mutable.Set.empty[String]
  private val commitBuf = mutable.ArrayBuffer.empty[Commit]
  @volatile private var running = true
  @volatile private var failure: Option[Throwable] = None
  private var thread: Thread = _

  // versions already committed before the probe starts are the baseline
  versionDirs().filter(v => new File(v, "_coverage").exists()).foreach(v => known += v.getName)

  private def versionDirs(): Seq[File] =
    Option(stateDir.listFiles()).toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith("v"))

  private def scan(): Unit = versionDirs().filterNot(v => known(v.getName)).foreach { v =>
    val cov = new File(v, "_coverage")
    if (cov.exists()) {
      val at = System.nanoTime()
      known += v.getName
      val (bytes, files) = treeSize(v)
      val dirty = new String(Files.readAllBytes(cov.toPath), "UTF-8").split(",").count(_.nonEmpty)
      synchronized { commitBuf += Commit(v.getName.drop(1).toLong, at, bytes, files, dirty) }
    }
  }

  def start(): Unit = {
    thread = new Thread(() => {
      try {
        while (running) {
          scan()
          Thread.sleep(PollMs)
        }
        scan()
      } catch { case t: Throwable => failure = Some(t) }
    }, "perfbench-probe")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = {
    running = false
    if (thread != null) thread.join()
    failure.foreach(t => throw t)
  }

  def commits: Seq[Commit] = synchronized(commitBuf.toList.sortBy(_.version))
}

object Probe {
  val PollMs = 5
  final case class Commit(version: Long, atNanos: Long, bytes: Long, files: Int, dirtyBuckets: Int)

  def treeSize(f: File): (Long, Int) =
    if (f.isFile) (f.length, 1)
    else Option(f.listFiles()).toSeq.flatten.map(treeSize)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}

/** Reads a file-source streaming checkpoint from outside: which change-log
  * files each micro-batch read. */
object Checkpoint {
  private val LogOffset = """\{"logOffset":(\d+)\}""".r
  private val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored

  private def logFiles(d: File) = Option(d.listFiles()).toSeq.flatten
    .filter(f => f.isFile && !f.getName.startsWith("."))

  /** File names read by each micro-batch, by batch id. */
  def batchFiles(checkpoint: File): Map[Long, Seq[String]] = {
    def lines(f: File) = new String(Files.readAllBytes(f.toPath), "UTF-8").split("\n").toSeq
    val endOffset: Map[Long, Long] = logFiles(new File(checkpoint, "offsets")).map { f =>
      f.getName.toLong -> lines(f).collectFirst { case LogOffset(n) => n.toLong }
        .getOrElse(sys.error(s"no file-source offset in $f"))
    }.toMap
    val bySourceBatch: Map[Long, Seq[String]] = logFiles(new File(checkpoint, "sources/0"))
      .flatMap(lines).collect { case Entry(path, b) => b.toLong -> new File(new java.net.URI(path)).getName }
      .distinct.groupMap(_._1)(_._2)
    endOffset.map { case (b, end) =>
      val from = endOffset.get(b - 1).map(_ + 1).getOrElse(0L)
      b -> (from to end).flatMap(bySourceBatch.getOrElse(_, Nil)).sorted
    }
  }
}
