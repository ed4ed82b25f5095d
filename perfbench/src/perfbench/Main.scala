package perfbench

import java.io.File

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.GraftSession
import graft.ingest.Ingest
import graft.sync.DocSync

import Gen.{LogFile, Shape}

/** The CDC sync benchmark: a seeded change log goes in through
  * `graft.ingest.Ingest`, a versioned doc table comes out of
  * `graft.sync.DocSync`, and readers search it through `graft.queries`.
  *
  * Usage: `Main --workload <bulk_drain|doc_search> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --out <dir>`. The last stdout
  * line is the JSON result; `--trace 1` reports the per-layer metrics that
  * the workload's layers give, and the launcher zero-fills the rest. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, out: File)

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          e2e: Seq[(String, Double, String)], layers: Seq[(String, Double, String)])

  /** Everything one run shares: the session, its work dir, the recorder. */
  final class Ctx(val spark: SparkSession, val a: Args, val rec: Option[Recorder]) {
    def span[T](name: String, attrs: (String, String)*)(body: => T): T =
      rec.fold(body)(_.span(name, attrs: _*)(body))
    def dir(name: String): File = { val d = new File(a.work, name); d.mkdirs(); d }
    /** Register the recorder's listeners (traced runs only). */
    def listen(): Unit = rec.foreach { r =>
      spark.sparkContext.addSparkListener(r.sparkListener)
      spark.streams.addListener(r.streamListener)
    }
  }

  val Buckets = 16
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  /** A run that has not finished its measurement by now stops where it is;
    * the launcher kills the JVM at 170 s. */
  val MaxRunS = 120

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      new File(kv("work")), new File(kv("out")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val t0 = System.nanoTime()
    val spark = GraftSession.local(Cores, Map(
      "spark.local.dir" -> new File(a.work, "spark-local").getPath,
      "spark.sql.warehouse.dir" -> new File(a.work, "warehouse").getPath))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = if (a.trace) Some(new Recorder) else None
    val ctx = new Ctx(spark, a, rec)
    try {
      val r = Workloads(a.workload)(ctx, sessionS)
      rec.foreach(_.writeTo(new File(a.out, s"trace_${a.workload}_seed${a.seed}.jsonl")))
      println(json(r, a.trace))
    } finally spark.stop()
  }

  val Workloads: Map[String, (Ctx, Double) => Result] = Map(
    "bulk_drain" -> BulkDrain.run, "doc_search" -> DocSearch.run)

  // ---- shared helpers -------------------------------------------------

  def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  def timed[T](body: => T): (T, Double) = { val t = System.nanoTime(); val r = body; (r, secondsSince(t)) }

  /** Nearest-rank percentile; a failed operation is +Inf and misses every limit. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.max(0, math.ceil(p * s.length).toInt - 1)) }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Per-batch layer metrics of a stream, from the recorder's listeners. */
  def streamLayers(rec: Recorder, measured: Seq[Applied], chmodForks: Long): Seq[(String, Double, String)] = {
    val ids = measured.map(_.batch).toSet
    val batches = rec.batches.filter(b => ids(b.id))
    val jobs = rec.jobs.filter(_.batchId.exists(ids))
    val (commitJobs, foldJobs) = jobs.partition(_.writes)
    val foldByBatch = foldJobs.groupBy(_.batchId.get)
    val n = math.max(1, batches.length).toDouble
    // fold wall time: first fold job start to last fold job end (its jobs overlap)
    val foldMs = batches.map { b =>
      val fs = foldByBatch.getOrElse(b.id, Nil)
      if (fs.isEmpty) 0.0 else fs.map(_.endMs).max - fs.map(_.startMs).min
    }
    val commitMs = batches.zip(foldMs).map { case (b, f) => b.addBatchMs - f }
    val commits = measured.map(_.commit)
    val perCommit = math.max(1, commits.length).toDouble
    val inBytes = measured.map(_.inputBytes).sum.toDouble
    Seq(
      ("ingest.batches", batches.length.toDouble, "count"),
      ("ingest.rows_per_batch_p50", median(measured.map(_.files.map(_.count.toDouble).sum)), "count"),
      ("ingest.trigger_ms_p50", median(batches.map(_.triggerMs)), "ms"),
      ("ingest.add_batch_ms_p50", median(batches.map(_.addBatchMs)), "ms"),
      ("ingest.overhead_ms_p50", median(batches.map(b => b.triggerMs - b.addBatchMs)), "ms"),
      ("ingest.wal_commit_ms_p50", median(batches.map(_.walMs)), "ms"),
      ("ingest.latest_offset_ms_p50", median(batches.map(_.latestOffsetMs)), "ms"),
      ("ingest.self_s", batches.map(b => b.triggerMs - b.addBatchMs).sum / 1e3, "s"),
      ("sync.fold.ms_p50", median(foldMs), "ms"),
      ("sync.fold.tasks_per_batch", foldJobs.map(_.tasks).sum / n, "count"),
      ("sync.fold.shuffle_bytes_per_batch", foldJobs.map(_.shuffleWriteBytes).sum / n, "bytes"),
      ("sync.fold.self_s", foldMs.sum / 1e3, "s"),
      ("sync.commit.ms_p50", median(commitMs), "ms"),
      ("sync.commit.dirty_buckets_p50", median(commits.map(_.dirtyBuckets.toDouble)), "count"),
      ("sync.commit.read_bytes_per_batch", commitJobs.map(_.inputBytes).sum / n, "bytes"),
      ("sync.commit.written_bytes_per_batch", commits.map(_.bytes).sum / perCommit, "bytes"),
      ("sync.commit.files_per_batch", commits.map(_.files).sum / perCommit, "count"),
      ("sync.write_amp", if (inBytes > 0) commits.map(_.bytes).sum / inBytes else 0.0, "ratio"),
      ("fs.chmod_forks_per_batch", chmodForks / n, "count"),
      ("sync.commit.self_s", commitMs.sum / 1e3, "s"),
      ("spark.jobs_per_batch", jobs.length / n, "count")) ++ sparkLayers(rec, jobs)
  }

  /** Runtime totals over the measured jobs. */
  def sparkLayers(rec: Recorder, jobs: Seq[Recorder.Job]): Seq[(String, Double, String)] =
    Seq(
      ("spark.jobs", jobs.length.toDouble, "count"),
      ("spark.tasks", jobs.map(_.tasks).sum.toDouble, "count"),
      ("spark.executor_cpu_s", jobs.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.executor_run_s", jobs.map(_.runMs).sum / 1e3, "s"),
      ("spark.gc_s", jobs.map(_.gcMs).sum / 1e3, "s"),
      ("spark.shuffle_write_bytes", jobs.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
      ("trace.recorder_ms", rec.recorderMs, "ms"))

  /** Number of `chmod` processes forked so far, counted by the shim that the
    * launcher puts first on PATH in traced runs (0 when there is none). */
  def chmodForks(): Long = sys.env.get("PERFBENCH_CHMOD_LOG").map(new File(_))
    .filter(_.exists).map(_.length).getOrElse(0L)

  def json(r: Result, trace: Boolean): String = {
    val metrics =
      if (!trace) r.e2e
      else r.layers ++ r.e2e.collect {
        case (n, v, u) if n != "setup_s" && n != "state_mb_per_version" => (s"trace.$n", v, u)
      }
    def num(v: Double) = if (v.isNaN || v.isInfinite) "1.0E9" else v.toString
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},"metrics":{$body}}"""
  }

  // ---- the write path: one streamed drain ------------------------------

  /** The doc table's dirs and the change-log files of one set-up. */
  final case class Table(root: File, files: Seq[LogFile]) {
    val src: File = files.head.file.getParentFile
    val state = new File(root, "state")
    val checkpoint = new File(root, "checkpoint")
    def config(trigger: Trigger, maxFiles: Int): Ingest.SyncConfig =
      Ingest.SyncConfig(src.getPath, state.getPath, checkpoint.getPath, trigger, maxFiles, Buckets)
  }

  /** A committed micro-batch: its version, the files it read, their bytes. */
  final case class Applied(batch: Long, commit: Probe.Commit, files: Seq[LogFile], inputBytes: Long)

  final case class Drain(applied: Seq[Applied], error: Option[Throwable], attemptedBatches: Long)

  /** Backfill `state` with one full document on each of `docs` keys spread
    * over a `keySpace` (seqs `0 until docs`, written as four files), merged
    * with one `DocSync.mergeBatch` call. */
  def backfill(ctx: Ctx, root: File, state: File, keySpace: Int, docs: Int): Shape = {
    val shape = Shape(Gen.Strided(keySpace, keySpace / docs), deleteShare = 0.0, minCells = 4, maxCells = 8)
    val files = Gen.layout(0, Seq.fill(4)(docs / 4), new File(root, "backfill"))
    Gen.write(ctx.spark, ctx.a.seed, shape, files, new File(root, "tmp-backfill"))
    mergeFiles(ctx, Seq(files.head.file.getParentFile), state)
    shape
  }

  /** Commit each change-log file or dir with one `DocSync.mergeBatch` call. */
  def mergeFiles(ctx: Ctx, files: Seq[File], state: File): Unit = files.foreach { f =>
    ctx.span("sync.mergeBatch", "input" -> f.getName) {
      val batch = ctx.spark.read.schema(graft.model.ChangeLog.schema).parquet(f.getPath)
      DocSync.mergeBatch(ctx.spark, batch, state.getPath, Buckets)
    }
  }

  /** Run `Ingest.start` over `table` until `until(query)` holds or the query
    * ends, stop it, and map each new commit to the batch and files it
    * applied: the k-th new version is the k-th micro-batch, whose files the
    * checkpoint's offset and source logs name. A micro-batch that threw ends
    * the query, and stopping it rethrows that exception: it is kept in
    * `Drain.error` for the workload to count as a failed batch. */
  def drain(ctx: Ctx, table: Table, cfg: Ingest.SyncConfig, probe: Probe)
           (until: StreamingQuery => Boolean): Drain = {
    val q = ctx.span("ingest.start")(Ingest.start(ctx.spark, cfg))
    probe.start()
    var stopped: Try[Unit] = null
    try while (!until(q) && q.isActive) Thread.sleep(10)
    finally {
      stopped = Try(ctx.span("ingest.stop")(Ingest.stopGracefully(q)))
      probe.stop()
    }
    val byName = table.files.map(f => f.file.getName -> f).toMap
    val batchFiles = Checkpoint.batchFiles(table.checkpoint)
    val applied = probe.commits.zipWithIndex.map { case (c, b) =>
      val fs = batchFiles.getOrElse(b.toLong, Nil).map(byName)
      Applied(b, c, fs, fs.map(_.file.length).sum)
    }
    Drain(applied, q.exception.orElse(stopped.failed.toOption), batchFiles.size.toLong)
  }

  /** Replay the applied files in batch order on top of `replay`, and compare
    * with the doc table the program committed. */
  def verify(ctx: Ctx, shape: Shape, replay: Replay, applied: Seq[LogFile], state: File): Boolean = {
    applied.foreach(f => (f.first until f.first + f.count).foreach(s => replay(Gen.event(ctx.a.seed, shape, s))))
    val want = replay.digest
    val got = ctx.span("bench.verify")(Digest.ofTable(DocSync.docTable(ctx.spark, state.getPath, Buckets)))
    if (got != want) System.err.println(s"[perfbench] digest mismatch: doc table $got, replay $want")
    got == want
  }

  def stateMbPerVersion(state: File): Double = {
    val versions = Option(state.listFiles()).toSeq.flatten.count(f => f.isDirectory && f.getName.startsWith("v"))
    Probe.treeSize(state)._1 / 1e6 / math.max(1, versions)
  }
}
