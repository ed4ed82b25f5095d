package perfbench

import java.io.File

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{array, col, element_at}
import org.apache.spark.sql.streaming.Trigger

import graft.queries.QueryString
import graft.sync.DocSync

import Gen.Shape
import Main._

/** `bulk_drain`: a closed-loop drain of a change-log backlog with
  * `AvailableNow` and one file per trigger, on top of a preloaded table whose
  * keys every batch scatters over all buckets. The first `WarmBatches`
  * batches of the stream are its warm-up; the run measures the batches
  * committed in the `--seconds` after them. */
object BulkDrain {
  val KeySpace = 400000
  val Preload = 200000
  val FileEvents = 10000
  val WarmBatches = 3
  /** The backlog lasts `--seconds` even at batch cycles this short, about 4x
    * faster than the seed commit's. A backlog that runs out before the
    * measurement ends makes the run fail rather than measure less. */
  val MinCycleS = 0.6
  val shape: Shape = Shape(Gen.Uniform(KeySpace), deleteShare = 0.05, minCells = 1, maxCells = 4)

  def backlogFiles(seconds: Int): Int = WarmBatches + math.ceil(seconds / MinCycleS).toInt + 1

  def run(ctx: Ctx, sessionS: Double): Result = {
    val t0 = System.nanoTime()
    val root = ctx.dir("table")
    val files = Gen.layout(Preload, Seq.fill(backlogFiles(ctx.a.seconds))(FileEvents), new File(root, "src"))
    ctx.span("bench.generate")(Gen.write(ctx.spark, ctx.a.seed, shape, files, new File(root, "tmp-src")))
    val table = Table(root, files)
    val preloadShape = backfill(ctx, root, table.state, KeySpace, Preload)

    ctx.listen()
    val probe = new Probe(table.state)
    var from = -1L           // the warm-up's last commit: the measurement starts here
    var forks0 = 0L
    var atDeadline = -1
    var reached = false      // the first commit after the deadline has landed
    val d = drain(ctx, table, table.config(Trigger.AvailableNow(), 1), probe) { _ =>
      val cs = probe.commits
      if (from < 0 && cs.length >= WarmBatches) { from = cs(WarmBatches - 1).atNanos; forks0 = chmodForks() }
      if (from >= 0 && atDeadline < 0 && System.nanoTime() - from >= ctx.a.seconds * 1000000000L)
        atDeadline = cs.length
      reached = atDeadline >= 0 && cs.length > atDeadline
      reached || secondsSince(t0) > MaxRunS
    }
    val forks = chmodForks() - forks0
    ctx.rec.foreach(_.settle())

    d.error.foreach(e => System.err.println(s"[perfbench] micro-batch failed: $e"))
    val short = !reached && d.error.isEmpty
    if (short) System.err.println("[perfbench] the stream ended before the measurement did (backlog ran out or run cut)")
    val measured = if (from < 0) Nil else d.applied.drop(WarmBatches)
    val commitS = measured.map(a => (a.commit.atNanos - from) / 1e9)
    // a batch that threw misses every limit
    val cycles = commitS.zip(0.0 +: commitS).map { case (t, prev) => t - prev } ++
      d.error.map(_ => Double.PositiveInfinity)
    val events = measured.flatMap(_.files).map(_.count.toLong).sum
    val replay = new Replay(KeySpace)
    (0L until Preload).foreach(s => replay(Gen.event(ctx.a.seed, preloadShape, s)))
    val digestOk = scala.util.Try(verify(ctx, shape, replay, d.applied.flatMap(_.files), table.state)).getOrElse(false)
    val e2e = Seq(
      ("setup_s", sessionS + (if (from > 0) (from - t0) / 1e9 else secondsSince(t0)), "s"),
      ("throughput_per_s", if (commitS.isEmpty) 0.0 else events / commitS.last, "1/s"),
      ("latency_p50_s", pct(cycles, 0.5), "s"),
      ("latency_p90_s", pct(cycles, 0.9), "s"),
      ("state_mb_per_version", stateMbPerVersion(table.state), "MB"))
    val layers = ctx.rec.toSeq.flatMap(r => streamLayers(r, measured, forks))
    val failed = Seq(d.error.isDefined, short, !digestOk).count(identity)
    Result(failed == 0, d.attemptedBatches + 1, failed, e2e, layers)
  }
}

/** `doc_search`: one closed-loop reader over a doc table with a version
  * chain (a backfill plus incremental commits, no compaction). Each query
  * resolves the table with `DocSync.docTable` first, as a reader does. */
object DocSearch {
  val KeySpace = 40000
  val Backfill = 20000
  val Increments = 4
  val IncrementEvents = 2000
  val WarmQueries = 45
  val AggFields: Seq[Int] = Seq(1, 3, 6)    // brand, city, note
  val ColorQ = 0
  val shape: Shape = BulkDrain.shape.copy(keys = Gen.Uniform(KeySpace))

  sealed trait Query { def kind: String }
  final case class Get(key: Int) extends Query { def kind = "get" }
  final case class Search(color: Int, lo: Int, hi: Int) extends Query { def kind = "search" }
  final case class Agg(q: Int) extends Query { def kind = "agg" }

  /** The i-th query: kinds in equal shares, parameters a function of the seed. */
  def query(seed: Long, i: Int): Query = {
    val r = new scala.util.Random(seed * 1000003L + i)
    i % 3 match {
      case 0 => Get(r.nextInt(KeySpace))
      case 1 => val lo = r.nextInt(8000); Search(r.nextInt(Gen.Cardinality(ColorQ)), lo, lo + 1999)
      case _ => Agg(AggFields(r.nextInt(AggFields.length)))
    }
  }

  /** A query's answer as comparable strings, from the replay. */
  def expected(rp: Replay, q: Query): Seq[String] = q match {
    case Get(k) => rp.doc(k).toSeq.flatMap(_.toSeq.sorted.map { case (f, v) => s"$f=$v" })
    case Search(c, lo, hi) =>
      Iterator.range(0, KeySpace).filter { k =>
        val n = rp.field(k, Gen.NumQ)
        rp.field(k, ColorQ) == c && n >= lo && n <= hi
      }.take(10).map(Gen.rowKey).toSeq
    case Agg(f) =>
      val counts = new Array[Long](Gen.Cardinality(f))
      (0 until KeySpace).foreach { k => val v = rp.field(k, f); if (v >= 0) counts(v) += 1 }
      counts.indices.filter(counts(_) > 0).map(v => (Gen.valueStr(f, v), counts(v)))
        .sortBy { case (t, c) => (-c, t) }.take(20).map { case (t, c) => s"$t:$c" }
  }

  private val fields: Map[String, QueryString.FieldRef] = Map(
    "color" -> QueryString.TokenField(array(element_at(col("doc"), "color"))),
    "num" -> QueryString.NumField(element_at(col("doc"), "num").cast("double")))

  /** Timings of one query: resolve, compile and execution seconds. */
  final case class Timing(resolveS: Double, compileS: Double, execS: Double) {
    def total: Double = resolveS + compileS + execS
  }

  def execute(ctx: Ctx, state: File, q: Query): (Seq[String], Timing) = {
    val (docs, resolveS) = timed(ctx.span("sync.docTable")(DocSync.docTable(ctx.spark, state.getPath, Buckets)))
    q match {
      case Get(k) =>
        val (rows, s) = timed(ctx.span("queries.get")(docs.filter(col("rowKey") === Gen.rowKey(k)).collect()))
        (rows.toSeq.flatMap(_.getMap[String, String](1).toSeq.sorted.map { case (f, v) => s"$f=$v" }),
          Timing(resolveS, 0, s))
      case Search(c, lo, hi) =>
        val ((pred, score), cs) = timed(ctx.span("queries.compile") {
          QueryString.compile(QueryString.parse(s"color:${Gen.valueStr(ColorQ, c)} AND num:[$lo TO $hi]"),
            fields, "color")
        })
        val (rows, s) = timed(ctx.span("queries.search") {
          docs.filter(pred).select(col("rowKey"), score.as("score"))
            .orderBy(col("score").desc, col("rowKey")).limit(10).collect()
        })
        (rows.toSeq.map(_.getString(0)), Timing(resolveS, cs, s))
      case Agg(f) =>
        val (rows, s) = timed(ctx.span("queries.agg") {
          docs.select(element_at(col("doc"), Gen.Quals(f)).as("t")).filter(col("t").isNotNull)
            .groupBy("t").count().orderBy(col("count").desc, col("t")).limit(20).collect()
        })
        (rows.toSeq.map((r: Row) => s"${r.getString(0)}:${r.getLong(1)}"), Timing(resolveS, 0, s))
    }
  }

  def run(ctx: Ctx, sessionS: Double): Result = {
    val t0 = System.nanoTime()
    val root = ctx.dir("table")
    val files = Gen.layout(Backfill, Seq.fill(Increments)(IncrementEvents), new File(root, "inc"))
    ctx.span("bench.generate")(Gen.write(ctx.spark, ctx.a.seed, shape, files, new File(root, "tmp-inc")))
    val table = Table(root, files)
    val backfillShape = backfill(ctx, root, table.state, KeySpace, Backfill)
    mergeFiles(ctx, files.map(_.file), table.state)
    (0 until WarmQueries).foreach(i => scala.util.Try(execute(ctx, table.state, query(ctx.a.seed + 1, i))))
    val setupS = sessionS + secondsSince(t0)

    val replay = new Replay(KeySpace)
    (0L until Backfill).foreach(s => replay(Gen.event(ctx.a.seed, backfillShape, s)))
    files.foreach(f => (f.first until f.first + f.count).foreach(s => replay(Gen.event(ctx.a.seed, shape, s))))
    val tableOk = ctx.span("bench.verify")(Digest.ofTable(DocSync.docTable(ctx.spark, table.state.getPath, Buckets))) == replay.digest
    if (!tableOk) System.err.println("[perfbench] digest mismatch on the built doc table")

    ctx.listen()
    val sc = ctx.spark.sparkContext
    val done = scala.collection.mutable.ArrayBuffer.empty[(Query, Option[Timing])]
    val start = System.nanoTime()
    var i = 0
    while (secondsSince(start) < ctx.a.seconds) {
      val q = query(ctx.a.seed, i)
      if (ctx.rec.isDefined) sc.setLocalProperty(Recorder.OpProperty, s"${q.kind}-$i")
      val got = scala.util.Try(execute(ctx, table.state, q))
      val want = expected(replay, q)
      got.failed.foreach(e => System.err.println(s"[perfbench] query $q threw: $e"))
      got.foreach { case (ans, _) => if (ans != want) System.err.println(s"[perfbench] query $q answered $ans, want $want") }
      done += (q -> got.toOption.collect { case (ans, t) if ans == want => t })
      i += 1
    }
    val elapsed = secondsSince(start)
    sc.setLocalProperty(Recorder.OpProperty, null)
    ctx.rec.foreach(_.settle())

    val lat = done.map(_._2.map(_.total).getOrElse(Double.PositiveInfinity)).toSeq
    val failed = done.count(_._2.isEmpty) + (if (tableOk) 0 else 1)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", done.length / elapsed, "1/s"),
      ("latency_p50_s", pct(lat, 0.5), "s"),
      ("latency_p90_s", pct(lat, 0.9), "s"),
      ("state_mb_per_version", stateMbPerVersion(table.state), "MB"))
    val layers = ctx.rec.toSeq.flatMap { r =>
      val ok = done.collect { case (q, Some(t)) => (q, t) }.toSeq
      def execMs(kind: String) = median(ok.filter(_._1.kind == kind).map(_._2.execS * 1e3))
      val opJobs = r.jobs.filter(_.op.isDefined)
      val nq = math.max(1, done.length).toDouble
      Seq(
        ("sync.read.resolve_ms", median(ok.map(_._2.resolveS * 1e3)), "ms"),
        ("sync.read.versions_live", Option(table.state.listFiles()).toSeq.flatten
          .count(v => new File(v, "_coverage").exists()).toDouble, "count"),
        ("sync.read.files_scanned", DocSync.docTable(ctx.spark, table.state.getPath, Buckets).inputFiles.length.toDouble, "count"),
        ("sync.read.scan_bytes", opJobs.map(_.inputBytes).sum / nq, "bytes"),
        ("sync.read.tasks", opJobs.map(_.scanTasks).sum / nq, "count"),
        ("sync.read.self_s", ok.map(_._2.resolveS).sum, "s"),
        ("queries.compile_ms", median(ok.filter(_._1.kind == "search").map(_._2.compileS * 1e3)), "ms"),
        ("queries.get_ms_p50", execMs("get"), "ms"),
        ("queries.search_ms_p50", execMs("search"), "ms"),
        ("queries.agg_ms_p50", execMs("agg"), "ms"),
        ("queries.jobs_per_query", opJobs.length / nq, "count"),
        ("queries.tasks_per_query", opJobs.map(_.tasks).sum / nq, "count"),
        ("queries.self_s", ok.map(t => t._2.compileS + t._2.execS).sum, "s")) ++ sparkLayers(r, opJobs)
    }
    Result(tableOk && failed == 0, done.length + 1L, failed.toLong, e2e, layers)
  }
}
