package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Outside-in recorder for the traced run. It keeps spans and counters in
  * memory and writes them out once, when the run ends. Spark jobs reach it
  * through a SparkListener, micro-batches through a StreamingQueryListener;
  * both are registered by the benchmark, and the program is not changed. */
final class Recorder {
  import Recorder._

  private val epoch0 = System.currentTimeMillis()
  private def now: Double = (System.currentTimeMillis() - epoch0).toDouble
  private val busyNanos = new AtomicLong()
  private val lastEvent = new AtomicLong(System.nanoTime())

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val jobBuf = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val batchBuf = mutable.ArrayBuffer.empty[Batch]
  private val writesFiles = mutable.Map.empty[Long, Boolean]

  /** Time spent inside the recorder's own callbacks. */
  def recorderMs: Double = busyNanos.get / 1e6

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    synchronized(body)
    busyNanos.addAndGet(System.nanoTime() - t)
    lastEvent.set(System.nanoTime())
  }

  /** Record a span around a benchmark-side call into a layer. */
  def span[T](name: String, attrs: (String, String)*)(body: => T): T = {
    val start = now
    try body finally timed { spanBuf += Span(name, start, now, attrs.toMap) }
  }

  val sparkListener: SparkListener = new SparkListener {
    // A stream's jobs all carry the call site of `writeStream.start`, so a
    // job is told apart by its SQL execution instead: the execution that
    // writes parquet is DocSync's commit, the other one in a batch its fold.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => timed {
        writesFiles(s.executionId) = s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val job = Job(e.jobId, e.time - epoch0, prop("callSite.short").getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong), prop(OpProperty),
        prop("spark.sql.execution.id").exists(id => writesFiles.getOrElse(id.toLong, false)))
      jobBuf(e.jobId) = job
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobBuf.get(e.jobId).foreach(_.endMs = e.time - epoch0)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val s = e.stageInfo
      for (j <- stageJob.get(s.stageId); job <- jobBuf.get(j)) {
        val m = s.taskMetrics
        job.tasks += s.numTasks
        if (m != null) {
          job.cpuNs += m.executorCpuTime
          job.runMs += m.executorRunTime
          job.gcMs += m.jvmGCTime
          job.inputBytes += m.inputMetrics.bytesRead
          if (m.inputMetrics.bytesRead > 0) job.scanTasks += s.numTasks
          job.outputBytes += m.outputMetrics.bytesWritten
          job.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = timed {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli - epoch0
      batchBuf += Batch(p.batchId, start.toDouble, p.numInputRows, d("triggerExecution"),
        d("addBatch"), d("walCommit"), d("latestOffset"))
    }
  }

  /** Wait until no listener event arrived for `quietMs` (listener buses are
    * asynchronous), at most `maxMs`. */
  def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEvent.get < quietMs * 1000000L && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def jobs: Seq[Job] = synchronized(jobBuf.values.toList)
  def batches: Seq[Batch] = synchronized(batchBuf.toList.filter(_.rows > 0).sortBy(_.id))

  /** Write spans, jobs and batches as JSON lines. */
  def writeTo(f: File): Unit = synchronized {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    try {
      spanBuf.foreach { s =>
        val a = s.attrs.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
        w.println(f"""{"kind":"span","name":${q(s.name)},"start_ms":${s.startMs}%.1f,"end_ms":${s.endMs}%.1f,"attrs":{$a}}""")
      }
      batchBuf.foreach { b =>
        w.println(f"""{"kind":"batch","id":${b.id},"start_ms":${b.startMs}%.1f,"rows":${b.rows},"trigger_ms":${b.triggerMs}%.1f,"add_batch_ms":${b.addBatchMs}%.1f,"wal_commit_ms":${b.walMs}%.1f,"latest_offset_ms":${b.latestOffsetMs}%.1f}""")
      }
      jobBuf.values.foreach { j =>
        w.println(f"""{"kind":"job","id":${j.id},"start_ms":${j.startMs}%.1f,"end_ms":${j.endMs}%.1f,"call_site":${q(j.callSite)},"writes":${j.writes},"batch":${j.batchId.getOrElse(-1L)},"op":${q(j.op.getOrElse(""))},"tasks":${j.tasks},"cpu_ms":${j.cpuNs / 1e6}%.1f,"input_bytes":${j.inputBytes},"output_bytes":${j.outputBytes},"shuffle_write_bytes":${j.shuffleWriteBytes}}""")
      }
    } finally w.close()
  }
}

object Recorder {
  /** Local property the benchmark sets around each query, so the listener can
    * assign the query's jobs to it. */
  val OpProperty = "perfbench.op"

  final case class Span(name: String, startMs: Double, endMs: Double, attrs: Map[String, String])

  final case class Job(id: Int, startMs: Double, callSite: String, batchId: Option[Long],
                       op: Option[String], writes: Boolean) {
    var endMs: Double = startMs
    var tasks = 0L
    var scanTasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleWriteBytes = 0L
  }

  final case class Batch(id: Long, startMs: Double, rows: Long, triggerMs: Double,
                         addBatchMs: Double, walMs: Double, latestOffsetMs: Double)
}
