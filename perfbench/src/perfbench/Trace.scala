package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Store

/** One timed public call. Times are System.nanoTime; `parent` is -1 for
  * an op's root span, `op` the closed-loop op it ran in.
  */
final case class Span(id: Int, name: String, tag: String, start: Long,
                      var end: Long, parent: Int, op: Int,
                      var failed: Boolean = false)

/** One Spark job as the listener saw it, attributed to the innermost
  * span open on the submitting thread (the `perfbench.span` local
  * property, which Spark copies into AQE/broadcast helper threads).
  */
final case class JobRec(id: Int, span: Int, op: Int, startMs: Long,
                        var endMs: Long = -1L, var ok: Boolean = true,
                        var cpuNs: Long = 0L, var shuffleBytes: Long = 0L,
                        var recordsRead: Long = 0L,
                        var recordsWritten: Long = 0L,
                        var bytesWritten: Long = 0L,
                        var filesWritten: Long = 0L)

/** Span recorder plus the job listener. Jobs are always attributed to
  * the current op (bytes written, job counts); spans only exist while
  * `traced` is on, so an untraced op pays one local-property set per op.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  /** Per-layer counts the engine returns as values (rows extracted,
    * specs applied, result rows), summed over traced ops.
    */
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Span] = Nil
  private var currentOp = -1
  var traced = false

  /** nanoTime minus epoch-ns: converts the listener's epoch-ms job times
    * onto the span clock.
    */
  val clockOffsetNs: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) =
        p.flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, JobRec(e.jobId, prop(SpanKey), prop(OpKey), e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        m <- Option(e.taskMetrics)
        jid <- Option(stageJob.get(e.stageId))
        j <- Option(jobs.get(jid))
      } j.synchronized {
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        j.recordsRead += m.inputMetrics.recordsRead
        j.recordsWritten += m.outputMetrics.recordsWritten
        j.bytesWritten += m.outputMetrics.bytesWritten
        // a write task that produced output committed one part file
        if (m.outputMetrics.bytesWritten > 0) j.filesWritten += 1
      }
  })

  /** Open op `op`'s root span; every job until [[endOp]] carries its id. */
  def beginOp(op: Int, workload: String, trace: Boolean): Unit = {
    currentOp = op
    traced = trace
    sc.setLocalProperty(OpKey, op.toString)
    if (traced) open(s"op.$workload", "")
  }

  def endOp(): Unit = {
    while (stack.nonEmpty) close(stack.head)
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(SpanKey, null)
    traced = false
    currentOp = -1
  }

  private def open(name: String, tag: String): Span = {
    val s = Span(spans.size, name, tag, System.nanoTime(), 0L,
      stack.headOption.fold(-1)(_.id), currentOp)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.end = System.nanoTime()
    stack = stack.dropWhile(_ ne s).drop(1)
    sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
  }

  /** Time `body` as span `name` ("<layer>.<function>") when tracing.
    * `tag` groups spans whose jobs' row counts feed a layer count (the
    * write that forces a lazy mapping or transform plan).
    */
  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!traced) body
    else {
      val s = open(name, tag)
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally close(s)
    }

  /** Mark the most recent span named `name` failed: a call that returns
    * its failure as data (a Left, a non-ok status, an Error frame).
    */
  def markFailed(name: String): Unit =
    if (traced) spans.reverseIterator.find(_.name == name).foreach(_.failed = true)

  def count(key: String, v: Double): Unit =
    if (traced) counters(key) = counters.getOrElse(key, 0.0) + v

  /** Block until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)

  def jobsOfOp(op: Int): Seq[JobRec] = {
    drain()
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.filter(_.op == op).toSeq
  }

  /** Write spans and jobs as JSON lines for the per-layer reduction. */
  def dump(dir: java.io.File): Unit = {
    drain()
    import scala.jdk.CollectionConverters._
    dir.mkdirs()
    Json.writeLines(new java.io.File(dir, "spans.jsonl"), spans.toSeq.map(s =>
      Json.obj("id" -> s.id, "name" -> s.name, "tag" -> s.tag,
        "start" -> s.start / 1e9,
        "end" -> s.end / 1e9, "parent" -> s.parent, "op" -> s.op,
        "failed" -> s.failed)))
    Json.writeLines(new java.io.File(dir, "jobs.jsonl"),
      jobs.values.asScala.toSeq.filter(_.op >= 0).sortBy(_.id).map(j =>
        Json.obj("id" -> j.id, "span" -> j.span, "op" -> j.op,
          "start" -> (j.startMs * 1000000L + clockOffsetNs) / 1e9,
          "end" -> (j.endMs * 1000000L + clockOffsetNs) / 1e9,
          "ok" -> j.ok, "cpu_s" -> j.cpuNs / 1e9,
          "shuffle_bytes" -> j.shuffleBytes,
          "records_read" -> j.recordsRead,
          "records_written" -> j.recordsWritten,
          "bytes_written" -> j.bytesWritten,
          "files_written" -> j.filesWritten)))
    Json.writeLines(new java.io.File(dir, "counters.jsonl"),
      Seq(counters.toMap))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"
}

/** `stores.*` spans around any Store: the JDBC schema probe, the
  * existence checks and the writes are the fixed per-cycle costs of an
  * incremental load.
  */
final class TimedStore(inner: Store, tracer: Tracer) extends Store {
  override def read(spark: SparkSession, table: String): DataFrame =
    tracer.span("stores.read")(inner.read(spark, table))
  override def write(df: DataFrame, table: String, mode: String): Unit =
    tracer.span("stores.write")(inner.write(df, table, mode))
  override def exists(spark: SparkSession, table: String): Boolean =
    tracer.span("stores.exists")(inner.exists(spark, table))
  override def readIfExists(spark: SparkSession,
                            table: String): Option[DataFrame] =
    tracer.span("stores.readIfExists")(inner.readIfExists(spark, table))
}
