package perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds with nanoTime resolution, so driver
  * spans line up with the epoch-millisecond times Spark puts on its
  * job and stage events.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One recorded interval. `parent` is 0 for the workload root. */
final case class Span(trace: String, id: Long, parent: Long, level: String,
                      name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
  def json: String =
    s"""{"trace":"$trace","id":$id,"parent":$parent,"level":"$level",""" +
      s""""name":"${Json.esc(name)}","start_us":$startUs,"end_us":$endUs}"""
}

final class JobRec(val id: Int, val startMs: Long, val desc: String,
                   val spanId: Long, val callSite: String, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final class StageRec(val id: Int, val jobId: Int) {
  @volatile var submitMs: Long = -1L
  @volatile var doneMs: Long = -1L
  @volatile var tasks: Int = 0
  @volatile var runMs: Long = 0L
  @volatile var gcMs: Long = 0L
  @volatile var shuffleRead: Long = 0L
  @volatile var shuffleWrite: Long = 0L
  @volatile var spill: Long = 0L
  val busyMs = new AtomicLong()
  val waitMs = new AtomicLong()
  val failedTasks = new AtomicLong()
}

/** Catalyst phase time of one completed QueryExecution, by the key that
  * was current when it completed. */
final case class QeRec(key: String, catalystMs: Long)

/** Records jobs, stages, tasks and completed query executions. A job is
  * attributed to the span that was open on the driver thread when it was
  * submitted (carried as a local property, so there is no race with the
  * asynchronous listener bus). Registered only in traced runs.
  */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Recorder._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()
  /** Key for query executions, which carry no job properties: the
    * caller drains the bus before changing it. */
  val qeKey = new AtomicReference[String]("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the result stage carries the job's call site, e.g. "parquet at X.scala:49"
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val rec = new JobRec(e.jobId, e.time, prop("spark.job.description"),
      prop(SpanKey).toLongOption.getOrElse(0L), callSite, e.stageIds)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stages.putIfAbsent(s, new StageRec(s, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      val ti = e.taskInfo
      s.busyMs.addAndGet(ti.duration)
      if (s.submitMs > 0) s.waitMs.addAndGet(math.max(0L, ti.launchTime - s.submitMs))
      if (ti.failed || ti.killed) s.failedTasks.incrementAndGet()
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      val si = e.stageInfo
      si.submissionTime.foreach(t => s.submitMs = t)
      s.doneMs = si.completionTime.getOrElse(System.currentTimeMillis())
      s.tasks = si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        s.runMs = m.executorRunTime
        s.gcMs = m.jvmGCTime
        s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qes.add(QeRec(qeKey.get(), qe.tracker.phases.values.map(_.durationMs).sum))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    qes.add(QeRec(qeKey.get(), qe.tracker.phases.values.map(_.durationMs).sum))

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def jobsOf(pred: JobRec => Boolean): Seq[JobRec] = {
    val out = ArrayBuffer[JobRec]()
    jobs.values.forEach(j => if (pred(j)) out += j)
    out.sortBy(_.id).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(s => Option(stages.get(s)))
      .filter(_.doneMs > 0) // stages skipped because their shuffle output was reused never ran
}

object Recorder {
  val SpanKey = "perfbench.span"

  /** Wait until the listener bus has delivered every queued event. The
    * bus is private to Spark, hence reflection (the same idiom as the
    * scale benches); the counters are read only after this returns.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(60000L))
    ()
  }

  /** Length of the union of [start, end) intervals. */
  def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Opens a span around a call into the library. Untraced runs use
  * [[NoTrace]], so both modes execute the same benchmark code.
  */
trait Trace {
  def span[T](level: String, name: String)(body: => T): T
}

object NoTrace extends Trace {
  def span[T](level: String, name: String)(body: => T): T = body
}

/** In-memory span buffer for one traced run; written out when it ends.
  * Driver-side spans are opened around calls into the library, and each
  * one is published as the job-level parent through local properties.
  */
final class Tracer(spark: SparkSession, val traceId: String) extends Trace {
  private val nextId = new AtomicLong(1)
  val spans = ArrayBuffer[Span]()
  private var stack: List[Long] = Nil

  /** The innermost open span, 0 at the root. */
  def current: Long = stack.headOption.getOrElse(0L)

  /** Record a span whose interval was measured elsewhere (BFR rounds,
    * which only the `onRound` hook delimits). */
  def add(level: String, name: String, parent: Long, startUs: Long, endUs: Long): Long = {
    val id = nextId.getAndIncrement()
    spans += Span(traceId, id, parent, level, name, startUs, endUs)
    id
  }

  def span[T](level: String, name: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = current
    val sc = spark.sparkContext
    val prevSpan = sc.getLocalProperty(Recorder.SpanKey)
    stack = id :: stack
    sc.setLocalProperty(Recorder.SpanKey, id.toString)
    val t0 = Clock.nowUs
    try body
    finally {
      val t1 = Clock.nowUs
      spans += Span(traceId, id, parent, level, name, t0, t1)
      stack = stack.tail
      sc.setLocalProperty(Recorder.SpanKey, prevSpan)
    }
  }

  /** Driver spans plus one span per job and stage the recorder saw.
    * `parentOf` may re-home a job under a span recorded with [[add]]. */
  def allSpans(rec: Recorder, parentOf: JobRec => Long = _.spanId): Seq[Span] = {
    val ids = new AtomicLong(nextId.get() + 1000000L)
    val out = ArrayBuffer[Span]() ++ spans
    rec.jobsOf(j => j.spanId != 0 && j.endMs > 0).foreach { j =>
      val jid = ids.getAndIncrement()
      out += Span(traceId, jid, parentOf(j), "job", s"job ${j.id} ${j.desc} @ ${j.callSite}",
        j.startMs * 1000, j.endMs * 1000)
      rec.stagesOf(Seq(j)).filter(_.jobId == j.id).foreach { s =>
        out += Span(traceId, ids.getAndIncrement(), jid, "stage", s"stage ${s.id}",
          s.submitMs * 1000, s.doneMs * 1000)
      }
    }
    out.toSeq
  }
}

/** Span output and the `trace.*` per-layer metrics. */
object Trace {
  /** Prefix of the files a traced run writes (set from `--traceout`). */
  @volatile var outPrefix: Option[String] = None

  val Levels = Seq("workload", "op", "query", "phase", "job", "stage")

  /** Self time per span level: each span's duration minus the part of
    * its interval covered by its children, summed over the level.
    */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.level).map { case (level, ss) =>
      level -> ss.map { s =>
        val cov = Recorder.unionLen(kids.getOrElse(s.id, Nil).map { c =>
          (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)) })
        math.max(0L, s.durUs - cov)
      }.sum / 1e6
    }
  }

  /** Writes the spans of a traced run (one operation); returns self time
    * per level and the span count. */
  def finish(all: Seq[Span]): Map[String, Double] = {
    outPrefix.foreach(p => Main.writeLines(s"$p.spans.jsonl", all.iterator.map(_.json)))
    val self = selfSeconds(all)
    Levels.map(l => s"trace.self_s.$l" -> self.getOrElse(l, 0.0)).toMap ++
      Map("trace.spans_per_op" -> all.size.toDouble)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString
}

/** The `spark.*` per-layer metrics over the jobs of one operation. */
object Engine {
  def metrics(rec: Recorder, js: Seq[JobRec], wallS: Double, cores: Int): Map[String, Double] = {
    val ss = rec.stagesOf(js)
    val busyS = ss.map(_.busyMs.get).sum / 1e3
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.tasks.toLong).sum.toDouble,
      "spark.task_busy_s" -> busyS,
      "spark.core_util" -> (if (wallS > 0) busyS / (wallS * cores) else 0.0),
      "spark.task_wait_s" -> ss.map(_.waitMs.get).sum / 1e3,
      "spark.shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "spark.gc_ms" -> ss.map(_.gcMs).sum.toDouble,
      "spark.failed_tasks" -> ss.map(_.failedTasks.get).sum.toDouble)
  }
}
