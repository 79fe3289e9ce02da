package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Queries, Verify}

/** The 29 relational registry queries over generated TPC-H-like tables,
  * in a fresh JVM: each timed pass builds every query with `Q.fn` and
  * executes it into the noop sink, as `Bench` does, in registry order (the
  * seed drives the tables, so every seed runs the same queries cold in the
  * same sequence). An untimed `Verify.run` then writes the parquet dumps
  * that `run.py` compares with the DuckDB oracles; dump writes stay out
  * of the timed pass because their file-system latency made query times
  * unsteady.
  */
final class RegistryWorkload(dataDir: String, seed: Long, work: String, cores: Int)
    extends Workload {

  private val queries = Queries.relational
  private val dumpDir = s"$work/dumps"

  def prepare(): Map[String, String] =
    Map("queries" -> queries.map(_.name).mkString(","), "dumps" -> dumpDir)

  private def pass(spark: SparkSession, p: Int, trace: Trace,
                   tracer: Option[Tracer], rec: Option[Recorder],
                   out: ArrayBuffer[RegistryWorkload.Exec], failures: ArrayBuffer[String]): Double = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    trace.span("op", s"pass $p") {
      for (q <- queries) {
        val key = s"${q.name}#$p"
        rec.foreach(_.qeKey.set(key))
        sc.setJobDescription(q.name)
        try trace.span("query", q.name) {
          var buildSpan, execSpan = 0L
          val b0 = System.nanoTime()
          val df = trace.span("phase", "build") {
            buildSpan = tracer.map(_.current).getOrElse(0L); q.fn(spark, dataDir) }
          val b1 = System.nanoTime()
          trace.span("phase", "exec") {
            execSpan = tracer.map(_.current).getOrElse(0L)
            df.write.format("noop").mode("overwrite").save()
          }
          val b2 = System.nanoTime()
          out += RegistryWorkload.Exec(q.name, p, (b1 - b0) / 1e9, (b2 - b1) / 1e9, buildSpan, execSpan, key)
        } catch { case NonFatal(e) =>
          failures += s"${q.name} pass $p: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        // query executions carry no job properties: deliver this query's
        // events before the next one changes the attribution key
        rec.foreach(_ => Recorder.drain(spark))
      }
    }
    sc.setJobDescription(null)
    (System.nanoTime() - t0) / 1e9
  }

  def measure(spark: SparkSession, seconds: Double, traced: Boolean): Outcome = {
    val failures = ArrayBuffer[String]()
    val rec = if (traced) Some(new Recorder(spark)) else None
    val tracer = if (traced) Some(new Tracer(spark, s"registry-$seed")) else None
    val trace: Trace = tracer.getOrElse(NoTrace)
    rec.foreach(_.attach())

    val execs = ArrayBuffer[RegistryWorkload.Exec]()
    val passWalls = ArrayBuffer[Double]()
    val loopStart = System.nanoTime()
    trace.span("workload", "registry") {
      // a traced run makes one pass: its layers are what it reports
      var p = 1
      while (p == 1 || (!traced && failures.isEmpty && (System.nanoTime() - loopStart) / 1e9 < seconds)) {
        passWalls += pass(spark, p, trace, tracer, rec, execs, failures)
        p += 1
      }
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    rec.foreach(_.detach())
    val heapMb = Main.retainedHeapMb()
    val d0 = System.nanoTime()
    Verify.run(spark, dataDir, dumpDir, only = Some(queries.map(_.name).toSet))
    val dumpS = (System.nanoTime() - d0) / 1e9

    val passes = passWalls.size
    val attempted = passes.toLong * queries.size
    // every metric comes from the first, cold pass
    val first = execs.filter(_.pass == 1).toSeq
    val walls = first.map(_.wallS)
    val m = mutable.LinkedHashMap[String, Double]()
    if (!traced) {
      m("items_per_s") = first.size / passWalls.head
      m("op_p50_s") = Stats.median(walls)
      m("op_tail_s") = Stats.quantile(walls, 0.75)
      m("heap_retained_mb") = heapMb
    } else {
      m ++= layerMetrics(rec.get, first, passWalls.head)
      m ++= Trace.finish(tracer.get.allSpans(rec.get))
    }
    Outcome(attempted, attempted - execs.size, failures.toSeq, m.toMap,
      Map("passes" -> passes.toString, "loop_s" -> f"$loopS%.3f", "dump_s" -> f"$dumpS%.3f",
        "op_wall_s" -> passWalls.map(x => f"$x%.3f").mkString(",")))
  }

  private def layerMetrics(rec: Recorder, execs: Seq[RegistryWorkload.Exec],
                           wallS: Double): Map[String, Double] = {
    val qeMs = mutable.Map[String, Long]().withDefaultValue(0L)
    rec.qes.forEach(q => qeMs(q.key) += q.catalystMs)
    val records = execs.map { e =>
      val build = rec.jobsOf(_.spanId == e.buildSpan)
      val all = build ++ rec.jobsOf(_.spanId == e.execSpan)
      val ss = rec.stagesOf(all)
      val maxStageMs = (0L +: ss.map(s => s.doneMs - s.submitMs)).max
      val r = mutable.LinkedHashMap[String, Double](
        "build_s" -> e.buildS, "exec_s" -> e.execS,
        "build_jobs" -> build.size, "read_jobs" -> all.count(_.callSite.startsWith("parquet at")),
        "catalyst_ms" -> qeMs(e.qeKey), "jobs" -> all.size, "stages" -> ss.size,
        "tasks" -> ss.map(_.tasks.toLong).sum,
        "shuffle_bytes" -> ss.map(s => s.shuffleRead + s.shuffleWrite).sum,
        "gc_ms" -> ss.map(_.gcMs).sum, "max_stage_ms" -> maxStageMs,
        "job_ms" -> all.map(j => j.endMs - j.startMs).sum)
      (e, r)
    }
    Trace.outPrefix.foreach { p =>
      Main.writeLines(s"$p.queries.jsonl", records.iterator.map { case (e, r) =>
        (s""""query":"${e.name}","pass":${e.pass}""" +: r.map { case (k, v) =>
          s""""$k":${Json.num(v)}""" }.toSeq).mkString("{", ",", "}") })
    }
    def total(k: String) = records.map(_._2(k)).sum
    val jobs = total("jobs")
    Map(
      "registry.build_s" -> total("build_s"),
      "registry.build_jobs" -> total("build_jobs"),
      "registry.read_jobs" -> total("read_jobs"),
      "registry.exec_s" -> total("exec_s"),
      "registry.catalyst_ms" -> total("catalyst_ms"),
      "registry.jobs" -> jobs,
      "registry.ms_per_job" -> (if (jobs > 0) total("job_ms") / jobs else 0.0),
      "registry.max_stage_ms_p85" -> Stats.quantile(records.map(_._2("max_stage_ms")), 0.85)
    ) ++ Engine.metrics(rec, rec.jobsOf(_ => true), wallS, cores)
  }
}

object RegistryWorkload {
  /** One timed query execution. */
  final case class Exec(name: String, pass: Int, buildS: Double, execS: Double,
                        buildSpan: Long, execSpan: Long, qeKey: String) {
    def wallS: Double = buildS + execS
  }
}
