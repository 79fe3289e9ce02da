package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run reports back to `run.py`. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    checkFailures: Seq[String],
    metrics: Map[String, Double],
    info: Map[String, String] = Map.empty)

/** A workload: generates its inputs, then measures. */
trait Workload {
  /** Write the generated inputs; excluded from every metric. */
  def prepare(): Map[String, String]
  /** The closed loop: whole operations back to back until `seconds` have
    * passed or one fails (at least one), then the output checks. Every
    * metric comes from the first operation, which runs cold in a fresh
    * JVM as a user's one-shot run does; later ones are only checked and
    * listed in `info`. Traced runs fill the per-layer metrics instead of
    * the end-to-end ones. */
  def measure(spark: SparkSession, seconds: Double, traced: Boolean): Outcome
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Entry point of one benchmark run inside one JVM:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> [--data <dir>] --cores <n>
  * perfbench.Main --setup-only 1 --work <dir> --cores <n>
  * }}}
  *
  * Prints one `PERFBENCH {...}` line on stdout; `run.py` turns it into
  * the benchmark's result line. With `--setup-only` it only starts a
  * session, runs its first job and prints `PERFBENCH_SETUP <seconds>`.
  */
object Main {

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fresh session plus its first job, in seconds: the part of set-up
    * after `main` is entered. */
  def startSession(cores: Int, work: String): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    spark.range(0, 1000, 1, cores).selectExpr("sum(id)").collect()
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val enterMs = System.currentTimeMillis()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = args("work")
    val cores = args("cores").toInt
    Files.createDirectories(Paths.get(work))
    // set-up: JVM start to `main`, plus one cold session start-up that
    // ends with its first job; generating inputs in between is excluded
    val bootS = (enterMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    if (args.get("setup-only").contains("1")) {
      val (spark, sessionS) = startSession(cores, work)
      spark.stop()
      System.out.println(s"PERFBENCH_SETUP ${Json.num(bootS + sessionS)}")
      return
    }

    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    Trace.outPrefix = args.get("traceout")

    val workload: Workload = name match {
      case "bfr_bulk" => new BfrWorkload(BfrWorkload.Bulk, seed, work, cores)
      case "bfr_stream" => new BfrWorkload(BfrWorkload.Stream, seed, work, cores)
      case "registry" => new RegistryWorkload(args("data"), seed, work, cores)
      case other => sys.error(s"unknown workload $other")
    }
    val g0 = System.nanoTime()
    val inputInfo = workload.prepare() + ("generate_s" -> f"${(System.nanoTime() - g0) / 1e9}%.3f")

    val (spark, sessionS) = startSession(cores, work)
    val out = workload.measure(spark, seconds, traced)
    val info = Map(
      "setup_s" -> Json.num(bootS + sessionS),
      "boot_s" -> f"$bootS%.3f",
      "session_s" -> f"$sessionS%.3f",
      "cores" -> cores.toString) ++ inputInfo ++ out.info
    spark.stop()

    def jstr(s: String) = "\"" + Json.esc(s) + "\""
    val line = new StringBuilder("{")
    line ++= s""""attempted":${out.attempted},"failed":${out.failed},"checks":"""
    line ++= out.checkFailures.map(jstr).mkString("[", ",", "]")
    line ++= ""","metrics":"""
    line ++= out.metrics.map { case (k, v) => s"${jstr(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    line ++= ""","info":"""
    line ++= info.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    line ++= "}"
    System.out.println("PERFBENCH " + line)
    System.out.flush()
  }

  /** Driver heap in use after full collections, in MB. The pauses let
    * Spark's context cleaner drop blocks whose owners were collected. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  def writeLines(file: String, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(Paths.get(file), StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
