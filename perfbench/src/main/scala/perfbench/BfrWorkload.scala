package perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.bfr.BFR
import graft.core.RoundStats
import graft.eval.Nmi
import graft.functions.NativeVectorFunctions
import graft.kmeans.KMeans
import graft.operators.SummaryAggregator
import graft.sources.{PointSource, Sinks}

object BfrWorkload {

  /** Input shape: `chunks` files of `perChunk` points in `d` dimensions,
    * `k` Gaussian blobs plus a share of uniform outliers. */
  final case class Shape(chunks: Int, perChunk: Int, d: Int, k: Int, outlierShare: Double) {
    def points: Long = chunks.toLong * perChunk
  }

  /** Few large chunks in d=32 with few outliers; RS stays near 0. Eight
    * rounds give the round-time quantiles enough samples to be steady
    * from run to run. */
  val Bulk = Shape(chunks = 8, perChunk = 12500, d = 32, k = 10, outlierShare = 0.002)
  /** Many small chunks with more outliers: per-round fixed costs and RS
    * management (re-test, spill, RS→CS re-clustering) dominate. */
  val Stream = Shape(chunks = 12, perChunk = 6000, d = 8, k = 10, outlierShare = 0.015)

  val Steps = Seq("chunk", "init", "absorb-rest", "absorb", "rs-checkpoint",
    "rs-recluster", "rs-spill", "finalize", "assigned-checkpoint")

  val CsvHeader = "round_id,nof_cluster_discard,nof_point_discard," +
    "nof_cluster_compression,nof_point_compression,nof_point_retained"

  private val StepJob = """bfr r(\d+) (.+)""".r

  /** Writes the reference's chunk-directory layout (`data000.txt`, ...,
    * lexicographic = round order; headerless `id,f0,..,f<d-1>` lines,
    * ids 0..points-1 in file order) and the ground truth as one
    * `{"<id>": label}` JSON object with -1 for outliers. Blobs have
    * σ = 2 around centres uniform in ±100; outliers (every
    * 1/outlierShare-th id) are uniform in ±2000. Returns the labels and
    * the bytes written.
    */
  def generate(shape: Shape, seed: Long, dir: String, truthFile: String): (Array[Int], Long) = {
    Files.createDirectories(Paths.get(dir))
    val rnd = new java.util.SplittableRandom(seed)
    val centers = Array.fill(shape.k, shape.d)(rnd.nextDouble(-100.0, 100.0))
    val labels = new Array[Int](shape.points.toInt)
    // outliers at a fixed stride: every id range holds its share of them
    val every = math.max(1, math.round(1.0 / shape.outlierShare).toInt)
    val offset = rnd.nextInt(every)
    val sb = new java.lang.StringBuilder(1 << 16)
    var bytes = 0L
    var id = 0
    for (c <- 0 until shape.chunks) {
      val w = Files.newBufferedWriter(Paths.get(f"$dir/data$c%03d.txt"), StandardCharsets.US_ASCII)
      try {
        for (_ <- 0 until shape.perChunk) {
          val label = if (id % every == offset) -1 else rnd.nextInt(shape.k)
          labels(id) = label
          sb.setLength(0)
          sb.append(id)
          var j = 0
          while (j < shape.d) {
            val x = if (label < 0) rnd.nextDouble(-2000.0, 2000.0)
              else centers(label)(j) + 2.0 * rnd.nextGaussian()
            sb.append(',')
            fixed3(sb, x)
            j += 1
          }
          sb.append('\n')
          bytes += sb.length
          w.append(sb)
          id += 1
        }
      } finally w.close()
    }
    val w: BufferedWriter = Files.newBufferedWriter(Paths.get(truthFile), StandardCharsets.US_ASCII)
    try {
      w.write('{')
      var i = 0
      while (i < labels.length) {
        if (i > 0) w.write(", ")
        w.write('"'); w.write(i.toString); w.write("\": "); w.write(labels(i).toString)
        i += 1
      }
      w.write('}')
    } finally w.close()
    (labels, bytes)
  }

  /** Parses the assignment sink's one-object JSON `{"<id>": c, ...}`
    * into (ids, clusters); fails on anything else. */
  def parseAssignments(text: String): (Array[Long], Array[Int]) = {
    val ids = mutable.ArrayBuilder.make[Long]
    val cs = mutable.ArrayBuilder.make[Int]
    var i = 0
    def ws(): Unit = while (i < text.length && text(i).isWhitespace) i += 1
    def expect(c: Char): Unit = {
      ws(); require(i < text.length && text(i) == c, s"expected '$c' at offset $i"); i += 1
    }
    def int(): Long = {
      ws()
      val st = i
      if (i < text.length && text(i) == '-') i += 1
      while (i < text.length && text(i).isDigit) i += 1
      require(i > st && text(i - 1).isDigit, s"expected a number at offset $st")
      text.substring(st, i).toLong
    }
    expect('{')
    ws()
    if (i < text.length && text(i) == '}') i += 1
    else {
      var more = true
      while (more) {
        expect('"'); ids += int(); expect('"'); expect(':'); cs += int().toInt
        ws()
        require(i < text.length && (text(i) == ',' || text(i) == '}'), s"bad separator at offset $i")
        more = text(i) == ','
        i += 1
      }
    }
    ws()
    require(i == text.length, s"trailing data at offset $i")
    (ids.result(), cs.result())
  }

  /** Three decimals, no exponent: the reference's plain float fields. */
  private def fixed3(sb: java.lang.StringBuilder, x: Double): Unit = {
    val v = math.round(x * 1000.0)
    if (v < 0) sb.append('-')
    val a = math.abs(v)
    sb.append(a / 1000).append('.')
    val f = (a % 1000).toInt
    if (f < 100) sb.append('0')
    if (f < 10) sb.append('0')
    sb.append(f)
  }

  /** One timed operation: readDataset → BFR.run → both sinks. */
  final case class Op(wallS: Double, readS: Double, runS: Double, sinkS: Double,
                      roundS: Seq[Double], stats: Seq[RoundStats],
                      json: String, csv: String, span: Long)

  /** Mean of the last quarter of rounds over the mean of rounds 2 to the
    * end of the first quarter (round 1 carries the init). */
  def roundGrowth(rounds: Seq[Double]): Double = {
    val n = rounds.size
    if (n < 3) return 1.0
    val q = math.max(1, n / 4)
    val early = rounds.slice(1, 1 + q)
    val late = rounds.takeRight(q)
    Stats.mean(late) / Stats.mean(early)
  }

  /** Median of five timed calls after one untimed call. */
  private def probe(f: => Unit): Double = {
    f
    Stats.median((1 to 5).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 })
  }
}

final class BfrWorkload(shape: BfrWorkload.Shape, seed: Long, work: String, cores: Int)
    extends Workload {
  import BfrWorkload._

  private val dataDir = s"$work/input"
  private val truthFile = s"$work/truth.json"
  private val outDir = s"$work/out"
  private val cfg = BFR.Config(k = shape.k)

  private var truthLabels: Array[Int] = Array.empty

  def prepare(): Map[String, String] = {
    Files.createDirectories(Paths.get(outDir))
    val (labels, bytes) = generate(shape, seed, dataDir, truthFile)
    truthLabels = labels
    Map("points" -> shape.points.toString, "d" -> shape.d.toString,
      "chunks" -> shape.chunks.toString, "input_bytes" -> bytes.toString)
  }

  private def runOnce(spark: SparkSession, dir: String, tag: String, trace: Trace,
                      tracer: Option[Tracer]): Op = {
    val sc = spark.sparkContext
    val json = s"$outDir/$tag.json"
    val csv = s"$outDir/$tag.csv"
    trace.span("op", tag) {
      val opSpan = tracer.map(_.current).getOrElse(0L)
      val t0 = System.nanoTime()
      sc.setJobDescription("perfbench readDataset")
      val chunks = trace.span("phase", "readDataset") { PointSource.readDataset(spark, dir) }
      val t1 = System.nanoTime()
      val marks = ArrayBuffer(Clock.nowUs)
      val res = BFR.run(spark, chunks, cfg, onRound = _ => marks += Clock.nowUs)
      val t2 = System.nanoTime()
      sc.setJobDescription("perfbench sinks")
      trace.span("phase", "sinks") {
        Sinks.writeAssignmentsJsonObject(res.assignments, json)
        Sinks.writeRoundStatsCsv(spark, res.stats, csv)
      }
      val t3 = System.nanoTime()
      sc.setJobDescription(null)
      tracer.foreach { t =>
        marks.sliding(2).zipWithIndex.foreach { case (m, i) =>
          t.add("phase", s"round ${i + 1}", opSpan, m(0), m(1)) }
      }
      val rounds = marks.sliding(2).map(m => (m(1) - m(0)) / 1e6).toSeq
      Op((t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        rounds, res.stats, json, csv, opSpan)
    }
  }

  /** Output checks of one operation; each message is one failed check.
    * Also returns `Nmi.score` of the output against the generated truth. */
  private def check(spark: SparkSession, op: Op, truth: DataFrame): (Seq[String], Double) = {
    import spark.implicits._
    val errs = ArrayBuffer[String]()
    val n = shape.points.toInt
    val (ids, clusters) = parseAssignments(
      new String(Files.readAllBytes(Paths.get(op.json)), StandardCharsets.UTF_8))
    val seen = new java.util.BitSet(n)
    ids.foreach(id => if (id >= 0 && id < n) seen.set(id.toInt))
    if (ids.length != n || seen.cardinality() != n)
      errs += s"assignment JSON: ${ids.length} keys covering ${seen.cardinality()} of the $n generated ids"
    val lines = Files.readAllLines(Paths.get(op.csv)).asScala.filter(_.nonEmpty).toSeq
    if (lines.headOption.contains(CsvHeader) && lines.size == shape.chunks + 1) {
      val rows = lines.tail.map(_.split(",").map(_.toLong))
      val discard = rows.map(_(2))
      if (discard.zip(discard.drop(1)).exists { case (a, b) => b < a })
        errs += s"nof_point_discard decreases: ${discard.mkString(",")}"
      val last = rows.last
      if (last(2) + last(5) != n)
        errs += s"final round: discard ${last(2)} + retained ${last(5)} != $n points"
    } else errs += s"stats CSV: header/rows wrong (${lines.size} lines, want ${shape.chunks + 1})"
    val nmi = Nmi.score(ids.toSeq.zip(clusters.toSeq).toDF("id", "cluster"), truth)
    if (!(nmi >= 0.8)) errs += f"NMI $nmi%.4f < 0.8"
    (errs.toSeq, nmi)
  }

  def measure(spark: SparkSession, seconds: Double, traced: Boolean): Outcome = {
    val rec = if (traced) Some(new Recorder(spark)) else None
    val tracer = if (traced) Some(new Tracer(spark, s"bfr-$seed")) else None
    val trace: Trace = tracer.getOrElse(NoTrace)
    rec.foreach(_.attach())

    val ops = ArrayBuffer[Op]()
    val failures = ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    val loopStart = System.nanoTime()
    trace.span("workload", "bfr") {
      // a traced run makes one operation: its layers are what it reports
      var i = 0
      while (i == 0 || (!traced && failed == 0 && (System.nanoTime() - loopStart) / 1e9 < seconds)) {
        attempted += 1
        try ops += runOnce(spark, dataDir, s"op$i", trace, tracer)
        catch { case NonFatal(e) =>
          failed += 1; failures += s"op$i: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        i += 1
      }
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    rec.foreach(_.detach())
    val heapMb = Main.retainedHeapMb()

    val c0 = System.nanoTime()
    val truth = {
      import spark.implicits._
      truthLabels.indices.map(i => (i.toLong, truthLabels(i))).toDF("id", "label")
        .persist(StorageLevel.MEMORY_ONLY)
    }
    val nmis = ops.map { op =>
      val (errs, nmi) =
        try check(spark, op, truth)
        catch { case NonFatal(e) => (Seq(s"check threw ${e.getMessage}"), 0.0) }
      if (errs.nonEmpty) { failed += 1; failures ++= errs.map(e => s"${op.json}: $e") }
      nmi
    }
    truth.unpersist()
    val checkS = (System.nanoTime() - c0) / 1e9

    // the loop stops at the first failure, so a head is the cold op0 that succeeded
    val m = mutable.LinkedHashMap[String, Double]()
    ops.headOption.foreach { first =>
      if (!traced) {
        m("items_per_s") = shape.points / first.wallS
        m("op_p50_s") = Stats.median(first.roundS)
        m("op_tail_s") = Stats.quantile(first.roundS, 0.75)
        m("quality") = nmis.head
        m("heap_retained_mb") = heapMb
      } else {
        m ++= layerMetrics(spark, rec.get, tracer.get, first)
      }
    }
    Outcome(attempted, failed, failures.toSeq, m.toMap,
      Map("ops" -> ops.size.toString, "loop_s" -> f"$loopS%.3f", "check_s" -> f"$checkS%.3f",
        "op_wall_s" -> ops.map(o => f"${o.wallS}%.3f").mkString(","),
        "rounds" -> ops.headOption.map(_.roundS.size).getOrElse(0).toString,
        "nmi" -> nmis.map(x => f"$x%.5f").mkString(",")))
  }

  private def layerMetrics(spark: SparkSession, rec: Recorder, tracer: Tracer,
                           op: Op): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val bfrJobs = rec.jobsOf(j => j.spanId == op.span && j.endMs > 0 &&
      StepJob.pattern.matcher(j.desc).matches())
    def stepOf(j: JobRec) = j.desc match { case StepJob(_, s) => s }
    def roundOf(j: JobRec) = j.desc match { case StepJob(r, _) => r.toInt }
    def tasksOf(j: JobRec) = rec.stagesOf(Seq(j)).filter(_.jobId == j.id).map(_.tasks.toLong).sum

    // sources
    val readSpans = tracer.spans.filter(_.name == "readDataset").map(_.id).toSet
    m("sources.read_s") = op.readS
    m("sources.read_jobs") = rec.jobsOf(j => readSpans.contains(j.spanId)).size
    m("sources.parse_s") = Stats.median((1 to 2).map { _ =>
      PointSource.listChunks(dataDir).map { f =>
        val t0 = System.nanoTime()
        PointSource.readChunk(spark, f).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sum
    })
    m("sources.sink_s") = op.sinkS

    // bfr steps
    for (s <- Steps) {
      val js = bfrJobs.filter(j => stepOf(j) == s)
      m(s"bfr.$s.job_s") = js.map(j => j.endMs - j.startMs).sum / 1e3
      m(s"bfr.$s.jobs") = js.size
      m(s"bfr.$s.tasks") = js.map(tasksOf).sum
    }
    m("bfr.run_s") = op.runS
    m("bfr.driver_s") =
      op.runS - Recorder.unionLen(bfrJobs.map(j => (j.startMs * 1000, j.endMs * 1000))) / 1e6
    val nRounds = math.max(1, op.roundS.size).toDouble
    m("bfr.jobs_per_round") = bfrJobs.size / nRounds
    m("bfr.tasks_per_round") = bfrJobs.map(tasksOf).sum / nRounds
    m("bfr.round_growth") = roundGrowth(op.roundS)
    m("bfr.rs_retest_ratio") = op.stats.dropRight(1).map(_.nof_point_retained).sum.toDouble / shape.points

    // kernel probes on this workload's points, cached once
    val files = PointSource.listChunks(dataDir)
    val sampleN = math.ceil(cfg.initSampleFraction * shape.perChunk).toLong
    val sample = PointSource.readChunk(spark, files.head).filter(col("id") < sampleN)
      .persist(StorageLevel.MEMORY_ONLY)
    sample.count()
    m("kmeans.fit_s") = probe { KMeans.fit(sample, cfg.seedKMult * cfg.k, cfg.kmeansIters) }
    sample.unpersist()

    val labels = {
      import spark.implicits._
      truthLabels.indices.map(i => (i.toLong, truthLabels(i))).toDF("id", "label")
    }
    // replicated to ~1M points, so per-value cost outweighs job overhead
    val reps = math.max(1L, 1000000L / shape.points)
    val pts = files.map(PointSource.readChunk(spark, _)).reduce(_ union _)
      .join(labels, "id").crossJoin(broadcast(spark.range(reps).toDF("rep")))
      .select("id", "features", "label").persist(StorageLevel.MEMORY_ONLY)
    pts.count()
    val values = shape.points.toDouble * reps * shape.d
    // each call builds a fresh plan: re-collecting one DataFrame would
    // reuse its shuffle output and skip the map side
    // the floor both kernel probes are net of: iterating the cached rows
    val scanS = probe { pts.agg(count(lit(1))).collect() }
    def summarize() = pts.groupBy(col("label"))
      .agg(SummaryAggregator.summarize(col("features")).as("s")).collect()
    val summaries = summarize().filter(_.getInt(0) >= 0).sortBy(_.getInt(0)).map { r =>
      val s = r.getStruct(1)
      graft.core.ClusterSummary(s.getLong(0), s.getSeq[Double](1).toArray, s.getSeq[Double](2).toArray)
    }
    val aggS = probe { summarize() }
    val mahaS = probe {
      pts.select(NativeVectorFunctions.nearestMahaNative(col("features"),
        summaries.map(_.center), summaries.map(_.std),
        cfg.alphaAssign * math.sqrt(shape.d.toDouble)).as("m"))
        .agg(sum(col("m"))).collect()
    }
    pts.unpersist()
    m("engine.cached_scan_s") = scanS
    m("operators.summary_agg_s") = aggS
    m("functions.nearest_maha_s") = mahaS
    m("operators.summary_agg_ns_per_value") = math.max(0.0, aggS - scanS) / values * 1e9
    m("functions.nearest_maha_ns_per_value") = math.max(0.0, mahaS - scanS) / values * 1e9
    // estimated share of BFR.run the two kernels take, at one pass of each
    // over every point
    m("bfr.kernel_share") = (m("operators.summary_agg_ns_per_value") +
      m("functions.nearest_maha_ns_per_value")) * shape.points * shape.d / 1e9 / op.runS

    // spark engine over the timed operation
    m ++= Engine.metrics(rec, rec.jobsOf(_ => true), op.wallS, cores)

    // spans: round spans parent the step jobs of their round
    val roundSpan = tracer.spans.filter(_.name.startsWith("round "))
      .map(s => (s.parent, s.name.stripPrefix("round ").toInt) -> s.id).toMap
    val all = tracer.allSpans(rec, j =>
      if (bfrJobs.exists(_.id == j.id)) roundSpan.getOrElse((j.spanId, roundOf(j)), j.spanId)
      else j.spanId)
    m ++= Trace.finish(all)
    m.toMap
  }
}
