package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. One workload per run, one client thread in a
  * closed loop at local[cores]:
  *
  *   session start → warm-up pass → timed passes until `--seconds` have
  *   elapsed (at least one, two on EPPA; a traced run adds two traced
  *   passes)
  *
  * Every query execution is booked in three phases, each timed around a
  * public call: `ops.build` (the registered query function `fn(spark, dir)`),
  * `plans.plan` (forcing `queryExecution.executedPlan`) and `exec.exec`
  * (`queryExecution.toRdd.count()`). Its row count is checked against the
  * count pinned in `pinned.txt`; a query that throws or miscounts is a
  * failure and its time is not a latency sample.
  *
  * With `--trace 1` the run alternates untraced and traced timed passes.
  * Traced passes record spans and attach one listener that attributes
  * jobs, stages and tasks to the job group the benchmark thread set; the
  * per-layer metrics come from those passes alone.
  *
  * The last line of standard output is one JSON object with every metric
  * this run measured; run.py selects from it the metrics BENCHMARK.json
  * names. */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: File, traceOut: File, inputsSeconds: Double, queries: Seq[String],
                        pinned: Map[String, Long], plantFailures: Boolean, pin: Boolean)

  final case class Exec(query: String, pass: Int, ok: Boolean, wall: Double,
                        build: Double, plan: Double, exec: Double, rows: Long,
                        legs: Map[String, Double], error: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", new File(kv("root")), new File(kv("trace-out")),
      kv("inputs-s").toDouble, list(kv.get("queries")),
      kv.get("pinned").map(readPinned).getOrElse(Map.empty),
      kv.get("plant-failures").contains("1"), kv.get("pin").contains("1"))
    val out = try new Run(conf).run() catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(3)
    }
    println(out)
    // a clean exit: stop Spark before the JVM goes
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }

  private def list(v: Option[String]): Seq[String] =
    v.map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** `name count` per line. */
  def readPinned(path: String): Map[String, Long] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v.toLong }.toMap
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    * weighted mean of the order statistics. On a dozen samples drawn from
    * a few clusters, one sample crossing from one cluster to the next moves
    * it less than it moves the plain median. */
  def hdMedian(xs: Seq[Double]): Double = {
    import org.apache.commons.math3.special.Beta.regularizedBeta
    val s = xs.sorted
    val n = s.length
    val a = (n + 1) / 2.0
    if (n == 0) Double.NaN
    else s.indices.map(i => (regularizedBeta((i + 1.0) / n, a, a) - regularizedBeta(i.toDouble / n, a, a)) * s(i)).sum
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def json(m: Iterable[(String, Any)]): String = m.map { case (k, v) =>
    val s = v match {
      case d: Double if d.isNaN || d.isInfinite => "null"
      case d: Double => java.lang.Double.toString(d)
      case b: Boolean => b.toString
      case n: Number => n.toString
      case s: String if s.startsWith("{") => s // a nested object
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case other => other.toString
    }
    "\"" + k + "\":" + s
  }.mkString("{", ",", "}")
}

final class Run(conf: Main.Conf) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val spans = new Spans
  private val listener = new JobListener
  private var spark: SparkSession = _
  private val metrics = mutable.LinkedHashMap.empty[String, Any]
  /** Row counts this run saw, by check name (printed with `--pin 1`). */
  private val observed = mutable.TreeMap.empty[String, Long]
  private val problems = mutable.ArrayBuffer.empty[String]

  private def isEppa = conf.workload == "eppa_season"
  /** A season pass is one sample of a few seconds, so the EPPA workload
    * times two. A query pass is already a dozen samples. */
  private def minPasses = if (isEppa) 2 else 1

  // ---------------------------------------------------------------- setup

  private val dataDir = new File(conf.root, "data").getPath
  private var season: Season = _
  private var model: graft.ml.GbdtScorer.Model = _

  /** Start the session and read what the workload needs before its first
    * query; returns seconds from JVM start. */
  private def setup(): Double = {
    spark = graft.GraftSession.local(cores, appName = "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    if (isEppa) {
      season = Season.read(spark, dataDir)
      model = Season.model(dataDir)
    }
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  }

  // ------------------------------------------------------------ executions

  private def group(id: String): Unit =
    spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)

  private def clearPersisted(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  private val queryFns: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries ++ (if (conf.plantFailures) Map(
      "planted_throw" -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("planted failure")),
      "planted_miscount" -> graft.SparkEntry.queries("q6_forecast_revenue"))
    else Map.empty)

  /** Each query execution gets a fresh, empty index cache directory, so a
    * cache-backed query pays its build every time. */
  private var freshCaches = 0
  private val cacheSizes = mutable.ArrayBuffer.empty[(Int, Long, Int)] // pass, bytes, entries

  private def execQuery(name: String, pass: Int): Exec = {
    spans.newTrace()
    graft.ops.Legs.drain()
    freshCaches += 1
    val cacheDir = new File(conf.root, s"cache-fresh/$freshCaches")
    System.setProperty("graft.ann.cache.dir", cacheDir.getPath)
    val g = s"$pass|$name"
    var tb, tp, te = 0.0
    var rows = -1L
    val t0 = System.nanoTime()
    val result = try {
      spans("query") {
        group(s"$g|build")
        val t1 = System.nanoTime()
        val df = spans("ops.build")(queryFns(name)(spark, dataDir))
        val t2 = System.nanoTime()
        group(s"$g|plan")
        spans("plans.plan")(df.queryExecution.executedPlan)
        val t3 = System.nanoTime()
        group(s"$g|exec")
        rows = spans("exec.exec")(df.queryExecution.toRdd.count())
        val t4 = System.nanoTime()
        tb = (t2 - t1) / 1e9; tp = (t3 - t2) / 1e9; te = (t4 - t3) / 1e9
      }
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.clearJobGroup()
    val legs = graft.ops.Legs.drain()
    clearPersisted()
    val entries = Option(new File(cacheDir, "graft-ann-index").list())
      .map(_.count(n => !n.startsWith("."))).getOrElse(0)
    cacheSizes += ((pass, dirBytes(cacheDir), entries))
    deleteTree(cacheDir)
    if (result.isEmpty) observed(name) = rows
    // the planted miscount expects one row more than its query returns
    val expected =
      if (name == "planted_miscount") conf.pinned.get("q6_forecast_revenue").map(_ + 1)
      else conf.pinned.get(name)
    val error = result.orElse(
      if (conf.pin) None
      else if (expected.isEmpty) Some("no pinned row count")
      else if (expected.get != rows) Some(s"rows $rows, pinned ${expected.get}")
      else None)
    Exec(name, pass, error.isEmpty, wall, tb, tp, te, rows, legs, error.orNull)
  }

  // ----------------------------------------------------------------- EPPA

  private val sinks = Seq("passes", "player_stats", "field_viz", "player_proj")
  private val nflTimes = mutable.LinkedHashMap.empty[String, Double]

  /** One season: SeasonJob.run, then Rankings over what it wrote. In a
    * traced pass each stage is called on its own (the same calls
    * SeasonJob.run makes, in its order) so its time is its own. */
  private def seasonPass(pass: Int, stages: Boolean): Exec = {
    import graft.nfl._
    spans.newTrace()
    val outDir = new File(conf.root, s"season/$pass").getPath
    val xyac = XyacModel.kernelScorer(model)
    val batch = XyacModel.kernelBatchScorer(model)
    val priors = FrameEppa.Priors.synthetic()
    def stage[T](name: String)(body: => T): T = {
      group(s"$pass|eppa|nfl.$name")
      val t0 = System.nanoTime()
      try spans(s"nfl.$name")(body)
      finally if (stages) nflTimes(name) = nflTimes.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val result = try {
      spans("query") {
        val frames =
          if (!stages) stage("season") {
            SeasonJob.run(Normalize(season.tracking, season.games, season.plays),
              season.preState, outDir, xyacModel = Some(model), priors = priors)
          } else {
            val norm = stage("normalize")(Normalize(season.tracking, season.games, season.plays)
              .localCheckpoint(eager = true))
            val tables = stage("epa_tables")(SeasonJob.epaTables(season.preState))
            val inputs = stage("frame_inputs")(EppaJob.frameInputs(norm).localCheckpoint(eager = true))
            val out = EppaJob.run(inputs, tables, FrameEppa.Params(), priors, xyac, batch).cache()
            val n = stage("kernel")(out.count())
            // writeOutputs serves the cached frames and unpersists them
            stage("write")(EppaJob.writeOutputs(out, outDir))
            n
          }
        val ranked = stage("rankings") {
          val passes = spark.read.parquet(s"$outDir/passes")
          val stats = spark.read.parquet(s"$outDir/player_stats")
          val summary = Rankings.playSummary(passes)
          Seq(summary, Rankings.calibration(Rankings.withPlayMeta(summary, season.plays)),
            Rankings.playerRanking(stats), Rankings.teamRanking(stats))
            .map(_.queryExecution.toRdd.count())
        }
        (frames, ranked)
      }
    } catch { case e: Throwable => e.printStackTrace(); null }
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.clearJobGroup()
    clearPersisted()
    group(s"$pass|eppa|check")
    val error = if (result == null) Some("season failed") else {
      val sinkRows = sinks.map(s => s -> spark.read.parquet(s"$outDir/$s").count()).toMap
      // the rankings' row counts follow the seeded positions; the frame
      // count and the sinks' row counts do not
      val got = Map("frames" -> result._1) ++ sinkRows
      got.foreach { case (k, v) => observed(s"eppa.$k") = v }
      val bad = got.filter { case (k, v) => !conf.pinned.get(s"eppa.$k").contains(v) }
      if (bad.isEmpty || conf.pin) None
      else Some(bad.map { case (k, v) => s"$k=$v (pinned ${conf.pinned.get(s"eppa.$k")})" }.mkString(", "))
    }
    spark.sparkContext.clearJobGroup()
    deleteTree(new File(outDir))
    Exec("eppa_season", pass, error.isEmpty, wall, 0, 0, wall,
      if (result == null) -1 else result._1, Map.empty, error.orNull)
  }

  /** Single-thread kernel cost per frame on a sample of the season's
    * frames, with the model's batch scorer and with the constant stub. */
  private def kernelProbe(): Unit = {
    import graft.nfl._
    val norm = Normalize(season.tracking, season.games, season.plays)
    val frames = EppaJob.frameInputs(norm).collect().sortBy(f => (f.gameId, f.playId, f.frameId))
    val sample = frames.take(1)
    val tables = SeasonJob.epaTables(season.preState)
    val priors = FrameEppa.Priors.synthetic()
    def msPerFrame(k: FrameEppa.Kernel): Double = {
      val t0 = System.nanoTime()
      sample.foreach(f => k.compute(f, tables((f.gameId, f.playId))._1, tables((f.gameId, f.playId))._2))
      (System.nanoTime() - t0) / 1e6 / sample.length
    }
    metrics("nfl.kernel_ms_per_frame") = msPerFrame(new FrameEppa.Kernel(FrameEppa.Params(),
      priors, XyacModel.kernelScorer(model), XyacModel.kernelBatchScorer(model)))
    metrics("nfl.kernel_ms_per_frame_stub") = msPerFrame(new FrameEppa.Kernel(FrameEppa.Params(),
      priors, (_: Array[Double]) => 5.0))
    // the GBDT alone: batch scoring of a fixed 25-slot feature block
    val n = 4096
    val block = featureBlock(n)
    val scorer = XyacModel.kernelBatchScorer(model)
    val outArr = new Array[Double](n)
    scorer.scoreBatch(block, n, outArr)
    var reps = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L) { scorer.scoreBatch(block, n, outArr); reps += 1 }
    metrics("ml.gbdt_rows_per_s") = reps.toDouble * n / ((System.nanoTime() - t0) / 1e9)
  }

  /** A seeded block of `n` feature rows in the kernel's 25-slot layout. */
  private def featureBlock(n: Int): Array[Double] = {
    val r = new java.util.Random(conf.seed)
    val w = graft.nfl.FrameEppa.XyacNumFeatures
    Array.tabulate(n * w) { i =>
      val slot = i % w
      if (slot >= 4 && slot <= 8) r.nextDouble() * 25
      else if (slot >= 19 && slot <= 23) r.nextDouble() * 9
      else if (slot == 24) r.nextDouble() * 53
      else r.nextDouble() * 40 - 20
    }
  }

  /** The batch scorer and the per-call scorer must agree bit for bit. */
  private def checkScorers(): Unit = {
    import graft.nfl._
    val n = 512
    val block = featureBlock(n)
    val w = FrameEppa.XyacNumFeatures
    val batch = new Array[Double](n)
    XyacModel.kernelBatchScorer(model).scoreBatch(block, n, batch)
    val perCall = XyacModel.kernelScorer(model)
    val bad = (0 until n).count(i => perCall(block.slice(i * w, (i + 1) * w)) != batch(i))
    if (bad > 0) problems += s"batch and per-call xyac scorers differ on $bad of $n rows"
  }

  // ------------------------------------------------------------------ run

  def run(): String = {
    val started = setup()
    System.err.println(f"[perfbench] session ready $started%.3f s after JVM start")
    if (isEppa) checkScorers()
    val queries = if (isEppa) Seq("eppa_season") else conf.queries ++
      (if (conf.plantFailures) Seq("planted_throw", "planted_miscount") else Nil)

    def pass(p: Int, traced: Boolean): (Double, Seq[Exec]) = {
      // the warm-up pass runs in the listed order, so every run starts its
      // timed passes from the same warm-up; the seed orders the timed passes
      val order = if (p == 0) queries else new scala.util.Random(conf.seed * 1000 + p).shuffle(queries)
      System.gc()
      spans.enabled = traced
      if (traced) { listener.reset(); spark.sparkContext.addSparkListener(listener) }
      val t0 = System.nanoTime()
      val execs = spans("pass") {
        if (isEppa) Seq(seasonPass(p, stages = traced))
        else order.map { q =>
          val e = execQuery(q, p)
          System.err.println(f"[perfbench]   ${e.query}%-26s ${e.wall}%.3f s (build ${e.build}%.3f, plan ${e.plan}%.3f, exec ${e.exec}%.3f)")
          e
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] pass $p%d${if (traced) " (traced)" else ""}: $wall%.3f s")
      if (traced) {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      (wall, execs)
    }

    // the warm-up pass compiles code and fills the JVM; then timed passes,
    // untraced and (in a traced run) traced, alternating
    val timed = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Seq[Exec])]
    val groupSnaps = mutable.ArrayBuffer.empty[Map[String, GroupStats]]
    spans.enabled = conf.trace
    val (warmWall, warmExecs) = spans("run") {
      val warm = pass(0, traced = false)
      val t0 = System.nanoTime()
      var p = 1
      // a traced run needs two traced passes, so that counts can be compared
      while (timed.length < minPasses || (System.nanoTime() - t0) / 1e9 < conf.seconds ||
             (conf.trace && timed.count(_._2) < 2)) {
        val traced = conf.trace && p % 2 == 0
        val (w, ex) = pass(p, traced)
        if (traced) groupSnaps += listener.groups
        timed += ((p, traced, w, ex))
        p += 1
      }
      warm
    }

    val timedExecs = timed.flatMap(_._4)
    val untraced = timed.filter(!_._2)
    val tracedPasses = timed.filter(_._2)
    val failed = timedExecs.filterNot(_.ok)
    failed.foreach(e => System.err.println(s"[perfbench] FAILED ${e.query} (pass ${e.pass}): ${e.error}"))
    warmExecs.filterNot(_.ok).foreach(e =>
      System.err.println(s"[perfbench] FAILED in warm-up ${e.query}: ${e.error}"))
    val okExecs = untraced.flatMap(_._4).filter(_.ok)
    val samples = okExecs.map(_.wall)
    val perQuery = okExecs.groupBy(_.query).view.mapValues(es => median(es.map(_.wall).toSeq)).toMap
    // a pass's wall is the time its client waited for results; a pass
    // with a failure is not a complete pass of the workload
    val passWalls = untraced.filter(_._4.forall(_.ok)).map(_._4.map(_.wall).sum)

    // ---- end-to-end
    // inputs (generated three times by run.py; median) + JVM and session
    // start + the warm-up pass
    metrics("setup_s") = conf.inputsSeconds + started + warmWall
    metrics("wall_s") = median(passWalls.toSeq)
    metrics("query_p50_s") = hdMedian(samples.toSeq)
    metrics("query_p90_s") =
      if (samples.length >= 100) samples.sorted.apply((samples.length * 0.9).toInt) else Double.NaN
    metrics("query_samples") = samples.length
    metrics("query_geomean_s") =
      if (perQuery.isEmpty) Double.NaN
      else math.exp(perQuery.values.map(math.log).sum / perQuery.size)
    metrics("ops_failed_ratio") = failed.length.toDouble / math.max(1, timedExecs.length)
    metrics("eppa_frames_per_s") =
      if (isEppa) median(okExecs.map(e => e.rows / e.wall).toSeq) else Double.NaN
    metrics("peak_rss_mb") = vmHwmMb()

    // ---- per layer (traced passes only)
    if (conf.trace) perLayer(started, warmWall, tracedPasses.toSeq, groupSnaps.toSeq, untraced.map(_._3).toSeq,
      warmExecs)
    if (conf.trace && isEppa) kernelProbe()
    if (conf.trace) spans.write(conf.traceOut)

    val attempted = timedExecs.length
    val correct = failed.isEmpty && warmExecs.forall(_.ok) && problems.isEmpty &&
      !metrics("wall_s").asInstanceOf[Double].isNaN
    problems.foreach(p => System.err.println(s"[perfbench] $p"))
    if (conf.pin) metrics("observed") = json(observed)
    s"""{"correct":$correct,"attempted":$attempted,"failed":${failed.length},""" +
      s""""metrics":${json(metrics)}}"""
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
    finally src.close()
  }

  private def perLayer(started: Double, warmWall: Double,
                       traced: Seq[(Int, Boolean, Double, Seq[Exec])],
                       snaps: Seq[Map[String, GroupStats]], untracedWalls: Seq[Double],
                       warmExecs: Seq[Exec]): Unit = {
    val n = traced.length.toDouble
    val execs = traced.flatMap(_._4)
    val stats = snaps.flatMap(_.toSeq)
    def phase(ph: String) = stats.filter(_._1.endsWith(s"|$ph")).map(_._2)
    def sum(xs: Seq[GroupStats])(f: GroupStats => Long): Double = xs.map(f).sum.toDouble
    // the benchmark's own output checks are not the workload's work
    val attributed = stats.filter(g => g._1.nonEmpty && !g._1.endsWith("|check")).map(_._2)
    val execPhase = if (isEppa) attributed else phase("exec")
    val mb = 1024.0 * 1024.0

    metrics("session.start_s") = started
    metrics("session.warmup_s") = warmWall
    metrics("ops.build_s") = execs.map(_.build).sum / n
    metrics("ops.build_jobs") = sum(phase("build"))(_.jobs) / n
    metrics("plans.plan_s") = execs.map(_.plan).sum / n
    val execS = if (isEppa) traced.map(_._3).sum / n else execs.map(_.exec).sum / n
    val jobs = sum(execPhase)(_.jobs) / n
    metrics("exec.exec_s") = execS
    metrics("exec.jobs") = jobs
    metrics("exec.stages") = sum(execPhase)(_.stages) / n
    metrics("exec.tasks") = sum(execPhase)(_.tasks) / n
    metrics("exec.s_per_job") = if (jobs > 0) execS / jobs else 0.0
    metrics("exec.sched_delay_s") = sum(attributed)(_.schedDelayMs) / 1000 / n
    metrics("exec.unattributed_jobs") = sum(stats.filter(_._1.isEmpty).map(_._2))(_.jobs) / n
    val cpuS = sum(attributed)(_.cpuNs) / 1e9 / n
    metrics("exec.task_run_s") = sum(attributed)(_.runMs) / 1000 / n
    metrics("exec.task_cpu_s") = cpuS
    metrics("exec.task_gc_s") = sum(attributed)(_.gcMs) / 1000 / n
    // task CPU of the phase exec.exec_s times, over that wall × cores
    metrics("exec.cpu_util") = sum(execPhase)(_.cpuNs) / 1e9 / n / (execS * cores)
    metrics("exec.shuffle_read_mb") = sum(attributed)(_.shuffleRead) / mb / n
    metrics("exec.shuffle_write_mb") = sum(attributed)(_.shuffleWrite) / mb / n
    metrics("exec.spill_mb") = sum(attributed)(_.spill) / mb / n
    metrics("exec.input_mb") = sum(attributed)(_.input) / mb / n
    metrics("exec.task_failures") = sum(attributed)(_.taskFailures) / n
    metrics("exec.peak_task_mem_mb") =
      if (attributed.isEmpty) 0.0 else attributed.map(_.peakMem).max / mb

    // lifecycle: legs of every timed execution, median per leg
    val legs = execs.flatMap(_.legs.toSeq).groupBy(_._1).view.mapValues(v => median(v.map(_._2))).toMap
    legs.foreach { case (k, v) => metrics(s"lifecycle.leg.${k}_s") = v }
    val batchQueries = Set("d_incremental_admit", "d_incremental_admit_fast", "t_selfdedup_incremental")
    val batchGroups = stats.filter { case (g, _) => g.split('|') match {
      case Array(_, q, _) => batchQueries(q)
      case _ => false
    } }.map(_._2)
    val batches = execs.filter(e => batchQueries(e.query)).map(_.legs.keys.count(_.contains(".batch"))).sum
    metrics("lifecycle.jobs_per_batch") = if (batches > 0) sum(batchGroups)(_.jobs) / batches else 0.0
    metrics("lifecycle.output_mb") = sum(attributed)(_.output) / mb / n
    val tracedIds = traced.map(_._1).toSet
    val caches = cacheSizes.filter(c => tracedIds(c._1))
    metrics("lifecycle.cache_mb") = caches.map(_._2).sum / mb / n
    metrics("lifecycle.cache_entries") = caches.map(_._3).sum / n
    metrics("lifecycle.scratch_mb") =
      (dirBytes(conf.root) - dirBytes(new File(dataDir))) / mb

    // nfl stages (traced season passes)
    Seq("normalize", "frame_inputs", "epa_tables", "kernel", "write", "rankings").foreach { s =>
      metrics(s"nfl.${s}_s") = nflTimes.getOrElse(s, 0.0) / n
    }
    metrics("nfl.frames") = if (isEppa) execs.map(_.rows).sum / n else 0.0
    metrics("nfl.kernel_ms_per_frame") = 0.0
    metrics("nfl.kernel_ms_per_frame_stub") = 0.0
    metrics("ml.gbdt_rows_per_s") = 0.0

    // trace accounting
    val tracedWall = median(traced.map(_._3))
    metrics("trace.overhead_ratio") = tracedWall / median(untracedWalls)
    // the share of the traced passes' wall that the layer spans account
    // for; the rest is the harness's own work between queries
    val layers = Set("ops.build", "plans.plan", "exec.exec")
    metrics("trace.coverage") =
      spans.seconds(s => layers(s) || s.startsWith("nfl.")) / spans.seconds(_ == "pass")
    // counts must repeat: jobs/stages/tasks per query across traced passes
    val perQueryCounts = snaps.map { snap =>
      snap.toSeq.filter(_._1.nonEmpty).groupBy { case (g, _) => g.split('|').drop(1).headOption.getOrElse("") }
        .view.mapValues(v => (v.map(_._2.jobs).sum, v.map(_._2.stages).sum, v.map(_._2.tasks).sum)).toMap
    }
    val mismatched = perQueryCounts.flatMap(_.keys).distinct.count(q => perQueryCounts.map(_.get(q)).distinct.size > 1)
    metrics("trace.count_mismatches") = mismatched
    val rowMismatch = (warmExecs ++ execs).filter(_.ok).groupBy(_.query).count(_._2.map(_.rows).distinct.size > 1)
    metrics("trace.row_mismatches") = rowMismatch
  }
}
