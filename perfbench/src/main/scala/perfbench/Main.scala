package perfbench

import graft.GraftExtensions
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point; `run.py` builds the classpath and launches it.
  *
  * {{{ perfbench.Main --workload scan --seed 1 --seconds 10 --trace 0 --run-dir DIR --cores N --source-id ID }}}
  *
  * One process, one `local[N]` Spark context. Operations run one at a time
  * from one client (closed loop). The last stdout line of `run.py` is the
  * result object; this process writes it to `DIR/result.json`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, runDir: File,
                        cores: Int, sourceId: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("run-dir")), need("cores").toInt, need("source-id"))
  }

  val workloads: Map[String, () => Workload] = Map(
    "scan" -> (() => new ScanWorkload),
    "lookup" -> (() => new LookupWorkload),
    "ingest" -> (() => new IngestWorkload),
    "pipeline" -> (() => new PipelineWorkload))

  /** Per-operation record of one round: the outcome, or why it failed. */
  final case class OpRun(op: Op, opId: Int, ms: Double, result: Either[String, Outcome],
                         counters: ScanCounters) {
    def name: String = op.name
    def readBytes: Long = op.readBytes
    def outcome: Outcome = result.getOrElse(Outcome())
  }

  final case class RoundRun(ops: Seq[OpRun]) {
    def secs: Double = ops.map(_.ms).sum / 1e3
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))()
    val nproc = Runtime.getRuntime.availableProcessors
    require(a.cores >= 1 && a.cores <= nproc, s"cores ${a.cores} outside 1..$nproc")

    // ---- session start
    Log.mark("start")
    val t0 = System.nanoTime()
    val (ref, spark) = startSessions(a.runDir, a.cores, s"perfbench-${a.workload}")
    spark.range(1).collect()
    Log.mark("first job")
    val sessionSecs = (System.nanoTime() - t0) / 1e9

    val untraced = new Tracer(false)
    val ctx = new Ctx(spark, ref, a.seed, a.runDir, a.cores, untraced)
    val errors = ArrayBuffer.empty[String]
    var failed = 0

    // ---- inputs (program-independent, untimed)
    val tPrep = System.nanoTime()
    wl.prepare(ctx)
    val prepSecs = (System.nanoTime() - tPrep) / 1e9
    Log.mark("prepared")

    // ---- set-up: the container fixture, built several times from scratch
    val builds = if (a.trace) 1 else 3
    val buildSecs = (0 until builds).map { i =>
      val dir = new File(a.runDir, s"fixture-$i")
      val s = System.nanoTime()
      wl.build(ctx, dir)
      val secs = (System.nanoTime() - s) / 1e9
      if (i < builds - 1) Files.delete(dir)
      secs
    }
    val setupSecs = sessionSecs + Stats.median(buildSecs)
    println(Stats.json(Map("fixture" -> wl.fixtureInfo)))

    Log.mark("built")
    val guard = wl.guard(ctx)
    errors ++= guard
    Log.mark("guarded")

    // ---- timed phases
    var nextOpId = 0
    var round = 0
    def runRound(): RoundRun = {
      val ops = wl.round(ctx, round)
      round += 1
      RoundRun(ops.map { op =>
        nextOpId += 1
        val id = nextOpId
        val traced = ctx.tracer.enabled
        val c0 = if (traced) ScanCounters.read() else ScanCounters.zero
        val s = System.nanoTime()
        val res =
          try Right(ctx.tracer.op(id, op.name, spark.sparkContext) {
            if (op.span.isEmpty) op.run() else ctx.tracer.span(op.span)(op.run())
          })
          catch { case e: Exception => Left(s"${op.name}: ${e.getClass.getName}: ${e.getMessage}") }
        val ms = (System.nanoTime() - s) / 1e6
        val c = if (traced) ScanCounters.read() - c0 else ScanCounters.zero
        OpRun(op, id, ms, res, c)
      })
    }
    // rounds start while the next one, as long as the last, still ends
    // within the timed phase; at least two rounds run
    def fits(start: Long, rounds: Int, lastSecs: Double): Boolean =
      rounds < 2 || (System.nanoTime() - start) / 1e9 + lastSecs <= a.seconds

    // the references run in the same JVM before timing, so their planning,
    // codegen and aggregation also warm the JIT for the timed rounds
    wl.references(ctx)
    Log.mark("references")

    val canaryBefore = graft.Bench.spinCanaryMs()
    // two warm-up rounds: JIT, codegen and lazy set-up are not timed
    val warm = Seq(runRound(), runRound())
    Log.mark("warmed")
    val tracer = new Tracer(a.trace)
    val (measured, tracedRounds) =
      if (!a.trace) {
        val out = ArrayBuffer.empty[RoundRun]
        val start = System.nanoTime()
        while (fits(start, out.size, out.lastOption.fold(0.0)(_.secs))) out += runRound()
        (out.toList, Nil)
      } else {
        // untraced and traced rounds alternate, so both see the same JIT and
        // cache state and their difference is the tracing overhead
        val plain, traced = ArrayBuffer.empty[RoundRun]
        val start = System.nanoTime()
        while (fits(start, traced.size, traced.lastOption.fold(0.0)(r => r.secs + plain.last.secs))) {
          plain += runRound()
          ctx.tracer = tracer
          spark.sparkContext.addSparkListener(tracer.sparkListener)
          spark.streams.addListener(tracer.streamingListener)
          traced += runRound()
          tracer.drain()
          spark.sparkContext.removeSparkListener(tracer.sparkListener)
          spark.streams.removeListener(tracer.streamingListener)
          ctx.tracer = untraced
        }
        (plain.toList, traced.toList)
      }
    val canaryAfter = graft.Bench.spinCanaryMs()
    Log.mark("measured")

    // ---- checks: every operation's outcome against its reference
    val allRuns = (warm ++ measured ++ tracedRounds).flatMap(_.ops)
    val attempted = allRuns.size
    for (run <- allRuns) {
      val err = run.result.left.toOption.orElse {
        try run.op.check(run.outcome)
        catch { case e: Exception => Some(s"${run.name}: check failed: ${e.getMessage}") }
      }
      err.foreach { e => failed += 1; errors += e }
    }
    Log.mark("checked")

    // ---- end-to-end metrics (untraced rounds only)
    val opMs = measured.flatMap(_.ops.map(_.ms))
    // each operation's median over the timed rounds: a burst of host noise
    // in one operation of one round moves neither wall_s nor op_p50_ms
    val opMedians = measured.flatMap(_.ops).groupBy(_.name).map { case (n, rs) =>
      n -> Stats.median(rs.map(_.ms)) }
    val wallSecs = opMedians.values.sum / 1e3
    val roundReadBytes = measured.head.ops.map(_.readBytes).sum
    val (tailMs, tailPct, tailN) = Stats.tail(opMs)
    val endToEnd = scala.collection.immutable.ListMap(
      "setup_s" -> setupSecs,
      "wall_s" -> wallSecs,
      "op_p50_ms" -> Stats.median(opMedians.values.toSeq),
      "op_tail_ms" -> tailMs,
      "read_mbps" -> roundReadBytes / 1e6 / wallSecs,
      "stored_bytes_ratio" -> wl.storedRatio(measured.flatMap(_.ops.map(_.outcome))),
      "peak_rss_mb" -> peakRssMb())
    val units = Map("setup_s" -> "s", "wall_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
      "read_mbps" -> "MB/s", "stored_bytes_ratio" -> "ratio",
      "peak_rss_mb" -> "MB")

    val drift = canaryAfter / canaryBefore
    val env = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> nproc, "local_n" -> a.cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "source" -> a.sourceId,
      "canary_ms_before" -> canaryBefore, "canary_ms_after" -> canaryAfter,
      "canary_drift" -> drift, "canary_drifted" -> (drift > 1.25 || drift < 0.8),
      "session_s" -> sessionSecs, "prepare_s" -> prepSecs, "fixture_builds_s" -> buildSecs,
      "rounds" -> measured.size, "ops" -> opMs.size,
      "round_s" -> measured.map(_.secs),
      "op_median_ms" -> opMedians,
      "warm_round_s" -> warm.map(_.secs),
      "op_tail_percentile" -> tailPct, "op_tail_n" -> tailN,
      "error_ratio" -> (if (attempted > 0) failed.toDouble / attempted else 0.0))
    println(Stats.json(Map("env" -> env)))
    println(Stats.json(Map("end_to_end" -> endToEnd.map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> units(k)) })))
    if (errors.nonEmpty) println(Stats.json(Map("errors" -> errors.take(20))))

    val metrics =
      if (!a.trace) endToEnd.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }
      else {
        val formatted = PerLayer.metrics(ctx, wl, measured, tracedRounds, tracer)
        scala.collection.immutable.ListMap(formatted.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) }: _*)
      }
    val result = Map(
      "correct" -> (failed == 0 && guard.isEmpty),
      "attempted" -> attempted,
      "failed" -> (failed + guard.size),
      "metrics" -> metrics)
    java.nio.file.Files.write(new File(a.runDir, "result.json").toPath,
      Stats.json(result).getBytes("UTF-8"))
    Log.mark("reported")
    spark.stop()
  }

  /** A reference session without the graft extensions, then the graft
    * session on the same `local[cores]` context. Every Spark path points
    * into `runDir`.
    */
  def startSessions(runDir: File, cores: Int, app: String): (SparkSession, SparkSession) = {
    val ref = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(runDir, "checkpoints").getPath)
      .getOrCreate()
    ref.sparkContext.setLogLevel("WARN")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    require(spark ne ref, "graft session must be distinct from the reference session")
    require(spark.catalog.functionExists("vec_dot") && !ref.catalog.functionExists("vec_dot"),
      "graft extensions must be active in the graft session only")
    (ref, spark)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
