package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the recorder and the run's
  * arguments. All paths are inside the run directory. */
final case class Ctx(spark: SparkSession, rec: Recorder,
    args: Map[String, String], runDir: String, seconds: Double, cores: Int) {
  def seed: Long = args("seed").toLong
  def inject: String = args.getOrElse("inject", "none")
  def path(p: String): String = s"$runDir/$p"
}

/** A workload's output: when measurement started and ended, the JVM's GC
  * time in between, the checks it made, its per-layer figures and
  * whatever else the runner needs. */
final case class Result(measureStartUs: Long, measureEndUs: Long, gcMs: Long,
    checks: Seq[Map[String, Any]], perLayer: Map[String, Double],
    extra: Map[String, Any] = Map.empty)

/** The benchmark process: one Spark session (`local[cores]`), one
  * workload, one result file. Measurement setup (input staging,
  * bootstraps, warm passes) happens before `setup_end_ms`.
  * {{{
  * perfbench.Main --workload loops_standing --run-dir DIR --seed 1 --seconds 6 \
  *   --trace 0 --cores 4
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val runDir = args("run-dir")
    val cores = args("cores").toInt
    val traced = args("trace") == "1"
    // side tables go to this run's own directory, as do the sinks,
    // streaming checkpoints and artifacts the workloads write
    sys.props("graft.side.dir") = s"$runDir/side"
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session up")
    val rec = new Recorder(spark, traced)
    val ctx = Ctx(spark, rec, args, runDir, args("seconds").toDouble, cores)
    val r = args("workload") match {
      case "ingest_backfill" => Ingest.backfill(ctx)
      case "loops_standing" => loopsStanding(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    log("workload done")
    val micro = if (traced) Micro.run(ctx) else Map.empty[String, Double]
    rec.settle()
    val perLayer = if (!traced) Map.empty[String, Double] else
      r.perLayer ++ micro ++ rec.sparkStats(r.measureStartUs, r.measureEndUs, cores, r.gcMs)
    val ops = rec.ops.toArray(Array.empty[Op]).toSeq.sortBy(_.startUs)
    val out = Map(
      "workload" -> args("workload"),
      "local" -> s"local[$cores]",
      "xmx_bytes" -> Runtime.getRuntime.maxMemory,
      "measure_start_us" -> r.measureStartUs,
      "measure_end_us" -> r.measureEndUs,
      "ops" -> ops.map(o => Map("id" -> o.id, "name" -> o.name,
        "kind" -> o.kind, "layer" -> o.layer, "start_us" -> o.startUs,
        "end_us" -> o.endUs, "cpu_us" -> o.cpuUs)),
      "triggers" -> rec.triggers.toArray(Array.empty[Trigger]).toSeq
        .sortBy(_.startMs).map(t => Map("query" -> t.query,
          "run_id" -> t.runId, "batch" -> t.batchId, "start_ms" -> t.startMs,
          "commit_ms" -> t.commitMs, "rows" -> t.rows,
          "start_offset" -> t.startOffset, "end_offset" -> t.endOffset,
          "durations" -> t.durations)),
      "checks" -> r.checks,
      "per_layer" -> perLayer,
      "spans" -> (if (traced) rec.spans(args("workload"),
        r.measureStartUs, rec.nowUs) else Nil)) ++ r.extra
    Files.write(Paths.get(s"$runDir/result.json"), Json(out).getBytes("UTF-8"))
    log("result written")
    spark.stop()
  }

  /** the fixpoint loops and the standing artifacts, in one process so
    * they share one JVM start and one warm-up: each round is one cycle of
    * the loop queries and one changelog round. One changelog round runs
    * untimed in setup (the queries' own warm calls are in `Loops`), so
    * every timed round is a warm one; at least `MinRounds` are timed. */
  def loopsStanding(ctx: Ctx): Result = {
    val loops = new Loops(ctx)
    val standing = new Standing(ctx)
    standing.warm()
    ctx.rec.ops.clear()
    val start = setupDone(ctx)
    val gc0 = Recorder.gcMs()
    val deadline = start + (ctx.seconds * 1e6).toLong
    var rounds = 0
    while (rounds < MinRounds || ctx.rec.nowUs < deadline) {
      loops.cycle()
      standing.round()
      rounds += 1
    }
    val end = ctx.rec.nowUs
    val gc = Recorder.gcMs() - gc0
    log(s"$rounds rounds measured")
    val (lc, lp) = loops.finish()
    val (sc, sp) = standing.finish()
    Result(start, end, gc, lc ++ sc, lp ++ sp, Map("rounds" -> rounds))
  }

  private val MinRounds = 2
  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[harness +${(System.nanoTime() - started) / 1e9}%.1fs] $msg")

  /** mark the end of setup: the runner's `setup_s` ends here. */
  def setupDone(ctx: Ctx): Long = {
    log("setup done")
    Files.write(Paths.get(ctx.path("setup_end_ms")),
      System.currentTimeMillis().toString.getBytes("UTF-8"))
    ctx.rec.nowUs
  }

  def check(name: String, ok: Boolean, detail: Any = ""): Map[String, Any] =
    Map("name" -> name, "ok" -> ok, "detail" -> detail.toString)
}
