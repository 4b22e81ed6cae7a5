package perfbench

import graft.ingest.{IngestConfig, IngestJob}

/** The reference's own function — wire frames to projected records to
  * file sinks — through `IngestJob`, over the `ws-replay` source. What
  * landed in the sinks is checked by the runner after this process
  * exits, against the generator's manifest. */
object Ingest {
  val Symbols = Seq("BTCUSDT", "ETHUSDT", "BNBUSDT", "SOLUSDT",
    "XRPUSDT", "ADAUSDT", "DOGEUSDT", "TRXUSDT")
  val Formats = Seq("parquet", "json")
  private val WarmDrains = 2
  private val MinDrains = 3
  /** the engine's default stream types (the reference's `--load`
    * default), all symbols, two formats. */
  def config(out: String): IngestConfig = IngestConfig(symbols = Symbols,
    outputDir = out, formats = Formats)
  def loaded: Seq[String] = config("").loadTypes

  private def drain(ctx: Ctx, file: String, out: String, name: String): Op = {
    val (_, o) = ctx.rec.op(name, "ingest", "drain") {
      IngestJob.runReplay(ctx.spark, file, config(out))
    }
    o
  }

  /** closed loop, one client: drain the whole replay file into fresh
    * sinks, again and again, until the run's seconds are spent and at
    * least `MinDrains` times (the runner takes the median drain), after
    * `WarmDrains` untimed drains of a warm-up file of the same size: the
    * CPU a drain takes falls for about five drains as the JVM warms up,
    * by ~25% in all, and is level after that. */
  def backfill(ctx: Ctx): Result = {
    val rec = ctx.rec
    (1 to WarmDrains).foreach { w =>
      drain(ctx, ctx.path("warm.jsonl"), ctx.path(s"sink/warm-$w"), s"warm-$w")
      rec.awaitTerminated(loaded.size * w)
    }
    rec.ops.clear()
    rec.triggers.clear()
    val start = Main.setupDone(ctx)
    val gc0 = Recorder.gcMs()
    val deadline = start + (ctx.seconds * 1e6).toLong
    var i = 0
    while (i < MinDrains || rec.nowUs < deadline) {
      drain(ctx, ctx.path("frames.jsonl"), ctx.path(s"sink/drain-$i"), s"drain-$i")
      i += 1
      rec.awaitTerminated(loaded.size * (WarmDrains + i))
    }
    val end = rec.nowUs
    val gc = Recorder.gcMs() - gc0
    Result(start, end, gc, Nil, Map.empty, Map("loaded" -> loaded))
  }
}
