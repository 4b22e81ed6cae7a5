package perfbench

import graft.ingest.Projections
import graft.sinks.Sinks

/** Traced-run microbenches of the two per-frame layers, over frames
  * cached in memory so neither the source nor the trigger is timed:
  * `Projections.parseEnvelope` per stream type and `Sinks.writeKeyed`
  * per format. Each is the median of `Reps` calls, in ms per 1000
  * frames. */
object Micro {
  private val Reps = 3

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val lines = spark.read.text(ctx.path("micro.jsonl")).cache()
    lines.count()
    val parse = Seq("ticker", "trades", "order-book", "klines").map { stream =>
      val n = Projections.parseEnvelope(lines, stream).count()
      val ms = (1 to Reps).map { i =>
        ctx.rec.op(s"parse-$stream-$i", "ingest", "micro") {
          Projections.parseEnvelope(lines, stream)
            .write.format("noop").mode("overwrite").save()
        }._2.wallMs
      }
      s"ingest.parse_ms_per_kframe.$stream" -> Recorder.median(ms) / (n / 1000.0)
    }
    val batch = Projections.parseEnvelope(lines, "trades").cache()
    val n = batch.count()
    val write = Ingest.Formats.map { fmt =>
      val ms = (1 to Reps).map { i =>
        ctx.rec.op(s"write-$fmt-$i", "sinks", "micro") {
          Sinks.writeKeyed(batch, ctx.path(s"micro/$fmt-$i"), fmt,
            partitionCols = Seq("symbol"))
        }._2.wallMs
      }
      s"sinks.write_ms_per_kframe.$fmt" -> Recorder.median(ms) / (n / 1000.0)
    }
    batch.unpersist()
    lines.unpersist()
    (parse ++ write).toMap
  }
}
