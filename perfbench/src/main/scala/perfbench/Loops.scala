package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.queries.SideTables

/** Fixpoint loops, called through `SparkEntry.queries` (not
  * `graft.Bench`, whose stall re-measure and min-of-2 would change what
  * is measured): k-core peel, and connected components under
  * absorb/retract. Constructing it is the setup: each query runs once
  * untimed, so side tables and memoized inputs are built before timing
  * starts. Each `cycle()` then runs every query once, in a seeded order. */
final class Loops(ctx: Ctx) {
  import Loops._
  private val dir = ctx.path("data")
  private val rec = ctx.rec
  private val fns = Queries.map(q => q -> SparkEntry.queries(q))
  private val warm = fns.map { case (q, f) =>
    val rows = canon(f(ctx.spark, dir).collect())
    Main.log(s"warm $q")
    q -> rows
  }.toMap
  private val builtBefore = SideTables.builtThisSession.size
  private val rnd = new scala.util.Random(ctx.seed)
  private val mismatches = collection.mutable.ArrayBuffer.empty[String]
  private var cycles = 0

  def cycle(): Unit = {
    rnd.shuffle(fns).foreach { case (q, f) =>
      val (rows, _) = rec.op(q, "queries", "query") { f(ctx.spark, dir).collect() }
      if (canon(rows) != warm(q)) mismatches += s"$q@cycle$cycles"
    }
    cycles += 1
  }

  /** checks and per-layer figures, after timing; writes each query's rows
    * and oracle SQL for the runner's DuckDB comparison. */
  def finish(): (Seq[Map[String, Any]], Map[String, Double]) = {
    val sideBuilt = SideTables.builtThisSession.size - builtBefore
    Files.createDirectories(Paths.get(ctx.path("results")))
    Queries.foreach { q =>
      var rows = warm(q)
      if (ctx.inject == "perturb" && q == Queries.head)
        rows = (rows.head + "1") +: rows.tail
      Files.write(Paths.get(ctx.path(s"results/$q.tsv")),
        rows.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    Files.write(Paths.get(ctx.path("oracle.json")),
      Json(Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap).getBytes("UTF-8"))
    val perLayer = if (!rec.traced) Map.empty[String, Double] else {
      val ops = rec.ops.toArray(Array.empty[Op]).toSeq
      Queries.flatMap { q =>
        val mine = ops.filter(_.name == q)
        val stats = mine.map(rec.jobStats)
        Seq(s"queries.$q.wall_s" -> Recorder.median(mine.map(_.wallMs / 1000.0))) ++
          Seq("jobs", "tasks", "shuffle_bytes", "planning_ms",
            "driver_only_ms", "jobs_outside_group").map(k =>
            s"queries.$q.$k" -> Recorder.median(stats.map(_(k))))
      }.toMap + ("queries.side_tables_built" -> sideBuilt.toDouble)
    }
    (Seq(Main.check("repeatable_results", mismatches.isEmpty, mismatches.mkString(",")),
      Main.check("side_tables_built_in_timed_phase", sideBuilt == 0, sideBuilt)), perLayer)
  }
}

object Loops {
  val Queries = Seq("q258_kcore_fixpoint", "q280_cc_absorb_retract")

  def canon(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map(v => String.valueOf(v)).mkString("\t")).sorted
}
