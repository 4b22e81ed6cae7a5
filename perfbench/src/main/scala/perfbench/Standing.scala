package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{PipelineOps, Q}
import graft.streaming.{PartitionedArtifact, StandingGraph, StandingLabels}

/** Writes beside reads on the standing-artifact layer: a partitioned
  * artifact (`StandingGraph`, edges by component label, with deletes)
  * and a whole-rewrite one (`StandingLabels`, `VersionedArtifact`).
  * Constructing it is the setup: both are bootstrapped from the
  * supplier→customer transaction graph of orders in hash buckets < 80
  * (as in `DeltaWriteProbe`). Each `round()` then absorbs the next
  * `PurgeEvery` batches of a seeded changelog: one order bucket >= 80 per
  * add batch (both artifacts), the round's last batch a purge of
  * `PurgeNodes` supplier nodes from `StandingGraph`. Each absorb is
  * followed by a read of the artifact it changed; `warm()` runs the
  * first round untimed. */
final class Standing(ctx: Ctx) {
  import Standing._
  private val s = ctx.spark
  private val rec = ctx.rec
  private val dir = ctx.path("data")
  private val roots = Artifacts.map(a => a -> ctx.path(s"artifacts/$a")).toMap
  private val pairs = s.read.parquet(s"$dir/lineitem.parquet")
    .join(s.read.parquet(s"$dir/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
    .select((col("l_suppkey") + 1000000000L).as("src"), col("o_custkey").as("dst"),
      Q.hashBucket(col("o_orderkey")).as("bkt"))
    .localCheckpoint()
  private val base = pairs.filter(col("bkt") < 80).select(col("src"), col("dst"))
    .distinct().localCheckpoint()
  locally {
    val labels0 = PipelineOps.connectedComponents(base).localCheckpoint()
    StandingGraph.bootstrap(base, labels0, roots("graph"))
    StandingLabels.bootstrap(labels0, roots("labels"))
    Main.log("artifacts bootstrapped")
  }

  // the seeded changelog: a bucket order, and which supplier nodes each
  // purge batch removes; each round is materialized before it runs
  private val rnd = new scala.util.Random(ctx.seed)
  private val buckets = rnd.shuffle((80 until 100).toList)
  private val suppliers = base.select(col("src")).distinct().orderBy(col("src"))
    .collect().map(_.getLong(0))
  private val batches = collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
  private def materialize(upTo: Int): Unit = while (batches.size < upTo) {
    val i = batches.size
    batches += (if (i % PurgeEvery == PurgeEvery - 1) {
      val nodes = rnd.shuffle(suppliers.toList).take(PurgeNodes)
      "purge" -> s.createDataFrame(nodes.map(n => ("del", n, -1L)))
        .toDF("kind", "src", "dst").localCheckpoint()
    } else "add" -> pairs.filter(col("bkt") === buckets(i % buckets.size))
      .select(lit("add").as("kind"), col("src"), col("dst")).distinct()
      .localCheckpoint())
  }
  materialize(PurgeEvery)

  private val perAbsorb = collection.mutable.ArrayBuffer.empty[(String, Op, Map[String, Double])]
  private val reads = collection.mutable.ArrayBuffer.empty[(String, Op)]
  private var n = 0

  private def absorb(a: String, ev: DataFrame)(body: => Unit): Unit = {
    val (_, o) = rec.op(s"$a-absorb-$n", "streaming", "absorb")(body)
    // per-version counters, read outside the timed span
    val root = roots(a)
    val written = if (a == "labels") StandingLabels.readLatest(s, root).count()
      else PartitionedArtifact.writeStats(s, root, n).values.sum
    val partsRead = if (a == "labels") 0L
      else PartitionedArtifact.readStats(s, root, n).values.sum
    perAbsorb += ((a, o, Map("bytes" -> dirBytes(s"$root/v=$n").toDouble,
      "rows_written" -> written.toDouble, "delta_rows" -> ev.count().toDouble,
      "parts_read" -> partsRead.toDouble)))
  }

  private def read(a: String)(body: => Unit): Unit =
    reads += ((a, rec.op(s"$a-read-$n", "streaming", "read")(body)._2))

  def round(): Unit = {
    materialize(n + PurgeEvery)
    (1 to PurgeEvery).foreach { _ =>
      val (kind, ev) = batches(n)
      absorb("graph", ev)(StandingGraph.absorbBatch(ev, n, roots("graph")))
      read("graph")(StandingGraph.readLatest(s, roots("graph"))("labels")
        .select(col("label")).distinct().count())
      if (kind == "add") {
        absorb("labels", ev)(StandingLabels.absorbBatch(ev.select(col("src"), col("dst")),
          n, roots("labels")))
        read("labels")(StandingLabels.readLatest(s, roots("labels"))
          .select(col("label")).distinct().count())
      }
      n += 1
    }
  }

  /** one untimed round (JIT and codegen of the absorb and read paths);
    * its batches stay in the changelog the checks replay. */
  def warm(): Unit = {
    round()
    perAbsorb.clear()
    reads.clear()
    Main.log("changelog warmed")
  }

  /** checks and per-layer figures, after timing. The labels must equal a
    * from-scratch solve over the edges that survive the changelog (latest
    * add after the latest purge of either endpoint), recomputed here from
    * the inputs alone. */
  def finish(): (Seq[Map[String, Any]], Map[String, Double]) = {
    val applied = batches.take(n).toSeq.zipWithIndex
    val adds = (base.withColumn("at", lit(-1)) +: applied.collect {
      case ((k, ev), i) if k == "add" =>
        ev.select(col("src"), col("dst")).withColumn("at", lit(i)) })
      .reduce(_ unionByName _)
      .groupBy(col("src"), col("dst")).agg(max(col("at")).as("at"))
    val purged = applied.collect { case ((k, ev), i) if k == "purge" =>
        ev.select(col("src").as("node")).withColumn("pt", lit(i)) }
      .reduce(_ unionByName _).groupBy(col("node")).agg(max(col("pt")).as("pt"))
    def lastPurge(c: String) = purged.withColumnRenamed("node", c)
      .withColumnRenamed("pt", s"pt_$c")
    val surviving = adds.join(lastPurge("src"), Seq("src"), "left")
      .join(lastPurge("dst"), Seq("dst"), "left")
      .filter(coalesce(col("pt_src"), lit(-2)) < col("at") &&
        coalesce(col("pt_dst"), lit(-2)) < col("at"))
      .select(col("src"), col("dst"))
    def sameLabels(got: DataFrame, edges: DataFrame): (Boolean, String) = {
      val want = PipelineOps.connectedComponents(edges)
      val g = got.join(want.select(col("node")), Seq("node"), "left_semi")
      val diff = g.exceptAll(want).count() + want.exceptAll(g).count()
      (diff == 0, s"$diff differing rows")
    }
    val graphLabels = StandingGraph.readLatest(s, roots("graph"))("labels")
    val (graphOk, graphDetail) = sameLabels(graphLabels, surviving)
    val (labelsOk, labelsDetail) = sameLabels(StandingLabels.readLatest(s, roots("labels")),
      adds.select(col("src"), col("dst")))
    val resurrected = graphLabels
      .join(purged.withColumnRenamed("pt", "p"), Seq("node"), "left_semi")
      .join(surviving.select(col("src").as("node"))
        .union(surviving.select(col("dst"))), Seq("node"), "left_anti").count()

    val perLayer = if (!rec.traced) Map.empty[String, Double] else {
      def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val liveFiles = Map(
        "graph" -> StandingGraph.readLatest(s, roots("graph")).values.map(_.inputFiles.length).sum,
        "labels" -> StandingLabels.readLatest(s, roots("labels")).inputFiles.length)
      Artifacts.flatMap { a =>
        val mine = perAbsorb.filter(_._1 == a).toSeq
        val stats = mine.map { case (_, o, _) => rec.jobStats(o) }
        Seq(
          s"streaming.$a.absorb_ms" -> Recorder.median(mine.map(_._2.wallMs)),
          s"streaming.$a.jobs_per_absorb" -> mean(stats.map(_("jobs"))),
          s"streaming.$a.bytes_written_per_absorb" -> mean(mine.map(_._3("bytes"))),
          s"streaming.$a.rows_written_per_delta_row" ->
            mine.map(_._3("rows_written")).sum / math.max(1.0, mine.map(_._3("delta_rows")).sum),
          s"streaming.$a.parts_read_per_absorb" -> mean(mine.map(_._3("parts_read"))),
          s"streaming.$a.live_files" -> liveFiles(a).toDouble,
          s"streaming.$a.read_ms" -> Recorder.median(reads.filter(_._1 == a).map(_._2.wallMs).toSeq))
      }.toMap
    }
    (Seq(Main.check("graph_labels_equal_cc_of_surviving_edges", graphOk, graphDetail),
      Main.check("labels_equal_cc_of_all_edges", labelsOk, labelsDetail),
      Main.check("purged_nodes_absent", resurrected == 0, s"$resurrected resurrected")),
      perLayer)
  }
}

object Standing {
  val Artifacts = Seq("graph", "labels")
  private val PurgeEvery = 2
  private val PurgeNodes = 5

  private def dirBytes(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else Files.walk(path).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .map((f: Path) => Files.size(f)).sum
  }
}
