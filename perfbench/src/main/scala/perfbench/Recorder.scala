package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One operation the benchmark issued: a drain, a query, an absorb, a
  * read or a microbench call. Times are epoch microseconds. */
final case class Op(id: Long, name: String, layer: String, kind: String,
    startUs: Long, endUs: Long, cpuUs: Long) {
  def wallMs: Double = (endUs - startUs) / 1000.0
  def group: String = s"perfbench-op-$id"
}

final class JobRec(val id: Int, val group: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0
  var runMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** One streaming trigger as reported by the engine's query progress. */
final case class Trigger(query: String, runId: String, batchId: Long,
    startMs: Long, durations: Map[String, Long], rows: Long,
    startOffset: Long, endOffset: Long) {
  def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Measurement state of one benchmark process: the ops it issued, the
  * streaming triggers (always recorded: frame latencies and the source
  * and ingest figures come from them), and — when tracing — every Spark
  * job with its task totals and every query-planning phase, through
  * Spark's public listener APIs. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = t0EpochUs + (System.nanoTime() - t0Nanos) / 1000L

  private val opIds = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[Op]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** (phase start epoch ms, phase ms) of every planned query. */
  val planning = new ConcurrentLinkedQueue[(Long, Long)]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val terminated = new AtomicLong(0)

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def off(s: String): Long =
        if (s == null || s == "null") 0L else s.trim.toLong
      val src = p.sources.headOption
      triggers.add(Trigger(Option(p.name).getOrElse(""), p.runId.toString,
        p.batchId, Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, src.map(s => off(s.startOffset)).getOrElse(0L),
        src.map(s => off(s.endOffset)).getOrElse(0L)))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      terminated.incrementAndGet(); ()
    }
  })

  /** block until `n` streaming queries have terminated in total, so every
    * progress event of theirs has been delivered (the bus is ordered). */
  def awaitTerminated(n: Long): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (terminated.get() < n && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    require(terminated.get() >= n, s"only ${terminated.get()} of $n queries terminated")
  }

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobs.put(e.jobId, new JobRec(e.jobId, g, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach { j =>
            val m = e.taskMetrics
            j.synchronized {
              j.tasks += 1
              if (m != null) {
                j.runMs += m.executorRunTime
                j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
                j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
              }
            }
          }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.tracker.phases.values.foreach(p =>
          planning.add((p.startTimeMs, p.durationMs)))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** run `body` as one op under its own job group. */
  def op[T](name: String, layer: String, kind: String)(body: => T): (T, Op) = {
    val id = opIds.incrementAndGet()
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench-op-$id", name, false)
    val s = nowUs
    val c = Recorder.cpuUs()
    try {
      val r = body
      val o = Op(id, name, layer, kind, s, nowUs, Recorder.cpuUs() - c)
      ops.add(o)
      (r, o)
    } finally sc.clearJobGroup()
  }

  /** let the asynchronous listener bus catch up before reading totals. */
  def settle(): Unit = if (traced) Thread.sleep(1500)

  // ---- per-window aggregation over the traced job / planning records

  private def jobsIn(fromUs: Long, toUs: Long): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.startMs * 1000 >= fromUs &&
      j.startMs * 1000 <= toUs).toSeq

  def jobStats(o: Op): Map[String, Double] = {
    val js = jobsIn(o.startUs, o.endUs)
    val spans = js.map(j => (math.max(j.startMs * 1000, o.startUs),
      math.min(if (j.endMs < 0) o.endUs else j.endMs * 1000, o.endUs)))
    val planMs = planning.asScala.filter { case (st, _) =>
      st * 1000 >= o.startUs && st * 1000 <= o.endUs }.map(_._2).sum
    Map(
      "jobs" -> js.size.toDouble,
      "tasks" -> js.map(_.tasks).sum.toDouble,
      "shuffle_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "jobs_outside_group" -> js.count(_.group != o.group).toDouble,
      "planning_ms" -> planMs.toDouble,
      "driver_only_ms" -> (o.endUs - o.startUs - Recorder.covered(spans)) / 1000.0)
  }

  /** whole-phase Spark totals between two instants. */
  def sparkStats(fromUs: Long, toUs: Long, cores: Int, gcMs: Long): Map[String, Double] = {
    val js = jobsIn(fromUs, toUs)
    val wallMs = (toUs - fromUs) / 1000.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "spark.gc_ms" -> gcMs.toDouble,
      "spark.task_busy_share" -> js.map(_.runMs).sum / (wallMs * cores))
  }

  // ---- spans: ops, triggers (with their durationMs parts) and jobs

  def spans(workload: String, fromUs: Long, toUs: Long): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    var next = 0L
    def add(name: String, layer: String, parent: Long, op: Long,
        s: Long, e: Long): Long = {
      next += 1
      out += Map("id" -> next, "name" -> name, "layer" -> layer,
        "parent" -> parent, "op" -> op, "start_us" -> s, "end_us" -> e)
      next
    }
    val root = add(workload, "bench", 0, 0, fromUs, toUs)
    val opList = ops.asScala.toSeq.sortBy(_.startUs)
    val opSpan = opList.map(o =>
      o -> add(o.name, o.layer, root, o.id, o.startUs, o.endUs)).toMap
    def opAt(us: Long): Option[Op] =
      opList.find(o => o.startUs <= us && us <= o.endUs)
    // the parts of a trigger in the order MicroBatchExecution runs them
    val parts = Seq("latestOffset" -> "sources", "walCommit" -> "ingest",
      "getBatch" -> "sources", "queryPlanning" -> "ingest",
      "addBatch" -> "sinks", "commitOffsets" -> "ingest")
    val addBatchOf = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long, Long)]]
    triggers.asScala.toSeq.sortBy(_.startMs).foreach { t =>
      val s = t.startMs * 1000
      val e = t.commitMs * 1000
      val o = opAt(s)
      val tid = add(s"trigger ${t.query}#${t.batchId}", "ingest",
        o.map(opSpan).getOrElse(root), o.map(_.id).getOrElse(0L), s, e)
      var cur = s
      parts.foreach { case (k, layer) =>
        t.durations.get(k).filter(_ > 0).foreach { ms =>
          val id = add(k, layer, tid, o.map(_.id).getOrElse(0L), cur,
            math.min(e, cur + ms * 1000))
          if (k == "addBatch")
            addBatchOf.getOrElseUpdate(t.runId, mutable.ArrayBuffer.empty) +=
              ((cur, cur + ms * 1000, id))
          cur += ms * 1000
        }
      }
    }
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val s = j.startMs * 1000
      val e = if (j.endMs < 0) s else j.endMs * 1000
      if (s >= fromUs && s <= toUs) {
        val o = opAt(s)
        val parent = addBatchOf.get(j.group)
          .flatMap(_.find { case (a, b, _) => a <= s && s <= b }.map(_._3))
          .orElse(o.filter(_.group == j.group).map(opSpan))
          .orElse(o.map(opSpan)).getOrElse(root)
        add(s"job ${j.id}", "spark", parent, o.map(_.id).getOrElse(0L), s, e)
      }
    }
    out.toSeq
  }
}

object Recorder {
  /** upper median; 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  /** length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** CPU time of the process, all threads but the JIT compiler's,
    * microseconds. A Spark process keeps compiling for minutes: over one
    * ingest drain the compiler threads took 5-11 s of CPU against ~4 s
    * for everything else, falling from drain to drain, so counting them
    * would measure how far the JVM had warmed up. The runner starts the
    * JVM with a fixed set of compiler threads, so none exits and takes
    * its CPU time out of the sum. */
  def cpuUs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1000L -
    jitCpuUs()

  /** CPU of the JIT compiler threads (named "C1/C2 CompilerThreadN",
    * truncated to 15 characters by the kernel), from /proc/self/task,
    * microseconds at the kernel's 10 ms clock tick. */
  def jitCpuUs(): Long = {
    val tasks = java.nio.file.Files.list(java.nio.file.Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.map { t =>
      scala.util.Try(new String(java.nio.file.Files.readAllBytes(t.resolve("stat")), "UTF-8"))
        .toOption.filter(_.contains("CompilerThre")).map { stat =>
          // fields after the parenthesised name: state ... utime (12th) stime (13th)
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000L
        }.getOrElse(0L)
    }.sum finally tasks.close()
  }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
