package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.AsOfJoinExec

/** Traced run: splits the flagship pipeline into layers from outside.
  *
  * The same chain of cumulative prefixes runs on every workload's input,
  * each prefix forced through the noop sink; a layer's self time is its
  * prefix's median minus its parent prefix's median:
  *
  * {{{
  * io.scan              scan                    (read only)
  * compile.gate         gate        - scan      WaryGate.apply
  * compile.report       report      - gate      WaryGate.reportJson + routing
  * features.window      window      - gate      Windows.withLag/locf/runningCount
  * features.sessionize  sessionize  - window    Sessionize.apply
  * features.asof        full        - sessionize obs collapse + AsOfNative
  * io.checkpoint.write  write       - output    Lineage.observed + Checkpoint.write
  * io.checkpoint.resume resume                  invalidate 8/32 + Checkpoint.write
  * }}}
  *
  * Layers outside a workload's own job are still measured on its input
  * (marked "probe" in the table; the second of two runs); the job's
  * layers are the median of `Reps` runs and get their share of the job's
  * summed self time. Then the job
  * itself runs once more under its own span; the spark.* and plans.*
  * metrics come from that span's stages, tasks and executed plans
  * (SparkListener, QueryExecutionListener). Spans stay in memory and are
  * written to `--trace-out` at the end.
  */
object Trace {
  val Reps = 5

  final case class Span(id: Int, name: String, parent: Int, startMs: Long,
      endMs: Long) {
    def seconds: Double = (endMs - startMs) / 1000.0
  }
  final case class StageRec(span: Int, id: Int, name: String, startMs: Long,
      endMs: Long)
  final case class TaskRec(span: Int, stage: Int, durMs: Long, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, spillMem: Long, spillDisk: Long,
      failed: Boolean)

  /** Collects stage/task events and executed plans per span. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    @volatile var current: Int = -1
    private val stageSpan = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val jobs = ArrayBuffer.empty[Int]
    val stages = ArrayBuffer.empty[StageRec]
    val tasks = ArrayBuffer.empty[TaskRec]
    val plans = ArrayBuffer.empty[(Int, QueryExecution)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProperty))).map(_.toInt).getOrElse(current)
      jobs += span
      e.stageIds.foreach(stageSpan.put(_, span))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages += StageRec(stageSpan.getOrElse(i.stageId, current), i.stageId,
        i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = Option(e.taskMetrics)
      tasks += TaskRec(stageSpan.getOrElse(e.stageId, current), e.stageId,
        e.taskInfo.duration,
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        m.map(_.memoryBytesSpilled).getOrElse(0L),
        m.map(_.diskBytesSpilled).getOrElse(0L),
        e.reason != Success)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { plans += current -> qe }
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  val SpanProperty = "perfbench.span"

  /** Stage/task/plan totals of one span. */
  final case class Totals(jobs: Int, shuffleWrite: Long, shuffleRead: Long,
      spillMem: Long, spillDisk: Long, taskMaxS: Double, taskMedianS: Double,
      cpuS: Double, failedTasks: Int, exchanges: Int, sorts: Int,
      asofMatched: Long) {
    def skew: Double = if (taskMedianS > 0) taskMaxS / taskMedianS else 0.0
  }

  object PlanWalk extends AdaptiveSparkPlanHelper

  def totals(rec: Recorder, span: Int): Totals = rec.synchronized {
    val ts = rec.tasks.filter(_.span == span)
    // slowest stage: the one holding the longest task
    val byStage = ts.groupBy(_.stage).values.map(_.map(_.durMs / 1000.0).toSeq)
    val slowest = if (byStage.isEmpty) Seq(0.0) else byStage.maxBy(_.max)
    val plans = rec.plans.filter(_._1 == span).map(_._2.executedPlan)
    Totals(
      jobs = rec.jobs.count(_ == span),
      shuffleWrite = ts.map(_.shuffleWrite).sum,
      shuffleRead = ts.map(_.shuffleRead).sum,
      spillMem = ts.map(_.spillMem).sum,
      spillDisk = ts.map(_.spillDisk).sum,
      taskMaxS = slowest.max,
      taskMedianS = Stats.median(slowest),
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      failedTasks = ts.count(_.failed),
      exchanges = plans.map(p =>
        PlanWalk.collect(p) { case e: ShuffleExchangeExec => e }.size).sum,
      sorts = plans.map(p => PlanWalk.collect(p) { case s: SortExec => s }.size).sum,
      asofMatched = plans.map(p => PlanWalk.collect(p) {
        case a: AsOfJoinExec => a.metrics("numMatchedRows").value
      }.sum).sum)
  }

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** (layer, prefix, parent prefix) of the chain; the checkpoint layers
    * write the workload's own output.
    */
  def layers(w: Workload): Seq[(String, String, Option[String])] = Seq(
    ("io.scan", "scan", None),
    ("compile.gate", "gate", Some("scan")),
    ("compile.report", "report", Some("gate")),
    ("features.window", "window", Some("gate")),
    ("features.sessionize", "sessionize", Some("window")),
    ("features.asof", "full", Some("sessionize")),
    ("io.checkpoint.write", "write", Some(w.outputPrefix)),
    ("io.checkpoint.resume", "resume", None))

  def run(conf: Bench.Conf): Map[String, Any] = {
    val w = conf.workload
    val (spark, _) = Bench.setUp(conf, conf.cores, conf.in)
    val sc = spark.sparkContext
    val in = conf.in
    def read: DataFrame = Jobs.read(spark, in)
    val rec = new Recorder
    def listen(on: Boolean): Unit =
      if (on) { sc.addSparkListener(rec); spark.listenerManager.register(rec) }
      else { sc.removeSparkListener(rec); spark.listenerManager.unregister(rec) }
    listen(true)
    val spans = ArrayBuffer.empty[Span]
    val t0 = System.currentTimeMillis
    def span(name: String)(body: => Unit): Span = {
      val id = spans.size + 1
      System.gc()
      PerfbenchBus.drain(sc)
      rec.current = id
      sc.setLocalProperty(SpanProperty, id.toString)
      val start = System.currentTimeMillis
      try body
      finally {
        val end = System.currentTimeMillis
        PerfbenchBus.drain(sc)
        sc.setLocalProperty(SpanProperty, null)
        rec.current = -1
        spans += Span(id, name, 0, start, end)
      }
      spans.last
    }

    val ckpt = s"${conf.work}/trace_checkpoint"
    var writeStats = (Set.empty[Int], 0L)
    var resumeStats = (Set.empty[Int], 0L, 0L)
    var bytesWritten = 0L
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "scan" -> (() => Jobs.noop(read)),
      "gate" -> (() => Jobs.noop(Jobs.gated(read))),
      "report" -> (() => Jobs.noop(Jobs.routed(read))),
      "window" -> (() => Jobs.noop(Jobs.windowed(read))),
      "sessionize" -> (() => Jobs.noop(Jobs.sessionized(read))),
      "full" -> (() => Jobs.noop(Jobs.features(read))),
      "write" -> { () =>
        writeStats = Jobs.checkpointWrite(w.output(read), in, ckpt, "write")
      },
      "resume" -> { () => resumeStats = Jobs.resume(() => w.output(read), in, ckpt) })
    // the job's own prefixes run Reps times (median); probes run twice and
    // keep the second, warm run
    val layers = Trace.layers(w)
    val inJob = layers.collect { case (l, p, _) if w.jobLayers.contains(l) => p }.toSet
    val runs = ArrayBuffer.empty[(String, Span)]
    for (rep <- 1 to Reps; (name, body) <- prefixes if rep <= 2 || inJob(name)) {
      if (name == "write") Files.delete(ckpt)
      runs += name -> span(s"prefix:$name")(body())
      if (name == "write") bytesWritten = Files.bytes(ckpt)
    }
    // tracing overhead: the same job untraced (median of 3), then traced
    listen(false)
    val untraced = Bench.timeLoop(0, 3) { () =>
      Bench.evaluate(conf, spark, in, conf.out)
    }
    listen(true)
    val gc0 = gcSeconds()
    val jobSpan = span(s"job:${w.name}")(Bench.evaluate(conf, spark, in, conf.out))
    val gcS = gcSeconds() - gc0
    val job = totals(rec, jobSpan.id)

    // data-side counts, outside every span
    val rows = read.count().toDouble
    val invalid = Jobs.gated(read).filter(col("n_errors") > 0).count()
    val obsIn = read.filter(col("tool").isNotNull)
    val obsInRows = obsIn.count()
    val obsOutRows = obsIn.groupBy("conv_id", "ts").count().count()
    if (!w.timedRunWritesOutput) w.run(spark, in, conf.out, write = true)

    val median: Map[String, Double] = runs.groupBy(_._1).map { case (k, v) =>
      k -> (if (inJob(k)) Stats.median(v.map(_._2.seconds).toSeq) else v.last._2.seconds)
    }
    val last: Map[String, Span] = runs.groupBy(_._1).map { case (k, v) => k -> v.last._2 }
    val self: Map[String, Double] = layers.map { case (layer, p, parent) =>
      layer -> (median(p) - parent.map(median).getOrElse(0.0))
    }.toMap
    val untracedWall = untraced.median
    val (promoted, _) = writeStats
    val (_, lostRows, processedRows) = resumeStats

    printTable(w, layers, self, last, rec, untracedWall, jobSpan.seconds)

    val m = Seq[(String, Double, String)](
      ("io.scan.s", self("io.scan"), "s"),
      ("compile.gate.s", self("compile.gate"), "s"),
      ("compile.report.s", self("compile.report"), "s"),
      ("compile.gate.invalid_share", invalid / rows, "ratio"),
      ("features.window.s", self("features.window"), "s"),
      ("features.sessionize.s", self("features.sessionize"), "s"),
      ("features.asof.s", self("features.asof"), "s"),
      ("features.asof.obs_rows_in", obsInRows.toDouble, "rows"),
      ("features.asof.obs_rows_out", obsOutRows.toDouble, "rows"),
      ("plans.asof.matched_rows", job.asofMatched.toDouble, "rows"),
      ("plans.exchanges", job.exchanges.toDouble, "count"),
      ("plans.sorts", job.sorts.toDouble, "count"),
      ("io.checkpoint.write_s", self("io.checkpoint.write"), "s"),
      ("io.checkpoint.resume_s", self("io.checkpoint.resume"), "s"),
      ("io.checkpoint.bytes_written", bytesWritten.toDouble, "bytes"),
      ("io.checkpoint.buckets_promoted", promoted.size.toDouble, "count"),
      ("io.checkpoint.resume_recompute_ratio",
        if (lostRows > 0) processedRows.toDouble / lostRows else 0.0, "ratio"),
      ("spark.jobs", job.jobs.toDouble, "count"),
      ("spark.shuffle.write_bytes", job.shuffleWrite.toDouble, "bytes"),
      ("spark.shuffle.read_bytes", job.shuffleRead.toDouble, "bytes"),
      ("spark.spill.disk_bytes", job.spillDisk.toDouble, "bytes"),
      ("spark.spill.memory_bytes", job.spillMem.toDouble, "bytes"),
      ("spark.task.max_s", job.taskMaxS, "s"),
      ("spark.task.median_s", job.taskMedianS, "s"),
      ("spark.task.skew", job.skew, "ratio"),
      ("spark.cpu_util", job.cpuS / (jobSpan.seconds * conf.cores), "ratio"),
      ("spark.gc_s", gcS, "s"),
      ("spark.tasks.failed", job.failedTasks.toDouble, "count"),
      ("trace.overhead_s", jobSpan.seconds - untracedWall, "s"))

    writeSpans(conf.traceOut, spans.toSeq, rec, t0)
    Map(
      "workload" -> w.name,
      "attempted" -> (untraced.attempted + runs.size + 1),
      "failed" -> untraced.failed,
      "turns" -> rows.toLong,
      "output" -> conf.out,
      "metrics" -> m.map { case (k, v, u) => k -> Stats.metric(v, u) }.toMap,
      "env" -> Stats.env(conf.cores))
  }

  private def printTable(w: Workload, layers: Seq[(String, String, Option[String])],
      self: Map[String, Double], last: Map[String, Span], rec: Recorder,
      wall: Double, tracedWall: Double): Unit = {
    val jobSelf = w.jobLayers.map(self).sum
    println(f"[${w.name}] per-layer self time (prefix time minus its " +
      f"parent's; job layers: median of $Reps runs, probes: warm run); job layers sum to " +
      f"$jobSelf%.3f s, untraced job median $wall%.3f s")
    println(f"  ${"layer"}%-22s ${"self_s"}%8s ${"share"}%7s ${"shuffle_B"}%12s " +
      f"${"spill_B"}%10s ${"task_skew"}%9s")
    layers.foreach { case (layer, p, parent) =>
      val t = totals(rec, last(p).id)
      val tp = parent.map(q => totals(rec, last(q).id))
      val shuffle = t.shuffleWrite - tp.map(_.shuffleWrite).getOrElse(0L)
      val spill = t.spillDisk + t.spillMem -
        tp.map(x => x.spillDisk + x.spillMem).getOrElse(0L)
      val share =
        if (w.jobLayers.contains(layer)) f"${100 * self(layer) / jobSelf}%6.1f%%"
        else "  probe"
      println(f"  $layer%-22s ${self(layer)}%8.3f $share%7s $shuffle%12d " +
        f"$spill%10d ${t.skew}%9.2f")
    }
    println(f"  tracing overhead: traced job $tracedWall%.3f s - untraced " +
      f"median $wall%.3f s = ${tracedWall - wall}%.3f s")
  }

  private def writeSpans(path: String, spans: Seq[Span], rec: Recorder,
      t0: Long): Unit = {
    val stageSpans = rec.synchronized(rec.stages.toSeq).map { s =>
      Map("name" -> s"stage ${s.id}: ${s.name}", "parent" -> s.span,
        "start_ms" -> (s.startMs - t0), "end_ms" -> (s.endMs - t0))
    }
    val root = Map("id" -> 0, "name" -> "trace", "parent" -> -1,
      "start_ms" -> 0L, "end_ms" -> spans.map(_.endMs - t0).max)
    val all = Seq(root) ++ spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> (s.startMs - t0),
      "end_ms" -> (s.endMs - t0))) ++ stageSpans
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, Json(all))
  }
}
