package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, closed loop (one job at a time)
  * over inputs the wrapper script generated under `--work`.
  *
  * Untraced (`--trace 0`): [[SetupRounds]] rounds, each of which sets up
  * at local[cores] (session start + warm-up evaluation, timed as set-up),
  * times evaluations of the full table, then restarts at local[1] and
  * times the separately generated quarter-size table (weak scaling). The
  * timed loops share `--seconds` equally; medians are reported. Traced
  * (`--trace 1`): see [[Trace]].
  *
  * Prints human-readable lines, then one `PERFBENCH_RESULT {json}` line
  * that the wrapper script merges with its output check.
  */
object Bench {
  /** Set-ups per untraced run; `setup_s` is their median. */
  val SetupRounds = 3

  final case class Conf(
      workload: Workload,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: String,
      cores: Int,
      traceOut: String) {
    val in: String = s"$work/input"
    val inQuarter: String = s"$work/input_quarter"
    val out: String = s"$work/output"
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(
      workload = Workload(kv("workload")),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble,
      trace = kv("trace") == "1",
      work = kv("work"),
      cores = kv("cores").toInt,
      traceOut = kv("trace-out"))
    val result = if (conf.trace) Trace.run(conf) else untraced(conf)
    Session.stop()
    println("PERFBENCH_RESULT " + Json(result))
  }

  /** Starts a session at local[cores] and runs one warm-up evaluation. */
  def setUp(conf: Conf, cores: Int, input: String): (SparkSession, Double) = {
    val t0 = System.nanoTime
    val spark = Session.start(cores, conf.work)
    evaluate(conf, spark, input, s"${conf.work}/warmup_output")
    (spark, (System.nanoTime - t0) / 1e9)
  }

  /** One job evaluation (after its untimed preparation); `out` only
    * receives the output of workloads whose job is itself a write.
    */
  def evaluate(conf: Conf, spark: SparkSession, input: String, out: String): Unit = {
    conf.workload.prepare(out)
    conf.workload.run(spark, input, out, write = false)
  }

  final case class Samples(times: Seq[Double], failed: Int) {
    def attempted: Int = times.size + failed
    def median: Double = Stats.median(times)
  }

  /** Closed loop: evaluate until `budget` seconds are spent (at least
    * `minN` attempts); GC and per-evaluation preparation stay untimed.
    */
  def timeLoop(budget: Double, minN: Int)(eval: () => Unit): Samples = {
    val times = ArrayBuffer.empty[Double]
    var failed = 0
    val t0 = System.nanoTime
    def spent = (System.nanoTime - t0) / 1e9
    while (times.size + failed < minN || spent < budget) {
      System.gc()
      val a = System.nanoTime
      try {
        eval()
        times += (System.nanoTime - a) / 1e9
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"evaluation failed: $e")
      }
    }
    Samples(times.toSeq, failed)
  }

  private def untraced(conf: Conf): Map[String, Any] = {
    val w = conf.workload
    val outQ = s"${conf.work}/output_quarter"
    val phase = conf.seconds / (2 * SetupRounds)
    var turns, turnsQ = 0L
    // Each round: set up at local[cores] (timed as set-up), time the full
    // table, then restart at local[1] and time the quarter table. Rounds
    // alternate the two sides so a slow spell of the machine lands on both.
    val rounds = (1 to SetupRounds).map { r =>
      Session.stop()
      val (spark, setup) = setUp(conf, conf.cores, conf.in)
      val full = timeLoop(phase, 1)(() => evaluate(conf, spark, conf.in, conf.out))
      if (r == 1) {
        turns = spark.read.parquet(conf.in).count()
        if (!w.timedRunWritesOutput) w.run(spark, conf.in, conf.out, write = true)
      }

      Session.stop()
      val (spark1, _) = setUp(conf, 1, conf.inQuarter)
      val quarter = timeLoop(phase, 1)(() => evaluate(conf, spark1, conf.inQuarter, outQ))
      if (r == 1) turnsQ = spark1.read.parquet(conf.inQuarter).count()
      (setup, full, quarter)
    }
    val setups = rounds.map(_._1)
    val full = Samples(rounds.flatMap(_._2.times), rounds.map(_._2.failed).sum)
    val quarter = Samples(rounds.flatMap(_._3.times), rounds.map(_._3.failed).sum)

    val wall = full.median
    val wall1 = quarter.median
    val metrics = Map(
      "turns_per_s" -> Stats.metric(turns / wall, "turns/s"),
      "wall_s" -> Stats.metric(wall, "s"),
      "scaling_eff_1to4" -> Stats.metric(wall1 / wall, "ratio"),
      "setup_s" -> Stats.metric(Stats.median(setups), "s"),
      "peak_rss_mb" -> Stats.metric(Stats.peakRssMb(), "MB"))
    println(f"[${w.name}] turns=$turns quarter_turns=$turnsQ " +
      f"local[${conf.cores}] n=${full.times.size} median=$wall%.4f s " +
      f"q1=${Stats.quantile(full.times, 0.25)}%.4f q3=${Stats.quantile(full.times, 0.75)}%.4f; " +
      f"local[1] n=${quarter.times.size} median=$wall1%.4f s; " +
      f"setup rounds=${setups.map(s => f"$s%.3f").mkString(",")}")
    println(s"  samples local[${conf.cores}]: ${full.times.map(t => f"$t%.3f").mkString(" ")}")
    println(s"  samples local[1]: ${quarter.times.map(t => f"$t%.3f").mkString(" ")}")
    Map(
      "workload" -> w.name,
      "attempted" -> (full.attempted + quarter.attempted),
      "failed" -> (full.failed + quarter.failed),
      "turns" -> turns,
      "output" -> conf.out,
      "metrics" -> metrics,
      "env" -> Stats.env(conf.cores))
  }
}

object Session {
  /** The engine configuration of `graft.GraftSession.builder`, with the
    * scratch and shuffle directories moved under the benchmark's work dir.
    */
  def start(cores: Int, work: String): SparkSession = {
    val local = s"$work/spark-local"
    new java.io.File(local).mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cores, 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 << 20).toString)
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def active: SparkSession = SparkSession.active

  def stop(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def metric(v: Double, unit: String): Map[String, Any] =
    Map("value" -> v, "unit" -> unit)

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def env(cores: Int): Map[String, Any] = Map(
    "cores" -> cores,
    "jvm" -> System.getProperty("java.runtime.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
}

/** Minimal JSON writer for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
