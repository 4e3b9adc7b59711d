package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A workload: the job one timed evaluation runs over its input. */
sealed trait Workload {
  def name: String
  /** Work done outside the timed region before each evaluation. */
  def prepare(out: String): Unit = ()
  /** Whether the timed evaluations already write the checked output. */
  def timedRunWritesOutput: Boolean = false
  /** Runs the job once. The output is forced into the noop sink, or with
    * `write` written as parquet under `out` for the output check.
    */
  def run(spark: SparkSession, in: String, out: String, write: Boolean): Unit
  /** The job's output over the input turns. */
  def output(turns: DataFrame): DataFrame
  /** The traced chain's prefix that computes [[output]]. */
  def outputPrefix: String = "full"
  /** Layers of the traced chain that this workload's job runs. */
  def jobLayers: Seq[String]
}

object Workload {
  val FeatureLayers = Seq("io.scan", "compile.gate", "features.window",
    "features.sessionize", "features.asof")

  private final case class Features(name: String) extends Workload {
    def output(turns: DataFrame): DataFrame = Jobs.features(turns)
    def run(spark: SparkSession, in: String, out: String, write: Boolean): Unit = {
      val f = output(Jobs.read(spark, in))
      if (write) f.write.mode("overwrite").parquet(out) else Jobs.noop(f)
    }
    def jobLayers: Seq[String] = FeatureLayers
  }

  private case object GateReport extends Workload {
    val name = "gate_report"
    def output(turns: DataFrame): DataFrame = Jobs.routed(turns)
    override def outputPrefix: String = "report"
    def run(spark: SparkSession, in: String, out: String, write: Boolean): Unit = {
      val r = output(Jobs.read(spark, in))
      if (write) r.write.mode("overwrite").partitionBy("quarantined").parquet(out)
      else Jobs.noop(r)
    }
    def jobLayers: Seq[String] = Seq("io.scan", "compile.gate", "compile.report")
  }

  private case object Backfill extends Workload {
    val name = "backfill"
    override def prepare(out: String): Unit = Files.delete(out)
    /** The checkpointed dataset is the job's output, timed or not. */
    override def timedRunWritesOutput: Boolean = true
    def output(turns: DataFrame): DataFrame = Jobs.features(turns)
    def run(spark: SparkSession, in: String, out: String, write: Boolean): Unit =
      Jobs.backfill(() => output(Jobs.read(spark, in)), in, out)
    def jobLayers: Seq[String] =
      FeatureLayers ++ Seq("io.checkpoint.write", "io.checkpoint.resume")
  }

  val all: Seq[Workload] =
    Seq(Features("uniform"), Features("hotkey"), GateReport, Backfill)

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (one of ${all.map(_.name).mkString(", ")})"))
}

object Files {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder())
          .forEach(x => java.nio.file.Files.delete(x))
      }
  }

  def bytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else scala.util.Using.resource(java.nio.file.Files.walk(p)) { s =>
      s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
    }
  }
}
