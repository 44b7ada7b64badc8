package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One run's settings, as `run.py` passes them. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, seconds: Int,
    trace: Boolean, smoke: Boolean, tasks: TaskTotals) {
  def dir(name: String): Path = {
    val d = work.resolve(name); Files.createDirectories(d); d
  }
}

/** A metric as printed: value and unit. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def apply(name: String, unit: String, value: Double): Unit = m(name) = (value, unit)
  def json: String = m.map { case (k, (v, u)) =>
    s""""$k": {"value": ${Main.num(v)}, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}

final case class Outcome(attempted: Long, failed: Long, e2e: Metrics, layers: Metrics)

/** Benchmark JVM entry point: `graftbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> [--smoke]`. Prints the
  * environment as one JSON line, then the result as the last line.
  */
object Main {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val smoke = args.contains("--smoke")
    // Two task threads leave the other cores to the driver, the JIT and the
    // GC. With a task thread per core, a trigger waits on whichever core the
    // JIT or another tenant of the host took, and drain times spread twice
    // as wide from run to run.
    val cpus = sys.env.get("PERFBENCH_TASK_THREADS").map(_.trim.toInt)
      .getOrElse(math.min(2, Runtime.getRuntime.availableProcessors))
    val (load0, ticks0) = (Env.loadAvg(), Env.cpuTicks())
    val spark = session(work, cpus)
    val tasks = new TaskTotals
    if (trace) spark.sparkContext.addSparkListener(tasks)
    val ctx = Ctx(spark, work, seed, seconds, trace, smoke, tasks)
    val out = workload match {
      case "cdc_backlog"   => CdcWorkloads.backlog(ctx)
      case "cdc_live"      => CdcWorkloads.live(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    println(Env.json(spark, work, cpus, load0, Env.loadAvg(), ticks0))
    spark.stop()
    // a traced run also prints its end-to-end figures, so the cost of
    // tracing can be read against an untraced run
    if (trace) println(s"""{"traced_e2e": ${out.e2e.json}}""")
    val metrics = if (trace) out.layers else out.e2e
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": ${metrics.json}}""")
  }
}
