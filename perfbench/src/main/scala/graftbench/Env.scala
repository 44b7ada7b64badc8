package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The run environment, printed with every result. */
object Env {
  /** Whole-machine CPU ticks: (steal, total), from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }

  /** The machine's CPU steal since `ticks0`, as a share of all its ticks, in percent. */
  def stealPct(ticks0: (Long, Long)): Double = {
    val ticks1 = cpuTicks()
    100.0 * (ticks1._1 - ticks0._1) / math.max(1L, ticks1._2 - ticks0._2)
  }

  def loadAvg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .split(" ").take(3).mkString(" ")

  /** Filesystem type of the mount holding `p` (longest matching mount point). */
  def fsType(p: Path): String = {
    val abs = p.toAbsolutePath.normalize.toString
    Files.readAllLines(Paths.get("/proc/self/mounts")).asScala
      .map(_.split(" "))
      .filter(f => f.length > 3 && (abs == f(1) || abs.startsWith(f(1).stripSuffix("/") + "/")))
      .sortBy(-_(1).length)
      .headOption.map(f => s"${f(2)} (${f(3)})").getOrElse("unknown")
  }

  private def q(s: String): String = {
    val sb = new java.lang.StringBuilder; PV.str(s, sb); sb.toString
  }

  def json(spark: SparkSession, work: Path, cpus: Int, load0: String, load1: String,
      ticks0: (Long, Long)): String = {
    val conf = spark.conf
    val localDirs = spark.sparkContext.getConf.get("spark.local.dir", "")
    val fields = Seq(
      "cpus" -> Runtime.getRuntime.availableProcessors.toString,
      "task_threads" -> cpus.toString,
      "master" -> q(spark.sparkContext.master),
      "shuffle_partitions" -> q(conf.get("spark.sql.shuffle.partitions")),
      "aqe" -> q(conf.get("spark.sql.adaptive.enabled")),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "jvm" -> q(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "jvm_args" -> q(java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("-X")).mkString(" ")),
      "spark" -> q(spark.version),
      "spark_local_dirs_env" -> q(sys.env.getOrElse("SPARK_LOCAL_DIRS", "")),
      "spark_local_dir" -> q(localDirs),
      "spark_local_dir_fs" -> q(fsType(Paths.get(localDirs))),
      "work_dir_fs" -> q(fsType(work)),
      "graft_env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")).toSeq.sorted
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}"),
      "loadavg_start" -> q(load0),
      "loadavg_end" -> q(load1),
      "cpu_steal_pct" -> f"${stealPct(ticks0)}%.1f")
    fields.map { case (k, v) => s""""$k": $v""" }.mkString("{\"env\": {", ", ", "}}")
  }
}
