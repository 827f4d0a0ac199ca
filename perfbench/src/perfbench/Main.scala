package perfbench

import java.nio.file.{Files, Paths}

import graft.FixtureGuard
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload on a `local[cores]`
  * session and writes its raw records (`raw.json`, plus `trace.json`
  * when traced) into `--out`. `perfbench/run.py` builds this, launches
  * it, checks the outputs and does the accounting.
  *
  * Usage: perfbench.Main --workload query_mix|pubsub --seed N --seconds S
  *   --trace 0|1 --data SF_DIR --out DIR --cores N [--ops a,b,c] */
object Main {
  private def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this process (Linux `VmHWM`), in MB. */
  private def peakRssMb(): Option[Double] =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024)
    } catch { case _: java.io.IOException => None }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val sfDir = opt("data")
    val out = opt("out")
    val cores = opt("cores").toInt

    val rec = new Recorder
    rec.mark("main")
    rec.put("loadavg_start", loadavg())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config(graft.log.DirectCommitProtocol.Key, graft.log.DirectCommitProtocol.Value)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.mark("session")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())

    val fixture = FixtureGuard.observe(spark, sfDir)
    rec.put("provenance", Map(
      "cores" -> cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "bypass_merge_threshold" -> spark.sparkContext.getConf
        .getOption("spark.shuffle.sort.bypassMergeThreshold"),
      "fs_file_impl" -> Option(spark.sparkContext.hadoopConfiguration.get("fs.file.impl")),
      "fixture" -> fixture.map { case (t, (mtime, schema)) =>
        t -> Map("mtime" -> mtime, "schema" -> schema) },
      "fixture_drift" -> FixtureGuard.check(fixture)))
    rec.mark("fixture")

    val work = Files.createDirectories(Paths.get(out, "work")).toString
    try workload match {
      case "query_mix" =>
        QueryMix.run(spark, sfDir, opt("ops").split(",").toSeq, seconds,
          Files.createDirectories(Paths.get(out, "dump")).toString, rec)
      case "pubsub" =>
        PubSub.run(spark, sfDir, seed, seconds, work, rec)
      case other => sys.error(s"unknown workload $other")
    } finally {
      tracer.foreach { t =>
        t.drainAndUninstall()
        Files.writeString(Paths.get(out, "trace.json"), Recorder.json.writeValueAsString(t.records))
      }
      rec.put("loadavg_end", loadavg())
      rec.put("peak_rss_mb", peakRssMb())
      Files.writeString(Paths.get(out, "raw.json"), Recorder.json.writeValueAsString(rec.toMap))
      spark.stop()
    }
  }
}
