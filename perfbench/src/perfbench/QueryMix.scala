package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Closed loop, one client: registry rows from `SparkEntry.queries`, each
  * timed from outside as `entry.build` (the registry fn builds the
  * DataFrame) then `entry.materialize` (the noop write).
  *
  * Set-up runs every row once and writes its result the way
  * `graft.Verify` does, so the output can be checked against the DuckDB
  * oracle; that pass is also the warm-up. The measured window then runs
  * the rows in the given order, round and round, until `seconds` have
  * elapsed; the query running then completes. */
object QueryMix {
  def run(spark: SparkSession, sfDir: String, names: Seq[String], seconds: Double,
          dumpDir: String, rec: Recorder): Unit = {
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown registry rows: ${unknown.mkString(", ")}")

    names.foreach { n =>
      val t = new OpTimer(s"$n#setup")
      OpTag.set(spark, t.id)
      val err =
        try {
          val df = t.phase("entry.build")(registry(n)(spark, sfDir))
          t.phase("entry.materialize")(
            df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$n"))
          None
        } catch { case NonFatal(e) => Some(e) }
      rec.op(t.record("setup", err, Map("op" -> n)))
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(dumpDir, "oracle_sql.json"), Recorder.json.writeValueAsString(oracles))
    rec.mark("ready")

    rec.mark("measure_start")
    val start = Clock.nowMs
    var i = 0
    while (Clock.nowMs - start < seconds * 1000) {
      val n = names(i % names.size)
      val pass = i / names.size
      val t = new OpTimer(s"$n#$pass")
      OpTag.set(spark, t.id)
      val err =
        try {
          val df = t.phase("entry.build")(registry(n)(spark, sfDir))
          t.phase("entry.materialize")(df.write.format("noop").mode("overwrite").save())
          None
        } catch { case NonFatal(e) => Some(e) }
      rec.op(t.record("query", err, Map("op" -> n, "pass" -> pass)))
      i += 1
    }
    OpTag.set(spark, null)
    rec.mark("measure_end")
  }
}
