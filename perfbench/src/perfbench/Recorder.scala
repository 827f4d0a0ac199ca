package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Raw records of one run: every op with its phase timings and the
  * timeline marks. All times are epoch milliseconds from [[Clock]].
  * Accounting happens outside the JVM. */
final class Recorder {
  private val ops = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val marks = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val extra = new java.util.concurrent.ConcurrentHashMap[String, Any]()

  def mark(name: String): Unit = marks.put(name, Clock.nowMs): Unit
  def put(key: String, value: Any): Unit = extra.put(key, value): Unit

  /** One op: `phases` are (name, t0, t1) in run order; a thrown op
    * carries its error and whatever phases it finished. */
  def op(rec: Map[String, Any]): Unit = ops.add(rec): Unit

  def toMap: Map[String, Any] = extra.asScala.toMap ++ Map(
    "marks" -> marks.asScala.toMap,
    "ops" -> ops.asScala.toSeq)
}

object Recorder {
  /** Writes the raw records as JSON. Options become their value or null;
    * a non-finite double is written bare (NaN), which Python's json reads. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()
}

/** Runs one op as named phases, timing each and recording the op even
  * when a phase throws. */
final class OpTimer(val id: String) {
  private val phases = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
  val t0: Double = Clock.nowMs

  def phase[T](name: String)(body: => T): T = {
    val s = Clock.nowMs
    try body
    finally phases += Map("name" -> name, "t0" -> s, "t1" -> Clock.nowMs)
  }

  def record(kind: String, error: Option[Throwable], attrs: Map[String, Any] = Map.empty): Map[String, Any] =
    Map("id" -> id, "kind" -> kind, "t0" -> t0, "t1" -> Clock.nowMs,
      "phases" -> phases.toSeq, "ok" -> error.isEmpty,
      "error" -> error.map(e => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")) ++ attrs
}
