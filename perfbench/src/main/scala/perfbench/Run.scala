package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run shares: the session, the corpus, the
  * per-run scratch directory, the tracer and the result being built. */
final class Run(val spark: SparkSession, val corpus: String, val scratch: File,
    val cores: Int, val seed: Long, val tracer: Tracer) {
  /** End-to-end metrics (printed with `--trace 0`). */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (printed with `--trace 1`). */
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Failed or wrong operations, by name, with the reason. */
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0L

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)

  /** Counts one operation; a thrown error or a `Some(reason)` from the
    * check counts it as failed under `name`. */
  def attempt[A](name: String)(op: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    try {
      val a = op
      check(a) match {
        case Some(why) => failures += (name -> why); None
        case None => Some(a)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        failures += (name -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** Drops every cached or checkpointed block, blocking, so one query's
    * state never overlaps the next query's peak. */
  def quiesce(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def dir(name: String): File = { val d = new File(scratch, name); d.mkdirs(); d }
}

object Stats {
  /** Linear-interpolated quantile, `p` in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
}

/** JSON of the run records and the fingerprint file, through Jackson's
  * Scala module; an object is a `ListMap`, so its keys keep their order. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def pretty(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)
  def read(f: File): JsonNode = mapper.readTree(f)
}
