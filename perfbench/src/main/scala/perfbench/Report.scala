package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One reported figure. */
final case class Metric(name: String, value: Double, unit: String)

/** What one benchmark invocation found.
  *
  * @param attempted operations attempted in the measured window
  * @param failed    operations that errored, timed out or produced a
  *                  wrong output (a failed output check fails every
  *                  execution of that operation)
  * @param mismatches human-readable output-check failures
  * @param endToEnd  metrics reported with tracing off
  * @param layers    metrics reported with tracing on
  * @param detail    everything else worth keeping (tails, per-op records,
  *                  spans), written to the run's detail file
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    mismatches: Seq[String],
    endToEnd: Seq[Metric],
    layers: Seq[Metric],
    detail: Map[String, Any])

object Report {
  private val mapper = new ObjectMapper()

  /** Converts Scala values to the Java collections Jackson writes. */
  def toJava(v: Any): Any = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case r: Stats.Ratio =>
      val out = new java.util.LinkedHashMap[String, Any]()
      out.put("value", r.value); out.put("num", r.num); out.put("den", r.den)
      out
    case p: Product if p.productArity > 0 && !p.isInstanceOf[Option[_]] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      p.productElementNames.zip(p.productIterator).foreach { case (k, x) => out.put(k, toJava(x)) }
      out
    case Some(x) => toJava(x)
    case None => null
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  def json(v: Any): String = mapper.writeValueAsString(toJava(v))

  /** The result line: metrics for the requested view, by name. */
  def resultLine(o: Outcome, trace: Boolean): String = {
    val metrics = (if (trace) o.layers else o.endToEnd).map { m =>
      m.name -> Map("value" -> m.value, "unit" -> m.unit)
    }
    json(scala.collection.immutable.ListMap(
      "correct" -> (o.mismatches.isEmpty && o.failed == 0),
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))
  }

  def writeDetail(file: Path, o: Outcome): Unit = {
    Files.createDirectories(file.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(file.toFile, toJava(
      scala.collection.immutable.ListMap(
        "attempted" -> o.attempted, "failed" -> o.failed, "mismatches" -> o.mismatches,
        "end_to_end" -> o.endToEnd, "per_layer" -> o.layers) ++ o.detail))
  }
}
