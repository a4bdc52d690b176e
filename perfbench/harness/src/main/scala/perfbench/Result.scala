package perfbench

import scala.collection.immutable.ListMap

/** What one benchmark JVM reports back to `run.py`. `metrics` holds the
  * end-to-end metrics in an untraced run and the per-layer ones in a
  * traced run; `endToEnd` is always the end-to-end set, so a traced run can
  * be compared with untraced ones to show the tracing overhead.
  */
final case class Result(
    attempted: Long,
    failed: Long,
    errors: Seq[String],
    endToEnd: ListMap[String, (Double, String)],
    perLayer: ListMap[String, (Double, String)],
    details: ListMap[String, Any]) {

  def write(path: String, traced: Boolean): Unit = {
    require(endToEnd.toSeq.map { case (k, (_, u)) => k -> u } == Metrics.EndToEnd,
      s"end-to-end metrics ${endToEnd.keys.mkString(", ")} differ from Metrics.EndToEnd")
    if (traced) require(perLayer.toSeq.map { case (k, (_, u)) => k -> u } == Metrics.PerLayer,
      s"per-layer metrics ${perLayer.keys.mkString(", ")} differ from Metrics.PerLayer")
    def ms(m: ListMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
    Json.write(path, ListMap(
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.take(20),
      "metrics" -> ms(if (traced) perLayer else endToEnd),
      "end_to_end" -> ms(endToEnd),
      "details" -> details))
  }
}
