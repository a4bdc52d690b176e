package perfbench

/** Command line of the benchmark JVM. `run.py` fills every field. */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    data: String,
    out: String,
    spans: String,
    digests: Option[String])

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Config(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      data = need("data"),
      out = need("out"),
      spans = need("spans"),
      digests = kv.get("digests"))
  }
}
