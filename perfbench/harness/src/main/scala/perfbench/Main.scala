package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark JVM entry point. Runs one workload and writes its result as
  * JSON to `--out`; `run.py` builds the harness, prepares a fresh working
  * directory and launches this with the engine build's java options.
  */
object Main {
  val Workloads: Seq[String] = Seq("batch-floor", "batch-heavy", "serve-mixed")

  /** Reads the flat `{"entry": "digest", ...}` file of recorded digests. */
  def readDigests(path: String): Map[String, String] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val recorded = cfg.digests.map(readDigests).getOrElse(Map.empty)
    val result = cfg.workload match {
      case "batch-floor" => Batch.run(cfg, Batch.Floor, recorded)
      case "batch-heavy" => Batch.run(cfg, Batch.Heavy, recorded)
      case "serve-mixed" => Serve.run(cfg)
      case other => sys.error(s"unknown workload $other; expected one of ${Workloads.mkString(", ")}")
    }
    result.write(cfg.out, cfg.trace)
    // the serving pool and Spark's non-daemon threads would keep the JVM up
    sys.exit(0)
  }
}
