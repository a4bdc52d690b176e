package perfbench

import scala.collection.immutable.ListMap

/** The metrics every workload reports, by name and unit, in the order of
  * `BENCHMARK.json`. Every workload measures every one, so their runs line
  * up: a layer a workload does not use reads 0 there (no Spark job in a
  * serving pass, no HTTP response in a batch pass), which is what it
  * measured. Per-layer times that would read 0 on some workload are
  * reported as shares of the pass's wall time instead.
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "cold_pass_s" -> "s",
    "warm_pass_s" -> "s",
    "op_p50_ms" -> "ms",
    "live_heap_mb" -> "MiB")

  val PerLayer: Seq[(String, String)] = Seq(
    "queries.build_share" -> "ratio",
    "queries.build_jobs" -> "count",
    "catalyst.plan_share" -> "ratio",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.no_job_share" -> "ratio",
    "spark.slot_busy_ratio" -> "ratio",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.peak_exec_mem_bytes" -> "bytes",
    "spark.worst_stage_skew" -> "ratio",
    "spark.output_bytes" -> "bytes",
    "memo.persisted_rdds" -> "count",
    "memo.storage_bytes" -> "bytes",
    "api.response_bytes" -> "bytes",
    "jvm.cpu_ms" -> "ms",
    "jvm.gc_ms" -> "ms",
    "jvm.peak_rss_mb" -> "MiB")

  /** The figures one pass contributes, keyed by per-layer metric name. */
  type PassLayers = Map[String, Double]

  /** Per-pass figures that do not depend on the workload: the pass's wall
    * time and the process CPU and collector time it used.
    */
  final class PassClock {
    private val t0 = System.nanoTime()
    private val epochMs0 = System.currentTimeMillis()
    private val cpu0 = Process.cpuNs()
    private val gc0 = Process.gcMs()
    val startMs: Long = epochMs0

    /** Stops the clock: wall seconds, and the JVM's layer figures. */
    def stop(): (Double, PassLayers) = {
      val secs = (System.nanoTime() - t0) / 1e9
      (secs, Map("jvm.cpu_ms" -> (Process.cpuNs() - cpu0) / 1e6, "jvm.gc_ms" -> (Process.gcMs() - gc0).toDouble))
    }
  }

  /** The Spark figures of one pass from its listener windows, `wallMs` long,
    * of which `noJobMs` had no job running.
    */
  def sparkLayers(ws: Seq[LayerListener.Window], wallMs: Double, noJobMs: Double, cpus: Int): PassLayers = {
    val t = ws.map(_.totals)
    Map(
      "spark.jobs" -> ws.map(_.jobCount).sum.toDouble,
      "spark.stages" -> t.map(_.stages).sum.toDouble,
      "spark.tasks" -> t.map(_.tasks).sum.toDouble,
      "spark.no_job_share" -> noJobMs / wallMs,
      "spark.slot_busy_ratio" -> t.map(_.taskRunMs).sum / (wallMs * cpus),
      "spark.shuffle_read_bytes" -> t.map(_.shuffleReadBytes).sum.toDouble,
      "spark.shuffle_write_bytes" -> t.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> t.map(_.spillBytes).sum.toDouble,
      "spark.peak_exec_mem_bytes" -> t.map(_.peakExecMemBytes).foldLeft(0L)(math.max).toDouble,
      "spark.worst_stage_skew" -> ws.map(_.worstSkew).foldLeft(1.0)(math.max),
      "spark.output_bytes" -> t.map(_.outputBytes).sum.toDouble)
  }

  /** The per-layer result: the median over warm passes of each pass's
    * figure, except what is written (the cold pass, which starts from
    * empty index roots), the memos (after the last pass) and the resident
    * high-water mark.
    */
  def perLayer(cold: PassLayers, warm: Seq[PassLayers], persistedRdds: Int, storageBytes: Long,
               peakRssMb: Double): ListMap[String, (Double, String)] = {
    val fixed = Map(
      "spark.output_bytes" -> cold("spark.output_bytes"),
      "memo.persisted_rdds" -> persistedRdds.toDouble,
      "memo.storage_bytes" -> storageBytes.toDouble,
      "jvm.peak_rss_mb" -> peakRssMb)
    ListMap(PerLayer.map { case (k, unit) =>
      k -> (fixed.getOrElse(k, Stats.median(warm.map(p =>
        p.getOrElse(k, sys.error(s"pass figures lack $k"))))), unit)
    }: _*)
  }

  def endToEnd(values: Map[String, Double]): ListMap[String, (Double, String)] =
    ListMap(EndToEnd.map { case (k, unit) => k -> (values(k), unit) }: _*)
}
