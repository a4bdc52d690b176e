package perfbench

import graft.Sessions
import graft.api.{ApiRequest, HttpFacade, QueryApi, StatusApi}
import graft.core.{GraftSession, Limits, Signal}
import graft.graph.GraphTables
import graft.verify.{Canonical, QueryCertificate}
import org.apache.spark.GraftListenerBridge
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** A closed-loop HTTP workload against `HttpFacade` over an in-memory
  * graph built from the events signal log. Spark loads the log and is
  * then off the request path.
  */
object Serve {
  val Clients = 4

  /** Warm passes a run makes at least; more follow until `--seconds` have
    * passed since the cold pass began.
    */
  val MinWarmPasses = 3

  final case class Served(spark: SparkSession, signals: Vector[Signal], session: GraftSession, facade: HttpFacade)

  final case class Sample(
      client: Int, req: Req, pass: Int, startUs: Long, endUs: Long, code: Int, bytes: Int, error: Option[String]) {
    def ms: Double = (endUs - startUs) / 1000.0
  }

  def loadSignals(spark: SparkSession, dir: String): Vector[Signal] =
    GraphTables.validSignals(GraphTables.signalsFromEvents(spark, dir))
      .orderBy("seq").collect()
      .map(r => Signal(r.getLong(1), r.getString(2), r.getString(3))).toVector

  /** The signal log ingested through the session API, in sequences of the
    * largest allowed length.
    */
  def buildSession(signals: Vector[Signal]): GraftSession = {
    val s = new GraftSession()
    signals.grouped(Limits.MaxSequenceLength).foreach { chunk =>
      s.ingestSequence(chunk).fold(e => sys.error(s"ingest failed: ${e.message}"), _ => ())
    }
    s
  }

  def call(port: Int, method: String, path: String, body: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (body != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      os.write(body.getBytes(StandardCharsets.UTF_8)); os.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    (code, text)
  }

  /** None when the response is what the request must get. */
  def check(req: Req, code: Int, text: String): Option[String] =
    if (code != 200) Some(s"HTTP $code: ${text.take(120)}")
    else req match {
      case Req.Query(_, _, expect, absent) =>
        if (!text.contains("\"success\":true")) Some(s"not successful: ${text.take(120)}")
        else if (absent && !(text.contains("\"found\":false") && text.contains("\"diagnostic\":\"entity_not_found\"")))
          Some(s"absent id not reported absent: ${text.take(120)}")
        else expect.filterNot(n => text.contains(s"\"found\":true,\"path\":[$n]"))
          .map(n => s"lookup did not return node $n: ${text.take(120)}")
      case Req.Certify(_, _, absent) =>
        if (!text.contains("\"certificate\":")) Some(s"no certificate: ${text.take(120)}")
        else if (!text.endsWith(s"\"proof_of_absence\":$absent}")) Some(s"proof_of_absence should be $absent")
        else None
      case _: Req.Ingest =>
        if (text.startsWith("{\"success\":true")) None else Some(s"write refused: ${text.take(120)}")
      case Req.Health =>
        if (text.contains("\"healthy\":")) None else Some(s"bad health answer: ${text.take(120)}")
    }

  /** The query a /query or /certify body asks, decoded as the server does. */
  def apiRequest(body: String): ApiRequest = {
    val fs = graft.api.JsonCodec.fields(body)
    def l(k: String) = graft.api.JsonCodec.long(fs, k).get
    fs("type") match {
      case "lookup" => ApiRequest.Lookup(l("entity_id"))
      case "traverse" => ApiRequest.Traverse(l("node_id"), l("depth").toInt)
      case "traverse_filtered" =>
        ApiRequest.TraverseFiltered(l("node_id"), l("depth").toInt, l("min_weight"), Some(l("top_k").toInt))
      case "intersect" => ApiRequest.Intersect(graft.api.JsonCodec.longArray(fs, "nodes").get)
      case "strongest_path" => ApiRequest.StrongestPath(l("start"), l("end"))
      case "properties" => ApiRequest.Properties(l("node_id"))
    }
  }

  def run(cfg: Config): Result = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "1").toInt
    val served = {
      val spark = Sessions.get()
      spark.sparkContext.setLogLevel("ERROR")
      val signals = loadSignals(spark, cfg.data)
      val session = buildSession(signals)
      val facade = new HttpFacade(session)
      facade.start()
      Served(spark, signals, session, facade)
    }
    // set-up: JVM start to a bound server holding the graph
    val setupS = Process.sinceStartS()
    val port = served.facade.boundPort
    val facts = GraphFacts.of(served.session.graph)
    val sc = served.spark.sparkContext
    val tracer = new Tracer(cfg.trace)
    val listener = if (cfg.trace) Some(new LayerListener) else None
    listener.foreach(sc.addSparkListener)

    // transport alone, before any load: GET /health on an idle server
    val idleRtt = if (!cfg.trace) Seq.empty[Double] else (1 to 20).map { _ =>
      val t0 = System.nanoTime(); call(port, "GET", "/health", null); (System.nanoTime() - t0) / 1e6
    }

    def send(client: Int, pass: Int, req: Req): Sample = {
      val s0 = Tracer.nowUs()
      val (code, text, err) =
        try tracer.span(s"req:${req.kind}") {
          val (code, text) = call(port, req.method, req.route, req.body)
          (code, text, check(req, code, text))
        }
        catch { case e: Throwable => (0, "", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      Sample(client, req, pass, s0, Tracer.nowUs(), code, text.length, err.map(e => s"${req.kind}: $e"))
    }

    final case class PassRun(index: Int, seconds: Double, samples: Seq[Sample], layers: Metrics.PassLayers)

    /** One pass: every client sends its script for the pass in a closed
      * loop (its next request when the last is answered); the pass ends
      * when the last client is done.
      */
    def runPass(index: Int): PassRun = {
      val scripts = (0 until Clients).map(c => Mix.pass(cfg.seed, c, index, facts))
      val outs = scripts.map(_ => mutable.ArrayBuffer.empty[Sample])
      val clock = new Metrics.PassClock
      tracer.span(s"pass:$index") {
        val parent = tracer.current
        val threads = scripts.indices.map { c =>
          new Thread(() => tracer.under(parent)(scripts(c).foreach(r => outs(c) += send(c, index, r))),
            s"perfbench-client-$c")
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
      }
      val (secs, jvm) = clock.stop()
      val samples = outs.flatten.toSeq
      val layers = listener.fold(Map.empty[String, Double]) { l =>
        GraftListenerBridge.waitUntilListenerBusEmpty(sc)
        val w = l.take()
        val wallMs = secs * 1000
        jvm ++ Metrics.sparkLayers(Seq(w), wallMs, w.noJobMs(clock.startMs, clock.startMs + wallMs.toLong).toDouble, cpus) ++
          Map("queries.build_share" -> 0.0, "queries.build_jobs" -> 0.0, "catalyst.plan_share" -> 0.0,
            "api.response_bytes" -> samples.map(_.bytes.toDouble).sum)
      }
      PassRun(index, secs, samples, layers)
    }

    val measureStart = System.nanoTime()
    val cold = runPass(0)
    val warm = mutable.ArrayBuffer.empty[PassRun]
    while (warm.size < MinWarmPasses || (System.nanoTime() - measureStart) / 1e9 < cfg.seconds)
      warm += runPass(warm.size + 1)
    val liveHeap = Process.liveHeapMb()
    val all = (cold +: warm.toSeq).flatMap(_.samples)
    val samples = warm.toSeq.flatMap(_.samples)

    // the served state must equal a replay of the accepted writes: writes
    // touch only existing entities, so their order does not matter
    val (hashCode, hashText) = call(port, "GET", "/hash", null)
    val replica = buildSession(served.signals)
    val accepted = all.collect { case Sample(_, w: Req.Ingest, _, _, _, _, _, None) => w }
    accepted.foreach(w => replica.ingestSequence(w.signals))
    val want = StatusApi.hash(replica)
    val hashError =
      if (hashCode == 200 && hashText.contains(s"\"checksum\":${want.checksum},") &&
          hashText.contains(s"\"state_hash\":\"${want.stateHash}\"")) None
      else Some(s"final /hash $hashText != replay checksum ${want.checksum} state_hash ${want.stateHash}")

    val errors = all.flatMap(_.error) ++ hashError
    val warmSecs = warm.map(_.seconds).toSeq
    val endToEnd = Metrics.endToEnd(Map(
      "setup_s" -> setupS,
      "cold_pass_s" -> cold.seconds,
      "warm_pass_s" -> Stats.median(warmSecs),
      "op_p50_ms" -> Stats.median(samples.filter(_.error.isEmpty).map(_.ms)),
      "live_heap_mb" -> liveHeap))

    val perLayer: ListMap[String, (Double, String)] =
      if (!cfg.trace) ListMap.empty
      else Metrics.perLayer(cold.layers, warm.map(_.layers).toSeq, sc.getPersistentRDDs.size,
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum, Process.peakRssMb)

    // in-process layer costs, on a second session identical to the served
    // one, so no timed call bypasses the server's lock
    val layerDetail: ListMap[String, Any] =
      if (!cfg.trace) ListMap.empty
      else {
        def us[A](body: => A): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e3 }
        val reqs = samples.map(_.req)
        def coreUs(kind: String) = Stats.median(reqs.collect { case r: Req.Query if r.kind == kind => r }
          .take(200).map(r => us(QueryApi.execute(replica, apiRequest(r.body)))))
        val certReq = reqs.collectFirst { case r: Req.Certify if !r.absent => apiRequest(r.body) }.get
        val resp = QueryApi.execute(replica, certReq)
        val fromGraph = (1 to 9).map(_ => us(Canonical.fromGraph(replica.graph)) / 1000)
        val canon = Canonical.fromGraph(replica.graph)
        val merkle = (1 to 9).map(_ => us(Canonical.merkleStateHash(canon)) / 1000)
        val stateHash = Canonical.merkleStateHash(canon)
        val artifact = Some(graft.core.Artifact(resp.path, Some(resp.edges).filter(_.nonEmpty)))
        val certBuild = (1 to 9).map(_ => us(QueryCertificate.build(stateHash, QueryApi.descriptor(certReq),
          graft.core.Grounding.Fact, replica.graph, artifact)) / 1000)
        val ingestUs = Stats.median(accepted.take(200).map(b => us(replica.ingestSequence(b.signals))))
        val health = samples.filter(s => s.req == Req.Health && s.error.isEmpty).map(_.ms)
        ListMap("layers" -> ListMap(
          "api.idle_rtt_ms" -> Stats.median(idleRtt),
          "api.health_rtt_ms" -> Stats.median(health),
          "core.lookup_us" -> coreUs("lookup"),
          "core.traverse_us" -> coreUs("traverse"),
          "core.traverse_filtered_us" -> coreUs("traverse_filtered"),
          "core.intersect_us" -> coreUs("intersect"),
          "core.strongest_path_us" -> coreUs("strongest_path"),
          "core.properties_us" -> coreUs("properties"),
          "core.ingest_batch_us" -> ingestUs,
          "verify.from_graph_ms" -> Stats.median(fromGraph),
          "verify.merkle_ms" -> Stats.median(merkle),
          "verify.cert_build_ms" -> Stats.median(certBuild)))
      }

    if (cfg.trace) tracer.write(cfg.spans)
    // per route over the warm passes: the median and the highest tail that
    // leaves Stats.MinBeyond samples beyond it
    val routes = samples.groupBy(_.req.route).toSeq.sortBy(_._1).map { case (route, ss) =>
      val ok = ss.filter(_.error.isEmpty).map(_.ms)
      route -> ListMap[String, Any](
        "samples" -> ss.size,
        "failed" -> ss.count(_.error.nonEmpty),
        "p50_ms" -> (if (ok.isEmpty) None else Some(Stats.median(ok))),
        "mean_ms" -> (if (ok.isEmpty) None else Some(ok.sum / ok.size)),
        "highest_tail" -> Stats.highestTail(ok.size),
        "highest_tail_ms" -> Stats.highestTail(ok.size).map(Stats.percentile(ok, _)),
        "mean_bytes" -> ss.map(_.bytes.toDouble).sum / ss.size)
    }
    val details = ListMap[String, Any](
      "jvm" -> Process.stamp(cpus),
      "peak_rss_mb" -> Process.peakRssMb,
      "graph" -> ListMap("nodes" -> served.session.graph.nodeCount, "edges" -> served.session.graph.edgeCount,
        "signals" -> served.signals.size, "filter_min_weight" -> facts.minWeight),
      "clients" -> Clients,
      "requests_per_pass" -> cold.samples.size,
      "passes" -> (cold +: warm.toSeq).map(p => ListMap("pass" -> p.index, "seconds" -> p.seconds)),
      "throughput_rps" -> samples.size / warmSecs.sum,
      "routes" -> ListMap(routes: _*),
      "kinds" -> ListMap(samples.groupBy(_.req.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
        k -> ListMap("samples" -> ss.size, "p50_ms" -> Stats.median(ss.map(_.ms)))
      }: _*)) ++ layerDetail ++
      (if (cfg.trace) ListMap("spans_file" -> cfg.spans) else ListMap.empty)

    served.facade.stop()
    served.spark.stop()
    Result(all.size.toLong + 1, (all.count(_.error.nonEmpty) + hashError.size).toLong,
      errors, endToEnd, perLayer, details)
  }
}
