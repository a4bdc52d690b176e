package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core._
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.ConcurrentSkipListMap
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.ReentrantReadWriteLock
import scala.jdk.CollectionConverters._

/** HTTP facade over the query engine (api/mod.rs:5-16, 211-246) on the
  * JDK's built-in httpserver — zero external dependencies, matching this
  * environment's constraint. Routes and semantics mirror the reference:
  *
  *   POST /signal, /signals    ingest (sequence), 400 on invalid, 2 MB cap
  *   POST /signal/retract      entity-pair decrement, 404 on missing
  *   POST /query               the query union -> response envelope
  *   POST /certify             query + GQC1 certificate (base64)
  *   POST /export              canonical snapshot, base64 + checksum
  *   GET  /status /stage /hash /metrics /health
  *
  * Middleware, outer to inner as in the reference router
  * (api/mod.rs:186-246): CORS (origins + GET/POST/OPTIONS preflight) ->
  * rate limit (global token bucket, 429, /health exempt) -> Bearer auth
  * (401, /health exempt, raw token also accepted, constant-time compare —
  * auth.rs:37-98). Auth is off when `apiKey` is None and the limiter is
  * off when `rateLimitPerSec` <= 0, matching the reference's
  * enabled-if-configured layers.
  *
  * Concurrency: one ReentrantReadWriteLock around the session — many
  * readers, single writer, exactly the reference's `RwLock<Session>`
  * (api/mod.rs:62-67). JSON in/out is hand-rolled (flat, known shapes).
  *
  * Transport: Nagle's algorithm is off on every accepted connection. The
  * JDK server writes each response in two socket writes, the header block
  * from `sendResponseHeaders` and then the fixed-length body; with Nagle
  * on, the small body segment waits for the ACK of the headers, which the
  * client holds back for its delayed-ACK timer (at least 40 ms on Linux),
  * so every round trip cost 44 ms whatever the query. The JDK's only switch
  * is the `sun.net.httpserver.nodelay` property, which the constructor sets
  * to true unless it is already set, so an explicit `-D` still wins. The
  * JDK reads it once per process, when the first `HttpServer` is built: an
  * application that builds its own JDK `HttpServer` before this facade
  * must pass `-Dsun.net.httpserver.nodelay=true` itself.
  *
  * `/metrics` adds two integer counters per route to the graph gauges:
  * requests answered and the server-side microseconds spent on them, from
  * the handler's entry until the response starts going out. Set against a
  * client's round trip, they tell transport time apart from handler time;
  * a `/metrics` request is counted after its own body is rendered. Two
  * more counters show what `/certify` and `/hash` reuse: state-hash roots
  * served and the node row chunks re-encoded for them. Last come the
  * session memos' residency: entries held, hits and misses, per memo.
  */
final class HttpFacade(
    session: GraftSession,
    port: Int = 0,
    apiKey: Option[String] = None,
    rateLimitPerSec: Int = 0,
    corsOrigins: Seq[String] = Seq("*")) {
  import HttpFacade.{JsonType, NoDelayProperty, PrometheusType}
  import JsonCodec.{fields, jstr, long, longArray}

  private val lock = new ReentrantReadWriteLock()
  sys.props.getOrElseUpdate(NoDelayProperty, "true") // before the first HttpServer.create
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // a real pool: many concurrent readers (the RwLock below is what
  // serializes writers); the JDK default (no executor) would run every
  // exchange on one dispatcher thread and serialize ALL routes
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)

  val MaxBodyBytes = 2 * 1024 * 1024

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = { registerRoutes(); server.start() }
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  private def renderResponse(r: ApiResponse): String = {
    val edges = r.edges.map(e => s"""{"from":${e.from},"to":${e.to},"weight":${e.weight}}""")
      .mkString("[", ",", "]")
    val props = r.properties.map { case (a, v) => s"[${jstr(a)},${jstr(v)}]" }.mkString("[", ",", "]")
    s"""{"success":${r.success},"found":${r.found},"path":${r.path.mkString("[", ",", "]")},""" +
      s""""edges":$edges,"properties":$props,"grounding":${jstr(r.grounding)}""" +
      r.error.map(e => s""","error":${jstr(e)}""").getOrElse("") +
      r.diagnostic.map(d => s""","diagnostic":${jstr(d)}""").getOrElse("") + "}"
  }

  // ---------------------------------------------------------------- HTTP

  private def respond(ex: HttpExchange, code: Int, body: String, contentType: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    corsHeaders(ex)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  // ------------------------------------------------------------ middleware

  private def corsHeaders(ex: HttpExchange): Unit = {
    val origin = Option(ex.getRequestHeaders.getFirst("Origin"))
    if (corsOrigins.contains("*"))
      ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
    else {
      // the allow-origin value depends on the request's Origin header, so
      // caches must be told not to serve one origin's response to another
      ex.getResponseHeaders.set("Vary", "Origin")
      origin.filter(corsOrigins.contains)
        .foreach(o => ex.getResponseHeaders.set("Access-Control-Allow-Origin", o))
    }
  }

  /** Preflight: the reference CORS layer answers OPTIONS itself with the
    * allowed methods/headers (api/mod.rs:148-154).
    */
  private def preflight(ex: HttpExchange): Unit = {
    corsHeaders(ex)
    ex.getResponseHeaders.set("Access-Control-Allow-Methods", "GET, POST, OPTIONS")
    ex.getResponseHeaders.set("Access-Control-Allow-Headers", "Content-Type, Authorization")
    ex.sendResponseHeaders(204, -1L)
  }

  /** Global token bucket: capacity = rps, continuous refill — the role of
    * the reference's governor direct limiter (middleware.rs:42-65).
    */
  private object rateLimiter {
    private var tokens = rateLimitPerSec.toDouble
    private var last = System.nanoTime()
    def tryAcquire(): Boolean =
      if (rateLimitPerSec <= 0) true
      else synchronized {
        val now = System.nanoTime()
        tokens = math.min(rateLimitPerSec.toDouble,
          tokens + (now - last) * 1e-9 * rateLimitPerSec)
        last = now
        if (tokens >= 1.0) { tokens -= 1.0; true } else false
      }
  }

  /** Bearer auth (auth.rs:37-98): raw token accepted too; constant-time
    * compare so the key can't be timed out byte by byte.
    */
  private def authorized(ex: HttpExchange): Boolean = apiKey match {
    case None => true
    case Some(expected) =>
      Option(ex.getRequestHeaders.getFirst("Authorization")).exists { header =>
        val provided = if (header.startsWith("Bearer ")) header.substring(7) else header
        java.security.MessageDigest.isEqual(
          provided.getBytes(StandardCharsets.UTF_8),
          expected.getBytes(StandardCharsets.UTF_8))
      }
  }

  private def readBody(ex: HttpExchange): Either[String, String] = {
    val bytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
    if (bytes.length > MaxBodyBytes) Left("body too large")
    else Right(new String(bytes, StandardCharsets.UTF_8))
  }

  /** Requests answered and server-side microseconds spent, per route. */
  private final class RouteStats {
    val requests = new LongAdder
    val micros = new LongAdder
    def record(startedNanos: Long): Unit = {
      requests.increment()
      micros.add((System.nanoTime() - startedNanos) / 1000)
    }
  }
  private val routeStats = new ConcurrentSkipListMap[String, RouteStats]()

  private def routeCounters: String = {
    val stats = routeStats.asScala.toSeq
    def counter(name: String, help: String, value: RouteStats => Long): String =
      s"# HELP $name $help\n# TYPE $name counter\n" +
        stats.map { case (path, r) => s"""$name{route="$path"} ${value(r)}\n""" }.mkString
    counter("graft_http_requests_total", "Requests answered, per route", _.requests.sum) +
      counter("graft_http_server_micros_total",
        "Server-side microseconds spent on requests, per route", _.micros.sum)
  }

  private def route(path: String, method: String, open: Boolean = false, contentType: String = JsonType)
      (f: String => (Int, String)): Unit = {
    val stats = new RouteStats
    routeStats.put(path, stats)
    server.createContext(path, ex => handle(stats, method, open, contentType)(f)(ex))
  }

  /** `open` routes (/health) bypass rate limiting and auth — the reference
    * keeps the health check out of both layers (api/mod.rs:211-213).
    * Each exchange is counted just before its response goes out, so a
    * client that has its answer finds its request in `/metrics`.
    */
  private def handle(stats: RouteStats, method: String, open: Boolean, contentType: String)
      (f: String => (Int, String))(ex: HttpExchange): Unit = {
    val started = System.nanoTime()
    def send(code: Int, body: String, bodyType: String = JsonType): Unit = {
      stats.record(started)
      respond(ex, code, body, bodyType)
    }
    try {
      if (ex.getRequestMethod == "OPTIONS") {
        stats.record(started)
        preflight(ex)
      } else if (!open && !rateLimiter.tryAcquire())
        send(429, """{"error":"too many requests"}""")
      else if (!open && !authorized(ex))
        send(401, """{"error":"unauthorized"}""")
      else if (ex.getRequestMethod != method)
        send(405, """{"error":"method not allowed"}""")
      else readBody(ex) match {
        case Left(err) => send(413, s"""{"error":${jstr(err)}}""")
        case Right(body) =>
          val (code, out) = f(body)
          send(code, out, contentType)
      }
    } catch {
      // once the headers are out (a client that hung up mid-body) no second
      // response can be sent; close() below ends the exchange
      case e: Throwable => if (ex.getResponseCode == -1) {
        // jstr guards null messages; fall back to the class name so the
        // 500 envelope is always sent
        val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
        send(500, s"""{"error":${jstr(msg)}}""")
      }
    } finally ex.close()
  }

  private def reading[A](f: => A): A = {
    lock.readLock().lock()
    try f finally lock.readLock().unlock()
  }
  private def writing[A](f: => A): A = {
    lock.writeLock().lock()
    try f finally lock.writeLock().unlock()
  }

  private def parseSignal(fs: Map[String, String]): Option[Signal] =
    for {
      e <- long(fs, "entity_id")
      a <- fs.get("attribute")
      v <- fs.get("value")
    } yield Signal(e, a, v)

  private def parseQuery(fs: Map[String, String]): Either[String, ApiRequest] =
    fs.get("type") match {
      case Some("lookup") =>
        long(fs, "entity_id").map(ApiRequest.Lookup).toRight("missing entity_id")
      case Some("traverse") =>
        (for { n <- long(fs, "node_id"); d <- long(fs, "depth") }
          yield ApiRequest.Traverse(n, d.toInt)).toRight("missing node_id/depth")
      case Some("traverse_filtered") =>
        (for { n <- long(fs, "node_id"); d <- long(fs, "depth"); w <- long(fs, "min_weight") }
          yield ApiRequest.TraverseFiltered(n, d.toInt, w, long(fs, "top_k").map(_.toInt)))
          .toRight("missing node_id/depth/min_weight")
      case Some("strongest_path") =>
        (for { s <- long(fs, "start"); e <- long(fs, "end") }
          yield ApiRequest.StrongestPath(s, e)).toRight("missing start/end")
      case Some("intersect") =>
        longArray(fs, "nodes").map(ApiRequest.Intersect).toRight("missing nodes")
      case Some("related") =>
        (for { n <- long(fs, "node_id"); d <- long(fs, "depth") }
          yield ApiRequest.Related(n, d.toInt)).toRight("missing node_id/depth")
      case Some("properties") =>
        long(fs, "node_id").map(ApiRequest.Properties).toRight("missing node_id")
      case other => Left(s"unknown query type: ${other.getOrElse("(absent)")}")
    }

  private def registerRoutes(): Unit = {
    route("/signal/retract", "POST") { body =>
      val fs = fields(body)
      (for { f <- long(fs, "from_entity"); t <- long(fs, "to_entity") }
        yield (f, t)) match {
        case None => (400, """{"error":"missing from_entity/to_entity"}""")
        case Some((f, t)) => writing {
          QueryApi.retract(session, f, t) match {
            case Right(w) => (200, s"""{"success":true,"new_weight":$w}""")
            case Left(err) => (404, s"""{"error":${jstr(err.message)}}""")
          }
        }
      }
    }

    route("/signals", "POST") { body =>
      // body: {"signals":[{...},{...}]} — string-aware array split, so
      // braces inside signal values can't break elements apart
      val objs = JsonCodec.splitArrayObjects(body)
      val parsed = objs.map(o => parseSignal(fields(o)))
      if (parsed.isEmpty || parsed.exists(_.isEmpty))
        (400, """{"error":"invalid signals"}""")
      else writing {
        session.ingestSequence(parsed.flatten) match {
          case Right(nodes) => (200, s"""{"success":true,"nodes":${nodes.mkString("[", ",", "]")}}""")
          case Left(err) => (400, s"""{"error":${jstr(err.message)}}""")
        }
      }
    }

    route("/signal", "POST") { body =>
      parseSignal(fields(body)) match {
        case None => (400, """{"error":"invalid signal"}""")
        case Some(sig) => writing {
          session.ingest(sig) match {
            case Right(node) => (200, s"""{"success":true,"node":$node}""")
            case Left(err) => (400, s"""{"error":${jstr(err.message)}}""")
          }
        }
      }
    }

    route("/query", "POST") { body =>
      parseQuery(fields(body)) match {
        case Left(err) => (400, s"""{"error":${jstr(err)}}""")
        case Right(req) => reading {
          (200, renderResponse(QueryApi.execute(session, req)))
        }
      }
    }

    route("/certify", "POST") { body =>
      parseQuery(fields(body)) match {
        case Left(err) => (400, s"""{"error":${jstr(err)}}""")
        case Right(req) => reading {
          QueryApi.certify(session, req) match {
            case Left(err) => (400, s"""{"error":${jstr(err.message)}}""")
            case Right((resp, cert)) =>
              val b64 = Base64.getEncoder.encodeToString(cert.toCanonicalBytes)
              (200, s"""{"response":${renderResponse(resp)},""" +
                s""""certificate":${jstr(b64)},"proof_of_absence":${cert.isProofOfAbsence}}""")
          }
        }
      }
    }

    // the reference export handler (api/mod.rs:222, handlers.rs:505-535):
    // snapshot under the read lock, canonical bytes base64'd + the
    // commutative checksum alongside — the import side enforces limits
    route("/export", "POST") { _ =>
      reading {
        val c = graft.verify.Canonical.fromGraph(session.graph)
        val b64 = Base64.getEncoder.encodeToString(graft.verify.Canonical.toBytes(c))
        (200, s"""{"success":true,"data":${jstr(b64)},"checksum":${graft.verify.Canonical.checksum(c)}}""")
      }
    }

    route("/status", "GET") { _ =>
      reading {
        val s = StatusApi.status(session)
        (200, s"""{"nodes":${s.nodeCount},"edges":${s.edgeCount},""" +
          s""""stable_edges":${s.stableEdgeCount},"stage":${jstr(s.stage)}}""")
      }
    }

    route("/stage", "GET") { _ =>
      reading {
        val p = StatusApi.stage(session)
        (200, s"""{"current":${jstr(p.current)},"next":${p.next.map(jstr).getOrElse("null")},""" +
          s""""percent":${p.percent}}""")
      }
    }

    route("/hash", "GET") { _ =>
      reading {
        val h = StatusApi.hash(session)
        (200, s"""{"checksum":${h.checksum},"state_hash":${jstr(h.stateHash)}}""")
      }
    }

    route("/metrics", "GET", contentType = PrometheusType) { _ =>
      val gauges = reading {
        val m = GraphMetrics.fromGraph(session.graph)
        val stage = new StageAssessor().assessFromMetrics(m)
        StatusApi.prometheusText(m, stage)
      }
      (200, gauges + StatusApi.stateHashText(session) + routeCounters +
        graft.SessionMemos.prometheusText)
    }

    route("/health", "GET", open = true) { _ =>
      reading { (200, s"""{"healthy":${StatusApi.health(session)}}""") }
    }
  }
}

object HttpFacade {
  /** The JDK server's switch for TCP_NODELAY on accepted connections. */
  private val NoDelayProperty = "sun.net.httpserver.nodelay"
  private val JsonType = "application/json"
  /** Prometheus text exposition format. */
  private val PrometheusType = "text/plain; version=0.0.4; charset=utf-8"
}
