package graft.api

import graft.core._
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.Base64

/** Integration tests against the real HTTP router (the api_tests.rs
  * surface): ingest, query variants, diagnostics, retract semantics,
  * certify with byte-stable certificates, metric surfaces, 405/400/404
  * discipline and the body cap.
  */
class HttpFacadeSpec extends AnyFunSuite {

  private def withServer(f: (HttpClient, String) => Unit): Unit = {
    val facade = new HttpFacade(new GraftSession())
    facade.start()
    try f(HttpClient.newHttpClient(), s"http://127.0.0.1:${facade.boundPort}")
    finally facade.stop()
  }

  private def post(c: HttpClient, url: String, body: String): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(c: HttpClient, url: String): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("ingest -> query -> status round trip over HTTP") {
    withServer { (c, base) =>
      val seq =
        """{"signals":[
          |{"entity_id": 1, "attribute": "name", "value": "Alice"},
          |{"entity_id": 2, "attribute": "name", "value": "Bob"},
          |{"entity_id": 1, "attribute": "knows", "value": "Bob"}]}""".stripMargin
      val ing = post(c, s"$base/signals", seq)
      assert(ing.statusCode === 200 && ing.body.contains(""""success":true"""))

      val q = post(c, s"$base/query", """{"type": "lookup", "entity_id": 1}""")
      assert(q.statusCode === 200)
      assert(q.body.contains(""""found":true""") && q.body.contains(""""grounding":"fact""""))

      val t = post(c, s"$base/query", """{"type": "traverse", "node_id": 0, "depth": 2}""")
      assert(t.body.contains(""""path":[0,1]"""))

      val miss = post(c, s"$base/query", """{"type": "lookup", "entity_id": 42}""")
      assert(miss.body.contains(""""diagnostic":"entity_not_found""""))

      val status = get(c, s"$base/status")
      assert(status.statusCode === 200 && status.body.contains(""""nodes":2"""))
      assert(get(c, s"$base/health").body.contains("true"))
      val metrics = get(c, s"$base/metrics")
      assert(metrics.headers.firstValue("Content-Type").orElse("") ===
        "text/plain; version=0.0.4; charset=utf-8")
      assert(metrics.body.contains("graft_nodes_total 2"))
      // each request is counted before its response goes out; this
      // /metrics request is counted only after its own body is rendered
      assert(metrics.body.contains("""graft_http_requests_total{route="/query"} 3"""))
      assert(metrics.body.contains("""graft_http_requests_total{route="/health"} 1"""))
      assert(metrics.body.contains("""graft_http_requests_total{route="/metrics"} 0"""))
      val queryMicros = """graft_http_server_micros_total\{route="/query"\} (\d+)""".r
      assert(queryMicros.findFirstMatchIn(metrics.body).exists(_.group(1).toLong > 0))
      assert(get(c, s"$base/hash").body.contains("state_hash"))
    }
  }

  test("keep-alive round trips stay under the Nagle/delayed-ACK floor") {
    withServer { (c, base) =>
      post(c, s"$base/signal", """{"entity_id": 1, "attribute": "k", "value": "a"}""")
      val micros = (1 to 30).map { _ =>
        val started = System.nanoTime()
        val q = post(c, s"$base/query", """{"type": "lookup", "entity_id": 1}""")
        assert(q.statusCode === 200)
        (System.nanoTime() - started) / 1000
      }.sorted
      // with Nagle on, each response's body segment waits for the client's
      // delayed ACK of its headers: at least 40 ms a round trip
      val median = micros(micros.length / 2)
      assert(median < 20000L, s"median round trip $median us")
    }
  }

  test("single-signal ingest, retract semantics and 404s") {
    withServer { (c, base) =>
      post(c, s"$base/signals",
        """{"signals":[{"entity_id": 1, "attribute": "k", "value": "a"},
          |{"entity_id": 2, "attribute": "k", "value": "b"}]}""".stripMargin)
      val one = post(c, s"$base/signal", """{"entity_id": 3, "attribute": "k", "value": "c"}""")
      assert(one.statusCode === 200)

      // adjacency edge 0->1 exists with weight 1; retract it to 0
      val r1 = post(c, s"$base/signal/retract", """{"from_entity": 1, "to_entity": 2}""")
      assert(r1.statusCode === 200 && r1.body.contains(""""new_weight":0"""))
      // absent edge and absent entity -> 404
      assert(post(c, s"$base/signal/retract", """{"from_entity": 2, "to_entity": 3}""").statusCode === 404)
      assert(post(c, s"$base/signal/retract", """{"from_entity": 99, "to_entity": 1}""").statusCode === 404)

      // invalid signal -> 400
      assert(post(c, s"$base/signal", """{"entity_id": 9, "attribute": "", "value": "x"}""").statusCode === 400)
    }
  }

  test("certify returns byte-stable certificates and proof of absence") {
    withServer { (c, base) =>
      post(c, s"$base/signals",
        """{"signals":[{"entity_id": 1, "attribute": "k", "value": "a"},
          |{"entity_id": 2, "attribute": "k", "value": "b"}]}""".stripMargin)

      val body = """{"type": "traverse", "node_id": 0, "depth": 1}"""
      val c1 = post(c, s"$base/certify", body)
      val c2 = post(c, s"$base/certify", body)
      assert(c1.statusCode === 200)
      def certOf(resp: String): String =
        """"certificate":"([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      assert(certOf(c1.body) === certOf(c2.body))
      val bytes = Base64.getDecoder.decode(certOf(c1.body))
      val parsed = graft.verify.QueryCertificate.fromCanonicalBytes(bytes)
      assert(parsed.isRight && parsed.toOption.get.queryDescriptor === "traverse:0:1")

      val absent = post(c, s"$base/certify", """{"type": "lookup", "entity_id": 404}""")
      assert(absent.body.contains(""""proof_of_absence":true"""))

      // properties queries cannot be certified
      assert(post(c, s"$base/certify", """{"type": "properties", "node_id": 0}""").statusCode === 400)

      // after more writes (a new entity, a duplicate, a supplementary-plane
      // value, a repeated edge) the certificate and /hash both bind the
      // state a replay of the same writes reaches
      val writes = Seq(
        Seq(Signal(1, "k", "a"), Signal(2, "k", "b")),
        Seq(Signal(2, "k", "b"), Signal(3, "name", "\uD834\uDD1E clef"), Signal(1, "k", "c")),
        Seq(Signal(1, "k", "a"), Signal(2, "k", "b")),
        Seq(Signal(3, "name", "z"), Signal(1, "role", "x"), Signal(2, "k", "b"), Signal(3, "k", "b")))
      writes.tail.foreach { w =>
        val body = w.map(x => s"""{"entity_id": ${x.entityId}, "attribute": ${JsonCodec.jstr(x.attribute)}, """ +
          s""""value": ${JsonCodec.jstr(x.value)}}""").mkString("""{"signals":[""", ",", "]}")
        assert(post(c, s"$base/signals", body).statusCode === 200)
      }
      val replay = new GraftSession()
      writes.foreach(w => assert(replay.ingestSequence(w).isRight))
      val canonical = graft.verify.Canonical.fromGraph(replay.graph)
      val want = graft.verify.Canonical.merkleStateHashHex(canonical)
      val cert = graft.verify.QueryCertificate.fromCanonicalBytes(
        Base64.getDecoder.decode(certOf(post(c, s"$base/certify", body).body))).toOption.get
      assert(cert.stateHash.map(b => f"$b%02x").mkString === want)
      val hash = get(c, s"$base/hash").body
      assert(hash.contains(s""""state_hash":"$want"""") &&
        hash.contains(s""""checksum":${graft.verify.Canonical.checksum(canonical)},"""))
      // five roots served: four certificates and the /hash
      assert(get(c, s"$base/metrics").body.contains("graft_state_hash_roots_total 5\n"))
    }
  }

  test("JSON escapes and braces in values round-trip intact") {
    withServer { (c, base) =>
      // \n must decode to a real newline; braces inside values must not
      // break the batch array apart
      val seq =
        """{"signals":[
          |{"entity_id": 1, "attribute": "note", "value": "line1\nline2"},
          |{"entity_id": 2, "attribute": "props", "value": "a}b{c"}]}""".stripMargin
      assert(post(c, s"$base/signals", seq).statusCode === 200)

      val p1 = post(c, s"$base/query", """{"type": "properties", "node_id": 0}""")
      assert(p1.body.contains("""line1\nline2""")) // re-escaped on output
      val p2 = post(c, s"$base/query", """{"type": "properties", "node_id": 1}""")
      assert(p2.body.contains("a}b{c"))

      // the stored value is the DECODED form: unicode escape too
      val u = post(c, s"$base/signal", """{"entity_id": 3, "attribute": "k", "value": "xAy"}""")
      assert(u.statusCode === 200)
      val p3 = post(c, s"$base/query", """{"type": "properties", "node_id": 2}""")
      assert(p3.body.contains("xAy"))
    }
  }

  test("protocol discipline: 405 on wrong method, 400 on bad requests") {
    withServer { (c, base) =>
      assert(get(c, s"$base/query").statusCode === 405)
      assert(post(c, s"$base/query", "not json at all").statusCode === 400)
      assert(post(c, s"$base/query", """{"type": "frobnicate"}""").statusCode === 400)
      assert(post(c, s"$base/signals", """{"signals":[{"entity_id": "x"}]}""").statusCode === 400)
    }
  }

  // --- export (api_tests.rs test_export_empty_graph/test_export_populated_graph) ---

  test("export returns canonical base64 that re-imports to the same graph") {
    withServer { (c, base) =>
      // empty graph exports too
      val empty = post(c, s"$base/export", "")
      assert(empty.statusCode === 200 && empty.body.contains(""""success":true"""))

      post(c, s"$base/signals",
        """{"signals":[{"entity_id": 1, "attribute": "k", "value": "a"},
          |{"entity_id": 2, "attribute": "k", "value": "b"}]}""".stripMargin)
      val resp = post(c, s"$base/export", "")
      assert(resp.statusCode === 200)
      val b64 = """"data":"([^"]+)"""".r.findFirstMatchIn(resp.body).get.group(1)
      val checksum = """"checksum":(-?\d+)""".r.findFirstMatchIn(resp.body).get.group(1).toLong
      val parsed = graft.verify.Canonical.fromBytes(Base64.getDecoder.decode(b64))
      assert(parsed.isRight)
      val g = parsed.toOption.get
      assert(g.nodes.length === 2 && g.edges.length === 1)
      assert(graft.verify.Canonical.checksum(g) === checksum)
    }
  }

  // --- middleware (api_tests.rs auth/CORS/rate-limit cases) ---

  private def withAuthServer(key: String)(f: (HttpClient, String) => Unit): Unit = {
    val facade = new HttpFacade(new GraftSession(), apiKey = Some(key))
    facade.start()
    try f(HttpClient.newHttpClient(), s"http://127.0.0.1:${facade.boundPort}")
    finally facade.stop()
  }

  private def getAuth(c: HttpClient, url: String, auth: Option[String]): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url)).GET()
    auth.foreach(a => b.header("Authorization", a))
    c.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("auth: bearer and raw tokens pass, wrong/missing/empty/prefix-only get 401, health bypasses") {
    withAuthServer("test-secret-key") { (c, base) =>
      assert(getAuth(c, s"$base/status", Some("Bearer test-secret-key")).statusCode === 200)
      assert(getAuth(c, s"$base/status", Some("test-secret-key")).statusCode === 200)
      assert(getAuth(c, s"$base/status", Some("Bearer wrong-key")).statusCode === 401)
      assert(getAuth(c, s"$base/status", None).statusCode === 401)
      assert(getAuth(c, s"$base/status", Some("")).statusCode === 401)
      assert(getAuth(c, s"$base/status", Some("Bearer ")).statusCode === 401)
      // health is exempt (load balancer contract, auth.rs:47-50)
      assert(getAuth(c, s"$base/health", None).statusCode === 200)
      // writes are gated too
      assert(post(c, s"$base/signal", """{"entity_id": 1, "attribute": "k", "value": "v"}""")
        .statusCode === 401)
    }
  }

  test("rate limit: burst over the bucket gets 429, health is exempt") {
    val facade = new HttpFacade(new GraftSession(), rateLimitPerSec = 3)
    facade.start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${facade.boundPort}"
      val codes = (1 to 10).map(_ => get(c, s"$base/status").statusCode)
      assert(codes.count(_ == 200) >= 3 && codes.contains(429))
      assert((1 to 10).forall(_ => get(c, s"$base/health").statusCode == 200))
    } finally facade.stop()
  }

  test("CORS: allowed origin echoed, preflight answers methods and headers") {
    withServer { (c, base) =>
      val r = get(c, s"$base/health")
      assert(r.headers.firstValue("Access-Control-Allow-Origin").orElse("") === "*")
      val pre = c.send(HttpRequest.newBuilder(URI.create(s"$base/query"))
        .method("OPTIONS", HttpRequest.BodyPublishers.noBody())
        .header("Origin", "http://example.com").build(),
        HttpResponse.BodyHandlers.ofString())
      assert(pre.statusCode === 204)
      assert(pre.headers.firstValue("Access-Control-Allow-Methods").orElse("").contains("POST"))
      assert(pre.headers.firstValue("Access-Control-Allow-Headers").orElse("").contains("Authorization"))
    }

    // origin allow-list: only configured origins are echoed
    val facade = new HttpFacade(new GraftSession(), corsOrigins = Seq("http://ok.example"))
    facade.start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${facade.boundPort}"
      def originGet(o: String) =
        c.send(HttpRequest.newBuilder(URI.create(s"$base/health"))
          .GET().header("Origin", o).build(), HttpResponse.BodyHandlers.ofString())
      assert(originGet("http://ok.example").headers
        .firstValue("Access-Control-Allow-Origin").orElse("") === "http://ok.example")
      assert(originGet("http://evil.example").headers
        .firstValue("Access-Control-Allow-Origin").orElse("") === "")
    } finally facade.stop()
  }
}
