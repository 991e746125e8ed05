package graft.http

import graft.TestSpark
import graft.api.{JanusApi, QueryRegistry}
import graft.core.RdfEvent

import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, WebSocket}
import java.util.concurrent.{CompletionException, CountDownLatch,
  CopyOnWriteArrayList, TimeUnit}

/** Single-port gateway against the reference's one-server contract
  * (`server.rs:273-285`): REST routes, the SSE results stream, AND the
  * RFC 6455 WS upgrade of `GET /api/queries/:id/results`
  * (`server.rs:475-548`) are all served on ONE public port. The WS
  * CLIENT is the JDK's own RFC 6455 implementation — a spec-compliant
  * peer, not a hand-rolled twin of the server. */
class HttpGatewaySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val store = RdfEvent.toDF(spark, (0 until 6).map(i =>
    RdfEvent(i * 1000L, s"http://example.org/sensor${i % 2}",
      "http://example.org/reading", (20 + i).toString, "")))

  private val registerBody =
    """{"query_id": "q1", "janusql": "PREFIX ex: <http://example.org/>\nSELECT ?sensor ?reading\nFROM NAMED WINDOW ex:hist ON LOG ex:store [START 0 END 5000]\nWHERE {\n WINDOW ex:hist { ?sensor ex:reading ?reading }\n}"}"""

  /** One public address: `base` is the gateway's port for http AND ws
    * schemes — the REST server itself stays an internal detail. */
  private def withServers(f: (HttpClient, String) => Unit): Unit = {
    val registry = new QueryRegistry()
    val api = new JanusApi(spark, registry, _ => store, () => 10000L)
    val rest = new HttpApiServer(api, registry, sseIdleTimeoutMs = 3000)
    rest.start()
    val gw = new HttpGateway(rest, idleTimeoutMs = 5000)
    gw.start()
    try f(HttpClient.newHttpClient(), s"127.0.0.1:${gw.boundPort}")
    finally {
      gw.stop()
      rest.stop()
    }
  }

  private def post(c: HttpClient, url: String, body: String = "")
      : HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(c: HttpClient, url: String): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("REST routes relay through the gateway port (health, CRUD, " +
      "status)") {
    withServers { (c, base) =>
      val health = get(c, s"http://$base/health")
      assert(health.statusCode() === 200)
      assert(health.body().contains("\"status\":\"ok\""))
      // POST with body crosses the relay intact
      assert(post(c, s"http://$base/api/queries", registerBody)
        .statusCode() === 201)
      val status = get(c, s"http://$base/api/queries/q1")
      assert(status.statusCode() === 200)
      assert(status.body().contains("q1"))
      // unknown routes keep the REST server's 404 contract
      assert(get(c, s"http://$base/api/nope").statusCode() === 404)
    }
  }

  test("handshake + result messages in the reference schema, then " +
      "clean close — on the SAME port as REST") {
    withServers { (c, base) =>
      assert(post(c, s"http://$base/api/queries", registerBody)
        .statusCode() === 201)
      assert(post(c, s"http://$base/api/queries/q1/start")
        .statusCode() === 200)
      // give the historical worker a moment to produce into the replay
      // ring, then connect — replay-on-connect must deliver results
      Thread.sleep(1500)

      val messages = new CopyOnWriteArrayList[String]()
      val gotMessage = new CountDownLatch(1)
      val closed = new CountDownLatch(1)
      val listener = new WebSocket.Listener {
        private val sb = new StringBuilder
        override def onText(w: WebSocket, data: CharSequence,
            last: Boolean): java.util.concurrent.CompletionStage[_] = {
          sb.append(data)
          if (last) {
            messages.add(sb.toString)
            sb.setLength(0)
            gotMessage.countDown()
          }
          w.request(1)
          null
        }
        override def onClose(w: WebSocket, code: Int, reason: String)
            : java.util.concurrent.CompletionStage[_] = {
          closed.countDown()
          null
        }
      }
      val socket = c.newWebSocketBuilder()
        .buildAsync(URI.create(s"ws://$base/api/queries/q1/results"),
          listener)
        .join()
      assert(gotMessage.await(15, TimeUnit.SECONDS),
        "no result message within 15s")
      val msg = messages.get(0)
      assert(msg.contains("\"query_id\":\"q1\""))
      assert(msg.contains("\"source\":\"Historical\""))
      assert(msg.contains("\"bindings\":"))
      // R11 wire convention over WS too
      assert(msg.contains("<http://example.org/sensor0>") ||
        msg.contains("<http://example.org/sensor1>"))
      assert(msg.contains("XMLSchema#decimal"))
      // client-initiated close is echoed (JDK client completes onClose)
      socket.sendClose(WebSocket.NORMAL_CLOSURE, "done").join()
      assert(closed.await(10, TimeUnit.SECONDS), "no close echo within 10s")
    }
  }

  test("the NON-upgrade form of the results path streams SSE through " +
      "the gateway") {
    withServers { (c, base) =>
      assert(post(c, s"http://$base/api/queries", registerBody)
        .statusCode() === 201)
      assert(post(c, s"http://$base/api/queries/q1/start")
        .statusCode() === 200)
      Thread.sleep(1500)
      // plain GET on the same path the WS upgrade uses — relayed to
      // the REST server's SSE route, events stream back until its
      // idle timeout ends the response
      val resp = get(c, s"http://$base/api/queries/q1/results")
      assert(resp.statusCode() === 200)
      assert(resp.headers().firstValue("content-type")
        .orElse("").startsWith("text/event-stream"))
      assert(resp.body().contains("data:"))
      assert(resp.body().contains("\"query_id\":\"q1\""))
    }
  }

  test("a keep-alive client makes REST calls in a row through the " +
      "gateway") {
    withServers { (_, base) =>
      // HTTP/1.1 client that pools its connection unless a response
      // says `Connection: close` — the gateway closes after every
      // relayed response, so it must say so
      val c = HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).build()
      val health = get(c, s"http://$base/health")
      assert(health.statusCode() === 200)
      assert(health.headers().firstValue("connection").orElse("")
        .equalsIgnoreCase("close"))
      assert(post(c, s"http://$base/api/queries", registerBody)
        .statusCode() === 201)
      assert(get(c, s"http://$base/api/queries/q1").statusCode() === 200)
    }
  }

  test("chunked request bodies are decoded and relayed re-framed as " +
      "Content-Length") {
    withServers { (c, base) =>
      // an InputStream publisher has unknown length → the JDK client
      // sends Transfer-Encoding: chunked
      val resp = c.send(
        HttpRequest.newBuilder(URI.create(s"http://$base/api/queries"))
          .POST(HttpRequest.BodyPublishers.ofInputStream(() =>
            new java.io.ByteArrayInputStream(registerBody.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 201)
      assert(get(c, s"http://$base/api/queries/q1").statusCode() === 200)
    }
  }

  test("unknown / not-running query fails the handshake") {
    withServers { (c, base) =>
      val ex = intercept[CompletionException] {
        c.newWebSocketBuilder()
          .buildAsync(URI.create(s"ws://$base/api/queries/nope/results"),
            new WebSocket.Listener {})
          .join()
      }
      assert(ex.getCause != null)
    }
  }

  test("websocket upgrade on a non-results path is rejected") {
    withServers { (c, base) =>
      val ex = intercept[CompletionException] {
        c.newWebSocketBuilder()
          .buildAsync(URI.create(s"ws://$base/api/other"),
            new WebSocket.Listener {})
          .join()
      }
      assert(ex.getCause != null)
    }
  }
}
