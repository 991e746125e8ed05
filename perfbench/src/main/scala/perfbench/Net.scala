package perfbench

import java.net.{HttpURLConnection, URI}
import java.net.http.{HttpClient, WebSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.{CompletionStage, Executors, LinkedBlockingQueue,
  TimeUnit}

/** The served API through the JDK's clients, as any Java user reaches
  * it: `HttpURLConnection` for REST calls, `java.net.http.WebSocket`
  * for result subscriptions. One executor thread runs the WebSocket
  * client's callbacks, so the load side stays inside its thread budget.
  *
  * REST calls use one connection each: the gateway answers one request
  * per connection and then closes it without a `Connection: close`
  * header, so a kept-alive connection can be dead by the next request.
  * `run.py` therefore starts the JVM with `-Dhttp.keepAlive=false`. */
final class Net(port: Int) {
  private val client = HttpClient.newBuilder()
    .executor(Executors.newSingleThreadExecutor { r =>
      val th = new Thread(r, "perfbench-http")
      th.setDaemon(true)
      th
    })
    .connectTimeout(Duration.ofSeconds(5))
    .build()

  def request(method: String, path: String, body: String = ""): Net.Response = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod(method)
      c.setConnectTimeout(5000)
      c.setReadTimeout(60000)
      c.setRequestProperty("Content-Type", "application/json")
      if (body.nonEmpty) {
        c.setDoOutput(true)
        val out = c.getOutputStream
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      val status = c.getResponseCode
      val in = if (status >= 400) c.getErrorStream else c.getInputStream
      Net.Response(status,
        if (in == null) "" else try new String(in.readAllBytes(), UTF_8)
        finally in.close())
    } finally c.disconnect()
  }

  def subscribe(path: String): Subscription =
    new Subscription(client, URI.create(s"ws://127.0.0.1:$port$path"))
}

object Net {
  final case class Response(status: Int, body: String)
}

/** A WebSocket subscription; whole text messages are taken one at a
  * time with a deadline. */
final class Subscription(client: HttpClient, uri: URI) extends AutoCloseable {
  /** Whole messages in arrival order; None once the socket has closed. */
  private val messages = new LinkedBlockingQueue[Option[String]]()
  /** UTF-8 bytes of the messages taken so far. */
  var bytes = 0L

  private val socket = client.newWebSocketBuilder()
    .buildAsync(uri, new WebSocket.Listener {
      private val part = new StringBuilder
      override def onText(ws: WebSocket, data: CharSequence,
          last: Boolean): CompletionStage[_] = {
        part.append(data)
        if (last) {
          messages.put(Some(part.toString))
          part.setLength(0)
        }
        ws.request(1)
        null
      }
      override def onClose(ws: WebSocket, code: Int,
          reason: String): CompletionStage[_] = {
        messages.put(None)
        null
      }
      override def onError(ws: WebSocket, e: Throwable): Unit =
        messages.put(None)
    })
    .get(30, TimeUnit.SECONDS)

  /** Next text message, or None when `timeoutMs` passes first or the
    * socket has closed. */
  def next(timeoutMs: Long): Option[String] = {
    val m = Option(messages.poll(timeoutMs, TimeUnit.MILLISECONDS)).flatten
    m.foreach(s => bytes += s.getBytes(UTF_8).length)
    m
  }

  def close(): Unit = {
    try socket.sendClose(WebSocket.NORMAL_CLOSURE, "").get(5, TimeUnit.SECONDS)
    catch { case _: Exception => () }
    socket.abort()
  }
}
