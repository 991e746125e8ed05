package graft.http

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream,
  OutputStream}
import java.net.{ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.TimeUnit

/** Single-port HTTP front gateway matching the reference's one-server
  * contract (`server.rs:273-285`): a WebSocket upgrade on
  * `GET /api/queries/:id/results` (`server.rs:475-548`) is served
  * in-place with the SAME message schema
  * (`query_id`/`timestamp`/`source`/`bindings`) over an RFC 6455
  * handshake + text frames; every other request — the REST routes and
  * the non-upgrade SSE form of the same results path — is relayed
  * byte-for-byte to the wrapped [[HttpApiServer]]. Hand-rolled on the
  * JDK socket API because the container has no WS library and the
  * JDK's HttpServer cannot hijack a connection for an upgrade; fronting
  * it restores the reference's single public port.
  *
  * Supported WS surface: HTTP/1.1 upgrade handshake
  * (Sec-WebSocket-Accept per RFC 6455 §4.2.2), unfragmented
  * server→client text frames with 7/16/64-bit lengths, masked client
  * frames for CLOSE (echoed, then the socket closes) and PING
  * (answered with PONG). That is the whole contract the reference's
  * result feed exercises — it only pushes text messages and reacts to
  * disconnects.
  */
final class HttpGateway(api: HttpApiServer, port: Int = 0,
    idleTimeoutMs: Long = 30000) {

  private val server = new ServerSocket(port)
  @volatile private var closed = false

  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (!closed) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), "graft-gateway-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: Exception => () /* closed */ }
    }
  }, "graft-gateway-acceptor")

  def start(): Unit = {
    acceptor.setDaemon(true)
    acceptor.start()
  }

  def stop(): Unit = {
    closed = true
    server.close()
  }

  // ---- connection handling --------------------------------------------

  private val ResultsPath =
    java.util.regex.Pattern.compile("/api/queries/([^/]+)/results/?")

  private def handle(sock: Socket): Unit = {
    try {
      // generous handshake timeout (slow links / proxies flushing the
      // request in pieces); the pump drops to a short poll afterwards
      sock.setSoTimeout(5000)
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      val (requestLine, rawHeaders, headers, body) = readRequest(in)
      val parts = requestLine.split(" ")
      if (parts.length < 2) {
        httpError(out, 400, "malformed request")
        return
      }
      val isUpgrade = headers.get("upgrade").exists(
        _.equalsIgnoreCase("websocket"))
      if (!isUpgrade) { // REST/SSE route — relay to the wrapped server
        relay(out, requestLine, rawHeaders, body)
        return
      }
      if (parts(0) != "GET") {
        httpError(out, 400, "websocket upgrade requires GET")
        return
      }
      val m = ResultsPath.matcher(parts(1))
      if (!m.matches()) {
        httpError(out, 404,
          "websocket upgrade is only supported on /api/queries/:id/results")
        return
      }
      // percent-decode ONLY: URLDecoder's form decoding would turn a
      // literal '+' into a space, diverging from the REST route
      val queryId = java.net.URLDecoder.decode(
        m.group(1).replace("+", "%2B"), "UTF-8")
      val key = headers.get("sec-websocket-key")
      if (key.isEmpty) {
        httpError(out, 400, "websocket upgrade required")
        return
      }
      api.subscribe(queryId) match {
        case None =>
          httpError(out, 404, "query is not running")
        case Some((sub, unsubscribe)) =>
          try {
            val accept = Base64.getEncoder.encodeToString(
              MessageDigest.getInstance("SHA-1").digest(
                (key.get + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11")
                  .getBytes(StandardCharsets.US_ASCII)))
            out.write((
              "HTTP/1.1 101 Switching Protocols\r\n" +
                "Upgrade: websocket\r\n" +
                "Connection: Upgrade\r\n" +
                s"Sec-WebSocket-Accept: $accept\r\n\r\n")
              .getBytes(StandardCharsets.US_ASCII))
            out.flush()
            sock.setSoTimeout(250)
            pump(sock, in, out, sub)
          } finally unsubscribe()
      }
    } catch {
      case _: Exception => ()
    } finally {
      try sock.close() catch { case _: Exception => () }
    }
  }

  /** Push results as text frames until close/idle/disconnect,
    * answering PING and echoing CLOSE per RFC 6455 §5.5. A slow
    * consumer that lagged past the queue capacity receives the
    * `{"type":"lagged","dropped_messages":n}` frame before newer
    * results (`server.rs:515-525`). */
  private def pump(sock: Socket, in: InputStream, out: OutputStream,
      sub: HttpApiServer.Subscription): Unit = {
    val idleDeadline = () => System.currentTimeMillis() + idleTimeoutMs
    var deadline = idleDeadline()
    var open = true
    while (open) {
      // client control frames: start a read only when bytes are already
      // buffered; once a frame is STARTED it must be read to completion
      // (a longer mid-frame timeout covers fragmented TCP delivery) or
      // the connection closed — abandoning it halfway would desync the
      // stream and parse payload bytes as frame headers
      if (in.available() > 0) {
        try {
          sock.setSoTimeout(5000)
          readFrame(in) match {
            case Some((0x8, payload)) => // CLOSE: echo and finish
              writeFrame(out, 0x8, payload)
              open = false
            case Some((0x9, payload)) => // PING → PONG
              writeFrame(out, 0xA, payload)
            case Some(_) => () // text/binary/pong from client: ignored
            case None => open = false // EOF
          }
        } catch {
          case _: SocketTimeoutException =>
            open = false // frame never completed — drop the connection
        } finally sock.setSoTimeout(250)
      }
      if (open) {
        val msg = sub.next(50)
        if (msg != null) {
          writeFrame(out, 0x1, msg.getBytes(StandardCharsets.UTF_8))
          deadline = idleDeadline()
        } else if (System.currentTimeMillis() > deadline) {
          writeFrame(out, 0x8, Array(0x03.toByte, 0xE8.toByte)) // 1000
          open = false
        }
      }
    }
  }

  // ---- wire helpers ----------------------------------------------------

  /** Relay a non-upgrade request to the wrapped REST server and stream
    * the response back until upstream EOF (which covers SSE: the REST
    * server ends the stream itself on its idle timeout). `Connection:
    * close` is forced upstream so the response is close-delimited —
    * the same framing this per-request client socket uses — and is
    * set on the relayed response head too: the REST server answers a
    * close-requested request with no `Connection` header at all, so a
    * keep-alive client would otherwise reuse the socket this gateway
    * closes. A down upstream answers 502 instead of an empty reply; a
    * wedged one is cut off by the read timeout instead of pinning the
    * thread. */
  private def relay(out: OutputStream, requestLine: String,
      rawHeaders: Seq[String], body: Array[Byte]): Unit = {
    val upstream = new Socket()
    try {
      try upstream.connect(
        new java.net.InetSocketAddress("127.0.0.1", api.boundPort), 3000)
      catch {
        case _: java.io.IOException =>
          httpError(out, 502, "upstream REST server unavailable")
          return
      }
      upstream.setSoTimeout(300000)
      val uo = new BufferedOutputStream(upstream.getOutputStream)
      val head = (requestLine +: rawHeaders.filterNot(
        _.toLowerCase.startsWith("connection:")))
        .mkString("", "\r\n", "\r\nConnection: close\r\n\r\n")
      uo.write(head.getBytes(StandardCharsets.ISO_8859_1))
      uo.write(body)
      uo.flush()
      val ui = new BufferedInputStream(upstream.getInputStream)
      val respHead = readHead(ui).split("\r\n").filter(_.nonEmpty)
      if (respHead.nonEmpty) {
        out.write(respHead.filterNot(
          _.toLowerCase.startsWith("connection:"))
          .mkString("", "\r\n", "\r\nConnection: close\r\n\r\n")
          .getBytes(StandardCharsets.ISO_8859_1))
        // head and body leave as one write when the body is already
        // here (REST); an SSE head goes out before the first event
        if (ui.available() == 0) out.flush()
      }
      val buf = new Array[Byte](8192)
      var n = ui.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        out.flush() // SSE events must not sit in the relay buffer
        n = ui.read(buf)
      }
      out.flush()
    } finally {
      try upstream.close() catch { case _: Exception => () }
    }
  }

  /** An HTTP message head: bytes up to and including the blank line
    * (or EOF). */
  private def readHead(in: InputStream): String = {
    val sb = new StringBuilder
    // append-then-check: reading one byte past the terminator would
    // block on a socket that has sent its whole message head
    var done = false
    while (!done) {
      val b = in.read()
      if (b == -1) done = true
      else {
        sb.append(b.toChar)
        if (sb.endsWith("\r\n\r\n")) done = true
        if (sb.length > 65536) throw new IllegalArgumentException(
          "oversized header")
      }
    }
    sb.toString
  }

  /** (request line, raw header lines, lowercased header map, body). The
    * body is read per Content-Length (capped) so it can be relayed. */
  private def readRequest(in: InputStream)
      : (String, Seq[String], Map[String, String], Array[Byte]) = {
    val lines = readHead(in).split("\r\n").filter(_.nonEmpty)
    val headers = lines.drop(1).flatMap { l =>
      l.split(":", 2) match {
        case Array(k, v) => Some(k.trim.toLowerCase -> v.trim)
        case _           => None
      }
    }.toMap
    val chunked = headers.get("transfer-encoding")
      .exists(_.toLowerCase.contains("chunked"))
    val body =
      if (chunked) readChunkedBody(in)
      else {
        val len = headers.get("content-length")
          .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(0)
        if (len > (16 << 20)) throw new IllegalArgumentException(
          "oversized request body")
        val b = new Array[Byte](len)
        var off = 0
        while (off < len) {
          val n = in.read(b, off, len - off)
          if (n < 0) throw new IllegalArgumentException("truncated body")
          off += n
        }
        b
      }
    // a chunked body is forwarded re-framed as Content-Length — drop
    // the chunked framing headers and substitute the real length
    val headerLines =
      if (chunked)
        lines.drop(1).toSeq.filterNot { l =>
          val low = l.toLowerCase
          low.startsWith("transfer-encoding:") ||
            low.startsWith("content-length:")
        } :+ s"Content-Length: ${body.length}"
      else lines.drop(1).toSeq
    (lines.headOption.getOrElse(""), headerLines, headers, body)
  }

  /** RFC 9112 §7.1 chunked body: hex-size line, data, CRLF, repeated;
    * a zero chunk then trailer lines up to a blank line end it. */
  private def readChunkedBody(in: InputStream): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def readLine(): String = {
      val sb = new StringBuilder
      var b = in.read()
      while (b != -1 && b != '\n') {
        if (b != '\r') sb.append(b.toChar)
        b = in.read()
      }
      sb.toString
    }
    var done = false
    while (!done) {
      val sizeLine = readLine().trim
      val size = Integer.parseInt(
        sizeLine.takeWhile(c => Character.digit(c, 16) >= 0), 16)
      if (size == 0) {
        // consume optional trailers up to the blank line
        while (readLine().nonEmpty) ()
        done = true
      } else {
        if (out.size() + size > (16 << 20))
          throw new IllegalArgumentException("oversized request body")
        val chunk = new Array[Byte](size)
        var off = 0
        while (off < size) {
          val n = in.read(chunk, off, size - off)
          if (n < 0) throw new IllegalArgumentException("truncated chunk")
          off += n
        }
        out.write(chunk)
        readLine() // trailing CRLF after the chunk data
      }
    }
    out.toByteArray
  }

  /** One (possibly masked) client frame: (opcode, unmasked payload).
    * None at EOF. */
  private def readFrame(in: InputStream): Option[(Int, Array[Byte])] = {
    val b0 = in.read()
    if (b0 == -1) return None
    val opcode = b0 & 0x0F
    val b1 = in.read()
    if (b1 == -1) return None
    val masked = (b1 & 0x80) != 0
    var len: Long = (b1 & 0x7F).toLong
    if (len == 126) {
      len = ((in.read() & 0xFF) << 8 | (in.read() & 0xFF)).toLong
    } else if (len == 127) {
      len = 0L
      (0 until 8).foreach(_ => len = (len << 8) | (in.read() & 0xFF))
    }
    if (len > (1L << 20)) throw new IllegalArgumentException(
      "oversized client frame")
    val mask = new Array[Byte](4)
    if (masked) {
      var read = 0
      while (read < 4) {
        val n = in.read(mask, read, 4 - read)
        if (n < 0) return None
        read += n
      }
    }
    val payload = new Array[Byte](len.toInt)
    var off = 0
    while (off < len) {
      val n = in.read(payload, off, len.toInt - off)
      if (n < 0) return None
      off += n
    }
    if (masked) {
      var i = 0
      while (i < payload.length) {
        payload(i) = (payload(i) ^ mask(i % 4)).toByte
        i += 1
      }
    }
    Some((opcode, payload))
  }

  /** One unmasked (server→client) frame, FIN set. */
  private def writeFrame(out: OutputStream, opcode: Int,
      payload: Array[Byte]): Unit = {
    out.write(0x80 | opcode)
    val n = payload.length
    if (n < 126) out.write(n)
    else if (n < 65536) {
      out.write(126); out.write(n >> 8); out.write(n & 0xFF)
    } else {
      out.write(127)
      (7 to 0 by -1).foreach(s => out.write(((n.toLong >> (8 * s)) & 0xFF).toInt))
    }
    out.write(payload)
    out.flush()
  }

  private def httpError(out: OutputStream, code: Int, msg: String): Unit = {
    val body = s"""{"error":${HttpApiServer.jstr(msg)}}"""
    val reason = code match {
      case 400 => "Bad Request"
      case 404 => "Not Found"
      case _   => "Error"
    }
    out.write((s"HTTP/1.1 $code $reason\r\n" +
      "Content-Type: application/json\r\n" +
      s"Content-Length: ${body.getBytes(StandardCharsets.UTF_8).length}\r\n" +
      "Connection: close\r\n\r\n" + body)
      .getBytes(StandardCharsets.UTF_8))
    out.flush()
  }
}
