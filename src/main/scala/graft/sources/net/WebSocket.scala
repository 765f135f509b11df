package graft.sources.net

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64

/** Minimal RFC 6455 websocket framing over plain sockets — just enough
  * protocol for the reference's surface: `from_websocket` (a LISTENER whose
  * clients push messages, sources.py:798-838) and `to_websocket` (a client
  * that sends each event as one message, sinks.py:198-232). No extensions,
  * no fragmentation reassembly beyond FIN frames, text/binary payloads
  * returned as UTF-8 strings; PING answered with PONG, CLOSE echoed.
  *
  * Deliberately dependency-free: the container allows no extra libraries,
  * and the ~150 lines below are the entire subset these operators need.
  */
object WebSocket {
  private val MagicGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  private[net] def acceptKey(clientKey: String): String =
    Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1")
        .digest((clientKey + MagicGuid).getBytes(StandardCharsets.UTF_8)))

  /** Read CRLF-delimited header lines until the blank line; returns them. */
  private def readHeaders(in: InputStream): Seq[String] = {
    val lines = Vector.newBuilder[String]
    val cur = new StringBuilder
    var prev = -1
    var c = in.read()
    while (c != -1 && !(prev == '\r' && c == '\n' && cur.isEmpty)) {
      if (prev == '\r' && c == '\n') {
        lines += cur.toString(); cur.clear()
      } else if (c != '\r') cur.append(c.toChar)
      prev = if (c == '\n') -1 else c
      c = in.read()
    }
    lines.result()
  }

  private def headerValue(headers: Seq[String], name: String): Option[String] =
    headers.collectFirst {
      case h if h.toLowerCase.startsWith(name.toLowerCase + ":") =>
        h.substring(name.length + 1).trim
    }

  /** Write one frame. Client→server frames MUST be masked (RFC 6455 §5.3). */
  private[net] def writeFrame(out: OutputStream, opcode: Int, payload: Array[Byte],
      masked: Boolean): Unit = {
    out.write(0x80 | opcode) // FIN + opcode
    val maskBit = if (masked) 0x80 else 0x00
    val n = payload.length
    if (n < 126) out.write(maskBit | n)
    else if (n < 65536) {
      out.write(maskBit | 126); out.write(n >> 8); out.write(n & 0xFF)
    } else {
      out.write(maskBit | 127)
      var i = 7
      while (i >= 0) { out.write(((n.toLong >> (8 * i)) & 0xFF).toInt); i -= 1 }
    }
    if (masked) {
      val mask = new Array[Byte](4)
      new java.security.SecureRandom().nextBytes(mask)
      out.write(mask)
      val m = payload.clone()
      var i = 0
      while (i < m.length) { m(i) = (m(i) ^ mask(i % 4)).toByte; i += 1 }
      out.write(m)
    } else out.write(payload)
    out.flush()
  }

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new java.io.EOFException("websocket peer closed mid-frame")
      off += r
    }
    b
  }

  /** (opcode, payload) of the next frame, unmasking if needed. */
  private[net] def readFrame(in: InputStream): (Int, Array[Byte]) = {
    val b0 = in.read()
    if (b0 == -1) return (8, Array.empty) // EOF ≙ close
    val opcode = b0 & 0x0F
    val b1 = in.read()
    val masked = (b1 & 0x80) != 0
    var len: Long = b1 & 0x7F
    if (len == 126) { val e = readFully(in, 2); len = ((e(0) & 0xFF) << 8) | (e(1) & 0xFF) }
    else if (len == 127) {
      val e = readFully(in, 8)
      len = e.foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xFF))
    }
    val mask = if (masked) readFully(in, 4) else null
    val payload = readFully(in, len.toInt)
    if (masked) {
      var i = 0
      while (i < payload.length) { payload(i) = (payload(i) ^ mask(i % 4)).toByte; i += 1 }
    }
    (opcode, payload)
  }

  /** Client connection: TCP + upgrade handshake; `send` pushes one masked
    * text message per call (the sink's contract).
    */
  final class Client(host: String, port: Int, path: String = "/") {
    private val sock = new Socket()
    sock.connect(new InetSocketAddress(host, port), 10000)
    private val out = new BufferedOutputStream(sock.getOutputStream)
    private val in = new BufferedInputStream(sock.getInputStream)
    locally {
      val key = Base64.getEncoder.encodeToString {
        val b = new Array[Byte](16); new java.security.SecureRandom().nextBytes(b); b
      }
      val req = s"GET $path HTTP/1.1\r\nHost: $host:$port\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Key: $key\r\nSec-WebSocket-Version: 13\r\n\r\n"
      out.write(req.getBytes(StandardCharsets.UTF_8)); out.flush()
      val headers = readHeaders(in)
      require(headers.headOption.exists(_.contains("101")),
        s"websocket handshake refused: ${headers.headOption.getOrElse("<EOF>")}")
      val want = acceptKey(key)
      require(headerValue(headers, "Sec-WebSocket-Accept").contains(want),
        "websocket handshake: bad Sec-WebSocket-Accept")
    }
    def send(text: String): Unit =
      writeFrame(out, 1, text.getBytes(StandardCharsets.UTF_8), masked = true)
    def close(): Unit = {
      try writeFrame(out, 8, Array.empty, masked = true)
      catch { case _: java.io.IOException => () }
      sock.close()
    }
  }

  /** Listening server (the `from_websocket` edge): accepts any number of
    * clients, performs the upgrade handshake, and invokes `onMessage` for
    * every text/binary frame. PING→PONG, CLOSE ends that client's loop.
    */
  final class Server(host: String, port: Int)(onMessage: String => Unit) {
    private val server = new ServerSocket()
    server.bind(new InetSocketAddress(host, port))
    @volatile private var running = true

    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val client = server.accept()
          val t = new Thread(() => serve(client), "graft-ws-conn")
          t.setDaemon(true); t.start()
        } catch { case _: java.io.IOException => () /* closed */ }
      }
    }, "graft-ws-accept")
    acceptor.setDaemon(true)
    acceptor.start()

    private def serve(sock: Socket): Unit = {
      try {
        val in = new BufferedInputStream(sock.getInputStream)
        val out = new BufferedOutputStream(sock.getOutputStream)
        val headers = readHeaders(in)
        val key = headerValue(headers, "Sec-WebSocket-Key")
          .getOrElse(throw new java.io.IOException("not a websocket upgrade"))
        val resp = "HTTP/1.1 101 Switching Protocols\r\n" +
          "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
          s"Sec-WebSocket-Accept: ${acceptKey(key)}\r\n\r\n"
        out.write(resp.getBytes(StandardCharsets.UTF_8)); out.flush()
        var open = true
        while (open && running) {
          val (opcode, payload) = readFrame(in)
          opcode match {
            case 1 | 2 => onMessage(new String(payload, StandardCharsets.UTF_8))
            case 9     => writeFrame(out, 10, payload, masked = false) // ping→pong
            case 8     => try writeFrame(out, 8, Array.empty, masked = false)
                          catch { case _: java.io.IOException => () }
                          open = false
            case _     => () // continuation/pong: ignore
          }
        }
      } catch { case _: java.io.IOException => () }
      finally sock.close()
    }

    def close(): Unit = { running = false; server.close() }
  }
}
