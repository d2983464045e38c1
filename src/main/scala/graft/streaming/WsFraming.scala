package graft.streaming

import java.io.{ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal RFC 6455 WebSocket layer for the uTP adapter — the reference
  * server also listens for its wire protocol over WebSocket
  * (server/internal/net/server.go routes ws:// listeners into the same
  * packet loop as tcp://), so a reference client configured for a ws
  * endpoint can reach [[UtpServer]] too.
  *
  * Scope: exactly what framing a point-to-point binary protocol needs —
  * the HTTP/1.1 upgrade handshake, binary/continuation frames with
  * client-side masking, ping/pong, close. No extensions, no
  * subprotocol negotiation, no fragmentation on send (one uTP packet
  * flush = one binary frame; receive handles fragmented peers fine
  * because the byte stream is reassembled transparently). Hand-rolled on
  * the JDK only — the zero-egress build allows no websocket dependency,
  * and the whole layer is ~200 lines.
  *
  * Composition: [[wsIn]]/[[wsOut]] wrap a socket's raw streams into
  * plain InputStream/OutputStream carrying the *payload* byte stream, so
  * [[UtpCodec.readPacket]] and the server's packet loop run unchanged on
  * top — WS is a transport detail, not a protocol branch. */
object WsFraming {
  import UtpCodec.readFully

  private val Guid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  /** Subprotocols this endpoint speaks: the reference's grpc-web face is
    * the same uTP byte stream negotiated under this name. */
  private val Subprotocols = Set("grpc_web")

  /** Sec-WebSocket-Accept for a client key (RFC 6455 §4.2.2). */
  def acceptKey(key: String): String =
    java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1")
        .digest((key + Guid).getBytes(UTF_8)))

  /** Read HTTP/1.1 header lines up to the blank line. Bounded in SIZE
    * (16 KiB — a peer streaming garbage must not grow the buffer) and
    * in WALL TIME: a socket SO_TIMEOUT alone is a per-READ idle bound,
    * so a slow-loris peer trickling one byte per timeout window could
    * pin the handshake thread for hours — the deadline caps the whole
    * header read regardless of trickle cadence. */
  private def readHttpHeader(in: InputStream,
      deadlineMs: Long = 10000): Seq[String] = {
    val deadline = System.nanoTime() + deadlineMs * 1000000L
    val buf = new ByteArrayOutputStream()
    var prev3 = 0; var prev2 = 0; var prev1 = 0
    var b = in.read()
    while (b >= 0 && !(prev3 == '\r' && prev2 == '\n' && prev1 == '\r' && b == '\n')) {
      buf.write(b)
      require(buf.size <= 16384, "HTTP header longer than 16 KiB")
      require(System.nanoTime() - deadline < 0,
        s"handshake header not complete within ${deadlineMs}ms")
      prev3 = prev2; prev2 = prev1; prev1 = b
      b = in.read()
    }
    if (b < 0) throw new EOFException("stream closed mid-handshake")
    new String(buf.toByteArray, UTF_8).split("\r\n").toSeq
  }

  private def headerValue(lines: Seq[String], name: String): Option[String] =
    lines.collectFirst {
      case l if l.regionMatches(true, 0, name + ":", 0, name.length + 1) =>
        l.substring(name.length + 1).trim
    }

  /** ALL values of a repeatable header, comma-split: RFC 6455 rides on
    * RFC 7230 §3.2.2 list syntax, so `Sec-WebSocket-Protocol: a, b` and
    * two separate header lines are equivalent offers — a client putting
    * grpc_web on its second line must still get its confirmation. */
  private def headerValues(lines: Seq[String], name: String): Seq[String] =
    lines.collect {
      case l if l.regionMatches(true, 0, name + ":", 0, name.length + 1) =>
        l.substring(name.length + 1)
    }.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Server side of the upgrade: read the GET, answer 101. Throws on a
    * non-upgrade request (the caller drops the connection).
    *
    * A requested subprotocol is echoed back (first offered wins): the
    * reference's grpc-web transport is exactly this WS byte-stream
    * carrying uTP packets, negotiated under `Sec-WebSocket-Protocol:
    * grpc_web` (server/internal/net/hdl_grpc_web.go:91-94 — its
    * upgrader advertises the subprotocol, and its gorilla client
    * REJECTS a 101 that doesn't confirm one it asked for). Echoing
    * makes this listener the grpc-web face with zero extra framing. */
  def serverHandshake(in: InputStream, out: OutputStream): Unit = {
    val lines = readHttpHeader(in)
    require(lines.nonEmpty && lines.head.startsWith("GET "),
      s"not a WebSocket upgrade: ${lines.headOption.getOrElse("<empty>")}")
    val upgrade = headerValue(lines, "Upgrade").exists(
      _.equalsIgnoreCase("websocket"))
    val key = headerValue(lines, "Sec-WebSocket-Key")
    require(upgrade && key.nonEmpty, "missing Upgrade/Sec-WebSocket-Key")
    // confirm only subprotocols this endpoint actually speaks (RFC 6455
    // §4.2.2 — the server SELECTS from protocols it supports): grpc_web
    // is the uTP byte stream under another name (hdl_grpc_web.go), so
    // it's the one entry; an incompatible offer (say, an MQTT-over-WS
    // client) gets no confirmation instead of a misleading echo
    val proto = headerValues(lines, "Sec-WebSocket-Protocol")
      .find(Subprotocols.contains)
    val resp = "HTTP/1.1 101 Switching Protocols\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Accept: ${acceptKey(key.get)}\r\n" +
      proto.map(p => s"Sec-WebSocket-Protocol: $p\r\n").getOrElse("") +
      "\r\n"
    out.write(resp.getBytes(UTF_8)); out.flush()
  }

  /** Client side of the upgrade: send the GET, verify 101 + accept key.
    * A non-null `subprotocol` is requested and its echo REQUIRED, the
    * gorilla-client behavior reference grpc-web peers exhibit. */
  def clientHandshake(in: InputStream, out: OutputStream, host: String,
      path: String = "/", subprotocol: String = null): Unit = {
    val nonce = new Array[Byte](16)
    new java.security.SecureRandom().nextBytes(nonce)
    val key = java.util.Base64.getEncoder.encodeToString(nonce)
    val req = s"GET $path HTTP/1.1\r\nHost: $host\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Key: $key\r\nSec-WebSocket-Version: 13\r\n" +
      Option(subprotocol).map(p => s"Sec-WebSocket-Protocol: $p\r\n").getOrElse("") +
      "\r\n"
    out.write(req.getBytes(UTF_8)); out.flush()
    val lines = readHttpHeader(in)
    require(lines.nonEmpty && lines.head.contains(" 101 "),
      s"upgrade refused: ${lines.headOption.getOrElse("<empty>")}")
    require(headerValue(lines, "Sec-WebSocket-Accept").contains(acceptKey(key)),
      "Sec-WebSocket-Accept mismatch")
    Option(subprotocol).foreach { p =>
      require(headerValue(lines, "Sec-WebSocket-Protocol").contains(p),
        s"server did not confirm subprotocol $p")
    }
  }

  /** Serialized frame writer over one raw stream — data frames and the
    * reader's pong replies interleave safely through the same monitor. */
  final class FrameWriter(raw: OutputStream, maskFrames: Boolean) {
    // RFC 6455 §10.3: masking keys must be unpredictable to a hostile
    // intermediary (they exist to defeat proxy cache poisoning), so they
    // come from SecureRandom like the handshake nonce — 4 bytes/frame is
    // noise next to the frame write itself.
    private val rnd = new java.security.SecureRandom()
    def writeFrame(opcode: Int, payload: Array[Byte]): Unit = synchronized {
      val head = new ByteArrayOutputStream()
      head.write(0x80 | opcode) // FIN + opcode
      val maskBit = if (maskFrames) 0x80 else 0x00
      val n = payload.length
      if (n < 126) head.write(maskBit | n)
      else if (n < 65536) {
        head.write(maskBit | 126); head.write(n >>> 8); head.write(n & 0xff)
      } else {
        head.write(maskBit | 127)
        var i = 56
        while (i >= 0) { head.write(((n.toLong >>> i) & 0xff).toInt); i -= 8 }
      }
      raw.write(head.toByteArray)
      if (maskFrames) {
        val mask = new Array[Byte](4)
        rnd.nextBytes(mask)
        raw.write(mask)
        val masked = new Array[Byte](n)
        var i = 0
        while (i < n) { masked(i) = (payload(i) ^ mask(i & 3)).toByte; i += 1 }
        raw.write(masked)
      } else raw.write(payload)
      raw.flush()
    }
  }

  /** Payload byte stream over incoming frames: binary/continuation data
    * feeds reads; pings answer through `writer`; close/EOF read as -1.
    *
    * `expectMasked` enforces RFC 6455 §5.1's masking direction: a server
    * MUST fail the connection on an unmasked client frame, and a client
    * MUST fail it on a masked server frame — lenient parsing would let a
    * broken peer limp along here and then break against spec-compliant
    * reference endpoints. */
  final class WsInputStream(raw: InputStream, writer: FrameWriter,
      expectMasked: Boolean) extends InputStream {
    private var buf: Array[Byte] = Array.emptyByteArray
    private var pos = 0
    private var eof = false

    private def nextDataFrame(): Unit = {
      while (!eof && pos >= buf.length) {
        val b0 = raw.read()
        if (b0 < 0) { eof = true; return }
        val opcode = b0 & 0x0f
        val b1 = raw.read()
        if (b1 < 0) throw new EOFException("stream closed mid-frame")
        val masked = (b1 & 0x80) != 0
        require(masked == expectMasked,
          s"ws frame mask bit $masked violates RFC 6455 §5.1 (expected $expectMasked)")
        var len: Long = b1 & 0x7f
        if (len == 126) {
          val e = readFully(raw, 2)
          len = ((e(0) & 0xff) << 8) | (e(1) & 0xff)
        } else if (len == 127) {
          val e = readFully(raw, 8)
          len = 0L
          var i = 0
          while (i < 8) { len = (len << 8) | (e(i) & 0xff); i += 1 }
        }
        require(len >= 0 && len <= (1L << 26),
          s"implausible ws frame length $len") // same 64 MiB cap as UtpCodec
        val mask = if (masked) readFully(raw, 4) else null
        val payload = readFully(raw, len.toInt)
        if (masked) {
          var i = 0
          while (i < payload.length) {
            payload(i) = (payload(i) ^ mask(i & 3)).toByte; i += 1
          }
        }
        opcode match {
          case 0x1 | 0x2 | 0x0 => buf = payload; pos = 0 // data (any kind)
          case 0x8 => // close: echo once, then EOF
            try writer.writeFrame(0x8, Array.emptyByteArray)
            catch { case _: Exception => () }
            eof = true
          case 0x9 => writer.writeFrame(0xA, payload) // ping → pong
          case 0xA => () // unsolicited pong: skip
          case other =>
            throw new IllegalArgumentException(s"unsupported ws opcode $other")
        }
      }
    }

    override def read(): Int = {
      nextDataFrame()
      if (eof && pos >= buf.length) -1
      else { val v = buf(pos) & 0xff; pos += 1; v }
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      nextDataFrame()
      if (eof && pos >= buf.length) return -1
      val n = math.min(len, buf.length - pos)
      System.arraycopy(buf, pos, b, off, n)
      pos += n
      n
    }
  }

  /** Payload stream out: bytes buffer until flush(), which sends ONE
    * binary frame — a uTP packet write+flush maps to exactly one frame. */
  final class WsOutputStream(writer: FrameWriter) extends OutputStream {
    private val pend = new ByteArrayOutputStream()
    override def write(b: Int): Unit = pend.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      pend.write(b, off, len)
    override def flush(): Unit = if (pend.size > 0) {
      writer.writeFrame(0x2, pend.toByteArray)
      pend.reset()
    }
    override def close(): Unit = {
      flush()
      try writer.writeFrame(0x8, Array.emptyByteArray)
      catch { case _: Exception => () }
    }
  }

  /** Wrap a connected socket's streams as the WS payload byte stream
    * (call after the handshake). `maskFrames` = true on the client side
    * (RFC 6455 §5.3 requires client→server masking). */
  def wrap(rawIn: InputStream, rawOut: OutputStream,
      maskFrames: Boolean): (InputStream, OutputStream) = {
    val w = new FrameWriter(rawOut, maskFrames)
    // masking is strictly one-directional (§5.1): whichever side masks its
    // own frames must receive unmasked ones, and vice versa
    (new WsInputStream(rawIn, w, expectMasked = !maskFrames), new WsOutputStream(w))
  }
}
