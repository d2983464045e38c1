package graft.streaming

import java.io.{ByteArrayOutputStream, EOFException, IOException, InputStream, OutputStream}
import java.util.concurrent.LinkedBlockingQueue

import io.netty.buffer.Unpooled
import io.netty.handler.codec.http2.{DefaultHttp2Headers, DefaultHttp2HeadersDecoder, DefaultHttp2HeadersEncoder, Http2Headers}

/** Minimal HTTP/2 (RFC 7540) + gRPC layer for the uTP adapter — the
  * reference server's third transport (`server/internal/net/hdl_grpc.go`:
  * a grpc-go server whose one rpc, `Stream (stream Packet) returns
  * (stream Packet)` per `server/proto/unitdb.proto:7-10`, is a duplex
  * byte pipe: each `Packet.data` carries a chunk of the SAME uTP packet
  * stream that flows raw over tcp://). This file gives [[UtpServer]] and
  * [[UtpClient]] that face, so a reference client configured for grpc://
  * reaches the same packet loop as tcp:// and ws://.
  *
  * Scope — exactly what one bidi-streaming RPC needs, spec-compliant on
  * the wire: connection preface, SETTINGS exchange, HEADERS (+
  * CONTINUATION, padding, priority-weight skip), DATA with both-level
  * flow control (instant replenish inbound, window-respecting writes
  * outbound), PING ack, RST_STREAM/GOAWAY teardown, trailers. HPACK —
  * the stateful 40% of HTTP/2 — is Netty's public header codec
  * (`DefaultHttp2HeadersDecoder`/`Encoder`, full dynamic table + Huffman,
  * already on the Spark classpath), so real grpc clients' Huffman-coded,
  * incrementally-indexed header blocks decode correctly; framing and flow
  * control are hand-rolled on the JDK against the RFC, in the blocking
  * one-thread-per-connection style of the rest of the adapter.
  *
  * Composition mirrors [[WsFraming]]: a stream surfaces as plain
  * InputStream/OutputStream carrying the uTP byte stream (gRPC 5-byte
  * message framing and the one-field `Packet` protobuf are transparent),
  * so [[UtpCodec.readPacket]] and the server's packet loop run unchanged
  * on top — gRPC is a transport detail, not a protocol branch. */
object H2Framing {
  import UtpCodec.readFully

  /** gRPC path of the reference's one rpc (unitdb.proto: package
    * unitdb.schema, service Unitdb, rpc Stream). */
  val StreamPath = "/unitdb.schema.Unitdb/Stream"

  private val Preface = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("US-ASCII")

  // RFC 7540 §6 frame types
  private val DATA = 0x0
  private val HEADERS = 0x1
  private val RST_STREAM = 0x3
  private val SETTINGS = 0x4
  private val PING = 0x6
  private val GOAWAY = 0x7
  private val WINDOW_UPDATE = 0x8
  private val CONTINUATION = 0x9
  // flags
  private val FlagEndStream = 0x1
  private val FlagAck = 0x1
  private val FlagEndHeaders = 0x4
  private val FlagPadded = 0x8
  private val FlagPriority = 0x20

  private val Empty = Array.emptyByteArray

  /** Advertised + enforced SETTINGS_MAX_CONCURRENT_STREAMS (server
    * role): each rpc stream is one serve thread, so the cap bounds the
    * thread amplification a single connection can cause. */
  private val MaxStreams = 100

  private def be32(v: Long): Array[Byte] =
    Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def readBe32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  // ------------------------------------------------------- Packet proto
  // message Packet { bytes data = 1; } — the only protobuf on this wire.

  /** Encode one uTP byte-stream chunk as a Packet message. */
  def packetProto(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + 6)
    out.write(0x0a) // field 1, wire type 2
    var v = data.length
    while ((v & ~0x7f) != 0) { out.write((v & 0x7f) | 0x80); v >>>= 7 }
    out.write(v)
    out.write(data)
    out.toByteArray
  }

  /** Decode Packet.data, tolerating unknown fields (proto3 contract). */
  def packetData(msg: Array[Byte]): Array[Byte] = {
    val r = new UtpCodec.Reader(msg)
    var data = Empty
    while (r.hasMore) {
      val tag = r.varint()
      val wt = (tag & 7).toInt
      if ((tag >>> 3) == 1 && wt == 2) data = r.bytes() else r.skip(wt)
    }
    data
  }

  // ------------------------------------------------------ gRPC framing
  // Each gRPC message: [compressed flag (1)][length (4, BE)][Packet].

  /** uTP byte stream out of the gRPC message stream. */
  final class GrpcIn(h2: InputStream) extends InputStream {
    private var cur: Array[Byte] = Empty
    private var pos = 0
    private var eof = false
    private def fill(): Unit = while (!eof && pos >= cur.length) {
      val head = new Array[Byte](5)
      var off = 0
      var end = false
      while (off < 5 && !end) {
        val k = h2.read(head, off, 5 - off)
        if (k < 0) { require(off == 0, "stream closed mid gRPC frame"); end = true }
        else off += k
      }
      if (end) { eof = true; return }
      require(head(0) == 0, "compressed gRPC messages unsupported (no grpc-encoding negotiated)")
      val n = readBe32(head, 1).toInt
      require(n >= 0 && n <= (1 << 26), s"implausible gRPC message length $n")
      cur = packetData(readFully(h2, n))
      pos = 0
    }
    override def read(): Int = {
      fill()
      if (eof) -1 else { val v = cur(pos) & 0xff; pos += 1; v }
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      fill()
      if (eof) return -1
      val n = math.min(len, cur.length - pos)
      System.arraycopy(cur, pos, b, off, n)
      pos += n
      n
    }
  }

  /** uTP bytes buffer until flush(), which sends ONE gRPC message (one
    * uTP packet write+flush = one Packet, the reference client cadence). */
  final class GrpcOut(h2: OutputStream) extends OutputStream {
    private val pend = new ByteArrayOutputStream()
    override def write(b: Int): Unit = pend.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      pend.write(b, off, len)
    override def flush(): Unit = if (pend.size > 0) {
      val pb = packetProto(pend.toByteArray)
      pend.reset()
      h2.write(0)
      h2.write(be32(pb.length.toLong))
      h2.write(pb)
      h2.flush()
    }
    override def close(): Unit = { flush(); h2.close() }
  }

  // ---------------------------------------------------------- the peer

  private case object Eof
  /** Inbound DATA chunk + the FULL frame length it consumed from the
    * peer's view of our stream window (padding included): the consumer
    * acks exactly that many bytes back when it dequeues the chunk. */
  private final case class Chunk(data: Array[Byte], frameLen: Int)

  /** One HTTP/2 connection, either role. The reader loop runs on the
    * caller's thread ([[serveLoop]]) or a daemon ([[H2Client]]); writes
    * from any thread serialize through the writer lock (HPACK encode and
    * block write are atomic together — header blocks must hit the wire
    * in encode order or the peer's dynamic table desynchronizes). */
  final class H2Peer(in: InputStream, rawOut: OutputStream, isServer: Boolean,
      /** Server role: called per accepted stream with (headers, in, out);
        * return false to refuse with grpc-status 12 (UNIMPLEMENTED). */
      onStream: (Http2Headers, InputStream, OutputStream) => Boolean) {

    private val hpackDec = new DefaultHttp2HeadersDecoder(false)
    private val hpackEnc = new DefaultHttp2HeadersEncoder()
    private val writerLock = new Object
    @volatile private var closed = false

    // outbound flow control (RFC 7540 §6.9): both windows start at 65535
    // and grow with peer SETTINGS/WINDOW_UPDATEs; writes block on empty
    private val windowLock = new Object
    private var connWindow: Long = 65535L
    private var peerInitialWindow: Long = 65535L
    private var peerMaxFrame: Int = 16384

    private final class StreamState(val id: Int) {
      val inQ = new LinkedBlockingQueue[AnyRef]()
      var outWindow: Long = peerInitialWindow // guarded by windowLock
      @volatile var dead = false              // RST or connection gone
      @volatile var remoteDone = false        // peer sent END_STREAM
      @volatile var localDone = false         // we sent END_STREAM
      @volatile var grpcStatus: String = null // from trailers (client side)
    }

    /** A long-lived connection churning short rpc streams must not grow
      * the registry forever: a stream leaves it once BOTH directions are
      * done (or on RST / connection teardown). */
    private def reapIfDone(st: StreamState): Unit =
      if (st.localDone && st.remoteDone) streams.remove(st.id): Unit
    private val streams =
      new java.util.concurrent.ConcurrentHashMap[Int, StreamState]()
    private val clientIds = new java.util.concurrent.atomic.AtomicInteger(-1)

    private def writeFrame(tpe: Int, flags: Int, sid: Int,
        payload: Array[Byte]): Unit = writerLock.synchronized {
      rawOut.write(Array(
        ((payload.length >>> 16) & 0xff).toByte,
        ((payload.length >>> 8) & 0xff).toByte,
        (payload.length & 0xff).toByte,
        tpe.toByte, flags.toByte))
      rawOut.write(be32(sid.toLong & 0x7fffffffL))
      rawOut.write(payload)
      rawOut.flush()
    }

    /** HPACK encode + HEADERS write, atomic (see class note). Oversized
      * blocks would need CONTINUATION on send; our header sets are tiny
      * (≤5 short entries), far under every real SETTINGS_MAX_FRAME_SIZE. */
    private def writeHeaders(sid: Int, h: Http2Headers, endStream: Boolean): Unit =
      writerLock.synchronized {
        val buf = Unpooled.buffer(256)
        try {
          hpackEnc.encodeHeaders(sid, h, buf)
          val block = new Array[Byte](buf.readableBytes())
          buf.readBytes(block)
          rawOut.write(Array(
            ((block.length >>> 16) & 0xff).toByte,
            ((block.length >>> 8) & 0xff).toByte,
            (block.length & 0xff).toByte,
            HEADERS.toByte,
            (FlagEndHeaders | (if (endStream) FlagEndStream else 0)).toByte))
          rawOut.write(be32(sid.toLong))
          rawOut.write(block)
          rawOut.flush()
        } finally buf.release(): Unit
      }

    private def writeData(st: StreamState, data: Array[Byte],
        endStream: Boolean): Unit = {
      var off = 0
      do {
        var n = 0
        windowLock.synchronized {
          while (!st.dead && !closed && data.length > off &&
              math.min(connWindow, st.outWindow) <= 0)
            windowLock.wait(1000)
          if (st.dead || closed) throw new IOException("h2 stream closed")
          n = math.min(
            math.min(data.length - off, peerMaxFrame).toLong,
            if (data.length == off) 0L else math.min(connWindow, st.outWindow)).toInt
          connWindow -= n
          st.outWindow -= n
        }
        val last = off + n == data.length
        writeFrame(DATA, if (endStream && last) FlagEndStream else 0, st.id,
          java.util.Arrays.copyOfRange(data, off, off + n))
        off += n
      } while (off < data.length)
    }

    /** Blocking byte stream over one h2 stream's DATA frames. */
    private final class StreamIn(st: StreamState) extends InputStream {
      private var cur: Array[Byte] = Empty
      private var pos = 0
      private var eof = false
      private def fill(): Unit = while (!eof && pos >= cur.length) {
        st.inQ.take() match {
          case Chunk(b, frameLen) =>
            cur = b; pos = 0
            // deferred stream-window ack: the peer may now send the next
            // frameLen bytes on this stream (see the DATA case)
            if (!closed && !st.dead && !st.remoteDone)
              try writeFrame(WINDOW_UPDATE, 0, st.id, be32(frameLen.toLong))
              catch { case _: IOException => () }
          case _ => eof = true
        }
      }
      /** A non-OK grpc-status in the trailers must surface as an ERROR,
        * not dissolve into a clean EOF a caller would read as "stream
        * complete" (client role; our server only ever sends 0 or the
        * trailers-only 12 refusal, which carries no data to confuse). */
      private def endOfStream(): Int = {
        val s = st.grpcStatus
        if (s != null && s != "0")
          throw new IOException(s"rpc failed: grpc-status $s")
        -1
      }
      override def read(): Int = {
        fill()
        if (eof) endOfStream()
        else { val v = cur(pos) & 0xff; pos += 1; v }
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (len == 0) return 0
        fill()
        if (eof) return endOfStream()
        val n = math.min(len, cur.length - pos)
        System.arraycopy(cur, pos, b, off, n)
        pos += n
        n
      }
    }

    /** DATA frames out; close() ends the stream in the role's idiom —
      * server: trailers `grpc-status: 0` + END_STREAM; client: empty
      * DATA + END_STREAM (half-close, request trailers aren't a thing). */
    private final class StreamOut(st: StreamState) extends OutputStream {
      private val pend = new ByteArrayOutputStream()
      private val doneOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
      override def write(b: Int): Unit = pend.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        pend.write(b, off, len)
      override def flush(): Unit = if (pend.size > 0) {
        val d = pend.toByteArray
        pend.reset()
        writeData(st, d, endStream = false)
      }
      override def close(): Unit = if (doneOnce.compareAndSet(false, true)) {
        try flush() catch { case _: IOException => () }
        try {
          if (isServer) {
            val trailers = new DefaultHttp2Headers(false)
            trailers.set("grpc-status", "0")
            writeHeaders(st.id, trailers, endStream = true)
          } else writeData(st, Empty, endStream = true)
        } catch { case _: Exception => () }
        st.localDone = true
        reapIfDone(st)
      }
    }

    /** The connection-preface SETTINGS frame (client role calls this
      * before its first HEADERS; server role sends inside serveLoop). */
    def sendSettings(): Unit = writeFrame(SETTINGS, 0, 0, Empty)

    /** Live streams in the registry — the churn-leak regression probe. */
    private[streaming] def openStreams: Int = streams.size

    /** Client role: open the bidi stream; returns its byte streams. */
    def openStream(path: String, authority: String): (InputStream, OutputStream) = {
      require(!isServer, "openStream is client-side")
      val sid = clientIds.addAndGet(2) // 1, 3, 5... (client streams are odd)
      // §5.1.1: stream ids are 31-bit and never reused — an exhausted
      // connection must fail loudly (callers open a new connection),
      // not wrap into ids the server would reject or, worse, accept
      require(sid > 0, "h2 stream ids exhausted — open a new connection")
      val st = new StreamState(sid)
      streams.put(sid, st)
      val h = new DefaultHttp2Headers(false)
      h.method("POST")
      h.scheme("http")
      h.path(path)
      h.authority(authority)
      h.set("content-type", "application/grpc")
      h.set("te", "trailers")
      writeHeaders(sid, h, endStream = false)
      (new StreamIn(st), new StreamOut(st))
    }

    /** Reader loop; runs until EOF/GOAWAY. Call on a dedicated thread. */
    def serveLoop(): Unit = {
      try {
        if (isServer) {
          val pre = readFully(in, Preface.length)
          require(java.util.Arrays.equals(pre, Preface), "bad h2 preface")
          // our SETTINGS: defaults except MAX_CONCURRENT_STREAMS — one
          // rpc stream is one serve thread, so a single connection must
          // not amplify into unbounded daemons (the reference's grpc-go
          // default is 100 too). Windows stay at 64 KiB: we replenish
          // inbound instantly, so they never throttle a peer. The
          // client role sends its SETTINGS synchronously in clientStream
          // — it must precede the first HEADERS on the wire, which a
          // race with this loop's startup wouldn't ensure.
          writeFrame(SETTINGS, 0, 0, Array[Byte](
            0, 3, // SETTINGS_MAX_CONCURRENT_STREAMS
            ((MaxStreams >>> 24) & 0xff).toByte, ((MaxStreams >>> 16) & 0xff).toByte,
            ((MaxStreams >>> 8) & 0xff).toByte, (MaxStreams & 0xff).toByte))
        }

        // HEADERS + CONTINUATION accumulation state (one block at a time
        // per RFC 7540 §4.3 — no interleaving to worry about)
        var headerSid = 0
        var headerEndStream = false
        val headerBlock = new ByteArrayOutputStream()

        var open = true
        var firstFrame = true
        while (open && !closed) {
          val head =
            try readFully(in, 9)
            catch { case _: EOFException => open = false; null }
          if (head != null) {
            val len = ((head(0) & 0xff) << 16) | ((head(1) & 0xff) << 8) | (head(2) & 0xff)
            val tpe = head(3) & 0xff
            val flags = head(4) & 0xff
            val sid = (readBe32(head, 5) & 0x7fffffffL).toInt
            require(len <= (1 << 24), s"implausible h2 frame length $len")
            // §3.5: the peer's preface ends with a SETTINGS frame —
            // anything else first is a protocol error, and lenient
            // parsing here would let a confused peer (or an HTTP/1.1
            // client that skipped the preface check) limp along
            require(!firstFrame || tpe == SETTINGS,
              s"first frame must be SETTINGS, got type $tpe")
            firstFrame = false
            val payload = readFully(in, len)

            def depadded: Array[Byte] = {
              var from = 0
              var to = payload.length
              if ((flags & FlagPadded) != 0) { from += 1; to -= payload(0) & 0xff }
              if (tpe == HEADERS && (flags & FlagPriority) != 0) from += 5
              require(from <= to, "padding overruns frame")
              java.util.Arrays.copyOfRange(payload, from, to)
            }

            tpe match {
              case SETTINGS if (flags & FlagAck) == 0 =>
                var i = 0
                while (i + 6 <= payload.length) {
                  val id = ((payload(i) & 0xff) << 8) | (payload(i + 1) & 0xff)
                  val v = readBe32(payload, i + 2)
                  id match {
                    case 4 => windowLock.synchronized {
                      // §6.9.2: a new INITIAL_WINDOW_SIZE re-bases every
                      // open stream's window by the delta
                      val delta = v - peerInitialWindow
                      peerInitialWindow = v
                      streams.values.forEach(s => s.outWindow += delta)
                      windowLock.notifyAll()
                    }
                    case 5 =>
                      peerMaxFrame = math.max(16384, math.min(v, 1L << 24).toInt)
                    case _ => ()
                  }
                  i += 6
                }
                writeFrame(SETTINGS, FlagAck, 0, Empty)
              case SETTINGS => () // our ack came back

              case PING if (flags & FlagAck) == 0 =>
                writeFrame(PING, FlagAck, 0, payload)
              case PING => ()

              case WINDOW_UPDATE =>
                val inc = readBe32(payload, 0) & 0x7fffffffL
                windowLock.synchronized {
                  if (sid == 0) connWindow += inc
                  else Option(streams.get(sid)).foreach(_.outWindow += inc)
                  windowLock.notifyAll()
                }

              case HEADERS | CONTINUATION =>
                if (tpe == HEADERS) {
                  headerSid = sid
                  headerEndStream = (flags & FlagEndStream) != 0
                  headerBlock.reset()
                }
                headerBlock.write(if (tpe == HEADERS) depadded else payload)
                if ((flags & FlagEndHeaders) != 0) {
                  val buf = Unpooled.wrappedBuffer(headerBlock.toByteArray)
                  val h = try hpackDec.decodeHeaders(headerSid, buf)
                          finally buf.release(): Unit
                  onHeaders(headerSid, h, headerEndStream)
                }

              case DATA =>
                val d = depadded
                val st0 = streams.get(sid)
                if (st0 != null) {
                  if (d.nonEmpty) st0.inQ.put(Chunk(d, len))
                  if ((flags & FlagEndStream) != 0) {
                    st0.remoteDone = true
                    st0.inQ.put(Eof)
                    reapIfDone(st0)
                  }
                }
                if (len > 0) {
                  // the CONNECTION window replenishes instantly — it only
                  // mirrors bytes drained off the socket, and stalling it
                  // would couple unrelated streams. The STREAM window does
                  // NOT: its ack is deferred until the serve/consumer
                  // thread dequeues the chunk (StreamIn.fill), so a peer
                  // outrunning the consumer stalls at the 64 KiB initial
                  // window instead of growing inQ without bound.
                  writeFrame(WINDOW_UPDATE, 0, 0, be32(len.toLong))
                  if (st0 != null && d.isEmpty && !st0.remoteDone)
                    // padding-only frame: charged against the stream
                    // window but nothing reaches the queue — ack it now
                    writeFrame(WINDOW_UPDATE, 0, sid, be32(len.toLong))
                }

              case RST_STREAM =>
                Option(streams.remove(sid)).foreach { st =>
                  st.dead = true
                  st.inQ.put(Eof)
                }
                windowLock.synchronized(windowLock.notifyAll())

              case GOAWAY => open = false

              case _ => () // PRIORITY, PUSH_PROMISE (never — we set no
                           // push), unknown extensions: skip per §4.1
            }
          }
        }
      } catch {
        case _: EOFException | _: java.net.SocketException => () // peer gone
        case _: IOException => ()
      } finally {
        closed = true
        streams.values.forEach { s => s.dead = true; s.inQ.put(Eof) }
        streams.clear()
        windowLock.synchronized(windowLock.notifyAll())
      }
    }

    private def onHeaders(sid: Int, h: Http2Headers, endStream: Boolean): Unit =
      if (isServer) {
        if (streams.containsKey(sid)) {
          // request trailers: nothing to carry, treat as half-close
          if (endStream) Option(streams.get(sid)).foreach { st =>
            st.remoteDone = true; st.inQ.put(Eof); reapIfDone(st)
          }
        } else if (streams.size >= MaxStreams) {
          // enforce the advertised concurrency cap: REFUSED_STREAM(0x7)
          // tells a compliant peer the rpc was not processed and may be
          // retried on another connection
          writeFrame(RST_STREAM, 0, sid, be32(0x7))
        } else {
          val st = new StreamState(sid)
          streams.put(sid, st)
          if (endStream) { st.remoteDone = true; st.inQ.put(Eof) }
          val resp = new DefaultHttp2Headers(false)
          resp.status("200")
          resp.set("content-type", "application/grpc")
          if (onStream(h, new StreamIn(st), new StreamOut(st))) {
            writeHeaders(sid, resp, endStream = false)
          } else {
            // unknown rpc: gRPC's UNIMPLEMENTED rides trailers-only
            resp.set("grpc-status", "12")
            writeHeaders(sid, resp, endStream = true)
            streams.remove(sid): Unit
          }
        }
      } else {
        Option(streams.get(sid)).foreach { st =>
          Option(h.get("grpc-status")).map(_.toString).foreach(st.grpcStatus = _)
          val status = Option(h.status).map(_.toString)
          if (status.exists(_ != "200")) { st.dead = true; st.inQ.put(Eof) }
          if (endStream) {
            st.remoteDone = true; st.inQ.put(Eof); reapIfDone(st)
          }
        }
      }
  }

  /** Client convenience: h2c handshake on connected streams, one bidi
    * gRPC stream to [[StreamPath]], reader pumping on a daemon. Returns
    * the uTP byte streams ([[GrpcIn]]/[[GrpcOut]] already applied). */
  def clientStream(rawIn: InputStream, rawOut: OutputStream,
      authority: String): (InputStream, OutputStream) = {
    rawOut.write(Preface)
    rawOut.flush()
    val peer = new H2Peer(rawIn, rawOut, isServer = false, (_, _, _) => false)
    peer.sendSettings() // client preface = magic + SETTINGS, before HEADERS
    val t = new Thread(() => peer.serveLoop(), s"utp-h2c-client")
    t.setDaemon(true)
    t.start()
    val (in, out) = peer.openStream(StreamPath, authority)
    (new GrpcIn(in), new GrpcOut(out))
  }
}
