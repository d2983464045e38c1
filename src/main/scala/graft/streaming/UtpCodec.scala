package graft.streaming

import java.io.{ByteArrayOutputStream, EOFException, InputStream}

/** uTP wire codec — the reference's client/server framing
  * (server/utp/message.go:66-142, server/proto/unitdb.proto:15-140), so a
  * unitdb client binary can talk to [[UtpServer]] without modification.
  *
  * A packet is `mqttVarint(len(header)) || header || body`, where
  * `header` is the proto3 FixedHeader {1: MessageType, 2: FlowControl,
  * 3: MessageLength} and `body` is `MessageLength` bytes of the proto3
  * message named by the type. The proto3 wire layer here is hand-rolled
  * (varint + length-delimited fields, unknown fields skipped, absent
  * fields defaulting to zero values) — the handful of message shapes
  * doesn't justify a protobuf dependency, and the byte layout is pinned
  * by literal-vector tests.
  *
  * Pure functions over byte arrays/streams: the server composes them on
  * its connection threads; nothing here touches Spark. */
object UtpCodec {

  // MessageType (utp/message.go:30-40)
  val CONNECT = 1
  val PUBLISH = 2
  val RELAY = 3
  val SUBSCRIBE = 4
  val UNSUBSCRIBE = 5
  val PINGREQ = 6
  val DISCONNECT = 7
  val FLOWCONTROL = 8

  // FlowControl (utp/flow_control.go:30-37)
  val NONE = 0
  val ACKNOWLEDGE = 1
  val NOTIFY = 2
  val RECEIVE = 3
  val RECEIPT = 4
  val COMPLETE = 5

  // CONNECT return codes (utp/message.go:44-52)
  val Accepted = 0x00

  final case class FixedHeader(msgType: Int, flowControl: Int,
      messageLength: Int)
  final case class Connect(version: Int, insecure: Boolean, clientId: String,
      keepAlive: Int, cleanSess: Boolean, sessKey: Int, username: String,
      password: Array[Byte], batchDuration: Int, batchByteThreshold: Int,
      batchCountThreshold: Int)
  final case class ConnectAcknowledge(returnCode: Int, epoch: Int, connId: Int)
  final case class PublishMessage(topic: String, payload: Array[Byte],
      ttl: String)
  final case class Publish(messageId: Int, deliveryMode: Int,
      messages: Seq[PublishMessage])
  final case class RelayRequest(topic: String, last: String)
  final case class Relay(messageId: Int, requests: Seq[RelayRequest])
  final case class Subscription(deliveryMode: Int, delay: Int, topic: String)
  final case class Subscribe(messageId: Int, subscriptions: Seq[Subscription])
  final case class ControlMessage(messageId: Int, message: Array[Byte])

  // ------------------------------------------------------------ proto3 io

  /** The proto3 wire reader every message decoder on the wire shares
    * (the gRPC `Packet` included, [[H2Framing.packetData]]). */
  private[streaming] final class Reader(b: Array[Byte]) {
    private var pos = 0
    def hasMore: Boolean = pos < b.length
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (shift < 64) {
        val x = b(pos); pos += 1
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
      }
      throw new IllegalArgumentException("malformed varint")
    }
    def bytes(): Array[Byte] = {
      val n = varint().toInt
      // explicit bound: copyOfRange would silently ZERO-PAD a truncated
      // field past the buffer end — a malformed frame must error, not
      // decode to a corrupted payload
      require(n >= 0 && pos + n <= b.length,
        s"length-delimited field of $n bytes overruns the ${b.length}-byte buffer")
      val out = java.util.Arrays.copyOfRange(b, pos, pos + n)
      pos += n
      out
    }
    def string(): String =
      new String(bytes(), java.nio.charset.StandardCharsets.UTF_8)
    /** Skip a field of the given wire type (unknown-field tolerance). */
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint(): Unit
      case 1 => pos += 8
      case 2 =>
        // NB two statements: `pos += varint()` reads the OLD pos before
        // varint() advances it, silently dropping the length byte
        val n = varint().toInt
        pos += n
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
  }

  private final class Writer {
    private val out = new ByteArrayOutputStream()
    def varint(v0: Long): this.type = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt); this
    }
    /** proto3 scalar: skip zero values entirely. */
    def intField(no: Int, v: Long): this.type =
      if (v == 0) this else { varint((no << 3) | 0); varint(v) }
    def boolField(no: Int, v: Boolean): this.type =
      intField(no, if (v) 1 else 0)
    def bytesField(no: Int, v: Array[Byte]): this.type =
      if (v == null || v.isEmpty) this
      else { varint((no << 3) | 2); varint(v.length); out.write(v); this }
    def stringField(no: Int, v: String): this.type =
      bytesField(no, if (v == null) null
        else v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    /** Nested message: always emitted (even empty) so repeated fields keep
      * their element count. */
    def messageField(no: Int, v: Array[Byte]): this.type = {
      varint((no << 3) | 2); varint(v.length); out.write(v); this
    }
    def toBytes: Array[Byte] = out.toByteArray
  }

  // --------------------------------------------------------- mqtt varint

  /** The outer length prefix (utp/message.go:107-142) — little-endian
    * 7-bit groups with a continuation bit, like MQTT's remaining-length. */
  def encodeMqttLen(length: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var v = length
    do {
      var digit = v % 128
      v /= 128
      if (v > 0) digit |= 0x80
      out.write(digit)
    } while (v > 0)
    out.toByteArray
  }

  def readMqttLen(in: InputStream): Int = {
    val first = in.read()
    if (first < 0) throw new EOFException("stream closed mid-length")
    readMqttLenCont(in, first)
  }

  /** Continue a length decode whose first byte is already consumed — the
    * single shared loop ([[readPacket]] peeks the first byte itself to
    * distinguish clean EOF from a truncated frame). */
  private def readMqttLenCont(in: InputStream, first: Int): Int = {
    var mult = 0; var v = 0
    var digit = first
    while (true) {
      v |= (digit & 0x7f) << mult
      if ((digit & 0x80) == 0) return v
      mult += 7
      if (mult >= 28)
        throw new IllegalArgumentException("mqtt varint longer than 4 groups")
      digit = in.read()
      if (digit < 0) throw new EOFException("stream closed mid-length")
    }
    v
  }

  // ------------------------------------------------------------ messages

  def encodeFixedHeader(fh: FixedHeader): Array[Byte] =
    new Writer()
      .intField(1, fh.msgType)
      .intField(2, fh.flowControl)
      .intField(3, fh.messageLength)
      .toBytes

  def decodeFixedHeader(b: Array[Byte]): FixedHeader = {
    val r = new Reader(b)
    var t = 0; var f = 0; var l = 0
    while (r.hasMore) {
      val tag = r.varint().toInt
      (tag >> 3) match {
        case 1 => t = r.varint().toInt
        case 2 => f = r.varint().toInt
        case 3 => l = r.varint().toInt
        case _ => r.skip(tag & 7)
      }
    }
    FixedHeader(t, f, l)
  }

  def decodeConnect(b: Array[Byte]): Connect = {
    val r = new Reader(b)
    var version = 0; var insecure = false; var clientId = ""
    var keepAlive = 0; var cleanSess = false; var sessKey = 0
    var username = ""; var password = Array.emptyByteArray
    var bd = 0; var bb = 0; var bc = 0
    while (r.hasMore) {
      val tag = r.varint().toInt
      (tag >> 3) match {
        case 1 => version = r.varint().toInt
        case 2 => insecure = r.varint() != 0
        case 3 => clientId = r.string()
        case 4 => keepAlive = r.varint().toInt
        case 5 => cleanSess = r.varint() != 0
        case 6 => sessKey = r.varint().toInt
        case 7 => username = r.string()
        case 8 => password = r.bytes()
        case 9 => bd = r.varint().toInt
        case 10 => bb = r.varint().toInt
        case 11 => bc = r.varint().toInt
        case _ => r.skip(tag & 7)
      }
    }
    Connect(version, insecure, clientId, keepAlive, cleanSess, sessKey,
      username, password, bd, bb, bc)
  }

  def encodeConnect(c: Connect): Array[Byte] =
    new Writer()
      .intField(1, c.version)
      .boolField(2, c.insecure)
      .stringField(3, c.clientId)
      .intField(4, c.keepAlive)
      .boolField(5, c.cleanSess)
      .intField(6, c.sessKey)
      .stringField(7, c.username)
      .bytesField(8, c.password)
      .intField(9, c.batchDuration)
      .intField(10, c.batchByteThreshold)
      .intField(11, c.batchCountThreshold)
      .toBytes

  def encodeConnack(a: ConnectAcknowledge): Array[Byte] =
    new Writer()
      .intField(1, a.returnCode)
      .intField(2, a.epoch)
      .intField(3, a.connId)
      .toBytes

  def decodeConnack(b: Array[Byte]): ConnectAcknowledge = {
    val r = new Reader(b)
    var rc = 0; var ep = 0; var id = 0
    while (r.hasMore) {
      val tag = r.varint().toInt
      (tag >> 3) match {
        case 1 => rc = r.varint().toInt
        case 2 => ep = r.varint().toInt
        case 3 => id = r.varint().toInt
        case _ => r.skip(tag & 7)
      }
    }
    ConnectAcknowledge(rc, ep, id)
  }

  private def encodePublishMessage(m: PublishMessage): Array[Byte] =
    new Writer()
      .stringField(1, m.topic)
      .bytesField(2, m.payload)
      .stringField(3, m.ttl)
      .toBytes

  private def decodePublishMessage(b: Array[Byte]): PublishMessage = {
    val r = new Reader(b)
    var topic = ""; var payload = Array.emptyByteArray; var ttl = ""
    while (r.hasMore) {
      val tag = r.varint().toInt
      (tag >> 3) match {
        case 1 => topic = r.string()
        case 2 => payload = r.bytes()
        case 3 => ttl = r.string()
        case _ => r.skip(tag & 7)
      }
    }
    PublishMessage(topic, payload, ttl)
  }

  def encodePublish(p: Publish): Array[Byte] = {
    val w = new Writer()
      .intField(1, p.messageId)
      .intField(2, p.deliveryMode)
    p.messages.foreach(m => w.messageField(3, encodePublishMessage(m)))
    w.toBytes
  }

  def decodePublish(b: Array[Byte]): Publish = {
    val r = new Reader(b)
    var id = 0; var dm = 0
    val msgs = scala.collection.mutable.ArrayBuffer[PublishMessage]()
    while (r.hasMore) {
      val tag = r.varint().toInt
      (tag >> 3) match {
        case 1 => id = r.varint().toInt
        case 2 => dm = r.varint().toInt
        case 3 => msgs += decodePublishMessage(r.bytes())
        case _ => r.skip(tag & 7)
      }
    }
    Publish(id, dm, msgs.toSeq)
  }

  private def encodeRelayRequest(m: RelayRequest): Array[Byte] =
    new Writer().stringField(1, m.topic).stringField(2, m.last).toBytes

  private def decodeRelayRequest(b: Array[Byte]): RelayRequest = {
    val r = new Reader(b)
    var topic = ""; var last = ""
    while (r.hasMore) {
      val tag = r.varint().toInt
      (tag >> 3) match {
        case 1 => topic = r.string()
        case 2 => last = r.string()
        case _ => r.skip(tag & 7)
      }
    }
    RelayRequest(topic, last)
  }

  def encodeRelay(p: Relay): Array[Byte] = {
    val w = new Writer().intField(1, p.messageId)
    p.requests.foreach(m => w.messageField(2, encodeRelayRequest(m)))
    w.toBytes
  }

  def decodeRelay(b: Array[Byte]): Relay = {
    val r = new Reader(b)
    var id = 0
    val reqs = scala.collection.mutable.ArrayBuffer[RelayRequest]()
    while (r.hasMore) {
      val tag = r.varint().toInt
      (tag >> 3) match {
        case 1 => id = r.varint().toInt
        case 2 => reqs += decodeRelayRequest(r.bytes())
        case _ => r.skip(tag & 7)
      }
    }
    Relay(id, reqs.toSeq)
  }

  private def encodeSubscription(m: Subscription): Array[Byte] =
    new Writer()
      .intField(1, m.deliveryMode)
      .intField(2, m.delay)
      .stringField(3, m.topic)
      .toBytes

  private def decodeSubscription(b: Array[Byte]): Subscription = {
    val r = new Reader(b)
    var dm = 0; var delay = 0; var topic = ""
    while (r.hasMore) {
      val tag = r.varint().toInt
      (tag >> 3) match {
        case 1 => dm = r.varint().toInt
        case 2 => delay = r.varint().toInt
        case 3 => topic = r.string()
        case _ => r.skip(tag & 7)
      }
    }
    Subscription(dm, delay, topic)
  }

  /** Subscribe and Unsubscribe share this body shape (proto:120-133). */
  def encodeSubscribe(p: Subscribe): Array[Byte] = {
    val w = new Writer().intField(1, p.messageId)
    p.subscriptions.foreach(m => w.messageField(2, encodeSubscription(m)))
    w.toBytes
  }

  def decodeSubscribe(b: Array[Byte]): Subscribe = {
    val r = new Reader(b)
    var id = 0
    val subs = scala.collection.mutable.ArrayBuffer[Subscription]()
    while (r.hasMore) {
      val tag = r.varint().toInt
      (tag >> 3) match {
        case 1 => id = r.varint().toInt
        case 2 => subs += decodeSubscription(r.bytes())
        case _ => r.skip(tag & 7)
      }
    }
    Subscribe(id, subs.toSeq)
  }

  def encodeControl(c: ControlMessage): Array[Byte] =
    new Writer().intField(1, c.messageId).bytesField(2, c.message).toBytes

  def decodeControl(b: Array[Byte]): ControlMessage = {
    val r = new Reader(b)
    var id = 0; var msg = Array.emptyByteArray
    while (r.hasMore) {
      val tag = r.varint().toInt
      (tag >> 3) match {
        case 1 => id = r.varint().toInt
        case 2 => msg = r.bytes()
        case _ => r.skip(tag & 7)
      }
    }
    ControlMessage(id, msg)
  }

  // ------------------------------------------------------------- packets

  /** Frame a body under its FixedHeader: varint(len(fh)) || fh || body. */
  def encodePacket(msgType: Int, flowControl: Int,
      body: Array[Byte]): Array[Byte] = {
    val fh = encodeFixedHeader(FixedHeader(msgType, flowControl, body.length))
    encodeMqttLen(fh.length) ++ fh ++ body
  }

  /** Frame-size ceilings: a malformed/hostile length prefix must fail
    * fast, not allocate gigabytes. The header is a 3-varint proto
    * (≤ ~20 B in practice); bodies are capped at 64 MiB — far above any
    * real packet (the reference's server reads are similarly bounded by
    * its connection buffer). */
  private val MaxHeaderLen = 1 << 12
  private val MaxBodyLen = 1 << 26

  /** Exactly `n` bytes of `in`, blocking; an EOF before the last one is
    * an `EOFException` (every framing layer on the wire reads this way). */
  private[streaming] def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(buf, off, n - off)
      if (k < 0) throw new EOFException("stream closed mid-frame")
      off += k
    }
    buf
  }

  /** Blocking read of one packet; None on clean EOF at a frame boundary. */
  def readPacket(in: InputStream): Option[(FixedHeader, Array[Byte])] = {
    val first = in.read()
    if (first < 0) return None
    val fhLen = readMqttLenCont(in, first)
    require(fhLen >= 0 && fhLen <= MaxHeaderLen,
      s"implausible header length $fhLen")
    val fh = decodeFixedHeader(readFully(in, fhLen))
    require(fh.messageLength >= 0 && fh.messageLength <= MaxBodyLen,
      s"implausible body length ${fh.messageLength}")
    val body = readFully(in, fh.messageLength)
    Some((fh, body))
  }
}
