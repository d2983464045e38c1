package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.engine.UnitDb
import graft.model.{Topic, Varz}
import graft.streaming.{UtpClient, UtpServer}
import graft.streaming.{UtpCodec => C}

/** `publish_wire`: two uTP connections over loopback TCP, closed loop, each
  * sending 100-message PUBLISH batches of 64 B payloads and waiting for the
  * ack. The server and store run with the library defaults. The run ends
  * when the server's final sync completes; a fresh `UnitDb` over the same
  * directory must then count exactly the acked messages. */
object PublishWire {
  val Conns = 2
  val Batch = 100
  val PayloadBytes = 64
  val Topics = 1000
  /** Warm-up: a throwaway store and server, driven like the timed one. */
  val WarmupS = 6.0

  /** The batches connection `c` sends: topic and payload of message `i` of
    * batch `b` are pure functions of (seed, c, b, i). */
  final class Gen(seed: Long, c: Int) {
    private val rnd = new scala.util.Random(seed * 1000003L + c)
    private val topics = Array.fill(Topics)(
      s"plant.p${rnd.nextInt(20)}.line${rnd.nextInt(50)}.m${rnd.nextInt(10)}")
    def batch(b: Long): Seq[(String, Array[Byte])] = (0 until Batch).map { i =>
      val n = b * Batch + i
      val head = s"c$c;n$n;".getBytes
      (topics(((n * 7919L + c) % Topics).toInt),
        Array.tabulate[Byte](PayloadBytes)(j => if (j < head.length) head(j) else 'x'.toByte))
    }
  }

  /** Drive `Conns` closed-loop publishers until `untilNs`; returns acked
    * messages. Plain ack latencies (ms) land in `acks`; with a trace, every
    * other batch is a traced op instead. `atEnd` runs once, after the last
    * ack and before any connection closes (a close makes the server sync). */
  def drive(port: Int, seed: Long, untilNs: Long, acks: Samples,
      wt: Option[WireTrace] = None, atEnd: () => Unit = () => ()): Long = {
    val acked = new AtomicLong(0L)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val end = new java.util.concurrent.CyclicBarrier(Conns, () => atEnd())
    val threads = (0 until Conns).map { c =>
      val t = new Thread(() => {
        val cli = new UtpClient("127.0.0.1", port)
        try {
          cli.connect()
          val g = new Gen(seed, c)
          var b = 0L
          while (System.nanoTime() < untilNs) {
            val msgs = g.batch(b)
            wt match {
              case Some(w) if b % 2 == 1 => w.publish(cli, msgs)
              case _ =>
                val t0 = System.nanoTime()
                cli.publish(msgs: _*)
                acks.add((System.nanoTime() - t0) / 1e6)
            }
            acked.addAndGet(msgs.size.toLong)
            b += 1
          }
          end.await(60, java.util.concurrent.TimeUnit.SECONDS)
        } catch { case e: Throwable => errors.add(e) }
        finally cli.close()
      }, s"perfbench-pub-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    acked.get
  }

  def run(spark: SparkSession, o: Opts): Report = {
    val r = new Report
    locally {
      val db = UnitDb.open(spark, s"${o.work}/warmup_store")
      val srv = new UtpServer(db)
      drive(srv.actualPort, o.seed + 1, System.nanoTime() + (WarmupS * 1e9).toLong, new Samples)
      srv.close()
      db.close()
    }
    val path = s"${o.work}/publish_wire_store"
    val db = UnitDb.open(spark, path)
    val srv = new UtpServer(db)
    Main.setupDone(r)

    val acks = new Samples
    val wt = if (o.trace) Some(new WireTrace(new Tracer(spark))) else None
    val v0 = db.varz()
    wt.foreach(_.t.start())
    val sampler = wt.map(_ => new VarzSampler(srv.actualPort))
    val t0 = System.nanoTime()
    // after the last ack the store syncs (the run's final sync, inside the
    // window), then the window's heap checkpoint runs while the
    // connections and the server are still open; the checkpoint's time is
    // kept out of the window. Before the sync the put buffer would hold
    // anything from none to tens of thousands of messages, depending on
    // where the window ended in the store's sync cycle: 60 to 98 MB in ten
    // runs.
    var checkpointNs = 0L
    val acked = drive(srv.actualPort, o.seed, t0 + o.windowNs, acks, wt, () => {
      db.sync()
      val c0 = System.nanoTime()
      Main.windowDone(r)
      checkpointNs = System.nanoTime() - c0
    })
    sampler.foreach(_.stop())
    srv.close()
    val elapsedS = (System.nanoTime() - t0 - checkpointNs) / 1e9
    val v1 = db.varz()
    db.close()
    r.attempted = acked / Batch
    val reopened = UnitDb.open(spark, path)
    val stored = reopened.count()
    if (stored != acked) r.fail(s"store holds $stored messages after reopen, $acked were acked")
    r.info("connections") = Conns.toString
    r.info("batch") = Batch.toString
    r.info("payload_bytes") = PayloadBytes.toString
    r.info("acked_messages") = acked.toString
    r.info("store_files") = Store.files(path).toString
    r.info("syncs") = (v1.syncs - v0.syncs).toString

    r.lat(r.named, "publish_ack_p75_ms", acks, 0.75)
    r.endToEnd("throughput_per_s") = Metric(acked / elapsedS, "1/s", acks.count)
    r.named("publish_msgs_per_s") = Metric(acked / elapsedS, "1/s", acks.count)
    r.lat(r.named, "publish_ack_p50_ms", acks, 0.5)
    r.lat(r.named, "publish_ack_p99_ms", acks, 0.99)

    wt.foreach { w =>
      val gcMs = w.t.gcMsDelta
      w.t.stop()
      val ops = w.traced.count + acks.count
      serverLayers(r, v0, v1, reopened, acked * PayloadBytes, sampler.get.inflight, w)
      Layers.spark(r, w.t, w.t.benchSpans.map(_.id).toSet + 0L, ops, gcMs)
      Layers.overhead(r, w.traced, acks)
    }
    r
  }

  /** Engine and server layer metrics from `UnitDb.varz()` taken before and
    * after the window, the store's files, and the sampled backlog. */
  private def serverLayers(r: Report, v0: Varz, v1: Varz, db: UnitDb, userBytes: Long,
      inflight: Samples, wt: WireTrace): Unit = {
    val L = r.layers
    L("engine.put.us_p50") = Metric(v1.putLatency.p50Us, "us", v1.putLatency.samples)
    L("engine.sync.calls") = Metric((v1.syncs - v0.syncs).toDouble, "count", 1)
    // the engine's sync reservoir also times syncs that found nothing to
    // flush; its total over the syncs that wrote is the mean that matters
    L("engine.sync.ms_mean") = Metric(
      v1.syncLatency.cumulativeUs / 1000 / math.max(1L, v1.syncs), "ms", v1.syncs)
    L("engine.store.files") = Metric(Store.files(db.path).toDouble, "count", 1)
    L("engine.store.bytes_per_user_byte") = Metric(
      db.fileSize().toDouble / math.max(1L, userBytes), "ratio", 1)
    L("streaming.server.inflight_bytes") = Metric(inflight.pct(1.0), "bytes", inflight.count)
    L("model.topic_parse_ns_p50") = Metric(wt.parse.pct(0.5), "ns", wt.parse.count)
    L("streaming.encode_us_p50") = Metric(wt.encode.pct(0.5), "us", wt.encode.count)
  }
}

/** The traced publish. */
final class WireTrace(val t: Tracer) {
  val parse, encode, traced = new Samples

  /** One PUBLISH as a traced op: the topic parse and the packet encode the
    * server repeats on receipt are timed on the client's copy of the batch,
    * then the publish round trip, whose duration (ms) lands in `traced`. */
  def publish(cli: UtpClient, msgs: Seq[(String, Array[Byte])]): Unit =
    t.span("op.publish", "bench") {
      val a = System.nanoTime()
      t.span("model.topic_parse", "model")(msgs.foreach(m => Topic.parse(m._1)))
      val b = System.nanoTime()
      parse.add((b - a).toDouble / msgs.size)
      t.span("streaming.encode", "streaming")(C.encodePacket(C.PUBLISH, C.NONE,
        C.encodePublish(C.Publish(1, 0, msgs.map(m => C.PublishMessage(m._1, m._2, ""))))))
      val c = System.nanoTime()
      encode.add((c - b) / 1e3)
      t.span("streaming.publish", "streaming")(cli.publish(msgs: _*))
      traced.add((System.nanoTime() - c) / 1e6)
    }
}

/** Polls the server's `unitdb/varz` special request on its own connection
  * while a traced run lasts, keeping the receive backlog it reports. */
final class VarzSampler(port: Int) {
  val inflight = new Samples
  private val th = new Thread(() => {
    val cli = new UtpClient("127.0.0.1", port)
    try {
      cli.connect()
      while (!Thread.currentThread().isInterrupted) {
        inflight.add(cli.varz().path("wire").path("inflight_bytes").asDouble())
        Thread.sleep(200)
      }
    } catch { case _: InterruptedException => () }
    finally cli.close()
  }, "perfbench-varz")
  th.start()

  def stop(): Unit = { th.interrupt(); th.join() }
}
