package graft.streaming

import java.net.Socket

import org.apache.spark.sql.SparkSession

import graft.engine.UnitDb
import graft.streaming.{UtpCodec => C}

/** Scratch profiler for the uTP wire path (test scope, manual runMain):
  * loopback clients pushing batched PUBLISH frames through the full
  * decode → putEntry → sync pipeline.
  * Args: [messages] [batch] [conns] [transport: tcp|tcps|ws|grpc]
  * [window] (the server syncs on its own cadence, every 256 puts) — the transport arg drives the
  * SAME workload through the WebSocket or gRPC/h2c face, so the
  * listeners' throughput is comparable from one harness. `tcps` is the
  * tcp face under TLS (ephemeral keytool material, the UtpSpec recipe):
  * the priced delta vs `tcp` is the JSSE record layer, completing the
  * BASELINE wire table's parity story (VERDICT r12 #7).
  *
  * `window` (tcp/tcps only, default 1) pipelines PUBLISH: up to that
  * many batches stay in flight while a reader thread drains acks — the
  * VERDICT r14 stretch-#8 experiment probing whether the synchronous
  * loop's residue is the ack round-trip. window=1 is bit-identical to
  * the historical send→ack workload; window>1 is a DIFFERENT workload
  * (a client that defers delivery confirmation) and its numbers are NOT
  * comparable to the r11/r13 ledger rows — BASELINE.md labels them as a
  * distinct profile. */
object UtpProf {

  /** Self-signed server context + trusting client factory, built the
    * way the TLS spec does it (keytool, SAN=ip) — valid for the run. */
  private def tlsPair(): (javax.net.ssl.SSLContext, javax.net.ssl.SSLSocketFactory) = {
    import scala.sys.process._
    val dir = java.nio.file.Files.createTempDirectory("graft_prof_tls")
    val (ksF, certF) = (s"$dir/ks.p12", s"$dir/srv.cer")
    val keytool = System.getProperty("java.home") + "/bin/keytool"
    require(Seq(keytool, "-genkeypair", "-alias", "srv", "-keyalg", "RSA",
      "-keysize", "2048", "-storetype", "PKCS12", "-keystore", ksF,
      "-storepass", "changeit", "-dname", "CN=127.0.0.1",
      "-ext", "SAN=ip:127.0.0.1", "-validity", "2").! == 0, "keytool failed")
    require(Seq(keytool, "-exportcert", "-alias", "srv", "-keystore", ksF,
      "-storepass", "changeit", "-file", certF).! == 0, "exportcert failed")
    val kks = java.security.KeyStore.getInstance("PKCS12")
    val fis = new java.io.FileInputStream(ksF)
    try kks.load(fis, "changeit".toCharArray) finally fis.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(kks, "changeit".toCharArray)
    val srvCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    srvCtx.init(kmf.getKeyManagers, null, null)
    val cf = java.security.cert.CertificateFactory.getInstance("X.509")
    val cis = new java.io.FileInputStream(certF)
    val cert = try cf.generateCertificate(cis) finally cis.close()
    val tks = java.security.KeyStore.getInstance("PKCS12")
    tks.load(null, null)
    tks.setCertificateEntry("srv", cert)
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(tks)
    val cliCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    cliCtx.init(null, tmf.getTrustManagers, null)
    (srvCtx, cliCtx.getSocketFactory)
  }

  def main(args: Array[String]): Unit = {
    val total = args.headOption.map(_.toInt).getOrElse(2000000)
    val batch = args.lift(1).map(_.toInt).getOrElse(200)
    val conns = args.lift(2).map(_.toInt).getOrElse(4)
    val transport = args.lift(3).getOrElse("tcp")
    require(Set("tcp", "tcps", "ws", "grpc")(transport),
      s"unknown transport $transport")
    val window = args.lift(4).map(_.toInt).getOrElse(1)
    require(window >= 1, s"window must be >= 1, got $window")
    require(window == 1 || transport == "tcp" || transport == "tcps",
      "pipelined window only implemented for the tcp/tcps faces")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = java.nio.file.Files.createTempDirectory("graft_utp_prof").toString
    // a buffer large enough that only the server's cadence syncs it
    val db = UnitDb.open(spark, base + "/store", autoFlushRows = 2000000)
    val (srvTls, cliSsl) =
      if (transport == "tcps") { val (a, b) = tlsPair(); (Some(a), Some(b)) }
      else (None, None)
    val srv = new UtpServer(db, port = 0,
      wsPort = if (transport == "ws") 0 else -1,
      grpcPort = if (transport == "grpc") 0 else -1,
      tls = srvTls)
    val perConn = total / conns
    val payload = ("x" * 64).getBytes

    val t0 = System.nanoTime()
    val threads = (0 until conns).map { ci =>
      val t = new Thread(() => {
        if (transport == "tcp" || transport == "tcps") {
          val sock = cliSsl match {
            case Some(f) =>
              val s = f.createSocket("127.0.0.1", srv.actualPort)
                .asInstanceOf[javax.net.ssl.SSLSocket]
              // same endpoint-identification posture as UtpClient's TLS
              val p = s.getSSLParameters
              p.setEndpointIdentificationAlgorithm("HTTPS")
              s.setSSLParameters(p)
              s.startHandshake()
              s
            case None => new Socket("127.0.0.1", srv.actualPort)
          }
          sock.setTcpNoDelay(true)
          val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
          val in = sock.getInputStream
          var sent = 0
          var mid = 0
          if (window <= 1) {
            while (sent < perConn) {
              val n = math.min(batch, perConn - sent)
              mid += 1
              val msgs = (0 until n).map(i => C.PublishMessage(
                s"prof.c$ci.t${(sent + i) % 100}", payload, ""))
              out.write(C.encodePacket(C.PUBLISH, C.NONE,
                C.encodePublish(C.Publish(mid & 0xffff, 0, msgs))))
              out.flush()
              C.readPacket(in) // wait for the ack — real client behavior
              sent += n
            }
          } else {
            // pipelined: up to `window` unacked batches in flight; a
            // reader drains every ack so the server's per-batch PUBACK
            // cost is still paid, just off the send path
            val nBatches = (perConn + batch - 1) / batch
            val sem = new java.util.concurrent.Semaphore(window)
            val reader = new Thread(() => {
              var got = 0
              while (got < nBatches) { C.readPacket(in); sem.release(); got += 1 }
            })
            reader.start()
            while (sent < perConn) {
              val n = math.min(batch, perConn - sent)
              mid += 1
              sem.acquire()
              val msgs = (0 until n).map(i => C.PublishMessage(
                s"prof.c$ci.t${(sent + i) % 100}", payload, ""))
              out.write(C.encodePacket(C.PUBLISH, C.NONE,
                C.encodePublish(C.Publish(mid & 0xffff, 0, msgs))))
              out.flush()
              sent += n
            }
            reader.join()
          }
          sock.close()
        } else {
          // the full client stack: WS framing or gRPC message framing +
          // h2 flow control, the path a reference client actually takes
          val cli =
            if (transport == "ws")
              new UtpClient("127.0.0.1", srv.actualWsPort, ws = true)
            else
              new UtpClient("127.0.0.1", srv.actualGrpcPort, grpc = true)
          var sent = 0
          while (sent < perConn) {
            val n = math.min(batch, perConn - sent)
            cli.publish((0 until n).map(i =>
              (s"prof.c$ci.t${(sent + i) % 100}", payload)): _*)
            sent += n
          }
          cli.close()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val tLoop = (System.nanoTime() - t0) / 1e9
    println(f"LOOP $tLoop%.2f s = ${total / tLoop}%.0f msg/s pre-sync")
    val lat = db.varz().latency
    println(f"PUTLAT n=${lat.samples} p50=${lat.p50Us}%.0fus " +
      f"p99=${lat.p99Us}%.0fus max=${lat.maxUs}%.0fus cum=${lat.cumulativeUs / 1e6}%.1fs")
    db.sync()
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"WIRE $total%d msgs, $conns%d conns, batch $batch%d: " +
      f"$dt%.2f s = ${total / dt}%.0f msg/s")
    println("STORED " + db.count())
    spark.stop()
  }
}
