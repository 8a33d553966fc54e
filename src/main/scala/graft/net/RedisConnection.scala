package graft.net

import java.net.{InetSocketAddress, Socket}
import graft.resp.{RespCodec, RespValue}

/** How to reach a Redis deployment, beyond its address: the credential
  * ("password" or "user password"), TLS, trust-all TLS and RESP3. One link
  * runs from the reader/writer options or `redis_connect` to every socket
  * opened for them; a connection hands its own link to its MOVED/ASK
  * redirect targets, so a redirect target is reached with the same
  * transport, credential and protocol as the connection redirected.
  */
final case class RedisLink(auth: Option[String] = None, tls: Boolean = false,
    tlsTrustAll: Boolean = false, resp3: Boolean = false) {
  // a case-class toString would print the credential into task logs and
  // debug dumps: mask it (present/absent is all an operator needs)
  override def toString: String =
    s"RedisLink(auth=${if (auth.isDefined) "***" else "none"},tls=$tls," +
      s"tlsTrustAll=$tlsTrustAll,resp3=$resp3)"
}

/** Blocking Redis client over `java.net.Socket`.
  *
  * Equivalent of the reference's `RedisClient`
  * (/root/reference/src/transport/redis_client.cpp:12-159) with its
  * known defects fixed:
  *  - each reply is read until its whole frame is buffered, then decoded
  *    once, so fragmented TCP replies work (bug at
  *    redis_client.cpp:127-148);
  *  - hostnames resolve (reference accepts only numeric IPv4 via
  *    `inet_pton`, redis_client.cpp:77);
  *  - the receive buffer grows by doubling from 16 KiB, like the
  *    reference (redis_client.hpp:12, redis_client.cpp:38-52), but is
  *    compacted per-reply instead of relying on manual clears.
  *
  * Every connection has one owner that closes it — a partition reader
  * or writer, a task, a stream — and is never shared (the reference
  * serializes all I/O behind two process-global mutexes; we scale by
  * giving each Spark partition its own connection instead).
  */
final class RedisConnection(val host: String, val port: Int, val link: RedisLink)
    extends AutoCloseable {
  import link.{auth, resp3}

  def this(host: String, port: Int, auth: Option[String] = None, resp3: Boolean = false) =
    this(host, port, RedisLink(auth, resp3 = resp3))

  private val timeoutMs = 5000

  private val socket: Socket = {
    val plain = new Socket()
    try {
      plain.setTcpNoDelay(true)
      plain.setSoTimeout(timeoutMs)
      plain.connect(new InetSocketAddress(host, port), timeoutMs)
      if (!link.tls) plain
      else {
        // TLS-wrap the connected socket (the rediss:// deployment shape).
        // `tlsTrustAll` skips chain validation for self-signed test/dev
        // servers — NEVER the production default; real deployments trust
        // the JVM's CA store (or a custom one via standard javax.net.ssl
        // system properties).
        val factory =
          if (!link.tlsTrustAll)
            javax.net.ssl.SSLContext.getDefault.getSocketFactory
          else {
            val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
            ctx.init(null, Array[javax.net.ssl.TrustManager](
              new javax.net.ssl.X509TrustManager {
                override def checkClientTrusted(
                    c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
                override def checkServerTrusted(
                    c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
                override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] =
                  Array.empty
              }), null)
            ctx.getSocketFactory
          }
        val ssl = factory.createSocket(plain, host, port, true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        ssl.setSoTimeout(timeoutMs)
        ssl.startHandshake() // fail at connect, not first command
        ssl
      }
    } catch { // a failed connect or TLS handshake leaves no open socket
      case e: Throwable => plain.close(); throw e
    }
  }
  private val in = socket.getInputStream
  // buffered so that commands sent together leave in one write
  private val out = new java.io.BufferedOutputStream(socket.getOutputStream, 64 * 1024)

  private var buf = new Array[Byte](16 * 1024)
  private var bufEnd = 0
  private var bufPos = 0
  private val walk = new RespCodec.FrameWalk
  // where each frame of the replies being read starts and ends
  private var bounds = new Array[Int](2)
  // MOVED/ASK redirect targets, one per (host, port), closed with this
  private val targets = scala.collection.mutable.Map.empty[(String, Int), RedisConnection]

  try {
    // AUTH before anything else (neither the reference nor plain PING
    // works on a requirepass/ACL server): "password" sends the RESP2
    // 1-arg form, "user password" (one space) the Redis-6 ACL 2-arg form.
    // A refused credential fails LOUDLY at connect — a silently
    // unauthenticated connection would error per-command downstream.
    auth.foreach { a =>
      val sp = a.indexOf(' ')
      val reply =
        if (sp > 0 && sp < a.length - 1)
          command("AUTH", a.substring(0, sp), a.substring(sp + 1))
        else command("AUTH", a)
      reply match {
        case RespValue.Simple("OK") => ()
        case RespValue.Err(m) => throw new java.io.IOException(s"AUTH failed for $host:$port: $m")
        case other => throw new java.io.IOException(s"unexpected AUTH reply: $other")
      }
    }

    // RESP3 mode: HELLO 3 switches the server's protocol for this
    // connection (public Redis ≥6.0 surface). The reply is the server
    // metadata map — require proto=3 in it; an old server answers
    // -NOPROTO, which fails LOUDLY here rather than silently running
    // RESP2 (the caller asked for RESP3 semantics — e.g. map-typed
    // HGETALL — and must not get a lookalike). Runs AFTER auth: both
    // handshake orders are legal, and keeping AUTH first reuses its
    // loud-failure path unchanged.
    if (resp3) command("HELLO", "3") match {
      case RespValue.Mp(entries) =>
        val proto = entries.collectFirst {
          case (b: RespValue.Bulk, RespValue.Int64(p)) if b.text == "proto" => p
        }
        if (!proto.contains(3L)) throw new java.io.IOException(
          s"HELLO 3 handshake with $host:$port: reply lacks proto=3 ($entries)")
      case RespValue.Err(m) => throw new java.io.IOException(
        s"server $host:$port does not speak RESP3 (HELLO 3 → $m)")
      case other => throw new java.io.IOException(s"unexpected HELLO reply: $other")
    }
  } catch { // a refused handshake leaves no open socket
    case e: Throwable => try close() catch { case _: Throwable => () }; throw e
  }

  /** Out-of-band RESP3 push frames skipped by [[readFrame]] — a client
    * that never SUBSCRIBEs ignores them by contract (they are
    * invalidation/pubsub traffic addressed to nobody here); counted so
    * tests can assert the skip actually happened.
    */
  @volatile var pushesIgnored: Long = 0L

  /** PING/PONG handshake (reference: redis_client.cpp:98-118). */
  def ping(): Unit = command("PING") match {
    case RespValue.Simple("PONG") => ()
    case other => throw new java.io.IOException(s"unexpected PING reply: $other")
  }

  def command(args: String*): RespValue = {
    out.write(RespCodec.encodeCommand(args))
    out.flush()
    readReply()
  }

  /** Sends every command in `cmds`, then those in `more` if given, in one
    * write while they fit the 64 KiB output buffer; read the replies with
    * [[readReply]] or [[readFrame]].
    */
  def send(cmds: RespCodec.CommandBuffer, more: RespCodec.CommandBuffer = null): Unit = {
    cmds.writeTo(out)
    if (more != null) more.writeTo(out)
    out.flush()
  }

  /** Pipelined batch: send all commands, then read all replies — one
    * round trip instead of N (replaces the reference's per-row GET
    * anti-pattern, redduck_extension.cpp:327-342).
    */
  def pipeline(commands: Seq[Seq[String]]): Seq[RespValue] = {
    val cmds = new RespCodec.CommandBuffer()
    commands.foreach(cmds.command)
    send(cmds)
    commands.map(_ => readReply())
  }

  /** Read one complete reply, decoded into the [[RespValue]] ADT. */
  def readReply(): RespValue = readFrame(RespCodec.decodeFrame)

  /** Waits until the next `replies` replies' whole frames are buffered —
    * walking their headers as bytes arrive, re-reading the socket across
    * fragmented frames — then hands `read` the buffer and each frame's
    * bounds, in order, and returns what it returns for the last. RESP3
    * pushes are skipped (see [[pushesIgnored]]). The frames count as
    * consumed, but their bytes stay where they are until the next read on
    * this connection, so `read` may keep views into any of them until then.
    */
  private[graft] def readFrame[T](read: (Array[Byte], Int, Int) => T, replies: Int = 1): T = {
    if (bounds.length < 2 * replies) bounds = new Array[Int](2 * replies)
    // offsets from bufPos, which a refill may move
    var at = 0
    var i = 0
    while (i < replies) {
      walk.reset(bufPos + at)
      var end = walk.advance(buf, bufEnd)
      while (end < 0) { fill(); end = walk.advance(buf, bufEnd) }
      // RESP3 out-of-band push: not the reply to anything — skip it
      if (resp3 && buf(bufPos + at) == '>') pushesIgnored += 1
      else { bounds(2 * i) = at; bounds(2 * i + 1) = end - bufPos; i += 1 }
      at = end - bufPos
    }
    val start = bufPos
    bufPos += at
    if (bufPos == bufEnd) { bufPos = 0; bufEnd = 0 } // cheap compaction
    var last = read(buf, start + bounds(0), start + bounds(1))
    i = 1
    while (i < replies) { last = read(buf, start + bounds(2 * i), start + bounds(2 * i + 1)); i += 1 }
    last
  }

  private def fill(): Unit = {
    if (bufEnd == buf.length) {
      if (bufPos > 0) { // shift consumed prefix out
        System.arraycopy(buf, bufPos, buf, 0, bufEnd - bufPos)
        walk.shift(bufPos)
        bufEnd -= bufPos
        bufPos = 0
      } else buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    }
    val n = in.read(buf, bufEnd, buf.length - bufEnd)
    if (n < 0) throw new java.io.EOFException("connection closed by server")
    bufEnd += n
  }

  /** The connection to the MOVED/ASK redirect target `host:port`, over
    * this connection's link: opened at the first redirect there, reused
    * for later ones, and closed by [[close]].
    */
  private[graft] def redirectTarget(host: String, port: Int): RedisConnection =
    targets.getOrElseUpdate((host, port), new RedisConnection(host, port, link))

  override def close(): Unit = try targets.values.foreach(_.close()) finally socket.close()
}
