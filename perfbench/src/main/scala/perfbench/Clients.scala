package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import io.netty.bootstrap.Bootstrap
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2._

/** One completed exchange: status, body, and the client-observed times
  * (just before the request's socket write, and after the last
  * response byte). */
final case class Reply(status: Int, body: Array[Byte], t0: Long, t1: Long,
    grpcMessage: String = "") {
  def ms: Double = (t1 - t0) / 1e6
  def text: String = new String(body, UTF_8)
}

/** HTTP/1.1 keep-alive client over a plain socket. Each request is
  * assembled in memory and sent with one socket write. */
final class HttpConn(port: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.connect(new InetSocketAddress("127.0.0.1", port), 10000)
  sock.setSoTimeout(120000)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = sock.getOutputStream

  def call(method: String, path: String, body: String, token: String = null): Reply = {
    val b = body.getBytes(UTF_8)
    val auth = if (token == null) "" else s"Authorization: Bearer $token\r\n"
    val head = (s"$method $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n$auth" +
      s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n")
      .getBytes(US_ASCII)
    val req = new Array[Byte](head.length + b.length)
    System.arraycopy(head, 0, req, 0, head.length)
    System.arraycopy(b, 0, req, head.length, b.length)
    val t0 = System.nanoTime()
    out.write(req)
    out.flush()
    val (status, len) = readHead()
    val resp = in.readNBytes(len)
    val t1 = System.nanoTime()
    if (resp.length != len) throw new java.io.EOFException("short response body")
    Reply(status, resp, t0, t1)
  }

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def readHead(): (Int, Int) = {
    val status = readLine().split(" ", 3)(1).toInt
    var len = -1
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).trim.equalsIgnoreCase("content-length"))
        len = line.substring(i + 1).trim.toInt
      line = readLine()
    }
    if (len < 0) throw new java.io.IOException("response without Content-Length")
    (status, len)
  }

  def close(): Unit = sock.close()
}

/** gRPC over HTTP/2 with prior knowledge (h2c), one connection, one
  * stream per call, following the netty pattern of the repository's
  * `H2TestClient`. A call's HEADERS and DATA frames are flushed together
  * once. */
final class H2Conn(port: Int) extends AutoCloseable {
  private val group = new MultiThreadIoEventLoopGroup(1, NioIoHandler.newFactory())
  private val ch: Channel = new Bootstrap().group(group)
    .channel(classOf[NioSocketChannel])
    .handler(new ChannelInitializer[SocketChannel] {
      override def initChannel(c: SocketChannel): Unit = {
        c.pipeline.addLast(Http2FrameCodecBuilder.forClient().build())
        c.pipeline.addLast(new Http2MultiplexHandler(new ChannelInboundHandlerAdapter()))
        ()
      }
    })
    .connect("127.0.0.1", port).sync().channel()

  private final class Pending {
    @volatile var grpcStatus = -1
    @volatile var grpcMessage = ""
    @volatile var t1 = 0L
    val body = new ByteArrayOutputStream()
    val done = new CountDownLatch(1)
  }

  /** `framed`: the request's gRPC length-prefixed messages, concatenated. */
  def call(path: String, framed: Array[Byte], token: String): Reply = {
    val p = new Pending
    val stream = new Http2StreamChannelBootstrap(ch)
      .handler(new ChannelInboundHandlerAdapter {
        override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
          case h: Http2HeadersFrame =>
            Option(h.headers.get("grpc-status")).foreach(s => p.grpcStatus = s.toString.toInt)
            Option(h.headers.get("grpc-message")).foreach(m => p.grpcMessage = m.toString)
            if (h.isEndStream) { p.t1 = System.nanoTime(); p.done.countDown() }
          case d: Http2DataFrame =>
            val b = new Array[Byte](d.content.readableBytes)
            d.content.readBytes(b)
            p.body.write(b, 0, b.length)
            val end = d.isEndStream
            d.release()
            if (end) { p.t1 = System.nanoTime(); p.done.countDown() }
          case other => io.netty.util.ReferenceCountUtil.release(other)
        }
      })
      .open().sync().getNow
    val hdrs = new DefaultHttp2Headers()
    hdrs.method("POST").scheme("http").path(path).authority(s"127.0.0.1:$port")
    hdrs.set("content-type", "application/grpc")
    hdrs.set("te", "trailers")
    if (token != null) hdrs.set("authorization", s"Bearer $token")
    val buf = stream.alloc.buffer(framed.length)
    buf.writeBytes(framed)
    val t0 = System.nanoTime()
    stream.write(new DefaultHttp2HeadersFrame(hdrs))
    stream.writeAndFlush(new DefaultHttp2DataFrame(buf, true))
    if (!p.done.await(120, TimeUnit.SECONDS))
      throw new java.io.IOException(s"gRPC call $path timed out")
    Reply(p.grpcStatus, p.body.toByteArray, t0, p.t1, p.grpcMessage)
  }

  def close(): Unit = {
    ch.close().sync()
    group.shutdownGracefully(0, 1, TimeUnit.SECONDS).sync()
    ()
  }
}

/** Minimal protobuf wire codec for the messages the benchmark sends
  * (kept independent of the server's own codec, so the client checks
  * the server rather than sharing its assumptions). */
object Pb {
  final class W {
    private val out = new ByteArrayOutputStream()
    def bytes: Array[Byte] = out.toByteArray
    private def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    private def tag(f: Int, wt: Int): Unit = varint((f.toLong << 3) | wt)
    def int64(f: Int, v: Long): W = { tag(f, 0); varint(v); this }
    def double(f: Int, d: Double): W = {
      tag(f, 1)
      val b = java.lang.Double.doubleToLongBits(d)
      var i = 0
      while (i < 8) { out.write(((b >>> (8 * i)) & 0xff).toInt); i += 1 }
      this
    }
    def bytesF(f: Int, b: Array[Byte]): W = { tag(f, 2); varint(b.length.toLong); out.write(b); this }
    def string(f: Int, s: String): W = bytesF(f, s.getBytes(UTF_8))
    def msg(f: Int, m: W): W = bytesF(f, m.bytes)
  }
  def w: W = new W

  /** Field number → values (varints as Long, length-delimited as bytes). */
  def parse(b: Array[Byte]): Map[Int, Seq[Any]] = {
    val out = scala.collection.mutable.LinkedHashMap[Int, Vector[Any]]()
    var i = 0
    def varint(): Long = {
      var r = 0L; var shift = 0; var more = true
      while (more) { val x = b(i); i += 1; r |= (x & 0x7fL) << shift; shift += 7; more = (x & 0x80) != 0 }
      r
    }
    while (i < b.length) {
      val key = varint()
      val f = (key >>> 3).toInt
      val v: Any = (key & 7).toInt match {
        case 0 => varint()
        case 1 => i += 8; 0L
        case 2 => val n = varint().toInt; val s = java.util.Arrays.copyOfRange(b, i, i + n); i += n; s
        case 5 => i += 4; 0L
        case t => throw new IllegalArgumentException(s"wire type $t")
      }
      out(f) = out.getOrElse(f, Vector.empty) :+ v
    }
    out.toMap
  }

  def str(m: Map[Int, Seq[Any]], f: Int): String =
    m.get(f).flatMap(_.lastOption).map(x => new String(x.asInstanceOf[Array[Byte]], UTF_8)).getOrElse("")
  def strs(m: Map[Int, Seq[Any]], f: Int): Seq[String] =
    m.getOrElse(f, Nil).map(x => new String(x.asInstanceOf[Array[Byte]], UTF_8))
  def long(m: Map[Int, Seq[Any]], f: Int): Long =
    m.get(f).flatMap(_.lastOption).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** DataRecord{id=1, timestamp=2{seconds=1, nanos=2}, payload=3 Struct}. */
  def record(id: String, tsMs: Long, payload: Seq[(String, Any)]): W = {
    val st = w
    payload.foreach { case (k, v) =>
      val value = v match {
        case d: Double => w.double(2, d)
        case s: String => w.string(3, s)
        case other => throw new IllegalArgumentException(s"unsupported payload value $other")
      }
      st.msg(1, w.string(1, k).msg(2, value))
    }
    w.string(1, id)
      .msg(2, w.int64(1, Math.floorDiv(tsMs, 1000L)).int64(2, Math.floorMod(tsMs, 1000L) * 1000000L))
      .msg(3, st)
  }

  /** gRPC 5-byte length-prefixed framing of one message. */
  def frame(msg: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + msg.length)
    out(1) = (msg.length >>> 24).toByte
    out(2) = (msg.length >>> 16).toByte
    out(3) = (msg.length >>> 8).toByte
    out(4) = msg.length.toByte
    System.arraycopy(msg, 0, out, 5, msg.length)
    out
  }

  /** The messages of a gRPC response body. */
  def unframe(b: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var i = 0
    while (i + 5 <= b.length) {
      val len = ((b(i + 1) & 0xff) << 24) | ((b(i + 2) & 0xff) << 16) |
        ((b(i + 3) & 0xff) << 8) | (b(i + 4) & 0xff)
      out += java.util.Arrays.copyOfRange(b, i + 5, i + 5 + len)
      i += 5 + len
    }
    out.result()
  }
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def quote(s: String): String = mapper.writeValueAsString(s)
  def read(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
  def readBytes(b: Array[Byte]): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(b)
}

/** Reads one HTTP/1.1 request (head + Content-Length body) from a
  * stream; used by the trivial loopback responder. */
object HttpRead {
  def request(in: InputStream): Boolean = {
    var len = 0
    var line = new StringBuilder
    var lines = 0
    var c = in.read()
    while (c >= 0) {
      if (c == '\n') {
        val l = line.toString
        if (l.isEmpty) { in.readNBytes(len); return true }
        val i = l.indexOf(':')
        if (lines > 0 && i > 0 && l.substring(0, i).trim.equalsIgnoreCase("content-length"))
          len = l.substring(i + 1).trim.toInt
        lines += 1
        line = new StringBuilder
      } else if (c != '\r') line.append(c.toChar)
      c = in.read()
    }
    false
  }
}
