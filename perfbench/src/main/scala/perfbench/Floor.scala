package perfbench

import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.concurrent.TimeUnit

import io.netty.bootstrap.ServerBootstrap
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2._

/** The load clients' own round-trip floor per transport: the same
  * clients against trivial loopback responders that answer at once with
  * a single write. A latency near this floor is the client's, not the
  * server's. */
object Floor {
  /** Median round trip in ms over `n` calls after a warm-up, per transport. */
  def measure(n: Int): (Double, Double) = (http1(n), h2c(n))

  private def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  private def http1(n: Int): Double = {
    val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    val resp = ("HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
      "Content-Length: 2\r\n\r\n[]").getBytes(US_ASCII)
    val acceptor = new Thread(() => {
      try {
        val s: Socket = server.accept()
        s.setTcpNoDelay(true)
        val in = new java.io.BufferedInputStream(s.getInputStream)
        val out = s.getOutputStream
        while (HttpRead.request(in)) { out.write(resp); out.flush() }
        s.close()
      } catch { case _: java.io.IOException => () }
    }, "floor-http1")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new HttpConn(server.getLocalPort)
    try {
      (0 until n).foreach(_ => c.call("POST", "/v1/query", "{}"))
      median((0 until n).map(_ => c.call("POST", "/v1/query", "{}").ms))
    } finally {
      c.close(); server.close(); acceptor.join(5000)
    }
  }

  private def h2c(n: Int): Double = {
    val group = new MultiThreadIoEventLoopGroup(1, NioIoHandler.newFactory())
    val ch: Channel = new ServerBootstrap().group(group)
      .channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[SocketChannel] {
        override def initChannel(c: SocketChannel): Unit = {
          c.pipeline.addLast(Http2FrameCodecBuilder.forServer().build())
          c.pipeline.addLast(new Http2MultiplexHandler(new ChannelInitializer[Channel] {
            override def initChannel(sc: Channel): Unit = {
              sc.pipeline.addLast(new ChannelInboundHandlerAdapter {
                override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = {
                  val end = msg match {
                    case h: Http2HeadersFrame => h.isEndStream
                    case d: Http2DataFrame => d.isEndStream
                    case _ => false
                  }
                  io.netty.util.ReferenceCountUtil.release(msg)
                  if (end) {
                    val h = new DefaultHttp2Headers().status("200")
                    h.set("content-type", "application/grpc")
                    val body = ctx.alloc.buffer(5).writeZero(5)
                    val trailers = new DefaultHttp2Headers()
                    trailers.set("grpc-status", "0")
                    ctx.write(new DefaultHttp2HeadersFrame(h))
                    ctx.write(new DefaultHttp2DataFrame(body))
                    ctx.writeAndFlush(new DefaultHttp2HeadersFrame(trailers, true))
                  }
                }
              })
              ()
            }
          }))
          ()
        }
      })
      .bind("127.0.0.1", 0).sync().channel()
    val port = ch.localAddress.asInstanceOf[java.net.InetSocketAddress].getPort
    val c = new H2Conn(port)
    val req = Pb.frame(Array.emptyByteArray)
    try {
      (0 until n).foreach(_ => c.call("/floor/Echo", req, null))
      median((0 until n).map(_ => c.call("/floor/Echo", req, null).ms))
    } finally {
      c.close()
      ch.close().sync()
      group.shutdownGracefully(0, 1, TimeUnit.SECONDS).sync()
    }
  }
}
