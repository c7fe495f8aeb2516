package graft.server

import java.net.InetSocketAddress
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import io.netty.bootstrap.{Bootstrap, ServerBootstrap}
import io.netty.buffer.{ByteBuf, Unpooled}
import io.netty.channel.{ChannelDuplexHandler, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer}
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.{NioServerSocketChannel, NioSocketChannel}
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, DefaultHttp2WindowUpdateFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2FrameStream, Http2HeadersFrame, Http2MultiplexHandler, Http2ResetFrame, Http2StreamChannelBootstrap}
import io.netty.util.ReferenceCountUtil

/** Real gRPC framing over real HTTP/2 — the transport layer for the
  * storage service (reference: tonic serving
  * src/influxdb_ioxd/rpc/storage/service.rs). Connections are h2c
  * prior-knowledge cleartext (the gRPC plaintext convention); netty's
  * `Http2FrameCodec` (shipped with Spark) carries the HTTP/2 connection
  * and this class implements the gRPC layer from the PUBLIC wire spec
  * (grpc/PROTOCOL-HTTP2.md): requests arrive as POSTs with
  * `content-type: application/grpc` and 5-byte length-prefixed messages
  * in DATA frames; responses are HEADERS + one DATA frame per message +
  * trailers carrying `grpc-status` (trailers-only for errors, status 3).
  *
  * The dispatch function maps `:path` (e.g.
  * `/influxdata.platform.storage.Storage/ReadFilter`) + request payload
  * to response payloads ([[IoxGrpc]] multiplexes the services). Dispatch
  * runs on a dedicated pool (Spark jobs must not block the event loop);
  * the response set is materialized before writing (server-streaming
  * without backpressure wiring — the documented test-scale tradeoff).
  */
final class GrpcServer(
    dispatch: (String, Array[Byte]) => Either[String, Iterator[Array[Byte]]],
    port: Int = 0) {

  private val boss = new NioEventLoopGroup(1)
  private val workers = new NioEventLoopGroup(2)
  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "grpc-dispatch"); t.setDaemon(true); t
  })

  private val ch = new ServerBootstrap()
    .group(boss, workers)
    .channel(classOf[NioServerSocketChannel])
    .childHandler(new ChannelInitializer[SocketChannel] {
      override def initChannel(c: SocketChannel): Unit = {
        c.pipeline().addLast(Http2FrameCodecBuilder.forServer().build())
        c.pipeline().addLast(new StreamHandler)
      }
    })
    .bind("127.0.0.1", port).sync().channel()

  def boundPort: Int =
    ch.localAddress().asInstanceOf[InetSocketAddress].getPort

  def stop(): Unit = {
    ch.close().sync()
    boss.shutdownGracefully(0, 0, TimeUnit.MILLISECONDS)
    workers.shutdownGracefully(0, 0, TimeUnit.MILLISECONDS)
    pool.shutdownNow()
  }

  private final class StreamHandler extends ChannelDuplexHandler {
    // per-stream request state; the channel's event loop serializes access
    private val paths = new java.util.HashMap[Http2FrameStream, String]
    private val bodies = new java.util.HashMap[Http2FrameStream, ByteBuf]

    override def channelRead(ctx: ChannelHandlerContext, msg: Any): Unit =
      msg match {
        case h: Http2HeadersFrame =>
          paths.put(h.stream(), String.valueOf(h.headers().path()))
          if (h.isEndStream) finish(ctx, h.stream())
        case d: Http2DataFrame =>
          val buf = bodies.computeIfAbsent(d.stream(), _ => Unpooled.buffer())
          buf.writeBytes(d.content())
          val end = d.isEndStream
          // hand the consumed bytes back to HTTP/2 flow control: without
          // the WINDOW_UPDATE a request larger than the 64 KiB initial
          // window (e.g. a bulk gRPC Write) stalls forever mid-stream
          val consumed = d.initialFlowControlledBytes()
          d.release()
          if (consumed > 0)
            ctx.writeAndFlush(
              new DefaultHttp2WindowUpdateFrame(consumed).stream(d.stream()))
          if (end) finish(ctx, d.stream())
        case r: Http2ResetFrame =>
          // a cancelled call never reaches finish(): drop its buffered
          // body or repeated cancels on one connection leak memory
          paths.remove(r.stream())
          Option(bodies.remove(r.stream())).foreach(_.release())
        case other => ReferenceCountUtil.release(other)
      }

    private def finish(ctx: ChannelHandlerContext,
        stream: Http2FrameStream): Unit = {
      val path = paths.remove(stream)
      val body = Option(bodies.remove(stream)).getOrElse(Unpooled.buffer(0))
      // first (unary-request) gRPC message: [compressed u8][len u32 BE][..]
      val req: Either[String, Array[Byte]] =
        if (body.readableBytes() == 0) Right(Array.emptyByteArray)
        else if (body.readableBytes() < 5) Left("truncated gRPC frame")
        else {
          val compressed = body.readByte()
          val len = body.readInt()
          if (compressed != 0) Left("compressed gRPC messages unsupported")
          // len < 0: a crafted u32 length >= 2^31 would otherwise pass
          // the truncation guard and throw NegativeArraySizeException on
          // the event loop, leaking the ByteBuf and hanging the caller
          else if (len < 0 || body.readableBytes() < len)
            Left("truncated gRPC message")
          else {
            val a = new Array[Byte](len); body.readBytes(a); Right(a)
          }
        }
      body.release()
      val el = ctx.channel().eventLoop()
      pool.execute(() => {
        val result: Either[String, Vector[Array[Byte]]] = req.flatMap { bytes =>
          try dispatch(path, bytes).map(_.toVector)
          catch {
            case NonFatal(e) =>
              Left(Option(e.getMessage).getOrElse(e.getClass.getName))
          }
        }
        el.execute(() => respond(ctx, stream, result))
      })
    }

    private def respond(ctx: ChannelHandlerContext, stream: Http2FrameStream,
        result: Either[String, Vector[Array[Byte]]]): Unit = result match {
      case Left(err) =>
        // trailers-only error: grpc-status 3 (INVALID_ARGUMENT) unless the
        // dispatcher encoded a specific code via GrpcServer.statusError
        // (NOT_FOUND / ALREADY_EXISTS on the management routes, like
        // tonic's typed Status in the reference)
        val (code, message) = GrpcServer.splitStatus(err)
        val h = new DefaultHttp2Headers().status("200")
        h.set("content-type", "application/grpc")
        h.set("grpc-status", code.toString)
        h.set("grpc-message", message.replaceAll("[\r\n]", " ").take(512))
        ctx.writeAndFlush(new DefaultHttp2HeadersFrame(h, true).stream(stream))
      case Right(messages) =>
        val h = new DefaultHttp2Headers().status("200")
        h.set("content-type", "application/grpc")
        ctx.write(new DefaultHttp2HeadersFrame(h, false).stream(stream))
        messages.foreach { m =>
          val buf = Unpooled.buffer(m.length + 5)
          buf.writeByte(0); buf.writeInt(m.length); buf.writeBytes(m)
          ctx.write(new DefaultHttp2DataFrame(buf, false).stream(stream))
        }
        val t = new DefaultHttp2Headers()
        t.set("grpc-status", "0")
        ctx.write(new DefaultHttp2HeadersFrame(t, true).stream(stream))
        ctx.flush()
    }
  }
}

object GrpcServer {
  /** Encode a non-default gRPC status code into the dispatch error
    * channel (the dispatch signature carries errors as strings);
    * [[splitStatus]] recovers it in the transport. Codes are the public
    * grpc-status values: 5 NOT_FOUND, 6 ALREADY_EXISTS, 12 UNIMPLEMENTED. */
  private val Marker = '\u0001'

  def statusError(code: Int, msg: String): String =
    s"$Marker$code$Marker$msg"

  private[server] def splitStatus(err: String): (Int, String) =
    if (err.nonEmpty && err.charAt(0) == Marker) {
      val sep = err.indexOf(Marker.toInt, 1)
      if (sep > 1) (err.substring(1, sep).toInt, err.substring(sep + 1))
      else (3, err)
    } else (3, err)
}

/** Minimal prior-knowledge h2c gRPC CLIENT (one call per connection) —
  * the test harness proving the server end-to-end over a real socket:
  * same public wire spec, netty's client-side HTTP/2 codec. Returns the
  * `grpc-status` trailer value and the decoded response messages. */
object GrpcClient {
  def call(port: Int, path: String, request: Array[Byte],
      timeoutMs: Long = 60000): (Int, Seq[Array[Byte]]) = {
    val group = new NioEventLoopGroup(1)
    try {
      val status = new AtomicInteger(-1)
      val done = new CountDownLatch(1)
      val msgs = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]
      val acc = Unpooled.buffer()
      val parent = new Bootstrap().group(group)
        .channel(classOf[NioSocketChannel])
        .handler(new ChannelInitializer[SocketChannel] {
          override def initChannel(c: SocketChannel): Unit = {
            c.pipeline().addLast(Http2FrameCodecBuilder.forClient().build())
            c.pipeline().addLast(
              new Http2MultiplexHandler(new ChannelInboundHandlerAdapter))
          }
        })
        .connect("127.0.0.1", port).sync().channel()
      val sb = new Http2StreamChannelBootstrap(parent)
      sb.handler(new ChannelInboundHandlerAdapter {
        override def channelRead(ctx: ChannelHandlerContext, msg: Any): Unit =
          msg match {
            case hf: Http2HeadersFrame =>
              val gs = hf.headers().get("grpc-status")
              if (gs != null) status.set(Integer.parseInt(String.valueOf(gs)))
              if (hf.isEndStream) done.countDown()
            case df: Http2DataFrame =>
              acc.writeBytes(df.content())
              val end = df.isEndStream
              val consumed = df.initialFlowControlledBytes()
              df.release()
              if (consumed > 0) // same flow-control hand-back, client side
                ctx.writeAndFlush(
                  new DefaultHttp2WindowUpdateFrame(consumed).stream(df.stream()))
              var more = true
              while (more && acc.readableBytes() >= 5) {
                acc.markReaderIndex()
                acc.readByte() // compressed flag (always 0 here)
                val len = acc.readInt()
                if (len < 0 || acc.readableBytes() < len) {
                  acc.resetReaderIndex(); more = false
                } else {
                  val a = new Array[Byte](len); acc.readBytes(a); msgs.add(a)
                }
              }
              if (end) done.countDown()
            case other => ReferenceCountUtil.release(other)
          }
      })
      val stream = sb.open().sync().getNow
      val h = new DefaultHttp2Headers()
        .method("POST").path(path).scheme("http")
        .authority(s"127.0.0.1:$port")
      h.set("content-type", "application/grpc")
      h.set("te", "trailers")
      stream.write(new DefaultHttp2HeadersFrame(h, false))
      val buf = Unpooled.buffer(request.length + 5)
      buf.writeByte(0); buf.writeInt(request.length); buf.writeBytes(request)
      stream.writeAndFlush(new DefaultHttp2DataFrame(buf, true))
      require(done.await(timeoutMs, TimeUnit.MILLISECONDS),
        s"gRPC call to $path timed out")
      parent.close().sync()
      import scala.jdk.CollectionConverters._
      (status.get(), msgs.asScala.toVector)
    } finally group.shutdownGracefully(0, 0, TimeUnit.MILLISECONDS)
  }
}
