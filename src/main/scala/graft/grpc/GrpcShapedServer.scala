package graft.grpc

import io.netty.bootstrap.ServerBootstrap
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2._

import scala.util.control.NonFatal

/** In-process gRPC server over REAL HTTP/2 (netty frame codec) — the
  * sandbox stand-in for the reference's gRPC service endpoints
  * (extensions/grpc/.../GrpcServices.java): a unary method answers one
  * request message with one response at client half-close; a bidi method
  * answers EACH request message as it arrives (responses interleave with
  * requests on the same stream) and closes with trailers at half-close.
  *
  * Wire behavior per the public gRPC-over-HTTP/2 spec: request HEADERS
  * carry `:method POST`, `:path /Svc/Method`, `content-type
  * application/grpc`; response = HEADERS(:status 200) + DATA frames of
  * length-prefixed messages + trailers `grpc-status: 0` with END_STREAM;
  * unknown paths answer `grpc-status: 12` (UNIMPLEMENTED), and a handler
  * that throws ends its call with `grpc-status: 13` (INTERNAL).
  */
final class GrpcShapedServer(unary: Map[String, Array[Byte] => Array[Byte]],
                             bidi: Map[String, Array[Byte] => Seq[Array[Byte]]] = Map.empty) {

  private val group = new MultiThreadIoEventLoopGroup(2, NioIoHandler.newFactory())
  @volatile private var channel: Channel = _

  def start(): Int = {
    val b = new ServerBootstrap()
    b.group(group).channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          ch.pipeline().addLast(
            Http2FrameCodecBuilder.forServer().build(),
            new Http2MultiplexHandler(new ChannelInitializer[Channel] {
              override def initChannel(sc: Channel): Unit =
                sc.pipeline().addLast(new StreamHandler)
            }))
          ()
        }
      })
    channel = b.bind("127.0.0.1", 0).sync().channel()
    channel.localAddress().asInstanceOf[java.net.InetSocketAddress].getPort
  }

  def stop(): Unit = {
    if (channel != null) channel.close().sync()
    group.shutdownGracefully(0, 100, java.util.concurrent.TimeUnit.MILLISECONDS)
    ()
  }

  private final class StreamHandler extends ChannelInboundHandlerAdapter {
    private val decoder = new GrpcFraming.Decoder
    private var path: String = _
    private var headersSent = false
    private var closed = false
    private var unaryMsg: Option[Array[Byte]] = None

    private def sendHeaders(ctx: ChannelHandlerContext): Unit = if (!headersSent) {
      headersSent = true
      val h = new DefaultHttp2Headers()
      h.status("200")
      h.add("content-type", "application/grpc")
      ctx.write(new DefaultHttp2HeadersFrame(h, false))
      ()
    }

    private def sendTrailers(ctx: ChannelHandlerContext, status: Int): Unit = if (!closed) {
      closed = true
      sendHeaders(ctx) // trailers-only responses still need response headers first
      val t = new DefaultHttp2Headers()
      t.add("grpc-status", status.toString)
      ctx.writeAndFlush(new DefaultHttp2HeadersFrame(t, true))
      ()
    }

    private def respond(ctx: ChannelHandlerContext, msgs: Seq[Array[Byte]], endStream: Boolean): Unit =
      (unary.get(path), bidi.get(path)) match {
        case (Some(handler), _) =>
          // gRPC unary = exactly one request message; a second on the same
          // stream is a protocol violation → INTERNAL (13) per the spec.
          if (msgs.size + (if (unaryMsg.isDefined) 1 else 0) > 1) {
            sendTrailers(ctx, 13)
          } else {
            msgs.foreach(m => unaryMsg = Some(m))
            if (endStream) {
              unaryMsg match {
                case Some(m) =>
                  val response = GrpcFraming.encode(handler(m))
                  sendHeaders(ctx)
                  ctx.write(new DefaultHttp2DataFrame(response, false))
                  sendTrailers(ctx, 0)
                case None =>
                  sendTrailers(ctx, 3) // no request message: INVALID_ARGUMENT
              }
            }
          }
        case (_, Some(f)) =>
          sendHeaders(ctx)
          msgs.foreach { m =>
            f(m).foreach(r =>
              ctx.write(new DefaultHttp2DataFrame(GrpcFraming.encode(r), false)))
          }
          ctx.flush()
          if (endStream) sendTrailers(ctx, 0)
        case _ =>
          if (endStream) sendTrailers(ctx, 12)
      }

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
      case h: Http2HeadersFrame =>
        path = h.headers().path().toString
        if (h.isEndStream) sendTrailers(ctx,
          // A unary request with END_STREAM on HEADERS carries no message:
          // INVALID_ARGUMENT (3), not an empty-but-OK response. Bidi with zero
          // messages is a legal empty stream. Unknown path: UNIMPLEMENTED (12).
          if (unary.contains(path)) 3
          else if (bidi.contains(path)) 0
          else 12)
      case d: Http2DataFrame if closed =>
        d.release() // stream already terminated with trailers; drop the rest
        ()
      case d: Http2DataFrame =>
        val msgs = decoder.feed(d.content())
        d.release()
        try respond(ctx, msgs, d.isEndStream)
        catch {
          case NonFatal(e) =>
            // a throwing handler still ends the call, or the client would
            // wait for trailers until its own timeout
            GrpcShapedServer.log.warn(s"gRPC handler for $path failed", e)
            sendTrailers(ctx, 13) // INTERNAL
        }
      case other =>
        io.netty.util.ReferenceCountUtil.release(other)
        ()
    }
  }
}

private object GrpcShapedServer {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GrpcShapedServer])
}
