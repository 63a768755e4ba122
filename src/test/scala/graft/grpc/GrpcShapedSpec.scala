package graft.grpc

import graft.SparkSpec
import graft.pipeline.BatchStage
import io.netty.bootstrap.ServerBootstrap
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2ResetFrame, Http2Error, Http2FrameCodecBuilder, Http2MultiplexHandler}
import scala.concurrent.Await
import scala.concurrent.duration._

/** The §2.4 gRPC seam against a REAL HTTP/2 wire (netty frame codec over
  * loopback TCP): gRPC length-prefixed framing, POST/:path/application-grpc
  * headers, grpc-status trailers — the protocol surface grpc-java stubs
  * would speak, exercised without grpc-java (zero-egress sandbox). The
  * execution shape composes with the async service transforms exactly as
  * the reference's GrpcServices factories do (GrpcServices.java:103,164).
  */
class GrpcShapedSpec extends SparkSpec {

  private def withServer[A](f: Int => A): A = {
    val server = new GrpcShapedServer(
      unary = Map("/graft.Echo/Upper" ->
        ((m: Array[Byte]) => ProtoLite.encodeString(
          ProtoLite.decodeString(m).toUpperCase))),
      bidi = Map("/graft.Echo/Tag" ->
        ((m: Array[Byte]) => Seq(ProtoLite.encodeString(
          "tag:" + ProtoLite.decodeString(m))))))
    val port = server.start()
    try f(port) finally server.stop()
  }

  test("wire level: unary call round-trips framing, headers, and grpc-status trailers") {
    withServer { port =>
      val c = new GrpcShapedClient("127.0.0.1", port)
      try {
        val out = Await.result(
          GrpcServices.unaryString(c, "/graft.Echo/Upper", "héllo"), 10.seconds)
        assert(out === "HÉLLO") // UTF-8 through protobuf + the 5-byte frame
        val bad = c.unary("/graft.Nope/Missing", ProtoLite.encodeString("x"))
        val e = intercept[RuntimeException](Await.result(bad, 10.seconds))
        assert(e.getMessage.contains("grpc-status 12"), s"UNIMPLEMENTED expected: $e")
      } finally c.close()
    }
  }

  test("wire level: unary protocol violations get spec-mandated error statuses") {
    withServer { port =>
      val c = new GrpcShapedClient("127.0.0.1", port)
      try {
        // two request messages on a unary method: INTERNAL (13)
        val two = c.bidi("/graft.Echo/Upper",
          Seq(ProtoLite.encodeString("a"), ProtoLite.encodeString("b")))
        val e13 = intercept[RuntimeException](Await.result(two, 10.seconds))
        assert(e13.getMessage.contains("grpc-status 13"), s"INTERNAL expected: $e13")
        // zero request messages on a unary method: INVALID_ARGUMENT (3)
        val none = c.bidi("/graft.Echo/Upper", Seq.empty)
        val e3 = intercept[RuntimeException](Await.result(none, 10.seconds))
        assert(e3.getMessage.contains("grpc-status 3"), s"INVALID_ARGUMENT expected: $e3")
        // the channel stays usable for a well-formed call afterwards
        val ok = Await.result(
          GrpcServices.unaryString(c, "/graft.Echo/Upper", "still up"), 10.seconds)
        assert(ok === "STILL UP")
      } finally c.close()
    }
  }

  test("wire level: bidi stream answers per message, in order, on one stream") {
    withServer { port =>
      val c = new GrpcShapedClient("127.0.0.1", port)
      try {
        val out = Await.result(
          GrpcServices.bidiStrings(c, "/graft.Echo/Tag",
            (1 to 50).map(i => s"m$i")), 10.seconds)
        assert(out === (1 to 50).map(i => s"tag:m$i"),
          "per-message responses in request order")
      } finally c.close()
    }
  }

  test("wire level: a throwing handler ends its call with INTERNAL") {
    val boom = (_: Array[Byte]) => throw new IllegalStateException("handler failed")
    val server = new GrpcShapedServer(
      unary = Map("/graft.Boom/Upper" -> boom),
      bidi = Map("/graft.Boom/Tag" -> ((m: Array[Byte]) =>
        if (ProtoLite.decodeString(m) == "bad") boom(m) else Seq(m))))
    val port = server.start()
    val c = new GrpcShapedClient("127.0.0.1", port)
    try {
      // each call must end within 5 s, not wait out the client's timeout
      val unary = c.unary("/graft.Boom/Upper", ProtoLite.encodeString("x"))
      val eu = intercept[RuntimeException](Await.result(unary, 5.seconds))
      assert(eu.getMessage.contains("grpc-status 13"), s"INTERNAL expected: $eu")
      val bidi = c.bidi("/graft.Boom/Tag", Seq("ok", "bad", "ok").map(ProtoLite.encodeString))
      val eb = intercept[RuntimeException](Await.result(bidi, 5.seconds))
      assert(eb.getMessage.contains("grpc-status 13"), s"INTERNAL expected: $eb")
      val ok = c.bidi("/graft.Boom/Tag", Seq(ProtoLite.encodeString("ok")))
      assert(Await.result(ok, 5.seconds).map(ProtoLite.decodeString) === Seq("ok"))
    } finally {
      c.close()
      server.stop()
    }
  }

  test("mapUsingServiceAsync routes rows through the gRPC channel (ordered ring)") {
    import spark.implicits._
    withServer { port =>
      val factory = GrpcServices.channel("127.0.0.1", port)
      val out = new BatchStage((1 to 200).map(i => s"row$i").toDS())
        .mapUsingServiceAsync(factory, maxConcurrent = 8) { (svc, s) =>
          GrpcServices.unaryString(svc, "/graft.Echo/Upper", s)
        }.ds.collect().toSeq
      assert(out === (1 to 200).map(i => s"ROW$i"),
        "input order preserved through the in-flight ring")
    }
  }

  test("mapUsingServiceAsyncBatched opens one bidi stream per batch") {
    import spark.implicits._
    withServer { port =>
      val factory = GrpcServices.channel("127.0.0.1", port)
      val out = new BatchStage((1 to 300).map(i => s"v$i").toDS())
        .mapUsingServiceAsyncBatched(factory, batchSize = 64, maxConcurrent = 4) {
          (svc, batch) => GrpcServices.bidiStrings(svc, "/graft.Echo/Tag", batch)
        }.ds.collect().toSeq
      assert(out === (1 to 300).map(i => s"tag:v$i"))
    }
  }

  test("wire level: a call whose stream the peer resets fails instead of hanging") {
    // a server that answers every request stream with RST_STREAM(CANCEL)
    val group = new MultiThreadIoEventLoopGroup(1, NioIoHandler.newFactory())
    val server = new ServerBootstrap().group(group).channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[Channel] {
        override def initChannel(ch: Channel): Unit = {
          ch.pipeline().addLast(Http2FrameCodecBuilder.forServer().build(),
            new Http2MultiplexHandler(new ChannelInitializer[Channel] {
              override def initChannel(sc: Channel): Unit = {
                sc.pipeline().addLast(new ChannelInboundHandlerAdapter {
                  override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = {
                    io.netty.util.ReferenceCountUtil.release(msg)
                    ctx.writeAndFlush(new DefaultHttp2ResetFrame(Http2Error.CANCEL))
                    ()
                  }
                })
                ()
              }
            }))
          ()
        }
      }).bind("127.0.0.1", 0).sync().channel()
    val port = server.localAddress().asInstanceOf[java.net.InetSocketAddress].getPort
    val c = new GrpcShapedClient("127.0.0.1", port)
    try {
      val call = c.unary("/graft.Echo/Upper", ProtoLite.encodeString("x"))
      val e = intercept[RuntimeException](Await.result(call, 10.seconds))
      assert(e.getMessage.contains("reset by peer"), s"reset not surfaced: $e")
    } finally {
      c.close()
      server.close().sync()
      group.shutdownGracefully(0, 100, java.util.concurrent.TimeUnit.MILLISECONDS)
      ()
    }
  }
}
