package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpec

/** End-to-end `mapUsingPython` against a REAL python3 runtime (stdlib
  * only), over the reference's actual bridge shape — a per-worker python
  * gRPC server called with batches over bidi streams (JetToPythonServer
  * .java) — and its handler contract: a user module exposing
  * `transform_list(input_list) -> output_list`, fed in batches, one output
  * per input, errors surfaced loudly.
  */
class PythonTransformsSpec extends SparkSpec {

  import spark.implicits._

  private def handler(name: String, body: String): String = {
    val f = Files.createTempFile(s"graft_${name}_", ".py")
    Files.write(f, body.getBytes(UTF_8))
    f.toFile.deleteOnExit()
    f.toString
  }

  test("gRPC transport: the same transform_list handler over a real HTTP/2 bidi stream") {
    val h = handler("upper_grpc", """def transform_list(items):
                                    |    return [s.upper() + "!" for s in items]
                                    |""".stripMargin)
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "txt")
    val out = PythonGrpcTransforms.mapUsingPythonGrpc(df, "txt", h)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, "ALPHA!"), (2L, "BETA!"), (3L, "GAMMA!")))
  }

  test("gRPC transport: batches split by count; many batches on one connection; newlines survive") {
    val h = handler("batches_grpc", """def transform_list(items):
                                      |    n = len(items)
                                      |    return ["%s|%d" % (s, n) for s in items]
                                      |""".stripMargin)
    val df = spark.range(10).selectExpr("id", "cast(id as string) AS txt")
      .repartition(1)
    val out = PythonGrpcTransforms.mapUsingPythonGrpc(df, "txt", h, batchSize = 3)
      .selectExpr("txt").as[String].collect()
    val sizes = out.map(_.split('|')(1).toInt).groupBy(identity)
      .view.mapValues(_.length).toMap
    assert(sizes === Map(3 -> 9, 1 -> 1), s"batch shape was $sizes")
    // gRPC frames carry arbitrary strings — no line-protocol restriction
    val tricky = Seq((1L, "line1\nline2"), (2L, "tab\there")).toDF("id", "txt")
    val echo = handler("echo_grpc", """def transform_list(items):
                                      |    return ["<%s>" % s for s in items]
                                      |""".stripMargin)
    val got = PythonGrpcTransforms.mapUsingPythonGrpc(tricky, "txt", echo)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, "<line1\nline2>"), (2L, "<tab\there>")))
  }

  test("gRPC transport: batchBytes bounds a batch's input payload") {
    val h = handler("bytes_grpc", """def transform_list(items):
                                    |    n = len(items)
                                    |    return ["%d" % n for _ in items]
                                    |""".stripMargin)
    // 8 rows x 400 chars at batchBytes=1000 -> batches of 3 (room for 2 full
    // rows, the 3rd crosses the budget after being added)
    val df = spark.range(8)
      .selectExpr("id", "repeat('x', 400) AS txt").repartition(1)
    val out = PythonGrpcTransforms.mapUsingPythonGrpc(df, "txt", h,
      batchSize = 512, batchBytes = 1000)
      .selectExpr("txt").as[String].collect()
    assert(out.forall(_.toInt <= 3), s"some batch exceeded the byte budget: ${out.toSeq}")
  }

  test("gRPC transport: one python server PER PARTITION, concurrent, results exact") {
    // 4 partitions -> 4 concurrent python gRPC servers on distinct ephemeral
    // ports (the reference's worker-per-processor topology); empty partitions
    // spawn nothing
    val h = handler("pid_grpc", """import os
                                  |def transform_list(items):
                                  |    return ["%s@%d" % (s, os.getpid()) for s in items]
                                  |""".stripMargin)
    val df = spark.range(40).selectExpr("id", "cast(id as string) AS txt")
      .repartition(4)
    val out = PythonGrpcTransforms.mapUsingPythonGrpc(df, "txt", h)
      .selectExpr("id", "txt").as[(Long, String)].collect()
    assert(out.length == 40)
    // every row's payload round-tripped against ITS id (ordered 1:1 per batch)
    out.foreach { case (id, s) => assert(s.startsWith(s"$id@"), s"$id -> $s") }
    // more than one worker process actually served (one per non-empty partition)
    val pids = out.map(_._2.split('@')(1)).distinct
    assert(pids.length > 1, s"expected multiple python workers, saw pids $pids")
  }

  test("gRPC transport: a raising handler fails loudly with the python traceback") {
    val h = handler("boom_grpc", """def transform_list(items):
                                   |    raise ValueError("grpc handler exploded")
                                   |""".stripMargin)
    val df = Seq("x").toDF("txt")
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      PythonGrpcTransforms.mapUsingPythonGrpc(df, "txt", h).collect()
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(e).contains("grpc handler exploded"),
      s"python stderr tail not surfaced: ${messages(e).take(500)}")
    // the worker's exit closes the stream without trailers: the call must
    // fail then, not when the per-batch await gives up
    assert(elapsedS < 30, f"failure took $elapsedS%.1f s to surface")
  }

  // ---------------------------------------- flow control (r15, VERDICT r14
  // item 3): responses larger than HTTP/2's 65535-byte initial window must
  // FLOW — the client replenishes its receive windows with WINDOW_UPDATEs
  // and the python server blocks mid-response until they arrive — instead
  // of raising the r14 named error (parity with the reference bridge's
  // grpc-java flow control, JetToPythonServer.java).

  test("gRPC transport: a single >64 KB response flows (stream window replenished)") {
    // one input item -> one ~200 KB response: > 3x the 65535-byte initial
    // window on ONE stream, so the python server must wait for stream
    // WINDOW_UPDATEs at least twice mid-body
    val h = handler("big_one_grpc", """def transform_list(items):
                                      |    return [s * 100000 for s in items]
                                      |""".stripMargin)
    val df = Seq((1L, "ab")).toDF("id", "txt")
    val out = PythonGrpcTransforms.mapUsingPythonGrpc(df, "txt", h)
      .selectExpr("txt").as[String].collect()
    assert(out.length == 1)
    assert(out.head.length == 200000, s"got ${out.head.length} chars")
    assert(out.head.startsWith("ababab") && out.head.endsWith("ab"))
  }

  test("gRPC transport: a >64 KB BATCH response flows and stays 1:1 ordered") {
    // 30 items x ~5 KB responses = ~150 KB on one stream, well over the
    // initial window; every response must still pair with ITS input
    val h = handler("big_batch_grpc", """def transform_list(items):
                                        |    return [s + ":" + s[-4:] * 1250 for s in items]
                                        |""".stripMargin)
    val df = spark.range(30)
      .selectExpr("id", "concat(cast(id AS string), '_', repeat('z', 10)) AS txt")
      .repartition(1)
    val out = PythonGrpcTransforms
      .mapUsingPythonGrpc(df, "txt", h, batchSize = 512, batchBytes = 1 << 20)
      .selectExpr("id", "txt").as[(Long, String)].collect()
    assert(out.length == 30)
    out.foreach { case (id, s) =>
      assert(s.startsWith(s"${id}_"), s"response mispaired: $id -> ${s.take(30)}")
      assert(s.length == s"${id}_${"z" * 10}".length + 1 + 5000, s"$id length ${s.length}")
    }
  }

  test("gRPC transport: batchBytes counts UTF-8 bytes, and nulls are rejected loudly") {
    // 3-byte UTF-8 chars: 200 chars = 600 bytes; batchBytes=1000 fits ONE
    // such row plus the one that crosses the budget — a code-unit counter
    // would have packed 4 (ADVICE r14)
    val h = handler("utf8_grpc", """def transform_list(items):
                                   |    n = len(items)
                                   |    return ["%d" % n for _ in items]
                                   |""".stripMargin)
    val df = spark.range(8)
      .selectExpr("id", "repeat('世', 200) AS txt").repartition(1)
    val out = PythonGrpcTransforms.mapUsingPythonGrpc(df, "txt", h,
      batchSize = 512, batchBytes = 1000)
      .selectExpr("txt").as[String].collect()
    assert(out.forall(_.toInt <= 2), s"multibyte text blew the byte budget: ${out.toSeq}")

    val withNull = Seq((1L, "ok"), (2L, null)).toDF("id", "txt")
    val e = intercept[Exception] {
      PythonGrpcTransforms.mapUsingPythonGrpc(withNull, "txt", h).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(e).contains("null value in the handler column"),
      s"null not rejected with the named error: ${messages(e).take(300)}")
  }

  test("gRPC transport: stage form parity") {
    val h = handler("suffix_grpc", """def transform_list(items):
                                     |    return [s + "-grpc" for s in items]
                                     |""".stripMargin)
    val stage = new BatchStage(Seq("a", "b").toDS())
    val out = PythonGrpcTransforms.mapUsingPythonGrpcStage(h)(stage)
      .ds.collect().sorted
    assert(out.toSeq === Seq("a-grpc", "b-grpc"))
  }
}
