package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graftops.Bridge

class ProfileSpec extends SparkSpec {

  test("a name resolves exactly or by a unique prefix; an ambiguous prefix fails") {
    val registry = SparkEntry.queries
    assert(Profile.resolve(registry, Seq("q01_pricing_summary", "q50")).map(_._1) ==
      Seq("q01_pricing_summary", "q50_stream_tumbling"))
    val e = intercept[IllegalArgumentException](Profile.resolve(registry, Seq("q1")))
    assert(e.getMessage.contains("ambiguous"))
    assert(e.getMessage.contains("q10") && e.getMessage.contains("q113_stream_classify"))
    intercept[IllegalArgumentException](Profile.resolve(registry, Seq("q999")))
  }

  test("arguments: --reps and --plans before one comma-separated name list") {
    assert(Profile.parse(Seq("--reps", "2", "--plans", "out", "t", "q01,q50")) ==
      Profile.Options(2, Some(("out", "t")), Seq("q01", "q50")))
    intercept[IllegalArgumentException](Profile.parse(Seq("--reps", "x", "q01")))
    intercept[IllegalArgumentException](Profile.parse(Nil))
  }

  test("one trace line per run, batch and streaming; --plans writes the plan; " +
    "close leaves no listener behind") {
    val dir = Files.createTempDirectory("graft_profile_")
    val opts = Profile.parse(Seq("--reps", "1", "--plans", dir.toString, "t", "q01,q50"))
    val lines = ArrayBuffer.empty[String]
    // the codegen cache is JVM-wide: empty it so the cold run is cold
    // whichever suite ran q01 before in this JVM
    val cacheField = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheField.setAccessible(true)
    val cache = cacheField.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    Profile.run(spark, sf, Profile.resolve(SparkEntry.queries, opts.names), opts, lines += _)
    val json = lines.map(new ObjectMapper().readTree(_)).toSeq
    def run(q: String, r: String) =
      json.find(j => j.get("query").asText == q && j.path("run").asText == r).get
    assert(json.count(_.has("run")) == 4)

    val batch = run("q01_pricing_summary", "cold")
    assert(batch.get("jobs").asInt > 0)
    assert(batch.get("tasks").asInt > 0)
    assert(batch.get("task_run_s").asDouble > 0)
    assert(batch.has("skew") && batch.has("stage_tasks"))
    assert(batch.get("codegen_compiles").asLong > 0)
    assert(batch.get("codegen_compile_ms").asDouble > 0)
    assert(run("q01_pricing_summary", "warm1").get("codegen_compiles").asLong == 0)

    val batches = run("q50_stream_tumbling", "warm1").get("batches").elements.asScala.toSeq
    assert(batches.nonEmpty)
    assert(batches.exists(_.get("durationMs").has("addBatch")))

    assert(json.exists(j => j.get("query").asText == "q01_pricing_summary" &&
      j.has("warm_best_s") && j.has("warm_mean_s")))
    assert(Files.exists(dir.resolve("q01_pricing_summary_t.txt")))
    assert(Files.exists(dir.resolve("q50_stream_tumbling_t.txt")))

    def traces(ls: Seq[AnyRef]) = ls.filter(_.getClass.getName.startsWith("graft.trace."))
    assert(traces(Bridge.sparkListeners(spark)).isEmpty)
    assert(traces(spark.streams.listListeners().toSeq).isEmpty)
    graft.pipeline.TempFiles.deleteTree(dir.toString)
  }
}
