package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture (one per suite; getOrCreate dedups). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]").appName("graft-test"),
    shufflePartitions = 4
  ).getOrCreate()

  lazy val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with session confs set, then restore their earlier values. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` with every expression interpreted: no whole-stage codegen and
    * no generated projections or predicates.
    */
  def interpreted[T](body: => T): T = withConf(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  /** Spark jobs started by `body`, counted by a listener. The listener bus
    * delivers in order, so once a later marker job's start has arrived,
    * every start `body` caused has too.
    */
  def jobsStartedBy(body: => Any): Int = {
    import scala.jdk.CollectionConverters._
    val tag = "graft.spec.jobs"
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      def tagged(t: String)(f: => Any): Unit = {
        sc.setLocalProperty(tag, t)
        try f finally sc.setLocalProperty(tag, null)
      }
      tagged("probe")(body)
      tagged("marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("marker"), "listener never saw the marker job")
      seen.asScala.count(_ == "probe")
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // shared session across suites — do not stop; just clear leftover streams
    graft.pipeline.JobRegistry.stopAll()
    super.afterAll()
  }
}
