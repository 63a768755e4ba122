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

  override def afterAll(): Unit = {
    // shared session across suites — do not stop; just clear leftover streams
    graft.pipeline.JobRegistry.stopAll()
    super.afterAll()
  }
}
