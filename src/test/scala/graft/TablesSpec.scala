package graft

import org.apache.spark.sql.graftops.Bridge

/** A one-file table's schema is read off its parquet footer on the driver
  * (Bridge.parquetFileSchema, through Tables.readParquet for Tables.apply and
  * parquet mappings): it must be exactly what Spark's inference gives —
  * names, types and nullability — and building the frame must start no job,
  * where inference runs one to read the same footer.
  */
class TablesSpec extends SparkSpec {

  test("footer schema == spark.read.parquet's inferred schema for every fixture table") {
    Tables.all.foreach { name =>
      val path = s"$sf/$name.parquet"
      val inferred = spark.read.parquet(path).schema
      assert(Bridge.parquetFileSchema(spark, path) === Some(inferred), name)
      assert(spark.read.schema(inferred).parquet(path).schema === inferred, name)
    }
  }

  test("Tables.apply on a one-file table starts no job; inference starts one") {
    Tables.all.foreach(name => assert(jobsStartedBy(Tables(spark, sf, name)) === 0, name))
    assert(jobsStartedBy(spark.read.parquet(s"$sf/orders.parquet")) === 1)
  }

  test("a parquet CREATE MAPPING over one file starts no job and keeps the inferred schema") {
    val sql = graft.sql.GraftSql(spark)
    val path = s"$sf/orders.parquet"
    assert(jobsStartedBy(
      sql.execute(s"CREATE MAPPING tables_spec_orders EXTERNAL NAME '$path' TYPE parquet")) === 0)
    assert(spark.table("tables_spec_orders").schema === spark.read.parquet(path).schema)
  }

  test("a directory or a missing path keeps Spark's inference and its errors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_").toString
    try {
      Tables(spark, sf, "region").write.mode("overwrite").parquet(s"$dir/region.parquet")
      assert(Bridge.parquetFileSchema(spark, s"$dir/region.parquet") === None)
      assert(Tables(spark, dir, "region").schema === Tables(spark, sf, "region").schema)
      assert(Bridge.parquetFileSchema(spark, s"$dir/absent.parquet") === None)
      intercept[org.apache.spark.sql.AnalysisException](Tables(spark, dir, "absent"))
    } finally graft.pipeline.TempFiles.deleteTree(dir)
  }
}
