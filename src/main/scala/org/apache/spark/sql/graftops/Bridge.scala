package org.apache.spark.sql.graftops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 moved these conversions behind
  * `private[sql] ExpressionUtils`; a sub-package of `org.apache.spark.sql` is
  * the sanctioned extension-library technique for reaching them (same pattern
  * as every Spark connector/extension that defines custom expressions).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached every listener,
    * streaming-query listeners included (their bus is one queue of the
    * context's listener bus).
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Every listener registered on the context's listener bus. */
  def sparkListeners(spark: org.apache.spark.sql.SparkSession): Seq[AnyRef] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
  }

  /** The user-visible name a column would take in a projection, when it is
    * statically known (an `.as(...)` alias or a plain attribute reference) —
    * before analysis, straight off the column node. None for computed columns.
    */
  def namedAs(c: Column): Option[String] = c.node match {
    case a: org.apache.spark.sql.internal.Alias => a.name.lastOption
    case a: org.apache.spark.sql.internal.UnresolvedAttribute => a.nameParts.lastOption
    case _ => None
  }

  /** Some(name) only when the column reads exactly the named input column —
    * a bare attribute reference, or an identity alias of one
    * (`col("k").as("k")`). Computed or renaming columns return None.
    */
  def plainColumnName(c: Column): Option[String] = c.node match {
    case a: org.apache.spark.sql.internal.UnresolvedAttribute => a.nameParts.lastOption
    case a: org.apache.spark.sql.internal.Alias =>
      (a.name.lastOption, a.child) match {
        case (Some(n), u: org.apache.spark.sql.internal.UnresolvedAttribute)
            if u.nameParts.lastOption.contains(n) => Some(n)
        case _ => None
      }
    case _ => None
  }

  /** Eagerly convert a Column to its catalyst expression TREE.
    * `ExpressionUtils.expression` wraps the column node lazily (the node is
    * only converted during analysis), so `.transform` rewrites see a single
    * opaque leaf; this forces the conversion so callers can restructure the
    * tree (e.g. attach aggregate FILTERs) before analysis.
    */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Whether a SESSION-registered function resolves to an aggregate.
    * ExpressionInfo class names are unreliable for registered udafs (the
    * builder is a closure), so the registry BUILDER is invoked with the
    * call's actual arguments and the produced expression inspected; if that
    * throws (arity/type mismatch at this pre-analysis point) the class-name
    * check is the fallback. None = the session registry doesn't know the
    * name at all. `sessionState` is private[sql] — reached from this
    * sanctioned extension sub-package.
    */
  def sessionFunctionIsAggregate(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      args: Seq[Expression]): Option[Boolean] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
    def classify(e: Expression): Boolean = e match {
      case _: AggregateFunction => true
      case _: AggregateExpression => true
      case _ => false
    }
    spark match {
      case cs: org.apache.spark.sql.classic.SparkSession =>
        val reg = cs.sessionState.functionRegistry
        if (reg.functionExists(id))
          Some(
            try classify(reg.lookupFunction(id, args))
            catch {
              case _: Throwable =>
                reg.lookupFunction(id).exists(info =>
                  try classOf[AggregateFunction]
                    .isAssignableFrom(Class.forName(info.getClassName))
                  catch { case _: Throwable => false })
            })
        else {
          // metastore-persistent functions are NOT in the registry until
          // analysis loads them — the session catalog resolves those too
          val cat = cs.sessionState.catalog
          try {
            if (cat.functionExists(id)) Some(classify(cat.lookupFunction(id, args)))
            else None
          } catch { case _: Throwable => None }
        }
      case _ => None
    }
  }

  /** True when `df`'s physical plan is served by EXACTLY ONE file scan that
    * (a) reads a relation bucketed by exactly `colName` and (b) actually
    * executes as a bucketed scan (one RDD partition per bucket — no file
    * splitting or cross-bucket coalescing), so per-key partition-locality
    * holds without an exchange. The plan-time guard for
    * IvfShardedServe.buildCentroids' exchange-free path: callers must check
    * this on the exact frame they execute (auto-bucketed-scan can silently
    * demote a bucketed read when the PLAN shows no need for the
    * distribution — disable it for the bracket, as buildCentroids does).
    */
  def bucketedScanOn(df: org.apache.spark.sql.DataFrame, colName: String): Boolean = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    scans.length == 1 && scans.head.bucketedScan &&
      scans.head.relation.bucketSpec.exists(_.bucketColumnNames == Seq(colName))
  }

  /** Split count of the file scans feeding `df`, summed over every scan that
    * is not a broadcast build side — read off the physical plan without
    * running a job. For a scan-rooted frame (no exchange) this is exactly
    * `df.rdd.getNumPartitions`, which on an AQE plan holding an exchange
    * would execute the shuffle stages to learn the final partition count.
    * None when no file scan feeds the frame.
    */
  def scanPartitions(df: org.apache.spark.sql.DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case _: BroadcastExchangeExec => Nil
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val found = scans(plan)
    if (found.isEmpty) None else Some(found.map(_.inputRDD.getNumPartitions).sum)
  }

  /** The schema `spark.read.parquet(path)` infers, when `path` is ONE
    * parquet file: its footer read on the driver and converted with Spark's
    * own `readSchemaFromFooter` and the session's converter settings. Spark's
    * inference would read the same footer inside a one-task
    * `parallelize(...).collect()` job (`SchemaMergeUtils`). None for a
    * directory or a missing path, which keep Spark's inference and errors.
    */
  def parquetFileSchema(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    spark match {
      case cs: org.apache.spark.sql.classic.SparkSession =>
        val conf = cs.sessionState.newHadoopConf()
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(conf)
        val status =
          try Some(fs.getFileStatus(p))
          catch { case _: java.io.FileNotFoundException => None }
        status.filter(_.isFile).map { st =>
          val meta = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, meta),
            new ParquetToSparkSchemaConverter(cs.sessionState.conf))
        }
      case _ => None
    }
  }

  /** The file-source root paths under a DataFrame's analyzed plan — the part
    * of the input identity that plan CANONICALIZATION erases (a parquet
    * LogicalRelation renders as `Relation [cols] parquet` with no path, and
    * two reads of identically-shaped tables from different directories
    * canonicalize identically). Callers keying caches on a canonical plan
    * must append these.
    */
  def sourcePaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString).mkString(",")
          case other => other.toString
        }
    }
}
