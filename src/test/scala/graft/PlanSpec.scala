package graft

import org.apache.spark.sql.functions._

/** Physical-plan assertions — the 100 TB design rules made executable
  * (SURVEY §4.1, build-prompt scale checklist). These tests fail if a future
  * change silently loses predicate pushdown, column pruning, broadcast
  * placement, or two-phase aggregation — the properties that decide whether a
  * plan survives a 1000-executor scale-up.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters are pushed down to the parquet scan (q02)") {
    val plan = planOf(queries.TpchQueries.q02_filter_project(spark, sf))
    assert(plan.contains("PushedFilters: ["), s"no pushdown in:\n$plan")
    assert(!plan.contains("PushedFilters: []"), s"empty pushdown in:\n$plan")
  }

  test("column pruning reaches the scan: flagship reads a subset of lineitem")  {
    val df = queries.TpchQueries.q01_pricing_summary(spark, sf)
    val scan = planOf(df)
    // ReadSchema must not include the unused l_orderkey/l_partkey/l_suppkey
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"unpruned scan: $readSchema")
  }

  test("dimension joins are planned as broadcast joins (q04)") {
    val plan = planOf(queries.TpchQueries.q04_join_broadcast(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join in:\n$plan")
  }

  test("TPC-H Q3/Q10: date filters pushed to the scans, dims broadcast (q132/q133)") {
    val p3 = planOf(queries.TpchQueries.q132_tpch_q3(spark, sf))
    assert(p3.contains("BroadcastHashJoin"), s"no broadcast in Q3:\n$p3")
    assert(p3.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      s"o_orderdate filter not pushed in Q3:\n$p3")
    val p10 = planOf(queries.TpchQueries.q133_tpch_q10(spark, sf))
    assert(p10.contains("BroadcastHashJoin"), s"no broadcast in Q10:\n$p10")
    assert(p10.contains("EqualTo(l_returnflag,R)"),
      s"l_returnflag filter not pushed in Q10:\n$p10")
  }

  test("keyed aggregation is two-phase (partial + final HashAggregate)") {
    val plan = planOf(queries.TpchQueries.q01_pricing_summary(spark, sf))
    val hashAggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate in:\n$plan")
  }

  test("typed udaf aggregation still plans two-phase (q17)") {
    val plan = planOf(queries.TpchQueries.q17_typed_topn(spark, sf))
    val aggs = plan.linesIterator.count(l =>
      l.contains("HashAggregate") || l.contains("ObjectHashAggregate") || l.contains("SortAggregate"))
    assert(aggs >= 2, s"expected two-phase aggregation in:\n$plan")
  }

  test("whole-stage codegen covers the flagship aggregation") {
    val df = queries.TpchQueries.q01_pricing_summary(spark, sf)
    df.collect() // AQE finalizes the physical plan only on execution
    val plan = planOf(df)
    // codegen stages render as `*(n) Operator` in the plan string
    assert(plan.contains("*(1)"), s"no codegen spans in:\n$plan")
  }

  test("decontamination joins the benchmark shingle set as a broadcast (q68)") {
    val plan = planOf(queries.TextQueries.q68_decontaminate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"benchmark set not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-wide shuffle join in decontamination:\n$plan")
  }

  test("repeated-span detection never plans an all-pairs join and drops text early (q79)") {
    val df = queries.TextQueries.q79_repeated_spans(spark, sf)
    df.collect() // AQE finalizes join strategies only on execution
    val plan = planOf(df)
    // the suffix-array relaxation must stay hash-keyed: a cartesian/theta join
    // here means the window-hash groupBy degraded to all-pairs
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in repeated-span plan:\n$plan")
    // the raw text column must not cross any exchange — only doc_id + hashes
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text"), s"text column shuffled in:\n$exchanges")
  }

  test("windowed co-aggregation is ONE shuffle, not an aggregate-join (q80)") {
    val df = queries.EventQueries.q80_windowed_coagg(spark, sf)
    df.collect() // AQE finalizes the shuffle stages only on execution
    // an adaptive plan prints Final AND Initial sections — count only the final
    val plan = planOf(df).split("== Initial Plan ==").head
    // the tag-union shape must produce a single exchange feeding a two-phase
    // hash agg; a join of two windowed aggregations would show >=2 exchanges
    // plus a join node
    val exchanges = plan.linesIterator.count(_.contains("+- Exchange"))
    assert(exchanges === 1, s"expected exactly 1 shuffle in co-agg plan, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"co-aggregation planned as a join:\n$plan")
    val hashAggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"co-agg lost two-phase aggregation:\n$plan")
  }

  test("column-list mapping prunes the parquet ReadSchema to the declared columns (q66)") {
    val gsql = graft.sql.GraftSql(spark)
    gsql.execute(
      s"""CREATE OR REPLACE MAPPING li_pruned EXTERNAL NAME '$sf/lineitem.parquet' (
         |  okey BIGINT EXTERNAL NAME 'l_orderkey',
         |  qty DOUBLE EXTERNAL NAME 'l_quantity'
         |) TYPE parquet""".stripMargin)
    val plan = planOf(gsql.execute("SELECT okey, qty FROM li_pruned"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"),
      s"declared columns missing from scan: $readSchema")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"undeclared columns read by scan: $readSchema")
    gsql.execute("DROP MAPPING li_pruned")
  }

  test("as-of join plans as union + one key shuffle, never a theta join") {
    // assert on the BARE operator (q19 adds a legitimate pre-dedup shuffle of
    // the right side on top): the as-of itself must stay union + one window
    // shuffle on the key, never a range/theta join
    import org.apache.spark.sql.functions.col
    val events = Tables(spark, sf, "events")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_event"))
    val df = operators.AsofJoin(purchases, views, "user_id", "ts", "view_ts", Seq("view_event"))
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of degenerated to a theta join:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"too many shuffles ($exchanges) in as-of plan:\n$plan")
  }

  test("expensive generator inputs never leak into Filter conditions (generate-inlining guard)") {
    // InferFiltersFromGenerate + pushdown can inline a generator's input
    // expression into a below-Project filter; with the md5-token-hash shingle
    // pipeline that inlining is O(tokens²) per row (measured: q68 100 s
    // instead of 1 s at sf0.1). The explode_outer + null-filter pattern keeps
    // it out — this asserts the property on every affected query so a future
    // refactor (or optimizer change) can't silently reintroduce it: md5/conv
    // work may appear in Project/Generate/HashAggregate nodes, NEVER in a
    // Filter condition.
    // derive the needles from the ACTUAL tokenizer/hash expressions, so a
    // tokenizer refactor can't silently detach this guard from what it
    // protects (ADVICE r3): every non-structural function call the expensive
    // chain uses is banned from filter predicates in these plans
    import org.apache.spark.sql.functions.col
    val expensiveSql = Seq(
      functions.TextFunctions.tokens(col("text")).toString,
      functions.TextFunctions.tokenLongHashes(col("text")).toString).mkString(" ")
    val structural = Set( // cheap/structural calls that legitimately appear in predicates
      "filter(", "size(", "lambdafunction(", "namedlambdavariable(", "cast(")
    val needles = """[a-z_][a-z_0-9]*\(""".r
      .findAllIn(expensiveSql.toLowerCase).toSet -- structural
    // the chain is the tokens kernel feeding the md5-half hash: both calls
    // must be among the needles, named as the plans render them
    val kernelCalls = Set(
      functions.expr.Tokens(null).prettyName,
      functions.expr.Md5Half(null).prettyName).map(_ + "(")
    assert(kernelCalls.subsetOf(needles),
      s"needle derivation broke — tokenizer sql: $expensiveSql, needles: $needles")
    Seq(
      "q29" -> queries.TextQueries.q29_tfidf(spark, sf),
      "q30" -> queries.TextQueries.q30_wordcount(spark, sf),
      "q68" -> queries.TextQueries.q68_decontaminate(spark, sf)
    ).foreach { case (name, df) =>
      val plan = planOf(df)
      val filterLines = plan.linesIterator
        .filter(l => l.trim.startsWith("Condition") || l.contains("Filter ("))
        .mkString("\n")
      needles.foreach(n =>
        assert(!filterLines.toLowerCase.contains(n),
          s"$name: tokenizer/hash call '$n' inlined into a Filter condition:\n$filterLines"))
    }
  }

  test("sequence packing drops text before the window shuffle (q72)") {
    val df = queries.TextQueries.q72_pack_sequences(spark, sf)
    df.collect() // let AQE finalize
    // every Exchange must move (source, doc_id, n_tokens)-shaped rows only;
    // carrying the text payload through the running-sum shuffle would move
    // the whole corpus twice. FormattedMode prints per-node Input/Output
    // column lists — the tree string doesn't.
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val exchangeBlocks = formatted.split("\n\n").filter(b =>
      b.linesIterator.nextOption().exists(_.matches("""\(\d+\) Exchange.*""")))
    assert(exchangeBlocks.nonEmpty, s"no Exchange node found in:\n$formatted")
    exchangeBlocks.foreach(b =>
      assert(!b.contains("text#"), s"text column shuffled in:\n$b"))
  }

  test("contamination report joins against a BROADCAST benchmark set (q89)") {
    val plan = planOf(queries.CorpusQueries.q89_contamination_frac(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"benchmark side shuffled instead of broadcast in:\n$plan")
  }

  test("cross-corpus LSH join is band-keyed, never a cross product (q86)") {
    val plan = planOf(queries.CorpusQueries.q86_cross_corpus_dedup(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian product in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop (all-pairs) join in:\n$plan")
  }

  test("sentence dedup shuffles the fixed-width hash key, not sentence text (q82)") {
    val df = queries.CorpusQueries.q82_sentence_dedup(spark, sf)
    df.collect() // let AQE finalize
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val exchangeBlocks = formatted.split("\n\n").filter(b =>
      b.linesIterator.nextOption().exists(_.matches("""\(\d+\) Exchange.*""")))
    assert(exchangeBlocks.nonEmpty, s"no Exchange node found in:\n$formatted")
    // the window shuffle must carry md5(sentence) (32 bytes), never the
    // sentence string itself
    exchangeBlocks.foreach(b =>
      assert(!b.contains("sent#"), s"sentence text shuffled in:\n$b"))
  }

  test("source-overlap matrix joins on the gram hash, never all-pairs, no text shuffle (q105)") {
    val df = queries.CurationQueries.q105_source_ngram_overlap(spark, sf)
    df.collect() // let AQE finalize join strategies
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in source-overlap plan:\n$plan")
    // every exchange must carry (source, gram-hash) rows only — the raw text
    // and the token array must both be dropped before the first shuffle
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val exchanges = Aqe.collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, s"no Exchange node found in:\n${planOf(df)}")
    // the guarded scan fan-out (Tables.fanOutScan, r20) is a ROUND-ROBIN
    // exchange fed straight by the scan: it carries each input byte at most
    // once, and only when the input is an unsplittable single row group —
    // exempt that shape alone (pushed-down filters and column pruning may
    // sit between, nothing that derives a column); the invariant under test
    // is that no other shuffle (the keyed join/agg exchanges, which at
    // 100 TB move data many times, or a round-robin over derived rows)
    // carries the text or token payload
    def scanFed(p: SparkPlan): Boolean = p match {
      case _: FileSourceScanExec => true
      case w: WholeStageCodegenExec => scanFed(w.child)
      case i: InputAdapter => scanFed(i.child)
      case c: ColumnarToRowExec => scanFed(c.child)
      case f: FilterExec => scanFed(f.child)
      case pr: ProjectExec =>
        pr.projectList.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]) &&
          scanFed(pr.child)
      case _ => false
    }
    exchanges
      .filterNot(e => e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] &&
        scanFed(e.child))
      .foreach(e => assert(
        !e.child.output.exists(a => a.name.endsWith("text") || a.name.endsWith("ts")),
        s"text/token payload shuffled in:\n$e"))
  }

  test("embedding pair join carries pre-normalized vectors (no per-pair norm)") {
    val plan = queries.EmbeddingQueries.q39_dedup_embedding(spark, sf)
      .queryExecution.optimizedPlan.toString
    // norm (aggregate-fold then sqrt) must appear below the join (per-row),
    // not above it (per-pair): after optimization the join's output column
    // `cosine` must be a bare dot product with no SQRT
    val aboveJoin = plan.linesIterator.takeWhile(!_.contains("Join")).mkString("\n")
    assert(!aboveJoin.toLowerCase.contains("sqrt"), s"per-pair norm in:\n$aboveJoin")
  }
}
