package graft.tsdb

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** A8/G27: carbon-aggregator — rule parsing, pattern compilation,
  * bucket/method folds, multi-rule fan-out, pass-around semantics, and
  * the streaming twin (graphite config-carbon semantics for the stage
  * the reference stubs at L_DataCache.lua:121,170).
  */
class AggregatorSpec extends SparkSpec {
  import spark.implicits._

  test("aggregation-rules parse: fields, frequency, method; comments skipped") {
    val rules = Conf.aggregationRules(
      """# the reference example's own documented scheme
        |<env>.applications.<app>.all.requests (60) = sum <env>.applications.<app>.*.requests
        |<env>.applications.<app>.all.latency (60) = avg <env>.applications.<app>.*.latency
        |""".stripMargin)
    assert(rules.size == 2)
    assert(rules.head == Conf.AggregationRule(
      "<env>.applications.<app>.all.requests", 60L, "sum",
      "<env>.applications.<app>.*.requests"))
    // the shipped .example is ALL comments — zero rules IS the parse
    val ref = Conf.bundled("aggregation-rules.conf.example")
    assert(Conf.aggregationRules(ref).isEmpty)
  }

  test("pattern compile: <field> captures, * anonymous, loud failures") {
    val (re, repl) = Aggregator.compile(Conf.AggregationRule(
      "prod.<app>.all.req", 60L, "sum", "prod.<app>.*.req"))
    assert("prod.apache.www01.req".matches(re))
    assert(!"prod.apache.www01.extra.req".matches(re)) // * is ONE node
    assert(!"xprod.apache.www01.req".matches(re))      // anchored
    assert("prod.apache.www01.req".replaceAll(re, repl) == "prod.apache.all.req")
    intercept[IllegalArgumentException](Aggregator.compile(
      Conf.AggregationRule("x.<nope>", 60L, "sum", "x.<app>")))
    intercept[IllegalArgumentException](Aggregator.compile(
      Conf.AggregationRule("x", 60L, "sum", "x.<open")))
    intercept[IllegalArgumentException](
      Aggregator.methodExpr("median", col("v")))
  }

  test("pattern compile: * matches ZERO or more (carbon [^.]*); literal $ and \\ in templates") {
    // carbon's RuleManager compiles * to [^.]* — foo.x*.req matches foo.x.req
    val (re, _) = Aggregator.compile(Conf.AggregationRule(
      "prod.all.req", 60L, "sum", "prod.x*.req"))
    assert("prod.x.req".matches(re) && "prod.xyz.req".matches(re))
    assert(!"prod.y.req".matches(re))
    // a literal $ or \ in the output template is replacement TEXT, not
    // group-ref / escape syntax
    val (re2, repl2) = Aggregator.compile(Conf.AggregationRule(
      raw"price$$.\total.<app>", 60L, "sum", "cost.<app>.usd"))
    assert("cost.www.usd".replaceAll(re2, repl2) == raw"price$$.\total.www")
  }

  test("aggregate: duplicate output templates refuse loudly") {
    val dup = Seq(
      Conf.AggregationRule("vera.all.<kind>", 600L, "sum", "vera.*.<kind>"),
      Conf.AggregationRule("vera.all.<kind>", 600L, "avg", "vera.*.<kind>"))
    intercept[IllegalArgumentException](Aggregator.aggregate(pts, dup))
    intercept[IllegalArgumentException](Aggregator.aggregateStreamMulti(pts, dup))
  }

  private val pts = Seq(
    // two users' clicks in one 600 s bucket, one in the next
    ("vera.u1.click", 10L, 1.0), ("vera.u2.click", 20L, 2.0),
    ("vera.u1.click", 610L, 4.0),
    // a different kind shares buckets but not series
    ("vera.u1.view", 15L, 8.0),
    // a non-matching path passes AROUND the aggregator (never emitted)
    ("other.u1.click", 10L, 99.0)
  ).toDF("path", "ts", "value")

  test("aggregate: rename + bucket + fold per rule, multi-rule union, pass-around") {
    val rules = Conf.aggregationRules(
      """vera.all.<kind> (600) = sum vera.*.<kind>
        |stats.<kind>.n (600) = count vera.*.<kind>
        |""".stripMargin)
    val got = Aggregator.aggregate(pts, rules)
      .orderBy("path", "bucket")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    assert(got == Seq(
      ("stats.click.n", 0L, 2.0, 2L), ("stats.click.n", 600L, 1.0, 1L),
      ("stats.view.n", 0L, 1.0, 1L),
      ("vera.all.click", 0L, 3.0, 2L), ("vera.all.click", 600L, 4.0, 1L),
      ("vera.all.view", 0L, 8.0, 1L)))
    assert(!got.exists(_._1.contains("other")))
  }

  test("streaming twin: cross-batch window fold equals the batch aggregate (G27)") {
    implicit val sqlCtx = spark.sqlContext
    val rule = Conf.aggregationRules("vera.all.<kind> (600) = sum vera.*.<kind>").head
    val source = MemoryStream[(String, Long, Double)]
    val q = Aggregator.aggregateStream(
      source.toDF().toDF("path", "ts", "value"), rule)
      .writeStream.format("memory").queryName("agg_sink")
      .outputMode("complete").start()
    try {
      source.addData(("vera.u1.click", 10L, 1.0), ("vera.u1.view", 15L, 8.0))
      q.processAllAvailable()
      // batch 2 lands IN the same open window — state folds across batches
      source.addData(("vera.u2.click", 20L, 2.0), ("vera.u1.click", 610L, 4.0))
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("path", "bucket").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val streamed = rows(spark.table("agg_sink"))
    val batch = rows(Aggregator.aggregateStream(
      pts.filter(col("path") =!= "other.u1.click"), rule))
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed == Seq(("vera.all.click", 0L, 3.0, 2L),
      ("vera.all.click", 600L, 4.0, 1L), ("vera.all.view", 0L, 8.0, 1L)))
  }

  test("multi-rule stream: the whole conf in ONE query, cross-batch, == batch fold") {
    implicit val sqlCtx = spark.sqlContext
    val rules = Conf.aggregationRules(
      """vera.all.<kind> (600) = sum vera.*.<kind>
        |stats.<kind>.n (600) = count vera.*.<kind>
        |""".stripMargin)
    val source = MemoryStream[(String, Long, Double)]
    // K parallel stateful aggregations in ONE query needs append mode
    // (Spark's multiple-stateful-operators support); append emits only
    // CLOSED windows, so a final far-future point per kind drives the
    // per-branch watermarks past every bucket under test
    val q = Aggregator.aggregateStreamMulti(
      source.toDF().toDF("path", "ts", "value"), rules,
      watermark = "0 seconds")
      .writeStream.format("memory").queryName("agg_multi_sink")
      .outputMode("append").start()
    try {
      source.addData(("vera.u1.click", 10L, 1.0), ("vera.u1.view", 15L, 8.0))
      q.processAllAvailable()
      source.addData(("vera.u2.click", 20L, 2.0), ("vera.u1.click", 610L, 4.0),
        ("other.u1.click", 10L, 99.0))
      q.processAllAvailable()
      source.addData(("vera.u1.click", 7300L, 0.0), ("vera.u1.view", 7300L, 0.0))
      q.processAllAvailable()
      q.processAllAvailable() // let the no-data watermark batch flush
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("path", "bucket").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val streamed = rows(spark.table("agg_multi_sink")).filter(_._2 < 7200L)
    val all = pts.unionByName(Seq(("vera.u1.click", 7300L, 0.0),
      ("vera.u1.view", 7300L, 0.0)).toDF("path", "ts", "value"))
    val batch = rows(Aggregator.aggregate(all, rules)).filter(_._2 < 7200L)
    assert(streamed == batch && streamed.nonEmpty)
  }
}
