package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scan
import SparkFixture.{sf, spark, planOf}

class ScanSpec extends AnyFunSuite {

  test("scanEq returns only matching rows and pushes the filter to parquet") {
    val df = Scan.scanEq(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters"), "scan node should expose pushed filters")
    assert(plan.contains("EqualTo(event_type,click)"),
      s"equality must push down to parquet, plan was:\n$plan")
    val types = Tables.events(spark, sf).filter(col("event_type") === "click").count()
    assert(df.count() === types)
    assert(df.count() > 0)
  }

  test("scanRange pushes both time bounds and the value bound") {
    val plan = planOf(Scan.scanRange(spark, sf))
    assert(plan.contains("GreaterThanOrEqual(value,50.0)"), plan)
    // time bounds are expressed on the RAW physical time column so
    // parquet row-group stats can prune — the reference's mint/maxt
    // selection. Rendering depends on the layout (raw-ns long vs µs
    // timestamp); eventsRanged pushes the inclusive [lo, hi−1] range.
    assert(SparkFixture.tsLowerPushed(plan, 1704153600000000000L), plan)
    assert(SparkFixture.tsUpperPushed(plan, 1704412800000000000L - 1L), plan)
    // and the result matches the timestamp-based formulation
    val viaTs = Tables.events(spark, sf)
      .filter(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp"))
      .filter(col("ts") < lit("2024-01-05 00:00:00").cast("timestamp"))
      .filter(col("value") >= 50.0)
    assert(Scan.scanRange(spark, sf).count() === viaTs.count())
  }

  test("projection prunes ReadSchema to exactly the selected columns") {
    val plan = planOf(Scan.projection(spark, sf))
    assert(plan.contains("l_orderkey") && plan.contains("l_extendedprice"))
    assert(!plan.contains("l_comment") && !plan.contains("l_shipdate"),
      s"unselected columns must not be read:\n$plan")
  }

  test("propsShred: typed leg == path leg, absent key is NULL, scan pruned") {
    val df = Scan.propsShred(spark, sf)
    // column pruning survives the JSON parse: only the two referenced
    // physical columns are read (nothing pushes INTO the opaque string)
    val read = planOf(df).linesIterator
      .filter(_.contains("ReadSchema")).mkString
    assert(read.contains("event_type") && read.contains("props"), read)
    assert(!read.contains("value") && !read.contains("user_id"), read)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the declared-but-absent key m is NULL on every row
    rows.foreach(r => assert(r.getAs[Long]("n_missing_m") === r.getAs[Long]("n")))
    // typed-leg sums agree with the path-extraction entry
    val viaPath = Scan.propsJson(spark, sf)
      .select("event_type", "sum_k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getAs[Long]("sum_k") === viaPath(r.getString(0))))
    // string leg is lexicographic, not numeric: max over text digits
    val maxStr = rows.map(_.getAs[String]("max_k_str")).max
    assert(maxStr.forall(_.isDigit))
  }

  test("propsWriteShred: the shredded store pushes the k filter the JSON parse can't") {
    val df = Scan.propsWriteShred(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("GreaterThanOrEqual(k,90)"),
      s"write-time shred must give k a real PushedFilter:\n$plan")
    // contrast: the read-time parse never pushes into the JSON
    val readTime = planOf(Scan.propsShred(spark, sf))
    assert(!readTime.contains("PushedFilters: [") ||
      !readTime.contains("(k,"), "read-time JSON keys cannot push down")
    // values faithful to the raw JSON derivation
    val want = Tables.events(spark, sf)
      .filter(get_json_object(col("props"), "$.k").cast("long") >= 90L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_high"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value_high"))
    assert(df.exceptAll(want).count() === 0 && want.exceptAll(df).count() === 0)
  }

  test("scanIn pushes an In filter") {
    val plan = planOf(Scan.scanIn(spark, sf))
    assert(plan.contains("In(event_type"), plan)
  }

  test("scanRegex filters inside one events scan, with no join") {
    val df = Scan.scanRegex(spark, sf)
    SparkFixture.assertOneScanNoJoin(df)
    val ok = df.select("event_type").distinct().collect().map(_.getString(0))
    assert(ok.forall(t => t.startsWith("cl") || t.startsWith("si")))
  }

  test("scanNeg excludes the negated value") {
    val df = Scan.scanNeg(spark, sf)
    assert(df.filter(col("event_type") === "error").count() === 0)
    assert(df.filter(col("user_id") % 10 =!= 5).count() === 0)
  }

  test("distinctOne = set of event types") {
    val vals = Scan.distinctOne(spark, sf).collect().map(_.getString(0)).toSet
    assert(vals === Set("click", "view", "purchase", "signup", "error"))
  }

  test("distinctSeries has no duplicate (user_id, event_type) keys") {
    val df = Scan.distinctSeries(spark, sf)
    assert(df.count() === df.dropDuplicates("user_id", "event_type").count())
  }

  test("seriesSelect only returns series present in the window") {
    val df = Scan.seriesSelect(spark, sf)
    assert(df.count() > 0)
    assert(df.select("event_type").distinct().collect().map(_.getString(0)).toSet === Set("click"))
  }

  test("labelNames reports one cardinality row per label") {
    val rows = Scan.labelNames(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet === Set("event_type", "user_id"))
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("labelValues works on any label column, with and without matchers") {
    val types = Scan.labelValues(spark, sf, "event_type")
      .collect().map(_.getString(0)).toSet
    assert(types === Set("click", "view", "purchase", "signup", "error"))
    val users = Scan.labelValues(spark, sf, "user_id",
      Seq(("event_type", "=", "click")))
    val direct = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("user_id").cast("string")).distinct().count()
    assert(users.count() === direct)
    val re = Scan.labelValues(spark, sf, "event_type",
      Seq(("event_type", "=~", "cl.*|si.*")))
      .collect().map(_.getString(0)).toSet
    assert(re === Set("click", "signup"))
    // PromQL regex matchers are fully anchored: a prefix must not match
    assert(Scan.labelValues(spark, sf, "event_type",
      Seq(("event_type", "=~", "cl"))).count() === 0)
    // anchored regex over a NUMERIC label goes through the same
    // cast-to-string dictionary path: "1[0-9]" is exactly the 2-digit 1x ids
    val nums = Scan.labelValues(spark, sf, "user_id",
      Seq(("user_id", "=~", "1[0-9]")))
      .collect().map(_.getString(0)).toSet
    assert(nums.nonEmpty && nums.forall(v => v.length == 2 && v.head == '1'), nums)
  }

  test("labelValues equality matchers push to the parquet scan") {
    val plan = SparkFixture.planOf(Scan.labelValues(spark, sf, "user_id",
      Seq(("event_type", "=", "click"))))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("EqualTo(event_type,click)"), plan)
  }

  test("labelNamesFor generalizes to arbitrary label sets") {
    val rows = Scan.labelNamesFor(spark, sf, Seq("event_type"),
      Seq(("event_type", "!=", "error"))).collect()
    assert(rows.length === 1)
    assert(rows.head.getString(0) === "event_type")
    assert(rows.head.getLong(1) === 4) // the 5 types minus 'error'
  }

  test("propsJson: codegen'd extraction matches a driver JSON parse") {
    val got = Scan.propsJson(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val want = Tables.events(spark, sf).select("event_type", "props")
      .collect()
      .map { r =>
        val k = """"k"\s*:\s*(-?\d+)""".r.findFirstMatchIn(r.getString(1))
          .get.group(1).toLong
        (r.getString(0), k)
      }
      .groupBy(_._1).map { case (t, rows) =>
        val ks = rows.map(_._2)
        t -> (ks.length.toLong, ks.sum, ks.max, ks.count(_ >= 90L).toLong)
      }
    assert(got === want)
    // parsing stays inside codegen: no UDF/eval nodes in the plan
    val plan = Scan.propsJson(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }
}
