package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ChunkSource, EventsSource, Promql, SampleSource, Scan}
import SparkFixture.{sf, spark}

/** `=~` matchers are a row filter inside the selector's one scan. The
  * filter must keep exactly the rows of the reference form: a left-semi
  * join of the source against its own distinct label values that pass
  * the anchored regex. Both drop null labels.
  */
class RegexMatcherSpec extends AnyFunSuite {

  private val dir = new java.io.File(sf).getParent + "/sf0.01"

  private def semiJoinRef(df: DataFrame, label: String, re: String): DataFrame = {
    val matching = df.select(col(label)).distinct()
      .filter(col(label).cast("string").rlike(s"^(?:$re)$$"))
    df.join(broadcast(matching), Seq(label), "left_semi")
  }

  // the label shapes a selector can carry: string and numeric series
  // labels, the registry-derived `k`, a props label no row has (the
  // absent label reads as ""), and a label that is null on some rows
  private lazy val frame = Tables.events(spark, dir)
    .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1))
    .withColumn("zone", coalesce(get_json_object(col("props"), "$.zone"), lit("")))
    .withColumn("sparse", when(col("user_id") % 7 =!= 0, col("event_type")))

  test("applyMatchers keeps exactly the semi-join reference's rows") {
    val cases = Seq(
      "event_type" -> "cl.*|vi.*", "user_id" -> "1[0-9]", "k" -> "[3-9]",
      "zone" -> "", "zone" -> "eu.*", "event_type" -> ".*", "sparse" -> ".*")
    cases.foreach { case (label, re) =>
      // the USING join moves the label column first: compare by name
      val cols = frame.columns.map(col)
      val got = Scan.applyMatchers(frame, Seq((label, "=~", re))).select(cols: _*)
      val want = semiJoinRef(frame, label, re).select(cols: _*)
      assert(got.count() === want.count(), s"$label=~$re")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$label=~$re")
    }
    // anchored: "1[0-9]" is the two-digit ids 10..19, never 112
    val ids = Scan.applyMatchers(frame, Seq(("user_id", "=~", "1[0-9]")))
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids === (10L to 19L).toSet)
    assert(frame.filter(col("user_id") === 112L).count() > 0)
    // ".*" matches every row, the absent label's "" included, and
    // drops only null labels
    val n = frame.count()
    assert(Scan.applyMatchers(frame, Seq(("zone", "=~", ".*"))).count() === n)
    assert(Scan.applyMatchers(frame, Seq(("sparse", "=~", ".*"))).count() ===
      frame.filter(col("sparse").isNotNull).count())
  }

  private def oneScanNoJoin(src: SampleSource): Unit = {
    val q = """click{user_id=~"1[0-9]"}"""
    val df = Promql.query(spark, dir, q, src)
    SparkFixture.assertOneScanNoJoin(df)
    // the regex costs no read beyond the selector without it
    assert(SparkFixture.scanOutputRows(df) ===
      SparkFixture.scanOutputRows(Promql.query(spark, dir, "click", src)))
    assert(df.count() > 0)
  }

  test("a =~ selector reads the row store once, with no join") {
    oneScanNoJoin(EventsSource)
  }

  test("a =~ selector reads the chunk store once, with no join") {
    oneScanNoJoin(ChunkSource)
  }
}
