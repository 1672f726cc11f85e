package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for every suite (suites run sequentially in
  * the single forked test JVM; creating a session per suite costs ~5s
  * each). sf0.001 keeps specs fast; correctness vs the DuckDB oracle at
  * sf0.01 is the driver's job, these specs assert invariants + physical
  * plan shape.
  */
object SparkFixture {
  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Formatted physical-plan text (same thing `.explain("formatted")`
    * prints) for plan-shape assertions.
    */
  def planOf(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** True iff `plan` pushes a lower `ts` bound of `loNs` epoch-ns to the
    * parquet scan, in EITHER layout's rendering: the raw-ns long
    * (TIMESTAMP(NANOS) read as long) or the µs-timestamp literal
    * (TIMESTAMP(MICROS), ceil-converted — see Tables.eventsRanged).
    */
  def tsLowerPushed(plan: String, loNs: Long): Boolean =
    plan.contains(s"GreaterThanOrEqual(ts,$loNs)") ||
      plan.contains(s"GreaterThanOrEqual(ts,${usLdt(-Math.floorDiv(-loNs, 1000L))})")

  /** Upper-bound twin of [[tsLowerPushed]]: inclusive `hiNs` epoch-ns,
    * floor-converted on the µs layout.
    */
  def tsUpperPushed(plan: String, hiNs: Long): Boolean =
    plan.contains(s"LessThanOrEqual(ts,$hiNs)") ||
      plan.contains(s"LessThanOrEqual(ts,${usLdt(Math.floorDiv(hiNs, 1000L))})")

  private def usLdt(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)

  /** Executes the frame and returns the parquet scan's OUTPUT row count
    * — rows the reader actually surfaced after row-group / page-level
    * skipping, before Spark's post-scan Filter. The IO-side metric for
    * bloom- and column-index-pruning assertions.
    */
  def scanOutputRows(df: DataFrame): Long =
    executedNodes(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numOutputRows").value
    }.sum

  /** Executes the frame and returns every operator of its final
    * physical plan, descending through AQE query stages (a shuffle or
    * broadcast stage is a leaf of the adaptive plan, its scans below it).
    */
  def executedNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.collect()
    AqeWalk.collect(df.queryExecution.executedPlan) { case p => p }
  }

  /** Asserts the frame ran as exactly one parquet scan and no join. */
  def assertOneScanNoJoin(df: DataFrame): Unit = {
    val nodes = executedNodes(df)
    assert(nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) == 1 &&
      !nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      nodes.mkString("\n"))
  }

  private object AqeWalk
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
}
