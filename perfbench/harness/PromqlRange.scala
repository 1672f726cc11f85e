package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{ChunkSource, EventsSource, Promql, SampleSource}
import graft.plans.ResultCache
import graft.sources.ChunkStore

/** The read path: PromQL range queries over one generated events set.
  * Ops cycle through three kinds, each leaning on a different layer:
  * `rowstore` (ad hoc, EventsSource: Tables/Scan), `chunkstore` (ad hoc,
  * ChunkSource: ChunkStore/ChunkOps) and `refresh` (a dashboard panel
  * moved one step through ResultCache). Each kind is the control for
  * the other two.
  */
final class PromqlRange(data: String, seed: Long, tracer: Option[Tracer])
    extends Workload {
  private val k = Knobs.read(data)
  private val t0 = k.long("t0_us") / 1000000L
  private val spanS = k.long("span_days") * 86400L
  private val rng = new scala.util.Random(seed)

  /** A query template over a window length; `[R]` is the range
    * selector's duration.
    */
  final case class Tmpl(expr: String, window: Long)
  final case class Query(t: Tmpl, spec: Promql.EvalSpec) {
    def text: String = t.expr.replace("[R]", s"[${rangeOf(spec.stepSec) / 60}m]")
  }

  private val counters = Seq("http_requests", "bytes_out")
  private val gauges = Seq("cpu_util", "queue_depth")
  private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))

  /** Range selector length: two scrapes at least, and one step. */
  private def rangeOf(stepS: Long): Long = math.max(1800L, (stepS + 59) / 60 * 60)

  /** Seeded template grammar over two fixed query shapes, so every
    * seed runs the same mix of plans: a counter `sum by` over 7 d and a
    * `topk` of a `quantile by` over 1 h, at 240 points each. The seed
    * draws the values inside a shape: metric and range verb of the
    * family, matcher values, k of topk, and where the window sits in
    * the data. Row-store shapes name the props-derived labels (region
    * as a `by` label, k as a `=~` matcher) and select metrics by
    * `event_type=~`; the chunk-store shapes use series labels only,
    * which is all the chunk schema carries. Together they draw on every
    * label: user_id, event_type, k and region.
    */
  private def templates(chunk: Boolean): Seq[Tmpl] = {
    val counterVerb = pick(Seq("rate", "increase"))
    val gaugeVerb = pick(Seq("avg_over_time", "max_over_time", "min_over_time", "sum_over_time"))
    val users = s"""user_id=~"${1 + rng.nextInt(3)}.*""""
    val sumBy = if (chunk) "user_id" else "region"
    val fam = pick(Seq(counters, gauges))
    val qVerb = if (fam == counters) counterVerb else gaugeVerb
    val (qSel, qBy) =
      if (chunk) (s"${pick(fam)}", "user_id")
      else (s"""{event_type=~"${fam.mkString("|")}", k=~"[${rng.nextInt(5)}-9]"}""",
        "event_type, region")
    Seq(
      Tmpl(s"sum by ($sumBy) ($counterVerb(${pick(counters)}{$users}[R]))", 7 * 86400L),
      Tmpl(s"topk(${3 + rng.nextInt(5)}, quantile by ($qBy) (0.9, $qVerb($qSel[R])))", 3600L))
  }

  private val rowTemplates = templates(chunk = false)
  private val chunkTemplates = templates(chunk = true)
  private val Points = 240

  /** A query over a seeded position of the template's window. */
  private def adHoc(t: Tmpl): Query = {
    val w = t.window
    val step = math.max(15L, w / Points / 15 * 15)
    val lo = t0 + rangeOf(step)
    val hi = t0 + spanS - w
    val start = if (hi <= lo) lo else lo + (rng.nextLong(hi - lo) / step) * step
    Query(t, Promql.EvalSpec(start, start + w, step))
  }

  /** Dashboard panels: fixed queries whose window moves one step per
    * refresh.
    */
  final class Panel(val t: Tmpl) {
    val window = 6 * 3600L
    val step = 60L
    var start = 0L
    def reset(): Unit = start = t0 + 86400L
    def query: Query = Query(t, Promql.EvalSpec(start, start + window, step))
  }
  private val panels = rowTemplates.take(2).map(new Panel(_))

  private var buildS = 0.0
  private var root = ""
  /** Result rows the timed ops returned, kept for the untimed checks:
    * one chunk-store query (the seed picks the shape), and each panel's
    * last refresh.
    */
  final case class Served(q: Query, cols: Array[String], rows: Array[org.apache.spark.sql.Row]) {
    def lines: Seq[String] = {
      val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
      rows.toSeq.map(r => order.map(r.get).mkString("|"))
    }
  }
  private var sampled: Option[Served] = None
  private val lastRefresh = scala.collection.mutable.Map.empty[Int, Served]

  override def knobs: Map[String, Any] = Map(
    "row_templates" -> rowTemplates.map(_.expr), "chunk_templates" -> chunkTemplates.map(_.expr),
    "panels" -> panels.map(_.t.expr), "panel_window_s" -> panels.head.window,
    "panel_step_s" -> panels.head.step, "points" -> Points,
    "round" -> "each row shape, each chunk shape and each panel refresh, interleaved")

  /** One untimed round, so every plan shape is compiled before timing. */
  override def warmup(s: SparkSession): Unit = {
    refreshAll(s)
    (0 until cycle).foreach(i => run(s, new Op("warmup"), i))
    sampled = None
    lastRefresh.clear()
  }

  /** The chunk table, then the panels' cached grids the refresh ops
    * start from.
    */
  override def setup(s: SparkSession): Unit = {
    root = s.conf.get(Main.StoreRoot)
    val t = System.nanoTime()
    ChunkStore.table(s, data)
    buildS = (System.nanoTime() - t) / 1e9
    refreshAll(s)
  }

  private def refreshAll(s: SparkSession): Unit = panels.foreach { p =>
    p.reset()
    ResultCache.queryCached(s, data, p.query.text, p.query.spec).collect()
  }

  private def adHocOp(s: SparkSession, op: Op, q: Query, src: SampleSource): Served = {
    val text = q.text
    op.leg("parse")(Promql.parse(text))
    val df = op.leg("build")(Promql.queryAt(s, data, text, q.spec, src))
    op.leg("plan")(df.queryExecution.executedPlan)
    val rows = op.leg("exec")(df.collect())
    tracer.foreach(_ => record(op, df, rows.length))
    Served(q, df.columns, rows)
  }

  /** Plan and scan facts of the op's frame (traced run only). */
  private def record(op: Op, df: DataFrame, resultRows: Int): Unit = {
    op.attrs("plan.exchanges") = PlanStats.exchanges(df)
    op.attrs("result_rows") = resultRows
    for (sc <- PlanStats.scans(df)) {
      val layer =
        if (sc.root.contains("result_cache_")) "resultcache"
        else if (sc.root.contains("chunks_")) "chunkstore"
        else "scan"
      op.attrs(s"$layer.files") = op.attrs.getOrElse(s"$layer.files", 0.0) + sc.files
      op.attrs(s"$layer.bytes") = op.attrs.getOrElse(s"$layer.bytes", 0.0) + sc.bytes
      op.attrs(s"$layer.rows") = op.attrs.getOrElse(s"$layer.rows", 0.0) + sc.rows
    }
  }

  /** One round: the three kinds interleaved, each row and chunk shape
    * once and each panel refreshed once.
    */
  override def cycle: Int = 6

  override def run(s: SparkSession, op: Op, i: Int): Unit = {
    val slot = (i % cycle) / 3
    i % 3 match {
      case 0 =>
        op.kind = "rowstore"
        adHocOp(s, op, adHoc(rowTemplates(slot)), EventsSource)
      case 1 =>
        op.kind = "chunkstore"
        val served = adHocOp(s, op, adHoc(chunkTemplates(slot)), ChunkSource)
        if (sampled.isEmpty && slot == seed % chunkTemplates.size) sampled = Some(served)
      case _ =>
        op.kind = "refresh"
        val pi = i / 3 % panels.size
        val p = panels(pi)
        p.start += p.step
        val q = p.query
        val df = op.leg("fill")(ResultCache.queryCached(s, data, q.text, q.spec))
        op.leg("plan")(df.queryExecution.executedPlan)
        val rows = op.leg("exec")(df.collect())
        tracer.foreach(_ => record(op, df, rows.length))
        lastRefresh(pi) = Served(q, df.columns, rows)
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail: _*).collect().toSeq.map(_.toSeq.mkString("|"))
  }

  /** The rows timed ops served against a plain evaluation: the sampled
    * chunk-store query against the same query on EventsSource, each
    * panel's last refresh against Promql.queryAt on its spec.
    */
  override def check(s: SparkSession, ops: Seq[Op]): Seq[(String, Boolean, String)] = {
    def same(name: String, got: Served, want: DataFrame) = {
      val (a, b) = (got.lines, rowsOf(want))
      (name, a.sorted == b.sorted && a.nonEmpty,
        s"${got.q.text} @ ${got.q.spec}: ${a.size} vs ${b.size} rows")
    }
    val pair = sampled.map(got => same("chunkstore_eq_rowstore", got,
      Promql.queryAt(s, data, got.q.text, got.q.spec, EventsSource)))
      .getOrElse(("chunkstore_eq_rowstore", false, "no chunk-store query sampled"))
    val refreshes = panels.indices.map { i =>
      lastRefresh.get(i).map(got => same(s"refresh_eq_queryAt_$i", got,
        Promql.queryAt(s, data, got.q.text, got.q.spec)))
        .getOrElse((s"refresh_eq_queryAt_$i", false, "panel never refreshed"))
    }
    // Known defect, reported not gated: a named-metric selector has no
    // event_type label, and `by (event_type)` over it fails to resolve.
    val defect = try {
      Promql.queryAt(s, data, "sum by (event_type) (http_requests)",
        Promql.EvalSpec(t0 + 3600, t0 + 7200, 60)).collect(); "no error"
    } catch { case e: Throwable => e.getClass.getSimpleName + ": " + e.getMessage.take(80) }
    (pair +: refreshes) :+ (("known_defect_by_event_type_on_named_metric", true, defect))
  }

  override def detail(ops: Seq[Op]): Map[String, Double] =
    Seq("rowstore", "chunkstore", "refresh").flatMap { kd =>
      val xs = ops.filter(_.kind == kd).map(_.ms)
      val (pct, tail) = Stats.tail(xs)
      Seq(s"${kd}_p50_ms" -> Stats.median(xs), s"${kd}_tail_ms" -> tail,
        s"${kd}_tail_pct" -> pct, s"${kd}_n" -> xs.size.toDouble)
    }.toMap

  override def layers(ops: Seq[Op]): Map[String, Double] = {
    val t = tracer.get
    val adHocOps = ops.filter(o => o.kind == "rowstore" || o.kind == "chunkstore")
    val row = ops.filter(_.kind == "rowstore")
    val chunk = ops.filter(_.kind == "chunkstore")
    val refresh = ops.filter(_.kind == "refresh")
    def med(xs: Seq[Op], f: Op => Double) = Stats.median(xs.map(f))
    def mean(xs: Seq[Op], f: Op => Double) = if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    def a(o: Op, n: String) = o.attrs.getOrElse(n, 0.0)
    def perResult(o: Op, n: String) = a(o, n) / math.max(1.0, a(o, "result_rows"))
    val eventsBytes = java.nio.file.Files.size(java.nio.file.Paths.get(data, "events.parquet"))
    def storeBytes(prefix: String) = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(prefix)).map(f => Stats.dirBytes(f.getPath)).sum.toDouble
    Map(
      "promql.parse_ms" -> med(adHocOps, _.legMs("parse")),
      "promql.build_ms" -> med(adHocOps ++ refresh, o => o.legMs("build") + o.legMs("fill")),
      "promql.build_jobs" -> mean(adHocOps, o => t.jobsIn(o, "build").toDouble),
      "plan.ms" -> med(ops, _.legMs("plan")),
      "plan.exchanges" -> mean(ops, a(_, "plan.exchanges")),
      "exec.ms" -> med(ops, _.legMs("exec")),
      "scan.input_bytes" -> mean(row, a(_, "scan.bytes")),
      "scan.input_rows" -> mean(row, a(_, "scan.rows")),
      "scan.files_read" -> mean(row, a(_, "scan.files")),
      "scan.rows_per_result" -> mean(row, perResult(_, "scan.rows")),
      "chunkstore.build_s" -> buildS,
      "chunkstore.bytes_per_event_byte" -> storeBytes("chunks_") / eventsBytes,
      "chunkstore.chunks_read" -> mean(chunk, a(_, "chunkstore.rows")),
      "chunkstore.input_bytes" -> mean(chunk, a(_, "chunkstore.bytes")),
      "chunkstore.chunks_per_result" -> mean(chunk, perResult(_, "chunkstore.rows")),
      "resultcache.fill_ms" -> med(refresh, _.legMs("fill")),
      "resultcache.serve_ms" -> med(refresh, o => o.legMs("plan") + o.legMs("exec")),
      "resultcache.raw_input_bytes" -> mean(refresh, o => t.scansIn(o, "fill")
        .filter(_.root.endsWith("events.parquet")).map(_.bytes).sum.toDouble),
      "resultcache.files_served" -> mean(refresh, a(_, "resultcache.files")),
      "resultcache.store_bytes" -> storeBytes("result_cache_"))
  }
}
