package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Alerts, Promql}
import graft.sources.PartWriter
import graft.streaming.{AlertGroupStream, Ingest, RecordingRuleStream,
  RollupCompactor, RollupMaintainStream}

/** The chained write path: waves of events land one parquet file at a
  * time in an inbox, and each wave runs the streaming convert
  * (Ingest.chunkConvert into PartWriter parts), rollup maintenance,
  * the rule group (alert and recording rules) and one read-after-write
  * query over a recorded-rule store, then PartWriter.compact and
  * RollupCompactor.compact inline.
  *
  * One op is the second wave of an epoch: a fresh store root whose
  * first wave (the history) ran untimed before the op. So every op
  * does the same work whatever the engine's speed: compaction cost
  * grows with the data ingested, and a faster engine that ran more
  * waves on one store would pay for more data per wave. The history
  * wave is also what closes the first windows, so the op's
  * read-after-write query has recorded samples to read.
  */
final class RulerIngest(data: String, tracer: Option[Tracer])
    extends Workload {
  private val k = Knobs.read(data)
  private val t0 = k.long("t0_us") / 1000000L
  private val maxWaves = k.long("max_waves").toInt
  private val waveSpan = k.long("wave_span_s")

  private val Metrics = "http_requests|bytes_out|cpu_util|queue_depth"
  private val BusyWindow = 1800L
  private val BusyFor = 3600L
  private val BusyKeep = 1800L
  private val BusyThreshold = 350.0
  /** Watermark delay of the rule group; the generator's late events
    * stay inside it, so the stream and its batch twin see the same rows.
    */
  private val Delay = "10 minutes"
  private val rules = Seq(
    AlertGroupStream.SRule("busy", "http_requests|bytes_out", "count", BusyWindow,
      Some(BusyThreshold), forSec = BusyFor, keepSec = BusyKeep),
    AlertGroupStream.SRule("rec_count", Metrics, "count", 600L, None),
    AlertGroupStream.SRule("rec_max_cpu", "cpu_util", "max", 600L, None))
  private val ReadQuery = "sum by (src) (rec_count)"

  override def knobs: Map[String, Any] = Map(
    "epoch" -> "fresh store root; one untimed history wave, then the timed wave",
    "compaction" -> "inline, every wave",
    "rules" -> rules.map(_.toString), "rule_delay" -> Delay,
    "read_after_write" -> s"$ReadQuery over the landed span, MaintainedSource")

  /** One epoch's directories under a fresh root. */
  final class Epoch(val root: String, val first: Int) {
    val inbox = s"$root/inbox"
    val parts = s"$root/convert"
    val rollup = s"$root/rollup"
    val rulesBase = s"$root/rules"
    def chk(n: String) = s"$root/checkpoint/$n"
    val landed = ArrayBuffer.empty[String]
    var landedBytes = 0L
    var writtenBytes = 0L
    private val seen = scala.collection.mutable.Map.empty[String, (Long, Long)]
    Files.createDirectories(Paths.get(inbox))

    /** Bytes of files under the root (the inbox aside) that are new or
      * rewritten since the last call, checkpoints and state included.
      */
    def newlyWritten(): Long = {
      val st = Files.walk(Paths.get(root))
      val fresh = try st.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.startsWith(inbox)).map { p =>
          val now = (Files.size(p), Files.getLastModifiedTime(p).toMillis)
          val changed = !seen.get(p.toString).contains(now)
          seen(p.toString) = now
          if (changed) now._1 else 0L
        }.sum finally st.close()
      writtenBytes += fresh
      fresh
    }
    def storeBytes: Long = Stats.dirBytes(root) - Stats.dirBytes(inbox)
  }

  private val epochs = ArrayBuffer.empty[Epoch]
  private var pending: Option[Epoch] = None
  private var nextWave = 0
  private var alertRows = 0L

  private def wavePath(i: Int) = f"$data/wave_${i % maxWaves}%04d.parquet"

  /** The first epoch's history wave, which also warms every stream and
    * both compactors.
    */
  override def warmup(s: SparkSession): Unit = beforeOp(s)

  override def beforeOp(s: SparkSession): Unit = if (pending.isEmpty) {
    val e = new Epoch(s"${s.conf.get(Main.StoreRoot)}/epoch${epochs.size}", nextWave)
    epochs += e
    wave(s, new Op("history"), e)
    pending = Some(e)
  }

  override def hasNext: Boolean = nextWave < maxWaves

  override def run(s: SparkSession, op: Op, i: Int): Unit = {
    op.kind = "wave"
    val e = pending.get
    pending = None
    wave(s, op, e)
  }

  private def wave(s: SparkSession, op: Op, e: Epoch): Unit = {
    val src = wavePath(nextWave)
    nextWave += 1
    val landedNs = System.nanoTime()
    op.leg("land") {
      val dst = Paths.get(e.inbox, Paths.get(src).getFileName.toString)
      Files.copy(Paths.get(src), dst, StandardCopyOption.REPLACE_EXISTING)
      e.landed += dst.toString
      e.landedBytes += Files.size(dst)
    }
    op.leg("convert")(Ingest.chunkConvert(s, e.inbox, e.parts, e.chk("convert")))
    op.leg("rollup")(RollupMaintainStream.runOnce(s, e.inbox, e.rollup, e.chk("rollup"), data))
    op.leg("rules")(AlertGroupStream.runOnce(s, e.inbox, e.rulesBase, e.chk("rules"), rules, Delay))
    op.attrs("freshness_s") = (System.nanoTime() - landedNs) / 1e9
    // The recorded store has no parts until the first window closes,
    // which takes the epoch's second wave; reading it before then throws.
    val df = if (!Files.exists(Paths.get(e.rulesBase, "rec_count", "parts"))) None else {
      val d = op.leg("build")(readBack(s, e))
      op.leg("plan")(d.queryExecution.executedPlan)
      op.leg("exec")(d.collect())
      Some(d)
    }
    val before = if (tracer.isDefined) Some(compactionState(e)) else None
    op.leg("compact") {
      PartWriter.compact(s, e.parts)
      RollupCompactor.compact(s, e.rollup)
    }
    for ((dirs0, _) <- before) {
      val (dirs1, written) = compactionState(e)
      op.attrs("compaction.dirs_before") = dirs0
      op.attrs("compaction.dirs_after") = dirs1
      op.attrs("compaction.bytes_rewritten") = written
      for (d <- df; sc <- PlanStats.scans(d)) {
        op.attrs("readback.files") = op.attrs.getOrElse("readback.files", 0.0) + sc.files
        op.attrs("readback.bytes") = op.attrs.getOrElse("readback.bytes", 0.0) + sc.bytes
      }
      op.attrs("ingest.part_bytes") = Stats.dirBytes(e.parts).toDouble /
        math.max(1, PartWriter.listParts(e.parts).size)
    }
    e.newlyWritten()
    op.attrs("write_amp") = e.writtenBytes.toDouble / e.landedBytes
    op.attrs("space_amp") = e.storeBytes.toDouble / e.landedBytes
    op.attrs("landed_rows") = k.long("wave_events")
  }

  /** (directories under the two compacted stores, bytes written since
    * the last look) — traced runs only.
    */
  private def compactionState(e: Epoch): (Double, Double) = {
    def dirs(p: String) =
      if (!Files.exists(Paths.get(p))) 0L
      else {
        val st = Files.walk(Paths.get(p))
        try st.iterator().asScala.count(Files.isDirectory(_)).toLong finally st.close()
      }
    ((dirs(e.parts) + dirs(e.rollup)).toDouble, e.newlyWritten().toDouble)
  }

  /** The landed span, aligned to the recording rule's 600 s grid. */
  private def readSpec(e: Epoch): Promql.EvalSpec = {
    val lo = t0 + e.first.toLong * waveSpan - 3600L
    val hi = t0 + (e.first + e.landed.size).toLong * waveSpan
    Promql.EvalSpec(lo / 600 * 600, hi / 600 * 600, 600L)
  }

  private def readBack(s: SparkSession, e: Epoch): DataFrame =
    Promql.queryAt(s, e.inbox, ReadQuery, readSpec(e),
      RecordingRuleStream.MaintainedSource(s"${e.rulesBase}/rec_count"))

  /** On the last timed epoch: drain the rule group, then compare the
    * recorded counts with the rows landed and the alerts with the batch
    * state machine over every landed event.
    */
  override def check(s: SparkSession, ops: Seq[Op]): Seq[(String, Boolean, String)] = {
    val e = epochs.filter(_.landed.size >= 2).lastOption
      .getOrElse(return Seq(("ruler_ran", false, "no timed wave")))
    // a clock-only event far past the data advances the watermark; the
    // no-data batch that follows it closes every window
    val lastS = t0 + (e.first + e.landed.size + 1).toLong * waveSpan
    import s.implicits._
    Seq((Long.MaxValue, java.time.LocalDateTime.ofEpochSecond(lastS + 30 * 3600L, 0,
        java.time.ZoneOffset.UTC), 1L, "clock", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(e.inbox)
    AlertGroupStream.runOnce(s, e.inbox, e.rulesBase, e.chk("rules"), rules, Delay)
    val ids = s.read.parquet(e.landed.toSeq: _*).select("event_id").collect().map(_.getLong(0))
    val rows = ids.length.toLong
    val distinct = ids.distinct.length.toLong
    val recorded = readBack(s, e).agg(sum("value")).head.getDouble(0).round
    val batchDir = s"${e.root}/batch"
    val batchEvents = Files.createDirectories(Paths.get(batchDir, "events.parquet"))
    e.landed.foreach(f => Files.copy(Paths.get(f), batchEvents.resolve(Paths.get(f).getFileName)))
    val held = Promql.query(s, batchDir,
      s"""sum by (event_type) (count_over_time({event_type=~"http_requests|bytes_out"}[30m])) > ${BusyThreshold.toLong}""")
    val steps = held.agg(min("step"), max("step")).head
    val want0 = Alerts.alertStates(s, held,
      Promql.EvalSpec(steps.getLong(0), steps.getLong(1) + BusyKeep + BusyWindow, BusyWindow),
      BusyFor, BusyKeep)
    val got = s.read.parquet(s"${e.rulesBase}/alerts/parts").filter(col("rule") === "busy")
      .select("step", "event_type", "alertstate", "value")
    def bag(df: DataFrame) = df.collect().toSeq.map(_.toSeq.mkString("|"))
      .groupBy(identity).map { case (r, xs) => r -> xs.size }
    val (gotRows, wantRows) = (bag(got), bag(want0.select(got.columns.map(col): _*)))
    def surplus(a: Map[String, Int], b: Map[String, Int]) =
      a.map { case (r, n) => math.max(0, n - b.getOrElse(r, 0)) }.sum
    val onlyStream = surplus(gotRows, wantRows)
    val onlyBatch = surplus(wantRows, gotRows)
    alertRows = gotRows.values.sum.toLong
    Seq(
      // Re-delivered events are counted again (no stage of the chain
      // drops duplicate event_ids): recorded counts equal rows landed,
      // not distinct ids. Reported as a known defect below.
      ("readback_counts_eq_landed_rows", recorded == rows,
        s"recorded $recorded, landed rows $rows, distinct event_ids $distinct"),
      ("alerts_eq_batch_rule", onlyStream == 0 && onlyBatch == 0 && alertRows > 0,
        s"$alertRows alert rows; stream-only $onlyStream, batch-only $onlyBatch"),
      ("known_defect_duplicates_counted", true,
        s"${rows - distinct} re-delivered events counted twice"))
  }

  private def waves(ops: Seq[Op]) = ops.filter(_.kind == "wave")

  override def detail(ops: Seq[Op]): Map[String, Double] = {
    val ws = waves(ops)
    Map(
      "ingest_events_per_s" -> ws.map(_.attrs("landed_rows")).sum / (ws.map(_.ms).sum / 1000.0),
      "freshness_p50_s" -> Stats.median(ws.map(_.attrs("freshness_s"))),
      "read_after_write_p50_ms" -> Stats.median(ws.map(o =>
        o.legMs("build") + o.legMs("plan") + o.legMs("exec"))),
      "write_amp" -> Stats.median(ws.map(_.attrs("write_amp"))),
      "space_amp" -> Stats.median(ws.map(_.attrs("space_amp"))),
      "waves" -> ws.size.toDouble)
  }

  override def layers(ops: Seq[Op]): Map[String, Double] = {
    val t = tracer.get
    val ws = waves(ops)
    val n = math.max(1, ws.size).toDouble
    def med(leg: String) = Stats.median(ws.map(_.legMs(leg)))
    def mean(name: String) = ws.map(_.attrs.getOrElse(name, 0.0)).sum / n
    def stream(leg: String, prefix: String): Map[String, Double] = {
      val bs = t.batchesIn(ws, leg)
      val busyMs = bs.map(_.ms.getOrElse("triggerExecution", 0L)).sum.toDouble
      Map(
        s"$prefix.batch_ms" -> busyMs / n,
        s"$prefix.rows_per_s" -> bs.map(_.rows).sum / math.max(1e-9, busyMs / 1000),
        s"$prefix.state_rows" -> (if (bs.isEmpty) 0.0 else bs.map(_.stateRows).max.toDouble),
        s"$prefix.state_bytes" -> (if (bs.isEmpty) 0.0 else bs.map(_.stateBytes).max.toDouble)) ++
        Seq("addBatch", "queryPlanning", "walCommit", "latestOffset", "commitOffsets")
          .map(d => s"$prefix.batch_ms.$d" -> bs.map(_.ms.getOrElse(d, 0L)).sum / n)
    }
    Map(
      "ingest.convert_ms" -> med("convert"),
      "ingest.part_bytes" -> mean("ingest.part_bytes"),
      "rollup.maintain_ms" -> med("rollup"),
      "rules.eval_ms" -> med("rules"),
      "rules.alert_rows" -> alertRows.toDouble,
      "compaction.ms" -> med("compact"),
      "compaction.bytes_rewritten" -> mean("compaction.bytes_rewritten"),
      "compaction.dirs_before" -> mean("compaction.dirs_before"),
      "compaction.dirs_after" -> mean("compaction.dirs_after"),
      "readback.input_bytes" -> mean("readback.bytes"),
      "readback.files_read" -> mean("readback.files"),
      "promql.build_ms" -> med("build"),
      "plan.ms" -> med("plan"),
      "exec.ms" -> med("exec")) ++
      stream("convert", "ingest") ++ stream("rollup", "rollup") ++ stream("rules", "rules")
  }
}
