package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** RECORDING RULES MAINTAINED ONLINE — the streaming half of
  * sources/RecordedRules (the ruler's evaluation loop for recording
  * rules, as the alert loop is streaming/AlertStream): a rule in the
  * streaming window-local subset evaluates continuously over the
  * ingest stream, and each window's row lands in the recorded store
  * exactly once as it closes — the store grows with the grid, not with
  * re-evaluation.
  *
  * Exactness inherits from PromqlStream: the streamed window values
  * are bit-equal to the batch evaluation (StreamPromqlSpec), and the
  * sample mapping is RecordedRules.toSamples — the SAME code the batch
  * recorder uses — so the maintained store's rows below the horizon
  * are byte-identical to a batch `record()` of the same rule
  * (RecordingRuleStreamSpec proves it).
  *
  * Staleness contract: `_watermark` (the RollupMaintainStream marker
  * convention) publishes the pass's event-time watermark; every window
  * ending at or before it has been flushed. Serving reads below the
  * horizon; the open tail is the fresh-tail problem the hybrid stepped
  * serving already solves for rollups.
  */
object RecordingRuleStream {

  // r2 = the generalized-labels part schema (props payload column) —
  // pre-r2 stream stores on disk are orphaned, never schema-mixed
  def storePath(s: SparkSession, dir: String, name: String): String =
    s"${graft.sources.ChunkStore.storeRoot(s)}/recorded_stream_r2_" +
      s"${name}_${graft.sources.ChunkStore.pathTag(dir)}"

  // marker IO shared with RollupMaintainStream: temp-file + ATOMIC_MOVE
  // so a concurrent horizon reader can never observe a torn marker
  def horizonSec(storeDir: String): Option[Long] =
    RollupMaintainStream.readMarker(storeDir, "_watermark")

  /** One maintenance pass: drain the inbox, append closed windows to
    * the store, advance the horizon. Restart-safe via the checkpoint
    * (append-exact: each window lands once across passes).
    */
  def runOnce(s: SparkSession, inDir: String, storeDir: String,
              checkpoint: String, name: String, expr: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad rule name $name")
    val parts = s"$storeDir/parts"
    NearDupStream.guardFreshCheckpoint(parts, checkpoint)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir))
    val res = PromqlStream.query(s, inDir, expr)
    val samples = graft.sources.RecordedRules.toSamples(res, name)
    val q = samples.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // skip empty batches — a schema-only part must not make the
        // store look populated (the RollupMaintainStream lesson)
        if (!batch.isEmpty)
          batch.write.mode("overwrite").parquet(s"$parts/batch=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wm = Option(q.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(ts => java.time.Instant.parse(ts).getEpochSecond)
    wm.foreach { h =>
      val prev = horizonSec(storeDir).getOrElse(Long.MinValue)
      if (h > prev)
        RollupMaintainStream.writeMarker(storeDir, "_watermark", h)
    }
  }

  /** Serve the maintained store through the evaluator seam. Bounds
    * prune on ts_ns like every other source; no `parts` yet (no window
    * closed) serves zero samples.
    */
  case class MaintainedSource(storeDir: String)
      extends graft.operators.SampleSource {
    override def load(s: SparkSession, dir: String,
                      boundsNs: Option[(Long, Long)]): DataFrame = {
      val parts = s"$storeDir/parts"
      val df = if (new java.io.File(parts).isDirectory) s.read.parquet(parts)
        .select("ts", "ts_ns", "user_id", "event_type", "value", "event_id", "props")
      else graft.sources.RecordedRules.toSamples(
        s.range(0).select(col("id").as("step"), lit(0.0).as("value")), "")
      boundsNs.fold(df) { case (lo, hi) =>
        df.filter(col("ts_ns") >= lo && col("ts_ns") <= hi)
      }
    }
  }
}
