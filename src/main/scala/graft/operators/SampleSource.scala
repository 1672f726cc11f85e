package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Where a PromQL evaluation reads its samples.
  *
  * The reference evaluates PromQL over its CHUNK layout — one parquet
  * row per (series, time-slice) holding raw Prometheus XOR chunk bytes
  * (reference: schema/chunk.go:25-37, prometheus/querier.go:30-47) —
  * while graft's default evaluation reads the raw events row store.
  * This seam makes the evaluator source-agnostic: `load` returns the
  * sample frame with the events schema —
  * `ts` (timestamp, µs), `ts_ns` (raw epoch nanos), `user_id`,
  * `event_type`, `value`, `event_id` (deterministic within-series
  * tiebreak) — with `boundsNs` (an inclusive raw-time range) already
  * applied as far down the scan as the layout allows. Callers still
  * re-filter exactly per evaluation step; `boundsNs` exists for
  * pruning, not correctness.
  */
trait SampleSource {
  def load(s: SparkSession, dir: String, boundsNs: Option[(Long, Long)]): DataFrame
}

/** The row store: the raw events table. Bounds reach the parquet scan
  * on the RAW time column via Tables.eventsRanged (pruning row groups
  * on the long-ns layout only); the `ts_ns` refilter keeps the
  * contract exact regardless of the layout's time granularity.
  */
object EventsSource extends SampleSource {
  override def load(s: SparkSession, dir: String,
                    boundsNs: Option[(Long, Long)]): DataFrame = {
    val base = graft.Tables.eventsRanged(s, dir, boundsNs)
    boundsNs.fold(base) { case (lo, hi) =>
      base.filter(col("ts_ns") >= lo && col("ts_ns") <= hi)
    }
  }
}

/** The chunk store: the reference's actual layout. Samples decode from
  * Prometheus XOR chunk bytes via the codegen'd `xor_decode`
  * expression; time bounds prune at CHUNK granularity first, with the
  * reference's overlap test `mint <= hi AND maxt >= lo` against the
  * sorted layout's parquet min/max stats (reference:
  * prometheus/querier.go:71-74, dataset/predicate.go), then the decoded
  * samples re-filter exactly.
  *
  * `event_id` is synthesized as the sample's position within its chunk:
  * chunks encode samples in (us, event_id) order
  * (ChunkStore.chunksFrom), so within-series equal-timestamp ties keep
  * the row store's tiebreak ORDER and every order-sensitive verb
  * (irate's last-two picks, reset scans, min_by/max_by instant picks)
  * evaluates to the same sample it would over the row store — proven by
  * the chunk-backed entries sharing their row-store siblings' oracle
  * hashes. The chunk schema carries only the series labels, exactly as
  * the reference's chunk schema does — derived labels materialized from
  * `props` are row-store-only.
  */
object ChunkSource extends SampleSource {
  override def load(s: SparkSession, dir: String,
                    boundsNs: Option[(Long, Long)]): DataFrame = {
    val chunks0 = graft.sources.ChunkStore.table(s, dir)
    // ns → µs: bounds arrive as whole seconds scaled to ns, so the
    // division is exact; mint/maxt are µs
    val chunks = boundsNs.fold(chunks0) { case (lo, hi) =>
      chunks0.filter(col("mint") <= hi / 1000L && col("maxt") >= lo / 1000L)
    }
    val samples = chunks
      .select(col("user_id"), col("event_type"),
        posexplode(graft.functions.ChunkOps.xorDecode(col("chunk"))))
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("col.us")).as("ts"),
        (col("col.us") * 1000L).as("ts_ns"),
        col("col.value").as("value"),
        col("pos").cast("long").as("event_id"))
    boundsNs.fold(samples) { case (lo, hi) =>
      samples.filter(col("ts_ns") >= lo && col("ts_ns") <= hi)
    }
  }
}
