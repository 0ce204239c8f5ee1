package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming operators, each run as a real stream over the sf
  * dir (file source → AvailableNow → memory sink) and emitting only
  * order-insensitive projections, so a batch SQL mirror is exact. */
private[graft] object StreamingQueries {

  /** State partitions are a per-micro-batch FIXED cost (every partition
    * opens/commits a state store even when empty), so a stream plans with
    * this many shuffle partitions, sized to the stream's key cardinality
    * rather than to the batch session's count; any value computes
    * identical results. */
  private val StatePartitions = 8

  /** Run `df` to completion as an AvailableNow stream into a fresh memory
    * table and return that table. The session's shuffle-partition setting
    * is swapped to [[StatePartitions]] for the start only and restored
    * right after (the stream's cloned session keeps its snapshot). */
  private def runToMemory(s: SparkSession, df: DataFrame, prefix: String, outputMode: String): DataFrame = {
    val qname = prefix + "_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val spPrev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    val q = try df.writeStream.format("memory").queryName(qname)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    finally s.conf.set("spark.sql.shuffle.partitions", spPrev)
    q.awaitTermination()
    s.table(qname)
  }

  val all: Seq[Query] = Seq(
    // --- 2.10 streaming: the REAL watermarked windowed rollup
    //     (TranscriptStream.eventRollup) run as an actual Structured
    //     Streaming query (file source → AvailableNow → memory sink,
    //     complete mode so every window ships). Output is order-insensitive
    //     (per-window counts/sums), so the batch SQL mirror is exact; sums
    //     floor-rounded to 2dp in BOTH engines (values are planted 2dp, fp
    //     error ~1e-10 ≪ the 0.005 boundary). NOTE the Spark path also
    //     applies eventRollup's intermediate round(sum, 4) before the 2dp
    //     floor-round while the DuckDB mirror floor-rounds the raw sum —
    //     the two agree ONLY because planted values are exactly 2dp, so both
    //     pipelines land on the same 2dp multiple; re-planting non-2dp event
    //     values requires mirroring the round(…,4) too ---
    Query("q92_stream_rollup", (s, dir) => {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts", col("ts").cast("timestamp")) // NTZ -> session-UTC
      val rolled = graft.kg.streaming.TranscriptStream.eventRollup(src)
      runToMemory(s, rolled, "q92", "complete")
        // NOTE the cross-engine equality here leans on the 2dp PLANT:
        // eventRollup round(sum, 4) happens BEFORE this floor-round while
        // the DuckDB mirror floor-rounds the raw sum at 2dp directly — the
        // two pipelines agree only because planted event values are exact
        // 2dp multiples, so both land on the same 2dp value.
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"),
          (floor(col("sum_value") * 100 + lit(0.5)) / 100).as("sum_value2"))
        .orderBy(col("win_start"), col("event_type"))
    }, oracle = Some(
      // the streaming rollup is a plain per-(hour window, type) aggregate
      // once every row has arrived: date_trunc mirrors the epoch-aligned
      // 1-hour window; counts are exact; sums floor-rounded at 2dp
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
           event_type, CAST(count(*) AS BIGINT) AS n,
           floor(sum(value) * 100 + 0.5) / 100 AS sum_value2
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // --- 2.10 streaming exact dedup (TranscriptStream.dedupStream →
    //     dropDuplicatesWithinWatermark): planted event time
    //     (epoch + doc_id%86400 seconds) with a watermark delay covering
    //     the whole span at any sf, so every duplicate is suppressed exactly once and
    //     the surviving KEY SET (not the order-dependent winning row) is
    //     the deterministic output the batch mirror reproduces ---
    Query("q93_stream_dedup", (s, dir) => {
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(lit("planted duplicate body "), col("doc_id") % 7))
            .otherwise(col("text")).as("text"))
        .withColumn("ts",
          (lit(1704067200L) + col("doc_id") % 86400).cast("timestamp"))
      // span capped at 1 day (< the 48 h delay) at ANY scale factor, so no
      // key is ever evicted mid-stream and suppression is total — the key
      // set stays deterministic however large the sf dir grows
      val dd = graft.kg.streaming.TranscriptStream.dedupStream(
        src, watermarkDelay = "48 hours")
      runToMemory(s, dd, "q93", "append")
        .select(col("text_hash")).orderBy(col("text_hash"))
    }, oracle = Some(
      // with the watermark covering the whole planted time span, streaming
      // dedup emits exactly one row per distinct content hash — the key
      // set equals batch DISTINCT sha256
      """SELECT DISTINCT sha256(
           CASE WHEN doc_id % 5 = 0
                THEN 'planted duplicate body ' || CAST(doc_id % 7 AS VARCHAR)
                ELSE text END) AS text_hash
         FROM documents ORDER BY text_hash"""))
  )
}
