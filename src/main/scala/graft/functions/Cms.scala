package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** Count-Min sketch cell algebra — the COUNTING member of the mergeable-
  * sketch family, factored like [[Hll]] so batch build, shard merge and
  * STREAMING maintenance share one implementation (the batch query path is
  * `TextAnalysis.cmsWordCounts`, oracle-replayed hash-for-hash; this module
  * is the maintenance/merge surface).
  *
  * depth × width cells (default 4 × 512 = 2048) per group; cell (r, b)
  * counts keys with pmod(md5(r:key), width) = b. Merge = cell-wise ADD —
  * associative and commutative, so shards/days/micro-batches combine
  * without rescanning raw data, and one `groupBy(...).count` maintains the
  * table incrementally under Structured Streaming.
  *
  * THE HONEST CONTRACT vs [[Hll]]: HLL's merge (cell-wise MAX) is also
  * IDEMPOTENT, so at-least-once delivery is harmless. CMS's ADD is not —
  * a re-delivered row inflates every one of its depth cells, and since CMS
  * errors are one-sided (est ≥ true), duplication strictly worsens the
  * overestimate and never corrupts the ≥-true guarantee. Streaming CMS
  * therefore requires the exactly-once input path (`StreamingIngest`'s
  * checkpointed source / idempotent sink), where HLL tolerates replay.
  * CmsSpec proves both halves: stream ≡ batch under exactly-once
  * micro-batching, and duplicated delivery ⇒ strictly inflated cells with
  * the ≥-guarantee intact.
  */
object Cms {

  /** The (group, r, bucket) → count cell table for a key stream. One
    * aggregation — runs unchanged on a streaming frame (complete/update
    * mode), constant `depth × width` state per group at any corpus size.
    */
  def cells(df: DataFrame, group: Column, key: Column,
            depth: Int = 4, width: Int = 512): DataFrame =
    df.select(group.as("g"), key.cast("string").as("k"))
      .select(col("g"), col("k"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", pmod(
        Deterministic.md5Hash32(concat(col("r").cast("string"), lit(":"), col("k"))),
        lit(width)))
      .groupBy("g", "r", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Merge cell tables from shards/batches: cell-wise add. */
  def merge(tables: DataFrame*): DataFrame =
    tables.reduce(_ unionByName _)
      .groupBy("g", "r", "bucket").agg(sum(col("cnt")).as("cnt"))

  /** The runnable exactly-once wiring for streaming CMS maintenance — the
    * IDEMPOTENT-SINK half of the contract documented above. Use as the
    * `foreachBatch` handler body (`StreamingIngest.startForeachBatch`
    * precedent): each micro-batch's cell DELTA lands under
    * `dir/batch=<batchId>` with `mode("overwrite")`, so an at-least-once
    * re-delivery of a micro-batch OVERWRITES its own partition instead of
    * double-adding into shared cells — batchId is Structured Streaming's
    * stable replay key. The live sketch is then [[readCells]] (cell-wise
    * SUM over batch deltas), identical to one batch pass over the union of
    * exactly-once inputs. Per-batch deltas are constant-size (≤ groups ×
    * depth × width cells), so the store grows with batch COUNT, not data
    * volume; compact by folding old partitions through [[merge]].
    */
  def upsertBatchCells(batch: DataFrame, batchId: Long, dir: String,
                       group: Column, key: Column,
                       depth: Int = 4, width: Int = 512): Unit =
    cells(batch, group, key, depth, width)
      .write.mode("overwrite").parquet(s"$dir/batch=$batchId")

  /** Read the live cell table maintained by [[upsertBatchCells]]: partition
    * discovery over the per-batch deltas, then one cell-wise SUM.
    */
  def readCells(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Sources.parquet(spark, dir)
      .groupBy("g", "r", "bucket").agg(sum(col("cnt")).as("cnt"))

  /** Point estimate for `keys` (a frame with a `k` column) against a cell
    * table: min over the key's depth cells — the CMS read path, a
    * broadcast-sized join when the sketch is the usual constant table.
    */
  def estimate(cellTable: DataFrame, keys: DataFrame,
               depth: Int = 4, width: Int = 512): DataFrame =
    keys.select(col("g"), col("k").cast("string").as("k"))
      .select(col("g"), col("k"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", pmod(
        Deterministic.md5Hash32(concat(col("r").cast("string"), lit(":"), col("k"))),
        lit(width)))
      .join(cellTable, Seq("g", "r", "bucket"), "left")
      .groupBy("g", "k")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
}
