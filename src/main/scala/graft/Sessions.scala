package graft

import org.apache.spark.sql.SparkSession

/** The one place that pins the engine's scale-relevant session defaults, so
  * deployments (and the driver mains) share a single source of truth instead
  * of folklore scattered across builders.
  *
  * Every setting here targets the 100 TB plan, not the local test rig:
  *  - AQE on, with runtime coalescing and skew-join splitting — re-plans
  *    shuffle stages from observed sizes (partition counts picked for the
  *    average key are wrong for the hot key);
  *  - skew-join thresholds — a skewed reducer is split instead of straggling;
  *  - an explicit broadcast threshold — dims up to 64 MB broadcast instead
  *    of shuffling the fact side (executors at this scale have the headroom);
  *  - shuffle partitions from the deployment (parameter), since the right
  *    number is a function of cluster width, not of the engine.
  *
  * ScaleTechniquesSpec asserts these land in a real session.
  */
object Sessions {

  /** Keys and values, exposed for tests and for porting into any existing
    * builder (e.g. a notebook session the library doesn't own).
    */
  val scaleDefaults: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256m",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    // file-source split size: with 128 MiB row-group parquet this yields
    // one task per row group — the scan parallelism the writers produce
    "spark.sql.files.maxPartitionBytes" -> "134217728",
    // unfiltered MIN/MAX/COUNT answer from parquet footer statistics alone —
    // a table-wide stats query reads metadata, not 100 TB of pages
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // ObjectHashAggregate (typed Aggregators: TopK.neighbors, sketches)
    // falls back to SORT-based aggregation after only 128 distinct keys per
    // task by default — which re-sorts exactly the candidate stream the
    // bounded-state top-k exists to never sort (the 2 M-vector rank path's
    // >90 GB spill class). The engine's object buffers are all O(k)/O(bits)
    // bounded (a 5-entry neighbor list ≈ 300 B), so 2 M keys per task is
    // ~600 MB worst-case — hash aggregation stays safe where the default
    // assumes arbitrarily fat buffers
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2000000",
    // iterative operators pin checkpointed substrates in storage memory; at
    // the default 0.5 the protected storage pool starves the 16–32
    // concurrent per-executor aggregation tasks of execution pages exactly
    // when a fact-scale frame is cached (AGGREGATE_OUT_OF_MEMORY at the
    // 100× corpus on an 8 GiB JVM). 0.2 keeps hot blocks cached until
    // pressure but lets execution evict them to disk — iteration re-reads
    // then pay a disk read instead of the whole job failing
    "spark.memory.storageFraction" -> "0.2",
    // always use the sort-based shuffle writer, never the bypass-merge
    // writer (r19, guide §2.1/§6 small-files): below this threshold each
    // map task opens one file PER REDUCER (maps × reducers files per
    // shuffle — 1024 creates for a 32×32 exchange, measured ~9 ms/map-task
    // of pure file churn at any data size); production reducer counts are
    // far above any bypass threshold, so the sort path is what runs at
    // scale anyway — pinning it here aligns local plans with production
    // and halves the fixed cost of every wide exchange (measured 0.37 →
    // 0.20 s on a 32-map-task exchange, 0.37 → 0.19 s on a 600 k-row
    // group-by, A/B recorded in OPTIMIZATION_r19.md)
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    // preferSortMergeJoin=false + the AQE SMJ→SHJ local-map threshold
    // (guide §3.1/§9) were tried in r20 and REVERTED: an interleaved
    // same-session A/B (`Probe ab`, immune to window drift) read the flipped
    // configs neutral-to-negative on 10 representative rows (worst
    // ml_naive_bayes +18 %, best text_langid_trigram −17 %, net negative),
    // and the final AQE plans of the probed rows kept their SortMergeJoins
    // anyway — the engine's joins are either broadcast-sized or feed
    // sort-consuming operators, so SHJ had nothing to remove here.
    "spark.sql.session.timeZone" -> "UTC")

  /** The one config-application fold both [[builder]] and [[s3aBuilder]]
    * ride — a single code path, so the Round14Spec getOrCreate round-trip
    * that proves [[scaleDefaults]] land through it covers the S3A wiring
    * too (the S3A values themselves can't be live-set here: no cloud
    * committer jars in the sandbox).
    */
  private def withConfigs(base: SparkSession.Builder,
                          m: Map[String, String]): SparkSession.Builder =
    m.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }

  /** A builder with the scale defaults applied; `shufflePartitions` is the
    * deployment's reducer width (≈ 2–3× total cores).
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    withConfigs(
      SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions),
      scaleDefaults)

  /** S3A readiness for an object-store lake (the reference's substrate is
    * S3 — `health-etl/glue_job_script.py:37,46` reads and writes
    * `s3://…`): the settings that make `s3a://` paths behave at 100 TB.
    * The repo's operators are path-scheme-agnostic throughout (every read
    * and write goes through a caller-supplied directory), so S3 support is
    * purely a session-configuration concern — this block, applied to the
    * builder or ported into an existing session, is the whole story.
    *
    * The load-bearing choice is the COMMITTER. The default
    * `FileOutputCommitter` commits by RENAME, which on S3 is a full
    * server-side COPY + DELETE of every object: an O(data) serial tail on
    * each write (hours at terabyte scale) and non-atomic to boot — the
    * classic object-store scale-killer. The S3A "magic" committer
    * (Hadoop's S3A committer framework, public `hadoop-aws` machinery)
    * commits via S3 multipart-upload completion instead: tasks upload
    * parts as they run and the job commit is one metadata call per file —
    * O(files), not O(bytes), and atomic per file. The two
    * `spark.sql.*committer*` keys bind Spark's parquet path to the
    * `PathOutputCommitProtocol` bridge (spark-hadoop-cloud, public) so
    * the S3A committer factory is actually consulted for `s3a://`
    * destinations; writes to `file://`/HDFS are untouched (the factory
    * scheme binding is per-filesystem).
    *
    * The remaining keys are standard S3A throughput hygiene: connection /
    * thread pools sized for 32-core executors fanning out multipart
    * uploads and vectored reads, 128 MiB "block" (part) size to match the
    * repo's parquet row-group convention, and directory-marker retention
    * (`keep`) to avoid the per-write DELETE storm on ancestor markers —
    * safe on any modern Hadoop client and one less mutation per object.
    *
    * Not live-testable in this sandbox (no S3 endpoint, and the cloud
    * committer jars are deployment-provided); Round13Spec asserts the
    * committer chain on this map key-by-key, and [[s3aBuilder]] applies it
    * through the same [[withConfigs]] fold whose end-to-end delivery
    * Round14Spec proves with a getOrCreate round-trip of [[scaleDefaults]]
    * — so a deployment inherits the chain by construction.
    */
  val s3aDefaults: Map[String, String] = Map(
    // committer: multipart-completion commit, never rename
    "spark.hadoop.fs.s3a.committer.name" -> "magic",
    "spark.hadoop.fs.s3a.committer.magic.enabled" -> "true",
    "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a" ->
      "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory",
    "spark.sql.sources.commitProtocolClass" ->
      "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    "spark.sql.parquet.output.committer.class" ->
      "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
    // throughput: pools sized for wide executors, parts matching the
    // 128 MiB row-group layout the sinks produce
    "spark.hadoop.fs.s3a.connection.maximum" -> "96",
    "spark.hadoop.fs.s3a.threads.max" -> "64",
    "spark.hadoop.fs.s3a.block.size" -> "134217728",
    "spark.hadoop.fs.s3a.multipart.size" -> "134217728",
    "spark.hadoop.fs.s3a.fast.upload.buffer" -> "disk",
    // no DELETE storm on ancestor directory markers
    "spark.hadoop.fs.s3a.directory.marker.retention" -> "keep")

  /** [[builder]] plus [[s3aDefaults]] — the entry point for a deployment
    * whose warehouse lives on S3/compatible object storage.
    */
  def s3aBuilder(master: String, shufflePartitions: Int): SparkSession.Builder =
    withConfigs(builder(master, shufflePartitions), s3aDefaults)
}
