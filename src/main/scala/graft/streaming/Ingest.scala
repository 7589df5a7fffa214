package graft.streaming

import graft.etl.{Load, ParquetUpsertSink, StatsIndex, Transform, UpsertSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** S1/S7/A7: streaming ingest — the Spark-native form of the
  * reference's Drive-folder scan → per-file transform → archive loop
  * (`main.py:419-470`).
  *
  * The file source replaces the folder listing (S1); checkpointing
  * reads each file exactly once across restarts. foreachBatch
  * delivery is at-least-once, so both sinks are made replay-safe:
  * the fact upsert is key-idempotent and the quarantine write
  * overwrites its own `__batch=<id>` partition — a replayed batch
  * converges to the same table state (effectively-once end to end).
  * `cleanSource=archive` moves consumed files to the archive dir
  * (S7) — and unlike the reference (which archives only when
  * quarantine rows exist, `main.py:460-470`), every processed file
  * archives, per the documented intent (`README.md:92`).
  * `Trigger.AvailableNow` preserves the batch-cron operational model
  * while keeping the pipeline restartable and incremental.
  */
object Ingest {

  /** Raw POS report CSV schema (FIXTURES.md §A) — explicit, never
    * inferred in production (SURVEY.md §1.3).
    */
  val rawSchema: StructType = StructType.fromDDL(
    "`Order ID` STRING, `Products` STRING, `Product amount` STRING, " +
      "`Received amount` STRING, `Payment time` STRING, `Cash` STRING, " +
      "`Gcash` STRING, `Type/Channel` STRING")

  /** Business key for upsert idempotency (FIXTURES.md §A). */
  val factKeys: Seq[String] = Seq("order_id", "items", "payment_time")

  /** Run one AvailableNow pass over the staging folder: transform
    * each micro-batch (E2), route clean/quarantine (F5), upsert the
    * fact table (S4), append quarantine (S5), archive consumed files
    * (S7). Returns when all available files are processed.
    */
  def ingestAvailableNow(spark: SparkSession, stagingDir: String,
                         archiveDir: String, checkpointDir: String,
                         factPath: String, quarantinePath: String,
                         dim: DataFrame): Unit =
    ingestAvailableNowTo(spark, stagingDir, archiveDir, checkpointDir,
      new ParquetUpsertSink(spark, factPath), quarantinePath, dim)

  /** Sink-agnostic form of the ingest loop: the fact target is any
    * [[UpsertSink]] — parquet stand-in or a JDBC `INSERT … ON
    * CONFLICT` / MERGE database — without touching transform or
    * routing.
    */
  def ingestAvailableNowTo(spark: SparkSession, stagingDir: String,
                           archiveDir: String, checkpointDir: String,
                           factSink: UpsertSink, quarantinePath: String,
                           dim: DataFrame): Unit = {
    val stream = spark.readStream
      .schema(rawSchema)
      .option("header", "true")
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
      .csv(stagingDir)
    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        loadBatch(batch, dim, factSink, quarantinePath, batchId)
      }
      .start()
    query.awaitTermination()
  }

  /** One micro-batch through transform → route → both sinks. The
    * transformed batch is persisted, so the parse and transform run
    * once however many actions the sinks take (the upsert's
    * touched-bucket collect and write, the quarantine write); it is
    * unpersisted when the batch is done, so no cached batch outlives
    * its trigger.
    */
  private def loadBatch(raw: DataFrame, dim: DataFrame, factSink: UpsertSink,
                        quarantinePath: String, batchId: Long): Unit = {
    val fact = Transform.transform(raw, dim).persist()
    try {
      val split = Transform.route(fact)
      factSink.upsert(split.clean, factKeys)
      Load.appendQuarantineIdempotent(split.quarantine, quarantinePath, batchId)
    } finally fact.unpersist()
  }

  /** Event time must be an INSTANT: a watermark on TIMESTAMP_NTZ is
    * rejected outright (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and
    * arrow/pandas-written parquet carries naive timestamps that
    * Spark 4 infers as NTZ by default. Reinterpret naive wall-clock
    * as session-timezone instants (pin `spark.sql.session.timeZone`
    * in production); a column that is already TIMESTAMP passes
    * through untouched, so every watermark site coerces
    * unconditionally.
    */
  private def asEventTime(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol,
          col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** A7: watermarked tumbling-window aggregation over an event
    * stream — late data beyond the watermark is dropped, state is
    * bounded. Caller attaches the sink (tests use format("memory")).
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     window_ : String = "5 minutes"): DataFrame =
    asEventTime(events, "ts")
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** The binaryFile source's fixed schema (file streams require an
    * explicit schema).
    */
  private val binaryFileSchema: StructType = StructType.fromDDL(
    "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")

  /** S1/S3/S7 for WORKBOOKS, streaming form: Spark has no xlsx file
    * stream, but `binaryFile` is a regular file-stream format — so
    * staged workbooks flow through the same checkpointed,
    * exactly-once-per-file, archive-on-consume loop as the CSV path,
    * and each micro-batch's workbook bytes parse executor-side
    * ([[graft.sources.Xlsx.sheetsOf]]) before the usual transform →
    * route → idempotent sinks. Corrupt workbooks are skipped
    * file-grained (F1), matching the batch path.
    */
  def ingestXlsxAvailableNow(spark: SparkSession, stagingDir: String,
                             archiveDir: String, checkpointDir: String,
                             factSink: UpsertSink, quarantinePath: String,
                             dim: DataFrame,
                             sheetName: String = "Paid order list"): Unit = {
    val stream = spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.xlsx")
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
      .load(stagingDir)
    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val raw = graft.sources.Xlsx
          .sheetsOf(batch, sheetName, rawSchema, skipCorrupt = true)
          .drop("_src_file")
        loadBatch(raw, dim, factSink, quarantinePath, batchId)
      }
      .start()
    query.awaitTermination()
  }

  /** One batch ingest pass through the pluggable sheet-source seam
    * (S3): read every staged sheet via `source` (CSV stand-in or the
    * real .xlsx reader), transform (E2), route (F5), upsert the
    * fact (S4), append quarantine (S5). The streaming loop above
    * covers incremental CSV; this covers formats Spark has no file
    * stream for — the reference's daily-workbook cadence is a cron
    * batch anyway (`main.py:419`).
    */
  def ingestBatch(spark: SparkSession, stagingDir: String,
                  source: graft.sources.FileSources.RawSheetSource,
                  factSink: UpsertSink, quarantinePath: String,
                  dim: DataFrame,
                  archiveDir: Option[String] = None): (Long, Long) = {
    val raw = source.read(spark, stagingDir, rawSchema)
    val split = Transform.run(raw, dim)
    val clean = split.clean.cache()
    val quarantine = split.quarantine.cache()
    val (nc, nq) = (clean.count(), quarantine.count())
    factSink.upsert(clean, factKeys)
    Load.appendQuarantine(quarantine, quarantinePath)
    clean.unpersist(); quarantine.unpersist()
    // S7 for the batch path: move consumed staging files to the
    // archive AFTER both sinks committed (crash before this point
    // re-reads the files; the key-idempotent fact upsert converges,
    // quarantine double-append is the known batch-API cost)
    archiveDir.foreach(archiveStaged(spark, stagingDir, _))
    (nc, nq)
  }

  /** Move every file under `stagingDir` into `archiveDir` (driver-side
    * rename — file COUNT is the daily-workbook cadence, not data
    * volume; the bytes never move through the driver).
    */
  def archiveStaged(spark: SparkSession, stagingDir: String,
                    archiveDir: String): Int = {
    val staging = new org.apache.hadoop.fs.Path(stagingDir)
    val archive = new org.apache.hadoop.fs.Path(archiveDir)
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(archive)) fs.mkdirs(archive)
    val files = fs.listStatus(staging).filter(_.isFile)
    files.foreach(f =>
      fs.rename(f.getPath, new org.apache.hadoop.fs.Path(archive, f.getPath.getName)))
    files.length
  }

  /** A5/A7: streaming session windows — per-user sessions that close
    * when no event arrives within `gap`; the watermark bounds state
    * (sessions older than it finalize and emit). Batch-deterministic
    * twin: q53_session_window.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    asEventTime(events, "ts")
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"), col("n"))

  /** C2/A8 streaming form: exactly-once-per-key within the watermark
    * horizon — bounded-state streaming dedup on the business key.
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           watermark: String = "10 minutes"): DataFrame =
    asEventTime(events, "ts").withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** A7: stream-stream interval join — each click pairs with the
    * same user's purchases that follow it within `within`. Both
    * sides carry watermarks AND the join condition bounds event time
    * on both sides, which is what lets Spark expire join state: a
    * buffered click can be dropped once the purchase-side watermark
    * passes `click_ts + within`, so state is O(watermark horizon),
    * not O(stream). Batch-equivalent semantics asserted in
    * IngestSpec against the same join run as a plain batch query.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        watermark: String = "30 minutes",
                        within: String = "1 hour"): DataFrame = {
    val c = asEventTime(clicks, "ts")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = asEventTime(purchases, "ts")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $within"))
      .drop("p_user_id")
  }

  /** Document curation as a STREAMING pass: quality filter, exact
    * content dedup, and PII redaction lifted unchanged into
    * Structured Streaming over a folder of JSON-lines document
    * files. The filter and redaction are stateless projections (they
    * lift for free); the dedup is streaming `dropDuplicates` keyed
    * on the content fingerprint, whose state lives in the checkpoint
    * — so a document seen in ANY earlier pass stays deduped in every
    * later one, and replays are exactly-once.
    *
    * State note: fingerprint-dedup state grows with distinct content
    * forever by design (content dedup has no time horizon). At
    * 100 TB, bound it with RocksDB state-store + a periodic
    * compaction job, or switch to [[dedupWithinWatermark]] semantics
    * when an ingest-time horizon is acceptable.
    */
  def curateDocsAvailableNow(spark: SparkSession, stagingDir: String,
                             checkpointDir: String, outPath: String): Unit = {
    import graft.llm.{Pii, TextStats}
    val schema = StructType.fromDDL("doc_id LONG, text STRING, lang STRING")
    val curated = spark.readStream.schema(schema).json(stagingDir)
      .filter(TextStats.qualityScoreRaw(col("text")) >= 0.5)
      .withColumn("fp", TextStats.fingerprint(col("text")))
      .dropDuplicates("fp")
      .withColumn("text", Pii.redact(col("text")))
      .drop("fp")
    val q = curated.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outPath)
      .start()
    q.awaitTermination()
  }

  /** STREAMING corpus drift monitor — the streaming twin of
    * [[graft.llm.Drift]] (q133): watch a folder of JSON-lines
    * document files, maintain the RUNNING token counts of everything
    * ingested so far (streaming groupBy aggregation — state bounded
    * by |vocab|, checkpointed, exactly-once state across restarts),
    * and per micro-batch emit one row with the quantized-TV distance
    * of the accumulated distribution against a fixed REFERENCE
    * distribution: (batch_id, n_ref, n_cur, vocab_ref, vocab_cur,
    * vocab_union, tv_microsum, tv_dist).
    *
    * The production read: a crawl lands file-by-file, and the
    * appended curve shows the incoming corpus converging toward (or
    * drifting from) the reference mix — the alarm fires on the
    * trend, not on one batch. Complete-output streaming aggregation
    * is the right state primitive because the metric needs the FULL
    * accumulated distribution each batch and that distribution is
    * vocab-bounded, not stream-bounded; the per-batch TV arithmetic
    * is the same exact-integer [[graft.llm.Drift]] path the q133
    * oracle verifies. IngestSpec proves the final appended row
    * equals the batch `Drift.summary` over the same files.
    *
    * Output idempotency: foreachBatch is at-least-once, so a retried
    * batch would duplicate its summary row under a plain append. The
    * sink therefore partitions by batch_id with DYNAMIC partition
    * overwrite — a replayed batch rewrites exactly its own
    * `batch_id=N` directory and no other, making the output
    * exactly-once per batch_id end to end.
    */
  def driftMonitorAvailableNow(spark: SparkSession, stagingDir: String,
                               checkpointDir: String, refDocs: DataFrame,
                               textCol: String, outPath: String,
                               maxFilesPerTrigger: Option[Int] = None): Unit = {
    import graft.llm.Drift
    val refCounts = Drift.sideCounts(refDocs, textCol, "a")
      .localCheckpoint(eager = true) // fixed side: evaluate once, reuse per batch
    val schema = StructType.fromDDL("doc_id LONG, text STRING, lang STRING")
    val reader = spark.readStream.schema(schema)
    // bound files per micro-batch when asked (q137 uses 1 to force a
    // genuine multi-batch accumulation through the state store)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val runningCounts = reader.json(stagingDir)
      .select(explode(graft.llm.TextStats.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("b"))
    val q = runningCounts.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Drift.summarize(Drift.deltasFromCounts(refCounts, batch))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outPath)
      }
      .start()
    q.awaitTermination()
  }

  /** STREAMING CDC apply behind a real AvailableNow run — the
    * runtime harness for [[Stateful.cdcResolved]] (q139, the q137
    * discipline applied to the flatMapGroupsWithState family): watch
    * a folder of JSON-lines change files (k, ver, op, payload),
    * resolve per-key highest-version state through the checkpointed
    * state store across genuine micro-batches, and write each
    * batch's EMITTED changes (Update mode — only keys whose resolved
    * state changed this batch) to a batch_id-partitioned parquet
    * with dynamic partition overwrite, so a replayed batch rewrites
    * exactly its own directory (exactly-once per batch_id).
    *
    * Reading the result: cdcResolved emits a key only when its
    * state changes, so each key's HIGHEST-batch_id row is its final
    * resolved state — one `max_by` per key reconstructs the same
    * snapshot [[graft.etl.Cdc.state]] computes over the whole log
    * (StatefulSpec pins that equivalence under arbitrary slicing;
    * q139 pins it through the actual streaming runtime against the
    * q106 oracle).
    */
  def cdcResolvedAvailableNow(spark: SparkSession, stagingDir: String,
                              checkpointDir: String, outPath: String,
                              maxFilesPerTrigger: Option[Int] = None): Unit = {
    val schema = StructType.fromDDL("k LONG, ver LONG, op STRING, payload STRING")
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val resolved = Stateful.cdcResolved(reader.json(stagingDir))
    val q = resolved.toDF().writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outPath)
      }
      .start()
    q.awaitTermination()
  }

  /** Stage `slices` into `stagingDir` as one JSON file each, with
    * strictly ascending modification times (60 s apart) so the file
    * stream source — which orders unread files by (modTime, path) —
    * consumes them in slice order under `maxFilesPerTrigger=1`.
    *
    * This is the arrival-order contract ORDER-SENSITIVE stateful ops
    * need (a running-baseline fold must see earlier readings in
    * earlier batches); order-INSENSITIVE ops (CDC max-version, the
    * copy-count feature store) can stage unordered like q139 does.
    * One file per slice keeps the batch↔slice mapping exact.
    */
  def stageOrderedJson(spark: SparkSession, slices: Seq[DataFrame],
                       stagingDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(stagingDir))
    val t0 = System.currentTimeMillis() - 3600L * 1000 * slices.size
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$stagingDir/__slice$i"
      df.coalesce(1).write.mode("overwrite").json(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
      val dest = new org.apache.hadoop.fs.Path(stagingDir, f"slice$i%04d.json")
      if (!fs.rename(part, dest))
        throw new IllegalStateException(s"could not stage $dest")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      fs.setTimes(dest, t0 + i * 60000L, -1)
    }
  }

  /** [[stageOrderedJson]]'s parquet twin for BINARY-carrying rows
    * (JSON lines cannot stage image payloads): one parquet file per
    * slice, ascending mtimes, so the file streaming source delivers
    * slices as separate micro-batches in order.
    */
  def stageOrderedParquet(spark: SparkSession, slices: Seq[DataFrame],
                          stagingDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(stagingDir))
    val t0 = System.currentTimeMillis() - 3600L * 1000 * slices.size
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$stagingDir/__slice$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
      val dest = new org.apache.hadoop.fs.Path(stagingDir, f"slice$i%04d.parquet")
      if (!fs.rename(part, dest))
        throw new IllegalStateException(s"could not stage $dest")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      fs.setTimes(dest, t0 + i * 60000L, -1)
    }
  }

  /** STREAMING perceptual dedup behind a real AvailableNow run —
    * the q137/q139 runtime discipline applied to the fingerprint
    * tier (q161): watch a folder of image-payload parquet files,
    * decode + sign each micro-batch through the REAL ImageIO path,
    * probe it against the SIGNATURE STORE accumulated from every
    * earlier batch ([[graft.llm.SigDedup.incrementalNearDups]] —
    * fresh×store ∪ fresh×fresh, never store×store), then append the
    * batch's signatures to the store. Both sinks are
    * batch_id-partitioned with dynamic partition overwrite, and the
    * store read excludes the CURRENT batch_id's rows, so a crashed
    * batch replays idempotently (the drift/CDC sink discipline).
    *
    * Contract: every near-dup pair is emitted exactly once — in the
    * batch that carried its LATER member — so the union of all
    * batch partitions equals the one-shot batch dedup of the full
    * corpus (q153's pair graph), which is exactly what the q161
    * oracle checks.
    */
  def phashDedupAvailableNow(spark: SparkSession, stagingDir: String,
                             checkpointDir: String, storeDir: String,
                             outDir: String,
                             maxFilesPerTrigger: Option[Int] = None): Unit = {
    val schema = StructType.fromDDL("doc_id LONG, content BINARY")
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(stagingDir)
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // cache the batch's signatures ONCE: the dedup join and the
        // store append both consume them, and without the cache the
        // second consumer would re-run the expensive ImageIO decode
        // over the whole batch
        val sigs = graft.sources.Multimodal
          .decodeImages(batch, "content", grid = 8)
          .select(col("doc_id"), col("ahash_hi"), col("ahash_lo"))
          .persist()
        // foreachBatch hands frames a CLONED session — barrier caches
        // land under it, not the outer `spark`; mark both
        val batchSession = batch.sparkSession
        val cacheMark = graft.llm.BarrierCache.mark(spark)
        val cacheMarkB = graft.llm.BarrierCache.mark(batchSession)
        try {
          val store =
            if (Load.tableExists(spark, storeDir))
              spark.read.parquet(storeDir)
                .filter(col("batch_id") =!= batchId)
                .select("doc_id", "ahash_hi", "ahash_lo")
            else sigs.limit(0)
          graft.llm.SigDedup.incrementalNearDups(
              store, sigs, "doc_id", "ahash_hi", "ahash_lo", maxDist = 7)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(outDir)
          sigs.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(storeDir)
        } finally {
          // a long-running stream must not accrete one batch's worth
          // of cached plans per trigger: drop this batch's explicit
          // cache AND the barrier caches SigDedup tracked for it —
          // but ONLY this batch's (sweepSince): the session's shared
          // caches outside the stream must survive the trigger
          sigs.unpersist()
          graft.llm.BarrierCache.sweepSince(spark, cacheMark)
          if (!(batchSession eq spark))
            graft.llm.BarrierCache.sweepSince(batchSession, cacheMarkB)
        }
      }
      .start()
    q.awaitTermination()
  }

  /** STREAMING ingest that keeps its OWN data-skipping index fresh —
    * the production shape of [[graft.etl.StatsIndex]] maintenance:
    * every micro-batch lands its rows in a `batch_id=` partition of
    * the data table (dynamic partition overwrite — replay-idempotent,
    * the q137/q139 sink discipline) and then brings the per-file
    * min/max stats table up to date via [[StatsIndex.updateFor]],
    * which scans ONLY the files this batch added (and drops rows for
    * any files a crash-replay overwrote). Range queries over the
    * growing table prune from the always-fresh stats — no
    * rebuild-the-index batch job trailing the stream.
    *
    * Crash story: data write and stats write are separate actions,
    * but the data sink is batch_id-idempotent and `updateFor`
    * reconciles the stats against the ACTUAL listing, so a replayed
    * batch converges both artifacts to the same state; the stats
    * table itself swaps atomically ([[Load.writeAtomic]]), so
    * readers never see a half-written index.
    */
  def statsIndexedIngestAvailableNow(spark: SparkSession, stagingDir: String,
                                     checkpointDir: String, dataDir: String,
                                     statsDir: String, statsCols: Seq[String],
                                     schemaDDL: String,
                                     maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = spark.readStream.schema(StructType.fromDDL(schemaDDL))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(stagingDir)
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(dataDir)
        // a crash-replay OVERWRITES its partition (deleting files) —
        // drop any cached listing before reconciling the stats
        spark.catalog.refreshByPath(dataDir)
        val updated =
          if (Load.tableExists(spark, statsDir))
            StatsIndex.updateFor(spark, dataDir,
              Load.readTable(spark, statsDir), statsCols)
          else StatsIndex.build(spark, dataDir, statsCols)
        Load.writeAtomic(spark, updated, statsDir)
      }
      .start()
    q.awaitTermination()
  }

  /** STREAMING ingest that commits every micro-batch as a snapshot
    * VERSION — the exactly-once lakehouse sink ([[graft.etl.Snapshots]]
    * as a streaming target, Delta's `writeStream.format("delta")`
    * shape): each batch lands via [[graft.etl.Snapshots.append]] —
    * METADATA-ONLY append: the new version references every prior
    * file verbatim and adds only the batch's fresh dir, so commit
    * cost is O(batch), independent of table size — and records its
    * micro-batch id as the version's idempotency `tag`.
    *
    * Exactly-once story: foreachBatch is at-least-once (a crash
    * after the append but before the checkpoint commit replays the
    * batch), but a replayed batch sees `lastTag >= batchId` and
    * SKIPS — the version log itself is the transactional sink state,
    * so even a FRESH-checkpoint replay over the same staging folder
    * is a no-op (same ids re-delivered, all already committed).
    * Readers time-travel to any batch boundary; the per-version
    * stats index stays fresh through append's incremental hook.
    */
  def snapshotIngestAvailableNow(spark: SparkSession, stagingDir: String,
                                 checkpointDir: String, tableRoot: String,
                                 statsCols: Seq[String], schemaDDL: String,
                                 maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = spark.readStream.schema(StructType.fromDDL(schemaDDL))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(stagingDir)
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!graft.etl.Snapshots.lastTag(spark, tableRoot).exists(_ >= batchId)) {
          graft.etl.Snapshots.append(spark, batch, tableRoot,
            statsCols, tag = Some(batchId))
          ()
        }
      }
      .start()
    q.awaitTermination()
  }

  /** STREAMING CDC UPSERT into the snapshot tier — the lakehouse
    * form of the CDC-apply pipeline ([[graft.etl.Cdc]]'s semantics
    * behind [[graft.etl.Snapshots.merge]]): every real AvailableNow
    * micro-batch of key-distinct change rows MERGEs into the
    * versioned table — matched keys replace, new keys insert — with
    * the batch id recorded as the version's idempotency tag, so a
    * crash replay or a fresh-checkpoint rerun sees its id already
    * committed and skips (the [[snapshotIngestAvailableNow]]
    * discipline, lifted from append to row-level upsert). The first
    * batch BOOTSTRAPS the table via the tagged metadata-only append.
    *
    * Scale shape: each batch's merge rewrites only the files whose
    * key range the batch touches (stats-targeted — a key-localized
    * CDC feed against a key-clustered layout rewrites O(batch
    * locality) files), and the stats index is maintained
    * incrementally in the same commit.
    */
  def snapshotUpsertAvailableNow(spark: SparkSession, stagingDir: String,
                                 checkpointDir: String, tableRoot: String,
                                 key: String, statsCols: Seq[String],
                                 schemaDDL: String,
                                 maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = spark.readStream.schema(StructType.fromDDL(schemaDDL))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(stagingDir)
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val snap = graft.etl.Snapshots
        if (!snap.lastTag(spark, tableRoot).exists(_ >= batchId)) {
          if (snap.latestVersion(spark, tableRoot).isEmpty) {
            snap.append(spark, batch, tableRoot, statsCols,
              tag = Some(batchId))
            ()
          } else {
            snap.merge(spark, batch, tableRoot, key, statsCols,
              tag = Some(batchId))
            ()
          }
        }
      }
      .start()
    q.awaitTermination()
  }

  /** BRONZE→SILVER incremental table pipeline (the medallion step):
    * a DERIVED snapshot table maintained from a source snapshot
    * table's change feed — the version log is the stream (as in
    * [[snapshotChangesAvailableNow]]), and each source version's
    * inserts run through `transform` and APPEND to the destination
    * table tagged with the SOURCE VERSION number, so the derived
    * table's idempotency tags record exactly which source commits it
    * embodies: crash replays and fresh-checkpoint reruns see their
    * source version already consumed and skip (exactly-once,
    * checkpoint-loss-proof). Per-version cost is the churn
    * (transform runs over feed rows only — the source table is never
    * rescanned).
    *
    * Contract: the source must be APPEND-ONLY over the consumed span
    * (the ingest steady state); a feed carrying deletes fails loudly
    * rather than silently dropping them — row-level source mutation
    * needs the keyed feed and a merge-apply, a different pipeline.
    */
  def snapshotPipelineAvailableNow(spark: SparkSession, srcRoot: String,
                                   checkpointDir: String, dstRoot: String,
                                   statsCols: Seq[String],
                                   transform: DataFrame => DataFrame,
                                   maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.text(s"$srcRoot/_versions")
    val vre = """"version":(\d+)""".r
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val snap = graft.etl.Snapshots
        val vs = batch.collect().toSeq
          .flatMap(r => vre.findFirstMatchIn(r.getString(0)).map(_.group(1).toLong))
          .sorted
        // one log listing + one tag scan per micro-batch, not per
        // version — the tag then advances locally with each append
        val committed = snap.versions(spark, srcRoot).toSet
        var last = snap.lastTag(spark, dstRoot)
        vs.foreach { v =>
          if (!last.exists(_ >= v)) {
            val feed =
              if (committed.contains(v - 1))
                snap.changes(spark, srcRoot, v - 1, v).df
              else snap.read(spark, srcRoot, Some(v))
                .withColumn("_change_type", lit("insert"))
            val feedC = feed.localCheckpoint()
            require(feedC.filter(col("_change_type") =!= "insert").isEmpty,
              s"$srcRoot version $v feed carries deletes — " +
                "snapshotPipelineAvailableNow requires an append-only source")
            snap.append(spark,
              transform(feedC.filter(col("_change_type") === "insert")
                .drop("_change_type")),
              dstRoot, statsCols, tag = Some(v))
            last = Some(v)
          }
        }
      }
      .start()
    q.awaitTermination()
  }

  /** STREAMING CHANGE-FEED consumer — the read side of
    * [[snapshotIngestAvailableNow]]: the snapshot VERSION LOG ITSELF
    * is the stream. Each commit publishes exactly one tiny
    * `v<NNNNNNNN>.json`, so the file source tailing the log dir
    * delivers new commits as micro-batches with checkpointed
    * progress — no polling protocol beyond the one the log already
    * provides (Delta's streaming source tails its transaction log
    * the same way). Every version v in a batch emits its NET change
    * frame ([[graft.etl.Snapshots.changes]](v-1, v) — file-granular,
    * churned-files-only) or, when v-1 is not in the log (consumer
    * attached mid-history / first commit), the full version as the
    * INITIAL SNAPSHOT, into `outDir/batch_v=<v>` with dynamic
    * partition overwrite.
    *
    * The VERSION number — not the stream's batch id — is the
    * idempotency key: per-version output is deterministic, so a
    * crash replay or a fresh-checkpoint rerun rewrites the same
    * partitions with the same rows (the q161/q171 exactly-once
    * discipline). Batch slicing is invariant by construction: the
    * union of all `batch_v` partitions ≡ initial snapshot +
    * changes(first, latest), however the commits were grouped into
    * micro-batches.
    *
    * The per-batch `collect()` is version-log LINES — one tiny JSON
    * string per commit, metadata bounded by commit rate, never data
    * rows.
    */
  def snapshotChangesAvailableNow(spark: SparkSession, tableRoot: String,
                                  checkpointDir: String, outDir: String,
                                  maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.text(s"$tableRoot/_versions")
    val vre = """"version":(\d+)""".r
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val snap = graft.etl.Snapshots
        val vs = batch.collect().toSeq
          .flatMap(r => vre.findFirstMatchIn(r.getString(0)).map(_.group(1).toLong))
          .sorted
        // one log listing per micro-batch, not per version
        val committed = snap.versions(spark, tableRoot).toSet
        vs.foreach { v =>
          val df =
            if (committed.contains(v - 1))
              snap.changes(spark, tableRoot, v - 1, v).df
            else snap.read(spark, tableRoot, Some(v))
              .withColumn("_change_type", lit("insert"))
          df.withColumn("batch_v", lit(v))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_v")
            .parquet(outDir)
        }
      }
      .start()
    q.awaitTermination()
  }

  /** STREAMING KEYED CHANGE-FEED apply — Delta's `readChangeFeed` →
    * MERGE loop as ONE seam, maintaining a DERIVED snapshot table
    * from a source table's keyed changes: the source version log is
    * the stream ([[snapshotChangesAvailableNow]]'s tailing shape, the
    * checkpointed file source), each version's KEYED net change frame
    * ([[graft.etl.Snapshots.changesKeyed]] — churn-only, the base
    * table never rescanned) applies to the destination in ONE commit:
    * postimages and inserts UPSERT, deletes DELETE — the explicit-
    * clause MERGE with `_change_type` riding the source as a
    * discriminator column (preimages drop; the postimage carries the
    * row's new state).
    *
    * Exactly-once: the SOURCE VERSION is the destination's
    * idempotency tag, so a crash replay, a checkpoint resume, or a
    * fresh-checkpoint rerun sees its version already applied and
    * skips — the [[snapshotPipelineAvailableNow]] discipline, lifted
    * from append-only feeds to full row-level mutation (the q180
    * derived-store maintenance without the harness loop). The first
    * consumed version BOOTSTRAPS the destination with the full
    * snapshot.
    *
    * Contract: rows must be key-identified (the upsert contract —
    * non-null keys, unique per version; null-key churn cannot be
    * applied BY KEY and such feeds need the un-keyed pipeline). A gap
    * in the consumed span (source history vacuumed past an unapplied
    * version) refuses loudly rather than silently re-snapshotting.
    * Per-version cost: the churn read + a stats-targeted merge that
    * rewrites only the files the churn keys touch.
    */
  def snapshotCdcApplyAvailableNow(spark: SparkSession, srcRoot: String,
                                   checkpointDir: String, dstRoot: String,
                                   key: String, statsCols: Seq[String],
                                   maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.text(s"$srcRoot/_versions")
    val vre = """"version":(\d+)""".r
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val snap = graft.etl.Snapshots
        // version-log LINES — one tiny JSON string per commit,
        // metadata bounded by commit rate, never data rows
        val vs = batch.collect().toSeq
          .flatMap(r => vre.findFirstMatchIn(r.getString(0)).map(_.group(1).toLong))
          .sorted
        // one log listing + one tag read per micro-batch, not per
        // version — the tag then advances locally with each apply
        val committed = snap.versions(spark, srcRoot).toSet
        var last = snap.lastTag(spark, dstRoot)
        vs.foreach { v =>
          if (!last.exists(_ >= v)) {
            if (snap.latestVersion(spark, dstRoot).isEmpty) {
              snap.append(spark, snap.read(spark, srcRoot, Some(v)),
                dstRoot, statsCols, tag = Some(v))
              ()
            } else {
              require(committed.contains(v - 1),
                s"$srcRoot: version ${v - 1} is gone from the log " +
                  s"(vacuumed?) — cannot derive version $v's changes; " +
                  "re-bootstrap the derived table")
              val feed = snap.changesKeyed(spark, srcRoot, v - 1, v, key).df
                .filter(col("_change_type") =!= "update_preimage")
                .persist()
              try {
                val dataCols = feed.columns.toSeq
                  .filterNot(_ == "_change_type")
                snap.mergeClauses(spark, feed, dstRoot, key, statsCols,
                  "t", "u",
                  matched = Seq(
                    snap.MatchedDelete(
                      Some(col("u._change_type") === "delete")),
                    snap.MatchedUpdate(
                      Some(col("u._change_type") =!= "delete"),
                      Some(dataCols.filterNot(_ == key)
                        .map(c => c -> col(s"u.$c"))))),
                  insertCond = None,
                  inserts = Seq(snap.InsertClause(
                    Some(col("u._change_type") =!= "delete"),
                    Some(dataCols.map(c => c -> col(s"u.$c"))))),
                  tag = Some(v))
                ()
              } finally feed.unpersist()
            }
            last = Some(v)
          }
        }
      }
      .start()
    q.awaitTermination()
  }

  /** STREAMING spike alerting behind a real AvailableNow run — the
    * q137/q139 runtime discipline applied to
    * [[Stateful.spikeAlerts]]: watch a folder of JSON-lines reading
    * files (key, seq, cents), fold each key's exact integer baseline
    * (n, Σcents) through the checkpointed state store across genuine
    * micro-batches, and write every batch's alerts to a
    * batch_id-partitioned parquet with dynamic partition overwrite
    * (exactly-once per batch_id, as the drift/CDC sinks).
    *
    * Every reading emits exactly one alert in the batch that carried
    * it, so the union of all batch partitions IS the full alert
    * stream; staged via [[stageOrderedJson]] (seq-sliced files), the
    * result equals the one-shot ordered batch replay — the q150
    * DuckDB oracle.
    */
  def spikeAlertsAvailableNow(spark: SparkSession, stagingDir: String,
                              checkpointDir: String, outPath: String,
                              factor: Double = 1.5,
                              maxFilesPerTrigger: Option[Int] = None): Unit = {
    val schema = StructType.fromDDL("key LONG, seq LONG, cents LONG")
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val alerts = Stateful.spikeAlerts(reader.json(stagingDir), factor)
    val q = alerts.toDF().writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outPath)
      }
      .start()
    q.awaitTermination()
  }

  /** STREAMING per-doc feature store behind a real AvailableNow run —
    * the runtime harness for [[Stateful.docFeatures]]: watch a folder
    * of JSON-lines doc files (doc_id, text, lang), maintain the
    * fingerprint copy-count state across genuine micro-batches, and
    * write each batch's EMITTED feature rows (every doc of a group
    * re-emits when its group grows) to a batch_id-partitioned parquet
    * with dynamic partition overwrite.
    *
    * Reading the result: each doc's HIGHEST-batch_id row is its
    * final feature row (emission order is irrelevant — the final
    * copy count is a pure function of the full corpus), so one
    * `max_by(…, batch_id)` per doc reconstructs the batch recompute
    * under ANY slicing of the input — the q151 oracle (the q108 base
    * feature SQL).
    */
  def docFeaturesAvailableNow(spark: SparkSession, stagingDir: String,
                              checkpointDir: String, outPath: String,
                              maxFilesPerTrigger: Option[Int] = None): Unit = {
    val schema = StructType.fromDDL("doc_id LONG, text STRING, lang STRING")
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val feats = Stateful.docFeatures(reader.json(stagingDir))
    val q = feats.toDF().writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outPath)
      }
      .start()
    q.awaitTermination()
  }
}
