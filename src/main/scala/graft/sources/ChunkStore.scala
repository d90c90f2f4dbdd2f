package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Scan-parallelism mirror of the driver's single-file tables — the
  * third ingest-time layout move, complementing [[BucketStore]] (join
  * shuffle removal) and [[LayoutStore]] (row-group pruning): this one
  * fixes INPUT SKEW (optimization guide §2.5 "one huge unsplittable
  * file — fix at the source").
  *
  * The driver's testdata tables are each ONE parquet file with ONE row
  * group (sf0.1 lineitem: 600k rows, 10.8 MB, 1 row group). Parquet
  * scan tasks align to row groups, so byte-range splitting cannot raise
  * parallelism: however many splits the scheduler makes, exactly one
  * task decodes the whole row group — and every query whose first stage
  * is a raw-table scan (the relational tier's decimal aggregates, the
  * text tier's tokenize+explode, the embedding tier's vector math) runs
  * that stage on ONE core of 32 (measured: sql_part_concentration's
  * scan+partial-agg stage 1.7 s in 1 effective task; column_correlations
  * 0.86 s; doc_perplexity all stages single-task).
  *
  * The mirror rewrites each table as a directory of N part-files
  * (hash-clustered and sorted by primary key — deterministic layout),
  * where N = max(defaultParallelism, bytes / 128 MB): at driver scale
  * the core count dominates (every core gets a split of a small table);
  * at 100 TB the byte term dominates and N lands on the guide §6 target
  * of 128 MB-1 GB files. Same rows, same schema, same values — layout
  * only, which is why serving reads from it cannot change any declared
  * query's result (the oracle scans the raw table; the 238-query hash
  * gate pins equality). Each mirror is a [[DerivedLayout]] generation
  * keyed on its raw file's identity, like every mirror in `sources/` —
  * an ingest-time cost, not query cost. A generation with fewer part
  * files than the session's chunk count is rebuilt, and a build that
  * fails (say, an unwritable store directory) serves the raw store.
  *
  * Tables whose raw store is already a DIRECTORY (Spark-written fixture
  * corpora in tests, gate corpora) pass through untouched — they are
  * multi-file already and re-chunking them would churn mirrors under
  * test stores. Sub-256 KB tables (supplier, nation, region) also pass
  * through: they broadcast anyway and a 32-way rewrite of a 22 KB file
  * buys nothing.
  */
object ChunkStore {

  /** Primary key per eligible table — the deterministic clustering key
    * for the rewrite (unique keys hash-spread evenly; guide §2.5). */
  private val layoutKeys: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey"),
    "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val MinRawBytes = 256L * 1024L
  private val TargetFileBytes = 128L * 1024L * 1024L

  /** Part-file count of an existing mirror — a narrower session may have
    * built it first (the driver's correctness runs use 4 cores; its bench
    * uses 32), and a 4-chunk mirror caps every scan of a 32-core session
    * at 4 tasks. A WIDER target than the existing layout rebuilds (cheap,
    * ingest-time); a narrower one keeps the wider mirror (more chunks
    * than cores just packs several files per split). */
  private def chunkCount(mirror: String): Int =
    Option(new java.io.File(mirror).listFiles())
      .map(_.count(f => f.isFile && f.getName.startsWith("part-")))
      .getOrElse(0)

  /** Chunk count: `max(min(cores, 8), bytes/128 MB)` — the byte term is
    * the guide §6 file-sizing shape that governs at 100 TB; the
    * min(cores, 8) floor is the measured per-task-amortization knee at
    * driver scale, NOT a core-count tune: a 32-way layout of a ≤11 MB
    * table pays ~32 × (task scheduling + file open) against near-zero
    * per-task work, and the 32/16/8 A/B (OPTIMIZATION_r20.md §1) showed
    * N=8 fastest or tied on EVERY probe query — heavy scans included
    * (sql_part_concentration 1.03/0.87/0.65 s, doc_perplexity
    * 1.26/0.99/0.69 s, join_skew_report 2.54/1.58/1.10 s warm). */
  private def numChunks(spark: SparkSession, rawBytes: Long): Int =
    math.max(math.min(spark.sparkContext.defaultParallelism, 8),
      math.ceil(rawBytes.toDouble / TargetFileBytes).toInt)

  /** The generation of mirror `name` that serves `raw` as it is now,
    * building it from `frame` hash-clustered and sorted on `keys`; None
    * when the build fails. */
  private def chunked(spark: SparkSession, sfDir: String, name: String, raw: java.io.File,
      frame: => DataFrame, keys: Seq[String]): Option[String] = {
    val n = numChunks(spark, raw.length)
    try Some(DerivedLayout.ensure(spark, DerivedLayout.dir(sfDir, s"chunked/$name"), raw.getPath,
        chunkCount(_) >= n) { out =>
      frame.repartition(n, keys.map(col): _*).sortWithinPartitions(keys.map(col): _*).write.parquet(out)
    })
    catch { case NonFatal(_) => None }
  }

  /** Read `name` through the chunked mirror when eligible (building it
    * on first use), else the raw store. Row set and schema are
    * identical either way. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val rawPath = s"$sfDir/$name.parquet"
    val raw = new java.io.File(rawPath)
    val mirror = layoutKeys.get(name) match {
      case Some(keys) if raw.isFile && raw.length >= MinRawBytes =>
        chunked(spark, sfDir, name, raw, spark.read.parquet(rawPath), keys)
      case _ => None
    }
    spark.read.parquet(mirror.getOrElse(rawPath))
  }

  /** Chunked mirror of the NORMALIZED events frame (`ts` already the
    * epoch-nanos LONG of [[Tables.events]] — the mirror stores the one
    * clock contract every batch consumer reads, so serving it skips the
    * per-query normalization too). The streaming file sources keep
    * reading the RAW store ([[Tables.eventsRaw]] — their user-supplied
    * schema is checked against the files); only the batch entry routes
    * here. Same eligibility rules as [[table]]: single raw file,
    * ≥ 256 KB, store dir writable — else the caller's frame is returned
    * unchanged. */
  def eventsMirror(spark: SparkSession, sfDir: String,
      normalized: DataFrame): DataFrame = {
    val raw = new java.io.File(s"$sfDir/events.parquet")
    if (!(raw.isFile && raw.length >= MinRawBytes)) normalized
    else chunked(spark, sfDir, "events", raw, normalized, Seq("event_id"))
      .fold(normalized)(spark.read.parquet(_))
  }

  /** Pre-build every eligible mirror for one corpus — the ingest-time
    * step Bench/BenchProfile/BenchConf run before timing, like the
    * other `ensure*` layouts. Accessors still build lazily on first
    * use, so Verify and ad-hoc sessions need no prep call. */
  def ensureChunked(spark: SparkSession, sfDir: String): Unit = {
    layoutKeys.keys.toSeq.sorted.foreach(table(spark, sfDir, _))
    Tables.events(spark, sfDir)
    ()
  }
}
