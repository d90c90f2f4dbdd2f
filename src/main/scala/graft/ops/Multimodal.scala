package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionCache
import graft.sources.Tables

/** Multimodal-column plumbing (north-star extension): media payloads are
  * opaque BINARY columns with typed metadata, and per-batch feature
  * extraction runs as a batched partition transform — the same schema /
  * partitioning / batch shape a real decoder (image resize, audio
  * feature, video frame-sample) would use. The decode kernel in THIS
  * file is a clearly-marked DETERMINISTIC STUB deriving fake dimensions
  * from the payload bytes, which keeps the full pipeline oracle-
  * checkable in plain SQL; the REAL decode tier lives in
  * [[MediaDecode]] (round 13): actual PNG bytes from a binary-file
  * source, decoded with `javax.imageio` into the same luma-grid/dHash
  * contracts and pinned by `media_decode_gates`. The two tiers share
  * the operator shapes on purpose — swap the source, keep the plan.
  *
  * At 100 TB the payload column dominates storage: every transform here
  * projects metadata before shuffling, and the batched iterator keeps
  * per-row overhead amortized exactly as an Arrow-batched UDF would.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, kind: String, n_bytes: Long,
      width: Long, height: Long, frames: Long)

  /** Build the media table: documents' text bytes stand in for the
    * opaque payload (binary column + kind metadata). */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.sources.ChunkStore.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        // a null source field means a missing payload, not a crash —
        // it decodes as a 0-byte media object (real feeds ship nulls)
        coalesce(encode(col("text"), "UTF-8"), lit(Array.emptyByteArray)).as("payload"))
      .as[MediaRow]
  }

  /** ====== STUB DECODER ======
    * Stands in for a real image/audio/video decode. Deterministic pure
    * function of (kind, payload length) so the surrounding pipeline is
    * fully verifiable; swap this body for a codec call in production. */
  def decodeStub(kind: String, payload: Array[Byte]): (Long, Long, Long) = {
    val n = payload.length.toLong
    kind match {
      case "image" => (16 + n % 640, 16 + (n * 7) % 480, 1L)
      case "audio" => (1L, 1L, n % 48000)          // "frames" = fake sample count
      case "video" => (16 + n % 640, 16 + (n * 7) % 480, 1 + n % 24)
      case _       => (0L, 0L, 0L)
    }
  }

  val BatchSize = 64

  /** Batched feature extraction: the partition iterator is consumed in
    * fixed-size batches (the Arrow-batch shape of a pandas-style UDF) and
    * the stub decode runs once per row inside the batch loop. */
  def extractFeatures(spark: SparkSession, media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.map { r =>
          val (w, h, f) = decodeStub(r.kind, r.payload)
          MediaFeatures(r.doc_id, r.kind, r.payload.length.toLong, w, h, f)
        }
      }
    }
  }

  /** The registered query: media build → batched decode → metadata-only
    * projection (payload never survives past the decode stage). */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame =
    extractFeatures(spark, mediaTable(spark, sfDir))
      .toDF()
      .orderBy("doc_id")

  /** Letterbox-resize plan for the visual rows (image/video): the
    * preprocessing step in front of any vision encoder — scale each
    * decoded frame to fit `targetW`×`targetH` preserving aspect ratio,
    * centered with symmetric padding. The scale factor is computed in
    * exact MILLIONTH units (integer floor of the double ratio) and the
    * output dimensions with integer division, so the whole plan is
    * bit-reproducible in SQL and hash-verified — no float-boundary
    * ambiguity ever reaches a dimension. Audio rows are excluded
    * (resize is meaningless for them). */
  def mediaResize(spark: SparkSession, sfDir: String,
      targetW: Int = 224, targetH: Int = 224): DataFrame =
    mediaFeatures(spark, sfDir)
      .filter(col("kind") =!= "audio")
      .withColumn("s6", expr(
        s"CAST(floor(least($targetW * 1000000.0 / width, $targetH * 1000000.0 / height)) AS BIGINT)"))
      .select(col("doc_id"), col("kind"), col("width"), col("height"),
        round(col("s6") / 1e6, 6).as("scale"),
        expr("width * s6 DIV 1000000").as("out_w"),
        expr("height * s6 DIV 1000000").as("out_h"),
        expr(s"($targetW - width * s6 DIV 1000000) DIV 2").as("pad_x"),
        expr(s"($targetH - height * s6 DIV 1000000) DIV 2").as("pad_y"))
      .orderBy(col("doc_id"))

  /** Perceptual near-duplicate pairs over the visual media rows — the
    * dHash tier an LLM multimodal pipeline runs as routinely as text
    * dedup: decode each image/video payload to a small luma grid,
    * difference-hash it to 64 bits (dHash: bit = left cell brighter
    * than its right neighbor on a 9×8 grid — robust to rescale and
    * small edits), then find hamming-near pairs with the same banded
    * join + exact `bit_count(xor) ≤ r` filter as the text SimHash path
    * ([[NearDup.bandedHammingPairs]] — 8 bands of 8 bits; the default
    * radius 7 = bands−1 is exactly the pigeonhole guarantee, so when no
    * bucket splits the banded join is EQUAL to the brute-force scan and
    * the DuckDB oracle hash-verifies it; a larger radius would break
    * that equality, not just recall). Position-sampled grids mean a
    * LENGTH-CHANGING edit shifts every downstream cell (measured: the
    * corpus's token-edit near-dup twins land at hamming ≥ 15) — like
    * real dHash, the detector targets same-dimension local edits, and
    * exact-duplicate payloads land at hamming 0 (3 pairs at sf0.1).
    *
    * ====== STUB GRID ======: the 9×8 luma grid stands in for a real
    * decode (no codec libraries in this environment) — it samples 72
    * character code points evenly across the payload text, a
    * deterministic pure function mirrored exactly by the DuckDB oracle,
    * so the ENTIRE pipeline (grid → dHash → banded join → hamming
    * filter) is hash-verified end to end; swap the grid stage for real
    * pixels in production and everything downstream is unchanged. A
    * near-identical payload (few characters edited) moves few grid
    * cells ⇒ small hamming distance — the planted fixture in OpsSpec
    * pins this. Empty payloads hash to 0 (identical empty media IS
    * identical). Audio rows are excluded (dHash is a visual
    * fingerprint). */
  /** Session-cached per (corpus, radius): `media_near_dup` and
    * `media_dup_clusters` both consume the pair table, and the
    * grid/signature expressions are interpreted per-cell lambdas worth
    * computing once per corpus. */
  def mediaNearDup(spark: SparkSession, sfDir: String, maxHamming: Int = 7): DataFrame =
    SessionCache(spark, Tables.paths(sfDir, "documents"), "media.nearDupPairs", maxHamming)(
      mediaNearDupDirect(spark, sfDir, maxHamming)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Driver-gate registration over [[Dedup.seededDocs]]: the mirrored
    * payloads land at hamming 0 by construction, so the per-round gate
    * hash-checks the full grid → dHash → banded-join pipeline on real
    * pairs (the raw sf0.01 slice has none). Cached under its own key —
    * the raw pair table (`mediaDupClusters`' input) is a different
    * corpus. */
  def mediaNearDupSeeded(spark: SparkSession, sfDir: String, maxHamming: Int = 7): DataFrame =
    SessionCache(spark, Tables.paths(sfDir, "documents"), "media.nearDupPairsSeeded", maxHamming)(
      mediaNearDupOver(Dedup.seededDocs(spark, sfDir), maxHamming)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The uncached pair computation — also the entry point for planted
    * throwaway fixtures (SketchStreamGates), which must NOT enter the
    * session cache: a resident service churning corpus snapshots
    * would otherwise accumulate one persisted frame per fixture dir
    * until a `SessionCache.clearAll`. */
  private[ops] def mediaNearDupDirect(spark: SparkSession, sfDir: String, maxHamming: Int = 7): DataFrame =
    mediaNearDupOver(graft.sources.ChunkStore.table(spark, sfDir, "documents"), maxHamming)

  private[ops] def mediaNearDupOver(docFrame: DataFrame, maxHamming: Int): DataFrame = {
    val sigs = docFrame
      .filter((col("doc_id") % 3).cast("int") =!= 1) // audio rows out
      .withColumn("txt", coalesce(col("text"), lit("")))
      .withColumn("len", length(col("txt")))
      .withColumn("grid", expr(
        """CASE WHEN len = 0 THEN transform(sequence(0, 71), k -> 0)
          |ELSE transform(sequence(0, 71),
          |  k -> ascii(substring(txt, CAST(1 + (k * len) DIV 72 AS INT), 1)))
          |END""".stripMargin))
      // 63 comparison bits (bit 63 stays 0): 1L << 63 is a signed-long
      // overflow DuckDB refuses at checked arithmetic, and one grid
      // comparison is noise against a 6-bit radius — portable encoding
      // beats the extra bit
      .withColumn("sig", expr(
        """aggregate(sequence(0, 62), CAST(0 AS BIGINT),
          |  (acc, j) -> acc + IF(
          |    element_at(grid, CAST((j DIV 8) * 9 + (j % 8) + 1 AS INT)) >
          |    element_at(grid, CAST((j DIV 8) * 9 + (j % 8) + 2 AS INT)),
          |    shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))""".stripMargin))
      .select(col("doc_id"), col("sig"))
    NearDup.bandedHammingPairs(sigs, maxHamming, bands = 8, cap = 512)
  }

  /** Perceptual-duplicate CLUSTER resolution — the media tier's
    * counterpart of the text tier's `dup_clusters` (a pair table
    * without cluster resolution can't drive a keep-one-per-group
    * purge): connected components over the banded-hamming pair graph
    * via the shared alternating large/small-star machinery
    * (`Dedup.starContract` — O(log² n) rounds at any diameter, loud
    * failure on non-convergence), labels = component-min doc_id,
    * singleton media label themselves. The component edges are
    * id-pairs only; nothing payload-sized shuffles. Fully
    * oracle-checkable: the dhash pair set is SQL-replayed and closed
    * with a recursive CTE. */
  def mediaDupClusters(spark: SparkSession, sfDir: String, maxHamming: Int = 7): DataFrame = {
    val pairs = mediaNearDup(spark, sfDir, maxHamming)
      .select(col("doc_b").as("u"), col("doc_a").as("v")) // doc_a < doc_b ⇒ u > v
    val roots = Dedup.starContract(pairs)
      .groupBy(col("u").as("doc_id")).agg(min(col("v")).as("root"))
    val lab = graft.sources.ChunkStore.table(spark, sfDir, "documents")
      .filter((col("doc_id") % 3).cast("int") =!= 1)
      .select(col("doc_id"))
      .join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster_id"))
    val sz = lab.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    lab.join(sz, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Uniform frame sampling for the video rows: up to `maxFrames`
    * frame indices per clip at even spacing — the frame-sample stage a
    * video pipeline runs before per-frame decode/embedding (sampling
    * indices is metadata arithmetic; only the CHOSEN frames would ever
    * be decoded at scale). Integer index math (k·frames div n) —
    * oracle hash-verified. */
  def frameSample(spark: SparkSession, sfDir: String, maxFrames: Int = 8): DataFrame =
    mediaFeatures(spark, sfDir)
      .filter(col("kind") === "video")
      .withColumn("n_samples", least(lit(maxFrames.toLong), col("frames")))
      .select(col("doc_id"), col("frames"), col("n_samples"),
        posexplode(expr(
          "transform(sequence(0, CAST(n_samples - 1 AS INT)), k -> CAST(k AS BIGINT) * frames DIV n_samples)")))
      .select(col("doc_id"), col("frames"), col("n_samples"),
        col("pos").cast("long").as("sample_k"), col("col").as("frame_idx"))
      .orderBy(col("doc_id"), col("sample_k"))
}
