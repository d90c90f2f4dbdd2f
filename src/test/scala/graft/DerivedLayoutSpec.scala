package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** The `sources/` mirrors follow one derived-layout rule: a mirror serves
  * a corpus only while it was built from the corpus's source files as
  * they are now, and never serves another corpus. */
class DerivedLayoutSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** Writes `df` as the single Parquet file `path`, replacing it — the
    * shape of the driver's tables, which the chunked mirror requires. */
  private def writeFile(df: DataFrame, path: String): Unit = {
    val staging = tempDir("graft-derived-staging")
    df.coalesce(1).write.mode("overwrite").parquet(s"$staging/t")
    val part = new java.io.File(s"$staging/t").listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  /** A corpus of `n` events (two elements, 30 days) and `n` orders of one
    * line item each; the random padding keeps every table a single file
    * above the chunked mirror's 256 KB floor. */
  private def writeCorpus(dir: String, n: Int, seed: Long): Unit = {
    val pad = sha2(concat(rand(seed).cast("string"), col("id").cast("string")), 512)
    val ids = spark.range(n).toDF("id")
    writeFile(ids.select(col("id").as("event_id"),
      expr("timestamp_seconds(1704067200 + (id % 30) * 86400 + id)").as("ts"),
      (col("id") % 64).as("user_id"),
      when(col("id") % 2 === 0, "view").otherwise("error").as("event_type"),
      (col("id") % 13 + lit(seed)).cast("double").as("value"),
      pad.as("props")), s"$dir/events.parquet")
    writeFile(ids.select(col("id").as("o_orderkey"), lit("1-URGENT").as("o_orderpriority"),
      pad.as("o_comment")), s"$dir/orders.parquet")
    writeFile(ids.select(col("id").as("l_orderkey"), lit(1).as("l_linenumber"),
      lit(1.0).as("l_extendedprice"), lit(0.0).as("l_discount"), pad.as("l_comment")),
      s"$dir/lineitem.parquet")
  }

  /** Rows each mirror kind serves for `dir`, by reader. */
  private def mirrorCounts(dir: String): Map[String, Long] = {
    val store = DerivedLayout.corpusRoot(dir)
    def mirrored(name: String, df: DataFrame): (String, Long) = {
      assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains(store)),
        s"$name must read a mirror under $store: ${df.inputFiles.take(2).mkString(", ")}")
      name -> df.count()
    }
    Map(
      mirrored("events_by_element", spark.read.parquet(SeriesStore.ensurePartitioned(spark, dir))),
      mirrored("sorted", LayoutStore.sorted(spark, dir)),
      mirrored("zordered", LayoutStore.zOrdered(spark, dir)),
      mirrored("bucketed_orders", BucketStore.bucketed(spark, dir, "orders")),
      mirrored("bucketed_lineitem", BucketStore.bucketed(spark, dir, "lineitem")),
      mirrored("chunked_lineitem", ChunkStore.table(spark, dir, "lineitem")),
      mirrored("chunked_events", Tables.events(spark, dir)),
      mirrored("jsonl", JsonStore.eventsFromJson(spark, dir)),
      mirrored("csv", JsonStore.eventsFromCsv(spark, dir)),
      mirrored("orc", JsonStore.eventsFromOrc(spark, dir)))
  }

  test("regenerating a corpus in place gives the new rows from every mirror kind") {
    val dir = tempDir("graft-derived-regen")
    writeCorpus(dir, 6000, 1L)
    assert(mirrorCounts(dir).values.toSet == Set(6000L))
    writeCorpus(dir, 7000, 2L)
    val after = mirrorCounts(dir)
    assert(after.values.toSet == Set(7000L), s"stale mirrors: ${after.filter(_._2 != 7000L)}")
    val byElement = SeriesStore.series(spark, dir, Seq("view")).collect()
    assert(byElement.map(_.values.length).sum == 3500)
  }

  test("the full-store series cache follows its corpus through an in-place rewrite") {
    val dir = tempDir("graft-derived-series")
    def values = SeriesStore.series(spark, dir).collect().map(s => s.element -> s.values.toSeq).toMap
    writeCorpus(dir, 600, 1L)
    val before = values
    assert(before.values.flatten.forall(v => v >= 1.0 && v < 14.0))
    writeCorpus(dir, 700, 5L)
    val after = values
    assert(after.values.map(_.length).sum == 700)
    assert(after.values.flatten.forall(_ >= 5.0), "series() must serve the rewritten values")
  }

  test("corpora whose paths sanitize alike never share a mirror") {
    val root = tempDir("graft-derived-alias")
    val (dotted, underscored) = (s"$root/x.y", s"$root/x_y")
    Seq(dotted -> 30L, underscored -> 70L).foreach { case (d, n) =>
      new java.io.File(d).mkdirs()
      spark.range(n).select(col("id").as("event_id"),
        expr("timestamp_seconds(1704067200 + id * 3600)").as("ts"), col("id").as("user_id"),
        lit("view").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
        .write.parquet(s"$d/events.parquet")
    }
    assert(DerivedLayout.corpusRoot(dotted) != DerivedLayout.corpusRoot(underscored))
    // the later-built mirror of one must not pass for the other's
    Seq(underscored -> 70L, dotted -> 30L, underscored -> 70L).foreach { case (d, n) =>
      assert(LayoutStore.sorted(spark, d).count() == n, d)
      assert(LayoutStore.zOrdered(spark, d).count() == n, d)
      assert(JsonStore.eventsFromOrc(spark, d).count() == n, d)
      assert(spark.read.parquet(SeriesStore.ensurePartitioned(spark, d)).count() == n, d)
    }
  }

  test("concurrent builds of one layout each publish a readable generation and leave no temp dir") {
    val dir = tempDir("graft-derived-race")
    spark.range(500).select(col("id").as("event_id"), lit("view").as("event_type"))
      .write.parquet(s"$dir/events.parquet")
    val source = s"$dir/events.parquet"
    val layout = DerivedLayout.dir(dir, "race")
    val id = DerivedLayout.identity(source)
    val builds = (1 to 2).map(_ => Future(DerivedLayout.publish(spark, layout, id) { out =>
      spark.read.parquet(source).repartition(3).write.parquet(out)
    }))
    val published = builds.map(Await.result(_, 5.minutes))
    assert(published.distinct.size == 2)
    published.foreach(p => assert(spark.read.parquet(p).count() == 500, p))
    val left = new java.io.File(layout).list().toSeq
    assert(!left.exists(_.startsWith("_tmp-")), s"temp dirs left: $left")
    assert(DerivedLayout.current(spark, layout, source).exists(published.contains))
  }
}
