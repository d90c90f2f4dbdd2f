package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SessionCache
import graft.ops.{Dedup, IncrementalAgg, Lexical, NearDup, Similarity}
import graft.streaming.EventIngest

/** Derived session results follow one rule (`graft.core.SessionCache`):
  * an entry serves only while the tables it was derived from are as they
  * were when the entry was filled, fills nest, and nothing outside the one map
  * holds a derived result. */
class SessionCacheSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** `n` embeddings of 16 dims drawn from `seed`, in five labels. */
  private def embeddings(n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val r = new java.util.Random(i * 31L + seed)
      (i.toLong, Array.fill(16)(r.nextGaussian().toFloat), i % 5)
    }.toDF("vec_id", "embedding", "label")
  }

  /** Writes `df` as the single Parquet file `path`, replacing it from
    * outside the session's writer — the shape of a corpus another process
    * regenerates (Spark's own overwrite would recache frames by path). */
  private def writeFile(df: DataFrame, path: String): Unit = {
    val staging = tempDir("graft-session-staging")
    df.coalesce(1).write.mode("overwrite").parquet(s"$staging/t")
    val part = new java.io.File(s"$staging/t").listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private val AllTables = Seq("documents", "embeddings", "events")

  /** Writes the `tables` of a corpus of documents, embeddings and events
    * whose content depends on `version`: the near-duplicate pair, the
    * vectors, the event values and the calendar all change between
    * versions. */
  private def writeCorpus(dir: String, version: Int, tables: Seq[String] = AllTables): Unit = {
    import spark.implicits._
    val words = Seq("river", "stone", "bridge", "valley", "station", "harbor",
      "meadow", "lantern", "orchard", "canyon", "summit", "glacier")
    val docs = (0 until 12).map { i =>
      // docs (2v, 2v+1) share one text: the version's duplicate pair
      val base = if (i == 2 * version + 1) 2 * version else i
      val text = (0 until 30).map(j => words((base * 7 + j * (base + 1)) % words.size) + (base + j) % 9)
        .mkString(" ")
      (i.toLong, "en", "s1", text, text.length.toLong)
    }
    if (tables.contains("documents"))
      writeFile(docs.toDF("doc_id", "lang", "source", "text", "n_chars"), s"$dir/documents.parquet")
    if (tables.contains("embeddings"))
      writeFile(embeddings(40 + 10 * version, version * 1000L + 7L), s"$dir/embeddings.parquet")
    val days = 30 + 10 * version
    if (tables.contains("events")) writeFile(spark.range(days * 4L).select(col("id").as("event_id"),
        expr(s"timestamp_seconds(1704067200 + (id % $days) * 86400 + id)").as("ts"),
        (col("id") % 7).as("user_id"),
        when(col("id") % 2 === 0, "view").otherwise("error").as("event_type"),
        ((col("id") * (version + 3)) % 17).cast("double").as("value")),
      s"$dir/events.parquet")
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Every cached result the regenerate spec reads, as plain values. */
  private def results(dir: String): Map[String, Any] = {
    val (pivot, ref) = EventIngest.driftReference(spark, dir)
    Map(
      "clusterLabels" -> rows(Dedup.clusterLabels(spark, dir).orderBy("doc_id")),
      "floorPairs" -> rows(NearDup.blockedJaccard(spark, dir, 0.8)),
      "corpusCount" -> Similarity.corpusCount(spark, dir),
      "cosineTopK" -> rows(Similarity.cosineTopK(spark, dir, 3)),
      "maintainedView" -> rows(IncrementalAgg.maintainedDailyAgg(spark, dir)),
      "driftReference" -> (pivot, ref.map { case (e, r) => e -> (r.edges.toSeq, r.refShares.toSeq) }))
  }

  test("a corpus regenerated in place serves its new data from every session cache") {
    val dir = tempDir("graft-session-regen")
    val fresh = tempDir("graft-session-fresh")
    writeCorpus(dir, 0)
    val before = results(dir)
    writeCorpus(dir, 1)
    writeCorpus(fresh, 1)
    val after = results(dir)
    val expected = results(fresh)
    val inert = expected.keys.filter(name => before(name) == expected(name))
    assert(inert.isEmpty, s"the two corpus versions must differ in: ${inert.mkString(", ")}")
    val stale = expected.keys.filter(name => after(name) != expected(name)).toSeq.sorted
    assert(stale.isEmpty, s"served the corpus as it was before the rewrite: ${stale.mkString(", ")}")
  }

  test("rewriting one table renews only the entries derived from it") {
    val dir = tempDir("graft-session-onetable")
    writeCorpus(dir, 0)
    results(dir)
    val ops = Seq("dedup.clusterLabels", "sim.corpusCount", "sim.exactTopK",
      "ingest.driftReference", "incrementalAgg.store")
    val before = ops.map(op => op -> misses(op)).toMap
    writeCorpus(dir, 1, Seq("documents"))
    results(dir)
    val refilled = ops.filter(op => misses(op) != before(op))
    assert(refilled == Seq("dedup.clusterLabels"),
      s"a documents rewrite refilled: ${refilled.mkString(", ")}")
  }

  test("serving requests read only entries pinned to an index generation") {
    val dir = tempDir("graft-session-serving")
    writeCorpus(dir, 0)
    Similarity.ensureIvfIndex(spark, dir)
    Lexical.ensureLexIndex(spark, dir)
    def serve(): Unit = {
      Similarity.searchVector(spark, dir, Array.fill(16)(0.25), 3).collect()
      Lexical.searchText(spark, dir, Seq("river0", "stone1"), 3).collect()
    }
    def calls = SessionCache.stats.map(s => s.op -> (s.hits + s.misses)).toMap
    serve()
    val before = calls
    serve()
    val read = calls.filter { case (op, n) => before.getOrElse(op, 0L) != n }.keySet
    val pinned = Set("sim.servingQuantizer", "sim.servingScan", "lex.scan", "lex.termDf",
      "lex.pressureChecked")
    assert(read.nonEmpty && read.subsetOf(pinned),
      s"a warm serving request read entries that take an identity stat: ${read -- pinned}")
  }

  /** Runs `body` and counts the Spark jobs it starts; a marker job on
    * each side fences the asynchronous listener events. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID()
    val (begin, end) = (s"fence-begin-$id", s"fence-end-$id")
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.job.description")).orNull match {
          case `begin` => counting = true
          case `end` => counting = false; fenced.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
    }
    def fence(desc: String): Unit = {
      sc.setJobDescription(desc)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      fence(begin)
      val out = body
      fence(end)
      assert(fenced.await(60, TimeUnit.SECONDS), "listener fence never arrived")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def misses(op: String): Long =
    SessionCache.stats.find(_.op == op).map(_.misses).getOrElse(0L)

  test("a fill that invalidates its own index keeps its entry, and nested fills run once") {
    val dir = tempDir("graft-session-nested")
    embeddings(300, 7L).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // indexLifecycleGates deletes from and compacts its own index inside
    // its fill; the second call is a hit and runs nothing
    val first = rows(Similarity.indexLifecycleGates(spark, dir))
    assert(first.nonEmpty && first.forall(_.getBoolean(1)), s"lifecycle verdicts: $first")
    val (second, jobs) = jobsOf(Similarity.indexLifecycleGates(spark, dir))
    assert(jobs == 0, s"a warm lifecycle verdict ran $jobs Spark jobs")
    assert(rows(second) == first)
    // hardNegatives and cosineTopK both fill corpusCount inside their
    // own fills: run concurrently, each fills once and the count once
    val other = tempDir("graft-session-concurrent")
    embeddings(200, 11L).write.mode("overwrite").parquet(s"$other/embeddings.parquet")
    val ops = Seq("sim.corpusCount", "sim.hardNegatives", "sim.exactTopK")
    val missesBefore = ops.map(misses)
    val start = new CountDownLatch(1)
    val calls = Seq(
      Future { start.await(); Similarity.hardNegatives(spark, other).count() },
      Future { start.await(); Similarity.cosineTopK(spark, other).count() })
    start.countDown()
    calls.foreach(Await.result(_, 5.minutes))
    assert(ops.map(misses).zip(missesBefore).map { case (a, b) => a - b } == Seq(1L, 1L, 1L),
      s"fills per op ${ops.zip(ops.map(misses).zip(missesBefore).map { case (a, b) => a - b })}")
  }

  test("invalidate releases the frames an entry holds, inside options and tuples") {
    val dir = tempDir("graft-session-release")
    val held = SessionCache.pinned(spark, s"$dir/store", "spec.release") {
      val a = spark.range(10).toDF().persist()
      val b = spark.range(20).toDF().persist()
      (Some(a), 3, Seq(b))
    }
    val frames = Seq(held._1.get, held._3.head)
    frames.foreach(_.count())
    assert(frames.forall(_.storageLevel.useMemory))
    SessionCache.invalidate(dir)
    assert(frames.forall(!_.storageLevel.useMemory), "invalidate must unpersist every held frame")
    val refilled = SessionCache.pinned(spark, s"$dir/store", "spec.release")("refilled")
    assert(refilled == "refilled")
    SessionCache.invalidate(dir)
  }

  test("no derived-result map grows outside SessionCache") {
    // every ConcurrentHashMap / LinkedHashMap built in src/main, by the
    // val or def it belongs to; each is a map that is not a derived
    // session result and says why it stays outside SessionCache
    val allowed = Set(
      "core/SessionCache.scala:slots", // the one map of derived results
      "core/SessionCache.scala:counters", // its hit/miss/fill counters
      "ops/Lexical.scala:termDf", // the LRU value of one SessionCache entry
      "engine/Stores.scala:entries", // KeyedStore generation index
      "engine/Stores.scala:frames", // KeyedStore prepared frames
      "sources/DerivedLayout.scala:memo", // mirror generation memo
      "engine/Forecaster.scala:training", // single-flight train latches
      "SparkEntry.scala:sliceEngines", // one Engine per store dir
      "streaming/EventIngest.scala:streamSessions") // live streaming sessions
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val construction = """new\s+(?:java\.util\.(?:concurrent\.)?)?(?:ConcurrentHashMap|LinkedHashMap)\b""".r
    val owner = """(?:val|var|def)\s+(\w+)""".r
    val found = scala.util.Using.resource(java.nio.file.Files.walk(root)) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      construction.findAllMatchIn(src).map { m =>
        val name = owner.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption.map(_.group(1))
        s"${root.relativize(p)}:${name.getOrElse("?")}"
      }
    }
    val outside = found.filterNot(allowed)
    assert(outside.isEmpty, s"maps outside SessionCache: ${outside.mkString(", ")}")
    assert(found.toSet == allowed, s"the allowed list names maps that are gone: ${allowed -- found}")
  }
}
