package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Methods
import graft.engine.{Engine, Families, Forecaster, KeyedStore, Names}
import graft.sources.SeriesStore

/** The generic wrapper skeleton (R:104-124): 3-branch cache logic, warm
  * cache on train, horizon>14 persist rule, name sanitization.
  */
class EngineSpec extends AnyFunSuite with TempDirs {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** Runs `body` and counts the Spark jobs it starts and its read
    * actions: the SQL executions among them that ran a job. Listener
    * events arrive asynchronously but in order, so a marker job on each
    * side of `body` fences the count. */
  private def sparkWork[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID()
    val (begin, end) = (s"fence-begin-$id", s"fence-end-$id")
    val jobs = new AtomicInteger
    val actions = ConcurrentHashMap.newKeySet[String]()
    val fenced = new CountDownLatch(1)
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        props.map(_.getProperty("spark.job.description")).orNull match {
          case `begin` => counting = true
          case `end` => counting = false; fenced.countDown()
          case _ => if (counting) {
            jobs.incrementAndGet()
            props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).foreach(actions.add)
          }
        }
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
      (out, jobs.get, actions.size)
    } finally sc.removeSparkListener(listener)
  }

  /** A forecast row as (step, lower1, lower2, mean, upper1, upper2). */
  private def bands(r: Row): (Int, Double, Double, Double, Double, Double) =
    (r.getAs[Int]("step"), r.getAs[Double]("lower1"), r.getAs[Double]("lower2"),
      r.getAs[Double]("mean"), r.getAs[Double]("upper1"), r.getAs[Double]("upper2"))

  test("sanitize strips non-alphanumerics exactly like gsub('[^[:alnum:] ]','') (R:43)") {
    assert(Names.sanitize("a.b-c_d e!") == "abcd e")
    assert(Names.sanitize(Names.sanitize("x@y")) == Names.sanitize("x@y"), "idempotent")
  }

  test("wrapper: miss → train+warm cache; hit → slice; stale → re-forecast from params") {
    val base = tempDir("graft-engine")
    val eng = new Engine(spark, base)
    val name = "purchase"
    val idx = eng.indexName(sfDir)

    // (c) miss: trains, warms a 14-step cache
    assert(!eng.models.exists(name, idx, Methods.THETA))
    val first = eng.forecast(name, sfDir, Methods.THETA, 7, 10).collect()
    assert(first.length == 10)
    assert(eng.models.exists(name, idx, Methods.THETA))
    assert(eng.cache.isValid(name, idx, Methods.THETA, 14), "train warms cacheLength steps (R:92-93)")

    // (a) hit with valid cache: pure slice, identical prefix values
    val sliced = eng.forecast(name, sfDir, Methods.THETA, 7, 5).collect()
    assert(sliced.length == 5)
    val firstByStep = first.map(r => r.getAs[Int]("step") -> r.getAs[Double]("mean")).toMap
    sliced.foreach(r =>
      assert(r.getAs[Double]("mean") == firstByStep(r.getAs[Int]("step")),
        "cache-hit slice must equal the fresh forecast prefix (R:110 vs R:113)"))

    // (b) stale cache (horizon beyond cached length): re-forecast from the
    // SAVED params — no refit — and refresh the cache
    val long = eng.forecast(name, sfDir, Methods.THETA, 7, 20).collect()
    assert(long.length == 20)
    assert(eng.cache.isValid(name, idx, Methods.THETA, 20), "stale path refreshes the cache")
    long.filter(_.getAs[Int]("step") <= 10).foreach(r =>
      assert(r.getAs[Double]("mean") == firstByStep(r.getAs[Int]("step")),
        "re-forecast from persisted params must reproduce the prefix"))
  }

  test("branch (a) is a genuine store read, not a silent recompute") {
    // For SES a fresh h=7 forecast is row-identical to the h=14 cache
    // slice, so value equality alone cannot prove the slice path runs.
    // After training, a second Engine over the same store saves sentinel
    // values as the newest cache generation: if the next call re-derived
    // the forecast it would return SES numbers; the sentinels coming back
    // prove the rows were READ from the store (R:110), and since the
    // first engine never held them in memory, that its index never
    // serves a superseded generation. Counts, via a SparkListener:
    // warm-hit jobs (0) and read actions of the first hit after the
    // foreign save (at most 1). The same holds for models: after the
    // peer saves different SES params, the first engine loads them and
    // its next branch-(b) re-forecast runs on them.
    import spark.implicits._
    val base = tempDir("graft-engine-sentinel")
    val eng = new Engine(spark, base)
    val peer = new Engine(spark, base)
    val name = "purchase"
    val idx = eng.indexName(sfDir)

    eng.forecast(name, sfDir, Methods.SES, 7, 14).collect()
    val (_, warmHitJobs, _) = sparkWork(eng.forecast(name, sfDir, Methods.SES, 7, 7).collect())
    assert(warmHitJobs == 0, "a warm hit runs no Spark job")

    val sentinels = (1 to 14).map(st =>
      graft.core.ForecastPoint(name, Methods.SES, st, -1, -2, 123.456, 2, 1)).toDF()
    peer.cache.save(name, idx, Methods.SES, sentinels)

    val (out, firstHitJobs, firstHitReadActions) =
      sparkWork(eng.forecast(name, sfDir, Methods.SES, 7, 7).collect())
    assert(firstHitReadActions <= 1,
      s"first hit after a foreign save: $firstHitReadActions read actions, $firstHitJobs jobs")
    assert(out.length == 7)
    out.foreach { r =>
      assert(r.getAs[Double]("mean") == 123.456,
        "cache hit must serve the stored rows verbatim — slice, no model math")
      assert(r.getAs[Int]("step") <= 7, "slice bound (R:110)")
    }
    val (again, warmAgainJobs, _) = sparkWork(eng.forecast(name, sfDir, Methods.SES, 7, 5).collect())
    assert(warmAgainJobs == 0 && again.length == 5 && again.forall(_.getAs[Double]("mean") == 123.456))
    // the entry read back from the store and the one the saver kept
    // report the same columns
    assert(eng.cache.loadSliced(name, idx, Methods.SES, 3).schema ==
      peer.cache.loadSliced(name, idx, Methods.SES, 3).schema)

    val peerCore = Seq(555.5, 1.0, 0.3) // SES (level, sigma, alpha)
    peer.models.save(name, idx, Methods.SES, graft.models.ModelParams(Map("core" -> peerCore.toArray), Map.empty))
    assert(eng.models.load(name, idx, Methods.SES).d("core").toSeq == peerCore,
      "a model saved by another engine is the one loaded next")
    val reforecast = eng.forecast(name, sfDir, Methods.SES, 7, 21).collect()
    assert(reforecast.length == 21 && reforecast.forall(_.getAs[Double]("mean") == 555.5),
      "branch (b) re-forecasts from the newest model generation")
  }

  test("a hit takes validity and slice from one generation and reuses its planned frame") {
    // Each cache generation keeps one planned frame per distinct slice:
    // a repeated hit returns that same frame, horizons that select the
    // same rows share it, and a newer generation (here published by a
    // peer engine) answers alone, so a horizon it does not cover never
    // gets the rows of the generation before it.
    import spark.implicits._
    val base = tempDir("graft-engine-prepared")
    val eng = new Engine(spark, base)
    val peer = new Engine(spark, base)
    val name = "purchase"
    val idx = eng.indexName(sfDir)
    def publish(steps: Seq[Int], mean: Double): Unit = peer.cache.save(name, idx, Methods.SES,
      steps.map(st => graft.core.ForecastPoint(name, Methods.SES, st, -1, -2, mean, 2, 1)).toDF())
    def steps(df: DataFrame): Seq[Int] = df.collect().map(_.getAs[Int]("step")).toSeq.sorted
    def means(df: DataFrame): Set[Double] = df.collect().map(_.getAs[Double]("mean")).toSet
    def hit(h: Int): Option[DataFrame] = eng.cache.validSlice(name, idx, Methods.SES, h)

    eng.forecast(name, sfDir, Methods.SES, 7, 14).collect()
    val seven = eng.forecast(name, sfDir, Methods.SES, 7, 7)
    assert(steps(seven) == (1 to 7))
    assert(eng.forecast(name, sfDir, Methods.SES, 7, 7) eq seven, "a repeated hit returns the planned frame")
    assert(hit(7).exists(_ eq seven) && (eng.cache.loadSliced(name, idx, Methods.SES, 7) eq seven))
    assert(hit(15).isEmpty && !eng.cache.isValid(name, idx, Methods.SES, 15))

    publish(Seq(1, 2, 3, 10), 111.0)
    val three = hit(4).get
    assert(steps(three) == Seq(1, 2, 3) && means(three) == Set(111.0))
    assert(hit(9).exists(_ eq three), "horizons selecting the same rows share one frame")
    assert(eng.forecast(name, sfDir, Methods.SES, 7, 9) eq three)
    assert(steps(hit(10).get) == Seq(1, 2, 3, 10) && hit(11).isEmpty)

    publish(1 to 5, 222.0)
    assert(hit(9).isEmpty && !eng.cache.isValid(name, idx, Methods.SES, 9))
    val five = hit(5).get
    assert(steps(five) == (1 to 5) && means(five) == Set(222.0))
    assert(steps(hit(3).get) == (1 to 3) && means(hit(3).get) == Set(222.0), "no frame of an older generation")
    // h=9 is beyond the newest generation: branch (b) re-forecasts from params
    val refreshed = eng.forecast(name, sfDir, Methods.SES, 7, 9)
    assert(steps(refreshed) == (1 to 9) && !means(refreshed).contains(222.0))
  }

  test("forecastStore sorts its output without a range exchange") {
    // a global orderBy plans a range-partitioning exchange whose sampling
    // job runs every upstream fit a second time; the output must still
    // come back ordered by (element, step)
    object Plans extends AdaptiveSparkPlanHelper
    Seq(Methods.SES, Methods.ETS).foreach { m =>
      val out = Forecaster.forecastStore(spark, sfDir, m, 7, 5)
      val exchanges = Plans.collect(out.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty && !exchanges.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
        s"$m: ${out.queryExecution.executedPlan}")
      val rows = out.collect().toSeq
      assert(rows.nonEmpty)
      assert(rows == out.orderBy("element", "step").collect().toSeq, s"$m: rows not in (element, step) order")
    }
  }

  /** A forecast row with its doubles as raw bits, for bit-exact equality. */
  private def exact(r: Row): (String, String, Int, Seq[Long]) =
    (r.getAs[String]("element"), r.getAs[String]("method"), r.getAs[Int]("step"),
      Seq("lower1", "lower2", "mean", "upper1", "upper2")
        .map(c => java.lang.Double.doubleToRawLongBits(r.getAs[Double](c))))

  test("forecastStore equals Engine.forecast bit for bit for every method and element") {
    // one fit path: a batch over the store returns what one request per
    // element returns (branch (c), h = 14), bit for bit
    val eng = new Engine(spark, tempDir("graft-engine-batch"))
    val elements = SeriesStore.series(spark, sfDir).collect().map(_.element).toSeq.sorted
    assert(elements.size >= 2)
    val differing = Families.all.keys.toSeq.sorted.flatMap { m =>
      val batch = Forecaster.forecastStore(spark, sfDir, m, 7, 14).collect().map(exact).toSeq
      val single = elements.flatMap(e => eng.forecast(e, sfDir, m, 7, 14).collect().map(exact).sortBy(_._3))
      if (batch == single) None
      else Some(s"$m (${batch.size} vs ${single.size} rows, first difference " +
        s"${batch.zipAll(single, null, null).find(p => p._1 != p._2)})")
    }
    assert(differing.isEmpty, s"batch and serving rows differ for: ${differing.mkString("; ")}")
  }

  test("forecastStore never drops a short series: every family forecasts a 6-point series") {
    import spark.implicits._
    val corpus = tempDir("graft-short-corpus")
    val epoch0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val rows = (0 until 60).map(i => ("long", i, 20.0 + 3 * math.sin(i / 3.0) + i % 7)) ++
      (0 until 6).map(i => ("short", i, 5.0 + i % 3))
    rows.zipWithIndex.map { case ((element, day, v), id) =>
      (id.toLong, java.sql.Timestamp.from(epoch0.plusSeconds(day * 86400L)), v, element)
    }.toDF("event_id", "ts", "value", "event_type")
      .selectExpr("event_id", "ts", "CAST(NULL AS BIGINT) AS user_id", "event_type", "value", "'{}' AS props")
      .write.parquet(s"$corpus/events.parquet")
    val short = Families.all.keys.toSeq.sorted.flatMap { m =>
      val counts = Forecaster.forecastStore(spark, corpus, m, 7, 14).collect()
        .groupBy(_.getAs[String]("element")).map { case (e, rs) => e -> rs.length }
      if (counts == Map("long" -> 14, "short" -> 14)) None else Some(s"$m: $counts")
    }
    assert(short.isEmpty, s"rows per element: ${short.mkString("; ")}")
  }

  test("a first request beyond the cache length publishes one cache generation") {
    val base = tempDir("graft-engine-one-publish")
    val eng = new Engine(spark, base)
    val name = "purchase"
    val idx = eng.indexName(sfDir)
    assert(eng.forecast(name, sfDir, Methods.SES, 7, 21).collect().length == 21)
    val entries = new java.io.File(s"$base/forecastsCache/${Names.key(name, idx, Methods.SES)}").list().toSeq
    assert(entries.count(_.startsWith("g-")) == 1, s"cache generations: ${entries.mkString(",")}")
    assert(new Engine(spark, base).cache.isValid(name, idx, Methods.SES, 21))
  }

  test("concurrent hits during repeated re-saves each see one complete generation") {
    // 4 threads serve branch-(a) hits on one key while a fifth re-saves
    // its cache 24 times, alternating two 14-row sentinel sets. The saves
    // alternate between the readers' own engine (its index learns each
    // generation at save time) and a peer over the same store (the
    // readers must read each generation from disk). Every answer must be
    // exactly a prefix of one complete set, or of the trained rows, with
    // no exception.
    import spark.implicits._
    val base = tempDir("graft-engine-concurrent")
    val eng = new Engine(spark, base)
    val peer = new Engine(spark, base)
    val name = "purchase"
    val idx = eng.indexName(sfDir)
    val trained = eng.forecast(name, sfDir, Methods.SES, 7, 14).collect().map(bands).sortBy(_._1).toSeq
    def sentinel(mean: Double) = (1 to 14).map(st =>
      graft.core.ForecastPoint(name, Methods.SES, st, -1, -2, mean, 2, 1))
    val sets = Seq(sentinel(111.0), sentinel(222.0))
    val allowed = trained +: sets.map(_.map(p => (p.step, p.lower1, p.lower2, p.mean, p.upper1, p.upper2)))
    val problems = new ConcurrentLinkedQueue[String]()
    val answers = new AtomicInteger
    val done = new AtomicBoolean(false)
    val readers = (0 until 4).map { t =>
      new Thread(() => {
        var i = 0
        while (!done.get) {
          val h = 1 + (t + 3 * i) % 14
          try {
            val got = eng.forecast(name, sfDir, Methods.SES, 7, h).collect().map(bands).sortBy(_._1).toSeq
            if (!allowed.exists(_.take(h) == got)) problems.add(s"h=$h: ${got.mkString(",")}")
            answers.incrementAndGet()
          } catch { case e: Throwable => problems.add(s"h=$h: $e") }
          i += 1
        }
      })
    }
    val writer = new Thread(() =>
      try (0 until 24).foreach { i =>
        Seq(eng, peer)(i % 2).cache.save(name, idx, Methods.SES, sets(i % 2).toDF())
      } catch { case e: Throwable => problems.add(s"save: $e") }
      finally done.set(true))
    readers.foreach(_.start())
    writer.start()
    (writer +: readers).foreach(_.join(300000))
    assert(done.get && readers.forall(!_.isAlive), "threads did not finish")
    assert(problems.isEmpty, s"${problems.size} bad answers: ${problems.asScala.take(3).mkString("; ")}")
    assert(answers.get >= 4)
  }

  test("concurrent first requests on one key each return the single-threaded answer") {
    // For each of 5 fresh keys, 4 threads split across two engines over
    // one store send the first request (branch (c), SES, h=7) at once.
    // Within one engine only the first caller trains; the other waits for
    // it and then reads what it published. Every answer must equal a
    // single-threaded reference run with no exception, each engine must
    // fit the key at most once (a SparkListener counts the requesting
    // threads that ran a job whose call site is the engine's fit), and
    // afterwards a third engine must load the reference's params and
    // match its observation stamp from the shared store, with no
    // unpublished directory left behind.
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val base = tempDir("graft-engine-first")
    val engines = Seq(new Engine(spark, base), new Engine(spark, base))
    val ref = new Engine(spark, tempDir("graft-engine-first-ref"))
    val idx = ref.indexName(sfDir)
    val names = Seq("click", "purchase", "error", "signup", "view")
    val engineProp = "graft.test.engine"
    // "<key>/<engine>" -> the requesting threads that ran a fit job
    val fits = new ConcurrentHashMap[String, java.util.Set[String]]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.stageInfos.exists(_.details.contains("Engine.fitOne")))
          Option(j.properties).flatMap(p => Option(p.getProperty(engineProp))).foreach { prop =>
            val (engine, thread) = prop.splitAt(prop.lastIndexOf('/'))
            fits.computeIfAbsent(engine, _ => ConcurrentHashMap.newKeySet[String]()).add(thread)
          }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      names.foreach { name =>
        val expected = ref.forecast(name, sfDir, Methods.SES, 7, 7).collect().map(bands).sortBy(_._1).toSeq
        val problems = new ConcurrentLinkedQueue[String]()
        val start = new CountDownLatch(1)
        val threads = (0 until 4).map { t =>
          new Thread(() => {
            spark.sparkContext.setLocalProperty(engineProp, s"$name/${t % 2}/$t")
            start.await()
            try {
              val got = engines(t % 2).forecast(name, sfDir, Methods.SES, 7, 7).collect().map(bands).sortBy(_._1).toSeq
              if (got != expected) problems.add(s"thread $t: ${got.mkString(",")}")
            } catch { case e: Throwable => problems.add(s"thread $t: $e") }
          })
        }
        threads.foreach(_.start())
        start.countDown()
        threads.foreach(_.join(300000))
        assert(threads.forall(!_.isAlive), s"$name: threads did not finish")
        assert(problems.isEmpty, s"$name: ${problems.size} bad answers: ${problems.asScala.take(3).mkString("; ")}")

        val stamp = graft.sources.SeriesStore.observations(spark, sfDir, Seq(name))
          .agg(count(lit(1)), max(col("ts"))).head()
        val reader = new Engine(spark, base)
        assert(reader.models.load(name, idx, Methods.SES).d("core").toSeq ==
          ref.models.load(name, idx, Methods.SES).d("core").toSeq, s"$name: stored params")
        assert(ref.stamps.matches(name, idx, Methods.SES, stamp.getLong(0), stamp.getLong(1)))
        assert(reader.stamps.matches(name, idx, Methods.SES, stamp.getLong(0), stamp.getLong(1)),
          s"$name: stored observation stamp")
        Seq("forecastModels", "observationStamps", "forecastsCache").foreach { root =>
          val entries = new java.io.File(s"$base/$root/${Names.key(name, idx, Methods.SES)}").list().toSeq
          assert(entries.exists(_.startsWith("g-")) && entries.forall(_.startsWith("g-")),
            s"$name: $root holds only published generations: ${entries.mkString(",")}")
        }
      }
      // listener events arrive asynchronously; a marker job fences them
      sparkWork(())
    } finally spark.sparkContext.removeSparkListener(listener)
    val perEngine = for (name <- names; e <- 0 to 1)
      yield s"$name/$e" -> Option(fits.get(s"$name/$e")).fold(0)(_.size)
    assert(names.forall(n => perEngine.exists { case (k, c) => k.startsWith(s"$n/") && c > 0 }),
      s"every key is fitted by some engine: $perEngine")
    assert(perEngine.forall(_._2 <= 1), s"fits per key and engine: $perEngine")
  }

  test("wrapper train → params → cache round-trips every registered method") {
    val base = tempDir("graft-engine-all")
    val eng = new Engine(spark, base)
    val idx = eng.indexName(sfDir)
    // HYBRID excluded: full CV per method × tiny CI budget; covered by
    // ModelFamiliesSpec + the fc_hybrid driver query
    Methods.all.filterNot(_ == Methods.HYBRID).foreach { m =>
      val out = eng.forecast("click", sfDir, m, 7, 6).collect()
      assert(out.length == 6, s"$m horizon rows")
      assert(eng.models.exists("click", idx, m), s"$m model persisted")
      // second call is a cache slice of the warm cache — same prefix
      val again = eng.forecast("click", sfDir, m, 7, 3).collect()
      assert(again.length == 3, s"$m cache slice")
    }
  }

  test("ingest→cache invalidation: a streamed append flips forecast() to branch (c); parity mode serves stale") {
    // round-14 extension (round-13 verdict ask #3). Two engines over the
    // same mutable store: the parity engine (flag off, R:64-82) must keep
    // serving the pre-append cache; the invalidation engine must detect
    // the changed observation window and retrain. Branch detection uses
    // the sentinel trick: overwrite the cache after training — a served
    // sentinel proves branch (a), a non-sentinel answer after the append
    // proves the cache (and model) were invalidated.
    import spark.implicits._
    val store = tempDir("graft-ingest-store")
    val stage = tempDir("graft-ingest-stage")
    val ckpt = tempDir("graft-ingest-ckpt")
    val name = "metric"
    val epoch0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def eventRows(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map { i =>
        (i.toLong, epoch0.plusSeconds(i.toLong * 3600), // strictly increasing
          null.asInstanceOf[java.lang.Long], name, 10.0 + (i % 5).toDouble, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // the store is STREAM-maintained from the start (the file sink's
    // _spark_metadata log owns the directory's file listing — mixing a
    // batch-written seed with streamed appends would shadow the seed),
    // so both the seed batch and the later append ride the same
    // checkpointed AvailableNow writer — the live observation-store
    // shape of EventIngest.start
    def streamAppend(batch: org.apache.spark.sql.DataFrame, batchDir: String): Unit = {
      batch.write.mode("overwrite").parquet(batchDir)
      val q = spark.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
        .parquet(stage + "/*")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", s"$store/events.parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    streamAppend(eventRows(0 until 40), s"$stage/b0")

    val parity = new Engine(spark, tempDir("graft-ing-par"))
    val invalidating = new Engine(spark, tempDir("graft-ing-inv"))
    invalidating.invalidateOnIngest = true
    val idx = parity.indexName(store)

    Seq(parity, invalidating).foreach { eng =>
      eng.forecast(name, store, Methods.SES, 7, 7).collect()
      val sentinels = (1 to 14).map(st =>
        graft.core.ForecastPoint(name, Methods.SES, st, -1, -2, 987.654, 2, 1)).toDF()
      eng.cache.save(name, idx, Methods.SES, sentinels)
      // pre-append: BOTH engines serve the cache (stamp matches)
      val hit = eng.forecast(name, store, Methods.SES, 7, 5).collect()
      assert(hit.forall(_.getAs[Double]("mean") == 987.654),
        "pre-append call must be a cache hit in both modes")
    }

    // the streamed append: new raw events land in the observation store
    // through the same checkpointed writer
    streamAppend(eventRows(40 until 55), s"$stage/b1")

    // parity engine: reference-faithful STALE serve (R:64-82 — horizon-
    // only validity; new data changes nothing until manual deletion)
    val stale = parity.forecast(name, store, Methods.SES, 7, 5).collect()
    assert(stale.forall(_.getAs[Double]("mean") == 987.654),
      "parity mode must serve the stale cache after ingest")

    // invalidation engine: stamp mismatch ⇒ branch (c) — sentinels gone,
    // a REAL SES forecast over the 55-point series comes back, and the
    // new stamp covers the appended window
    val fresh = invalidating.forecast(name, store, Methods.SES, 7, 5).collect()
    assert(fresh.length == 5)
    assert(fresh.forall(_.getAs[Double]("mean") != 987.654),
      "invalidation mode must retrain after a streamed append")
    // max ts of the FULL 55-row window, in the engine's epoch-nanos
    // contract: id 54 at epoch0 + 54 h
    val maxNanos = (epoch0.getEpochSecond + 54L * 3600L) * 1000000000L
    assert(invalidating.stamps.matches(name, idx, Methods.SES, 55L, maxNanos),
      "retrain records the post-append observation stamp")
  }

  /** The three store roots of `eng`'s base directory, with their stores. */
  private def stores(eng: Engine): Seq[(String, KeyedStore)] =
    Seq("forecastModels" -> eng.models, "observationStamps" -> eng.stamps, "forecastsCache" -> eng.cache)

  private def sentinelPoints(name: String, mean: Double, steps: Int = 14): DataFrame = {
    import spark.implicits._
    (1 to steps).map(st => graft.core.ForecastPoint(name, Methods.SES, st, -1, -2, mean, 2, 1)).toDF()
  }

  test("store publishes and a branch-(b) re-forecast run no Spark job") {
    val eng = new Engine(spark, tempDir("graft-engine-jobfree"))
    val name = "purchase"
    val idx = eng.indexName(sfDir)
    eng.forecast(name, sfDir, Methods.SES, 7, 14).collect()
    val params = graft.models.ModelParams(Map("core" -> Array(42.0, 1.0, 0.3)), Map.empty)
    val points = sentinelPoints(name, 7.5)
    val (_, modelJobs, _) = sparkWork(eng.models.save(name, idx, Methods.SES, params))
    val (_, stampJobs, _) = sparkWork(eng.stamps.save(name, idx, Methods.SES, 3L, 4L))
    val (_, cacheJobs, _) = sparkWork(eng.cache.save(name, idx, Methods.SES, points))
    assert((modelJobs, stampJobs, cacheJobs) == ((0, 0, 0)), "models / stamps / cache save jobs")
    val (out, reforecastJobs, _) = sparkWork(eng.forecast(name, sfDir, Methods.SES, 7, 21).collect())
    assert(reforecastJobs == 0, "a branch-(b) re-forecast runs no Spark job")
    assert(out.length == 21 && out.forall(_.getAs[Double]("mean") == 42.0), "re-forecast from the saved params")
  }

  test("a published generation reads back through spark.read.parquet as the index holds it") {
    val base = tempDir("graft-engine-readback")
    val eng = new Engine(spark, base)
    val name = "purchase"
    val idx = eng.indexName(sfDir)
    eng.models.save(name, idx, Methods.SES,
      graft.models.ModelParams(Map("core" -> Array(1.5, 2.5), "x" -> Array.empty[Double]), Map("k" -> "v")))
    eng.stamps.save(name, idx, Methods.SES, 40L, 1234567890123L)
    eng.cache.save(name, idx, Methods.SES, sentinelPoints(name, 3.25))
    stores(eng).foreach { case (root, store) =>
      val entry = store.current(name, idx, Methods.SES).get
      val gen = new java.io.File(s"$base/$root/${Names.key(name, idx, Methods.SES)}", entry.gen.name)
      assert(!gen.list().contains("_SUCCESS"), s"$root: no write-job marker")
      val read = spark.read.parquet(gen.getPath)
      assert(read.schema == entry.schema, s"$root: schema")
      assert(read.collect().toSeq == entry.rows.toSeq, s"$root: rows")
      // a peer's index, filled by that read, agrees with the writer's
      val peer = stores(new Engine(spark, base)).toMap.apply(root).current(name, idx, Methods.SES).get
      assert(peer.schema == entry.schema && peer.rows.toSeq == entry.rows.toSeq, s"$root: peer entry")
    }
  }

  test("a generation written by a Spark write job still loads, and has the footer a publish writes") {
    // stores laid down before publishes ran on the driver hold
    // `df.write.parquet` generations, with a _SUCCESS marker
    import spark.implicits._
    val base = tempDir("graft-engine-legacy")
    val name = "purchase"
    val idx = new Engine(spark, base).indexName(sfDir)
    def keyDir(root: String) = s"$base/$root/${Names.key(name, idx, Methods.SES)}"
    def legacy(root: String, df: DataFrame): Unit = {
      val gen = s"${keyDir(root)}/g-1-legacy"
      df.write.parquet(gen)
      assert(new java.io.File(gen, "_SUCCESS").isFile)
    }
    /** The Parquet schema and key-value metadata of a generation's file. */
    def footer(gen: String) = {
      val file = new java.io.File(gen).listFiles().filter(_.getName.endsWith(".parquet")).head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(file.getPath), spark.sparkContext.hadoopConfiguration))
      try {
        val meta = reader.getFooter.getFileMetaData
        (meta.getSchema, meta.getKeyValueMetaData.asScala.toMap)
      } finally reader.close()
    }
    legacy("forecastModels",
      Seq((Map("core" -> Seq(606.0, 1.0, 0.3)), Map.empty[String, String])).toDF("dparams", "sparams"))
    legacy("observationStamps", Seq((40L, 1234L)).toDF("n_obs", "max_ts"))
    legacy("forecastsCache", sentinelPoints(name, 808.0))
    val eng = new Engine(spark, base)
    assert(eng.models.load(name, idx, Methods.SES).d("core").toSeq == Seq(606.0, 1.0, 0.3))
    assert(eng.stamps.matches(name, idx, Methods.SES, 40L, 1234L))
    val hit = eng.forecast(name, sfDir, Methods.SES, 7, 5).collect()
    assert(hit.length == 5 && hit.forall(_.getAs[Double]("mean") == 808.0), "branch (a) on the legacy cache")
    // branch (b) publishes the next generation beside the legacy one
    val reforecast = eng.forecast(name, sfDir, Methods.SES, 7, 20).collect()
    assert(reforecast.length == 20 && reforecast.forall(_.getAs[Double]("mean") == 606.0))
    val again = new Engine(spark, base).cache.loadSliced(name, idx, Methods.SES, 20).collect()
    assert(again.length == 20 && again.forall(_.getAs[Double]("mean") == 606.0))
    // a driver-side publish of the same content writes the same footer
    eng.models.save(name, idx, Methods.SES, graft.models.ModelParams(Map("core" -> Array(606.0, 1.0, 0.3)), Map.empty))
    eng.stamps.save(name, idx, Methods.SES, 40L, 1234L)
    stores(eng).foreach { case (root, store) =>
      val published = s"${keyDir(root)}/${store.current(name, idx, Methods.SES).get.gen.name}"
      assert(footer(published) == footer(s"${keyDir(root)}/g-1-legacy"), s"$root: footer")
    }
  }

  test("a publish deletes abandoned _tmp-/_old- entries older than the fixed age, and only those") {
    val base = tempDir("graft-engine-reclaim")
    val eng = new Engine(spark, base)
    val name = "purchase"
    val idx = eng.indexName(sfDir)
    eng.stamps.save(name, idx, Methods.SES, 1L, 1L)
    val dir = new org.apache.hadoop.fs.Path(s"$base/observationStamps/${Names.key(name, idx, Methods.SES)}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plant(entry: String, ageMs: Long): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(dir, entry)
      fs.create(new org.apache.hadoop.fs.Path(p, "part-00000.parquet")).close()
      if (ageMs > 0) fs.setTimes(p, System.currentTimeMillis() - ageMs, -1)
      p
    }
    val oldTmp = plant("_tmp-crashed", 2 * graft.core.Generations.AbandonedAfterMs)
    val oldRetired = plant("_old-crashed", 2 * graft.core.Generations.AbandonedAfterMs)
    val freshTmp = plant("_tmp-in-flight", 0)
    eng.stamps.save(name, idx, Methods.SES, 2L, 2L)
    assert(!fs.exists(oldTmp) && !fs.exists(oldRetired), "abandoned entries are deleted")
    assert(fs.exists(freshTmp), "an entry younger than the fixed age stays")
    assert(eng.stamps.matches(name, idx, Methods.SES, 2L, 2L))
  }

  test("a train records the stamp of the rows it fitted, with and without the element mirror") {
    // a corpus of its own, so the mirror is absent until laid out here:
    // two elements, a null measurement and a tie on ts, on which the
    // window's event_id order decides
    import spark.implicits._
    val corpus = tempDir("graft-stamp-corpus")
    val epoch0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val name = "metric"
    val rows = (0 until 60).map { i =>
      (i.toLong, java.sql.Timestamp.from(epoch0.plusSeconds(i.toLong / 2 * 86400L)),
        if (i == 17) null else java.lang.Double.valueOf(20.0 + 3 * math.sin(i / 3.0) + i % 7),
        if (i % 10 == 9) "other" else name)
    }
    rows.toDF("event_id", "ts", "value", "event_type")
      .selectExpr("event_id", "ts", "CAST(NULL AS BIGINT) AS user_id", "event_type", "value", "'{}' AS props")
      .write.parquet(s"$corpus/events.parquet")
    val expected = SeriesStore.observations(spark, corpus, Seq(name))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.max("ts")).head()
    val (n, t) = (expected.getLong(0), expected.getLong(1))
    assert(n == 53L, "the null measurement and the other element are not observations")
    try Seq(false, true).foreach { mirrored =>
      if (mirrored) SeriesStore.ensurePartitioned(spark, corpus)
      // the positional read and PROPHET's dated read: only the mirror's
      // scan has partition filters (its element column)
      Seq(SeriesStore.series(spark, corpus, Seq(name)).queryExecution,
        SeriesStore.datedSeries(spark, corpus, Seq(name)).queryExecution).foreach { qe =>
        val plan = qe.executedPlan.toString
        assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).nonEmpty == mirrored, s"mirror read: $plan")
      }
      val eng = new Engine(spark, tempDir("graft-stamp-store"))
      val idx = eng.indexName(corpus)
      Seq(Methods.SES, Methods.HYBRID, Methods.PROPHET).foreach { m =>
        assert(eng.forecast(name, corpus, m, 7, 7).collect().length == 7)
        assert(eng.stamps.matches(name, idx, m, n, t), s"$m (mirror: $mirrored): recorded stamp")
      }
    } finally {
      val mirror = new java.io.File(SeriesStore.mirrorDir(corpus))
      if (mirror.exists()) java.nio.file.Files.walk(mirror.getParentFile.toPath)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }

  test("availableMethods mirrors the reference registry byte-for-byte (R:6-7)") {
    val eng = new Engine(spark, tempDir("graft-engine2"))
    assert(eng.availableMethods == Seq("ARIMA", "ARIMA_FORCE_SEASONALITY", "THETA", "ETS",
      "ETSDAMPED", "BAGGEDETS", "STL", "NN", "HYBRID", "PROPHET"))
  }

  test("ping probes the store (R:16-21 semantics)") {
    val eng = new Engine(spark, tempDir("graft-engine3"))
    assert(eng.ping(sfDir))
    assert(!eng.ping("/nonexistent/store"))
  }
}
