package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Engine, Families}
import graft.sources.SeriesStore

/** Serial, layer-attributed measurement of the serving path. For each
  * branch it times one real `Engine.forecast` request and then replays,
  * on a twin key in the same state, the public calls that request makes
  * in the same order — `engine.models` / `cache` / `stamps`,
  * `SeriesStore.series` and the family's `fit` and `forecast` — with a
  * span around each call. Replay and real totals are reported side by
  * side so the replay's fidelity is visible. The replayed fit runs on the
  * calling thread; the engine runs it inside a one-row Spark job. */
final class Probe(spark: SparkSession, corpusDir: String, storeDir: String,
    elements: Seq[String], work: SparkWork, spans: Spans) {
  import spark.implicits._

  private val engine = new Engine(spark, storeDir)
  private val index = engine.indexName(corpusDir)
  private val method = graft.core.Methods.SES
  private val freq = Serve.Freq
  private val fs = collection.mutable.Map[String, Seq[Map[String, Long]]]().withDefaultValue(Nil)

  private def real(branch: String, el: String, h: Int, i: Int): Unit = {
    val before = Probes.fsCounters()
    spans(s"real.$branch", s"probe.$branch.$i") {
      SparkWork.tagged(spark, s"probe.$branch.$i")(
        engine.forecast(el, corpusDir, method, freq, h).collect())
    }
    fs(branch) = fs(branch) :+ Probes.fsDelta(before, Probes.fsCounters())
  }

  private def call[T](name: String, op: String)(body: => T): T =
    spans(name, op)(SparkWork.tagged(spark, op)(body))

  private def points(el: String, model: graft.models.SeriesModel, h: Int): DataFrame =
    model.forecast(h).toPoints(el, method).toDF()

  private def replayHit(el: String, h: Int, i: Int): Unit = spans("replay.hit", s"replay.hit.$i") {
    call("stores.exists", "replay.exists")(engine.models.exists(el, index, method))
    call("stores.isvalid", "replay.isvalid")(engine.cache.isValid(el, index, method, h))
    call("stores.slice_read", "replay.slice_read")(engine.cache.loadSliced(el, index, method, h).collect())
  }

  private def replayReforecast(el: String, h: Int, i: Int): Unit = spans("replay.reforecast", s"replay.reforecast.$i") {
    call("stores.exists", "replay.exists")(engine.models.exists(el, index, method))
    call("stores.isvalid", "replay.isvalid")(engine.cache.isValid(el, index, method, h))
    val params = call("stores.model_load", "replay.model_load")(engine.models.load(el, index, method))
    val pts = call("models.forecast", "replay.forecast")(points(el, Families.byMethod(method).fromParams(params), h))
    call("stores.cache_save", "replay.cache_save")(engine.cache.save(el, index, method, pts))
    call("engine.collect", "replay.collect")(pts.collect())
  }

  private def replayTrain(el: String, h: Int, i: Int): Unit = spans("replay.train", s"replay.train.$i") {
    call("stores.exists", "replay.exists")(engine.models.exists(el, index, method))
    val values = call("sources.series_read", "replay.series_read")(
      SeriesStore.series(spark, corpusDir, Seq(el)).collect().head.values)
    val model = call("models.fit.replay", "replay.fit")(Families.byMethod(method).fit(values, freq))
    call("stores.model_save", "replay.model_save")(engine.models.save(el, index, method, model.params))
    val stamp = call("sources.stamp_read", "replay.stamp_read")(
      SeriesStore.observations(spark, corpusDir, Seq(el))
        .agg(count(lit(1)), max(col("ts"))).head())
    call("stores.stamp_save", "replay.stamp_save")(
      engine.stamps.save(el, index, method, stamp.getLong(0), stamp.getLong(1)))
    call("stores.cache_save", "replay.cache_save")(
      engine.cache.save(el, index, method, points(el, model, Serve.CacheLength)))
    call("engine.collect", "replay.collect")(points(el, model, h).collect())
  }

  /** Run `pairs` real/replay pairs on distinct elements; returns the
    * per-layer metrics. */
  def run(pairs: Int): Map[String, Double] = {
    require(elements.size >= 2 * pairs, "probe needs two elements per pair")
    (0 until pairs).foreach { i =>
      val (a, b) = (elements(2 * i), elements(2 * i + 1))
      real("train", a, Serve.CacheLength, i); replayTrain(b, Serve.CacheLength, i)
      real("hit", a, 7, i); replayHit(b, 7, i)
      real("reforecast", a, 21, i); replayReforecast(b, 21, i)
    }
    org.apache.spark.perfbench.ListenerSync.drain(spark.sparkContext)
    val w = work.snapshot()
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    def spanMs(name: String): Double = med(spans.byName(name).map(_.ms))
    def realOps(branch: String) = (0 until pairs).map(i => s"probe.$branch.$i")
    def jobs(branch: String): Double = med(realOps(branch).map(o => w.get(o).map(_.jobs.toDouble).getOrElse(0.0)))
    def selfMs(branch: String): Double = med(spans.byName(s"real.$branch").map { s =>
      s.ms - w.get(s.req).map(_.jobMs).getOrElse(0.0)
    })
    def fsMed(branch: String, k: String): Double = med(fs(branch).map(_.getOrElse(k, 0L).toDouble))
    val keyDirs = Seq("forecastModels", "forecastsCache", "observationStamps")
      .map(s => s"$storeDir/$s/${graft.engine.Names.key(elements.head, index, method)}")
    val perKey = keyDirs.map(Probes.du)
    // returned forecast payload: five doubles and a step per row, 21 rows
    val returnedBytes = 21.0 * (5 * 8 + 4)
    val branches = Seq("hit", "reforecast", "train")
    // fit of every family on the calling thread, on the shortest probe series
    val values = SeriesStore.series(spark, corpusDir, Seq(elements.head)).collect().head.values
    val fits = Probe.Families.map { m =>
      m -> spans(s"models.fit.$m")(Families.byMethod(m).fit(values, freq).forecast(Serve.CacheLength)).length
    }
    require(fits.forall(_._2 == Serve.CacheLength))
    Map(
      "stores.exists_ms" -> spanMs("stores.exists"),
      "stores.isvalid_ms" -> spanMs("stores.isvalid"),
      "stores.slice_read_ms" -> spanMs("stores.slice_read"),
      "stores.model_load_ms" -> spanMs("stores.model_load"),
      "stores.cache_save_ms" -> spanMs("stores.cache_save"),
      "stores.model_save_ms" -> spanMs("stores.model_save"),
      "stores.stamp_save_ms" -> spanMs("stores.stamp_save"),
      "stores.fs_ops_per_hit" -> fsMed("hit", "ops"),
      "stores.write_amp" -> fsMed("reforecast", "bytes_written") / returnedBytes,
      "stores.files_per_key" -> perKey.map(_._2).sum.toDouble,
      "stores.bytes_per_key" -> perKey.map(_._1).sum.toDouble,
      "sources.series_read_ms" -> spanMs("sources.series_read"),
      "sources.series_read_jobs" -> w.get("replay.series_read").map(_.jobs.toDouble / pairs).getOrElse(0.0),
      "sources.bytes_read_per_train" -> fsMed("train", "bytes_read"),
    ) ++ Probe.Families.map(m => s"models.fit_ms.$m" -> spanMs(s"models.fit.$m")) ++ branches.flatMap { b =>
      Seq(s"stores.jobs_per_$b" -> jobs(b), s"engine.self_ms.$b" -> selfMs(b),
        s"engine.real_ms.$b" -> spanMs(s"real.$b"), s"engine.replay_ms.$b" -> spanMs(s"replay.$b"))
    }
  }
}

object Probe {
  /** The fit families of `fit_batch` and the closed-form serving methods. */
  val Families: Seq[String] =
    Workloads.FitFamilies ++ Seq(graft.core.Methods.NAIVE, graft.core.Methods.SES, graft.core.Methods.DRIFT)
}

/** Micro-batch durations of every streaming query, from a listener the
  * traced run installs through `spark.sql.streaming.streamingQueryListeners`
  * (so cloned sessions register it too). */
final class StreamBatches extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = StreamBatches.ms.add(e.progress.batchDuration)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

object StreamBatches {
  val ms = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
}

/** Query-layer probe on the workload's corpus: each registered query below
  * runs once to fill the session caches and once warm; the warm pass must
  * return the fill pass's row count. `fc_cached_slice` drives the serving
  * wrapper through the query surface, `user_activity` is a plain
  * aggregation over the events store and `stream_daily_agg` is a full
  * Structured Streaming lifecycle. */
final class OpsProbe(spark: SparkSession, corpusDir: String, work: SparkWork, spans: Spans) {
  val queries = Seq("fc_cached_slice", "user_activity", "stream_daily_agg")

  private def once(q: String, pass: String, tally: Tally): Option[(Double, Int)] = {
    var out: Option[(Double, Int)] = None
    val t0 = System.nanoTime()
    tally.attempt(s"ops.$pass.$q") {
      spans(s"ops.$pass", s"ops.$pass.$q")(SparkWork.tagged(spark, s"ops.$pass.$q")(
        graft.SparkEntry.queries(q)(spark, corpusDir).collect().length))
    } { rows => out = Some(((System.nanoTime() - t0) / 1e6, rows)); None }
    out
  }

  def run(tally: Tally): Map[String, Double] = {
    val batchesBefore = StreamBatches.ms.size
    val fill = queries.map(q => q -> once(q, "fill", tally)).toMap
    val warm = queries.map(q => q -> once(q, "warm", tally)).toMap
    queries.foreach { q =>
      for (f <- fill(q); w <- warm(q) if f._2 != w._2)
        tally.mismatch(s"$q: warm pass returned ${w._2} rows, fill pass ${f._2}")
    }
    org.apache.spark.perfbench.ListenerSync.drain(spark.sparkContext)
    val w = work.snapshot()
    def warmMs(q: String) = warm(q).map(_._1).getOrElse(Double.NaN)
    def fillMs(q: String) = fill(q).map(_._1).getOrElse(Double.NaN)
    import scala.jdk.CollectionConverters._
    val batches = StreamBatches.ms.asScala.toSeq.drop(batchesBefore).map(_.toDouble)
    Map(
      "ops.cache_fill_ms" -> queries.map(q => fillMs(q) - warmMs(q)).sum,
      "ops.jobs_per_query" -> Stats.median(queries.map(q =>
        w.get(s"ops.warm.$q").map(_.jobs.toDouble).getOrElse(0.0))),
      "streaming.lifecycle_ms" -> warmMs("stream_daily_agg"),
      "streaming.batch_ms_p50" -> (if (batches.isEmpty) Double.NaN else Stats.median(batches)),
    ) ++ queries.filterNot(_.startsWith("stream_")).map(q => s"ops.query_ms.$q" -> warmMs(q))
  }
}
