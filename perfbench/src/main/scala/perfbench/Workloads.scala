package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.core.{Forecasts, Methods}
import graft.engine.{Engine, Families, Forecaster}
import graft.sources.SeriesStore

/** One benchmark workload. `setup(rep)` builds everything the measured
  * loop needs into fresh directories, and the loop uses the last
  * repetition. `measure` runs operations until `seconds` have passed. */
trait Workload {
  /** Set-up repetitions; setup_s is their median. */
  def setups: Int = 5
  def setup(rep: Int): Unit
  /** Untimed operations before the measured loop; their answers are
    * checked and counted in `tally`. */
  def warm(tally: Tally): Unit
  def measure(seconds: Double, tally: Tally, trace: Option[Spans]): Measured
  /** Workload-specific figures for the detail line. */
  def detail(tally: Tally, activeS: Double): ListMap[String, Any]
  /** Workload-specific per-layer figures (traced run only). */
  def layers(work: SparkWork): ListMap[String, Any] = ListMap.empty
}

/** What a measured loop did: work items completed, the seconds spent on
  * them, and the latency of each successful operation. */
final case class Measured(items: Double, activeS: Double, opMs: Seq[Double])

object Workloads {
  /** The eleven fit families timed by `fit_batch`. */
  val FitFamilies: Seq[String] = Seq(Methods.ARIMA, Methods.ARIMA_FORCE_SEASONALITY, Methods.THETA,
    Methods.ETS, Methods.ETSDAMPED, Methods.BAGGEDETS, Methods.STL, Methods.NN, Methods.HYBRID,
    Methods.PROPHET, Methods.TBATS)

  def pct(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else Stats.percentile(xs, q)

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val paths = java.nio.file.Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally paths.close()
    }
  }

  /** Serving figures shared by both serving workloads. */
  def serving(tally: Tally, activeS: Double, branches: Seq[String]): ListMap[String, Any] =
    ListMap[String, Any]("req_per_s" -> tally.ms.size / activeS,
      "error_rate" -> tally.failed.get.toDouble / math.max(1, tally.attempted.get)) ++
      (branches :+ "contended").flatMap { b =>
        val xs = tally.ms(b)
        Seq(s"${b}_ms_p50" -> pct(xs, 0.5), s"${b}_ms_p90" -> pct(xs, 0.9), s"${b}_samples" -> xs.size)
      }
}

/** Shared corpus handling: generated once per seed, written per set-up. */
abstract class CorpusWorkload(spark: SparkSession, work: String, seed: Long, shape: Corpus.Shape)
    extends Workload {
  val data: Corpus.Data = Corpus.generate(seed, shape)
  protected var dir: String = ""

  protected def writeCorpus(rep: Int): Unit = {
    dir = s"$work/setup$rep/corpus"
    Corpus.write(spark, dir, seed, data)
    SeriesStore.ensurePartitioned(spark, dir)
  }
}

/** Cache-hit traffic: set-up trains every key at the 14-step cache length,
  * then closed-loop clients request Zipf-skewed keys with horizons 1..14,
  * so every request is a pure cache slice. */
final class ServeHit(spark: SparkSession, work: String, seed: Long, clients: Int)
    extends CorpusWorkload(spark, work, seed, Corpus.Shape(2, 400, 2000)) {
  val methods = Seq(Methods.NAIVE, Methods.SES)
  val keys: IndexedSeq[Key] = Serve.permuted(seed, for (e <- data.names; m <- methods) yield Key(e, m))
  val refs: Map[Key, Forecasts] = Serve.references(data, keys, Serve.CacheLength)
  private val zipf = new Zipf(keys.size, Serve.ZipfS)
  /** Each set-up trains every key, about 3 s on 4 cores, and already
    * varies little; three keep the run short. */
  override def setups: Int = 3
  private var storeDir = ""
  private var engine: Engine = _
  private val trained = mutable.Map[Key, Seq[Row]]()
  private var next = 0

  def setup(rep: Int): Unit = {
    writeCorpus(rep)
    storeDir = s"$work/setup$rep/store"
    engine = new Engine(spark, storeDir)
    val d = new Dispatcher(i => keys.lift(i).map(Req(i, _, Serve.CacheLength)), new BranchModel())
    val tally = new Tally
    Serve.runClients(clients, d) { t =>
      val k = t.req.key
      tally.attempt("train")(engine.forecast(k.element, dir, k.method, Serve.Freq, Serve.CacheLength)
        .collect().toSeq) { rows =>
        d.done(t, failed = false)
        trained.synchronized(trained(k) = rows.sortBy(_.getAs[Int]("step")))
        Checks.againstReference(rows, k.element, k.method, Serve.CacheLength, refs(k))
      }
    }
    require(tally.failed.get == 0, s"set-up training failed: ${tally.reasons.mkString("; ")}")
  }

  private def loop(deadline: Long, tally: Tally, trace: Option[Spans]): Unit = {
    val model = new BranchModel()
    keys.foreach(model.next(_, Serve.CacheLength))
    val d = new Dispatcher(_ =>
      if (System.nanoTime() > deadline) None
      else { next += 1; Some(Serve.request(keys, zipf, Serve.CacheLength)(next)) }, model)
    Serve.runClients(clients, d)(Serve.serveOne(spark, engine, dir, d, tally, refs, trained, trace))
  }

  /** Four seconds of hits let the JIT settle on the slice path before timing. */
  def warm(tally: Tally): Unit = loop(System.nanoTime() + 4000000000L, tally, None)

  def measure(seconds: Double, tally: Tally, trace: Option[Spans]): Measured = {
    val t0 = System.nanoTime()
    loop(t0 + (seconds * 1e9).toLong, tally, trace)
    Measured(tally.ms.size, (System.nanoTime() - t0) / 1e9, tally.ms)
  }

  def detail(tally: Tally, activeS: Double): ListMap[String, Any] =
    Workloads.serving(tally, activeS, Seq("hit")) ++ ListMap(
      "store_bytes_per_key" -> Probes.du(storeDir)._1.toDouble / keys.size,
      "keys" -> keys.size)
}

/** Reads beside writes: every round starts from an empty store and replays
  * one fixed seeded sequence of Zipf-skewed keys over a larger key space
  * with horizons 1..28, so first-touch trains, horizon-growth re-forecasts
  * and hits mix in the same proportions every round. The Zipf head sends
  * concurrent first requests to one key; whatever the engine does then is
  * recorded as it is. */
final class ServeChurn(spark: SparkSession, work: String, seed: Long, clients: Int)
    extends CorpusWorkload(spark, work, seed, Corpus.Shape(4, 200, 2000)) {
  val MaxH = 28
  val RoundLength = 56
  val methods = Seq(Methods.NAIVE, Methods.SES, Methods.THETA, Methods.DRIFT)
  val keys: IndexedSeq[Key] = Serve.permuted(seed, for (e <- data.names; m <- methods) yield Key(e, m))
  val refs: Map[Key, Forecasts] = Serve.references(data, keys, MaxH)
  val sequence: IndexedSeq[Req] =
    (0 until RoundLength).map(Serve.request(keys, new Zipf(keys.size, Serve.ZipfS), MaxH))
  /** The branch of every request of a round as the engine's rule predicts
    * it without overlap: the traffic mix the workload represents. */
  val plannedMix: Map[String, Int] = {
    val model = new BranchModel()
    sequence.map(r => model.next(r.key, r.h)).groupBy(identity).map { case (b, xs) => b -> xs.size }
  }
  private var rounds = 0
  private var measured = 0
  private val storeBytesPerKey = mutable.Buffer[Double]()

  def setup(rep: Int): Unit = writeCorpus(rep)

  /** One round on a fresh store; returns its wall seconds and the store's
    * on-disk bytes per trained key. */
  private def round(reqs: Seq[Req], tally: Tally, trace: Option[Spans]): (Double, Double) = {
    val storeDir = s"$work/round$rounds/store"
    rounds += 1
    val engine = new Engine(spark, storeDir)
    val model = new BranchModel()
    val d = new Dispatcher(i => reqs.lift(i), model)
    val t0 = System.nanoTime()
    Serve.runClients(clients, d)(Serve.serveOne(spark, engine, dir, d, tally, refs, Map.empty, trace))
    val wall = (System.nanoTime() - t0) / 1e9
    val trainedKeys = reqs.map(_.key).distinct.count(model.cacheOf(_).isDefined)
    val bytesPerKey = Probes.du(storeDir)._1.toDouble / math.max(1, trainedKeys)
    Workloads.deleteTree(storeDir)
    (wall, bytesPerKey)
  }

  def warm(tally: Tally): Unit = round(sequence.take(8), tally, None)

  def measure(seconds: Double, tally: Tally, trace: Option[Spans]): Measured = {
    var active = 0.0
    do {
      val (wall, bytesPerKey) = round(sequence, tally, trace)
      active += wall
      storeBytesPerKey += bytesPerKey
      measured += 1
    } while (active < seconds)
    Measured(tally.ms.size, active, tally.ms)
  }

  def detail(tally: Tally, activeS: Double): ListMap[String, Any] =
    Workloads.serving(tally, activeS, Seq("hit", "reforecast", "train", "unknown")) ++ ListMap(
      "store_bytes_per_key" -> Workloads.pct(storeBytesPerKey.toSeq, 0.5),
      "round_length" -> RoundLength, "planned_mix" -> ListMap(plannedMix.toSeq.sorted: _*),
      "distinct_keys" -> sequence.map(_.key).distinct.size, "rounds" -> measured)
}

/** Batch fitting: one operation is a round of `Forecaster.forecastStore`
  * passes, one per fit family in seeded order, over a corpus with more
  * series than cores. A run measures exactly one round (about 27 s on 4
  * cores, longer than the declared 15 s), whatever `seconds` says, so the
  * sample count does not depend on speed: op_ms_p50 and op_ms_p90 are that
  * one round's wall time. A round with a failed pass is not timed. The
  * seed's noise draws change how much work model selection does (ARIMA's
  * pass took 1 to 4 s over 8 series); 16 series average that out. */
final class FitBatch(spark: SparkSession, work: String, seed: Long)
    extends CorpusWorkload(spark, work, seed, Corpus.Shape(16, 60, 150)) {
  val H = 14
  val families: Seq[String] = Workloads.FitFamilies
  private var rounds = 0
  /** Set-ups here are short (about 1.5 s) and still speed up with JIT
    * warm-up over the first few; with seven the median falls where they
    * have levelled off. */
  override def setups: Int = 7

  def setup(rep: Int): Unit = {
    writeCorpus(rep)
    SeriesStore.series(spark, dir).count() // fills the engine's full-store series cache
  }

  private def pass(m: String, elements: Seq[String], tally: Tally, trace: Option[Spans]): Unit =
    tally.attempt(m) {
      def call() = SparkWork.tagged(spark, s"pass.$m.$rounds")(
        Forecaster.forecastStore(spark, dir, m, Serve.Freq, H, elements).collect().toSeq)
      trace.fold(call())(sp => sp(s"forecaster.pass.$m", s"pass.$m.$rounds")(call()))
    } { rows =>
      val expected = if (elements.isEmpty) data.names else elements
      val byEl = rows.groupBy(_.getAs[String]("element"))
      if (rows.size != expected.size * H) Some(s"$m returned ${rows.size} rows, expected ${expected.size * H}")
      else if (byEl.keySet != expected.toSet) Some(s"$m returned elements ${byEl.keySet.mkString(",")}")
      else byEl.iterator.map { case (e, rs) => Checks.shape(rs, e, m, H) }.collectFirst { case Left(why) => why }
    }

  /** No warm-up: the workload is a batch job in a fresh session, so the
    * round includes compiling each family's plans and kernels. */
  def warm(tally: Tally): Unit = ()

  def measure(seconds: Double, tally: Tally, trace: Option[Spans]): Measured = {
    val (ok0, t0) = (tally.ms.size, System.nanoTime())
    Serve.permuted(seed + rounds, families).foreach(pass(_, Nil, tally, trace))
    val ms = (System.nanoTime() - t0) / 1e6
    rounds += 1
    Measured(tally.ms.size * data.names.size, tally.ms.sum / 1e3,
      if (tally.ms.size - ok0 == families.size) Seq(ms) else Nil)
  }

  def detail(tally: Tally, activeS: Double): ListMap[String, Any] = ListMap[String, Any](
    "fits_per_s" -> tally.ms.size * data.names.size / (tally.ms.sum / 1e3),
    "series" -> data.names.size, "rounds" -> rounds) ++
    families.map(m => s"forecaster.pass_ms.$m" -> Workloads.pct(tally.ms(m), 0.5))

  /** Kernel share of the traced passes' task time, estimated from a
    * fit of every family on the calling thread, on the median-length series, scaled
    * by the series count. */
  override def layers(work: SparkWork): ListMap[String, Any] = {
    val values = data.values(data.values.size / 2)
    val t0 = System.nanoTime()
    families.foreach(Families.byMethod(_).fit(values, Serve.Freq).forecast(H))
    val kernelMs = (System.nanoTime() - t0) / 1e6
    val passes = work.snapshot().collect { case (op, w) if op.startsWith("pass.") => w }
    val rounds = passes.size.toDouble / families.size
    ListMap("forecaster.kernel_frac" -> kernelMs * data.names.size * rounds / passes.map(_.taskMs).sum)
  }
}
