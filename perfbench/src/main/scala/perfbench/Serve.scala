package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.core.{Forecasts, Methods}
import graft.engine.{Engine, Families}

/** A store key of the serving API and one request against it. */
final case class Key(element: String, method: String) {
  override def toString: String = s"$element/$method"
}
final case class Req(seq: Int, key: Key, h: Int)
/** A dispatched request with its predicted branch. */
final case class Ticket(req: Req, branch: String, contendedAtStart: Boolean, epoch: Int)

/** `Engine.forecast`'s branch rule, replayed outside the engine: a missing
  * model trains (a), a cache of at least h steps is sliced (a hit), a
  * shorter one is re-forecast from stored params (b). Training caches
  * max(14, h) steps and a re-forecast caches h, so the cache always holds
  * max(14, largest horizon since train). A key whose last request failed
  * has an unknown store state until the round ends. */
final class BranchModel(cacheLength: Int = 14) {
  private val cached = mutable.Map[Key, Int]()
  private val unknown = mutable.Set[Key]()

  def classify(k: Key, h: Int): String =
    if (unknown(k)) "unknown"
    else cached.get(k) match {
      case None => "train"
      case Some(c) if c >= h => "hit"
      case Some(_) => "reforecast"
    }

  /** Classify and apply the request's effect on the store. */
  def next(k: Key, h: Int): String = {
    val b = classify(k, h)
    b match {
      case "train" => cached(k) = math.max(cacheLength, h)
      case "reforecast" => cached(k) = h
      case _ =>
    }
    b
  }

  def forget(k: Key): Unit = unknown += k
  def cacheOf(k: Key): Option[Int] = cached.get(k)
}

/** Hands out a request sequence to closed-loop clients in sequence order
  * and labels each with the branch `Engine.forecast` takes on it. A request
  * that overlaps a write to its key (a train or re-forecast in flight, or
  * one dispatched while it ran) is labelled "contended": its branch and
  * outcome depend on timing. */
final class Dispatcher(reqAt: Int => Option[Req], model: BranchModel) {
  private var next = 0
  private val inflight = mutable.Map[Key, Int]().withDefaultValue(0)
  private val inflightWriters = mutable.Map[Key, Int]().withDefaultValue(0)
  private val writeEpoch = mutable.Map[Key, Int]().withDefaultValue(0)

  def take(): Option[Ticket] = synchronized {
    reqAt(next).map { r =>
      next += 1
      val b = model.next(r.key, r.h)
      val writer = b != "hit"
      val contended = inflightWriters(r.key) > 0 || (writer && inflight(r.key) > 0)
      if (writer) { writeEpoch(r.key) += 1; inflightWriters(r.key) += 1 }
      inflight(r.key) += 1
      Ticket(r, b, contended, writeEpoch(r.key))
    }
  }

  /** Finish a ticket; returns the label its latency is booked under. */
  def done(t: Ticket, failed: Boolean): String = synchronized {
    val k = t.req.key
    inflight(k) -= 1
    if (t.branch != "hit") inflightWriters(k) -= 1
    if (failed) model.forget(k)
    if (t.contendedAtStart || writeEpoch(k) != t.epoch) "contended" else t.branch
  }

}

/** The serving workloads: closed-loop clients calling `Engine.forecast`
  * and collecting the result, as a caller of the paper's API does. */
object Serve {
  val Freq = 7
  val CacheLength = 14
  /** Key-popularity exponent: the Zipf constant of YCSB's default request
    * distribution (Cooper et al., "Benchmarking Cloud Serving Systems with
    * YCSB", SoCC 2010). No published access trace of Q-Rapids dashboards
    * exists to fit it to; the uniform horizons and the key counts are
    * likewise stand-ins. */
  val ZipfS = 0.99

  /** Reference forecasts computed on the generated values, independently
    * of the engine's stores; every response must match their prefix. */
  def references(data: Corpus.Data, keys: Seq[Key], maxH: Int): Map[Key, Forecasts] = {
    val values = data.byName
    keys.map(k => k -> Families.byMethod(k.method).fit(values(k.element), Freq).forecast(maxH)).toMap
  }

  /** Request `i` of a sequence: a Zipf popularity rank and a uniform
    * horizon in 1..maxH. The rank/horizon sequence is the same for every
    * seed, so every seed sees the same branch mix; `keys` arrives in a
    * seeded order, so the seed decides which key holds each rank. */
  def request(keys: IndexedSeq[Key], zipf: Zipf, maxH: Int)(i: Int): Req = {
    val rnd = new java.util.SplittableRandom(0x2545f4914f6cdd1dL + i)
    Req(i, keys(zipf.sample(rnd.nextDouble())), 1 + rnd.nextInt(maxH))
  }

  def permuted[T](seed: Long, xs: Seq[T]): IndexedSeq[T] =
    new scala.util.Random(seed).shuffle(xs).toIndexedSeq

  /** Run `clients` threads, each taking tickets until the dispatcher runs
    * dry, and serving them with `serve`. */
  def runClients(clients: Int, d: Dispatcher)(serve: Ticket => Unit): Unit = {
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var t = d.take()
        while (t.isDefined) { serve(t.get); t = d.take() }
      }, s"perfbench-client-$c")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  /** Serve one ticket through the real API and check the answer. */
  def serveOne(spark: SparkSession, engine: Engine, dir: String, d: Dispatcher, tally: Tally,
      refs: Map[Key, Forecasts], trained: collection.Map[Key, Seq[Row]], trace: Option[Spans])
      (t: Ticket): Unit = {
    val Req(seq, k, h) = t.req
    var label = t.branch
    var finished = false
    def finish(failed: Boolean): Unit = { finished = true; label = d.done(t, failed) }
    try {
      tally.attempt(label, racy = label == "contended" || label == "unknown") {
        def call() = SparkWork.tagged(spark, s"req$seq")(
          engine.forecast(k.element, dir, k.method, Freq, h).collect().toSeq)
        trace.fold(call())(sp => sp(s"request.${t.branch}", s"req$seq")(call()))
      } { rows =>
        val why = Checks.againstReference(rows, k.element, k.method, h, refs(k)).orElse(
          if (t.branch == "hit") trained.get(k).flatMap(Checks.prefixOf(rows, _)) else None)
        finish(why.isDefined)
        why
      }
    } finally if (!finished) finish(failed = true)
  }
}
