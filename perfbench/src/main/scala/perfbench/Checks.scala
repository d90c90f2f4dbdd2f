package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.core.Forecasts

/** Output checks on forecast tables (`element, method, step, lower1,
  * lower2, mean, upper1, upper2`). Each returns None when the rows pass, or
  * the first reason they do not. */
object Checks {

  private def num(r: Row, c: String): Double = r.getAs[Double](c)

  /** Steps are exactly 1..h for `element`/`method`, and every row has
    * lower2 ≤ lower1 ≤ mean ≤ upper1 ≤ upper2. Returns rows sorted by step. */
  def shape(rows: Seq[Row], element: String, method: String, h: Int): Either[String, Seq[Row]] = {
    val sorted = rows.sortBy(_.getAs[Int]("step"))
    val steps = sorted.map(_.getAs[Int]("step"))
    def bandsOutOfOrder(r: Row): Boolean = {
      val b = Seq("lower2", "lower1", "mean", "upper1", "upper2").map(num(r, _))
      b.exists(_.isNaN) || b.sliding(2).exists { case Seq(a, c) => a > c + 1e-9 * math.max(1.0, math.abs(c)) }
    }
    if (steps != (1 to h)) Left(s"$element/$method h=$h: steps ${steps.take(30).mkString(",")}")
    else sorted.find(r => r.getAs[String]("element") != element || r.getAs[String]("method") != method) match {
      case Some(r) => Left(s"$element/$method: row labelled ${r.getAs[String]("element")}/${r.getAs[String]("method")}")
      case None => sorted.find(bandsOutOfOrder) match {
        case Some(r) => Left(s"$element/$method step ${r.getAs[Int]("step")}: bands out of order")
        case None => Right(sorted)
      }
    }
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Shape, then every value equals the reference forecast's prefix. */
  def againstReference(rows: Seq[Row], element: String, method: String, h: Int,
      ref: Forecasts): Option[String] =
    shape(rows, element, method, h) match {
      case Left(why) => Some(why)
      case Right(sorted) =>
        val cols = Seq("lower1" -> ref.lower1, "lower2" -> ref.lower2, "mean" -> ref.mean,
          "upper1" -> ref.upper1, "upper2" -> ref.upper2)
        sorted.zipWithIndex.collectFirst {
          case (r, i) if cols.exists { case (c, xs) => !close(num(r, c), xs(i)) } =>
            s"$element/$method step ${i + 1}: differs from the reference forecast"
        }
    }

  /** A cache hit must equal the prefix of the train-time response exactly. */
  def prefixOf(rows: Seq[Row], trained: Seq[Row]): Option[String] = {
    val sorted = rows.sortBy(_.getAs[Int]("step"))
    val fields = Seq("step", "lower1", "lower2", "mean", "upper1", "upper2")
    if (sorted.size > trained.size) Some(s"hit longer (${sorted.size}) than the trained cache (${trained.size})")
    else sorted.zip(trained).collectFirst {
      case (a, b) if fields.exists(f => a.getAs[Any](f) != b.getAs[Any](f)) =>
        s"hit step ${a.getAs[Int]("step")} differs from the train-time forecast"
    }
  }
}

/** Attempts, failures and latencies of successful operations. A failure
  * (exception or failed check) is counted and never timed. */
final class Tally {
  val attempted = new AtomicInteger()
  val failed = new AtomicInteger()
  val wrong = new AtomicInteger()
  private val samples = new ConcurrentLinkedQueue[(String, Double)]()
  private val notes = new ConcurrentLinkedQueue[String]()

  def ok(kind: String, ms: Double): Unit = samples.add((kind, ms))

  def error(why: String): Unit = { failed.incrementAndGet(); note(why) }

  def mismatch(why: String): Unit = { wrong.incrementAndGet(); error(why) }

  /** Add another tally's attempts and failures (not its latencies). */
  def absorb(o: Tally): Unit = {
    attempted.addAndGet(o.attempted.get); failed.addAndGet(o.failed.get); wrong.addAndGet(o.wrong.get)
    o.reasons.foreach(note)
  }

  private def note(why: String): Unit = if (notes.size < 8) notes.add(why.take(300))

  def ms: Seq[Double] = samples.asScala.map(_._2).toSeq
  def ms(kind: String): Seq[Double] = samples.asScala.collect { case (`kind`, v) => v }.toSeq
  def reasons: Seq[String] = notes.asScala.toSeq

  /** Run one attempted operation: time `op`, then check its result. A
    * result that fails its check is a wrong answer, unless `racy` says the
    * operation overlapped a write to the same state: then it is a failure
    * of the operation, counted in `failed` but not in `wrong`. */
  def attempt[T](kind: => String, racy: => Boolean = false)(op: => T)(check: T => Option[String]): Unit = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val out = try Right(op) catch { case e: Throwable => Left(e) }
    val elapsed = (System.nanoTime() - t0) / 1e6
    out match {
      case Left(e) => error(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(2).mkString(" ")}")
      case Right(v) =>
        try check(v) match {
          case None => ok(kind, elapsed)
          case Some(why) => if (racy) error(s"under contention: $why") else mismatch(why)
        } catch { case e: Throwable => mismatch(s"check failed: $e") }
    }
  }
}
