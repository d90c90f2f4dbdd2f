package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession

/** Seeded observation corpus in the engine's `events` schema
  * (`event_id, ts, user_id, event_type, value, props`), one daily series
  * per element. The seed sets every value; the shape (element count and
  * series lengths) is fixed per workload so that run time does not depend
  * on the seed.
  */
object Corpus {

  /** Stems of Q-Rapids quality-model metric ids. Letters and hyphens
    * only, distinct after sanitization, so `stem-<n>` ids stay unique
    * once `Names.sanitize` drops the hyphens. */
  val Stems: IndexedSeq[String] = IndexedSeq(
    "complexity", "comments", "duplication", "blocking-code",
    "non-blocking-files", "test-success", "test-performance", "fasttests",
    "bugs-density", "commit-size", "task-velocity", "code-churn")

  def elementName(i: Int): String = s"${Stems(i % Stems.size)}-${i / Stems.size}"

  /** Series lengths spread geometrically from `minLen` to `maxLen`. */
  def lengths(n: Int, minLen: Int, maxLen: Int): IndexedSeq[Int] =
    (0 until n).map { i =>
      if (n == 1) minLen
      else math.round(minLen * math.pow(maxLen.toDouble / minLen, i.toDouble / (n - 1))).toInt
    }

  final case class Shape(elements: Int, minLen: Int, maxLen: Int)

  final case class Data(names: IndexedSeq[String], values: IndexedSeq[Array[Double]]) {
    def rows: Int = values.map(_.length).sum
    def byName: Map[String, Array[Double]] = names.zip(values).toMap
  }

  /** Weekly seasonality + linear trend + Gaussian noise, rounded to 4 dp.
    * Level, trend, amplitude, phase and noise scale depend only on the
    * element index, so every seed yields series of the same character and
    * model-selection cost; the seed sets the noise draws. */
  def series(seed: Long, i: Int, len: Int): Array[Double] = {
    val shape = new java.util.SplittableRandom(0x51ed270b27a5L + i)
    val level = 40.0 + 60.0 * shape.nextDouble()
    val trend = (shape.nextDouble() - 0.5) * 0.04
    val amp = 2.0 + 8.0 * shape.nextDouble()
    val phase = shape.nextInt(7)
    val sd = 0.5 + 2.0 * shape.nextDouble()
    val rnd = new java.util.SplittableRandom(seed * 1000003L + i)
    Array.tabulate(len) { t =>
      val u1 = 1.0 - rnd.nextDouble(); val u2 = rnd.nextDouble()
      val z = math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
      val v = level + trend * t + amp * math.sin(2 * math.Pi * (t + phase) / 7.0) + sd * z
      math.round(v * 1e4) / 1e4
    }
  }

  def generate(seed: Long, shape: Shape): Data = {
    val names = (0 until shape.elements).map(elementName)
    val clean = names.map(graft.engine.Names.sanitize)
    require(clean.distinct.size == clean.size, s"element ids collide after sanitization: $names")
    val lens = lengths(shape.elements, shape.minLen, shape.maxLen)
    Data(names, names.indices.map(i => series(seed, i, lens(i))))
  }

  /** Write `data` as `<dir>/events.parquet`. Observation t of element i is
    * stamped day t (plus i seconds), so evaluation order is series order. */
  def write(spark: SparkSession, dir: String, seed: Long, data: Data): Unit = {
    import spark.implicits._
    val t0 = LocalDateTime.of(2020, 1, 6, 0, 0)
    val rnd = new java.util.SplittableRandom(seed ^ 0x5deece66dL)
    val cells = for {
      i <- data.names.indices
      t <- data.values(i).indices
    } yield (t, i)
    cells.sortBy(identity).zipWithIndex
      .map { case ((t, i), id) =>
        (id.toLong, t0.plusDays(t.toLong).plusSeconds(i.toLong), rnd.nextLong(1, 5000),
          data.names(i), data.values(i)(t), s"""{"k": ${rnd.nextInt(100)}}""")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
