package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Methods
import graft.engine.{Engine, Names}

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private lazy val tmp: Path = Files.createTempDirectory("perfbench-spec")

  override def afterAll(): Unit = {
    spark.stop()
    Workloads.deleteTree(tmp.toString)
  }

  private val shape = Corpus.Shape(5, 50, 400)

  test("the generator is deterministic per seed and varies with it") {
    val a = Corpus.generate(11, shape)
    val b = Corpus.generate(11, shape)
    val c = Corpus.generate(12, shape)
    assert(a.names == b.names)
    assert(a.values.map(_.toSeq) == b.values.map(_.toSeq))
    assert(a.values.map(_.toSeq) != c.values.map(_.toSeq))
    assert(a.values.map(_.length) == c.values.map(_.length), "series lengths do not depend on the seed")
    val lens = a.values.map(_.length)
    assert(lens.head == 50 && lens.last == 400 && lens == lens.sorted)
  }

  test("element ids are hyphenated and unique after sanitization") {
    val names = (0 until 40).map(Corpus.elementName)
    assert(names.forall(_.contains("-")))
    assert(names.map(Names.sanitize).distinct.size == names.size)
  }

  test("the written events store is the same for the same seed") {
    val data = Corpus.generate(3, shape)
    def read(d: String) = spark.read.parquet(s"$d/events.parquet").orderBy("event_id").collect().toSeq
    val d1 = tmp.resolve("gen1").toString
    val d2 = tmp.resolve("gen2").toString
    Corpus.write(spark, d1, 3, data)
    Corpus.write(spark, d2, 3, data)
    val (r1, r2) = (read(d1), read(d2))
    assert(r1 == r2)
    assert(r1.size == data.rows)
    assert(spark.read.parquet(s"$d1/events.parquet").columns.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  test("percentile interpolates between closest ranks") {
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0, 2.0, 4.0), 0.5) == 3.0)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(Stats.percentile((1 to 11).map(_.toDouble), 0.9) == 10.0)
    assert(math.abs(Stats.percentile(Seq(10.0, 20.0, 30.0, 40.0), 0.9) - 37.0) < 1e-12)
    assert(Stats.percentile(Seq(7.0, 3.0), 0.0) == 3.0)
    assert(Stats.percentile(Seq(7.0, 3.0), 1.0) == 7.0)
    assert(Stats.percentile(Seq(42.0), 0.9) == 42.0)
    assert(Stats.tail((1 to 100).map(_.toDouble)) == ("p90", Stats.percentile((1 to 100).map(_.toDouble), 0.9)))
    assert(Stats.tail((1 to 1000).map(_.toDouble))._1 == "p99")
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 0.5))
  }

  test("zipf ranks stay in range and the head is the most popular") {
    val z = new Zipf(10, 1.1)
    val rnd = new java.util.SplittableRandom(1)
    val counts = Array.fill(10)(0)
    (0 until 20000).foreach(_ => counts(z.sample(rnd.nextDouble())) += 1)
    assert(counts.head == counts.max)
    assert(counts.forall(_ > 0))
    assert(z.sample(0.0) == 0 && z.sample(1.0) == 9)
  }

  test("the branch model keeps max(14, largest horizon since train)") {
    val m = new BranchModel()
    val k = Key("a", Methods.SES)
    assert(m.next(k, 5) == "train")
    assert(m.cacheOf(k).contains(14))
    assert(m.next(k, 14) == "hit")
    assert(m.next(k, 20) == "reforecast")
    assert(m.next(k, 17) == "hit")
    assert(m.next(k, 21) == "reforecast")
    assert(m.cacheOf(k).contains(21))
    val k2 = Key("b", Methods.SES)
    assert(m.next(k2, 28) == "train")
    assert(m.cacheOf(k2).contains(28))
    assert(m.next(k2, 28) == "hit")
    m.forget(k2)
    assert(m.next(k2, 1) == "unknown")
  }

  test("the branch model predicts the branch the real engine takes") {
    val data = Corpus.generate(5, Corpus.Shape(2, 60, 90))
    val dir = tmp.resolve("engine/corpus").toString
    Corpus.write(spark, dir, 5, data)
    val store = tmp.resolve("engine/store").toString
    val engine = new Engine(spark, store)
    val index = engine.indexName(dir)
    val model = new BranchModel()
    def stamp(sub: String, k: Key): Long = {
      val f = new java.io.File(s"$store/$sub/${Names.key(k.element, index, k.method)}")
      if (f.exists) f.listFiles().map(_.lastModified).foldLeft(f.lastModified)(math.max) else -1L
    }
    val keys = data.names.map(Key(_, Methods.NAIVE))
    val requests = Seq((0, 3), (0, 14), (0, 20), (1, 16), (0, 9), (1, 16), (1, 27), (0, 21), (1, 2))
    requests.foreach { case (ki, h) =>
      val k = keys(ki)
      val (m0, c0) = (stamp("forecastModels", k), stamp("forecastsCache", k))
      Thread.sleep(20) // distinct modification times for rewrites
      val rows = engine.forecast(k.element, dir, k.method, Serve.Freq, h).collect().toSeq
      val observed =
        if (stamp("forecastModels", k) != m0) "train"
        else if (stamp("forecastsCache", k) != c0) "reforecast"
        else "hit"
      assert(model.next(k, h) == observed, s"request $k h=$h")
      assert(Checks.shape(rows, k.element, k.method, h).isRight)
    }
  }

  test("an injected failure is counted and never timed") {
    val t = new Tally
    t.attempt("x")(throw new RuntimeException("boom"))((_: Int) => None)
    assert(t.attempted.get == 1 && t.failed.get == 1 && t.wrong.get == 0)
    assert(t.ms.isEmpty)
    t.attempt("x")(1)(_ => Some("wrong answer"))
    assert(t.attempted.get == 2 && t.failed.get == 2 && t.wrong.get == 1)
    assert(t.ms.isEmpty)
    t.attempt("x")(1)(_ => None)
    assert(t.attempted.get == 3 && t.failed.get == 2 && t.ms.size == 1 && t.ms("x").size == 1)
  }

  test("output checks reject out-of-order bands and missing steps") {
    def row(step: Int, l2: Double, l1: Double, m: Double, u1: Double, u2: Double): Row =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any]("e", "NAIVE", step, l1, l2, m, u1, u2),
        org.apache.spark.sql.Encoders.product[graft.core.ForecastPoint].schema)
    val good = Seq(row(1, 1, 2, 3, 4, 5), row(2, 0, 2, 3, 4, 6))
    assert(Checks.shape(good, "e", "NAIVE", 2).isRight)
    assert(Checks.shape(good.take(1), "e", "NAIVE", 2).isLeft)
    assert(Checks.shape(Seq(row(1, 3, 2, 3, 4, 5), row(2, 0, 2, 3, 4, 6)), "e", "NAIVE", 2).isLeft)
    assert(Checks.shape(good, "f", "NAIVE", 2).isLeft)
    assert(Checks.prefixOf(good.take(1), good).isEmpty)
    assert(Checks.prefixOf(Seq(row(1, 1, 2, 3.5, 4, 5)), good).isDefined)
  }
}
