package graft.engine

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.core.{ForecastPoint, Generations}
import graft.core.Generations.Gen
import graft.models.ModelParams

/** Key sanitization + composition — `gsub("[^[:alnum:] ]", "", name)` and
  * the `clean_index_method` filename (R:43, R:45, repeated at R:51-53,
  * R:58-60, R:66-68). ASCII alnum + space semantics.
  */
object Names {
  def sanitize(name: String): String = name.replaceAll("[^a-zA-Z0-9 ]", "")
  def key(name: String, index: String, method: String): String =
    s"${sanitize(name)}_${index}_$method"
}

/** Base class for the Parquet-backed stores: the two that replace the
  * reference's RDS file trees (`forecastModels` R:8, `forecastsCache`
  * R:9) and the engine's `observationStamps`. Identity stays "one
  * directory per (cleanName, index, method)" exactly as the reference
  * keys files (R:45-46), but the payload is a schema'd Parquet table.
  * All file access goes through the Hadoop FileSystem API so the same
  * code addresses HDFS/S3 on a real cluster.
  *
  * Layout: each key directory holds immutable generations
  * ([[graft.core.Generations]]), each one Parquet table, and the newest
  * is the key's value. [[publish]] takes the rows on the driver and
  * writes them from there, with Spark's own Parquet file writer, as one
  * file: no Spark job runs, and there is no `_SUCCESS` marker (a
  * generation written by a Spark write job, with one, reads the same).
  *
  * Every read lists the key directory once, so a publish by another
  * instance or process is seen on the next call, and answers from a
  * driver-resident index keyed on that exact generation: reading a
  * generation the index holds runs no Spark job. A generation the index
  * does not hold is read once through Spark; one that disappears before
  * it is read (a concurrent publish retired it) sends the reader back to
  * the listing for the newer data. The index holds the newest generation
  * seen per key and lives and dies with its instance; whatever a store
  * derives from a generation (the cache's planned slices) hangs off that
  * generation's entry and is dropped with it.
  */
abstract class KeyedStore(spark: SparkSession, baseDir: String) {
  import KeyedStore._

  private val entries = new ConcurrentHashMap[String, Entry]()

  private def keyDir(name: String, index: String, method: String): Path =
    new Path(s"$baseDir/${Names.key(name, index, method)}")

  private def fsOf(p: Path): FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Published generations of the key directory, newest first. */
  private def generations(dir: Path): Seq[Gen] =
    Generations.generations(Generations.listing(fsOf(dir), dir))

  private def remember(key: String, e: Entry): Unit =
    entries.merge(key, e, (old: Entry, nu: Entry) => if (Gen.order.gteq(old.gen, nu.gen)) old else nu)

  /** The newest generation's entry, or None when the key has none. */
  private[graft] def current(name: String, index: String, method: String): Option[Entry] = {
    val key = Names.key(name, index, method)
    val dir = keyDir(name, index, method)
    @tailrec def resolve(newest: Option[Gen]): Option[Entry] = newest match {
      case None => None
      case Some(g) =>
        val known = entries.get(key)
        if (known != null && known.gen == g) Some(known)
        else Try {
          val df = spark.read.parquet(new Path(dir, g.name).toString)
          Entry(g, df.schema, df.collect())
        } match {
          case Success(e) => remember(key, e); Some(e)
          case Failure(err) =>
            val relisted = generations(dir).headOption
            if (relisted.contains(g)) throw err else resolve(relisted)
        }
    }
    resolve(generations(dir).headOption)
  }

  /** The newest generation's entry; throws when the key has none. */
  protected def read(name: String, index: String, method: String): Entry =
    current(name, index, method).getOrElse(throw new FileNotFoundException(
      s"no published generation under ${keyDir(name, index, method)}"))

  /** True once a generation has been published for the key. */
  def exists(name: String, index: String, method: String): Boolean =
    generations(keyDir(name, index, method)).nonEmpty

  /** Publishes `rows` of `schema` as the key's newest generation. The
    * write runs on the driver: no Spark job. */
  protected def publish(name: String, index: String, method: String, schema: StructType,
      rows: Array[Row]): Unit = {
    val dir = keyDir(name, index, method)
    val gen = Generations.publish(fsOf(dir), dir)(Bridge.writeParquet(spark, schema, rows.toSeq, _))
    remember(Names.key(name, index, method), Entry(gen, Bridge.asNullable(schema), rows))
  }
}

object KeyedStore {
  /** One generation's rows, as the Parquet read reports them, and the
    * DataFrames built from them, keyed by the number of rows they hold. */
  private[graft] final case class Entry(gen: Gen, schema: StructType, rows: Array[Row]) {
    private[engine] lazy val frames = new ConcurrentHashMap[Int, DataFrame]()
  }
}

/** The model store (R:8, save R:91 / load R:112 / exists-check R:57-62).
  * One row per saved model: two map columns hold the typed params.
  */
final class ModelStore(spark: SparkSession, baseDir: String)
    extends KeyedStore(spark, baseDir) {

  def save(name: String, index: String, method: String, params: ModelParams): Unit =
    publish(name, index, method, ModelStore.Schema,
      Array(Row(params.dparams.map { case (k, v) => (k, v.toSeq) }, params.sparams)))

  def load(name: String, index: String, method: String): ModelParams = {
    val row = read(name, index, method).rows.head
    ModelParams(
      row.getMap[String, scala.collection.Seq[Double]](0).map { case (k, v) => (k, v.toArray) }.toMap,
      row.getMap[String, String](1).toMap)
  }
}

object ModelStore {
  /** The schema `Seq((dparams, sparams)).toDF` derives. */
  private val Schema = StructType(Seq(
    StructField("dparams", MapType(StringType, ArrayType(DoubleType, containsNull = false))),
    StructField("sparams", MapType(StringType, StringType))))
}

/** Observation-store stamp recorded at train time (round-14 engine
  * extension — the signal [[graft.streaming.EventIngest]]'s scaladoc
  * promises): `(n_obs, max_ts)` of the EFFECTIVE series window (the
  * oldest-`MaxSeriesLength` capped, null-filtered observation set the
  * fit actually saw). The train takes it from the fit's own series read
  * (`SeriesStore.stampedSeries`), so it describes exactly the rows the
  * model was fitted on. `Engine.invalidateOnIngest` compares the current
  * window against this stamp; a streamed append that changes the
  * window invalidates both the model and its cache. Two longs per
  * (name, index, method) — metadata-scale by construction. */
final class StampStore(spark: SparkSession, baseDir: String)
    extends KeyedStore(spark, baseDir) {

  def save(name: String, index: String, method: String, nObs: Long, maxTs: Long): Unit =
    publish(name, index, method, StampStore.Schema, Array(Row(nObs, maxTs)))

  def matches(name: String, index: String, method: String, nObs: Long, maxTs: Long): Boolean =
    current(name, index, method).exists { e =>
      val r = e.rows.head
      r.getLong(0) == nObs && r.getLong(1) == maxTs
    }
}

object StampStore {
  /** The schema `Seq((nObs, maxTs)).toDF` derives. */
  private val Schema = StructType(Seq(
    StructField("n_obs", LongType, nullable = false),
    StructField("max_ts", LongType, nullable = false)))
}

/** The forecast cache (R:9, validity R:64-82, slice-on-hit R:110).
  * Payload = the long-form ForecastPoint contract. Validity is
  * `max(step) >= horizon` over the newest generation, the long-form
  * equivalent of the reference's `length(forecasts$mean) >= horizon`
  * (R:71); a warm hit is answered from the index without a Spark job.
  *
  * A slice is a local DataFrame planned once per generation: the entry
  * keeps the frame of each slice it has served, keyed by its row count
  * (the rows with `step <= horizon` only grow with the horizon, so the
  * count names the slice), which bounds a generation to one frame per
  * distinct slice and at most one more than it has rows. A hit on a
  * slice already served returns that frame, whose physical plan is
  * ready, so the caller's action skips analysis and planning.
  */
final class ForecastCache(spark: SparkSession, baseDir: String)
    extends KeyedStore(spark, baseDir) {
  import KeyedStore.Entry
  import spark.implicits._

  /** Collecting a local frame, as the engine saves, runs no Spark job. */
  def save(name: String, index: String, method: String, points: DataFrame): Unit =
    publish(name, index, method, points.schema, points.collect())

  def isValid(name: String, index: String, method: String, horizon: Int): Boolean =
    current(name, index, method).exists(covers(_, horizon))

  /** Cache hit: pure slice, no model math (R:110 / R:149). The result is
    * a local DataFrame with the columns the Parquet read reports. */
  def loadSliced(name: String, index: String, method: String, horizon: Int): DataFrame =
    slice(read(name, index, method), horizon)

  /** [[isValid]] and [[loadSliced]] from one resolved generation: the
    * slice when the newest generation covers `horizon`, else None. */
  def validSlice(name: String, index: String, method: String, horizon: Int): Option[DataFrame] =
    current(name, index, method).filter(covers(_, horizon)).map(slice(_, horizon))

  private def covers(e: Entry, horizon: Int): Boolean = {
    val step = e.schema.fieldIndex("step")
    e.rows.exists(_.getInt(step) >= horizon)
  }

  private def slice(e: Entry, horizon: Int): DataFrame = {
    val step = e.schema.fieldIndex("step")
    val rows = e.rows.filter(_.getInt(step) <= horizon)
    e.frames.computeIfAbsent(rows.length, _ => {
      val df = spark.createDataFrame(rows.toSeq.asJava, e.schema)
      df.queryExecution.executedPlan
      df
    })
  }

  def toDF(points: Seq[ForecastPoint]): DataFrame = points.toDF()
}
