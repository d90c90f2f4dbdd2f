package graft.engine

import java.io.{FileNotFoundException, IOException}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

import graft.core.ForecastPoint
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

/** Base class for the two Parquet-backed stores that replace the
  * reference's RDS file trees (`forecastModels` R:8, `forecastsCache`
  * R:9). Identity stays "one directory per (cleanName, index, method)"
  * exactly as the reference keys files (R:45-46), but the payload is a
  * schema'd Parquet table. Existence checks go through the Hadoop
  * FileSystem API so the same code addresses HDFS/S3 on a real cluster.
  */
abstract class KeyedStore(spark: SparkSession, baseDir: String) {
  protected def path(name: String, index: String, method: String): String =
    s"$baseDir/${Names.key(name, index, method)}"

  def exists(name: String, index: String, method: String): Boolean = {
    val p = new Path(path(name, index, method))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}

/** The model store (R:8, save R:91 / load R:112 / exists-check R:57-62).
  * One row per saved model: two map columns hold the typed params.
  */
final class ModelStore(spark: SparkSession, baseDir: String)
    extends KeyedStore(spark, baseDir) {
  import spark.implicits._

  def save(name: String, index: String, method: String, params: ModelParams): Unit =
    Seq((params.dparams.map { case (k, v) => (k, v.toSeq) }, params.sparams))
      .toDF("dparams", "sparams")
      .write.mode(SaveMode.Overwrite).parquet(path(name, index, method))

  def load(name: String, index: String, method: String): ModelParams = {
    val row = spark.read.parquet(path(name, index, method))
      .as[(Map[String, Seq[Double]], Map[String, String])]
      .head()
    ModelParams(row._1.map { case (k, v) => (k, v.toArray) }, row._2)
  }
}

/** Observation-store stamp recorded at train time (round-14 engine
  * extension — the signal [[graft.streaming.EventIngest]]'s scaladoc
  * promises): `(n_obs, max_ts)` of the EFFECTIVE series window (the
  * oldest-`MaxSeriesLength` capped, null-filtered observation set the
  * fit actually saw). `Engine.invalidateOnIngest` compares the current
  * window against this stamp; a streamed append that changes the
  * window invalidates both the model and its cache. Two longs per
  * (name, index, method) — metadata-scale by construction. */
final class StampStore(spark: SparkSession, baseDir: String)
    extends KeyedStore(spark, baseDir) {
  import spark.implicits._

  def save(name: String, index: String, method: String, nObs: Long, maxTs: Long): Unit =
    Seq((nObs, maxTs)).toDF("n_obs", "max_ts")
      .write.mode(SaveMode.Overwrite).parquet(path(name, index, method))

  def matches(name: String, index: String, method: String, nObs: Long, maxTs: Long): Boolean =
    exists(name, index, method) && {
      spark.read.parquet(path(name, index, method))
        .as[(Long, Long)].head() == ((nObs, maxTs))
    }
}

/** The forecast cache (R:9, validity R:64-82, slice-on-hit R:110).
  * Payload = the long-form ForecastPoint contract.
  *
  * Layout: each key directory holds immutable generations
  * `g-<seq>-<uuid>`, each one Parquet table, and the newest generation by
  * (seq, uuid) is the cache. `save` writes a hidden `_tmp-<uuid>`
  * directory and publishes it with one atomic rename to
  * `g-<highest seq + 1>-<uuid>` (the uuid breaks ties between concurrent
  * writers). It then retires every generation older than the previous
  * one, renaming it to a hidden name before deleting it, so a reader never
  * sees a half-written or half-deleted table.
  *
  * Validity is `max(step) >= horizon` over the newest generation, the
  * long-form equivalent of the reference's `length(forecasts$mean) >=
  * horizon` (R:71). Every call lists the key directory once, so a save by
  * another Engine or process is seen on the next call, and answers from a
  * driver-resident index keyed on that exact generation: a warm hit runs
  * no Spark job. A generation the index does not hold is read once
  * through Spark; one that disappears before it is read (a concurrent save
  * retired it) sends the reader back to the listing for the newer data.
  * An entry holds at most the largest horizon served, and the index lives
  * and dies with its instance.
  */
final class ForecastCache(spark: SparkSession, baseDir: String)
    extends KeyedStore(spark, baseDir) {
  import spark.implicits._
  import ForecastCache._

  private val entries = new ConcurrentHashMap[String, Entry]()

  private def keyDir(name: String, index: String, method: String): Path =
    new Path(path(name, index, method))

  private def fsOf(p: Path): FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Published generations under `dir`, newest first. */
  private def generations(dir: Path): Seq[Gen] = {
    val listed =
      try fsOf(dir).listStatus(dir)
      catch { case _: FileNotFoundException => Array.empty[FileStatus] }
    listed.toSeq.flatMap(st => Gen.parse(st.getPath.getName)).sorted(Gen.order.reverse)
  }

  private def remember(key: String, e: Entry): Unit =
    entries.merge(key, e, (old: Entry, nu: Entry) => if (Gen.order.gt(old.gen, nu.gen)) old else nu)

  /** The newest generation's entry, or None when the key has none. */
  private def current(name: String, index: String, method: String): Option[Entry] = {
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

  override def exists(name: String, index: String, method: String): Boolean =
    generations(keyDir(name, index, method)).nonEmpty

  def save(name: String, index: String, method: String, points: DataFrame): Unit = {
    val dir = keyDir(name, index, method)
    val fs = fsOf(dir)
    val id = UUID.randomUUID().toString
    val tmp = new Path(dir, s"_tmp-$id")
    val rows = points.collect()
    try points.write.parquet(tmp.toString)
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    val gen = Gen(generations(dir).headOption.fold(1L)(_.seq + 1), id)
    if (!fs.rename(tmp, new Path(dir, gen.name))) {
      fs.delete(tmp, true)
      throw new IOException(s"could not publish forecast cache generation ${gen.name} under $dir")
    }
    remember(Names.key(name, index, method), Entry(gen, Bridge.asNullable(points.schema), rows))
    generations(dir).filter(_.seq < gen.seq - 1).foreach { old =>
      val retired = new Path(dir, s"_old-${UUID.randomUUID()}")
      // a concurrent writer may have retired it first
      if (Try(fs.rename(new Path(dir, old.name), retired)).getOrElse(false)) fs.delete(retired, true)
    }
  }

  def isValid(name: String, index: String, method: String, horizon: Int): Boolean =
    current(name, index, method).exists(_.maxStep >= horizon)

  /** Cache hit: pure slice, no model math (R:110 / R:149). The result is
    * a local DataFrame with the columns the Parquet read reports. */
  def loadSliced(name: String, index: String, method: String, horizon: Int): DataFrame = {
    val e = current(name, index, method).getOrElse(throw new FileNotFoundException(
      s"no forecast cache generation under ${path(name, index, method)}"))
    spark.createDataFrame(e.rows.filter(e.step(_) <= horizon).toSeq.asJava, e.schema)
  }

  def toDF(points: Seq[ForecastPoint]): DataFrame = points.toDF()
}

object ForecastCache {
  /** A published generation: directory `g-<seq>-<uuid>`. */
  private final case class Gen(seq: Long, id: String) {
    def name: String = s"g-$seq-$id"
  }
  private object Gen {
    val order: Ordering[Gen] = Ordering.by(g => (g.seq, g.id))
    private val Pattern = """g-(\d+)-(.+)""".r
    def parse(dirName: String): Option[Gen] = dirName match {
      case Pattern(seq, id) => Some(Gen(seq.toLong, id))
      case _ => None
    }
  }

  /** One generation's rows, as the Parquet read reports them. */
  private final case class Entry(gen: Gen, schema: StructType, rows: Array[Row]) {
    private val stepAt = schema.fieldIndex("step")
    def step(r: Row): Int = r.getInt(stepAt)
    val maxStep: Int = rows.iterator.map(step).maxOption.getOrElse(Int.MinValue)
  }
}
