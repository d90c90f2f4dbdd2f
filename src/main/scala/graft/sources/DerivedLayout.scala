package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.Generations

/** The one rule behind the ingest-time mirrors of `sources/`: reuse a
  * derived layout only while it is keyed on exactly what it was derived
  * from (the reference store's "never serve a stale artifact as fresh",
  * R:42-82).
  *
  * A mirror is a named layout of one corpus ([[dir]]) built from one
  * source path. Its directory holds [[graft.core.Generations]], each
  * named after the [[identity]] of the source it was built from — the
  * (relpath, length, mtime) manifest of the source's files. A reader
  * serves the newest generation only while the source's identity, taken
  * on every access, still names it; a regenerated source therefore
  * reads as "no mirror" until [[ensure]] publishes a new generation.
  * Builds write a hidden directory and publish it with one atomic
  * rename, so concurrent builders each leave a complete generation and
  * a reader never sees a partial one. One memo per JVM, keyed on
  * (layout, identity), remembers the generation served, so a warm
  * access costs the identity stat and one existence check.
  *
  * Directories: each corpus owns [[corpusRoot]] under [[storeRoot]], and
  * its persisted indexes (`graft.ops.Similarity`, `graft.ops.Lexical`)
  * live beside its mirrors there.
  */
object DerivedLayout {

  /** Root of every corpus's derived state: the deployment setting
    * SPARK_GRAFT_STORE_DIR, else /tmp/graft_store. */
  def storeRoot: String = sys.env.getOrElse("SPARK_GRAFT_STORE_DIR", "/tmp/graft_store")

  /** Injective corpus → store-directory mapping: the sanitized path is
    * human-readable but LOSSY (`/a/b` and `/a_b` both sanitize to
    * `_a_b` — ADVICE r14: two corpora colliding on one store directory
    * would serve one corpus's derived state for the other), so an
    * xxhash64 of the RAW path is appended to make the mapping
    * injective. */
  def corpusRoot(sfDir: String): String =
    storeRoot + "/" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_") + f"_${xxhash(sfDir)}%016x"

  /** Directory of one named layout of a corpus. */
  def dir(sfDir: String, layout: String): String = s"${corpusRoot(sfDir)}/$layout"

  /** Identity of a source path: an xxhash64 of its file manifest
    * (`StoreLifecycle.manifestOf`), so any rewrite, growth or removal of
    * its files gives a new identity. */
  def identity(source: String): String =
    f"${xxhash(graft.ops.StoreLifecycle.manifestOf(source).mkString("\n"))}%016x"

  /** The generation of `layoutDir` that serves `source` as it is now, if
    * one is published. Never builds. */
  def current(spark: SparkSession, layoutDir: String, source: String): Option[String] =
    resolve(spark, layoutDir, source, _ => true, None)

  /** The generation of `layoutDir` that serves `source` as it is now,
    * building one with `write` (into the directory it is given) when
    * none is published or `accept` rejects it. */
  def ensure(spark: SparkSession, layoutDir: String, source: String,
      accept: String => Boolean = _ => true)(write: String => Unit): String =
    resolve(spark, layoutDir, source, accept, Some(write)).get

  /** Writes a generation of `layoutDir` for source identity `id` and
    * publishes it as the newest, bypassing the memo; returns its path. */
  def publish(spark: SparkSession, layoutDir: String, id: String)(write: String => Unit): String = {
    val d = new Path(layoutDir)
    s"$layoutDir/${Generations.publish(fsOf(spark, d), d, id)(tmp => write(tmp.toString)).name}"
  }

  /** The memo's entry for one (layout, identity): the generation it
    * serves. Resolving holds the entry's lock, so one JVM builds a
    * layout at most once per identity at a time. */
  private final class Slot { var path: Option[String] = None }

  private val memo = new ConcurrentHashMap[(String, String), Slot]()

  private def resolve(spark: SparkSession, layoutDir: String, source: String,
      accept: String => Boolean, write: Option[String => Unit]): Option[String] = {
    val d = new Path(layoutDir)
    val fs = fsOf(spark, d)
    val id = identity(source)
    val slot = memo.computeIfAbsent((layoutDir, id), _ => new Slot)
    def usable(p: String) = fs.exists(new Path(p)) && accept(p)
    slot.synchronized {
      slot.path = slot.path.filter(usable)
        .orElse(Generations.generations(Generations.listing(fs, d)).headOption
          .filter(_.id.startsWith(s"$id-")).map(g => s"$layoutDir/${g.name}").filter(usable))
        .orElse(write.map(publish(spark, layoutDir, id)))
      slot.path
    }
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def xxhash(s: String): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
  }
}
