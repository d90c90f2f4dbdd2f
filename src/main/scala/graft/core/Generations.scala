package graft.core

import java.io.{FileNotFoundException, IOException}
import java.util.UUID

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Immutable generations in one directory: the publish protocol behind the
  * engine's keyed stores (`graft.engine.KeyedStore`) and the derived
  * source layouts (`graft.sources.DerivedLayout`).
  *
  * A directory holds generations `g-<seq>-<id>`, and the newest by (seq,
  * id) is its value. [[publish]] writes a new one into a hidden
  * `_tmp-<uuid>` directory and makes it visible with one atomic rename to
  * `g-<highest seq + 1>-<id>`; every id ends in a fresh uuid, which breaks
  * ties between concurrent writers and keeps the rename target new (a
  * Hadoop rename onto an existing directory would nest the source inside
  * it). It then retires every generation older than the previous one,
  * renaming it to a hidden `_old-<uuid>` before deleting it, so a reader
  * never sees a half-written or half-deleted generation. A writer that
  * dies mid-publish leaves its hidden directory behind; a later publish
  * in the directory deletes hidden entries older than [[AbandonedAfterMs]].
  */
object Generations {
  /** Age past which a hidden `_tmp-*` or `_old-*` entry is taken to be
    * left by a writer that died: far above any publish's duration. */
  val AbandonedAfterMs: Long = 60L * 60L * 1000L

  private val Hidden = """_(tmp|old)-.+""".r

  /** A published generation: directory `g-<seq>-<id>`. */
  final case class Gen(seq: Long, id: String) {
    def name: String = s"g-$seq-$id"
  }
  object Gen {
    val order: Ordering[Gen] = Ordering.by(g => (g.seq, g.id))
    private val Pattern = """g-(\d+)-(.+)""".r
    def parse(dirName: String): Option[Gen] = dirName match {
      case Pattern(seq, id) => Some(Gen(seq.toLong, id))
      case _ => None
    }
  }

  /** The entries of `dir`; empty when it does not exist. */
  def listing(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: FileNotFoundException => Nil }

  /** Published generations among `listed`, newest first. */
  def generations(listed: Seq[FileStatus]): Seq[Gen] =
    listed.flatMap(st => Gen.parse(st.getPath.getName)).sorted(Gen.order.reverse)

  /** Writes a generation with `write` into a hidden directory and
    * publishes it as the newest generation of `dir`. Its id is `tag`
    * (when non-empty) followed by a fresh uuid. */
  def publish(fs: FileSystem, dir: Path, tag: String = "")(write: Path => Unit): Gen = {
    val uuid = UUID.randomUUID().toString
    val tmp = new Path(dir, s"_tmp-$uuid")
    try write(tmp)
    catch { case e: Throwable => Try(fs.delete(tmp, true)); throw e }
    val listed = listing(fs, dir)
    val gen = Gen(generations(listed).headOption.fold(1L)(_.seq + 1),
      if (tag.isEmpty) uuid else s"$tag-$uuid")
    if (!fs.rename(tmp, new Path(dir, gen.name))) {
      fs.delete(tmp, true)
      throw new IOException(s"could not publish generation ${gen.name} under $dir")
    }
    val abandoned = System.currentTimeMillis() - AbandonedAfterMs
    listed.filter(st => Hidden.matches(st.getPath.getName) && st.getModificationTime < abandoned)
      .foreach(st => Try(fs.delete(st.getPath, true)))
    generations(listing(fs, dir)).filter(_.seq < gen.seq - 1).foreach { old =>
      val retired = new Path(dir, s"_old-${UUID.randomUUID()}")
      // a concurrent writer may have retired it first
      if (Try(fs.rename(new Path(dir, old.name), retired)).getOrElse(false)) fs.delete(retired, true)
    }
    gen
  }
}
