package graft.io

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** What a parquet path holds, as far as a cache of its metadata can
  * tell without opening it: the name, length and modification time of
  * each visible data file. A single file is its own one entry; a
  * directory (the layout Spark writes) lists its files, skipping the
  * `_`/`.`-prefixed bookkeeping entries Spark's file listing skips too.
  * A rewrite at the same path changes a length or an mtime, so the
  * stamp changes with it. */
final case class PathStamp(files: Seq[(String, Long, Long)])

object PathStamp {

  /** The stamp of `path`, or None if nothing is there. One `stat`, plus
    * one listing for a directory. */
  def of(path: String, conf: Configuration): Option[PathStamp] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val files: Seq[FileStatus] =
      if (!status.isDirectory) Seq(status)
      else fs.listStatus(p, (f: Path) => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .toSeq.filter(_.isFile).sortBy(_.getPath.getName)
    Some(PathStamp(files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))))
  }
}

/** A memo whose entries hold only while the [[PathStamp]] they were
  * computed under does: a lookup under another stamp computes again and
  * replaces the entry, so there is one entry per key at most. The
  * computation runs outside any lock; two threads that miss together
  * both compute, and the later one's value stays. */
final class StampedMemo[K, V] {
  private val entries = new ConcurrentHashMap[K, (PathStamp, V)]()

  def apply(key: K, stamp: PathStamp)(compute: => V): V =
    Option(entries.get(key)).collect { case (`stamp`, v) => v }.getOrElse {
      val v = compute
      entries.put(key, (stamp, v))
      v
    }
}
