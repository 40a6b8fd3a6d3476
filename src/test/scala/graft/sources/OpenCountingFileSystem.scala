package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}

/** The local file system, counting `open` calls per file name. A spec
  * makes it the `file://` implementation by setting `fs.file.impl` on
  * the session with `fs.file.impl.disable.cache=true` (a cached
  * instance of the stock class would otherwise answer). */
class OpenCountingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenCountingFileSystem.opened.computeIfAbsent(f.getName, _ => new AtomicInteger)
      .incrementAndGet()
    super.open(f, bufferSize)
  }
}

object OpenCountingFileSystem {
  private val opened = new ConcurrentHashMap[String, AtomicInteger]()

  /** Opens of files named `name` since the last [[reset]]. */
  def opens(name: String): Int =
    Option(opened.get(name)).map(_.get).getOrElse(0)

  def reset(): Unit = opened.clear()
}
