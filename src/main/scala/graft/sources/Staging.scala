package graft.sources

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The one staging mechanism of every writer in `graft.sources` — the
  * reference's tempfile-until-persist rule (`current_file.rs`): output is
  * written into a fresh temp directory NEXT TO its destination (same
  * filesystem, so promoting a file is a metadata rename, never a byte
  * copy), the writer moves out what it publishes, and the directory is
  * deleted when the body returns or throws. A failed write therefore
  * leaves no partial file at the destination and no staging debris
  * beside it. */
object Staging {

  /** Run `body` with a fresh directory `parent/<prefix><random>`
    * (`parent` is created when missing) and delete the directory
    * afterwards, whether `body` returns or throws. */
  def apply[A](parent: Path, prefix: String)(body: Path => A): A = {
    Files.createDirectories(parent)
    val dir = Files.createTempDirectory(parent, prefix)
    try body(dir) finally deleteRecursively(dir)
  }

  /** Entry names of a directory, with the listing stream CLOSED (it holds
    * a directory file descriptor until closed). */
  def listNames(dir: Path): Seq[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toVector
    finally st.close()
  }

  /** Delete a file or a directory tree; a missing path is a no-op. */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listNames(p).foreach(n => deleteRecursively(p.resolve(n)))
    Files.deleteIfExists(p)
  }
}
