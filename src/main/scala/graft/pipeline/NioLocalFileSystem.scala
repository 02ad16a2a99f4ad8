package graft.pipeline

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of stage commits and streaming replays: Hadoop's
  * checksummed [[LocalFileSystem]] (same `.crc` files, rename and commit
  * semantics) over a raw filesystem that sets permissions with java.nio.
  * Without libhadoop, the stock `RawLocalFileSystem.setPermission` forks
  * `/bin/chmod` for every part file, `.crc` file and directory a commit
  * creates — 1,337 forks in one cold `Main.run --canon` over 5,000 docs,
  * run one after another by each stage's single coalesced write task
  * (BENCH §50), and 118 per `stream` benchmark iteration from the replays'
  * checkpoints, state stores and sink (BENCH §53).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {

  /** Hadoop conf keys that make `file:` paths use [[NioLocalFileSystem]].
    * Uncached, since the FileSystem cache keys on scheme and user, not on
    * the conf; other schemes ignore the `file` key. The one copy behind
    * stage commits (per-write options, see [[Manifest]]) and the streaming
    * replay session (see [[graft.streaming.EventStream.replay]]).
    */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}

class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The same bits as the forked `chmod`. A filesystem without POSIX
    * attributes, and a mode or target with a special bit, take the stock
    * forked path (see [[NioRawLocalFileSystem.posixBits]]).
    */
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val target = pathToFile(p).toPath
    val bits =
      try NioRawLocalFileSystem.posixBits(perm.toShort,
        Files.getAttribute(target, "unix:mode").asInstanceOf[Int])
      catch {
        case _: UnsupportedOperationException | _: IllegalArgumentException => None
      }
    bits match {
      case Some(b) => Files.setPosixFilePermissions(target, b)
      case None => super.setPermission(p, perm)
    }
  }
}

object NioRawLocalFileSystem {

  /** The rwx bits of `mode` as a permission set, for a target whose
    * `st_mode` is `current`. `None` when either has a sticky, setuid or
    * setgid bit: `chmod(2)` cannot set those from a permission set, and
    * `chmod 0755` keeps a directory's setgid bit where `chmod(2)` clears it.
    */
  def posixBits(mode: Int, current: Int): Option[java.util.Set[PosixFilePermission]] =
    if (((mode | current) & 0xe00) != 0) None
    else {
      // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values().zipWithIndex.foreach { case (b, i) =>
        if ((mode & (1 << (8 - i))) != 0) bits.add(b)
      }
      Some(bits)
    }
}
