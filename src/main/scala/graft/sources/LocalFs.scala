package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem the engine's sessions use: Hadoop's own local
  * file system, minus the process it starts per file.
  *
  * Without the native `libhadoop`, stock `RawLocalFileSystem` runs
  * `chmod` for every file it creates and every directory it makes
  * (`setPermission`), and `readlink` for every link-status call, which
  * FileContext's rename makes twice per streaming checkpoint commit.
  * Each process costs milliseconds, against well under one for a small
  * file's write (ROADMAP, Measurement basis). This class makes both
  * calls through `java.nio`: the `unix` attribute view's `mode` is one
  * chmod(2) for the full mode, sticky, setuid and setgid bits included.
  * Everything else — the bytes written, the `.crc` checksum files (the
  * wrappers below are the stock checksum layers), the umask applied to
  * the requested mode — is Hadoop's code path unchanged.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

  /** Hadoop's link-status contract: a non-link is its plain status (a
    * missing path throws `FileNotFoundException`); a link carries its
    * target, qualified against this file system; a dangling link still
    * returns a status, with zero length and the default permission.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  /** The link's target as written (unqualified); not a link → `IOException`. */
  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(file).toString)
      try {
        val s = getFileStatus(f)
        new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
          s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
          s.getGroup, target, f)
      } catch {
        case _: FileNotFoundException => // dangling: the link exists, its target does not
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

/** `fs.file.impl`: the stock checksummed local file system over
  * [[NioRawLocalFileSystem]], so `.crc` files are written as before.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext twin (Spark's
  * streaming checkpoint files commit through FileContext's rename). Mirrors
  * `org.apache.hadoop.fs.local.LocalFs`, whose constructors are
  * package-private: a checksum layer over a delegate to the raw file system.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Mirrors `org.apache.hadoop.fs.local.RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as the overridden method", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
