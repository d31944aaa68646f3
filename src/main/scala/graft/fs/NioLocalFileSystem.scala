package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.{GroupPrincipal, UserPrincipal}

/** The `file://` filesystem of every graft session ([[graft.Sessions.hadoopConf]]):
  * Hadoop's checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]].
  * `.crc` sidecars are still written and verified, and callers that match
  * on `LocalFileSystem` (or cast `FileSystem.getLocal`) still see one. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` binding of `file://` in every graft session
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs` is: a
  * checksummed `ChecksumFs` over [[NioRawLocalFs]]. Spark's streaming
  * checkpoints write through `FileContext`, so with this binding they too
  * set modes in-process instead of starting a `chmod` per file. Hadoop
  * instantiates it through this `(URI, Configuration)` constructor; like
  * `LocalFs` it always serves `file:///`. */
final class NioLocalFs(uri: java.net.URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
final class NioRawLocalFs(uri: java.net.URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // no default port for file:///
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("as the overridden method", "Hadoop 2.7")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `RawLocalFileSystem` whose permission calls run in-process. Without the
  * `libhadoop` native library, stock Hadoop starts a `chmod` process on
  * every `create` and every `mkdirs` (each output part file, each `.crc`
  * sidecar, each `_project=/_user=/_bin=` dir) and an `ls -ld` process for
  * every status whose permission, owner or group is read (`listFiles`
  * reads all three for each listed file). Here both are `java.nio` calls
  * with the same result: Hadoop applies the umask before `setPermission`,
  * and the `unix:mode` attribute hands every bit of the mode (sticky
  * included) to chmod(2), as the `chmod` process would; a status reads
  * what stock's `ls -ld` of the canonical path shows (a link's target,
  * sticky bit kept) on first use. Platforms without the `unix` attribute
  * view keep the stock calls. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!unixView) super.setPermission(p, permission)
    else Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

  override def getFileStatus(f: Path): FileStatus = lazyPermission(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(lazyPermission)

  private def lazyPermission(st: FileStatus): FileStatus = st match {
    case s if !unixView || s.isSymlink => s
    case s => new NioFileStatus(s)
  }
}

private object NioRawLocalFileSystem {
  val unixView: Boolean = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** A status whose permission, owner and group load on first use, as the
    * stock status does; an empty owner means "not loaded yet". */
  final class NioFileStatus(st: FileStatus) extends FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime, st.getAccessTime,
      null, null, null, st.getPath) {
    private def load(): Unit = synchronized {
      if (super.getOwner.isEmpty) {
        val a = try Files.readAttributes(new java.io.File(getPath.toUri).toPath,
            "unix:mode,owner,group")
          catch { case e: java.io.IOException => throw new java.io.UncheckedIOException(e) }
        // 01777: the permission bits plus sticky, what `ls -ld` shows
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      }
    }
    override def getPermission: FsPermission = { if (super.getOwner.isEmpty) load(); super.getPermission }
    override def getOwner: String = { if (super.getOwner.isEmpty) load(); super.getOwner }
    override def getGroup: String = { if (super.getOwner.isEmpty) load(); super.getGroup }
  }
}
