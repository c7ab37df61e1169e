package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileUtil, FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its metadata calls answered in-process.
  *
  * Without libhadoop, `RawLocalFileSystem` forks a process for each
  * permission and link call: `chmod` for every `setPermission` (so for
  * every file it creates and every directory it makes), `ls -ld` the
  * first time a status's permission, owner or group is read, and
  * `readlink` for every `getFileLinkStatus` (every rename through a
  * `FileContext`, which is how streaming checkpoints are written). One
  * fork costs about 3-4 ms in a JVM with a large heap; the `java.nio`
  * calls here cost microseconds. Everything else, including the
  * `LocalFileSystem`/`ChecksumFs` wrappers and their `.crc` files, is
  * Hadoop's own.
  *
  * Statuses equal Hadoop's shell-based ones, sticky bit included; the
  * status of a symbolic link is that of the file it points to (Hadoop
  * runs `ls -ld` on the canonical path). `getFileLinkStatus` reports a
  * symbolic link as a link with its target, also for a `file:`-qualified
  * path; Hadoop's `readlink` of the qualified string always failed, so
  * there every link read as its target. `getFileStatus` and `listStatus`
  * follow links as before, so a directory of symlinked files lists the
  * same. Pinned for the `file:` scheme by [[Engine.session]]. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod(2) with the whole mode, as Hadoop's `chmod %04o` runs it;
    * like that command it keeps a directory's setuid and setgid bits. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = notFoundAs(p)(Files.getAttribute(file, "unix:mode").asInstanceOf[Int])
    val keep = if ((mode & 0xf000) == 0x4000) mode & 0xc00 else 0
    Files.setAttribute(file, "unix:mode", Integer.valueOf(permission.toShort & 0x3ff | keep))
  }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a = notFoundAs(f)(Files.readAttributes(file.toPath,
      "unix:mode,owner,group,size,lastModifiedTime,lastAccessTime,isDirectory"))
    def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory") == true, 1,
      getDefaultBlockSize(f), millis("lastModifiedTime"), millis("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (!file.isDirectory) Array(getFileStatus(f))
    else FileUtil.list(file).flatMap { name =>
      // an entry deleted since the listing is skipped, as Hadoop does
      try Some(getFileStatus(new Path(f, new Path(null, null, name))))
      catch { case _: FileNotFoundException => None }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's link status: a link carries its target's status (or, when
    * dangling, an empty one) with `f` as path and the unqualified target. */
  private def linkStatus(f: Path): FileStatus = {
    val link = pathToFile(f).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(link).toString)
      try {
        val st = getFileStatus(f)
        new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }

  private def notFoundAs[T](f: Path)(read: => T): T =
    try read
    catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` side, used by
  * streaming checkpoints): Hadoop's `LocalFs`, a `ChecksumFs` over a
  * raw local delegate, with [[NioRawLocalFileSystem]] as that delegate.
  * Hadoop constructs it with (URI, Configuration); like `LocalFs` it
  * serves `file:///` whatever the URI. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  /** Hadoop's `RawLocalFs` with another delegate. */
  class Raw(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
