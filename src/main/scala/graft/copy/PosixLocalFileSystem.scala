package graft.copy

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that sets permissions in-process. Without
  * libhadoop (`NativeIO`), Hadoop's `setPermission` forks `chmod` — and
  * `create` and every `mkdir` call it even when the caller passes no
  * permission (the umasked default), so a copy of n files under d
  * directories forks n + d processes. This class applies the same nine
  * rwx bits with `Files.setPosixFilePermissions` (on a 4-vCPU VM: ~0.01 ms
  * a call against ~1.1 ms a fork).
  * A sticky bit, or a file store without POSIX attributes, takes the
  * inherited path, so the bits written never differ from Hadoop's.
  */
class PosixLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's declaration order is OWNER_READ .. OTHERS_EXECUTE,
      // i.e. octal bit 8 down to bit 0
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }
}

object PosixLocalFileSystem {
  private var instance: PosixLocalFileSystem = _

  /** The JVM's one instance, initialised with the first caller's conf.
    * Hadoop's FileSystem cache keys `file:` on scheme, authority and user,
    * not on conf, so a cached `LocalFileSystem` is shared the same way.
    */
  def get(conf: Configuration): PosixLocalFileSystem = synchronized {
    if (instance == null) {
      instance = new PosixLocalFileSystem
      instance.initialize(URI.create("file:///"), conf)
    }
    instance
  }
}
