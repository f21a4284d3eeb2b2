package graft.engine

import java.nio.file.{FileSystems, Files}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of every graft session (registered as
  * `spark.hadoop.fs.file.impl` by [[graft.BenchConf.base]]): Hadoop's
  * checksummed `LocalFileSystem` over a `RawLocalFileSystem` whose one
  * override sets permissions in-process. Everything else — `.crc` files,
  * `_SUCCESS`, the commit protocol, file names and modes — is Hadoop's.
  * (Unregistered, `file:` resolves through Hadoop's ServiceLoader; on
  * Spark's classpath that is Hive's `ProxyLocalFileSystem`, a wrapper
  * around the same `LocalFileSystem`.)
  *
  * Why: without libhadoop (no native `NativeIO`, as on a plain JDK
  * install) the stock `RawLocalFileSystem.setPermission` forks `chmod`
  * through Hadoop's `Shell`, once per directory `mkdirs` makes
  * (`mkOneDirWithMode`) and once per file `create` opens
  * (`LocalFSFileOutputStream`). A JFR recording of a 7-op run-governed
  * benchmark run (48 models per op, 4-core host) counted 2,155
  * `jdk.ProcessStart` events with the stock class: 1,169 `chmod 0755`
  * from directories and 980 `chmod 0644` from files, on executor task
  * threads and the driver's job-commit threads. With this class the same
  * run starts 6 processes, once per JVM or per session and none per
  * write.
  *
  * The mode written is exactly what `chmod` would leave: the already
  * umasked `FsPermission` bits (sticky included), plus — on a directory —
  * the setuid/setgid bits it already carries, which `chmod` keeps under a
  * four-digit octal mode (a new directory inherits setgid from its
  * parent). Where the default file system has no `unix` attribute view
  * the stock `chmod` path runs. The class keeps no state.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val IfMt = 0xf000 // S_IFMT
  private val IfDir = 0x4000 // S_IFDIR
  private val SetIds = 0xc00 // S_ISUID | S_ISGID
  private val Perm = 0x3ff // S_ISVTX | rwxrwxrwx: all an FsPermission carries

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!unixView) super.setPermission(p, permission)
      else {
        val f = pathToFile(p).toPath
        val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
        val kept = if ((old & IfMt) == IfDir) old & SetIds else 0
        Files.setAttribute(f, "unix:mode", Int.box(permission.toShort & Perm | kept))
      }
  }
}
