package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system under the `faulty:` scheme. Armed with `n`, its
  * n-th create, rename or delete throws instead of running; armed as a
  * crash, every one after the n-th throws too, until it is disarmed, as if
  * the process had died there. Counts are global: Spark's tasks open their
  * own instances in the same JVM. */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def getScheme: String = "faulty"

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    FaultyFileSystem.tick("create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFileSystem.tick("rename", src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultyFileSystem.tick("delete", p)
    super.delete(p, recursive)
  }
}

object FaultyFileSystem {
  private val ops = new AtomicInteger
  @volatile private var faultAt = 0 // 0: disarmed
  @volatile private var crash = false
  @volatile private var fired = false

  /** Registers the scheme with `conf`, uncached so no instance outlives
    * a test. */
  def register(conf: Configuration): Unit = {
    conf.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    conf.setBoolean("fs.faulty.impl.disable.cache", true)
  }

  def arm(n: Int, asCrash: Boolean): Unit = synchronized {
    ops.set(0); fired = false; crash = asCrash; faultAt = n
  }

  /** Disarms; true when the armed fault fired. */
  def disarm(): Boolean = synchronized { faultAt = 0; fired }

  private def tick(op: String, p: Path): Unit = if (faultAt > 0) {
    val i = ops.incrementAndGet()
    if (i == faultAt || (crash && i > faultAt)) {
      fired = true
      throw new java.io.IOException(s"injected fault: $op #$i on $p")
    }
  }
}
