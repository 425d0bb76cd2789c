package graft.streaming

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** The local file system under its own `racefs:` scheme, for specs that
  * need a concurrent actor at an exact point inside the engine:
  * [[RaceFs.at]] runs a hook just before the Nth `listStatus` of one
  * named path. Listings made while the hook runs are neither counted nor
  * trapped, so the hook may drive the same code it interrupts. Register
  * it with [[RaceFs.register]]; paths are `racefs://<absolute path>`.
  */
class RaceFs extends RawLocalFileSystem {
  override def getUri: URI = RaceFs.uri

  override def listStatus(f: Path): Array[FileStatus] = {
    RaceFs.beforeList(f)
    super.listStatus(f)
  }
}

object RaceFs {
  val uri: URI = URI.create("racefs:///")

  def register(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set("fs.racefs.impl", classOf[RaceFs].getName)

  private final case class Trap(path: String, n: Int, hook: () => Unit)
  private var trap: Option[Trap] = None
  private var seen = 0
  private var firing = false
  private var fired = false

  /** Runs `body` with `hook` armed at the `n`th listing of `path`, and
    * tells whether the hook ran. */
  def at[T](path: String, n: Int)(hook: => Unit)(body: => T): (T, Boolean) = {
    synchronized {
      trap = Some(Trap(new Path(path).toUri.getPath, n, () => hook))
      seen = 0; fired = false
    }
    try {
      val r = body
      (r, synchronized(fired))
    } finally synchronized { trap = None }
  }

  private def beforeList(f: Path): Unit = {
    val due = synchronized {
      trap.filter(t => !firing && t.path == f.toUri.getPath).flatMap { t =>
        seen += 1
        if (seen == t.n) { firing = true; Some(t.hook) } else None
      }
    }
    due.foreach { hook =>
      try hook() finally synchronized { firing = false; fired = true }
    }
  }
}
