package graft

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A local file system that fails the first rename onto one named path,
  * or the first rename into one named directory: a crash between two
  * steps of a commit, simulated inside the JVM (the process keeps
  * running, so this is not a `kill -9`). */
class CrashingFs extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    CrashingFs.beforeRename(src, dst)
    super.rename(src, dst)
  }
}

object CrashingFs {
  private var failOn: Option[String] = None
  private var failUnder: Option[String] = None
  private val renamed = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def key(p: Path): String = p.toUri.getPath.stripSuffix("/")

  private def beforeRename(src: Path, dst: Path): Unit = {
    // a Spark output committer's own moves run out of `_temporary`
    if (!src.toUri.getPath.contains("/_temporary")) renamed.add(key(dst))
    synchronized {
      val d = key(dst)
      if (failOn.contains(d) || failUnder.exists(dir => d.startsWith(dir + "/"))) {
        failOn = None
        failUnder = None
        throw new java.io.IOException(s"injected crash: rename $src -> $dst")
      }
    }
  }

  /** Run `body` with every `file:` path of `spark` on a [[CrashingFs]]
    * that fails the first rename onto `failAt`, or the first rename whose
    * destination lies under the directory `failUnder` (tagged part files
    * carry a per-write UUID, so their exact names never recur), installed
    * through the session's Hadoop conf with the FS cache off and removed
    * afterwards. Returns the destination of every rename `body` made
    * outside an output committer, in order. */
  def around(spark: SparkSession, failAt: Option[String],
             failUnder: Option[String] = None)(body: => Unit): Seq[String] = {
    synchronized {
      failOn = failAt.map(p => key(new Path(p)))
      this.failUnder = failUnder.map(p => key(new Path(p)))
    }
    renamed.clear()
    spark.conf.set("fs.file.impl", classOf[CrashingFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try body
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
      synchronized { failOn = None; this.failUnder = None }
    }
    renamed.asScala.toSeq
  }
}
