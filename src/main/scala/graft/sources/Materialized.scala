package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.annotation.tailrec

/** The one memo for fixture materializations: a build that writes once
  * into a temp dir (a corpus, an index, a storage layout) or computes a
  * value once (learned BPE merges, a CTAS table name), then serves it.
  *
  * MEASUREMENT POLICY. Every entry is either
  *  - PER-PASS: the build IS the operator under test — the app builds and
  *    appends (CorpusQueries, WebCorpusQueries with q342's maintain-once)
  *    and training (q133's BPE merges). [[resetPerPass]] deletes and
  *    forgets these, and the bench calls it between passes
  *    (`Harness.betweenPasses`), so every rep pays the real build instead
  *    of timing the memo no-op; or
  *  - AMORTIZED: the query measures the READ of a write-once/read-many
  *    table — the star warehouse, the text/ANN/CDX indexes, the
  *    co-purchase graph, and every storage layout in ScaleQueries,
  *    Relational and LlmQueries (the q102 bucketed-table contract: pass
  *    1's first reader pays the one-time build, which the median of 3
  *    reps discards). These live until JVM exit.
  *
  * Keys are namespaced by owner (`corpus:<sf>`, `textindex:incr:<sf>`);
  * the owner also names the temp root. Each key is built at most once,
  * also under concurrent callers, while builds of different keys run
  * side by side and one build may call another's memo (WebCorpus inc
  * restores the base): only the map is guarded globally, each build runs
  * under its own entry's lock. A build that throws deletes its temp root
  * and leaves no entry, so the next call builds again. Every temp root
  * made here is deleted at JVM exit. */
object Materialized {

  private final class Entry(val perPass: Boolean) {
    var result: Option[Any] = None // guarded by this entry
    var root: Option[Path] = None
    var dropped = false
  }

  private val entries = scala.collection.mutable.HashMap.empty[String, Entry] // guarded by Materialized
  private val roots = scala.collection.mutable.LinkedHashSet.empty[Path]
  private var hooked = false

  /** A fresh temp dir named `prefix…`, deleted recursively at JVM exit. */
  def tempRoot(prefix: String): String = synchronized {
    if (!hooked) {
      hooked = true
      Runtime.getRuntime.addShutdownHook(new Thread(() => synchronized {
        roots.foreach(delete)
      }))
    }
    val root = Files.createTempDirectory(prefix)
    roots += root
    root.toString
  }

  /** The path `build` wrote, building on first use of `key`. `build`
    * receives a not-yet-existing path under a fresh temp root. */
  def dir(key: String, perPass: Boolean)(build: String => Unit): String =
    memo(key, perPass) { e =>
      val owner = key.takeWhile(_ != ':')
      val root = Paths.get(tempRoot(s"graft-$owner"))
      e.root = Some(root)
      val out = root.resolve(owner).toString
      build(out)
      out
    }

  /** `build`'s result, computed on first use of `key`. */
  def value[A](key: String, perPass: Boolean)(build: => A): A =
    memo(key, perPass)(_ => build)

  /** Deletes and forgets every per-pass entry; amortized ones stay. */
  def resetPerPass(): Unit = dropWhere((_, e) => e.perPass)

  /** Deletes and forgets every entry of `owner` (keys `owner:…`),
    * amortized ones too, so the next call rebuilds — e.g. a new vintage
    * of a write-once table. The bench never calls this. */
  def forget(owner: String): Unit = dropWhere((key, _) => key.startsWith(owner + ":"))

  private def dropWhere(p: (String, Entry) => Boolean): Unit = {
    val gone = synchronized {
      entries.filter { case (k, e) => p(k, e) }.keys.toList.flatMap(entries.remove)
    }
    gone.foreach(drop)
  }

  @tailrec
  private def memo[A](key: String, perPass: Boolean)(build: Entry => A): A = {
    val e = synchronized(entries.getOrElseUpdate(key, new Entry(perPass)))
    val got = e.synchronized {
      if (e.dropped) None
      else Some(e.result.getOrElse {
        val v = try build(e) catch {
          case t: Throwable =>
            synchronized(if (entries.get(key).exists(_ eq e)) entries.remove(key))
            drop(e)
            throw t
        }
        e.result = Some(v)
        v
      })
    }
    got match {
      case Some(v) => v.asInstanceOf[A]
      case None => memo(key, perPass)(build) // reset or failed meanwhile
    }
  }

  private def drop(e: Entry): Unit = e.synchronized {
    e.dropped = true
    e.root.foreach { r =>
      delete(r)
      synchronized(roots -= r)
    }
  }

  private def delete(root: Path): Unit =
    try {
      if (Files.exists(root)) {
        val stream = Files.walk(root)
        try stream.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => { try Files.deleteIfExists(p) catch { case _: java.io.IOException => () } })
        finally stream.close()
      }
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
}
