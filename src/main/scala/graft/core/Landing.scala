package graft.core

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The one place a registry query lands or pins state derived from one
  * dataset — the counterpart of the reference's single GCS stage that
  * its external tables read (design.sql:28–128).
  *
  *  - [[memo]]: a value built once per key and owned by the session
  *    that built it. A call from another session rebuilds the value
  *    and REPLACES the entry (the old session's checkpoint blocks and
  *    catalog tables are not its to reuse), so memory is bounded by
  *    the number of distinct keys, never by the number of sessions.
  *  - [[dir]]: a fixture directory landed once per (prefix, dataset)
  *    and owning session through [[memo]], under one `graft_landing`
  *    parent in `java.io.tmpdir`. Each directory is deleted by its own
  *    shutdown hook; directories a killed JVM left behind are swept,
  *    once per JVM, when they are more than 24 h old, so a concurrently
  *    running JVM's live landing is never touched.
  */
object Landing {

  private final class Slot {
    var owner: SparkSession = _
    var value: Any = _
  }

  // One lock per key: a build may itself call memo on another key
  // (the view fact reads the fact), which ConcurrentHashMap.compute
  // forbids.
  private val slots = new ConcurrentHashMap[String, Slot]()

  def memo[T](s: SparkSession, key: String)(build: => T): T = {
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    slot.synchronized {
      if (!(slot.owner eq s)) {
        slot.value = build
        slot.owner = s
      }
      slot.value.asInstanceOf[T]
    }
  }

  private val StaleMs = 24L * 3600 * 1000

  private lazy val root: File = {
    val p = new File(sys.props("java.io.tmpdir"), "graft_landing")
    sweepStale(p, System.currentTimeMillis())
    p
  }

  /** Deletes the children of `parent` last modified more than 24 h
    * before `now`. */
  private[core] def sweepStale(parent: File, now: Long): Unit =
    Option(parent.listFiles()).foreach(
      _.filter(_.lastModified() < now - StaleMs).foreach(delete))

  private def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }

  /** The directory `write` landed for (`prefix`, `d`), written on the
    * first call per session and returned as-is after. An empty `write`
    * gives a per-session scratch directory for a query whose own write
    * is the operation under test. */
  def dir(s: SparkSession, d: String, prefix: String)(
      write: String => Unit): String =
    memo(s, s"$prefix:$d") {
      root.mkdirs()
      val p = Files.createTempDirectory(root.toPath, prefix).toFile
      // File.deleteOnExit only removes EMPTY dirs, hence the hook
      Runtime.getRuntime.addShutdownHook(new Thread(() => delete(p)))
      write(p.getPath)
      p.getPath
    }
}
