package graft

import java.nio.file.{Files, Path, Paths}

/** Tiny filesystem helpers shared by the sink queries, the streaming
  * checkpoint setup, and the specs — one implementation so fixes
  * (stream closing, null-listing, symlink handling) happen once.
  */
object Fs {

  /** Delete `p` and everything under it; no-op when absent. The
    * `Files.walk` stream is closed explicitly — it holds directory
    * handles, and the gate/bench JVMs are long-lived.
    *
    * Race-tolerant by construction: this runs from the [[root]]'s exit
    * hook and from the reaper, and two JVMs starting at once reap the
    * same stale tree CONCURRENTLY, so any entry can vanish between the
    * walk snapshot and its delete — that is a success (the file is
    * gone), not an error. `deleteIfExists` plus
    * swallowing `NoSuchFileException` covers per-file vanishing; a
    * `DirectoryNotEmptyException` (a child appeared after our
    * snapshot, or a racer re-created one) gets one fresh re-walk
    * before giving up quietly — scratch trees under tmpdir are
    * best-effort, and an exception stack from a shutdown hook is
    * noise that masks real failures in log tails.
    */
  def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    def snapshot(): Seq[Path] =
      if (!Files.exists(p)) Nil
      else {
        val walk =
          try Files.walk(p)
          catch { case _: java.io.IOException => return Nil }
        try walk.iterator().asScala.toSeq
        catch {
          // The stream stats entries lazily; a concurrently-vanishing
          // one surfaces mid-iteration as UncheckedIOException.
          case _: java.io.UncheckedIOException => Nil
        } finally walk.close()
      }
    var attempts = 2
    var retry = true
    while (retry && attempts > 0) {
      attempts -= 1
      retry = false
      snapshot().reverseIterator.foreach { f =>
        try { Files.deleteIfExists(f); () }
        catch {
          case _: java.nio.file.NoSuchFileException => ()
          case _: java.nio.file.DirectoryNotEmptyException => retry = true
        }
      }
    }
  }

  def deleteRecursively(path: String): Unit =
    deleteRecursively(Paths.get(path))

  /** Strict variant for DDL paths (DROP TABLE / DROP NAMESPACE, the
    * snapshot-collapse manifest cleanup): same race-tolerant walk,
    * but VERIFIES the tree is gone and throws when it survives both
    * attempts. The best-effort swallow is right for shutdown-hook
    * scratch cleanup and wrong for DDL — DROP TABLE must not report
    * success while the directory still exists (a later CREATE TABLE
    * would throw TableAlreadyExists), and a surviving `_snapshots`
    * dir after the meta flip would corrupt version numbering if
    * snapshots are re-enabled.
    */
  def deleteRecursivelyVerified(p: Path): Unit = {
    deleteRecursively(p)
    if (Files.exists(p))
      throw new java.io.IOException(
        s"failed to delete $p — the directory survived two delete " +
          "passes (concurrent writer?)")
  }

  /** Per-process namespace token: two JVMs on one host (e.g. `sbt
    * test` overlapping a gate Verify run on a CI box) must never
    * share a scratch sink, or they corrupt each other's
    * write+read-back round trips mid-flight.
    */
  val runId: String = java.util.UUID.randomUUID().toString.take(8)

  /** Run-id namespaces isolate concurrent JVMs but orphan every PRIOR
    * run's scratch (a crashed run never cleans up, and its dirs carry
    * a different runId than any cleanup that keys on current names).
    * So the run root REAPS stale siblings when it is made, and the
    * warehouse drop reaps stale namesakes: same base name, different
    * run id, untouched longer than this horizon — far beyond any live
    * gate/bench/test run, so a concurrent run's fresh scratch is never
    * collected.
    */
  private val StaleMillis = 6L * 3600 * 1000

  private def reapStale(parent: Path)(ours: String => Boolean): Unit = {
    val cutoff = System.currentTimeMillis() - StaleMillis
    val ls = try Files.list(parent) catch { case _: Exception => return }
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          ours(n) && !n.endsWith(runId) &&
            (try Files.getLastModifiedTime(p).toMillis < cutoff
             catch { case _: Exception => false })
        }
        .toSeq
        .foreach(p =>
          try deleteRecursively(p) catch { case _: Exception => () })
    } finally ls.close()
  }

  /** The run's scratch root, `<java.io.tmpdir>/graft-<runId>`: every
    * file a gate writes outside its fixtures lives under it (the kv
    * warehouse and each session's [[scratch]] dirs). Made once per
    * JVM, which is also when the stale run-scoped entries of earlier
    * runs are reaped: `graft-<runId>`, and `graft_<base>-<runId>` of
    * the per-base layout before it, never another file of the temp
    * dir. Deleted when the JVM exits, after Spark's own shutdown hooks
    * (priority 40) have stopped the context.
    */
  lazy val root: Path = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    reapStale(tmp)(_.matches("graft([-_].*)?-[0-9a-f]{8}"))
    val r = Files.createDirectories(tmp.resolve(s"graft-$runId"))
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => try deleteRecursively(r) catch { case _: Throwable => () }, 1)
    r
  }

  /** Mark the root as in use. The reaper judges a root by its own
    * mtime, which files written deeper down do not move, so every
    * [[scratch]] and [[sessionTable]] call refreshes it: a run that
    * lasts past the horizon keeps its root.
    */
  private def touchRoot(): Unit = Files.setLastModifiedTime(root,
    java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))

  /** `<root>/<session token>`: every [[scratch]] dir of the session. */
  private[graft] def sessionDir(
      spark: org.apache.spark.sql.SparkSession): Path =
    root.resolve(sessionToken(spark))

  /** The session's scratch dir `name`: `<root>/<session token>/<name>`,
    * with nothing at it (its parent exists). Every call empties it, so
    * a rerun in one session starts clean, while a sibling session
    * running the same gate at once writes to its own token dir.
    * Resolve it with the caller's session: a stream's batches run in
    * a cloned session with another token.
    */
  def scratch(
      spark: org.apache.spark.sql.SparkSession, name: String): String = {
    touchRoot()
    val p = sessionDir(spark).resolve(name)
    deleteRecursively(p)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Forget a session: drop every `graft_kv` and `spark_catalog` table
    * named with its token ([[sessionTable]]), delete its scratch dir,
    * and evict its entries from every
    * [[graft.operators.SessionMemo]]. A long-lived JVM that discards
    * sessions calls it for each, so nothing a session made outlives
    * it.
    */
  def release(spark: org.apache.spark.sql.SparkSession): Unit = {
    val suffix = "_" + sessionToken(spark)
    graft.sources.KvGate.register(spark)
    Option(Paths.get(graft.sources.KvGate.warehouse, "default").toFile.list)
      .toSeq.flatten.filter(_.endsWith(suffix)).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${graft.sources.KvGateTable(t)}"))
    spark.catalog.listTables("default").collect()
      .filter(t => !t.isTemporary && t.name.endsWith(suffix))
      .foreach(t => dropTableAndLocation(spark, t.name))
    deleteRecursively(sessionDir(spark))
    graft.operators.SessionMemo.evict(spark)
  }

  /** Replace the small file `target` with `bytes` atomically: write a
    * uniquely named temp file beside it, then `ATOMIC_MOVE` it over the
    * target. Readers see the old or the new content, never a torn
    * file, and concurrent writers never share a temp file (a fixed
    * `.tmp` name let one writer's move take another's half-written
    * temp, or fail on a temp already moved). Last mover wins.
    */
  def replaceAtomically(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(
      s"${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp, bytes, java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** The one `part-` file (name ending in `suffix`) that a
    * single-task write left in `dir`. More than one fails loudly
    * instead of silently staging only the first.
    */
  def onlyPart(dir: String, suffix: String = ""): Path = {
    val parts = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(suffix))
    require(parts.length == 1,
      s"$dir holds ${parts.length} part files " +
        s"(${parts.map(_.getName).sorted.mkString(", ")}), expected 1")
    parts.head.toPath
  }

  /** The session's share of a table namespace: its UUID, shortened.
    * Sibling sessions of one JVM (and other JVMs) never share it.
    */
  def sessionToken(spark: org.apache.spark.sql.SparkSession): String =
    org.apache.spark.sql.GraftShims.sessionUUID(spark)
      .replace("-", "").take(12)

  /** Session-suffixed table name for the gates that build their own
    * table: a rerun in one session replaces its own table, while the
    * same gate running at once in a sibling session gets another name
    * instead of a `TableAlreadyExistsException`.
    */
  def sessionTable(
      spark: org.apache.spark.sql.SparkSession, name: String): String = {
    touchRoot()
    s"${name}_${sessionToken(spark)}"
  }

  /** Drop a managed table AND its warehouse location — an aborted
    * earlier in-process run can orphan the location, which
    * overwrite-CREATE then refuses. Also reaps stale namesakes of
    * other sessions and runs (this JVM's metastore may never have
    * known their names, but their directories persist). One
    * implementation for every saveAsTable round-trip site.
    */
  def dropTableAndLocation(
      spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = Paths.get(java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    deleteRecursively(wh.resolve(table))
    val base = table.stripSuffix("_" + sessionToken(spark))
    if (base != table)
      reapStale(wh)(n => n.startsWith(base + "-") || n.startsWith(base + "_"))
  }
}
