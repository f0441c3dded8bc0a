package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Writable BRANCHES for kv tables — the other half of the Iceberg
  * ref model (read-only tags live in KvRefs.scala), and the substrate
  * of the WRITE-AUDIT-PUBLISH pattern a 100 TB pipeline stages risky
  * loads through:
  *
  *   1. `CALL system.create_branch(t, 'audit')` — the branch starts
  *      at main's current snapshot;
  *   2. `df.writeTo(t).option("branch", "audit").append()` — commits
  *      land on the BRANCH's lineage; main readers never see them;
  *   3. audit the staged state: `SELECT ... VERSION AS OF 'audit'`;
  *   4. `CALL system.fast_forward(t, 'audit')` — main atomically
  *      adopts the branch head (the existing OCC conditional-put;
  *      fails loud if main advanced since the branch was created —
  *      the not-fast-forwardable case), or `drop_branch` to abandon.
  *
  * Mechanics: a branch is its own manifest LINEAGE under
  * `_snapshots/branch-<name>/`, seeded at creation with a COPY of
  * main's current manifest (metadata-sized — file names + stats, no
  * data copied) at the SAME version number, so branch version numbers
  * CONTINUE main's numbering and every pinned-read surface (schema
  * as-of included) works on branch pins unchanged. Main's
  * reads/commits never look inside branch dirs (the manifest name
  * pattern doesn't match subdirectories), which is what makes the
  * isolation structural rather than filtered. Branch data files live
  * in the table directory like any others: snapshotted reads are
  * manifest-driven, so unreferenced-by-main files are invisible to
  * main, and expire/vacuum count branch manifests as live references
  * (deleting a staged file out from under an un-published branch
  * would be silent data loss).
  *
  * Schema evolution is FROZEN while branches exist (KvCatalog guards
  * ALTERs): the registry's Version.from markers are main-space, and a
  * main-side ALTER landing mid-audit would re-shape branch reads that
  * never saw it.
  */
object KvBranches {

  val Prefix = "branch-"

  private def branchDir(path: String, name: String): Path =
    Paths.get(path, KvSnapshots.DirName, Prefix + name)

  def exists(path: String, name: String): Boolean =
    Files.isDirectory(branchDir(path, name))

  def list(path: String): Seq[String] = {
    val d = Paths.get(path, KvSnapshots.DirName)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filter(_.startsWith(Prefix))
        .map(_.stripPrefix(Prefix))
        .toSeq.sorted
      finally s.close()
    }
  }

  /** Create a branch at main's CURRENT snapshot. Fails on an invalid
    * name (same rules as tags — `VERSION AS OF 'name'` must resolve
    * unambiguously, so tag/branch names share one namespace), an
    * existing branch or tag of that name, or a table with no
    * committed snapshot to branch from. Returns the base version.
    */
  def create(path: String, name: String): Int = {
    require(KvRefs.validName(name),
      s"invalid branch name '$name' (letters, digits, . _ -, and not " +
        "an integer — integers are version pins)")
    require(!exists(path, name), s"branch '$name' already exists")
    require(KvRefs.resolve(path, name).isEmpty,
      s"a TAG named '$name' exists — tags and branches share the " +
        "VERSION AS OF namespace")
    val base = KvSnapshots.latest(path).getOrElse(
      throw new IllegalStateException(
        "no committed snapshot to branch from — write to the table " +
          "(or enable snapshots) first"))
    val members = KvSnapshots.membersWithStats(path, base)
    val d = branchDir(path, name)
    Files.createDirectories(d)
    KvSnapshots.writeManifestIn(d, base, members)
    base
  }

  /** The branch's versions, oldest (= the creation base) first. */
  def versions(path: String, name: String): Seq[Int] = {
    require(exists(path, name),
      s"no branch '$name' (branches: ${list(path).mkString(", ")})")
    KvSnapshots.versionsIn(branchDir(path, name))
  }

  /** The version main was at when the branch was created. */
  def base(path: String, name: String): Int = versions(path, name).head

  /** The branch's current head version. */
  def head(path: String, name: String): Int = versions(path, name).last

  def membersWithStats(
      path: String, name: String, version: Int): Seq[KvSnapshots.KvFileStat] =
    KvSnapshots.membersWithStatsIn(
      branchDir(path, name), version, s"branch '$name' of $path")

  /** Commit the next branch snapshot under the SAME OCC conditional-
    * put main commits use — two racing branch writers rebase against
    * each other exactly like main writers do.
    */
  def commit(path: String, name: String)(
      membership: Int => Seq[KvSnapshots.KvFileStat]): Int = {
    require(exists(path, name),
      s"no branch '$name' (branches: ${list(path).mkString(", ")})")
    KvSnapshots.commitWithIn(branchDir(path, name))(membership)
  }

  /** Drop a branch: its manifests vanish; data files staged only on
    * it become orphans reclaimable by `system.vacuum`. Returns the
    * head it was at.
    */
  def drop(path: String, name: String): Int = {
    val h = head(path, name) // also validates existence
    graft.Fs.deleteRecursivelyVerified(branchDir(path, name))
    h
  }

  /** Every file any branch manifest references — the reclamation
    * guard expire/vacuum union into their live sets.
    */
  def referencedFiles(path: String): Set[String] =
    list(path).flatMap { b =>
      versions(path, b).flatMap(v =>
        membersWithStats(path, b, v).map(_.name))
    }.toSet
}
