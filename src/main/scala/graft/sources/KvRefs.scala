package graft.sources

import java.nio.file.{Files, Paths}

/** Named snapshot TAGS for kv tables — the Iceberg ref model's
  * read-only half: a tag pins a human name to a manifest version
  * (`training-data-v1` → v7), readable as
  *
  * {{{ SELECT * FROM t VERSION AS OF 'training-data-v1' }}}
  *
  * and protected from reclamation: `expire_snapshots` keeps every
  * tagged version's manifest (and therefore its files) alive however
  * old it gets — the lineage contract a 100 TB training pipeline
  * needs (the dataset a model shipped from must stay readable until
  * someone explicitly drops the tag).
  *
  * Registry: `_refs.json` beside the table's `_meta.json`, written
  * atomically (temp + rename), single-writer DDL like the rest of the
  * catalog metadata. Tag names are identifier-ish
  * (`[A-Za-z0-9._-]+`, no quotes to escape) and must not parse as an
  * integer — `VERSION AS OF 3` must stay an unambiguous version pin.
  */
object KvRefs {

  val FileName = "_refs.json"

  private val NameRe = "[A-Za-z0-9._-]+".r

  def validName(name: String): Boolean =
    NameRe.matches(name) && name.toIntOption.isEmpty

  def read(dir: String): Map[String, Int] = {
    val p = Paths.get(dir, FileName)
    if (!Files.isRegularFile(p)) Map.empty
    else {
      val s = new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim
      require(s.startsWith("""{"tags":{""") && s.endsWith("}}"),
        s"corrupt $FileName in $dir: $s")
      """"([A-Za-z0-9._-]+)":(\d+)""".r.findAllMatchIn(
        s.stripPrefix("""{"tags":""")).map(m =>
        m.group(1) -> m.group(2).toInt).toMap
    }
  }

  private def write(dir: String, tags: Map[String, Int]): Unit = {
    val body = tags.toSeq.sortBy(_._1)
      .map { case (n, v) => s""""$n":$v""" }
      .mkString("""{"tags":{""", ",", "}}")
    graft.Fs.replaceAtomically(Paths.get(dir, FileName),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Create a tag. Fails on an invalid name, an existing tag (drop it
    * first — silent re-pointing would move what a reader believes is
    * immutable), or an unretained version.
    */
  def tag(dir: String, name: String, version: Int): Unit = {
    require(validName(name),
      s"invalid tag name '$name' (letters, digits, . _ -, and not an " +
        "integer — integers are version pins)")
    val tags = read(dir)
    require(!tags.contains(name),
      s"tag '$name' already exists (at v${tags(name)}) — drop it " +
        "first; tags are immutable pins, not movable pointers")
    require(!KvBranches.exists(dir, name),
      s"a BRANCH named '$name' exists — tags and branches share the " +
        "VERSION AS OF namespace")
    val have = KvSnapshots.versions(dir)
    require(have.contains(version),
      s"cannot tag v$version: not a retained snapshot " +
        s"(versions: ${have.mkString(", ")})")
    write(dir, tags + (name -> version))
  }

  /** Drop a tag; returns the version it pinned. Fails on unknown. */
  def dropTag(dir: String, name: String): Int = {
    val tags = read(dir)
    val v = tags.getOrElse(name,
      throw new IllegalArgumentException(
        s"no tag '$name' (tags: ${tags.keys.toSeq.sorted.mkString(", ")})"))
    write(dir, tags - name)
    v
  }

  /** Resolve a tag to its version, if the name is a known tag. */
  def resolve(dir: String, name: String): Option[Int] =
    read(dir).get(name)

  /** Versions protected from expiration. */
  def taggedVersions(dir: String): Set[Int] = read(dir).values.toSet
}
