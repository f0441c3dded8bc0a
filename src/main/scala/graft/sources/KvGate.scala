package graft.sources

import org.apache.spark.sql.SparkSession

/** A kv gate's table: `name` is the session-scoped table name, and
  * the handle renders every form of it a gate writes. Interpolated
  * into SQL it is the qualified `graft_kv.default.<name>`.
  */
final case class KvGateTable(name: String) {
  val qualified: String = s"${KvGate.Catalog}.default.$name"
  override def toString: String = qualified

  /** The `table => 'default.<name>'` argument of a
    * `CALL graft_kv.system.*` procedure.
    */
  def arg: String = s"'default.$name'"

  /** A metadata table of this one: `meta("changes")` is
    * ``graft_kv.default.`<name>$changes` `` (also `snapshots`,
    * `files`, `partitions`, `refs`).
    */
  def meta(kind: String): String =
    s"${KvGate.Catalog}.default.`$name$$$kind`"

  /** The table's directory: `<warehouse>/default/<name>`, the layout
    * [[KvCatalog]] keeps.
    */
  def dir: String = s"${KvGate.warehouse}/default/$name"
}

/** The setup every kv gate shares: register the `graft_kv` catalog on
  * the session, then drop and create the gate's table under a name
  * scoped to the session ([[graft.Fs.sessionTable]]). A rerun in the
  * same session replaces its own table, so a long run in one session
  * keeps one copy per gate on disk; a sibling session running the same
  * gate at once builds its own table. Two invocations of one gate at
  * once within ONE session share the name and are not supported.
  */
object KvGate {
  val Catalog = "graft_kv"

  /** The run's warehouse, under the run's scratch root. */
  lazy val warehouse: String = s"${graft.Fs.root}/kv_wh"

  /** Point the session's `graft_kv` catalog at the run's warehouse. */
  private[graft] def register(s: SparkSession): Unit = {
    s.conf.set(s"spark.sql.catalog.$Catalog", classOf[KvCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$Catalog.warehouse", warehouse)
  }

  /** Drop and create `graft_kv.default.<base>_<session token>` with
    * `ddl` (the column list and any PARTITIONED BY / TBLPROPERTIES).
    */
  def table(
      s: SparkSession, base: String,
      ddl: String = "(key BIGINT, value STRING)"): KvGateTable = {
    register(s)
    val t = KvGateTable(graft.Fs.sessionTable(s, base))
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t $ddl")
    t
  }
}
