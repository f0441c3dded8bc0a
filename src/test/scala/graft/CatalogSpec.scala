package graft

/** Session-catalog surface: `saveAsTable` registers a managed table
  * that SHOW TABLES / DESCRIBE / the Catalog API all see, and reading
  * it back BY NAME is lossless (the `catalog_table` registered query
  * pins the values against the path-read oracle).
  */
class CatalogSpec extends SparkTestBase {

  // The registered query creates its table under the session's
  // namespace (see Fs.sessionTable).
  private lazy val Tbl = Fs.sessionTable(spark, "graft_nation_cat")

  test("saveAsTable table is visible to SHOW TABLES, DESCRIBE, Catalog API") {
    // Runs the registered query, which creates the catalog table.
    val result =
      SparkEntry.queries("catalog_table")(spark, sfDir).collect()
    assert(result.nonEmpty)

    val shown = spark.sql("SHOW TABLES").collect().map(_.getString(1))
    assert(shown.contains(Tbl), shown.mkString(","))

    val described = spark
      .sql(s"DESCRIBE TABLE $Tbl")
      .collect()
      .map(_.getString(0))
    assert(described.contains("n_name"), described.mkString(","))

    assert(spark.catalog.tableExists(Tbl))
    assert(
      spark.catalog.listTables().collect().map(_.name)
        .contains(Tbl))

    // By-name read equals the by-path read, row for row.
    val byName = spark.table(Tbl).count()
    val byPath = Tables.nation(spark, sfDir).count()
    assert(byName == byPath)
  }
}
