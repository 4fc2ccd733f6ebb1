package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.StructType

/** CatalogClient over the Spark session catalog (C1–C6 on a real
  * metastore; the reference's Glue Data Catalog equivalent,
  * jdbc_incremental.py:308-503).
  *
  * DDL goes through `spark.sql` where the statement exists; schema
  * evolution uses `SessionCatalog.alterTableDataSchema` because our merge
  * semantics (§1.2: in-place type updates, retained dropped columns,
  * appended new columns — order preserved) are stricter than what
  * `ALTER TABLE ADD COLUMNS` alone can express.
  */
class SparkCatalogClient(spark: SparkSession) extends CatalogClient {

  private def ident(db: String, table: String) = TableIdentifier(table, Some(db))
  private def q(db: String, table: String) = s"`$db`.`$table`"

  def ensureDatabase(db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  def tableExists(db: String, table: String): Boolean =
    // backtick-quote like every other path: the string form is parsed as a
    // multipart identifier, so a hyphenated db or dotted table name would
    // throw/mis-resolve unquoted
    spark.catalog.tableExists(q(db, table))

  def getTable(db: String, table: String): TableDef = {
    val meta = spark.sessionState.catalog.getTableMetadata(ident(db, table))
    val partCols = meta.partitionColumnNames
    val dataSchema = StructType(meta.schema.fields.filterNot(f => partCols.contains(f.name)))
    val partSchema = StructType(partCols.map(c => meta.schema(c)))
    TableDef(db, table, dataSchema, partSchema,
      meta.location.toString, meta.provider.getOrElse("parquet"),
      meta.properties)
  }

  def createTable(t: TableDef): Unit = {
    ensureDatabase(t.database)
    val cols = (t.schema.fields ++ t.partitionKeys.fields)
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val partBy =
      if (t.partitionKeys.isEmpty) ""
      else t.partitionKeys.fields.map(f => s"`${f.name}`").mkString("PARTITIONED BY (", ", ", ")")
    val props =
      if (t.parameters.isEmpty) ""
      else t.parameters.toSeq.sortBy(_._1)
        .map { case (k, v) => s"'${k.replace("'", "''")}'='${v.replace("'", "''")}'" }
        .mkString("TBLPROPERTIES (", ", ", ")")
    spark.sql(
      s"""CREATE TABLE ${q(t.database, t.name)} ($cols)
         |USING ${t.format} $partBy LOCATION '${t.location.replace("'", "''")}' $props""".stripMargin)
  }

  /** Applies the (already merged) data schema; partition columns stay. */
  def updateTable(t: TableDef): Unit =
    spark.sessionState.catalog.alterTableDataSchema(ident(t.database, t.name), t.schema)

  def listTables(db: String): Seq[String] =
    spark.catalog.listTables(db).collect().map(_.name).toSeq

  def addPartition(db: String, table: String, p: PartitionDef): Unit = {
    val spec = p.spec.map { case (k, v) => s"`$k`='${v.replace("'", "''")}'" }.mkString(", ")
    spark.sql(
      s"ALTER TABLE ${q(db, table)} ADD IF NOT EXISTS PARTITION ($spec)" +
        s" LOCATION '${p.location.replace("'", "''")}'")
  }

  def setTableProperties(db: String, table: String, props: Map[String, String]): Unit = {
    val kv = props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"'${k.replace("'", "''")}'='${v.replace("'", "''")}'" }
      .mkString(", ")
    spark.sql(s"ALTER TABLE ${q(db, table)} SET TBLPROPERTIES ($kv)")
  }

  /** Persistent VIEW in the session catalog: the stored text re-resolves
    * at read time, so queries through it see the backing table's current
    * data and still get predicate pushdown/pruning into the underlying
    * scan (the view is inlined during analysis, not materialized).
    */
  def createView(db: String, view: String, viewSql: String): Unit =
    spark.sql(s"CREATE OR REPLACE VIEW ${q(db, view)} AS $viewSql")

  def dropView(db: String, view: String): Unit =
    spark.sql(s"DROP VIEW IF EXISTS ${q(db, view)}")
}
