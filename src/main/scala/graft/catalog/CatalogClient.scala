package graft.catalog

import org.apache.spark.sql.types.StructType

/** Catalog table descriptor — the engine-side equivalent of the reference's
  * Glue `Table` dict (schema as ordered column list, partition keys, storage
  * location/format, free-form parameters; jdbc_incremental.py:90-109,363-422).
  *
  * `schema` holds the DATA columns only (partition columns are excluded from
  * the data-file schema, jdbc_incremental.py:104-109); `partitionKeys` holds
  * the partition columns in spec order.
  */
final case class TableDef(
    database: String,
    name: String,
    schema: StructType,
    partitionKeys: StructType,
    location: String,
    format: String,
    parameters: Map[String, String] = Map.empty
)

/** One partition: `spec` is (partition column, stringified value) in the
  * table's partition-column order; `values` is the value tuple alone.
  */
final case class PartitionDef(spec: Seq[(String, String)], location: String) {
  def values: Seq[String] = spec.map(_._2)
}

/** Metadata-plane contract (SURVEY §2.5, C1–C6). Implementations: an
  * in-memory one for tests and a Spark-session-catalog one for real runs.
  * The Lake Formation grant (G1) is a no-op hook here — out of engine scope.
  */
trait CatalogClient {
  def tableExists(db: String, table: String): Boolean // C1
  def getTable(db: String, table: String): TableDef
  def createTable(t: TableDef): Unit // C2
  def updateTable(t: TableDef): Unit // C3 carrier
  def listTables(db: String): Seq[String] // S5
  /** C4 upsert: create, fall back to update (jdbc_incremental.py:160-173). */
  def addPartition(db: String, table: String, p: PartitionDef): Unit
  def setTableProperties(db: String, table: String, props: Map[String, String]): Unit // C5
  /** G1 hook — governance grant on first creation; default no-op. */
  def grantAllToCreator(db: String, table: String, creatorArn: String): Unit = ()
}

/** Test/standalone implementation — plain maps, thread-safe enough for a
  * single driver. Persists nothing; the FileBookmarkStore carries cross-run
  * state instead.
  */
class InMemoryCatalog extends CatalogClient {
  private val tables = scala.collection.concurrent.TrieMap.empty[(String, String), TableDef]
  private val partitions =
    scala.collection.concurrent.TrieMap.empty[(String, String), Map[Seq[String], PartitionDef]]

  def tableExists(db: String, table: String): Boolean = tables.contains((db, table))
  def getTable(db: String, table: String): TableDef =
    tables.getOrElse((db, table), throw new NoSuchElementException(s"$db.$table"))
  def createTable(t: TableDef): Unit = {
    if (tableExists(t.database, t.name))
      throw new IllegalStateException(s"table exists: ${t.database}.${t.name}")
    tables((t.database, t.name)) = t
  }
  def updateTable(t: TableDef): Unit = tables((t.database, t.name)) = t
  def listTables(db: String): Seq[String] =
    tables.keys.collect { case (d, t) if d == db => t }.toSeq.sorted
  def addPartition(db: String, table: String, p: PartitionDef): Unit = {
    val k = (db, table)
    partitions(k) = partitions.getOrElse(k, Map.empty) + (p.values -> p)
  }
  def setTableProperties(db: String, table: String, props: Map[String, String]): Unit = {
    val t = getTable(db, table)
    updateTable(t.copy(parameters = t.parameters ++ props))
  }
  def listPartitions(db: String, table: String): Seq[PartitionDef] =
    partitions.getOrElse((db, table), Map.empty).values.toSeq.sortBy(_.values.mkString("/"))
}
