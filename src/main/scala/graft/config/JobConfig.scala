package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Per-table ingest configuration.
  *
  * Mirrors the reference's `table_config` JSON entries
  * (jdbc_incremental.py:525-550): `tableName`, `bookmarkKeys` (list of
  * monotonic key columns), `sortOrder` ("ASC"|"DESC"), optional
  * `partitionSpec` ("a/b" — slash-separated, order significant,
  * jdbc_incremental.py:45,96-102).
  */
final case class TableConfig(
    tableName: String,
    bookmarkKeys: Seq[String],
    sortOrder: SortOrder,
    partitionSpec: Option[String] = None
) {
  /** Partition columns in spec order (jdbc_incremental.py:96-102). */
  def partitionCols: Seq[String] =
    partitionSpec.toSeq.flatMap(_.split("/").toSeq).filter(_.nonEmpty)
}

sealed trait SortOrder
object SortOrder {
  case object Asc extends SortOrder
  case object Desc extends SortOrder
  def parse(s: String): SortOrder = s.toUpperCase match {
    case "ASC"  => Asc
    case "DESC" => Desc
    case other  => throw new ConfigError(s"invalid sortOrder '$other' (need ASC|DESC)")
  }
}

class ConfigError(msg: String) extends RuntimeException(msg)

/** Job-level argument surface (jdbc_incremental.py:238-306, minus AWS-isms). */
final case class JobConfig(
    jobName: String,
    sourceTablePrefix: String,
    targetLocation: String,
    targetDatabase: String,
    targetFormat: String, // parquet | csv | json (jdbc_incremental.py:350-353)
    tables: Seq[TableConfig],
    targetTablePrefix: String = "",
    jobIndex: Int = 0,
    numJobs: Int = 1,
    hashField: Option[String] = None,
    hashPartitions: Option[Int] = None
) {
  JobConfig.validateFormat(targetFormat)
}

object JobConfig {
  private val mapper = new ObjectMapper()

  val SupportedFormats: Set[String] = Set("parquet", "csv", "json")

  /** Unknown formats raise, as in the reference (jdbc_incremental.py:350-353). */
  def validateFormat(fmt: String): Unit =
    if (!SupportedFormats.contains(fmt.toLowerCase))
      throw new ConfigError(s"Unsupported target format: $fmt")

  /** Parses the `table_config` JSON list. Missing `bookmarkKeys` or
    * `sortOrder` is an error (jdbc_incremental.py:541-546).
    */
  def parseTableConfig(json: String): Seq[TableConfig] = {
    val root = mapper.readTree(json)
    if (!root.isArray) throw new ConfigError("table_config must be a JSON array")
    root.elements().asScala.map { node =>
      val name = reqText(node, "tableName")
      val keysNode = node.get("bookmarkKeys")
      if (keysNode == null || !keysNode.isArray || !keysNode.elements().hasNext)
        throw new ConfigError(s"Bookmark keys must be provided for table $name")
      val keys = keysNode.elements().asScala.map(_.asText).toSeq
      val sortNode = node.get("sortOrder")
      if (sortNode == null)
        throw new ConfigError(s"Sort order must be provided for table $name")
      val spec = Option(node.get("partitionSpec")).filterNot(_.isNull).map(_.asText)
      TableConfig(name, keys, SortOrder.parse(sortNode.asText), spec)
    }.toSeq
  }

  private def reqText(node: JsonNode, field: String): String = {
    val v = node.get(field)
    if (v == null || v.isNull) throw new ConfigError(s"missing required field '$field'")
    v.asText
  }
}
