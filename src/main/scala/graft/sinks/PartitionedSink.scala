package graft.sinks

import graft.catalog.{CatalogClient, PartitionDef}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** S3/S4 — partitioned append write + distinct-partition registration
  * (reference: `write_dynamic_frame.from_catalog` with `partitionKeys`,
  * jdbc_incremental.py:222-229; format descriptors :327-361,130-152;
  * partition upsert :122-173).
  *
  * Spark's `partitionBy` writer emits the identical Hive `col=value/`
  * layout the reference builds by hand (jdbc_incremental.py:114-120).
  * Partition VALUES are stringified on registration, as the reference does
  * (`str(i)`, jdbc_incremental.py:156).
  */
object PartitionedSink {

  /** Format dispatch (S4). CSV matches the reference's descriptor: `,`
    * delimiter + header line (skip.header.line.count=1,
    * jdbc_incremental.py:149-152,411-412). Unknown formats raise
    * (jdbc_incremental.py:350-353).
    */
  def configureFormat[T](w: DataFrameWriter[T], format: String): DataFrameWriter[T] =
    format.toLowerCase match {
      case "parquet" => w.format("parquet")
      case "csv"     => w.format("csv").option("header", "true").option("delimiter", ",")
      case "json"    => w.format("json")
      case "orc"     => w.format("orc")
      case other     => throw new IllegalArgumentException(s"Unsupported format: $other")
    }

  /** Read-side counterpart of [[configureFormat]] (same dialect options).
    * CSV reads untyped (string columns) — sufficient for byte-preserving
    * rewrites like compaction; pass an explicit schema for typed reads.
    */
  def configureRead(r: org.apache.spark.sql.DataFrameReader, format: String): org.apache.spark.sql.DataFrameReader =
    format.toLowerCase match {
      case "parquet" => r.format("parquet")
      case "csv"     => r.format("csv").option("header", "true").option("delimiter", ",")
      case "json"    => r.format("json")
      case "orc"     => r.format("orc")
      case other     => throw new IllegalArgumentException(s"Unsupported format: $other")
    }

  /** Append `df` to `location`, Hive-partitioned by `partitionCols` (spec
    * order). No repartition is forced here: at scale the caller controls
    * file sizing; AQE coalescing keeps small batches from producing a
    * million tiny files.
    */
  def write(df: DataFrame, location: String, format: String, partitionCols: Seq[String]): Unit = {
    val w = configureFormat(df.write.mode("append"), format)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).save(location)
  }

  /** C4: registers the batch's distinct partition tuples (A1, computed by
    * the fused `BatchStats` aggregate — no extra pass over the batch; one
    * row per tuple in `partitionCols` order, none when unpartitioned) in
    * the catalog with stringified values and the reference's Hive-style
    * location (`<loc>/a=1/b=x/`, jdbc_incremental.py:114-120,156). The
    * driver-side loop matches the reference's collect
    * (jdbc_incremental.py:210-220).
    */
  def registerPartitions(
      tuples: Seq[Row],
      catalog: CatalogClient,
      db: String,
      table: String,
      location: String,
      partitionCols: Seq[String]
  ): Seq[PartitionDef] = {
    val defs = tuples.map { row =>
      // NULL partition values must use Spark/Hive's default-partition dir
      // name — stringifying to "null" would register a location the writer
      // never creates.
      val spec = partitionCols.zipWithIndex.map { case (k, i) =>
        k -> (if (row.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__" else String.valueOf(row.get(i)))
      }
      val path = spec.map { case (k, v) => s"$k=$v" }.mkString("/")
      PartitionDef(spec, s"${location.stripSuffix("/")}/$path/")
    }
    defs.foreach(catalog.addPartition(db, table, _))
    defs
  }
}
