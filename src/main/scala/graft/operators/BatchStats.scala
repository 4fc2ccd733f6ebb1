package graft.operators

import graft.config.{SortOrder, TableConfig}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NullType

/** Everything the ingest loop needs to know about a batch, computed in a
  * SINGLE aggregate job over the (persisted) batch: per-column non-null
  * counts (DropNullFields prepass, A2), the bookmark advance tuple (A3),
  * the row count, and the distinct partition tuples (A1, one row per
  * tuple in `cfg.partitionCols` order; empty for unpartitioned tables).
  * The reference takes a separate pass per concern; separate jobs here
  * would each re-traverse the cached batch.
  */
final case class BatchStats(
    rows: Long,
    allNullColumns: Seq[String],
    bookmark: Option[Map[String, String]],
    partitions: Seq[Row])

object BatchStats {

  def compute(batch: DataFrame, cfg: TableConfig): BatchStats = {
    // Bookmark and partition key columns are load-bearing downstream (the
    // incremental predicate and the sink layout) — they must never enter
    // the all-null drop set, even when a batch happens to carry only NULLs
    // in them (the target keeps the column; the write emits typed nulls).
    val protected_ = (cfg.bookmarkKeys ++ cfg.partitionCols).toSet
    val (nullTyped, candidates) = batch.schema.fields.partition(_.dataType == NullType)
    val countCols = candidates.toSeq.map(f => count(col(f.name)))
    val bkTuple = struct(cfg.bookmarkKeys.map(col): _*)
    val bkAgg = cfg.sortOrder match {
      case SortOrder.Asc  => max(bkTuple)
      case SortOrder.Desc => min(bkTuple)
    }
    // a struct of NULL partition values is itself non-null, so collect_set
    // keeps the tuple that lands in the default partition
    val partAgg =
      if (cfg.partitionCols.isEmpty) Nil
      else Seq(collect_set(struct(cfg.partitionCols.map(col): _*)).as("_parts"))
    val aggs = countCols ++ Seq(bkAgg.as("_bk"), count(lit(1)).as("_n")) ++ partAgg
    val row: Row = batch.agg(aggs.head, aggs.tail: _*).head()
    val allNull = (candidates.zipWithIndex.collect {
      case (f, i) if row.getLong(i) == 0L => f.name
    }.toSeq ++ nullTyped.map(_.name)).filterNot(protected_)
    val bkIdx = countCols.size
    val rows = row.getLong(bkIdx + 1)
    val bookmark =
      if (row.isNullAt(bkIdx)) None
      else {
        val bk = row.getStruct(bkIdx)
        // max/min over a struct treats struct(null,…) as a non-null value,
        // so an all-null key column would otherwise stage the literal
        // string "null" — which the next run's predicate casts back to
        // NULL, filtering every row forever. Any null field ⇒ no advance.
        if (cfg.bookmarkKeys.indices.exists(bk.isNullAt)) None
        else Some(cfg.bookmarkKeys.zipWithIndex.map { case (k, i) =>
          k -> String.valueOf(bk.get(i))
        }.toMap)
      }
    val partitions = if (partAgg.isEmpty) Nil else row.getSeq[Row](bkIdx + 2)
    BatchStats(rows, allNull, bookmark, partitions)
  }
}
