package graft.operators

import graft.config.{SortOrder, TableConfig}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

/** P4 — the incremental bookmark predicate (reference: `jobBookmarkKeys`
  * + `jobBookmarkKeysSortOrder`, jdbc_incremental.py:175-184; new value
  * committed at job end, :639).
  *
  * The filter is a plain Catalyst predicate, so it PUSHES DOWN: to the
  * parquet scan (`PushedFilters`) for file sources, and into the generated
  * source query for JDBC. At 100 TB this is the difference between reading
  * the delta and reading the world.
  *
  * Composite keys use lexicographic comparison, consistent with an ordered
  * scan over (k1, k2, …): `(k1 > b1) OR (k1 = b1 AND k2 > b2) OR …` —
  * each disjunct is still pushdown-eligible. Under DESC the comparison
  * flips, and the advance (A3, in [[BatchStats]]) is `min` instead of
  * `max` (jdbc_incremental.py:175-179). Late rows sorting below the
  * committed bookmark are silently never ingested — the reference's
  * late-data semantics (SURVEY §2.4).
  */
object Bookmarks {

  /** Typed bookmark predicate; `bookmark` holds stringified values that are
    * cast to each key column's type before comparing.
    */
  def predicate(df: DataFrame, cfg: TableConfig, bookmark: Map[String, String]): Option[Column] = {
    if (bookmark.isEmpty) return None
    val gt: (Column, Column) => Column = cfg.sortOrder match {
      case SortOrder.Asc  => _ > _
      case SortOrder.Desc => _ < _
    }
    val typed: Seq[(Column, Column)] = cfg.bookmarkKeys.map { k =>
      // case-insensitive field resolution, matching Spark's analyzer (JDBC
      // databases often fold unquoted identifiers to upper case)
      val field = df.schema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"bookmark key '$k' not in schema ${df.schema.fieldNames.mkString(", ")}"))
      (col(field.name), lit(bookmark(k)).cast(field.dataType))
    }
    // lexicographic strict-greater over the key tuple
    val clauses = typed.indices.map { i =>
      val eqPrefix = typed.take(i).map { case (c, b) => c === b }
      val (ci, bi) = typed(i)
      (eqPrefix :+ gt(ci, bi)).reduce(_ && _)
    }
    Some(clauses.reduce(_ || _))
  }

  def filterNew(df: DataFrame, cfg: TableConfig, bookmark: Map[String, String]): DataFrame =
    predicate(df, cfg, bookmark).map(df.filter).getOrElse(df)
}
