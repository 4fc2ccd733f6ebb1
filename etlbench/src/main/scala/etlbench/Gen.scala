package etlbench

import java.sql.Timestamp
import java.util.SplittableRandom

/** Seeded inputs. The same seed gives the same inputs; another seed gives
  * other values in the same shape (same row counts, partition values and
  * planted pairs).
  */
object Gen {
  def rng(seed: Long, parts: Any*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) => (h ^ p.##) * 0x100000001B3L))

  def word(r: SplittableRandom, min: Int, max: Int): String = {
    val len = min + r.nextInt(max - min + 1)
    val sb = new StringBuilder(len)
    (0 until len).foreach(_ => sb += ('a' + r.nextInt(26)).toChar)
    sb.result()
  }

  private val Regions = Seq("AMER", "EMEA", "APAC", "LATAM")
  private val EventTypes = Seq("click", "view", "purchase")
  private val Methods = Seq("CARD", "WIRE")

  private def baseMillis(seed: Long): Long =
    Timestamp.valueOf("2024-01-01 00:00:00").getTime + math.floorMod(seed, 1000L) * 86400000L

  /** Row `j` of batch `b` (of `n` rows) of a `JdbcDeltas` table. Keys
    * lead the row and depend on (b, j); the other values on (seed, j)
    * only. Keys grow with (b, j), or shrink for the DESC table, so the
    * last row of a batch holds the bookmark the job must commit.
    */
  def row(seed: Long, table: String, b: Int, j: Int, n: Int): Seq[Any] = {
    val r = rng(seed, table, j)
    val s = b.toLong * n + j
    table match {
      case "ORDERS" =>
        Seq(b, j.toLong, r.nextLong(1L, 150000L), math.round(r.nextDouble() * 1e6) / 100.0,
          if (r.nextBoolean()) "OPEN" else "SHIPPED", Regions(j % Regions.size), null)
      case "EVENTS" =>
        Seq(new Timestamp(baseMillis(seed) + s * 1000L), r.nextLong(1L, 50000L), EventTypes(j % EventTypes.size),
          r.nextDouble() * 100, word(r, 16, 60))
      case "LEDGER" =>
        Seq(1000000000000L - s, r.nextLong(1L, 9999L), BigDecimal(r.nextLong(-500000L, 500000L), 2),
          word(r, 8, 40))
      case "PAYMENTS" =>
        Seq(s, Methods(j % Methods.size), math.round(r.nextDouble() * 1e5) / 100.0, word(r, 12, 24), null)
    }
  }
}
