package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generated cell store both KV workloads run on: `rows` lineitem-
  * shaped rows (rowkey 0 until rows), five qualifiers each, every value a
  * pure function of (seed, qualifier, rowkey).
  *
  * The layout is deterministic by construction: `spark.range` gives each
  * of `parts` partitions one contiguous rowkey block, and the cells of a
  * row are emitted in qualifier order, so the same inputs always write
  * byte-identical files — which is what lets an incremental snapshot share
  * the files a mutation did not touch. (A sampled `repartitionByRange`
  * would move the boundaries and share nothing.) */
object Cells {
  val Qualifiers: Seq[String] =
    Seq("l_comment", "l_discount", "l_extendedprice", "l_quantity", "l_shipdate")
  /** The qualifier a mutation rewrites. */
  val Mutated = "l_quantity"

  private val words = Seq("carefully", "final", "deposits", "haggle", "quickly", "regular",
    "ironic", "packages", "sleep", "furiously", "pending", "accounts", "blithely", "bold")

  private def h(seed: Long, tag: String): Column = xxhash64(lit(seed), lit(tag), col("rowkey"))
  private def pick(seed: Long, tag: String): Column =
    element_at(array(words.map(lit): _*), (pmod(h(seed, tag), lit(words.size.toLong)) + 1).cast("int"))

  private def values(seed: Long): Map[String, Column] = Map(
    "l_comment" -> concat_ws(" ", pick(seed, "c1"), pick(seed, "c2"), pick(seed, "c3")),
    "l_discount" -> (pmod(h(seed, "disc"), lit(11L)) / 100.0).cast("string"),
    "l_extendedprice" ->
      (lit(900.0) + pmod(h(seed, "ext"), lit(10410000L)) / 100.0).cast("string"),
    "l_quantity" -> (pmod(h(seed, "qty"), lit(50L)) + 1).cast("string"),
    "l_shipdate" ->
      date_add(lit("1995-01-02").cast("date"), pmod(h(seed, "ship"), lit(2499L)).cast("int"))
        .cast("string"))

  /** One row per rowkey, one column per qualifier. `mutated` = [lo, hi)
    * rewrites the [[Mutated]] qualifier of those rows to a value outside
    * its normal range, so every mutated cell differs from the original. */
  def wide(spark: SparkSession, seed: Long, rows: Long, parts: Int,
      mutated: Option[(Long, Long)] = None): DataFrame = {
    val v = values(seed)
    spark.range(0, rows, 1, parts).withColumnRenamed("id", "rowkey")
      .select(col("rowkey") +: Qualifiers.map { q =>
        val c = mutated match {
          case Some((lo, hi)) if q == Mutated =>
            when(col("rowkey") >= lo && col("rowkey") < hi,
              (pmod(h(seed, "mut"), lit(50L)) + 51).cast("string")).otherwise(v(q))
          case _ => v(q)
        }
        c.as(q)
      }: _*)
  }

  /** The (rowkey, qualifier, value) cells of a wide frame, row by row. */
  def cells(wide: DataFrame): DataFrame =
    wide.select(col("rowkey"), explode(array(Qualifiers.map(q =>
      struct(lit(q).as("qualifier"), col(q).as("value"))): _*)).as("c"))
      .select(col("rowkey"), col("c.qualifier").as("qualifier"), col("c.value").as("value"))

  /** Order-independent content checksum of a cell frame: its cell count and
    * the sum of a 31-bit hash of every cell. It reads every value, so the
    * connector cannot answer it from its stats index. */
  def checksum(cells: DataFrame): (Long, Long) = {
    val r = cells.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(col("rowkey"), col("qualifier"), col("value")),
        lit(2147483647L))), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  /** User bytes of a cell frame: 8 per rowkey plus the UTF-8 bytes of
    * qualifier and value — what the data is worth before any format. */
  def userBytes(cells: DataFrame): Long =
    cells.agg(sum(lit(8L) + octet_length(col("qualifier")) + octet_length(col("value"))))
      .first().getLong(0)
}
