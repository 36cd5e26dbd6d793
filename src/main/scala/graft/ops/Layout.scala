package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Multi-dimensional data layout: Z-ORDER (Morton) keys for
  * data-skipping file organization — the technique behind Delta's
  * `OPTIMIZE ZORDER BY` and Iceberg's sort-order rewrite, re-expressed
  * as a plain integer expression + `repartitionByRange` write.
  *
  * WHY at 100 TB: min/max footer stats prune a scan only along the
  * sort column; sorting by (a, b) prunes a-predicates but leaves
  * b-predicates reading every file. Interleaving the BITS of both
  * dimensions into one key makes file ranges into rectangles of the
  * (a, b) space, so selective predicates on EITHER dimension skip most
  * files — the property [[LayoutSpec]] measures empirically (summed
  * per-partition dim ranges shrink vs the single-dim sort).
  *
  * The key is pure integer arithmetic (21 bits per dimension → a
  * 42-bit BIGINT key, term-by-term identical in Spark and DuckDB), so
  * the layout decision is oracle-gatable like any other operator.
  * Inputs are expected pre-normalized to non-negative integers (rank
  * or bucket ids at production scale — computing those is the
  * caller's one-pass quantile job); bits above 21 are masked off so a
  * wild value cannot corrupt a neighbor's interleave.
  */
object Layout {
  import Fixtures._

  private val bitsPerDim = 21

  /** Morton-interleave two non-negative integer columns (low
    * [[bitsPerDim]] bits each): x occupies even bit positions, y odd.
    */
  def zorderKey(x: Column, y: Column): Column = {
    val terms = (0 until bitsPerDim).flatMap { i =>
      Seq(
        shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      )
    }
    terms.reduce(_ + _).as("zkey")
  }

  /** The DuckDB-side text of the same interleave (term-by-term the
    * same arithmetic — `((x >> i) & 1) << s` per bit).
    */
  private[ops] def zorderDuckSql(x: String, y: String): String =
    (0 until bitsPerDim)
      .flatMap { i =>
        Seq(
          s"((($x >> $i) & 1) << ${2 * i})",
          s"((($y >> $i) & 1) << ${2 * i + 1})"
        )
      }
      .mkString(" + ")

  /** Z-ordered layout write: range-partition by the interleaved key
    * (one range shuffle, same cost class as a single-dim sort write)
    * so each output file covers a RECTANGLE of the key space.
    */
  def writeZordered(df: DataFrame, xCol: String, yCol: String, nFiles: Int, dir: String): Unit =
    df.withColumn("zkey", zorderKey(col(xCol), col(yCol)))
      .repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions("zkey")
      .write
      .mode("overwrite")
      .parquet(dir)

  /** Gate: the interleaved key for (doc_id, n_chars) — bit arithmetic
    * identical in both engines.
    */
  val zorderKeyQ: Q = (s, d) =>
    documents(s, d)
      .select(
        col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        zorderKey(col("doc_id"), col("n_chars"))
      )
      .orderBy("doc_id")

  lazy val registry: Seq[Query] = Seq(
    Query("zorder_key", zorderKeyQ,
      s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(${zorderDuckSql("doc_id", "n_chars")} AS BIGINT) AS zkey
         |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
