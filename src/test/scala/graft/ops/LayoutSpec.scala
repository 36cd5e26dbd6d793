package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zorderKey: hand-computed interleaves") {
    val got = Seq((3L, 1L), (1L, 3L), (0L, 0L), (1L, 0L), (0L, 1L))
      .toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorderKey(col("x"), col("y")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // x on even bit positions, y on odd: z(3,1)=0b0111, z(1,3)=0b1011
    assert(got((3L, 1L)) == 7L, got.toString)
    assert(got((1L, 3L)) == 11L)
    assert(got((0L, 0L)) == 0L && got((1L, 0L)) == 1L && got((0L, 1L)) == 2L)
  }

  test("z-ordered range partitions are rectangles: BOTH dims localize, not just the sort dim") {
    // 100×100 grid; 16 partitions. A single-dim sort localizes x but
    // leaves every partition spanning the full y range; the z-order
    // key must shrink the summed y-extent several-fold.
    val grid = (0L until 10000L).map(i => (i % 100, i / 100)).toDF("x", "y")
    def summedRanges(df: org.apache.spark.sql.DataFrame, sortCol: org.apache.spark.sql.Column) = {
      val parts = df
        .repartitionByRange(16, sortCol)
        .mapPartitions { it =>
          val rows = it.toSeq
          if (rows.isEmpty) Iterator.empty
          else {
            val xs = rows.map(_.getLong(0)); val ys = rows.map(_.getLong(1))
            Iterator((xs.max - xs.min, ys.max - ys.min))
          }
        }(org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
        .collect()
      (parts.map(_._1).sum, parts.map(_._2).sum)
    }
    val zed = grid.withColumn("zkey", Layout.zorderKey(col("x"), col("y")))
    val (_, zY) = summedRanges(zed.select("x", "y", "zkey"), col("zkey"))
    val (_, xY) = summedRanges(grid.withColumn("zkey", col("x") * 1000 + col("y")).select("x", "y", "zkey"), col("zkey"))
    assert(zY * 2 < xY, s"z-order must localize y: summed y-extent $zY vs x-sorted $xY")
  }

  test("writeZordered round-trips the rows and lands one rectangle per file") {
    val dir = tempDir("graft_zorder").resolve("t").toString
    val grid = (0L until 400L).map(i => (i % 20, i / 20)).toDF("x", "y")
    Layout.writeZordered(grid, "x", "y", nFiles = 4, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 400)
    assert(back.select("x", "y").distinct().count() == 400)
  }
}
