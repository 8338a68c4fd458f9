package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class LayoutSpec extends SparkSpecBase {

  import spark.implicits._

  /** The z-ordered layout: `nFiles` range partitions of the Morton key
    * over `cols`, each sorted by it — range (not hash) partitioning keeps
    * the key space contiguous per file, which bounds every file's
    * min/max extent in each source dimension. */
  private def writeZOrdered(df: DataFrame, cols: Seq[String], nFiles: Int,
      path: String, bitsPer: Int): Unit =
    df.withColumn("__z", Layout.zorderKey(cols.map(col), bitsPer))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  test("zorderKey is a bijection on the bit-bounded grid") {
    val n = 32
    val grid = for { x <- 0 until n; y <- 0 until n } yield (x.toLong, y.toLong)
    val keys = grid.toDF("x", "y")
      .select(Layout.zorderKey(col("x"), col("y"), bitsPer = 5).as("z"))
      .collect().map(_.getLong(0))
    assert(keys.distinct.length === n * n, "interleave must not collide")
    assert(keys.min === 0L && keys.max === (1L << 10) - 1,
      "keys must cover exactly the 2·bitsPer-bit range")
  }

  test("n-column zorderKey: bijection on a 3-d grid, 2-column form unchanged") {
    val grid3 = for { x <- 0 until 8; y <- 0 until 8; z <- 0 until 8 }
      yield (x.toLong, y.toLong, z.toLong)
    val keys = grid3.toDF("x", "y", "z")
      .select(Layout.zorderKey(Seq(col("x"), col("y"), col("z")), bitsPer = 3).as("k"))
      .collect().map(_.getLong(0))
    assert(keys.distinct.length === 512, "3-d interleave must not collide")
    assert(keys.min === 0L && keys.max === 511L,
      "keys must cover exactly the 3·bitsPer-bit range")
    // the Seq form at n=2 is bit-identical to the oracle-gated 2-col form
    val grid2 = (for { x <- 0 until 16; y <- 0 until 16 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val both = grid2.select(
      Layout.zorderKey(col("x"), col("y"), bitsPer = 4).as("a"),
      Layout.zorderKey(Seq(col("x"), col("y")), bitsPer = 4).as("b"))
      .filter(col("a") =!= col("b"))
    assert(both.isEmpty)
  }

  test("3-column z-order layout bounds per-file extent in ALL THREE dimensions") {
    // uniform 16×16×16 grid: ids 0..4095
    val df = (0L until 4096L).map(i => (i % 16, (i / 16) % 16, i / 256))
      .toDF("x", "y", "z")
    val dir = Files.createTempDirectory("graft_zorder3").toString

    def meanExtents(path: String): Seq[Double] = {
      val byFile = spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg((max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"),
          (max("z") - min("z")).as("zr"))
        .collect()
      (1 to 3).map(i => byFile.map(_.getLong(i)).sum.toDouble / byFile.length)
    }

    writeZOrdered(df, Seq("x", "y", "z"), nFiles = 16, path = s"$dir/z3", bitsPer = 4)
    val Seq(zx, zy, zz) = meanExtents(s"$dir/z3")
    // single-column-sort baseline: perfect on x, useless on y and z
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$dir/x")
    val Seq(_, sy, sz) = meanExtents(s"$dir/x")

    // 16 files over a 12-bit key space = 256 consecutive Morton codes per
    // file, a box of at most half the range per axis; the baseline leaves
    // y and z at the full 15 range
    assert(zx <= 8 && zy <= 8 && zz <= 8, s"z-order extents ($zx, $zy, $zz) not bounded")
    assert(sy >= 13 && sz >= 13, s"baseline should be unclustered in y/z, got ($sy, $sz)")
  }

  test("z-order layout bounds per-file extent in BOTH dimensions") {
    // uniform 2-d grid: ids 0..4095 mapped to (x = id % 64, y = id / 64)
    val df = (0L until 4096L).map(i => (i % 64, i / 64)).toDF("x", "y")
    val dir = Files.createTempDirectory("graft_zorder").toString

    def meanExtents(path: String): (Double, Double) = {
      val byFile = spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg((max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"))
        .collect()
      (byFile.map(_.getLong(1)).sum.toDouble / byFile.length,
        byFile.map(_.getLong(2)).sum.toDouble / byFile.length)
    }

    writeZOrdered(df, Seq("x", "y"), nFiles = 16, path = s"$dir/z", bitsPer = 6)
    val (zx, zy) = meanExtents(s"$dir/z")

    // the single-column-sort baseline: perfect on x, useless on y
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$dir/x")
    val (sx, sy) = meanExtents(s"$dir/x")

    // z-order: both extents well under the global 63; single-sort: y
    // extent stays at the global range (no pruning on that axis)
    assert(zx <= 32 && zy <= 32, s"z-order extents ($zx, $zy) not bounded")
    assert(sy >= 55, s"baseline should be unclustered in y, got $sy")
    assert(zy < sy / 2, s"z-order y-extent $zy must beat single-sort $sy")
  }
}
