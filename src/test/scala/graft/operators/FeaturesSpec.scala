package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.sources.Tables

class FeaturesSpec extends SparkSpecBase {

  import spark.implicits._

  test("minMaxNormalize maps every dimension onto [0,1] with both ends hit") {
    val out = Features.minMaxNormalize(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding")
    val byPos = out.groupBy("pos")
      .agg(min("x_norm").as("mn"), max("x_norm").as("mx"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(byPos.forall { case (mn, mx) => mn === 0.0 && mx === 1.0 })
  }

  test("constant dimensions normalize to 0.0, not NaN") {
    val df = Seq((1L, Seq(5.0, 1.0)), (2L, Seq(5.0, 3.0))).toDF("id", "v")
    val out = Features.minMaxNormalize(df, "id", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 0L)) === 0.0 && out((2L, 0L)) === 0.0)
    assert(out((1L, 1L)) === 0.0 && out((2L, 1L)) === 1.0)
  }
}
