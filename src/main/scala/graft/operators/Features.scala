package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.asDoubles

/** Feature-space preprocessing for embedding columns — the
  * normalization pass before clustering/ANN indexing when dimensions
  * carry different scales.
  *
  * Min-max is chosen over z-score deliberately: per-dimension min/max
  * are EXACT (order-independent) aggregates and the rescale is one
  * correctly-rounded subtract + divide, so normalized values are
  * bit-deterministic across engines and partitionings — z-score's
  * variance sum is not. Scale: one explode + a dimension-keyed
  * aggregate (dim rows out, broadcast back), all map-side combinable.
  */
object Features {

  /** Per-dimension min-max normalization, exploded form:
    * (id, pos, x_norm) with x_norm = (x − min_pos)/(max_pos − min_pos).
    * A constant dimension (max = min) normalizes to 0.0 rather than
    * NaN. */
  def minMaxNormalize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = df.select(col(idCol),
      posexplode(asDoubles(col(vecCol))).as(Seq("pos", "x")))
    val stats = e.groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
    e.join(broadcast(stats), "pos")
      .select(col(idCol), col("pos").cast("long").as("pos"),
        when(col("mx") === col("mn"), lit(0.0))
          .otherwise((col("x") - col("mn")) / (col("mx") - col("mn")))
          .as("x_norm"))
  }
}
