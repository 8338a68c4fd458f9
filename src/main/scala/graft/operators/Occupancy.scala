package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucket-occupancy observability for the banded/bucketed operators
  * (MinHash/SimHash bands, LSH buckets, IVF cells).
  *
  * Why this exists: those operators bound per-bucket work via a
  * hot-bucket guard (see BandIndex.pairs / SimilaritySearch), whose
  * posture constants assume ~uniform occupancy. Real corpora are
  * clustered — boilerplate near-dup groups, dense semantic clusters —
  * and the operator a 100 TB run needs is the one that can REPORT its
  * skew regime before (or instead of) hitting it: a max/p99 occupancy
  * far above the expected bucket size is the signal to re-band, raise
  * nBits/nCentroids, or accept the guard's chaining semantics.
  *
  * Zero cost when unused: this is a separate diagnostic query over the
  * operator's exposed bucket-key projection (Dedup.minhashBanded,
  * Dedup.simhashBanded, SimilaritySearch.lshBuckets,
  * SimilaritySearch.ivfBuckets) — the operators themselves carry no
  * instrumentation. Scale shape: one map-side-combinable count per
  * bucket, then a single-row summary whose p99 uses the fixed-size
  * approx_percentile sketch (an exact percentile would buffer every
  * bucket count).
  */
object Occupancy {

  /** One-row occupancy summary over `members` grouped by `keyCols`:
    * `(n_buckets, max_occ, p99_occ, avg_occ, n_over)` where `n_over`
    * counts buckets above `hotThreshold` (pass the operator's guard cap
    * to see how many buckets the guard would touch). */
  def stats(members: DataFrame, hotThreshold: Long, keyCols: String*): DataFrame =
    members
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("occ"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("occ")).as("max_occ"),
        percentile_approx(col("occ"), lit(0.99), lit(10000)).as("p99_occ"),
        round(avg(col("occ")), 2).as("avg_occ"),
        sum(when(col("occ") > hotThreshold, 1L).otherwise(0L)).as("n_over"))
}
