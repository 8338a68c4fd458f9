package graft.tools

/** Diagnostic main: print the bucket-occupancy summaries
  * (Occupancy.stats) for every banded/bucketed operator surface at each
  * testdata SF — the tool that validates the hot-bucket guard caps
  * (Dedup.DefaultMaxBucket, SimilaritySearch.DefaultMaxBucketOccupancy)
  * stay dormant at gated fixture scales, and the pre-flight a 100 TB
  * run would use to detect the skew regime before hitting it.
  * `runMain graft.tools.OccupancyProbe [dirs…]`. */
object OccupancyProbe {
  def main(args: Array[String]): Unit = {
    import graft.operators.{Dedup, Occupancy, SimilaritySearch}
    import graft.sources.Tables
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local("graft-occupancy-probe")
    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val r = df.collect().head
      println(f"  $name%-22s n_buckets=${r.getLong(0)}%-8d max=${r.getLong(1)}%-6d " +
        f"p99=${r.getLong(2)}%-6d avg=${r.getDouble(3)}%-8.2f over_cap=${r.getLong(4)}")
    }
    for (dir <- dirs) {
      println(s"$dir:")
      val docs = Tables.documents(spark, dir)
      val emb = Tables.embeddings(spark, dir)
      val dedupCap = Dedup.DefaultMaxBucket.toLong
      val annCap = SimilaritySearch.DefaultMaxBucketOccupancy.toLong
      show("minhash bands", Occupancy.stats(
        Dedup.minhashBanded(docs, "doc_id", "text"), dedupCap, "band", "bkey"))
      show("simhash bands", Occupancy.stats(
        Dedup.simhashBanded(docs, "doc_id", "text"), dedupCap, "band", "bkey"))
      // the KNOWN-skewed banding: DCT sign bits are biased, so expect
      // occupied buckets ≪ 9·2^7 and a hot head — the regime dd_phash's
      // guard chains in at scale (see PerceptualHash.phashBanded)
      show("phash bands", Occupancy.stats(
        graft.operators.PerceptualHash.phashBanded(
          graft.operators.Multimodal.syntheticImagesFromText(
            docs.filter(org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.lit(3)) === 0),
            "doc_id", "text")),
        dedupCap, "band", "bkey"))
      for (bits <- Seq(1, 4, 6, 0)) {
        val label = if (bits == 0) "lsh scaled" else s"lsh nBits=$bits"
        show(label, Occupancy.stats(
          SimilaritySearch.lshBuckets(emb, "vec_id", "embedding", dim = 64, nBits = bits),
          annCap, "bucket"))
      }
      // gated fixture cells (16) and the corpus-scaled posture (0);
      // visitor load = members + probes per cell (the group the operator
      // actually materializes)
      for (nc <- Seq(16, 0)) {
        val label = if (nc == 0) "ivf scaled" else s"ivf cells=$nc"
        show(label, Occupancy.stats(
          SimilaritySearch.ivfBuckets(emb, "vec_id", "embedding", dim = 64, nCentroids = nc),
          annCap, "bucket"))
      }
    }
    spark.stop()
  }
}
