package graft.tools

/** Diagnostic main: print the Bench recall metrics (production-posture
  * ANN + MinHash pair recall vs exact ground truth) for each testdata
  * SF — the tool used to choose and re-validate RecallSpec's asserted
  * floors when knobs change. `runMain graft.tools.RecallProbe [dirs…]`. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local("graft-recall-probe")
    for (dir <- dirs) {
      val t0 = System.nanoTime()
      val r = graft.Bench.measureRecall(spark, dir)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"$dir  (${secs}%.1f s)")
      r.foreach { case (k, v) => println(f"  $k%-16s $v%.4f") }
    }
    // knob sweep mode: SPARK_GRAFT_RECALL_SWEEP=1 prints recall across
    // nTables / nProbe / bucket-size settings to re-choose the posture
    if (sys.env.get("SPARK_GRAFT_RECALL_SWEEP").contains("1")) {
      import graft.operators.{Recall, SimilaritySearch}
      import graft.sources.Tables
      for (dir <- dirs) {
        val emb = Tables.embeddings(spark, dir)
        val n = emb.count()
        val k = 3
        val truth = Recall
          .bruteForceNeighbors(emb, "vec_id", "embedding", k, math.max(1L, n / 512))
          .cache()
        println(s"$dir sweep (n=$n):")
        for (tgt <- Seq(256, 512); nT <- Seq(4, 8)) {
          val bits = SimilaritySearch.nBitsFor(n, tgt)
          val r = Recall.recallAtK(SimilaritySearch.lshNeighbors(
            emb, "vec_id", "embedding", dim = 64, nBits = bits, k = k, nTables = nT), truth)
          println(f"  lsh bits=$bits%2d (tgt=$tgt) tables=$nT%2d  recall=$r%.4f")
        }
        for (tgt <- Seq(128, 256); nP <- Seq(4, 8); refine <- Seq(0, 2)) {
          val nc = SimilaritySearch.nCentroidsFor(n, tgt)
          val r = Recall.recallAtK(SimilaritySearch.ivfNeighbors(
            emb, "vec_id", "embedding", dim = 64, nCentroids = nc,
            nProbe = math.min(nP, nc), k = k, refineIters = refine), truth)
          println(f"  ivf cells=$nc%3d (tgt=$tgt) probe=${math.min(nP, nc)}%2d refine=$refine  recall=$r%.4f")
        }
        truth.unpersist()
      }
    }
    spark.stop()
  }
}
