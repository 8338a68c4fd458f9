package graft.operators

import java.nio.file.Files

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

import scala.reflect.io.Directory

/** The persisted, partition-pruned IVF-PQ index — the storage-layer
  * closing of the round-8 gap where probed-cell restriction was a
  * filter over a full corpus scan. Proof pattern mirrors MergeSpec's
  * scd2MergeDelta: (1) the probe restriction appears as a
  * PartitionFilter in the executed plan, (2) physically deleting an
  * unprobed cell's files leaves the search result byte-identical —
  * the files were never going to be read. */
class IvfPqIndexSpec extends SparkSpecBase {

  private val dim = 64
  private def emb = Tables.embeddings(spark, sfDir)
  private def corpus = emb.filter(col("vec_id") =!= 0)
  private def query = emb.filter(col("vec_id") === 0)
    .select(col("embedding").as("qvec"))

  private def buildIndex(): (String, IvfPqModel) = {
    val path = Files.createTempDirectory("graft-ivfpq-spec").toString
    val model = ProductQuantization.buildIvfPqIndex(
      corpus, "vec_id", "embedding", path,
      dim = dim, nCells = 16, coarseIters = 2, m = 8, k = 16, iters = 1)
    (path, model)
  }

  test("index search matches ivfPqTopK bit-identically at the same knobs") {
    val (path, model) = buildIndex()
    val fromIndex = ProductQuantization.ivfPqTopKFromIndex(
      path, corpus, "vec_id", "embedding", query,
      nProbe = 4, rerank = 100, topK = 10, model = Some(model))
      .collect().toSeq
    val direct = ProductQuantization.ivfPqTopK(
      corpus, "vec_id", "embedding", query,
      dim = dim, nCells = 16, nProbe = 4, coarseIters = 2,
      m = 8, k = 16, iters = 1, rerank = 100, topK = 10)
      .collect().toSeq
    assert(fromIndex === direct)
    assert(fromIndex.size === 10)
  }

  test("the probe restriction is a PartitionFilter — only probed cells' files are scanned") {
    val (path, model) = buildIndex()
    val df = ProductQuantization.ivfPqTopKFromIndex(
      path, corpus, "vec_id", "embedding", query,
      nProbe = 4, rerank = 100, topK = 10, model = Some(model))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the assertion scopes to the INDEX scan line (the one over `path`);
    // the exact-re-rank corpus scans are unpartitioned and legitimately
    // carry empty partition filters
    val indexScans = plan.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains(path))
      .toSeq
    assert(indexScans.nonEmpty, s"no scan over the index path in:\n$plan")
    indexScans.foreach { l =>
      assert("""PartitionFilters: \[cell#\d+L IN \(""".r.findFirstIn(l).isDefined,
        s"probe restriction must reach the partition-pruning layer:\n$l")
      assert(l.contains("DataFilters: []"),
        s"probe restriction must be pruning-only, not a post-scan data filter:\n$l")
    }
  }

  test("deleting an unprobed cell's files leaves the search result unchanged") {
    val (path, model) = buildIndex()
    val qv = query.select(
      graft.functions.VectorFunctions.asDoubles(col("qvec")).as("q"))
      .take(1).head.getSeq[Double](0).toArray
    val probed = ProductQuantization.probeCells(model.centroids, qv, 4).toSet
    val before = ProductQuantization.ivfPqTopKFromIndex(
      path, corpus, "vec_id", "embedding", query,
      nProbe = 4, rerank = 100, topK = 10, model = Some(model))
      .collect().toSeq

    // physically remove every cell directory the probe does NOT select —
    // if the search ever listed or opened them, it would now throw or
    // change its answer
    val cellDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    val unprobed = cellDirs.filterNot(f =>
      probed.contains(f.getName.stripPrefix("cell=").toLong))
    assert(unprobed.nonEmpty, "fixture must populate unprobed cells")
    unprobed.foreach(d => assert(new Directory(d).deleteRecursively()))

    val after = ProductQuantization.ivfPqTopKFromIndex(
      path, corpus, "vec_id", "embedding", query,
      nProbe = 4, rerank = 100, topK = 10, model = Some(model))
      .collect().toSeq
    assert(after === before,
      "search over the probed-cells-only remnant must be byte-identical")
  }

  test("the persisted model round-trips exactly and the search needs only the index path") {
    val (path, built) = buildIndex()
    val loaded = IvfPqModel.load(path)
    assert(loaded.dim === built.dim)
    // the build's training quantization-error baseline persists too
    assert(built.trainQuantErr.exists(_ > 0))
    assert(loaded.trainQuantErr === built.trainQuantErr)
    assert(loaded.centroids.map(_._1) === built.centroids.map(_._1))
    loaded.centroids.zip(built.centroids).foreach { case ((_, a), (_, b)) =>
      assert(a.toSeq === b.toSeq)
    }
    assert(loaded.codebooks.size === built.codebooks.size)
    loaded.codebooks.zip(built.codebooks).foreach { case (la, lb) =>
      assert(la.map(_._1) === lb.map(_._1))
      la.zip(lb).foreach { case ((_, a), (_, b)) => assert(a.toSeq === b.toSeq) }
    }
    // model = None exercises the load-from-path default
    val viaLoad = ProductQuantization.ivfPqTopKFromIndex(
      path, corpus, "vec_id", "embedding", query,
      nProbe = 4, rerank = 100, topK = 10)
      .collect().toSeq
    val viaBuilt = ProductQuantization.ivfPqTopKFromIndex(
      path, corpus, "vec_id", "embedding", query,
      nProbe = 4, rerank = 100, topK = 10, model = Some(built))
      .collect().toSeq
    assert(viaLoad === viaBuilt)
  }

  test("multi-query batch search equals the single-query search, query by query") {
    val (path, model) = buildIndex()
    val queries = emb.filter(col("vec_id") === 0 || col("vec_id") === 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = ProductQuantization.ivfPqTopKBatchFromIndex(
      path, corpus, "vec_id", "embedding", queries, "qid", "qvec",
      nProbe = 4, rerank = 100, topK = 10, model = Some(model))
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    Seq(0L, 5L).foreach { qid =>
      val one = emb.filter(col("vec_id") === qid)
        .select(col("embedding").as("qvec"))
      val single = ProductQuantization.ivfPqTopKFromIndex(
        path, corpus, "vec_id", "embedding", one,
        nProbe = 4, rerank = 100, topK = 10, model = Some(model))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got(qid) === single, s"qid $qid")
    }
    // the serving plan keeps the index properties: probed-cells-only at
    // the partition-pruning layer, all small sides broadcast
    batch.collect()
    val plan = batch.queryExecution.executedPlan.toString
    val indexScans = plan.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains(path)).toSeq
    assert(indexScans.nonEmpty, s"no scan over the index path in:\n$plan")
    indexScans.foreach { l =>
      assert("""PartitionFilters: \[cell#\d+L IN \(""".r.findFirstIn(l).isDefined,
        s"probe restriction must prune partitions in the batch plan:\n$l")
    }
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("an empty query batch returns an empty, correctly-shaped result") {
    val (path, model) = buildIndex()
    val none = emb.filter(col("vec_id") < 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = ProductQuantization.ivfPqTopKBatchFromIndex(
      path, corpus, "vec_id", "embedding", none, "qid", "qvec",
      model = Some(model))
    assert(out.columns.toSeq === Seq("qid", "vec_id", "cos", "rank"))
    assert(out.count() === 0)
  }

  test("duplicate qids in a serving batch fail loudly (ambiguous routing)") {
    val (path, model) = buildIndex()
    val dup = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    intercept[IllegalArgumentException] {
      ProductQuantization.ivfPqTopKBatchFromIndex(
        path, corpus, "vec_id", "embedding", dup.unionByName(dup),
        "qid", "qvec", model = Some(model))
    }
  }
}
