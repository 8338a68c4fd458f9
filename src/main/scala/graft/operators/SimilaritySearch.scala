package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


import graft.functions.NativeFunctions
import graft.functions.VectorFunctions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design: brute force is the correctness baseline (a broadcast of
  * the query set + one map-side pass over the corpus — embarrassingly
  * parallel, no shuffle except the final top-k, which TakeOrdered keeps
  * at k·partitions rows). The LSH variant buckets the corpus by
  * random-hyperplane signs so each query only scores its bucket — the
  * 100 TB path where scanning every vector per query is impossible.
  * Hyperplanes derive from a splitmix64 stream, so planes are identical
  * on every executor with zero broadcast state.
  *
  * The LSH candidate plan is ONE pass: bucket → groupBy(bucket) →
  * enumerate + score + top-k inside the group. Because a vector belongs
  * to exactly one bucket per plane table, all its candidates are
  * bucket-local, so the per-vector top-k needs no second shuffle and no
  * window over all candidate pairs (`row_number().over(partitionBy)`
  * would shuffle every candidate pair — the anti-pattern this plan
  * exists to avoid). With multiple plane tables (the recall knob),
  * candidates span tables, and the per-vector top-k is bounded MAP-SIDE
  * by the native top-k aggregate instead (shuffle carries ≤ k rows per
  * vector per partition, never all pairs). The in-group scoring of the
  * LSH and IVF walks is one native kernel (plans.ScoreTopK) with one
  * path: ids must be bigint, and any other id type is refused up front.
  */
object SimilaritySearch {

  /** Exact top-k cosine neighbors of a single query vector (given as a
    * 1-row DataFrame with column `qvec`). */
  def bruteForceTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, k: Int): DataFrame = {
    corpus
      .select(col(idCol).as("vec_id"), asDoubles(col(vecCol)).as("v"))
      .crossJoin(broadcast(query.select(asDoubles(col("qvec")).as("q"))))
      .select(col("vec_id"), cosine(col("v"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Bucket count as a function of corpus size: enough hyperplane bits
    * that the EXPECTED bucket holds ~`targetBucketSize` vectors, so the
    * per-bucket pair enumeration stays O(n·targetBucketSize) instead of
    * O(n²/2^nBits) with a constant nBits — the knob a 100× scale-up
    * turns. (Bits cap at 30; beyond that bucket keys should become
    * hashed band tables.) */
  def nBitsFor(corpusSize: Long, targetBucketSize: Int = 256): Int = {
    require(corpusSize > 0 && targetBucketSize > 0)
    val buckets = math.max(1.0, corpusSize.toDouble / targetBucketSize)
    math.min(30, math.max(1, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }

  /** IVF's version of the same knob: centroid count that keeps the
    * EXPECTED cell at ~targetCellSize vectors, so per-vector candidate
    * work stays nProbe·targetCellSize as the corpus grows (a constant
    * nCentroids lets cells — and the candidate set — grow linearly). */
  def nCentroidsFor(corpusSize: Long, targetCellSize: Int = 128): Int = {
    require(corpusSize > 0 && targetCellSize > 0)
    math.max(1, math.min(1 << 20,
      math.ceil(corpusSize.toDouble / targetCellSize).toInt))
  }

  /** Posture-count memo: the nBits = 0 / nCentroids = 0 defaults derive
    * their corpus-scaled knob from ONE count job per (session, corpus
    * plan) instead of re-running the count on every default-posture
    * call — keyed by the full canonicalized analyzed plan (exact: two
    * corpora never share a key), held weakly per session.
    *
    * Caveat, stated plainly: the knob is frozen at the first call's
    * count for the session. A corpus that grows 100× mid-session under
    * the SAME plan (same path re-read after a massive append) keeps the
    * small-count posture — larger buckets, more pool-cap sampling, and
    * therefore a different (lower-recall) approximate neighbor set than
    * a fresh session would compute. Results remain valid ANN output
    * under the operator's contract, but the posture is session-stale;
    * long-lived services that re-ingest should pass explicit
    * nBits/nCentroids (or a new session) after major corpus growth. */
  /** Bounded per-session memo: keys are 32-char MD5 digests of the
    * composed key string (never the raw plan text, which can be large)
    * and the per-session map is an access-ordered LRU capped at
    * [[PostureMemoMax]] entries — a session cycling through thousands
    * of distinct corpus plans holds O(memo) bytes, not O(plans · plan
    * text). */
  private[operators] val PostureMemoMax = 256
  private val postureCounts =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.LinkedHashMap[String, java.lang.Long]]()

  private[operators] def postureCount(corpus: DataFrame): Long = {
    val digest = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(postureKey(corpus).getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val inner = postureCounts.synchronized {
      var m = postureCounts.get(corpus.sparkSession)
      if (m == null) {
        m = new java.util.LinkedHashMap[String, java.lang.Long](64, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
            size() > PostureMemoMax
        }
        postureCounts.put(corpus.sparkSession, m)
      }
      m
    }
    val hit = inner.synchronized(inner.get(digest))
    if (hit != null) hit.longValue()
    else {
      // the count job runs OUTSIDE the lock (it can take seconds on a
      // large corpus); a concurrent duplicate count is harmless — both
      // compute the same value
      val n = math.max(1L, corpus.count())
      inner.synchronized(inner.put(digest, java.lang.Long.valueOf(n)))
      n
    }
  }

  /** Memo key for [[postureCount]]: the canonicalized plan STRUCTURE
    * alone is not discriminating — its toString elides file-relation
    * locations, so the same projection over sf0.01 and sf0.1 parquet
    * would collide — so the key prepends every leaf relation's root
    * paths (and the plan's semantic hash, catching non-file leaves the
    * toString also elides). */
  private def postureKey(corpus: DataFrame): String = {
    val plan = corpus.queryExecution.analyzed
    val leaves = plan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case other => other.toString
        }
      case leaf => leaf.toString
    }
    leaves.mkString(";") + "#" + plan.semanticHash() + "#" + plan.canonicalized.toString
  }

  /** Hot-bucket occupancy guard (ON by default): a bucket/cell with
    * more members than this has its CANDIDATE POOL capped to a
    * key-stable sample (see `candidatePool`) and, on the paths that
    * materialize the visitor×candidate expansion in-row, its visitors
    * split into `VisitorChunk`-sized slices — bounding per-row work at
    * O(chunk · cap) instead of O(m²) when a dense semantic cluster
    * lands in one bucket. The cap sits far above both every gated
    * fixture's occupancy AND the recall-posture expected bucket size
    * (256/128 via nBitsFor/nCentroidsFor), so at tested scales the
    * guard is dormant and results are bit-identical to the unguarded
    * plan; quality-wise, top-k against a 4096-member random sample of
    * your own dense cluster is the regime IVF/LSH sampling is built
    * for. */
  val DefaultMaxBucketOccupancy = 4096
  val VisitorChunk = 256

  /** Key-stable candidate pool: the full member list when it fits the
    * cap, else the `cap` members ranked by xxhash64(id) — an id-keyed
    * pseudo-random sample that is deterministic (independent of
    * partitioning or arrival order) and unbiased w.r.t. insertion
    * order, unlike a low-id prefix. */
  private def candidatePool(ms: Column, cap: Int): Column =
    when(size(ms) <= cap, ms)
      .otherwise(transform(
        slice(array_sort(transform(ms, m =>
          struct(xxhash64(m.getField("id")).as("h"), m.as("m")))), 1, cap),
        s => s.getField("m")))

  /** Size-adaptive widening of a compute-dense bucket walk (the
    * Multimodal.syntheticImagesFromText convention, round 18): the
    * visitor×pool scoring after a bucket groupBy costs orders of
    * magnitude more CPU per byte than the rows weigh, so AQE's
    * byte-keyed partition coalescing collapses it onto 1-2 tasks at
    * small inputs (measured: ss_recall_lsh_t8 ran ~5 s of task time on
    * 12 tasks over 32 idle cores — the whole 8-table walk on a
    * byte-tiny shuffle). When the pre-groupBy rows arrive NARROWER than
    * default parallelism, hash-repartition them by the group key
    * (deterministic — never rand(); explicit numPartitions, which AQE
    * leaves uncoalesced); the groupBy then reuses this partitioning
    * (ClusteredDistribution is satisfied), so no extra exchange exists
    * in the plan — the one shuffle the aggregation was always going to
    * pay simply keeps `target` partitions. At 100 TB the scan arrives
    * with ≥ cores partitions and this is a no-op, leaving AQE to govern
    * (the scale-adaptive posture the guide mandates). */
  private def widenIfNarrow(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target, key) else df
  }

  /** Visitor slices of ≤ `chunk` members: the in-row expansion then
    * peaks at chunk·|pool| structs per row instead of m·|pool|. Pure
    * re-sharding — every visitor appears in exactly one slice, so the
    * exploded pair set is identical. */
  private def visitorChunks(ms: Column, chunk: Int): Column =
    transform(sequence(lit(0), floor((size(ms) - 1) / lit(chunk)).cast("int")),
      c => slice(ms, c * chunk + 1, lit(chunk)))

  /** One projection: id, vector (as doubles), its norm (computed once
    * per vector, not once per candidate pair), bucket key(s). */
  private def bucketedMembers(
      corpus: DataFrame, idCol: String, vecCol: String,
      bucketCols: Seq[Column]): DataFrame =
    corpus
      .select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v"))
      // posexplode_OUTER + null-drop: a non-outer generate feeds
      // InferFiltersFromGenerate, whose pushed filter re-evaluates the
      // hyperplane bucket expressions twice more per row (see
      // Dedup.packedSignatureBanded); the table array is never empty
      .select(col("id"), col("v"), norm(col("v")).as("nrm"),
        posexplode_outer(array(bucketCols: _*)).as(Seq("tbl", "bucket")))
      .filter(col("tbl").isNotNull)

  /** LSH-bucketed all-pairs neighbor search: every vector is assigned an
    * `nBits`-bit hyperplane bucket; candidates are bucket-mates; each
    * vector keeps its `k` nearest by exact cosine re-rank. Recall is
    * tunable two ways: fewer bits → bigger buckets, and `nTables` > 1
    * independent plane tables → a pair is a candidate if it collides in
    * ANY table (the standard LSH recall amplification). Hyperplanes are
    * plan-time literals (VectorFunctions.hyperplanes) — deterministic,
    * broadcast-free, and DuckDB-oracle-expressible.
    *
    * nBits should scale with the corpus (see `nBitsFor`): candidates per
    * bucket are what a constant bucket count lets grow quadratically. */
  def lshNeighbors(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int = 0, k: Int = 3, nTables: Int = 1,
      maxBucket: Option[Int] = Some(DefaultMaxBucketOccupancy)): DataFrame = {
    require(nTables >= 1, "nTables must be >= 1")
    maxBucket.foreach(cap => require(cap >= 2, "maxBucket must be >= 2"))
    Dedup.requireLongId(corpus, idCol, "lshNeighbors")
    // nBits = 0 (the default) derives the corpus-scaled posture — the
    // one a 100× scale-up needs; gated fixtures pin explicit values.
    // The memoized count is driver-side metadata (one count job per
    // session+corpus, see postureCount). max(1, …) inside postureCount:
    // an empty corpus must yield an empty result (as any explicit-nBits
    // call does), not an nBitsFor require failure.
    val bits = if (nBits == 0) nBitsFor(postureCount(corpus)) else nBits
    // table t's planes draw from a disjoint splitmix64 input range
    val bucketCols = lshBucketCols(dim, bits, nTables)
    val grouped = widenIfNarrow(
      bucketedMembers(corpus, idCol, vecCol, bucketCols), col("bucket"))
      .groupBy("bucket")
      .agg(collect_list(struct(col("id"), col("v"), col("nrm"))).as("ms"))
      .filter(size(col("ms")) > 1)

    val pooled = grouped.select(col("ms"),
      maxBucket.fold(col("ms"))(cap => candidatePool(col("ms"), cap)).as("pool"))

    // NATIVE visitor×pool scoring + per-visitor top-k (plans.ScoreTopK —
    // see its scaladoc for the equivalence argument): one compiled loop
    // per bucket row instead of an interpreted lambda per candidate.
    // Outer + null-drop on every generate in this walk: a non-outer
    // explode feeds InferFiltersFromGenerate, whose pushed filter
    // re-evaluates the scoring/chunking expressions twice more per
    // bucket row (see Dedup.packedSignatureBanded).
    if (nTables == 1) {
      // single table ⇒ all of a's candidates sit in this one group row:
      // the per-visitor top-k is final INSIDE the group — the whole
      // query is one shuffle. Per-visitor scoring is transient
      // (≤ |pool|), so this path's in-row peak is O(m + pool), no
      // visitor chunking needed; the pool cap bounds the O(m·pool) TIME
      // a hot bucket would otherwise spend on m² dot products in one
      // task.
      pooled.select(explode_outer(NativeFunctions.scoreTopK(
        col("ms"), col("pool"), k)).as("p"))
        .filter(col("p").isNotNull)
        .select(col("p.vec_id").as("vec_id"),
          col("p.neighbor_id").as("neighbor_id"), col("p.cos"))
    } else {
      // multi-table ⇒ a's candidates span tables: bound the per-vector
      // top-k map-side with the native top-k aggregate (duplicate
      // candidates from multiple colliding tables collapse inside its
      // ≤k buffer — no global dropDuplicates shuffle needed). Hot
      // buckets are additionally re-sharded into visitor chunks.
      val rows = maxBucket match {
        case None => pooled.select(col("ms").as("vs"), col("pool"))
        case Some(_) => pooled.select(
          explode_outer(visitorChunks(col("ms"), VisitorChunk)).as("vs"), col("pool"))
          .filter(col("vs").isNotNull)
      }
      // ≤ k candidates per (visitor, bucket row) reach the aggregator
      // instead of the whole scored pool — lossless for the global
      // top-k (ScoreTopK scaladoc), duplicates still collapse
      topKPerVector(scoredTopK(rows, k), k)
    }
  }

  /** (vec_id, cos, neighbor_id) rows: each visitor of `vs`'s ≤ k best
    * `pool` candidates, scored natively (plans.ScoreTopK) — the input
    * of [[topKPerVector]] for the multi-table LSH and IVF walks. */
  private def scoredTopK(rows: DataFrame, k: Int): DataFrame =
    rows.select(explode_outer(NativeFunctions.scoreTopK(
      col("vs"), col("pool"), k)).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.vec_id").as("vec_id"), col("p.cos").as("cos"),
        col("p.neighbor_id").as("neighbor_id"))

  /** INCREMENTAL embedding neighbor search: each NEW vector's top-k
    * nearest among the EXISTING corpus — the O(Δ)-per-ingest twin of
    * `lshNeighbors`, completing the incremental family across every
    * dedup/search modality. The corpus side is its persistable
    * hyperplane bucket index (`lshBuckets`-shaped columns: id, vector,
    * norm, bucket); the delta pays one bucket projection and ONE
    * equi-join on the bucket key. Corpus buckets are capped key-stable
    * at `maxBucket` (the same guard/convention as the full path's
    * candidate pool — a dense semantic cluster in one bucket must not
    * cost |Δ_bucket|·|cluster| dot products); the per-delta top-k is
    * bounded map-side by the native top-k aggregate. Output:
    * (delta_id, corpus_id, cos), ranked (cos DESC, corpus_id ASC). */
  def lshNeighborsIncremental(
      delta: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int = 0, k: Int = 3,
      maxBucket: Option[Int] = Some(DefaultMaxBucketOccupancy)): DataFrame = {
    val bits = if (nBits == 0) nBitsFor(postureCount(corpus)) else nBits
    lshNeighborsIncrementalFromIndex(
      delta, embBucketIndex(corpus, idCol, vecCol, dim, bits, maxBucket),
      idCol, vecCol, dim, bits, k)
  }

  /** The corpus side of [[lshNeighborsIncremental]] as a PERSISTABLE
    * index — the embedding counterpart of a `BandIndex.build` index: one
    * zero-shuffle bucket/norm projection with the (load-bearing)
    * occupancy cap applied at build time. Plain (corpus_id, vc, nc,
    * bucket) columns, parquet-round-trippable. `nBits` must be explicit
    * here (there is no corpus to derive the posture from on reload) —
    * searches against a persisted copy must pass the SAME value, the
    * `_lsh_meta.txt` concern; the bucketed writer below records it in
    * the table comment-free layout by contract. */
  def embBucketIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int,
      maxBucket: Option[Int] = Some(DefaultMaxBucketOccupancy)): DataFrame = {
    require(nBits >= 1, "nBits must be explicit for a persistable index")
    // key-stable per-bucket cap on the persistable index side — paid
    // once at index-persist time in production (idempotent)
    BandIndex.build(
      bucketedMembers(corpus, idCol, vecCol, lshBucketCols(dim, nBits, 1))
        .select(col("id").as("corpus_id"), col("v").as("vc"),
          col("nrm").as("nc"), col("bucket")),
      maxBucket, keys = Seq("bucket"), doc = "corpus_id")
  }

  /** [[lshNeighborsIncremental]] against an already-built (possibly
    * persisted-and-reloaded) [[embBucketIndex]]: the O(Δ) ingest path
    * pays the delta's bucket projection and ONE bucket equi-join. */
  def lshNeighborsIncrementalFromIndex(
      delta: DataFrame, corpusIndex: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int, k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val d = bucketedMembers(delta, idCol, vecCol, lshBucketCols(dim, nBits, 1))
      .select(col("id").as("delta_id"), col("v").as("vd"),
        col("nrm").as("nd"), col("bucket"))
    val pairs = d.join(corpusIndex, Seq("bucket"))
      .filter(col("delta_id") =!= col("corpus_id"))
      .select(col("delta_id").cast("long").as("delta_id"),
        (dot(col("vd"), col("vc")) / (col("nd") * col("nc"))).as("cos"),
        col("corpus_id").cast("long").as("corpus_id"))
    topKPerVector(pairs, k)
      .toDF("delta_id", "corpus_id", "cos")
  }

  /** Persist the embedding bucket index as a BUCKETED-and-sorted table
    * on the bucket string — completing the bucketed persisted-index
    * family across every dedup modality (spans, MinHash, SimHash, and
    * now embeddings): ingest joins against `spark.table(table)` shuffle
    * ONLY the delta's bucket rows; the corpus side reads bucket-in-place
    * (EmbIndexBucketingSpec asserts the single-exchange plan). */
  def writeEmbBucketIndexBucketed(
      corpus: DataFrame, idCol: String, vecCol: String,
      table: String, nBuckets: Int, dim: Int, nBits: Int,
      path: Option[String] = None,
      maxBucket: Option[Int] = Some(DefaultMaxBucketOccupancy)): Unit =
    graft.store.Bucketing.writeBucketed(
      embBucketIndex(corpus, idCol, vecCol, dim, nBits, maxBucket),
      table, "bucket", nBuckets, path)

  /** Table-indexed hyperplane bucket expressions over the vector column
    * `v` — table t's planes draw from a disjoint splitmix64 range.
    * Package-visible: StreamingDedup.embeddingDupStream keys its state
    * store on the SAME bucket expressions, so the streaming and batch
    * candidate sets cannot drift. */
  private[graft] def lshBucketCols(dim: Int, nBits: Int, nTables: Int): Seq[Column] =
    (0 until nTables).map { t =>
      val planes = hyperplanes(nBits, dim, seed = 0x5CA1AB1EL + t * 0x1000000000000L)
      if (nTables == 1) hyperplaneBits(col("v"), planes)
      else concat(lit(s"$t:"), hyperplaneBits(col("v"), planes))
    }

  /** The (id, tbl, bucket) assignment rows lshNeighbors groups on — the
    * occupancy-observability surface (feed to
    * `Occupancy.stats(_, cap, "bucket")` to see the skew regime the
    * hot-bucket guard would face). nBits = 0 derives the corpus-scaled
    * posture exactly like lshNeighbors. */
  def lshBuckets(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int = 0, nTables: Int = 1): DataFrame = {
    val bits = if (nBits == 0) nBitsFor(postureCount(corpus)) else nBits
    bucketedMembers(corpus, idCol, vecCol, lshBucketCols(dim, bits, nTables))
      .select(col("id"), col("tbl"), col("bucket"))
  }

  /** Map-side-bounded per-vector top-k over (vec_id, cos, neighbor_id)
    * candidate rows: the native `graft_topk` aggregate reduces each
    * partition to ≤k entries per vector before the exchange, ordered
    * (cos DESC, neighbor_id ASC) — the same total order a SQL oracle's
    * row_number uses — with exact duplicates collapsed (the multi-table
    * LSH contract). Native, not the typed-Dataset Aggregator this
    * replaced: the typed form paid a DeserializeToObject →
    * SerializeFromObject pass over the FULL candidate-pair stream plus
    * an encoder round-trip per buffer update — measured as the dominant
    * cost of every recall/ANN gate at sf0.1 (round 15). */
  private[operators] def topKPerVector(pairs: DataFrame, k: Int): DataFrame = {
    // POSITIONAL input contract (group, score, member) — same as the
    // typed as[(Long, Double, Long)] form this replaced: callers feed
    // differently-named triples (delta_id/cos/corpus_id, …). Preserve
    // that form's fail-fast arity check: extra/missing columns mean the
    // caller's frame is not the triple this contract aggregates
    require(pairs.columns.length == 3,
      s"topKPerVector expects exactly (group, score, member); got ${pairs.columns.mkString("(", ", ", ")")}")
    val Seq(g, s, m) = pairs.columns.take(3).map(col).toSeq
    pairs
      .groupBy(g.as("vec_id"))
      .agg(NativeFunctions.topK(s, m, k).as("top"))
      .select(col("vec_id"), explode_outer(col("top")).as("t"))
      .filter(col("t").isNotNull)
      .select(col("vec_id"), col("t.neighbor_id").as("neighbor_id"),
        col("t.cos").as("cos"))
  }

  /** IVF (inverted-file) all-pairs neighbor search — the other classic
    * ANN scale path next to LSH: a coarse quantizer assigns every vector
    * to its best centroid cell, and each vector searches only the
    * members of its `nProbe` best cells.
    *
    * Train step: the quantizer is a deterministic sample of the corpus
    * (the nCentroids lowest-id vectors — on this corpus ids are i.i.d.
    * random vectors, so this IS a uniform sample), collected once to the
    * driver and embedded as plan literals — the standard broadcast-
    * centroids shape; at 100 TB the centroid table is KB-scale while the
    * corpus scan stays fully distributed. Assignment similarity is the
    * inner product (bit-exact cross-engine via sequential dot products),
    * tie-broken by centroid id.
    *
    * Plan: ONE corpus scan emitting nProbe (bucket, is_member=probe#0)
    * rows per vector, one groupBy(bucket), visitor×member scoring inside
    * the group, then the map-side-bounded top-k. A pair can only arise
    * in one cell (each member has exactly one home cell), so no dedup is
    * needed. Candidates per vector = nProbe · cell size, the IVF
    * contract; nCentroids scales with corpus size exactly like
    * `nBitsFor` does for LSH buckets. */
  def ivfNeighbors(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nCentroids: Int = 0, nProbe: Int = 2, k: Int = 3,
      literalMaxTerms: Int = Clustering.LiteralAssignMaxTerms,
      refineIters: Int = 0,
      maxBucket: Option[Int] = Some(DefaultMaxBucketOccupancy)): DataFrame = {
    // cheap argument validation BEFORE ivfMembers runs the corpus count
    // and quantizer training jobs
    maxBucket.foreach(cap => require(cap >= 2, "maxBucket must be >= 2"))
    Dedup.requireLongId(corpus, idCol, "ivfNeighbors")
    val base = ivfMembers(corpus, idCol, vecCol, dim, nCentroids, nProbe,
      literalMaxTerms, refineIters)
    val grouped = widenIfNarrow(base, col("bucket"))
      .groupBy("bucket")
      .agg(collect_list(struct(col("id"), col("v"), col("nrm"), col("is_member"))).as("ms"))
    // candidates are the cell's MEMBERS (home-cell rows), pool-capped;
    // visitors (members + probes) are chunk-exploded so the in-row
    // visitor×pool expansion stays O(chunk · cap) under cell skew
    val pooled = grouped.select(col("ms"),
      maxBucket.fold(filter(col("ms"), b => b.getField("is_member")))(cap =>
        candidatePool(filter(col("ms"), b => b.getField("is_member")), cap)).as("pool"))
    val rows = maxBucket match {
      case None => pooled.select(col("ms").as("vs"), col("pool"))
      case Some(_) => pooled.select(
        explode_outer(visitorChunks(col("ms"), VisitorChunk)).as("vs"), col("pool"))
        .filter(col("vs").isNotNull)
    }
    // NATIVE visitor×pool scoring + per-visitor top-k (plans.ScoreTopK —
    // the lshNeighbors convention; extra struct fields like is_member
    // ride along untouched). Lossless for the cross-cell top-k merge:
    // a visitor's global top-k candidate survives every per-cell cut.
    topKPerVector(scoredTopK(rows, k), k)
  }

  /** The (id, v, nrm, pidx, bucket, is_member) probe rows ivfNeighbors
    * groups on: one row per (vector, probed cell), `is_member` marking
    * the home cell. `ivfBuckets` below is the occupancy-observability
    * projection of the same rows. nCentroids = 0 (the default) derives
    * the corpus-scaled posture via `nCentroidsFor(corpus.count)` — a
    * constant cell count lets cells grow linearly with the corpus;
    * gated fixtures pin explicit values. */
  private def ivfMembers(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nCentroids: Int, nProbe: Int,
      literalMaxTerms: Int = Clustering.LiteralAssignMaxTerms,
      refineIters: Int = 0): DataFrame = {
    val nCents =
      if (nCentroids == 0) nCentroidsFor(postureCount(corpus)) else nCentroids
    require(nCents >= 1 && nProbe >= 1 && nProbe <= nCents)
    require(refineIters >= 0)
    // Quantizer: refineIters=0 is the oracle-gated legacy surface — a
    // deterministic corpus sample ranked by raw inner product.
    // refineIters>0 runs Lloyd rounds over the sample (Clustering
    // .kmeansCentroids — the standard IVF train step) and ranks cells by
    // L2 via the augmented-dimension trick: centroid c becomes
    // (c, −½|c|²) and every vector gets a constant 1.0 component, so
    // dot(v', c') = v·c − ½|c|² with the identical plan shape in both
    // the literal and native paths (refined centroids are means with
    // varying norms — raw dot would bias probing toward long centroids).
    val cents: Array[(Long, Seq[Double])] =
      if (refineIters > 0)
        // literalMaxTerms forwarded so a caller's literal/native override
        // governs the Lloyd training assignments too, not just probe-cell
        // selection (forced-native gates must exercise the native path
        // inside refined-quantizer training)
        Clustering.kmeansCentroids(corpus, idCol, vecCol, nCents, refineIters,
          literalMaxTerms = literalMaxTerms)
          .map { case (cid, c) => (cid, (c :+ -Clustering.halfNormSq(c)).toSeq) }
          .toArray
      else corpus
        // the nCents LOWEST ids — not `id < nCents`, which silently
        // under-trains on any corpus whose ids don't start at 0
        .select(col(idCol).cast("long").as("cid"), asDoubles(col(vecCol)).as("c"))
        .orderBy("cid").limit(nCents)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
    require(cents.nonEmpty, "empty corpus: no vectors to train the quantizer")
    val rankVec: Column =
      if (refineIters > 0) concat(col("v"), array(lit(1.0))) else col("v")
    // per vector: the nProbe best cells by (similarity desc, cid asc);
    // cell 0 is the home cell (membership), cells 0..nProbe-1 are probed.
    // Composed-literal formulation below literalMaxTerms (oracle-
    // expressible); above it the same top-p selection runs inside the
    // native NearestCenters expression carrying the centroid matrix as
    // one reference object — production IVF cell counts (10⁴–10⁵) would
    // otherwise blow up the plan exactly like large-k k-means (see
    // Clustering.LiteralAssignMaxTerms; bit-identical, differentially
    // asserted in SimilaritySearchSpec).
    val probedCids: Column =
      if (cents.length.toLong * cents.head._2.length <= literalMaxTerms) {
        val cells = array_sort(array(cents.map { case (cid, c) =>
          struct((-dot(rankVec, array(c.map(lit): _*))).as("negsim"),
            lit(cid).as("cid"))
        }: _*))
        transform(slice(cells, 1, nProbe), c => c.getField("cid"))
      } else
        // the quantizer can train FEWER centroids than requested (corpus
        // smaller than nCentroids); the literal path degrades by slicing
        // the available cells, so the native path must clamp p the same
        // way rather than fail NearestCenters' p <= centers.length check
        NativeFunctions.nearestCenters(rankVec, cents.map(_._2.toArray),
          cents.map(_._1), math.min(nProbe, cents.length))
    corpus
      .select(col(idCol).cast("long").as("id"), asDoubles(col(vecCol)).as("v"))
      // outer + null-drop (see bucketedMembers): the inferred filter
      // would re-run the nearest-centers ranking twice more per row
      .select(col("id"), col("v"), norm(col("v")).as("nrm"),
        posexplode_outer(probedCids).as(Seq("pidx", "bucket")))
      .filter(col("pidx").isNotNull)
      .withColumn("is_member", col("pidx") === 0)
  }

  /** The (id, pidx, bucket, is_member) IVF cell-assignment rows — the
    * occupancy-observability surface for cells (home-cell occupancy is
    * `is_member = true`; visitor load per cell is the unfiltered
    * count). Same knobs and quantizer as ivfNeighbors. */
  def ivfBuckets(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nCentroids: Int = 0, nProbe: Int = 2,
      literalMaxTerms: Int = Clustering.LiteralAssignMaxTerms,
      refineIters: Int = 0): DataFrame =
    ivfMembers(corpus, idCol, vecCol, dim, nCentroids, nProbe,
      literalMaxTerms, refineIters)
      .select(col("id"), col("pidx"), col("bucket"), col("is_member"))

  /** Schema the persisted LSH index is read back with — the bucket is
    * the partition column, pinned so the probe filter's string
    * literals hit the file-pruning layer without a cast. */
  private val LshIndexReadSchema =
    "vec_id LONG, v ARRAY<DOUBLE>, nrm DOUBLE, bucket STRING"

  /** Build the PERSISTED hyperplane bucket index at `path`: one
    * zero-shuffle projection assigns every vector its `nBits`-bit sign
    * bucket (single-table, default planes — the same expression the
    * in-memory paths use), the norm precomputes at build time, and the
    * rows are written `partitionBy(bucket)` — the storage layout under
    * which a query's probe is FILE PRUNING: [[lshTopKFromIndex]] lists
    * only the probed buckets' directories (1 + nBits of 2^nBits at the
    * default 1-bit multiprobe) and never opens the rest. The
    * hyperplanes are pure functions of (nBits, dim, seed) — no trained
    * model — but the KNOBS are part of the index's identity: a search
    * under a different dim or seed computes same-length bucket strings
    * and silently probes the wrong partitions, so the build persists
    * them as a `_lsh_meta.txt` sidecar (the `_ivfpq_model.txt`
    * convention) and [[lshTopKFromIndex]] validates its arguments
    * against it. */
  def buildLshBucketIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      dim: Int, nBits: Int, seed: Long = DefaultPlaneSeed): Unit = {
    val planes = hyperplanes(nBits, dim, seed)
    corpus
      .select(col(idCol).cast("long").as("vec_id"), asDoubles(col(vecCol)).as("v"))
      .select(col("vec_id"), col("v"), norm(col("v")).as("nrm"),
        hyperplaneBits(col("v"), planes).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    graft.store.Storage.writeTextFile(corpus.sparkSession,
      s"$path/$LshMetaFile", s"dim $dim\nnbits $nBits\nseed $seed\n")
  }

  /** The default hyperplane seed, shared with
    * `VectorFunctions.hyperplanes`. */
  private val DefaultPlaneSeed = 0x5CA1AB1EL

  private val LshMetaFile = "_lsh_meta.txt"

  /** Parse the `_lsh_meta.txt` sidecar → (dim, nBits, seed); None when
    * the index predates the sidecar (written before round 10). */
  private def readLshMeta(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[(Int, Int, Long)] = {
    if (!graft.store.Storage.exists(spark, s"$indexPath/$LshMetaFile")) None
    else {
      val kv = graft.store.Storage
        .readTextFile(spark, s"$indexPath/$LshMetaFile")
        .split('\n').filter(_.nonEmpty)
        .map(_.split(' ')).map(a => a(0) -> a(1)).toMap
      Some((kv("dim").toInt, kv("nbits").toInt, kv("seed").toLong))
    }
  }

  /** The query's probe set: its own bucket plus (at `probeBits` = 1,
    * the default) every 1-bit-flip neighbor — the standard multiprobe
    * that recovers most of the recall a sign-LSH loses at the bucket
    * boundary, while still reading only (nBits+1)/2^nBits of the
    * index. Driver-side: nBits dot products against the plan-literal
    * planes. */
  private[operators] def probeBuckets(
      qv: Array[Double], dim: Int, nBits: Int, probeBits: Int,
      seed: Long = DefaultPlaneSeed): Seq[String] = {
    require(probeBits == 0 || probeBits == 1, "probeBits must be 0 or 1")
    val planes = hyperplanes(nBits, dim, seed)
    val qb = planes.map { p =>
      var s = 0.0; var i = 0
      while (i < p.length) { s += qv(i) * p(i); i += 1 }
      if (s > 0) '1' else '0'
    }.mkString
    val flips =
      if (probeBits == 0) Seq.empty
      else (0 until nBits).map { i =>
        qb.updated(i, if (qb(i) == '1') '0' else '1')
      }
    (qb +: flips).distinct
  }

  /** Single-query top-k over the PERSISTED bucket index: the probe
    * restriction is a PartitionFilter (asserted in-plan and proved by
    * physical deletion of unprobed buckets' files in LshIndexSpec), so
    * at 10⁹ vectors with corpus-scaled nBits the scan reads
    * ~(nBits+1)·targetBucketSize rows of files, independent of corpus
    * size. Exact cosine within the probed buckets, ranked
    * (cos DESC, vec_id ASC) — `query` is a 1-row DataFrame with column
    * `qvec`, the bruteForceTopK convention. The stored `nrm` is the
    * build-time `sqrt(v·v)` — bit-identical to recomputation, so the
    * cosine matches the non-indexed paths' formula exactly. */
  def lshTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      query: DataFrame, dim: Int, nBits: Int,
      k: Int = 10, probeBits: Int = 1, seed: Long = DefaultPlaneSeed): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // knob validation against the build-time sidecar: a mismatched dim
    // or seed would compute same-LENGTH bucket strings, probe the wrong
    // partitions, and return plausible-but-wrong neighbors with no
    // error. Indexes persisted before the sidecar existed are searched
    // on the caller's word (nothing to validate against).
    readLshMeta(spark, indexPath).foreach { case (mDim, mBits, mSeed) =>
      require(mDim == dim && mBits == nBits && mSeed == seed,
        s"index at $indexPath was built with (dim=$mDim, nBits=$mBits, " +
          s"seed=$mSeed) but the search asked for (dim=$dim, " +
          s"nBits=$nBits, seed=$seed) — wrong-knob probes return wrong " +
          "neighbors silently, so this is an error")
    }
    val qRows = query.select(asDoubles(col("qvec")).as("q")).take(1)
    require(qRows.nonEmpty,
      "lshTopKFromIndex needs a 1-row query DataFrame with column qvec")
    val qv = qRows.head.getSeq[Double](0).toArray
    val probed = probeBuckets(qv, dim, nBits, probeBits, seed)
    spark.read.schema(LshIndexReadSchema).parquet(indexPath)
      .filter(col("bucket").isin(probed: _*))
      .crossJoin(broadcast(query.select(asDoubles(col("qvec")).as("q"))))
      .select(col("vec_id"),
        (dot(col("v"), col("q")) / (col("nrm") * norm(col("q")))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** MULTI-QUERY search of the persisted bucket index — the LSH side of
    * the serving shape ([[ProductQuantization.ivfPqTopKBatchFromIndex]]
    * is the IVF-PQ sibling; same contract, same proofs): a bounded
    * query batch routes driver-side with the SAME [[probeBuckets]]
    * multiprobe the single-query path uses, the UNION of probed buckets
    * becomes ONE `bucket.isin(...)` PartitionFilter (files shared by
    * every query probing them are read once), queries ride back as a
    * broadcast (qid, bucket, q) routing table joined on `bucket` — a
    * stored vector is scored only against the queries that probed its
    * bucket — and the per-query top-k reduces through
    * [[topKPerVector]]'s map-side-bounded heaps with the single-query
    * (cos DESC, vec_id ASC) tie order. Per query the rows equal
    * [[lshTopKFromIndex]] at the same knobs (LshIndexSpec asserts
    * query-by-query equality). Output: (qid, vec_id, cos, rank). */
  def lshTopKBatchFromIndex(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      dim: Int, nBits: Int,
      k: Int = 10, probeBits: Int = 1, seed: Long = DefaultPlaneSeed): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import spark.implicits._
    readLshMeta(spark, indexPath).foreach { case (mDim, mBits, mSeed) =>
      require(mDim == dim && mBits == nBits && mSeed == seed,
        s"index at $indexPath was built with (dim=$mDim, nBits=$mBits, " +
          s"seed=$mSeed) but the search asked for (dim=$dim, " +
          s"nBits=$nBits, seed=$seed) — wrong-knob probes return wrong " +
          "neighbors silently, so this is an error")
    }
    val qRows = queries
      .select(col(qidCol).cast("long"), asDoubles(col(qvecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(qRows.map(_._1).distinct.length == qRows.length,
      s"lshTopKBatchFromIndex: duplicate $qidCol in the query batch")
    if (qRows.isEmpty) {
      return spark.emptyDataFrame
        .select(lit(0L).as("qid"), lit(0L).as("vec_id"),
          lit(0.0).as("cos"), lit(0).as("rank"))
        .limit(0)
    }
    val routing = qRows.toSeq.flatMap { case (qid, qv) =>
      probeBuckets(qv, dim, nBits, probeBits, seed)
        .map(b => (qid, b, qv.toSeq))
    }.toDF("qid", "bucket", "q")
    val probedUnion = routing.select("bucket").as[String].collect().distinct.toSeq
    val pairs = spark.read.schema(LshIndexReadSchema).parquet(indexPath)
      .filter(col("bucket").isin(probedUnion: _*))
      .join(broadcast(routing), "bucket")
      .select(col("qid"),
        (dot(col("v"), col("q")) / (col("nrm") * norm(col("q")))).as("cos"),
        col("vec_id"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    topKPerVector(pairs, k)
      .select(col("vec_id").as("qid"), col("neighbor_id").as("vec_id"), col("cos"))
      // rank runs over the ≤ queries·k FINAL rows, never the scan
      .withColumn("rank", row_number().over(win))
  }
}
