package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.NativeFunctions

/** Seeded-random differential tests: each scale-safe operator plan must
  * equal its naive (obviously-correct, quadratic) formulation on
  * arbitrary data — fixtures prove the planted cases, these prove the
  * general contract. Seeds are fixed so failures replay. */
class RandomizedDifferentialSpec extends SparkSpecBase {

  import spark.implicits._

  test("asOfJoin.backward equals the naive per-left argmax on random events") {
    val rnd = new scala.util.Random(0xA50F)
    val left = (1 to 300).map(i =>
      (i.toLong, (rnd.nextInt(8)).toLong, rnd.nextInt(1000).toLong))
    val right = (1 to 400).map(i =>
      (i.toLong + 10000, (rnd.nextInt(8)).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val l = left.toDF("lid", "k", "ts")
    val r = right.toDF("rid", "k", "ts", "v")
    val got = AsOfJoin.backward(l, r, "k", "ts", "rid")
      .select(col("lid"), col("asof.rid"))
      .collect().map(x => x.getLong(0) -> Option(x.get(1)).map(_.asInstanceOf[Long])).toMap
    val naive = left.map { case (lid, k, ts) =>
      val cands = right.filter(c => c._2 == k && c._3 <= ts)
      lid -> (if (cands.isEmpty) None
              else Some(cands.maxBy(c => (c._3, c._1))._1))
    }.toMap
    assert(got === naive)
  }

  test("RangeJoin.pointInInterval equals the naive filter join on random intervals") {
    val rnd = new scala.util.Random(0x4A4E)
    val points = (1 to 300).map(i => (i.toLong, rnd.nextInt(2000).toLong - 500))
    val ivs = (1 to 300).map { i =>
      val s = rnd.nextInt(2000).toLong - 500
      (i.toLong, s, s + rnd.nextInt(100))
    }
    val got = RangeJoin.pointInInterval(
      points.toDF("pid", "p"), ivs.toDF("iid", "s", "e"), "p", "s", "e", 37)
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val naive = for {
      (pid, p) <- points
      (iid, s, e) <- ivs
      if s <= p && p <= e
    } yield (pid, iid)
    assert(got.sorted.toSeq === naive.sorted)
    assert(got.length === got.toSet.size)
  }

  test("native graft_md5w60 equals conv(substring(md5(s),1,15),16,10) on random strings") {
    import org.apache.spark.sql.functions.{col, conv, md5, substring}
    val rnd = new scala.util.Random(0x5EED)
    val strs = (1 to 500).map(_ =>
      rnd.alphanumeric.take(1 + rnd.nextInt(40)).mkString) ++
      Seq("", " ", "a b c", "ünïcode ßtríng", "\t\n")
    val df = strs.toDF("s")
    val got = df.select(
      graft.functions.TextFunctions.shingleKey(col("s")).as("native"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("composed"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1), r.toString))
  }

  test("native graft_span_keys equals shingleKey∘positionalShingles (both hash modes, corpus + degenerate)") {
    import org.apache.spark.sql.functions.{col, posexplode_outer}
    import graft.functions.TextFunctions._
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    for (fast <- Seq(false, true); k <- Seq(2, 5)) {
      val mismatches = docs.select(col("doc_id"),
        positionalShingleKeys(col("toks"), k, fast).as("nat"),
        org.apache.spark.sql.functions.transform(
          positionalShingles(col("toks"), k),
          s => shingleKey(s, fast)).as("comp"))
        .filter(!(col("nat") <=> col("comp")))
        .count()
      assert(mismatches === 0L, s"fast=$fast k=$k")
    }
    // degenerate: short docs (< k tokens) and null tokens (concat_ws
    // skips nulls — the native form must too)
    import spark.implicits._
    val edge = Seq(Seq("a"), Seq[String](), Seq("a", null, "b", "c")).toDF("toks")
    val got = edge.select(positionalShingleKeys(col("toks"), 2).as("nat"),
      org.apache.spark.sql.functions.transform(
        positionalShingles(col("toks"), 2), s => shingleKey(s)).as("comp"))
      .collect()
    got.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1), r.toString))
  }

  test("native graft_topk (topKPerVector) equals sort-take-k with dup collapse on random scores") {
    // total order (score DESC, id ASC), exact duplicates collapsed —
    // checked against a naive driver reduction over random pairs
    // INCLUDING injected exact duplicates
    val rnd = new scala.util.Random(0xA11CE)
    val base = (1 to 3000).map(_ =>
      ((rnd.nextInt(25)).toLong, rnd.nextInt(40).toDouble, rnd.nextInt(200).toLong))
    val rows = base ++ base.take(300) // exact dups must not take two slots
    val k = 4
    val got = SimilaritySearch.topKPerVector(
      rows.toDF("vec_id", "cos", "neighbor_id"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(x => (x._3, x._2)).toList }
    val naive = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).distinct
        .sorted(Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long])).take(k).toList
    }
    assert(got === naive)
    // output arrives in the ranked order per group
    val ranked = SimilaritySearch.topKPerVector(
      rows.toDF("vec_id", "cos", "neighbor_id"), k)
      .filter($"vec_id" === 3L).collect()
      .map(r => (r.getDouble(2), r.getLong(1))).toList
    assert(ranked === naive(3L))
  }

  test("multi-table lshNeighbors equals the naive all-pairs formulation (the one ANN path with no DuckDB oracle)") {
    import graft.functions.VectorFunctions.hyperplanes
    val rnd = new scala.util.Random(0x15AC)
    val dim = 8
    val vecs = (0L until 60L).map(i => i -> Array.fill(dim)(rnd.nextGaussian()))
    val df = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val nBits = 3; val nTables = 3; val k = 2
    val got = SimilaritySearch.lshNeighbors(df, "vec_id", "embedding",
      dim, nBits, k, nTables)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (v, rs) => v -> rs.map(x => (x._2, x._3)).toSet }
    // naive: same plane tables, same bucket rule, exact cosine, top-k by
    // (cos desc, id asc) over the union of candidates across tables
    val tables = (0 until nTables).map(t =>
      hyperplanes(nBits, dim, seed = 0x5CA1AB1EL + t * 0x1000000000000L))
    def bucket(v: Array[Double], planes: Array[Array[Double]]): String =
      planes.map(p => if (v.zip(p).map { case (a, b) => a * b }.sum > 0) '1' else '0').mkString
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val naive = vecs.map { case (i, v) =>
      val cands = vecs.filter { case (j, w) =>
        j != i && tables.exists(t => bucket(v, t) == bucket(w, t))
      }
      i -> cands.map { case (j, w) => (j, cos(v, w)) }
        .sortBy { case (j, c) => (-c, j) }.take(k).toSet
    }.filter(_._2.nonEmpty).toMap
    assert(got.keySet === naive.keySet)
    for (v <- naive.keySet) {
      val g = got(v).map { case (j, c) => (j, math.rint(c * 1e12)) }
      val n = naive(v).map { case (j, c) => (j, math.rint(c * 1e12)) }
      assert(g === n, s"vec $v: got ${got(v)} expected ${naive(v)}")
    }
  }

  test("kmeansAssign equals naive driver-side Lloyd's on random vectors") {
    val rnd = new scala.util.Random(0x3EA2)
    val dim = 6; val k = 4; val iters = 3
    val vecs = (0L until 120L).map(i => i -> Array.fill(dim)(rnd.nextGaussian()))
    val df = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val got = Clustering.kmeansAssign(df, "vec_id", "embedding", k, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive reference: same init, same argmax(v·c − ½|c|²) with cid
    // tiebreak, same per-component mean rounded to 6 dp
    var cents: Seq[(Long, Array[Double])] =
      vecs.filter(_._1 < k).sortBy(_._1).map { case (i, v) => (i, v.clone()) }
    def assign(cs: Seq[(Long, Array[Double])]): Map[Long, Long] =
      vecs.map { case (i, v) =>
        i -> cs.map { case (cid, c) =>
          val dot = v.zip(c).map { case (a, b) => a * b }.sum
          val ns = c.map(x => x * x).sum
          (-(dot - 0.5 * ns), cid)
        }.min._2
      }.toMap
    for (_ <- 1 to iters) {
      val a = assign(cents)
      val byC = vecs.groupBy { case (i, _) => a(i) }
      cents = cents.map { case (cid, old) =>
        byC.get(cid) match {
          case Some(members) =>
            val m = Array.tabulate(dim) { d =>
              math.floor(members.map(_._2(d)).sum / members.size * 1e6 + 0.5) / 1e6
            }
            (cid, m)
          case None => (cid, old)
        }
      }
    }
    assert(got === assign(cents))
  }

  test("zorderKey equals the reference bit interleave on random coordinates") {
    val rnd = new scala.util.Random(0x20BD)
    val pts = (1 to 500).map(_ =>
      (rnd.nextInt(1 << 21).toLong, rnd.nextInt(1 << 21).toLong))
    val got = pts.toDF("x", "y")
      .select(Layout.zorderKey(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    def interleave(x: Long, y: Long): Long =
      (0 until 21).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    assert(got.toSeq === pts.map { case (x, y) => interleave(x, y) })
  }

  test("scd2Merge invariants hold on random update batches") {
    val rnd = new scala.util.Random(0x5CD2)
    val dim = (0L until 60L).map(i => (i, s"attr$i", rnd.nextInt(5).toLong,
      java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2099-12-31"), true))
      .toDF("k", "a", "v", "valid_from", "valid_to", "is_current")
    val upd = (0L until 80L).filter(_ => rnd.nextBoolean())
      .map(i => (i, rnd.nextInt(5).toLong)).toDF("k", "v")
    val out = Merge.scd2Merge(dim, upd, "k", Seq("v"), Seq("a"),
      "2024-06-01", "2099-12-31")
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(2),
      r.getDate(4).toString, r.getBoolean(5)))
    val updMap = upd.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dimMap = dim.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // exactly one current row per key in dim ∪ updates
    val current = rows.filter(_._4)
    assert(current.map(_._1).sorted.toSeq ===
      (dimMap.keySet ++ updMap.keySet).toSeq.sorted)
    assert(current.map(_._1).distinct.length === current.length)
    // every current row of an updated key carries the update's value
    current.filter(r => updMap.contains(r._1)).foreach { r =>
      assert(r._2 === updMap(r._1), s"key ${r._1}")
    }
    // closed rows exist exactly for keys whose value actually changed
    val closedKeys = rows.filter(r => !r._4 && r._3 == "2024-06-01").map(_._1).toSet
    val changedKeys = dimMap.keySet.filter(k =>
      updMap.contains(k) && updMap(k) != dimMap(k))
    assert(closedKeys === changedKeys)
  }

  test("tfidfTopTerms equals the naive driver-side computation on random corpora") {
    val rnd = new scala.util.Random(0x7F1D)
    val vocab = (1 to 15).map(i => s"w$i")
    val docs = (1L to 80L).map(i =>
      (i, (0 until (5 + rnd.nextInt(30))).map(_ => vocab(rnd.nextInt(vocab.size)))))
    val df = docs.map { case (i, ws) => (i, ws.mkString(" ")) }.toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(df, "doc_id", "text", topM = 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4, t._5)).toSet).toMap
    val n = docs.size
    val dfMap = docs.flatMap(_._2.distinct).groupBy(identity).view.mapValues(_.size).toMap
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val naive = docs.map { case (i, ws) =>
      val tf = ws.groupBy(identity).view.mapValues(_.size).toMap
      val scored = tf.toSeq.map { case (t, f) =>
        (t, f.toLong, dfMap(t).toLong, r6(f.toDouble * math.log(n.toDouble / dfMap(t))))
      }
      i -> scored.sortBy { case (t, _, _, s) => (-s, t) }.take(3).toSet
    }.toMap
    assert(got === naive)
  }

  test("duplicateClusters equals union-find on a random pair graph") {
    val rnd = new scala.util.Random(0xC1C1)
    val pairs = (1 to 150).map { _ =>
      val a = rnd.nextInt(80).toLong
      var b = rnd.nextInt(80).toLong
      if (a == b) b = (b + 1) % 80
      (math.min(a, b), math.max(a, b))
    }.distinct
    val got = Dedup.duplicateClusters(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val naive = parent.keys.map(x => x -> find(x)).toMap
    assert(got === naive)
  }

  test("NearestCenter(s) equal the naive argmax/top-p, including deliberate score ties") {
    val rnd = new scala.util.Random(0xCE27)
    val dim = 5; val nCents = 9; val p = 3
    // duplicated centroid vectors under distinct cids force exact score
    // ties — the tie must resolve to the SMALLER cid in both expressions
    val base = Array.fill(nCents - 3)(Array.fill(dim)(rnd.nextGaussian()))
    // a NaN-component centroid at the SMALLEST cid: scanned first, its
    // NaN score enters the insertion buffer before any real candidate —
    // both expressions must rank it below every finite score (the
    // composed array_sort's NaN-last total order), never freeze it at
    // rank 0
    val nanCent = { val c = Array.fill(dim)(rnd.nextGaussian()); c(2) = Double.NaN; c }
    val cents: Seq[(Long, Array[Double])] =
      ((-1L, nanCent) +: (base ++ Array(base(0).clone(), base(1).clone(), base(2).clone()))
        .zipWithIndex.map { case (c, i) => (i.toLong * 7, c) }.toSeq).sortBy(_._1)
    val vecs = (0L until 200L).map(i => i -> Array.fill(dim)(rnd.nextGaussian()))
    val df = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
    val gotNearest = df.select(col("id"),
      NativeFunctions.nearestCenter(col("v"), cents.map(_._2).toArray,
        cents.map(_._1).toArray).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotTop = df.select(col("id"),
      NativeFunctions.nearestCenters(col("v"), cents.map(_._2).toArray,
        cents.map(_._1).toArray, p).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    def l2Scores(v: Array[Double]) = cents.map { case (cid, c) =>
      val dot = c.indices.foldLeft(0.0)((s, j) => s + v(j) * c(j))
      val hn = 0.5 * c.indices.foldLeft(0.0)((s, j) => s + c(j) * c(j))
      (-(dot - hn), cid) // ascending sort = score desc, cid asc on ties
    }.sorted
    def dotScores(v: Array[Double]) = cents.map { case (cid, c) =>
      (-c.indices.foldLeft(0.0)((s, j) => s + v(j) * c(j)), cid)
    }.sorted
    vecs.foreach { case (i, v) =>
      assert(gotNearest(i) === l2Scores(v).head._2, s"vec $i (L2 argmax)")
      assert(gotTop(i) === dotScores(v).take(p).map(_._2).toList, s"vec $i (dot top-$p)")
    }
    // ties actually exercised: some vector must pick a duplicated centroid
    val dupCids = cents.groupBy(_._2.toSeq).values.filter(_.size > 1)
      .flatMap(_.map(_._1)).toSet
    assert(vecs.exists { case (i, _) => dupCids.contains(gotNearest(i)) })
  }

  /** Naive maximal-common-run reference for the span family: every
    * (i, j) where a run starts (previous tokens differ or at an edge),
    * extended directly — obviously correct, O(len²) per pair. */
  private def naiveRuns(a: Array[String], b: Array[String], minLen: Int): Seq[(Int, Int, Int)] =
    for {
      i <- a.indices
      j <- b.indices
      if a(i) == b(j) && (i == 0 || j == 0 || a(i - 1) != b(j - 1))
      len = Iterator.from(0).takeWhile(d =>
        i + d < a.length && j + d < b.length && a(i + d) == b(j + d)).size
      if len >= minLen
    } yield (i, j, len)

  private def randomSpanCorpus(seed: Long): Seq[(Long, Array[String])] = {
    val rnd = new scala.util.Random(seed)
    // tiny vocabulary → accidental repeats, rich diagonal structure
    val vocab = Array("u", "v", "w", "x", "y")
    val base = (0 until 12).map { i =>
      i.toLong -> Array.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length)))
    }
    // splice real copied passages between random doc pairs
    base.map { case (id, toks) =>
      if (id % 3 == 2 && toks.length > 4) {
        val (srcId, src) = base((id.toInt + rnd.nextInt(11) + 1) % 12)
        if (srcId != id && src.length >= 14) {
          val start = rnd.nextInt(src.length - 13)
          val span = src.slice(start, start + 14 + rnd.nextInt(6).min(src.length - start - 14).max(0))
          val at = rnd.nextInt(toks.length)
          id -> (toks.take(at) ++ span ++ toks.drop(at))
        } else id -> toks
      } else id -> toks
    }
  }

  test("sharedSpans equals the naive maximal-common-run fold on random spliced corpora") {
    for (seed <- Seq(0x5AA5L, 0xBEEFL)) {
      val corpus = randomSpanCorpus(seed)
      val df = corpus.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      val got = Dedup.sharedSpans(df, "doc_id", "text", maxDocFreqFraction = None)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getInt(4), r.getInt(5))).toMap
      val naive = (for {
        (ia, ta) <- corpus; (ib, tb) <- corpus; if ia < ib
        runs = naiveRuns(ta, tb, Dedup.DefaultMinSpanTokens)
        if runs.nonEmpty
      } yield {
        val best = runs.maxBy { case (i, j, len) => (len, -i, -j) }
        (ia, ib) -> (runs.size.toLong, best._3.toLong, best._1, best._2)
      }).toMap
      assert(got === naive, s"seed $seed: ${got.size} vs ${naive.size} pairs")
      assert(naive.nonEmpty, s"seed $seed must plant at least one span")
    }
  }

  test("duplicatedTokenFraction equals naive interval-union coverage on random spliced corpora") {
    val corpus = randomSpanCorpus(0xD0C5L)
    val df = corpus.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
    val got = Dedup.duplicatedTokenFraction(df, "doc_id", "text",
      maxDocFreqFraction = None)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val intervals = collection.mutable.Map.empty[Long, List[(Int, Int)]].withDefaultValue(Nil)
    for {
      (ia, ta) <- corpus; (ib, tb) <- corpus; if ia < ib
      (i, j, len) <- naiveRuns(ta, tb, Dedup.DefaultMinSpanTokens)
    } {
      intervals(ia) ::= (i, i + len)
      intervals(ib) ::= (j, j + len)
    }
    def cover(iv: List[(Int, Int)]): Long = {
      val pts = iv.flatMap { case (s, e) => s until e }.toSet
      pts.size.toLong
    }
    corpus.foreach { case (id, toks) =>
      val n = math.max(1, toks.length) // split("") yields one empty token
      assert(got(id)._1 === n.toLong, s"doc $id n_tokens")
      assert(got(id)._2 === cover(intervals(id)), s"doc $id coverage")
    }
  }

  test("tokenBudgetFill equals the naive sequential fill on random corpora, and chained incremental fills equal stream-order admission") {
    val rnd = new scala.util.Random(0xB0D6E7)
    def h(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest((id.toString + "budget").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val groups = Seq("a", "b", "c", "d")
    val rows = (1L to 1500L).map(i =>
      (i, groups(rnd.nextInt(groups.length)), 1L + rnd.nextInt(40)))
    val budgets = groups.map(g => g -> (50L + rnd.nextInt(4000)))
    def naive(members: Seq[(Long, String, Long)], base: Map[String, Long]): Map[Long, Long] =
      members.filter(r => budgets.toMap.contains(r._2)).groupBy(_._2).flatMap {
        case (g, ms) =>
          var cum = base.getOrElse(g, 0L)
          ms.sortBy(r => (h(r._1), r._1)).flatMap { case (id, _, n) =>
            val before = cum; cum += n
            if (before < budgets.toMap.apply(g)) Some(id -> before) else None
          }
      }
    val full = Sampling.tokenBudgetFill(
      rows.toDF("id", "grp", "n"), "id", "grp", "n", budgets)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(full === naive(rows, Map.empty))
    // chained incremental over a random 3-way arrival split == naive
    // admission with carried totals — the streaming twin's contract
    val arrival = rows.map(r => (r, rnd.nextInt(3)))
    var totals = Map.empty[String, Long].withDefaultValue(0L)
    var wantAll = Map.empty[Long, Long]
    var gotAll = Map.empty[Long, Long]
    (0 until 3).foreach { b =>
      val batch = arrival.filter(_._2 == b).map(_._1)
      val takenDf = totals.toSeq.toDF("grp", "n")
      val got = Sampling.tokenBudgetFillIncremental(
        batch.toDF("id", "grp", "n"), "id", "grp", "n", budgets, takenDf)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val want = naive(batch, totals)
      assert(got === want, s"batch $b")
      val admitted = batch.filter(r => got.contains(r._1))
      admitted.groupBy(_._2).foreach { case (g, ms) =>
        totals = totals.updated(g, totals(g) + ms.map(_._3).sum)
      }
      wantAll ++= want; gotAll ++= got
    }
    assert(gotAll === wantAll)
    assert(gotAll.nonEmpty)
  }
}
