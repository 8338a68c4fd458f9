package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}

/** Test-side Scala reference models of the native pair walks and ANN
  * scorers, run over collected rows. They state the operators' contracts
  * in plain collection code, independent of the compiled kernels, so the
  * differential specs compare every native path against them
  * bit-for-bit. */
object ReferenceModels {

  /** Candidate pairs (doc_a, doc_b, score) of a banded LSH walk over
    * (doc, sig) rows, doc ids unique.
    *
    *   - Bucketing: in band b, two docs share a bucket iff
    *     `slice(sig, b)` agrees.
    *   - Cap: a bucket of m > cap members keeps only its `cap` lowest
    *     ids as survivors (all pairs among them) plus one chain from the
    *     lowest id to every other member.
    *   - First colliding band: a pair found in band b is kept only if its
    *     slices differ in every band before b, so it is reported once.
    */
  def bandedPairs[S, A](sigs: Seq[(Long, S)], bands: Int,
      slice: (S, Int) => Any, score: (S, S) => A,
      cap: Option[Int]): Set[(Long, Long, A)] =
    (0 until bands).flatMap { b =>
      sigs.groupBy { case (_, s) => slice(s, b) }.values.flatMap { bucket =>
        val ms = bucket.sortBy(_._1).toIndexedSeq
        val survivors = cap.fold(ms.size)(c => math.min(c, ms.size))
        val inner = for (i <- 0 until survivors; j <- i + 1 until survivors)
          yield (ms(i), ms(j))
        val chains = (survivors until ms.size).map(j => (ms(0), ms(j)))
        (inner ++ chains).collect {
          case ((dx, x), (dy, y)) if (0 until b).forall(e => slice(x, e) != slice(y, e)) =>
            (math.min(dx, dy), math.max(dx, dy), score(x, y))
        }
      }
    }.toSet

  /** Band slice `b` of a packed long signature: `r` bits from b·r. */
  def packedSlice(r: Int)(sig: Long, b: Int): Long = (sig >> (b * r)) & ((1L << r) - 1)

  def hammingLong(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)

  /** Band slice `b` of an array signature: components [b·r, b·r+r). */
  def arraySlice[T](r: Int)(sig: Seq[T], b: Int): Seq[T] = sig.slice(b * r, b * r + r)

  /** Fraction of agreeing components (TextFunctions.estJaccard). */
  def estJaccard(x: Seq[Long], y: Seq[Long]): Double =
    x.zip(y).count { case (a, b) => a == b }.toDouble / x.size.toDouble

  /** MinHash signature as an interpreted higher-order-function column:
    * `k` independent min-hashes over `shingleArr`, component i the min
    * over shingles of universal-hash_i(baseHash(shingle)) with the
    * coefficients of `TextFunctions.minhashCoefficients`. The reference
    * the native `graft_minhash` expression is compared against
    * bit-for-bit. One `aggregate` over the shingle array (element-wise
    * min of per-shingle hash vectors), so the array is evaluated once
    * per row. */
  def minhashSignature(shingleArr: Column, k: Int, fast: Boolean = false): Column = {
    val (coefA, coefB) = TextFunctions.minhashCoefficients(k)
    val aLit = array(coefA.map(lit): _*)
    val bLit = array(coefB.map(lit): _*)
    aggregate(
      transform(shingleArr, s => TextFunctions.baseHash(s, fast)),
      array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(
        acc,
        zip_with(aLit, bLit, (a, b) => pmod(a * h + b, lit(TextFunctions.P))),
        (x, y) => least(x, y)))
  }

  /** (doc, signature) rows of minhashPairs' signature stage, computed
    * with the HOF [[minhashSignature]]: docs with fewer than
    * `n` tokens have no shingles and are left out. */
  def minhashSigs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = Dedup.DefaultShingleN, k: Int = Dedup.DefaultMinhashK): Seq[(Long, Seq[Long])] =
    docs.select(col(idCol).cast("long").as("doc"), TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc"), minhashSignature(
        TextFunctions.shinglesFromTokens(col("toks"), n), k).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq

  /** An embedding as the ANN walks see it: doubles and their norm. */
  final case class Vec(id: Long, v: Array[Double], nrm: Double)

  private def dot(x: Array[Double], y: Array[Double]): Double =
    x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))

  def vectors(emb: DataFrame): Map[Long, Vec] =
    emb.select(col("vec_id"), VectorFunctions.asDoubles(col("embedding")))
      .collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        r.getLong(0) -> Vec(r.getLong(0), v, math.sqrt(dot(v, v)))
      }.toMap

  /** The candidate pool of a bucket: every member, or above `cap` the
    * `cap` members with the lowest (xxhash64(id), id). */
  def pool(members: Seq[Vec], cap: Option[Int]): Seq[Vec] = cap match {
    case Some(c) if members.size > c =>
      members.sortBy(m => (xxhash64Long(m.id), m.id)).take(c)
    case _ => members
  }

  private def xxhash64Long(id: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L)

  /** Each visitor's k nearest (vec_id, neighbor_id, cos) over the union
    * of its (visitor, pool) scoring groups: candidates exclude the
    * visitor itself, cos = sequential dot / (norm · norm), ranked
    * (cos DESC, neighbor_id ASC), a neighbor reached through several
    * groups counted once. */
  def topKNeighbors(groups: Seq[(Seq[Vec], Seq[Vec])], k: Int): Set[(Long, Long, Double)] =
    groups.flatMap { case (visitors, pool) =>
      for (a <- visitors; b <- pool if b.id != a.id)
        yield (a.id, b.id, dot(a.v, b.v) / (a.nrm * b.nrm))
    }.distinct.groupBy(_._1).values.flatMap { cands =>
      cands.sortWith { (x, y) => x._3 > y._3 || (x._3 == y._3 && x._2 < y._2) }.take(k)
    }.toSet

  /** Feature bucket of token `w`: the first 15 md5 hex digits mod `nf`
    * (QualityClassifier's hashed unigram feature). */
  def hashToken(w: String, nf: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(w.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % nf).toInt
  }

  /** `QualityClassifier.classify` over collected (id, text) rows in
    * plain Scala collections — no Spark, no SQL: the same hashed-unigram
    * features, seed labels, fixed-point logistic-regression steps and
    * scoring, so the distributed implementation is checked against an
    * independent simple one. Rows are (id, n_tokens, clf_prob,
    * clf_label), sorted by id. */
  def referenceClassify(
      rows: Seq[(Long, String)], nf: Int, iters: Int, lr: Double,
      lowQ: Double, highQ: Double): Seq[(Long, Long, Double, Int)] = {
    val scale = QualityClassifier.Scale
    val stop = Set("the", "a")
    def feats(text: String): (Long, Map[Int, Long]) = {
      val t = text.split(" ", -1)
      val n = t.length.toLong
      val hashed = t.groupBy(w => hashToken(w, nf)).map { case (f, ws) =>
        f -> ws.length.toLong }
      val eng = Map(
        nf -> t.distinct.length.toLong,
        (nf + 1) -> math.floor(math.min(n.toDouble * n / 100.0, n.toDouble)).toLong,
        (nf + 2) -> n)
      (n, hashed ++ eng)
    }
    def quality(text: String): Double = {
      val t = text.split(" ", -1)
      val n = t.length
      t.distinct.length.toDouble / n + math.min(n / 100.0, 1.0) -
        t.count(stop).toDouble / n
    }
    val docFeats = rows.map { case (id, text) => (id, feats(text)) }
    val labels = rows.flatMap { case (id, text) =>
      val q = quality(text)
      if (q >= highQ) Some(id -> 1L)
      else if (q <= lowQ) Some(id -> 0L) else None
    }.toMap
    var w = Array.fill(nf + 3)(0L)
    for (_ <- 1 to iters) {
      val g = Array.fill(nf + 3)(0L)
      docFeats.foreach { case (id, (n, fs)) =>
        labels.get(id).foreach { y =>
          val dot = fs.map { case (f, c) => w(f) * c }.sum
          val p = 1.0 / (1.0 + math.exp(-(dot.toDouble / (scale * n))))
          val resid = math.floor((p - y) / n * scale + 0.5).toLong
          fs.foreach { case (f, c) => g(f) += resid * c }
        }
      }
      w = Array.tabulate(nf + 3)(f =>
        w(f) - math.floor(lr * g(f).toDouble / labels.size + 0.5).toLong)
    }
    docFeats.map { case (id, (n, fs)) =>
      val dot = fs.map { case (f, c) => w(f) * c }.sum
      val p = 1.0 / (1.0 + math.exp(-(dot.toDouble / (scale * n))))
      val prob = math.floor(p * scale + 0.5) / scale
      (id, n, prob, if (prob >= 0.5) 1 else 0)
    }.sortBy(_._1)
  }
}
