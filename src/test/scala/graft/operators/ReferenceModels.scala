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

  /** Dot product as a higher-order-function column: the executable spec
    * of `VectorFunctions.dot`'s accumulation order (sequential,
    * left-to-right), which the native `graft_dot` must equal
    * bit-for-bit. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** SimHash bit vector (length `bits`, must be 64) over whitespace
    * tokens: bit j is 1 iff the sum over tokens of ±1 votes is positive,
    * where token t's vote for bit j is bit j of t's 64-bit hash (md5's
    * first 16 hex chars split into two 32-bit words, the words DuckDB
    * recomputes for the dd_simhash oracle). With [[packBits]], the
    * interpreted spec of the native `graft_simhash64`. */
  def simhashBits(tokenArr: Column, bits: Int): Column = {
    require(bits == 64, "simhashBits derives votes from one 64-bit hash")
    // hash words: [hi32, lo32] from md5 hex chars 1-8 / 9-16
    val tokHashes = transform(tokenArr, t => array(
      conv(substring(md5(t), 1, 8), 16, 10).cast("long"),
      conv(substring(md5(t), 9, 8), 16, 10).cast("long")))
    transform(
      aggregate(
        tokHashes,
        array_repeat(lit(0L), bits),
        (acc, h) => zip_with(
          acc,
          transform(sequence(lit(0), lit(bits - 1)), j => {
            // bit j of the 64-bit hash: word hi for j<32, lo after;
            // (word >> (31 - j%32)) & 1 — identical arithmetic in DuckDB
            val word = element_at(h, when(j < 32, 1).otherwise(2))
            val bit = call_function("shiftright", word, lit(31) - pmod(j, lit(32)))
              .bitwiseAND(lit(1L))
            when(bit === 1, 1L).otherwise(-1L)
          }),
          (a, b) => a + b)),
      v => when(v > 0, 1).otherwise(0))
  }

  /** A `bits`-element (≤ 64) 0/1 bit array packed into one long: bit i
    * of the result = element i of the array, so the packed form's
    * band-b shift+mask slice equals the array form's slice. */
  def packBits(bitsArr: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 64, s"packBits packs 1..64 bits, got $bits")
    aggregate(
      zip_with(bitsArr, sequence(lit(0), lit(bits - 1)),
        (b, i) => call_function("shiftleft", b.cast("long"), i)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Word n-grams WITH duplicates: frequency is the point for
    * repetition signals. */
  def grams(tok: Column, n: Int): Column = {
    val g = transform(
      sequence(lit(0), size(tok) - n),
      i => concat_ws(" ", (0 until n).map(k => element_at(tok, i + k + 1)): _*))
    when(size(tok) >= n, g).otherwise(array().cast("array<string>"))
  }

  /** Max gram multiplicity as the longest run in the sorted array —
    * with [[grams]], the interpreted spec of `graft_maxmult_ngram`. */
  def topRunCountHof(gramArr: Column): Column = aggregate(
    array_sort(gramArr),
    struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
    (acc, x) => {
      val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
        .otherwise(lit(1L))
      struct(x.as("prev"), run.as("run"),
        greatest(acc.getField("best"), run).as("best"))
    },
    acc => acc.getField("best"))

  /** BPE training over a plain word-count map — the differential twin
    * of `TextAnalysis.bpeTrain` (same tie-break, same greedy
    * application), compared in BpeTrainSpec. */
  def bpeTrainReference(
      wordFreq: Map[String, Long], rounds: Int): Seq[(Int, String, String, Long)] = {
    // CODE-POINT symbols (not UTF-16 chars): Spark's substring slices
    // by code point, so a supplementary-plane character (emoji) must be
    // ONE reference symbol too, never a surrogate half
    def codePoints(w: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }
    // tie-break in UTF-8 BYTE order — the binary ordering Spark's
    // orderBy uses on strings; Java's compareTo orders by UTF-16 unit,
    // which ranks [U+E000, U+FFFF] above supplementary characters
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    var words: Map[Vector[String], Long] = wordFreq.toSeq
      .map { case (w, f) => codePoints(w) -> f }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(x, y) => counts((x, y)) = counts.getOrElse((x, y), 0L) + f
          case _ =>
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ord = new Ordering[((String, String), Long)] {
          def compare(p: ((String, String), Long), q: ((String, String), Long)): Int = {
            if (p._2 != q._2) return java.lang.Long.compare(q._2, p._2)
            if (p._1._1 != q._1._1)
              return if (utf8Lt(p._1._1, q._1._1)) -1 else 1
            if (p._1._2 == q._1._2) 0
            else if (utf8Lt(p._1._2, q._1._2)) -1 else 1
          }
        }
        val ((a, b), cnt) = counts.min(ord)
        out += ((r, a, b, cnt))
        words = words.toSeq.map { case (syms, f) =>
          val merged = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              merged += (a + b); i += 2
            } else { merged += syms(i); i += 1 }
          }
          merged.result() -> f
        }.groupMapReduce(_._1)(_._2)(_ + _)
        r += 1
      }
    }
    out.result()
  }
}
