package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the training-data pipeline operators, built
  * entirely from codegen'd Spark built-ins (no UDFs — SURVEY.md §2.F
  * notes the reference needs zero UDFs; we keep that property even for
  * the ops we add beyond the reference).
  */
object TextFunctions {

  /** Whitespace tokens of `text`. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles from a *materialized* token-array
    * column. The token array MUST come from its own projection (see
    * `Dedup`): this expression references it n+1 times, which keeps
    * CollapseProject from inlining the split() into the lambda —
    * interpreted higher-order functions have no common-subexpression
    * elimination, so an inlined split would re-tokenize the full text
    * for every shingle element (measured 3× re-evaluation → ~4s of the
    * original 10s dd_minhash time at sf0.1). */
  def shinglesFromTokens(tok: Column, n: Int): Column = {
    // Guard the short-document case explicitly: Spark's sequence(0, stop)
    // steps DOWNWARD when stop < 0 (sequence(0,-1) = [0,-1], not []), so
    // an unguarded range would index out of bounds on any doc with fewer
    // than n tokens (ANSI mode then throws INVALID_ARRAY_INDEX).
    val sh = array_distinct(transform(
      sequence(lit(0), size(tok) - n),
      i => concat_ws(" ", (0 until n).map(k => element_at(tok, i + k + 1)): _*)))
    when(size(tok) >= n, sh).otherwise(array().cast("array<string>"))
  }

  /** POSITIONAL n-gram shingles: like `shinglesFromTokens` but keeping
    * every occurrence in order (no distinct), so `posexplode` over the
    * result yields (0-based token offset, shingle) — the index rows the
    * shared-span detector (`Dedup.sharedSpans`) needs. Same
    * short-document guard as above. */
  def positionalShingles(tok: Column, n: Int): Column = {
    val sh = transform(
      sequence(lit(0), size(tok) - n),
      i => concat_ws(" ", (0 until n).map(k => element_at(tok, i + k + 1)): _*))
    when(size(tok) >= n, sh).otherwise(array().cast("array<string>"))
  }

  /** Base hash for signature schemes. Default: the first 15 hex chars of
    * md5 as a 60-bit non-negative long, mod P. Chosen over xxhash64 for
    * CROSS-ENGINE VERIFIABILITY — DuckDB computes the identical value as
    * `('0x' || substr(md5(s),1,15))::BIGINT % P`, which makes the whole
    * MinHash/LSH pipeline oracle-checkable, not just spec-tested.
    *
    * `fast = true` swaps in xxhash64 (≈10× cheaper per shingle — at
    * 100 TB the hash is the dominant dedup term, so production corpora
    * without a cross-engine gate should run fast mode; LSH statistics are
    * identical, only the concrete pairs near the threshold wobble). */
  private[graft] val P = 2147483647L // 2^31 - 1, prime
  // md5 path: the NATIVE graft_md5w60 expression — same value as
  // conv(substring(md5(s),1,15),16,10) (differential-spec'd), without
  // materializing and re-parsing a 32-char hex string per shingle (the
  // hottest expression of the span/minhash posting passes, round 15)
  def baseHash(s: Column, fast: Boolean = false): Column =
    if (fast) pmod(xxhash64(s), lit(P))
    else pmod(md5w60(s), lit(P))

  /** 60-bit shingle JOIN key — `baseHash` without the mod-P fold, for
    * equi-joins on shingles (the span-dedup family): a k-token shingle
    * string is 40–80 B and was being exchanged twice over every shingle
    * position; the 8 B key carries the join instead. 60 bits keeps the
    * collision probability negligible at corpus scale (~10⁹ distinct
    * shingles → p ≈ 4·10⁻⁴ of ONE colliding pair, and a collision can
    * only add a spurious length-k island, below `minSpanTokens`).
    * Oracle-expressible: `('0x' || substr(md5(s),1,15))::BIGINT` in
    * DuckDB is bit-identical. `fast = true` swaps in xxhash64 (full
    * 64-bit) for production corpora without a cross-engine gate. */
  def shingleKey(s: Column, fast: Boolean = false): Column =
    if (fast) xxhash64(s)
    else md5w60(s)

  // direct expression construction, like every native column
  // (NativeFunctions): no FunctionRegistry dependence
  private def md5w60(s: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.Md5Word60(ColumnBridge.expression(s)))
  }

  /** Positional shingle keys — element i = shingleKey of the k-token
    * window at position i, as ONE native array<long>
    * (plans.SpanKeys): bit-identical to
    * `shingleKey(positionalShingles(tok, k)(i), fast)` without the
    * interpreted per-position concat_ws lambda or the intermediate
    * shingle strings (differential-spec'd). The span-posting hot path;
    * < k tokens → empty array. */
  def positionalShingleKeys(tok: Column, k: Int, fast: Boolean = false): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.SpanKeys(ColumnBridge.expression(tok), k, fast))
  }

  /** k universal-hash coefficient pairs (fixed seed → identical on every
    * executor and embeddable as oracle-SQL literals); h_i = (a_i*h + b_i)
    * mod P with h,a,b < P, so products stay < 2^62 (no ANSI overflow)
    * and the mod breaks the monotonicity that would otherwise make every
    * component pick the same min shingle. */
  def minhashCoefficients(k: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(0x5EED5EED)
    def draw(lo: Long): Long = ((rnd.nextLong() & Long.MaxValue) % (P - lo)) + lo
    val a = Array.fill(k)(draw(1L))
    val b = Array.fill(k)(draw(0L))
    (a, b)
  }

  /** Estimated Jaccard from two equal-length MinHash signatures: the
    * fraction of agreeing components. */
  def estJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(sigA)

  /** SimHash bit vector (length `bits`, must be 64) over whitespace
    * tokens: bit j is 1 iff the sum over tokens of ±1 votes is positive,
    * where token t's vote for bit j is bit j of t's 64-bit hash — the
    * classic single-hash SimHash. The hash is md5's first 16 hex chars
    * split into two 32-bit words (cross-engine verifiable: DuckDB
    * recomputes them with the same substr/hex-cast, so dd_simhash is
    * oracle-gated). Per-token hashes are materialized FIRST (the
    * aggregate input — evaluated once per token), never inside the vote
    * lambda where interpreted HOFs would recompute md5 per bit. One
    * projection, no shuffle. */
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

  /** A `bits`-element (≤ 64) 0/1 bit array packed into ONE long: bit i
    * of the result = element i of the array (position-preserving — the
    * packed form's band-b shift+mask slice equals the array form's
    * slice, the contract Dedup's packed machinery rides). Bit 63 lands
    * in the sign position, which is fine: xor/bit_count/masked-shift
    * are all sign-agnostic. `bits` is an explicit literal so `bitsArr`
    * is referenced EXACTLY ONCE — a size(bitsArr)-based range would be
    * a second reference, and CollapseProject then macro-expands a
    * non-attribute argument (the whole simhash vote tree) once per
    * reference: measured 3.65s → 7.07s on the banding stage before
    * this was a parameter. */
  def packBits(bitsArr: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 64, s"packBits packs 1..64 bits, got $bits")
    aggregate(
      zip_with(bitsArr, sequence(lit(0), lit(bits - 1)),
        (b, i) => call_function("shiftleft", b.cast("long"), i)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")
}
