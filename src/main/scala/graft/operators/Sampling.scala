package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deterministic, key-stable sampling and dataset splitting — the
  * selection primitives of a training-data pipeline (train/val/test
  * splits, per-class downsampling). Everything derives from a uniform
  * unit hash of the row KEY + a salt, so:
  *
  *   - membership is a pure function of the key: re-runs, retries, and
  *     cluster re-partitioning cannot change who is sampled (unlike
  *     `df.sample`, whose outcome depends on partitioning and seed
  *     plumbing);
  *   - a row's split assignment is stable as the corpus grows — adding
  *     documents never moves an existing document between train and
  *     test (the property that prevents eval contamination);
  *   - different salts give independent samples;
  *   - the hash is the engine's md5-based `baseHash`, so every sample
  *     and split is cross-engine recomputable and oracle-gated, not
  *     just spec-tested.
  *
  * Scale: all of these are stateless single-pass projections/filters —
  * scan-speed, no shuffle, trivially parallel at any corpus size.
  */
object Sampling {

  private val P = TextFunctions.P

  /** Uniform value in [0,1) derived from (key, salt) — md5-based, so
    * DuckDB recomputes it exactly:
    * `(('0x' || substr(md5(key || salt), 1, 15))::BIGINT % P) / P`. */
  def unitHash(key: Column, salt: String): Column =
    TextFunctions.baseHash(concat(key.cast("string"), lit(salt)))
      .cast("double") / lit(P.toDouble)

  /** Cumulative upper bounds for `splitByKey` — exposed so oracle SQL
    * can interpolate the EXACT double bounds the operator compares
    * against (recomputing them independently could differ in the last
    * ulp). The final split has no bound (it is the otherwise-branch). */
  def splitBounds(weights: Seq[(String, Double)]): Seq[(String, Double)] = {
    require(weights.nonEmpty && weights.forall(_._2 > 0))
    val total = weights.map(_._2).sum
    weights.init.zip(weights.scanLeft(0.0)(_ + _._2).tail.map(_ / total))
      .map { case ((name, _), bound) => name -> bound }
  }

  /** Assign every row to a named split with the given weights (need not
    * sum to 1; they are normalized). Returns the input plus a `split`
    * column. */
  def splitByKey(df: DataFrame, keyCol: String,
      weights: Seq[(String, Double)], salt: String = "split"): DataFrame = {
    val u = unitHash(col(keyCol), salt)
    // last branch is otherwise() so float edges can't drop a row
    val expr = splitBounds(weights).reverse
      .foldLeft(lit(weights.last._1): Column) { case (acc, (name, bound)) =>
        when(u < bound, name).otherwise(acc)
      }
    df.withColumn("split", expr)
  }

  /** Per-stratum sampling fractions (e.g. downsample dominant classes):
    * rows of strata absent from `fractions` are dropped. */
  def stratifiedSampleByKey(df: DataFrame, keyCol: String, strataCol: String,
      fractions: Seq[(String, Double)], salt: String = "strata"): DataFrame = {
    require(fractions.nonEmpty)
    val u = unitHash(col(keyCol), salt)
    val frac = fractions.foldLeft(lit(-1.0): Column) { case (acc, (s, f)) =>
      when(col(strataCol) === s, f).otherwise(acc)
    }
    df.filter(u < frac)
  }

  /** Deterministic global shuffle + shard assignment — the "shuffle the
    * corpus before training" step, made reproducible: shard and
    * within-shard position derive from md5(key‖salt), so the exact same
    * training order falls out of any partitioning, any retry, any
    * cluster size (collection-order `zipWithIndex`/monotonically_
    * increasing_id would not survive a re-run).
    *
    * Scale: the shard key is a stateless projection; the within-shard
    * position is one sort per shard — shards are the parallel unit
    * (= output files), so this is exactly the sort a sharded training-
    * data writer performs anyway. Position ranks with a window per
    * shard; a 100 TB corpus at 8192 shards keeps each window partition
    * at corpus/8192 — sized to a task, not a hot key. */
  def shuffleShard(df: DataFrame, keyCol: String, nShards: Int,
      salt: String = "shuffle"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards >= 1)
    val kstr = concat(col(keyCol).cast("string"), lit(salt))
    // withColumn, not select: payload columns ride along (the point is
    // shuffling the CORPUS, not just its keys)
    df.withColumn("__h", md5(kstr))
      .withColumn("shard", pmod(TextFunctions.baseHash(kstr), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("__h"), col(keyCol))).cast("long"))
      .drop("__h")
  }

  /** Per-group contribution cap — "at most `maxPerGroup` documents per
    * cluster/domain/source", the diversity-capping pass that keeps one
    * giant near-duplicate cluster or crawl domain from dominating a
    * training mix. Which members survive is decided by the key-stable
    * unit hash (then key as tiebreak), so the kept set is reproducible
    * under any partitioning and stable as other groups grow.
    *
    * Scale: one window per group with a rank cutoff — Spark's
    * WindowGroupLimit pushes the top-k down to a PARTIAL pass before the
    * exchange, so the shuffle carries ≤ maxPerGroup rows per group per
    * input partition, not whole groups. */
  def capPerGroup(df: DataFrame, keyCol: String, groupCol: String,
      maxPerGroup: Int, salt: String = "cap"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerGroup >= 1)
    val u = unitHash(col(keyCol), salt)
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(u, col(keyCol))))
      .filter(col("__rn") <= maxPerGroup)
      .drop("__rn")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    * keep the k rows with the largest u^(1/w), where u is the key-stable
    * unit hash — inclusion probability proportional to weight, sample
    * reproducible under any partitioning. The sort key goes through
    * VectorFunctions.roundFixed, which shrinks the window in which the
    * one non-correctly-rounded op (pow, 1-ulp across libms) could flip
    * cross-engine row selection to a vanishing sliver — the oracle gate,
    * not the rounding, is what certifies the concrete sample. Ties break
    * by key column.
    *
    * Weights must be > 0 and non-NULL: w = 0 gives u^∞ (never sampled),
    * w < 0 inverts the inclusion order so invalid rows silently dominate,
    * and NULL poisons the sort key — all are corpus bugs, so they fail
    * loudly in-plan (same raise_error pattern as scd2Merge's duplicate-
    * key guard) rather than skew the sample.
    *
    * Scale: a projection + top-k — TakeOrderedAndProject, never a global
    * sort. */
  def weightedSampleByKey(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, salt: String = "wsample"): DataFrame = {
    require(k >= 1)
    val u = unitHash(col(keyCol), salt)
    val w = col(weightCol).cast("double")
    // guard lives INSIDE the weight expression so pruning can't drop it.
    // The domain is finite positive: NULL poisons the sort key, w <= 0
    // inverts the inclusion order, NaN sorts above every double (NaN-
    // weight rows would silently FILL the sample), and +Inf yields
    // pow(u, 0) = 1.0 (deterministically beating every finite weight) —
    // all corpus bugs, all rejected loudly
    val guardedW = when(w.isNull || isnan(w) || w <= 0 || w === lit(Double.PositiveInfinity),
      raise_error(concat(
        lit(s"weightedSampleByKey: weight '$weightCol' must be finite and > 0 for key "),
        col(keyCol).cast("string"))))
      .otherwise(w)
    val key = graft.functions.VectorFunctions.roundFixed(
      pow(u, lit(1.0) / guardedW), 9)
    df.withColumn("sample_key", key)
      .orderBy(col("sample_key").desc, col(keyCol))
      .limit(k)
  }

  /** Mixture weighting by repetition — the domain-mixing primitive of a
    * training run ("2.5 epochs of wiki, 0.25 of web"): every row of
    * class c is emitted floor(rate_c) times, plus one more with
    * probability frac(rate_c), decided by the key-stable unit hash. A
    * rate of 0 drops the class; rates in (0,1) downsample; rates > 1
    * upsample by whole-copy repetition. Expected copies = rate exactly.
    *
    * Scale: a projection + explode — output size is Σ rate_c·|class c|,
    * no shuffle, key-stable across reruns. */
  def mixtureEpochs(df: DataFrame, keyCol: String, classCol: String,
      rates: Seq[(String, Double)], defaultRate: Double = 1.0,
      salt: String = "mix"): DataFrame = {
    require(rates.forall(_._2 >= 0) && defaultRate >= 0)
    val rate = rates.foldLeft(lit(defaultRate): Column) { case (acc, (s, r)) =>
      when(col(classCol) === s, r).otherwise(acc)
    }
    val u = unitHash(col(keyCol), salt)
    val nCopies = floor(rate).cast("long") +
      when(u < rate - floor(rate), 1L).otherwise(0L)
    // withColumn: payload columns ride along into the repeated output
    df.withColumn("n_copies", nCopies)
      .filter(col("n_copies") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("n_copies") - 1)))
  }

  /** Token-budget mixture fill — the unit a mixture is actually
    * specified in: "this training run takes N_g TOKENS of domain g",
    * not a document count or an epoch rate ([[mixtureEpochs]] covers
    * rates; THIS fills absolute token budgets). Per group, documents
    * are taken in the key-stable md5 order until the group's budget is
    * crossed: a document is kept iff the tokens BEFORE it (exclusive
    * prefix sum in that order) are still under the budget — so the
    * boundary-crossing document is included and the filled volume lands
    * in [budget, budget + one document). Groups absent from `budgets`
    * are dropped (the stratifiedSampleByKey convention). The kept set
    * is a pure function of (key, salt, budgets): reruns, retries and
    * any partitioning reproduce it, and raising a budget only ever ADDS
    * documents (prefix-stability — the property that lets a mixture be
    * grown without resampling what a previous run already took).
    *
    * Scale — the running sum is the textbook sequential trap, so it is
    * decomposed as a DISTRIBUTED TWO-PHASE PREFIX SUM: the 60-bit order
    * key h is range-split into `strata` contiguous buckets (stratum =
    * h >> k, monotone in h, so (stratum, h, key) order ≡ (h, key)
    * order); phase 1 computes per-(group, stratum) token sums — one
    * map-side-combinable aggregation collapsing the corpus to
    * ≤ groups·strata rows — and turns them into per-stratum base
    * offsets with a window over that TINY table; phase 2 computes the
    * within-stratum exclusive cumsum with a window partitioned by
    * (group, stratum) — corpus/strata rows per partition, a task, not a
    * group — and broadcast-joins the base offsets back. Exactly two
    * corpus-sized exchanges, no group-sized window anywhere; `strata`
    * sizes the parallel unit (256 suits memory-scale groups; a 100 TB
    * group wants 2^14+ so each stratum is a few GB).
    *
    * Output: the input columns plus `tokens_before` (the exclusive
    * prefix — the number a packing/budget auditor reconciles against).
    * `tokenCol` must be non-NULL and ≥ 0 — NULL poisons every prefix
    * after it and a negative count un-crosses a crossed boundary, both
    * corpus bugs, both rejected loudly in-plan (the weightedSampleByKey
    * guard pattern). `keyCol` must be unique (it is the order
    * tiebreak — duplicate keys would make the prefix sums themselves
    * order-dependent). */
  def tokenBudgetFill(df: DataFrame, keyCol: String, groupCol: String,
      tokenCol: String, budgets: Seq[(String, Long)],
      salt: String = "budget", strata: Int = 256): DataFrame =
    tokenBudgetFillImpl(df, keyCol, groupCol, tokenCol, budgets, salt,
      strata, priorTaken = None)

  /** The O(Δ)-per-ingest twin of [[tokenBudgetFill]] — the production
    * behavior when a mixture GROWS: the prior fill is IMMUTABLE (its
    * documents are already in the written training mix), so an
    * arriving delta fills only each group's REMAINING budget, in the
    * delta's own key-stable order, never displacing a taken document
    * (a from-scratch refill over corpus ∪ delta would — new documents
    * hash anywhere in the order). `taken` is the prior fill's output
    * (or any frame carrying `groupCol` + `tokenCol` for the already-
    * taken documents): only its per-group token totals enter the plan
    * — one tiny aggregation, broadcast as the groups' base offsets —
    * so ingest cost is O(Δ), independent of everything taken before.
    * `tokens_before` continues the GLOBAL accounting (taken total +
    * delta prefix); a group whose budget the prior fill already
    * crossed admits nothing. */
  def tokenBudgetFillIncremental(delta: DataFrame, keyCol: String,
      groupCol: String, tokenCol: String, budgets: Seq[(String, Long)],
      taken: DataFrame, salt: String = "budget",
      strata: Int = 256): DataFrame =
    tokenBudgetFillImpl(delta, keyCol, groupCol, tokenCol, budgets, salt,
      strata, priorTaken = Some(taken))

  private def tokenBudgetFillImpl(df: DataFrame, keyCol: String,
      groupCol: String, tokenCol: String, budgets: Seq[(String, Long)],
      salt: String, strata: Int, priorTaken: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgets.nonEmpty && budgets.forall(_._2 >= 0))
    require(strata >= 1 && (strata & (strata - 1)) == 0 && strata <= (1 << 30),
      "strata must be a power of two (the 60-bit order key is range-split " +
        "by a right shift)")
    val shift = 60 - java.lang.Integer.numberOfTrailingZeros(strata)
    val reserved = Seq("__h", "__st", "__base", "__budget", "tokens_before")
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"tokenBudgetFill input must not carry reserved column(s) ${clash.mkString(", ")}")
    val tok = col(tokenCol).cast("long")
    val guardedTok = when(tok.isNull || tok < 0,
      raise_error(concat(
        lit(s"tokenBudgetFill: token count '$tokenCol' must be non-NULL and >= 0 for key "),
        col(keyCol).cast("string"))))
      .otherwise(tok)
    val budget = budgets.foldLeft(lit(null).cast("long"): Column) {
      case (acc, (g, b)) => when(col(groupCol) === g, b).otherwise(acc)
    }
    val keyed = df
      .withColumn("__h", TextFunctions.shingleKey(
        concat(col(keyCol).cast("string"), lit(salt))))
      .withColumn("__st", shiftright(col("__h"), shift))
      .withColumn("__budget", budget)
      .filter(col("__budget").isNotNull)
    // phase 1: per-(group, stratum) sums → exclusive base offsets; the
    // window runs over ≤ groups·strata rows, never the corpus. In the
    // incremental shape the prior fill's per-group totals join in as an
    // additive base-0 — the delta's prefixes then CONTINUE the global
    // accounting, and a group whose budget is already crossed keeps
    // every delta prefix ≥ budget (admits nothing).
    val base0 = priorTaken.map { tk =>
      val takenTok = col(tokenCol).cast("long")
      val guardedTaken = when(takenTok.isNull || takenTok < 0,
        raise_error(concat(
          lit(s"tokenBudgetFillIncremental: taken token count '$tokenCol' " +
            "must be non-NULL and >= 0 in group "),
          col(groupCol).cast("string"))))
        .otherwise(takenTok)
      // "only the prior fill's per-group totals enter the plan" made
      // literal: the totals are staged EAGERLY (≤ |groups| rows), so the
      // incremental plan Catalyst analyzes roots on a LogicalRDD instead
      // of embedding the whole prior fill's plan tree — which cost
      // 0.8-1.0 s of DRIVER analysis per execution when `taken` was the
      // full corpus-fill twin (round-16 job profile), a fixed tax at
      // any data scale. The guard inside the aggregation still fires at
      // staging time; the materialized bytes are identical, so every
      // oracle gate hashes unchanged.
      tk.groupBy(col(groupCol)).agg(sum(guardedTaken).as("__base0"))
        .localCheckpoint(eager = true)
    }
    val bases0 = keyed
      .groupBy(col(groupCol), col("__st"))
      .agg(sum(guardedTok).as("__stsum"))
      .withColumn("__base", coalesce(sum(col("__stsum")).over(
        Window.partitionBy(col(groupCol)).orderBy(col("__st"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__stsum")
    val bases = base0 match {
      case None => bases0
      case Some(b0) => bases0
        .join(b0, Seq(groupCol), "left")
        .withColumn("__base", col("__base") + coalesce(col("__base0"), lit(0L)))
        .drop("__base0")
    }
    // phase 2: within-stratum exclusive cumsum + broadcast base join;
    // (stratum, h, key) order ≡ (h, key) order because stratum = h >> k
    val withPrefix = keyed
      .join(broadcast(bases), Seq(groupCol, "__st"))
      .withColumn("tokens_before",
        col("__base") + coalesce(sum(guardedTok).over(
          Window.partitionBy(col(groupCol), col("__st"))
            .orderBy(col("__h"), col(keyCol))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // restore the caller's column order (the join fronts its keys)
    withPrefix
      .filter(col("tokens_before") < col("__budget"))
      .select(df.columns.map(col).toSeq :+ col("tokens_before"): _*)
  }
}
