package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class SamplingSpec extends SparkSpecBase {

  import spark.implicits._

  test("split assignment is a pure function of the key: corpus growth never moves a row") {
    val small = (1L to 500L).toDF("id")
    val big = (1L to 5000L).toDF("id")
    def assign(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Sampling.splitByKey(df, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = assign(small)
    val b = assign(big)
    // eval-contamination guard: every original row keeps its split
    assert(a.forall { case (k, v) => b(k) == v })
    // and the weights are roughly honored on the larger corpus
    val frac = b.values.groupBy(identity).view.mapValues(_.size / 5000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.05, frac)
    assert(math.abs(frac("val") - 0.1) < 0.03, frac)
    assert(math.abs(frac("test") - 0.1) < 0.03, frac)
  }

  test("capPerGroup keeps at most N per group, key-stable as other groups grow") {
    val df = (1L to 900L).map(i => (i, Seq("a", "b", "c")((i % 3).toInt)))
      .toDF("id", "grp")
    val capped = Sampling.capPerGroup(df, "id", "grp", maxPerGroup = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(capped.groupBy(_._2).forall(_._2.length == 7))
    // growing group "c" must not change what survives in "a"/"b"
    val grown = df.union(
      (10000L to 10500L).map(i => (i, "c")).toDF("id", "grp"))
    val cappedGrown = Sampling.capPerGroup(grown, "id", "grp", maxPerGroup = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(capped.filter(_._2 != "c").toSet === cappedGrown.filter(_._2 != "c").toSet)
  }

  test("weightedSampleByKey: deterministic, k-sized, weight-proportional inclusion") {
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) 10.0 else 1.0))
      .toDF("id", "w")
    def draw(): Seq[Long] =
      Sampling.weightedSampleByKey(df, "id", "w", k = 400)
        .collect().map(_.getLong(0)).toSeq
    val a = draw()
    assert(a.length === 400 && a.distinct.length === 400)
    // partitioning-invariant
    assert(draw().sorted === Sampling.weightedSampleByKey(
      df.repartition(11), "id", "w", k = 400)
      .collect().map(_.getLong(0)).sorted.toSeq)
    // heavy rows (10× weight) dominate the sample
    val heavy = a.count(_ % 2 == 0)
    assert(heavy > 300, s"heavy-weight rows in sample: $heavy/400")
  }

  test("weightedSampleByKey fails loudly on zero, negative, or NULL weights") {
    // w=0 → u^∞ (never sampled), w<0 → inverted order silently dominates,
    // NULL → poisoned sort key: all corpus bugs, all must raise in-plan
    def chainMessage(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    // NaN sorts above every double (NaN rows would silently FILL the
    // sample) and +Inf gives pow(u,0)=1.0 (deterministically first) —
    // non-finite weights must raise like the rest
    for (bad <- Seq(0.0, -2.5, Double.NaN, Double.PositiveInfinity)) {
      val df = Seq((1L, 1.0), (2L, bad), (3L, 3.0)).toDF("id", "w")
      val e = intercept[Exception] {
        Sampling.weightedSampleByKey(df, "id", "w", k = 2).collect()
      }
      assert(chainMessage(e).contains("weightedSampleByKey"), chainMessage(e))
    }
    val withNull = Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
      .toDF("id", "w")
    val e = intercept[Exception] {
      Sampling.weightedSampleByKey(withNull, "id", "w", k = 2).collect()
    }
    assert(chainMessage(e).contains("weightedSampleByKey"), chainMessage(e))
    // an all-valid corpus is untouched by the guard
    val ok = Sampling.weightedSampleByKey(
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "w"), "id", "w", k = 2)
      .collect()
    assert(ok.length === 2)
  }

  test("stratified fractions apply per class; unlisted strata drop") {
    val df = (1L to 3000L).map(i => (i, Seq("a", "b", "c")((i % 3).toInt)))
      .toDF("id", "cls")
    val out = Sampling.stratifiedSampleByKey(df, "id", "cls",
      Seq("a" -> 1.0, "b" -> 0.2))
      .groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("a") === 1000)
    assert(math.abs(out("b") - 200.0) < 60, out)
    assert(!out.contains("c"))
  }

  // ------------------------------------------------------------------
  // tokenBudgetFill — the distributed two-phase prefix sum
  // ------------------------------------------------------------------

  /** Driver-side reference: the single sequential prefix sum the
    * two-phase decomposition must equal. */
  private def budgetReference(
      rows: Seq[(Long, String, Long)], budgets: Map[String, Long],
      salt: String = "budget"): Map[Long, Long] = {
    def h(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest((id.toString + salt).getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    rows.filter(r => budgets.contains(r._2)).groupBy(_._2).flatMap {
      case (g, members) =>
        var cum = 0L
        members.sortBy(r => (h(r._1), r._1)).flatMap { case (id, _, n) =>
          val before = cum
          cum += n
          if (before < budgets(g)) Some(id -> before) else None
        }
    }
  }

  private def budgetFixture = {
    // deliberately skewed: group "big" has 40× the docs of "tiny"
    ((1L to 800L).map(i => (i, "big", 5L + i % 17)) ++
      (1001L to 1100L).map(i => (i, "mid", 30L + i % 7)) ++
      (2001L to 2020L).map(i => (i, "tiny", 50L)) ++
      (3001L to 3050L).map(i => (i, "unbudgeted", 10L)))
      .toDF("id", "grp", "n_tok")
  }

  test("tokenBudgetFill equals the sequential prefix-sum reference; unbudgeted groups drop") {
    val budgets = Seq("big" -> 900L, "mid" -> 400L, "tiny" -> 5000L)
    val rows = budgetFixture.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val got = Sampling.tokenBudgetFill(budgetFixture, "id", "grp", "n_tok", budgets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    val want = budgetReference(rows, budgets.toMap)
    assert(got.map(t => t._1 -> t._3).toMap === want)
    assert(!got.exists(_._2 == "unbudgeted"))
    // a budget larger than the group keeps the whole group
    assert(got.count(_._2 == "tiny") === 20)
    // the filled volume crosses the budget by at most one document
    val keptIds = got.filter(_._2 == "big").map(_._1).toSet
    val bigTotal = rows.filter(r => r._2 == "big" && keptIds(r._1)).map(_._3).sum
    assert(bigTotal >= 900L && bigTotal < 900L + 22L, bigTotal)
  }

  test("tokenBudgetFill: strata count and partitioning are invisible; budgets grow monotonically") {
    val budgets = Seq("big" -> 900L, "mid" -> 400L, "tiny" -> 5000L)
    def run(df: org.apache.spark.sql.DataFrame, strata: Int,
        bs: Seq[(String, Long)] = budgets): Map[Long, Long] =
      Sampling.tokenBudgetFill(df, "id", "grp", "n_tok", bs, strata = strata)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val base = run(budgetFixture, 256)
    assert(run(budgetFixture, 1) === base,
      "strata=1 (the fully sequential layout) must agree")
    assert(run(budgetFixture, 1024) === base)
    assert(run(budgetFixture.repartition(13), 256) === base)
    // raising a budget only ever ADDS documents, with identical prefixes
    val grown = run(budgetFixture, 256, Seq("big" -> 1800L, "mid" -> 400L, "tiny" -> 5000L))
    assert(base.forall { case (k, v) => grown.get(k).contains(v) })
    assert(grown.size > base.size)
  }

  test("tokenBudgetFillIncremental: frozen prior fill, delta fills only the remainder") {
    val budgets = Seq("big" -> 900L, "mid" -> 400L, "tiny" -> 5000L)
    val taken = Sampling.tokenBudgetFill(budgetFixture, "id", "grp", "n_tok", budgets)
    val takenRows = taken.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val takenTotals = takenRows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // delta: new docs in every group, ids disjoint from the fixture
    val delta = ((5001L to 5100L).map(i => (i, "big", 7L)) ++
      (6001L to 6020L).map(i => (i, "mid", 11L)) ++
      (7001L to 7005L).map(i => (i, "tiny", 50L))).toDF("id", "grp", "n_tok")
    val got = Sampling.tokenBudgetFillIncremental(
      delta, "id", "grp", "n_tok", budgets,
      taken.select(col("grp"), col("n_tok")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // the sequential reference over the delta, offset by the taken totals
    val want = delta.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      .filter(r => budgets.toMap.contains(r._2)).groupBy(_._2).flatMap {
        case (g, members) =>
          var cum = takenTotals.getOrElse(g, 0L)
          members.sortBy { case (id, _, _) =>
            val md = java.security.MessageDigest.getInstance("MD5")
            val hex = md.digest((id.toString + "budget").getBytes("UTF-8"))
              .map(b => f"$b%02x").mkString.substring(0, 15)
            (java.lang.Long.parseLong(hex, 16), id)
          }.flatMap { case (id, _, n) =>
            val before = cum
            cum += n
            if (before < budgets.toMap.apply(g)) Some(id -> before) else None
          }
      }
    assert(got.map(t => t._1 -> t._4).toMap === want)
    // the prior fill crossed big's and mid's budgets — no delta doc
    // enters them; tiny has headroom and admits its whole delta with
    // prefixes CONTINUING the taken total
    assert(!got.exists(_._2 == "big"))
    assert(!got.exists(_._2 == "mid"))
    val tinyGot = got.filter(_._2 == "tiny")
    assert(tinyGot.length === 5)
    assert(tinyGot.map(_._4).min === takenTotals("tiny"))
    // immutability: nothing previously taken is touched, and a
    // from-scratch refill over corpus ∪ delta would NOT preserve the
    // taken set (displacement) — the incremental fill must
    val refill = Sampling.tokenBudgetFill(
      budgetFixture.unionByName(delta), "id", "grp", "n_tok", budgets)
      .collect().map(_.getLong(0)).toSet
    assert(!takenRows.map(_._1).forall(refill.contains),
      "fixture must exhibit displacement for the immutability claim to bite")
  }

  test("tokenBudgetFill: two corpus exchanges + one broadcast; invalid token counts fail loudly") {
    val budgets = Seq("big" -> 900L, "mid" -> 400L, "tiny" -> 5000L)
    val plan = Sampling.tokenBudgetFill(
      budgetFixture, "id", "grp", "n_tok", budgets)
      .queryExecution.executedPlan.toString
    // 3 hash exchanges total: the phase-1 aggregate and the phase-2
    // window move the CORPUS; the base-offset window moves only the
    // ≤ groups·strata summary. Nothing else may shuffle, and the base
    // join must broadcast, never shuffle.
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 3, plan)
    assert("BroadcastExchange".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val bad = Seq((1L, "big", 5L), (2L, "big", -1L)).toDF("id", "grp", "n_tok")
    val e = intercept[Exception] {
      Sampling.tokenBudgetFill(bad, "id", "grp", "n_tok", budgets).collect()
    }
    def chainMessage(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(chainMessage(e).contains("tokenBudgetFill"), chainMessage(e))
  }
}
