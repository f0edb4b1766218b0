package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Profile, Quality, TimeSeries}

/** Governance operators: audit verdict edges (NULL keys, failing
  * rules) and profiler degenerate cases the oracle can't reach. */
class QualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("unique check ignores NULL keys; notNull check owns them") {
    val df = Seq(Some(1L), Some(2L), None).toDF("k")
    val byName = Quality.audit(df,
        Seq(Quality.unique("k"), Quality.notNull("k")))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getBoolean(2))))
      .toMap
    assert(byName("unique:k") === ((0.0, true)),
      "a nullable but duplicate-free key must pass uniqueness")
    assert(byName("not_null:k")._2 === false,
      "the NULL belongs to the not-null verdict")
  }

  test("failing range rule reports its violation count") {
    val df = Seq(1.0, 5.0, 50.0).toDF("v")
    val row = Quality.audit(df, Seq(Quality.inRange("v", 0.0, 10.0)))
      .collect().head
    assert(row.getDouble(1) === 1.0)
    assert(!row.getBoolean(2))
  }

  test("driftPsi: identical snapshots score ~0; a shifted snapshot scores big") {
    val base = (1 to 2000).map(i => (i % 100).toDouble).toDF("v")
    val same = (1 to 2000).map(i => (i % 100).toDouble).toDF("v")
    val shifted = (1 to 2000).map(i => 50.0 + (i % 100) / 2.0).toDF("v")
    def total(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Double =
      Quality.driftPsi(a, b, "v", 0.0, 100.0, 10)
        .agg(sum("psi_contrib")).as[Double].head()
    assert(math.abs(total(base, same)) < 1e-9)
    assert(total(base, shifted) > 0.2,
      "a halved-range shift must cross the conventional 0.2 alert line")
    // every bucket present even when one side is empty there
    assert(Quality.driftPsi(base, shifted, "v", 0.0, 100.0, 10)
      .count() === 10)
  }

  test("driftPsi excludes NULLs and survives an empty side deterministically") {
    val base = Seq(Some(10.0), Some(20.0), Some(30.0), None).toDF("v")
    val cur = Seq(Some(10.0), None, None).toDF("v")
    val out = Quality.driftPsi(base, cur, "v", 0.0, 100.0, 10).collect()
    assert(out.map(_.getLong(1)).sum === 3, "NULL must not count as bucket 0")
    assert(out.map(_.getLong(2)).sum === 1)
    val empty = Quality
      .driftPsi(base, cur.where(lit(false)), "v", 0.0, 100.0, 10)
      .collect()
    assert(empty.nonEmpty)
    assert(empty.forall(r => !r.isNullAt(3) && !r.getDouble(3).isNaN),
      "empty snapshot must yield finite eps-floored contributions")
  }

  test("profiler: single-row column yields std 0.0, not NaN") {
    val df = Seq((7L)).toDF("x")
    val stats = Profile.numeric(df, Seq("x"))
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(stats("count") === 1.0)
    assert(stats("mean") === 7.0)
    assert(stats("std") === 0.0, "degenerate variance must pin to 0.0")
    assert(!stats.values.exists(_.isNaN))
  }

  test("profiler approxDistinct: no Expand in the plan, sketch-exact at small cardinality") {
    // Exact multi-distinct plans an Expand multiplying scanned rows by
    // the number of profiled columns; the 100 TB path must not.
    val df = (1L to 400L).map(i => (i % 37, i % 11, i.toDouble))
      .toDF("a", "b", "c")
    val approx = Profile.numeric(df, Seq("a", "b", "c"), approxDistinct = true)
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"approx profile must be a single pass with no Expand:\n$plan")
    val exactPlan = Profile.numeric(df, Seq("a", "b", "c"))
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"),
      "exact multi-distinct is expected to plan via Expand (control)")
    // Every non-distinct stat is computed identically; distinct is a
    // sketch estimate — demand it inside a 2% envelope (2× the rsd).
    val ax = approx.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val ex = Profile.numeric(df, Seq("a", "b", "c")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val (dist, rest) = ax.partition(_._1._2 == "distinct")
    assert(rest === ex.filter(_._1._2 != "distinct"))
    dist.foreach { case (k, est) =>
      assert(math.abs(est - ex(k)) <= math.max(1.0, 0.02 * ex(k)),
        s"$k: approx $est vs exact ${ex(k)} outside 2% envelope")
    }
  }

  test("benfordAudit: digit extraction across magnitudes; shares sum to 1") {
    val df = Seq(123.45, 0.071, 9.9e7, 2.0, 23.0, 1000.0, 0.5, -345.0)
      .toDF("v")
    val out = Quality.benfordAudit(df, "v")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // leading digits: 1, 7, 9, 2, 2, 1, 5, 3 (sign ignored by [1-9])
    assert(out === Map(1 -> 2L, 2 -> 2L, 3 -> 1L, 5 -> 1L, 7 -> 1L, 9 -> 1L))
    val shares = Quality.benfordAudit(df, "v")
      .agg(sum("obs_share")).collect().head.getDouble(0)
    assert(math.abs(shares - 1.0) < 1e-9)
    // A genuinely Benford set (powers of 2 — log10(2^i) mod 1
    // equidistributes) scores an order of magnitude below a uniform
    // digit mix (~0.5 chi2).
    val pow2 = (0 until 300).map(i => math.pow(2.0, i)).toDF("v")
    val chi2 = Quality.benfordAudit(pow2, "v")
      .agg(sum("chi2_contrib")).collect().head.getDouble(0)
    assert(chi2 < 0.02, s"powers of two should be near-Benford, chi2=$chi2")
  }

  test("winsorizeAudit: nearest-rank edges, clip counts, degenerate single row") {
    val df = ((1 to 100).map(v => ("a", Some(v.toDouble))) ++
      Seq(("a", None), ("b", Some(42.0)))).toDF("k", "v")
    val out = Quality.winsorizeAudit(df, "k", "v", loQ = 0.05, hiQ = 0.95)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getLong(4), r.getLong(5)))).toMap
    // ceil(.05*100)=5 -> lo=5.0 (4 below); ceil(.95*100)=95 -> hi=95.0
    // (5 above). The NULL row is excluded from n.
    assert(out("a") === ((100L, 5.0, 95.0, 4L, 5L)))
    // Single-row key: both edges collapse to the value, nothing clips.
    assert(out("b") === ((1L, 42.0, 42.0, 0L, 0L)))
  }

  test("correlations: golden signs, pairwise-complete masking, degenerate NULL") {
    val df = Seq(
      (1.0, 2.0, -1.0, 5.0),
      (2.0, 4.0, -2.0, 5.0),
      (3.0, 6.0, -3.0, 5.0),
      (4.0, 8.0, -4.0, 5.0)
    ).toDF("x", "y2", "neg", "const")
    val out = Profile.correlations(df, Seq("x", "y2", "neg", "const"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(out(("x", "y2")) === ((4L, Some(1.0))))   // perfect positive
    assert(out(("x", "neg")) === ((4L, Some(-1.0)))) // perfect negative
    assert(out(("x", "const"))._2 === None)          // zero variance -> NULL
    // Pairwise-complete: NULLs in one column only shrink that
    // column's pairs, with the co-moments masked consistently.
    val withNulls = Seq(
      (Some(1.0), Some(10.0)), (Some(2.0), Some(8.0)),
      (Some(3.0), None), (Some(4.0), Some(4.0))
    ).toDF("a", "b")
    val r = Profile.correlations(withNulls, Seq("a", "b")).collect().head
    assert(r.getLong(2) === 3L)
    // corr over {(1,10),(2,8),(4,4)} is exactly -1 (b = 12 - 2a).
    assert(r.getDouble(3) === -1.0)
    // One scan, one aggregate, no Expand for any pair count.
    val plan = Profile.correlations(df, Seq("x", "y2", "neg", "const"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"co-moments must not Expand:\n$plan")
  }

  test("correlations/trendFit: decimal co-moment overflow fails loudly, never corrupts") {
    // Headroom contract (VERDICT r5 #5): co-moments accumulate in
    // DECIMAL(38, 2·scale), so each pair needs Σ|x·y| < 10^(38−2s).
    // At s=2 that is 10^34 — values near the DECIMAL(18,2) ceiling
    // (~10^16) overflow the sum after ~100 rows. Under the session's
    // default ANSI mode Spark must RAISE, not return a silently wrong
    // coefficient; this pins that the failure mode is an exception,
    // and that the documented bound is real (one magnitude below it
    // still succeeds exactly).
    val big = 9.0e15 // casts to DECIMAL(18,2) exactly; big² = 8.1e31
    val n = 200 // Σx² ≈ 1.6e34 > 10^34−1 ceiling -> overflow
    val hot = (1 to n).map(i => (big, big + i)).toDF("x", "y")
    val e = intercept[Exception] {
      Profile.correlations(hot, Seq("x", "y")).collect()
    }
    def overflowLike(t: Throwable): Boolean = {
      val m = Option(t.getMessage).getOrElse("")
      m.toUpperCase.contains("OVERFLOW") ||
        m.contains("NUMERIC_VALUE_OUT_OF_RANGE") ||
        m.contains("DECIMAL_PRECISION") ||
        Option(t.getCause).exists(overflowLike)
    }
    assert(overflowLike(e), s"expected a decimal-overflow error, got: $e")
    // One magnitude below the ceiling: exact, no overflow, corr = 1.
    val warm = (1 to n).map(i => (9.0e14 + i, 9.0e14 + 2 * i)).toDF("x", "y")
    val ok = Profile.correlations(warm, Seq("x", "y")).collect().head
    assert(ok.getLong(2) === n.toLong && ok.getDouble(3) === 1.0)
    // trendFit shares the contract: same accumulator, same failure
    // mode (keyed, xScale=2 on the hot column).
    val hotK = (1 to n).map(i => (1L, big, big + i)).toDF("k", "x", "y")
    val e2 = intercept[Exception] {
      TimeSeries.trendFit(hotK, "k", "x", "y").collect()
    }
    assert(overflowLike(e2), s"expected a decimal-overflow error, got: $e2")
  }

  test("correlations/trendFit: headroom dials make 1e16-magnitude columns succeed exactly") {
    // The SAME series that overflow above, made usable by the
    // documented escape hatches (VERDICT r6 #3) — not just safely
    // fatal.
    val n = 200
    // correlations: preScaleExp = -10 shifts 9e15+i down to ~9e5
    // BEFORE decimal quantization. Pearson is exactly invariant under
    // the common scaling, and at these magnitudes the scaled values
    // are still exact at scale 2 per 1e10 step — y = x + 1e10·i is a
    // perfect line, corr = 1 exactly.
    val hot = (1 to n).map(i => (9.0e15 + 1.0e10 * i, 9.0e15 + 2.0e10 * i))
      .toDF("x", "y")
    val ok = Profile.correlations(hot, Seq("x", "y"), preScaleExp = -10)
      .collect().head
    assert(ok.getLong(2) === n.toLong && ok.getDouble(3) === 1.0)
    // trendFit: centering at the level (x0 = y0 = 9e15) fits the
    // spread, not the level. Series: y = 2x − 9e15 at x = 9e15 + i
    // (all offsets/steps exact doubles) → slope 2 exactly, and the
    // restored original-coordinates intercept is −9e15.
    val hotK = (1 to n).map(i => (1L, 9.0e15 + i, 9.0e15 + 2.0 * i))
      .toDF("k", "x", "y")
    val fit = TimeSeries.trendFit(hotK, "k", "x", "y",
      x0 = 9.0e15, y0 = 9.0e15).collect().head
    assert(fit.getLong(1) === n.toLong)
    assert(fit.getDouble(2) === 2.0)
    assert(fit.getDouble(3) === -9.0e15)
    // Default dials still compile to the pre-dial expression tree:
    // the q118/q119 oracle hashes must not move (no new Project or
    // cast shapes in the aggregate).
    val defPlan = Profile.correlations(hot, Seq("x", "y"))
      .queryExecution.optimizedPlan.toString
    assert(!defPlan.contains("* 1") && !defPlan.toLowerCase.contains("e-10"),
      s"default preScaleExp must leave the plan untouched:\n$defPlan")
  }

  test("categoricalAssociation: perfect → MI=ln2, V=1; independent → 0; constant side → dof 0") {
    val perfect = Seq(("x", "x"), ("x", "x"), ("y", "y"), ("y", "y"))
      .toDF("a", "b")
    val p = Profile.categoricalAssociation(perfect, "a", "b").collect()(0)
    assert(p.getLong(0) === 4L)     // n
    assert(p.getInt(1) === 2)       // r
    assert(p.getInt(2) === 2)       // c
    assert(p.getLong(3) === 1L)     // dof
    assert(math.abs(p.getDouble(4) - math.log(2)) < 1e-6) // mi
    assert(p.getDouble(5) === 4.0)  // chi2 = n for a perfect 2×2
    assert(p.getDouble(6) === 1.0)  // Cramér's V
    val indep = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "v"))
      .toDF("a", "b")
    val i = Profile.categoricalAssociation(indep, "a", "b").collect()(0)
    assert(i.getDouble(4) === 0.0 && i.getDouble(5) === 0.0 &&
      i.getDouble(6) === 0.0)
    // Constant right side: min(r,c)=1 → dof 0, V pinned to 0 (not NaN).
    val const = Seq(("x", "u"), ("y", "u"), (null, "u")).toDF("a", "b")
    val c = Profile.categoricalAssociation(const, "a", "b").collect()(0)
    assert(c.getLong(0) === 2L, "NULL-keyed rows are excluded")
    assert(c.getLong(3) === 0L && c.getDouble(6) === 0.0)
  }

  test("weightedQuantiles: mass concentration moves the pick; zero weights carry no mass") {
    val df = Seq(
      ("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 1.0), ("a", 4.0, 7.0),
      ("a", 0.0, 0.0), // zero weight: excluded
      ("b", 1.0, 1.0), ("b", 2.0, 1.0), ("b", 3.0, 1.0), ("b", 4.0, 1.0)
    ).toDF("k", "v", "w")
    val out = Quality.weightedQuantiles(df, "k", "v", "w", Seq(0.25, 0.5))
      .orderBy("k", "quantile")
      .select("k", "quantile", "value", "total_weight")
      .as[(String, Double, Double, Double)].collect().toSeq
    assert(out === Seq(
      // a: cum weights 1,2,3,10 of total 10 → q25 first cum ≥ 2.5 is
      // value 3; q50 first cum ≥ 5 is value 4 (the mass sits there)
      ("a", 0.25, 3.0, 10.0), ("a", 0.5, 4.0, 10.0),
      // b: uniform weights → lower nearest-rank 1 and 2
      ("b", 0.25, 1.0, 4.0), ("b", 0.5, 2.0, 4.0)))
  }

  test("tableFingerprint: order-independent; XOR + SUM jointly detect edits") {
    val base = Seq(("g", 1L, "x"), ("g", 2L, "y"), ("g", 3L, "z"))
      .toDF("grp", "id", "v")
    def fp(df: org.apache.spark.sql.DataFrame) =
      Quality.tableFingerprint(df, Seq("id", "v"), "grp")
        .select("grp", "n_rows", "xor_hash", "sum_hash")
        .as[(String, Long, Long, String)].collect().head
    val f0 = fp(base)
    // row order is irrelevant
    assert(fp(base.orderBy(col("id").desc)) === f0)
    // a single-value edit moves the XOR
    val edited = Seq(("g", 1L, "x"), ("g", 2L, "y"), ("g", 3L, "Z"))
      .toDF("grp", "id", "v")
    assert(fp(edited)._3 !== f0._3)
    // a row duplicated an EVEN number of times is invisible to XOR —
    // the exact decimal SUM is the digest that catches it
    val evenDup = base.unionAll(
      Seq(("g", 1L, "x"), ("g", 1L, "x")).toDF("grp", "id", "v"))
    val fd = fp(evenDup)
    assert(fd._3 === f0._3)
    assert(fd._4 !== f0._4)
    assert(fd._2 === 5L)
  }

  test("aucScore: hand-computed rank-sum with ties; degenerate classes NULL") {
    // scores: pos {0.9, 0.7, 0.5}, neg {0.7, 0.3, 0.1}
    // pairs (pos, neg): 9 total; pos>neg: 0.9>all(3), 0.7>{0.3,0.1}=2,
    // 0.5>{0.3,0.1}=2 -> 7; ties: (0.7, 0.7) -> 1 half-credit.
    // AUC = (7 + 0.5) / 9 = 0.833333
    val df = Seq(
      (0.9, true), (0.7, true), (0.5, true),
      (0.7, false), (0.3, false), (0.1, false)
    ).toDF("score", "label")
    val r = Quality.aucScore(df, "score", "label")
      .as[(Long, Long, Option[Double])].collect().head
    assert(r === ((3L, 3L, Some(0.833333))))
    // perfect separation -> 1.0; inverted -> 0.0
    val perfect = Seq((0.9, true), (0.8, true), (0.2, false))
      .toDF("score", "label")
    assert(Quality.aucScore(perfect, "score", "label")
      .as[(Long, Long, Option[Double])].collect().head._3 === Some(1.0))
    // one class empty -> NULL auc
    val onlyPos = Seq((0.9, true), (0.8, true)).toDF("score", "label")
    assert(Quality.aucScore(onlyPos, "score", "label")
      .as[(Long, Long, Option[Double])].collect().head === ((2L, 0L, None)))
  }

  test("ksTest: hand-computed CDF gap, min-over-ties argmax, degenerate samples NULL") {
    import org.apache.spark.sql.functions.col
    // A = {1, 2, 3}, B = {3, 4}. At bin 2: F_A = 2/3, F_B = 0 ->
    // D = 2/3; integral gaps |ca*2 - cb*3| over bins 1..4 = 2,4,3,0.
    val df = Seq(
      (1L, true), (2L, true), (3L, true), (3L, false), (4L, false)
    ).toDF("b", "isa")
    val r = Quality.ksTest(df, col("b"), col("isa"))
      .as[(Long, Long, Option[Double], Option[Long])].collect().head
    assert(r === ((3L, 2L, Some(0.666667), Some(2L))))
    // identical samples -> D = 0, ks_at = smallest bin (tie over all)
    val same = Seq((1L, true), (2L, true), (1L, false), (2L, false))
      .toDF("b", "isa")
    assert(Quality.ksTest(same, col("b"), col("isa"))
      .as[(Long, Long, Option[Double], Option[Long])].collect().head ===
      ((2L, 2L, Some(0.0), Some(1L))))
    // tie in the max gap -> smallest attaining bin wins:
    // A = {1, 3}, B = {2, 4}: gaps |ca*2-cb*2| = 2,0... actually
    // bins 1..4 -> ca 1,1,2,2; cb 0,1,1,2 -> |2-0|,|2-2|,|4-2|,|4-4|
    // = 2,0,2,0 -> max 2 first at bin 1.
    val tied = Seq((1L, true), (3L, true), (2L, false), (4L, false))
      .toDF("b", "isa")
    assert(Quality.ksTest(tied, col("b"), col("isa"))
      .as[(Long, Long, Option[Double], Option[Long])].collect().head ===
      ((2L, 2L, Some(0.5), Some(1L))))
    // one sample empty -> NULL stat and location
    val onlyA = Seq((1L, true), (2L, true)).toDF("b", "isa")
    assert(Quality.ksTest(onlyA, col("b"), col("isa"))
      .as[(Long, Long, Option[Double], Option[Long])].collect().head ===
      ((2L, 0L, None, None)))
  }

  test("bootstrapMeanCI: deterministic, CI brackets the mean, widens with alpha") {
    import graft.operators.Profile
    val df = (1L to 500L).map(i => (i, (i % 97).toDouble)).toDF("id", "v")
    def run(apm: Int) = Profile.bootstrapMeanCI(df, "v", Seq("id"),
        b = 32, alphaPerMille = apm)
      .as[(Long, Option[Double], Option[Double], Option[Double], Long)]
      .collect().head
    val r1 = run(50)
    val r2 = run(50)
    assert(r1 === r2) // pure function of the data
    assert(r1._1 === 500L && r1._5 === 32L)
    assert(r1._3.get <= r1._2.get && r1._2.get <= r1._4.get,
      s"CI [${r1._3}, ${r1._4}] must bracket mean ${r1._2}")
    // tighter alpha (wider CI): 2 per-mille spans at least the 50pm CI
    val wide = run(2)
    assert(wide._3.get <= r1._3.get && wide._4.get >= r1._4.get)
  }

  test("abTest: hand-computed pooled z; degenerate variants and zero-SE NULL") {
    import org.apache.spark.sql.functions.col
    // A: 3 users 2 conv; B: 2 users 0 conv. pooled p = 0.4,
    // se = sqrt(0.4*0.6*(1/3+1/2)) = sqrt(0.2) = 0.4472136
    // z = (0.666667 - 0) / 0.4472136 = 1.490712
    val df = Seq(
      (true, true), (true, true), (true, false),
      (false, false), (false, false)
    ).toDF("isa", "conv")
    val r = Quality.abTest(df, col("isa"), col("conv"))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(r._1 === 3L && r._2 === 2L && r._3 === 2L && r._4 === 0L)
    assert(r._5 === Some(0.666667) && r._6 === Some(0.0))
    assert(math.abs(r._7.get - 1.490712) < 1e-6)
    // all converted -> pooled rate 1 -> zero SE -> NULL z
    val allConv = Seq((true, true), (false, true)).toDF("isa", "conv")
    assert(Quality.abTest(allConv, col("isa"), col("conv"))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head._7 === None)
    // one empty variant -> NULL rate_b and z
    val onlyA = Seq((true, true), (true, false)).toDF("isa", "conv")
    val oa = Quality.abTest(onlyA, col("isa"), col("conv"))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(oa._6 === None && oa._7 === None)
  }

  test("lorenzGini: hand-computed skew, uniform zero, singleton, zero-total NULL") {
    // key a: values [1, 1, 8] -> s2 = 1+2+24 = 27, num = 54-40 = 14,
    // den = 30 -> gini 0.466667; top decile k = ceil(3/10) = 1 -> 8/10
    val df = Seq(
      ("a", 1L), ("a", 1L), ("a", 8L),
      ("b", 5L), ("b", 5L),              // uniform -> gini 0, top 0.5
      ("c", 7L),                          // singleton -> gini 0, top 1.0
      ("z", 0L), ("z", 0L)                // zero total -> NULLs
    ).toDF("k", "v")
    val rows = Quality.lorenzGini(df, "k", "v")
      .as[(String, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq
    assert(rows === Seq(
      ("a", 3L, 10L, Some(0.466667), Some(0.8)),
      ("b", 2L, 10L, Some(0.0), Some(0.5)),
      ("c", 1L, 7L, Some(0.0), Some(1.0)),
      ("z", 2L, 0L, None, None)))
    // tie-invariance: shuffled duplicates of equal values, same result
    val big = Seq.fill(20)(("t", 3L)) ++ Seq.fill(5)(("t", 9L))
    val g = Quality.lorenzGini(big.toDF("k", "v"), "k", "v")
      .as[(String, Long, Long, Option[Double], Option[Double])]
      .collect().head
    // sorted: 20x3 then 5x9; s2 = 3*210 + 9*(sum 21..25=115) = 1665
    // num = 3330 - 26*105 = 600; den = 25*105 -> gini 0.228571
    // top k = ceil(25/10) = 3 -> 27/105 = 0.257143
    assert(g === (("t", 25L, 105L, Some(0.228571), Some(0.257143))))
  }

  test("calibrationReport: bin edges, exact means, gap; score=1.0 lands in the top bin") {
    val df = Seq(
      (0.05, false), (0.05, true),   // bin 0: n=2, pos=1, mean 0.05, rate 0.5
      (0.95, true), (1.0, true),     // bin 9 (1.0 clamps): mean 0.975, rate 1.0
      (0.55, false)                  // bin 5: rate 0
    ).toDF("score", "label")
    val rows = Quality.calibrationReport(df, "score", "label", bins = 10)
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSeq
    assert(rows === Seq(
      (0, 2L, 1L, 0.05, 0.5, 0.45),
      (5, 1L, 0L, 0.55, 0.0, 0.55),
      (9, 2L, 2L, 0.975, 1.0, 0.025)))
  }

  test("metricDiffCube: one segment drives the move; shares and ranks agree") {
    val df = Seq(
      // seg p: flat (100 -> 100). seg q: +50. seg r: -10.
      ("p", 100L, true), ("p", 100L, false),
      ("q", 100L, true), ("q", 150L, false),
      ("r", 100L, true), ("r", 90L, false)
    ).toDF("seg", "m", "in_a")
    val out = Profile.metricDiffCube(df, Seq("seg"), col("m"), col("in_a"))
      .as[(Option[String], Int, Long, Long, Long, Option[Double], Int)]
      .collect()
    val grand = out.find(_._2 == 1).get
    assert(grand === ((None, 1, 300L, 340L, 40L, Some(1.0), 1)))
    val bySeg = out.filter(_._2 == 0)
      .map(r => (r._1.get, (r._3, r._4, r._5, r._6.get, r._7))).toMap
    assert(bySeg("q") === ((100L, 150L, 50L, 1.25, 1)),
      "q's +50 is 125% of the net +40 move, rank 1 by |delta|")
    assert(bySeg("r") === ((100L, 90L, -10L, -0.25, 2)))
    assert(bySeg("p") === ((100L, 100L, 0L, 0.0, 3)))
  }

  test("mdeReadout: hand-computed MDE; saturated segment is NULL") {
    // s1: 5000/5000 units, pooled rate 0.1 ->
    // mde = 2.801585 * sqrt(0.1*0.9*(2/5000)) = 0.0168095...
    val rows =
      (0 until 10000).map(i => ("s1", i % 2 == 0, i % 10 == 0)) ++
      (0 until 10).map(i => ("s2", i % 2 == 0, true)) // all convert
    val out = Quality.mdeReadout(rows.toDF("seg", "a", "conv"),
        Seq("seg"), col("a"), col("conv"))
      .select("seg", "n_a", "n_b", "base_rate", "mde_abs", "mde_rel")
      .as[(String, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().map(r => (r._1, r)).toMap
    val s1 = out("s1")
    assert(s1._2 === 5000L && s1._3 === 5000L)
    assert(s1._4 === Some(0.1))
    assert(s1._5.exists(m => math.abs(m - 0.016809) < 1e-6), s1.toString)
    assert(s1._6.exists(m => math.abs(m - 0.168095) < 1e-6))
    val s2 = out("s2")
    assert(s2._4 === Some(1.0) && s2._5.isEmpty && s2._6.isEmpty,
      "a saturated rate has no detectable lift above it")
  }

  test("cupedReadout: recovers a planted effect the raw diff misstates") {
    // y = 2x + 5·[arm], arm = even unit id. Raw diff is polluted by
    // the arms' covariate imbalance (even-x mean 49 vs odd 50 →
    // raw = 2·(−1) + 5 = 3); CUPED strips it and recovers ~5.
    val units = (0 until 100).map { i =>
      val x = i.toLong * 1000000L
      val arm = i % 2 == 0
      (i.toLong, arm, x, 2 * x + (if (arm) 5000000L else 0L))
    }.toDF("id", "arm", "x", "y")
    val r = Quality.cupedReadout(units, col("arm"), col("x"), col("y"))
      .as[(Long, Long, Long, Double, Double, Double, Double)]
      .collect().head
    assert(r._1 === 100L && r._2 === 50L && r._3 === 50L)
    assert(math.abs(r._4 - 2.0) < 0.01, s"theta ~2, got ${r._4}")
    assert(math.abs(r._5 - 3.0) < 1e-6, s"raw diff 3, got ${r._5}")
    assert(math.abs(r._6 - 5.0) < 0.01, s"CUPED diff ~5, got ${r._6}")
    assert(r._7 > 0.99, s"x explains almost all y variance: ${r._7}")
    // Constant covariate: theta/cuped NULL (untestable), raw remains.
    val const = (0 until 10).map(i =>
      (i.toLong, i % 2 == 0, 7L, i.toLong)).toDF("id", "arm", "x", "y")
    val c = Quality.cupedReadout(const, col("arm"), col("x"), col("y"))
      .select("theta", "diff_raw", "diff_cuped")
      .as[(Option[Double], Option[Double], Option[Double])].collect().head
    assert(c._1.isEmpty && c._2.nonEmpty && c._3.isEmpty)
  }

  test("bhFdr: textbook step-up goldens, clamp at 1, NULL-p exclusion") {
    val df = Seq(
      ("t1", Some(0.001)), ("t2", Some(0.008)), ("t3", Some(0.039)),
      ("t4", Some(0.041)), ("t5", Some(0.9)), ("skip", None)
    ).toDF("key", "p")
    val out = Quality.bhFdr(df, "key", "p", alphaPerMille = 50)
      .as[(String, Double, Int, Double, Boolean)].collect()
      .map(r => (r._1, r)).toMap
    assert(out.size === 5, "NULL p rows leave the battery (m = 5)")
    // BH thresholds i/m·α = .01/.02/.03/.04/.05: ranks 1-2 reject.
    assert(out("t1") === (("t1", 0.001, 1, 0.005, true)))
    assert(out("t2") === (("t2", 0.008, 2, 0.02, true)))
    // q3 takes rank 4's smaller envelope value (reverse running min).
    assert(out("t3") === (("t3", 0.039, 3, 0.05125, false)))
    assert(out("t4") === (("t4", 0.041, 4, 0.05125, false)))
    assert(out("t5") === (("t5", 0.9, 5, 0.9, false)))
    // Monotone envelope keeps every q at or below the largest p (the
    // min-with-1 clamp is unreachable for valid p: q_i <= v_m = p_m).
    assert(out.values.forall(r => r._4 <= 0.9))
    val one = Quality.bhFdr(Seq(("x", 0.9)).toDF("key", "p"),
      "key", "p", alphaPerMille = 50).as[(String, Double, Int, Double,
      Boolean)].collect().head
    assert(one._4 === 0.9 && !one._5, "m = 1: q equals p itself")
  }

  test("normalTwoSidedP: z=0 gives 1, |z|=1.96 gives ~0.05, symmetric") {
    val df = Seq(0.0, 1.96, -1.96, 3.5).toDF("z")
    val p = df.select(round(Quality.normalTwoSidedP(col("z")), 6).as("p"))
      .as[Double].collect()
    assert(p(0) === 1.0)
    assert(math.abs(p(1) - 0.05) < 1e-3)
    assert(p(1) === p(2), "two-sided p depends on |z| only")
    assert(p(3) < 0.001)
  }

  test("abTestBy: per-segment z/p; an empty arm is NULL, not zero") {
    val df = Seq(
      // segment s1: strong effect (a converts, b never)
      ("s1", true, true), ("s1", true, true), ("s1", true, true),
      ("s1", true, false),
      ("s1", false, false), ("s1", false, false), ("s1", false, false),
      ("s1", false, false),
      // segment s2: only arm a present -> untestable
      ("s2", true, true), ("s2", true, false)
    ).toDF("seg", "a", "conv")
    val out = Quality.abTestBy(df, Seq("seg"), col("a"), col("conv"))
      .select("seg", "z", "p_value")
      .as[(String, Option[Double], Option[Double])].collect()
      .map(r => (r._1, (r._2, r._3))).toMap
    assert(out("s1")._1.exists(_ > 0), "a outconverts b -> positive z")
    assert(out("s1")._2.exists(p => p > 0 && p < 0.05))
    assert(out("s2") === ((None, None)))
  }

  test("mannWhitneyBy: hand-computed z without and with ties") {
    // no ties: A = {1,2,3}, B = {4,5}: R_a = 6, U_a = 0, mu = 3,
    // sigma^2 = (6/12)*(6-0) = 3, z = -3/sqrt(3) = -sqrt(3)
    val clean = Seq(
      ("s", true, 1.0), ("s", true, 2.0), ("s", true, 3.0),
      ("s", false, 4.0), ("s", false, 5.0)).toDF("seg", "a", "v")
    val r1 = Quality.mannWhitneyBy(clean, Seq("seg"), col("a"), col("v"))
      .select("n_a", "n_b", "u_a", "z").as[(Long, Long, Double, Double)]
      .collect().head
    assert(r1 === ((3L, 2L, 0.0,
      BigDecimal(-math.sqrt(3.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // ties: A = {1,2,2}, B = {2,4}: the three 2s share avg rank 3,
    // R_a = 1+3+3 = 7, U_a = 1, tie mass t^3-t = 24,
    // sigma^2 = (6/12)*(6 - 24/20) = 2.4, z = -2/sqrt(2.4)
    val tied = Seq(
      ("s", true, 1.0), ("s", true, 2.0), ("s", true, 2.0),
      ("s", false, 2.0), ("s", false, 4.0)).toDF("seg", "a", "v")
    val r2 = Quality.mannWhitneyBy(tied, Seq("seg"), col("a"), col("v"))
      .select("u_a", "z").as[(Double, Double)].collect().head
    assert(r2._1 === 1.0)
    assert(r2._2 === BigDecimal(-2.0 / math.sqrt(2.4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("mannWhitneyBy: degenerate segments are NULL, not zero") {
    val df = Seq(
      // s1: every value tied -> sigma = 0 -> untestable
      ("s1", true, 7.0), ("s1", true, 7.0), ("s1", false, 7.0),
      // s2: only arm a present -> untestable
      ("s2", true, 1.0), ("s2", true, 2.0),
      // s3: healthy two-arm segment
      ("s3", true, 1.0), ("s3", false, 2.0)
    ).toDF("seg", "a", "v")
    val out = Quality.mannWhitneyBy(df, Seq("seg"), col("a"), col("v"))
      .select("seg", "z", "p_value")
      .as[(String, Option[Double], Option[Double])].collect()
      .map(r => (r._1, (r._2, r._3))).toMap
    assert(out("s1") === ((None, None)))
    assert(out("s2") === ((None, None)))
    assert(out("s3")._1.isDefined)
    assert(out("s3")._2.exists(p => p > 0 && p <= 1))
  }

  test("quantileNormalize: type-7 map onto the global distribution; " +
      "singleton groups NULL; NULL values dropped") {
    // global sorted: [0,1,2,3,4,5,10,99] (N=8). g1 has 5 rows ->
    // dn=4, positions 0, 7/4, 14/4, 21/4, 28/4 over indices 0..7.
    val df = Seq(
      ("a1", "g1", Some(1.0)), ("a2", "g1", Some(2.0)),
      ("a3", "g1", Some(3.0)), ("a4", "g1", Some(4.0)),
      ("a5", "g1", Some(5.0)),
      ("b1", "g2", Some(0.0)), ("b2", "g2", Some(10.0)),
      ("c1", "g3", Some(99.0)),
      ("d1", "g1", None)
    ).toDF("id", "grp", "v")
    val out = Quality.quantileNormalize(df, "id", "grp", "v")
      .as[(String, String, Double, Option[Double])].collect()
      .map(r => r._1 -> r._4).toMap
    assert(out("a1") === Some(0.0))   // p=0 -> global min
    assert(out("a2") === Some(1.75))  // k=1, f=3/4: 1 + 0.75*(2-1)
    assert(out("a3") === Some(3.5))   // k=3, f=1/2: 3 + 0.5*(4-3)
    assert(out("a4") === Some(6.25))  // k=5, f=1/4: 5 + 0.25*(10-5)
    assert(out("a5") === Some(99.0))  // p=1 -> global max
    assert(out("b1") === Some(0.0))
    assert(out("b2") === Some(99.0))
    assert(out("c1") === None)        // singleton group: unmappable
    assert(!out.contains("d1"))       // NULL value dropped
  }

  test("diffInDiff: hand-computed effect, SE, z; cell guards") {
    // A: pre [1,2] post [3,5]; B: pre [2,4] post [2,4].
    // did = (4 - 1.5) - (3 - 3) = 2.5; cell variances 0.5/2/2/2 ->
    // se = sqrt(2/2 + 0.5/2 + 2/2 + 2/2) = sqrt(3.25).
    val df = Seq(
      ("s", true, false, 1.0), ("s", true, false, 2.0),
      ("s", true, true, 3.0), ("s", true, true, 5.0),
      ("s", false, false, 2.0), ("s", false, false, 4.0),
      ("s", false, true, 2.0), ("s", false, true, 4.0)
    ).toDF("seg", "a", "post", "v")
    val r = Quality.diffInDiff(df, Seq("seg"), col("a"), col("post"),
        col("v"))
      .select("did", "se", "z").as[(Double, Double, Double)]
      .collect().head
    assert(r._1 === 2.5)
    assert(r._2 === BigDecimal(math.sqrt(3.25))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r._3 === BigDecimal(2.5 / math.sqrt(3.25))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("diffInDiff: empty cell voids did; single-row cell voids se/z only") {
    val df = Seq(
      // s1: B never observed post -> no estimator
      ("s1", true, false, 1.0), ("s1", true, true, 2.0),
      ("s1", false, false, 1.0),
      // s2: all four cells, but A-post is a single row -> did only
      ("s2", true, false, 1.0), ("s2", true, false, 3.0),
      ("s2", true, true, 4.0),
      ("s2", false, false, 2.0), ("s2", false, false, 2.0),
      ("s2", false, true, 3.0), ("s2", false, true, 5.0)
    ).toDF("seg", "a", "post", "v")
    val out = Quality.diffInDiff(df, Seq("seg"), col("a"), col("post"),
        col("v"))
      .select("seg", "did", "se", "z")
      .as[(String, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("s1") === ((None, None, None)))
    assert(out("s2")._1 === Some((4.0 - 2.0) - (4.0 - 2.0)))
    assert(out("s2")._2.isEmpty && out("s2")._3.isEmpty)
  }

  test("ebShrinkRates: moment-matched beta prior and shrunk rates") {
    // rates [1, 0, 0.5, 0.5]: mu = 0.5, v = 0.125 -> alpha+beta = 1,
    // alpha = beta = 0.5; 1/1 -> 0.75, 0/1 -> 0.25, 1/2 -> 0.5.
    val df = Seq(
      ("k1", true), ("k2", false),
      ("k3", true), ("k3", false),
      ("k4", true), ("k4", false)
    ).toDF("k", "conv")
    val out = Quality.ebShrinkRates(df, Seq("k"), col("conv"))
      .select("k", "raw", "alpha", "beta", "shrunk")
      .as[(String, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("k1") === (("k1", 1.0, 0.5, 0.5, 0.75)))
    assert(out("k2") === (("k2", 0.0, 0.5, 0.5, 0.25)))
    assert(out("k3") === (("k3", 0.5, 0.5, 0.5, 0.5)))
  }

  test("ebShrinkRates: zero rate variance leaves shrinkage undefined") {
    val df = Seq(("k1", true), ("k1", false), ("k2", true), ("k2", false))
      .toDF("k", "conv")
    val out = Quality.ebShrinkRates(df, Seq("k"), col("conv"))
      .select("raw", "alpha", "shrunk")
      .as[(Double, Option[Double], Option[Double])].collect()
    assert(out.forall(r => r._1 === 0.5 && r._2.isEmpty && r._3.isEmpty))
  }

  test("mantelHaenszel: hand-pooled 2x2 strata; empty-cell pool NULL") {
    // S1: a=2 b=1 c=1 d=2 (n=6) -> ad/n=2/3, bc/n=1/6
    // S2: a=1 b=1 c=1 d=1 (n=4) -> ad/n=1/4, bc/n=1/4
    def rows(s: String, a: Boolean, conv: Boolean, n: Int) =
      Seq.fill(n)((s, a, conv))
    val df = (
      rows("s1", true, true, 2) ++ rows("s1", true, false, 1) ++
      rows("s1", false, true, 1) ++ rows("s1", false, false, 2) ++
      rows("s2", true, true, 1) ++ rows("s2", true, false, 1) ++
      rows("s2", false, true, 1) ++ rows("s2", false, false, 1)
    ).toDF("s", "a", "conv")
    val r = Quality.mantelHaenszel(df, Seq("s"), col("a"), col("conv"))
      .as[(Long, Long, Double, Double, Double, Double)].collect().head
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val sad = (r12(4.0 / 6.0) + r12(1.0 / 4.0)).toDouble
    val sbc = (r12(1.0 / 6.0) + r12(1.0 / 4.0)).toDouble
    assert(r === ((2L, 10L,
      BigDecimal(sad).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(sbc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(sad / sbc)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(math.log(sad / sbc))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // no non-conversions anywhere: bc terms all zero -> undefined
    val allConv = (rows("s1", true, true, 2) ++ rows("s1", false, true, 2))
      .toDF("s", "a", "conv")
    val d = Quality.mantelHaenszel(allConv, Seq("s"), col("a"), col("conv"))
      .select("or_mh", "ln_or")
      .as[(Option[Double], Option[Double])].collect().head
    assert(d === ((None, None)))
  }

  test("iccDesignEffect: hand-computed ANOVA ICC; degenerate guards") {
    // c1=[1,2], c2=[3,4]: MSB=4, MSW=0.5, n0=2 -> icc = 3.5/4.5,
    // deff = 1 + (2-1)*icc.
    val df = Seq(
      ("s", "c1", 1.0), ("s", "c1", 2.0),
      ("s", "c2", 3.0), ("s", "c2", 4.0),
      // n: within >> between -> icc = -1, deff = 0
      ("n", "c1", 1.0), ("n", "c1", 4.0),
      ("n", "c2", 2.0), ("n", "c2", 3.0),
      // z: zero within variance -> MSW = 0 -> NULL
      ("z", "c1", 1.0), ("z", "c1", 1.0),
      ("z", "c2", 3.0), ("z", "c2", 3.0),
      // k: single cluster -> NULL
      ("k", "c1", 1.0), ("k", "c1", 2.0)
    ).toDF("seg", "u", "v")
    val out = Quality.iccDesignEffect(df, Seq("seg"), "u", col("v"))
      .as[(String, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("s") === (("s", 4L, 2L,
      Some(r6(3.5 / 4.5)), Some(r6(1.0 + 3.5 / 4.5)))))
    assert(out("n") === (("n", 4L, 2L, Some(-1.0), Some(0.0))))
    assert(out("z")._4.isEmpty && out("z")._5.isEmpty)
    assert(out("k")._4.isEmpty)
  }

  test("mdeContinuous: hand-computed pooled-variance MDE; degenerate NULLs") {
    // A=[1,2,3], B=[2,4]: s2 = (2+2)/3, mde = (za+zb)*sqrt(s2*(1/3+1/2))
    val df = Seq(
      ("s", true, 1.0), ("s", true, 2.0), ("s", true, 3.0),
      ("s", false, 2.0), ("s", false, 4.0),
      ("c", true, 5.0), ("c", true, 5.0), ("c", false, 5.0),  // s2 = 0
      ("o", true, 1.0), ("o", true, 2.0)                      // one arm
    ).toDF("seg", "a", "v")
    val out = Quality.mdeContinuous(df, Seq("seg"), col("a"), col("v"))
      .as[(String, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s2 = 4.0 / 3.0
    val mde = (1.959964 + 0.841621) * math.sqrt(s2 * (1.0 / 3 + 1.0 / 2))
    assert(out("s") === (("s", 3L, 2L, Some(2.0), Some(3.0),
      Some(r6(math.sqrt(s2))), Some(r6(mde)), Some(r6(mde / 3.0)))))
    assert(out("c")._6.isEmpty && out("c")._7.isEmpty)
    assert(out("o")._5.isEmpty && out("o")._7.isEmpty)
  }

  test("metaPool: inverse-variance pooling, Q and I2; degenerate guards") {
    // (d=2, se=1), (d=4, se=2): w = 1, 0.25 -> pooled 3/1.25 = 2.4,
    // se = sqrt(1/1.25), Q = 8 - 9/1.25 = 0.8, I2 = max(0, -0.25) = 0.
    val a = Seq((2.0, 1.0), (4.0, 2.0)).toDF("d", "se")
    val r = Quality.metaPool(a, col("d"), col("se"))
      .as[(Long, Double, Double, Double, Double)].collect().head
    assert(r === ((2L, 2.4,
      BigDecimal(math.sqrt(1.0 / 1.25))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      0.8, 0.0)))
    // strongly disagreeing segments: I2 = (50-1)/50
    val h = Seq((0.0, 1.0), (10.0, 1.0)).toDF("d", "se")
    val r2 = Quality.metaPool(h, col("d"), col("se"))
      .select("pooled", "i2").as[(Double, Double)].collect().head
    assert(r2 === ((5.0, 0.98)))
    // one usable segment (NULL/zero-se rows excluded): no pooling
    val one = Seq((Some(1.0), Some(1.0)), (Some(9.0), Some(0.0)),
      (None, Some(1.0))).toDF("d", "se")
    val r3 = Quality.metaPool(one, col("d"), col("se"))
      .as[(Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(r3 === ((1L, None, None, None, None)))
  }

  test("sequentialMonitor: cumulative looks, OBF-shaped boundary, crossing") {
    def rows(day: Int, a: Boolean, conv: Boolean, n: Int) =
      Seq.fill(n)((java.sql.Date.valueOf(f"2024-01-$day%02d"), a, conv))
    // look 1: weak signal; look 2: overwhelming -> crosses 2.04
    val df = (
      rows(1, true, true, 1) ++ rows(1, true, false, 1) ++
      rows(1, false, false, 2) ++
      rows(2, true, true, 11) ++ rows(2, false, false, 10)
    ).toDF("day", "a", "conv")
    val out = Quality.sequentialMonitor(df, col("day"), col("a"),
        col("conv"), cFinal = 2.04)
      .select("look", "n_a", "n_b", "conv_a", "conv_b", "z",
        "threshold", "crossed")
      .as[(Int, Long, Long, Long, Long, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def zOf(na: Long, nb: Long, ca: Long, cb: Long): Double = {
      val pp = (ca + cb).toDouble / (na + nb)
      r6((ca.toDouble / na - cb.toDouble / nb) /
        math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)))
    }
    assert(out(1) === ((1, 2L, 2L, 1L, 0L, zOf(2, 2, 1, 0),
      r6(2.04 * math.sqrt(2.0)), false)))
    assert(out(2) === ((2, 13L, 12L, 12L, 0L, zOf(13, 12, 12, 0),
      2.04, true)))
  }

  test("functionalDependencies: violations, NULL-rhs immunity, NULL-lhs group") {
    val df = Seq(
      (Some(1), Some("x")),                     // clean key
      (Some(2), Some("p")), (Some(2), Some("q")), (Some(2), Some("p")),
      (Some(3), None), (Some(3), None),         // all-NULL rhs: holds
      (None, Some("z"))                         // NULL lhs forms a group
    ).toDF("k", "v")
    val r = df.select(col("k"), col("v"), col("k").as("k2"))
    val out = Profile.functionalDependencies(
        r, Seq("k" -> "v", "k" -> "k2"))
      .as[(String, String, Long, Long, Long, Long, Boolean)]
      .collect().map(t => (t._2, t)).toMap
    // k -> v: 4 key groups (incl. NULL), one violating key (k=2)
    // spanning 3 rows, max fan-out 2.
    assert(out("v") === (("k", "v", 4L, 1L, 3L, 2L, false)))
    // k -> k2 is an identity FD: holds everywhere; the NULL-lhs
    // group's rhs is also NULL so its fan-out is 0, never a violation.
    assert(out("k2") === (("k", "k2", 4L, 0L, 0L, 1L, true)))
  }

  test("candidateKeys: composite uniqueness vs single-column duplicates") {
    val df = Seq(
      (1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a")
    ).toDF("id", "side")
    val out = Profile.candidateKeys(
        df, Seq(Seq("id"), Seq("id", "side")))
      .as[(String, Long, Long, Long, Boolean)]
      .collect().map(t => (t._1, t)).toMap
    assert(out("id") === (("id", 3L, 2L, 2L, false)))
    assert(out("id,side") === (("id,side", 5L, 0L, 1L, true)))
  }

  test("weightedQuantiles: sub-micro-unit weights carry no quantized mass") {
    // All of key "zero"'s weights round to 0 micro-units: the key must
    // be ABSENT (previously it returned min(v) for every quantile with
    // total_weight 0 via the degenerate 0 >= 0 threshold).
    val df = Seq(
      ("zero", 1.0, 4e-7), ("zero", 2.0, 1e-7),
      ("mix", 1.0, 4e-7), ("mix", 2.0, 1.0), ("mix", 3.0, 1.0)
    ).toDF("k", "v", "w")
    val out = Quality.weightedQuantiles(df, "k", "v", "w", Seq(0.5, 1.0))
      .as[(String, Double, Option[Double], Double)].collect().toSeq
    assert(!out.exists(_._1 == "zero"))
    // and the sub-micro row inside a live key is ignored
    val med = out.find(r => r._1 == "mix" && r._2 == 0.5).get
    assert(med._3 === Some(2.0) && med._4 === 2.0)
  }

  test("aucScore: raw doubles quantize to the 6dp grid (near scores tie)") {
    // 0.70000004 rounds onto 0.7's grid cell -> the pair earns tie
    // half-credit; distinct-score cardinality stays grid-bounded even
    // for raw-double callers.
    val df = Seq(
      (0.70000004, true), (0.7, false), (0.1, false)
    ).toDF("score", "label")
    val r = Quality.aucScore(df, "score", "label")
      .as[(Long, Long, Option[Double])].collect().head
    assert(r === ((1L, 2L, Some(0.75))))
  }

  test("kAnonymityAudit: hand-computed classes, both axes, verdicts") {
    // classes on (zip, seg): (1,a)x3 diverse, (1,b)x2 homogeneous,
    // (2,a)x1 -> effective_k=1, effective_l=1
    val df = Seq(
      (1, "a", "x"), (1, "a", "y"), (1, "a", "x"),
      (1, "b", "x"), (1, "b", "x"),
      (2, "a", "z")
    ).toDF("zip", "seg", "sens")
    val r = Quality.kAnonymityAudit(df, Seq("zip", "seg"), "sens",
        k = 2L, l = 2L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long,
        Boolean, Boolean)].collect().head
    assert(r === ((6L, 3L,
      1L, 1L, 1L, // effective_k=1, one 1-row class below k=2
      1L, 3L, 2L, // effective_l=1, classes (1,b)+(2,a) = 3 rows below l
      false, false)))
  }

  test("kAnonymityAudit: NULL QI is its own class; NULL sensitive " +
      "carries no diversity") {
    val df = Seq(
      (Some(1), Some("x")), (Some(1), Some("x")),
      (None, None), (None, None)
    ).toDF("zip", "sens")
    val r = Quality.kAnonymityAudit(df, Seq("zip"), "sens", k = 2L, l = 1L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long,
        Boolean, Boolean)].collect().head
    // both classes are k=2-anonymous; the NULL-QI class has diversity
    // 0 (all-NULL sensitive) and fails even l=1
    assert(r === ((4L, 2L, 2L, 0L, 0L, 0L, 2L, 1L, true, false)))
  }

  test("equivalenceClasses: size-ascending drill-down surfaces the " +
      "worst QI combination first") {
    val df = Seq((1, "p"), (1, "q"), (2, "r")).toDF("zip", "sens")
    val worst = Quality.equivalenceClasses(df, Seq("zip"), "sens")
      .orderBy(col("class_size"), col("zip")).limit(1)
      .as[(Int, Long, Long)].collect().head
    assert(worst === ((2, 1L, 1L)))
  }

  test("srmCheck: balanced split passes, broken split alarms, share " +
      "and z match the closed form") {
    // seg 'ok': 50/50 of 400; seg 'bad': 260/140 of 400 (6-sigma SRM)
    val rows = (0 until 400).map(i => ("ok", i % 2 == 0)) ++
      (0 until 400).map(i => ("bad", i % 20 < 13))
    val df = rows.toDF("seg", "arm")
    val out = Quality.srmCheck(df, Seq("seg"), col("arm"), 0.5)
      .as[(String, Long, Long, Double, Double, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    val ok = out("ok")
    assert(ok._2 == 400L && ok._3 == 200L && ok._4 == 0.5)
    assert(ok._6 == 0.0 && ok._7 == 1.0 && !ok._8)
    val bad = out("bad")
    assert(bad._3 == 260L && bad._4 == 0.65)
    // z = (260 - 200) / sqrt(400 * 0.25) = 6
    assert(bad._6 == 6.0)
    assert(bad._7 < 0.001 && bad._8)
  }

  test("srmCheck: non-even expected share centers the test") {
    // 90/10 design observed exactly -> z = 0, no alarm
    val rows = (0 until 100).map(i => ("s", i < 90))
    val out = Quality.srmCheck(rows.toDF("seg", "arm"), Seq("seg"),
        col("arm"), expectedShare = 0.9)
      .as[(String, Long, Long, Double, Double, Double, Double, Boolean)]
      .collect().head
    assert(out._4 == 0.9 && out._5 == 0.9 && out._6 == 0.0 && !out._8)
  }

  test("aaCalibration: hashed splits decorrelate replicates; " +
      "degenerate conversion goes NULL; deterministic rerun") {
    // units 0..999, conv = unit % 5 == 0 (20%). The mix31 splits must
    // produce GENUINELY different partitions per replicate — additive
    // parity made every replicate an arm-swap of the same split
    // (identical |z| everywhere), which a calibration battery cannot
    // work with (advisor fix, round 11).
    val df = (0L until 1000L).map(u => (u, u % 5 == 0)).toDF("u", "conv")
    val out = Quality.aaCalibration(df, col("u"), col("conv"),
        replicates = 8)
      .orderBy("replicate")
      .as[(Int, Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Boolean])].collect().toSeq
    assert(out.map(_._1) == (1 to 8).toSeq)
    // every unit lands in exactly one arm
    assert(out.forall(r => r._2 + r._3 == 1000L))
    // splits are near-balanced (a 31-bit mix on 1000 units) ...
    assert(out.forall(r => r._2 > 400L && r._2 < 600L))
    // ... and DIFFER across replicates: arm sizes and |z| are not all
    // identical (the arm-swap failure mode reads identical |z|)
    assert(out.map(_._2).distinct.size > 1,
      "every replicate produced the same arm sizes — splits correlated")
    assert(out.flatMap(_._6).map(math.abs).distinct.size > 1,
      "every replicate produced the same |z| — splits are arm-swaps")
    // a null battery at alpha=0.05 over 8 replicates should flag few
    assert(out.flatMap(_._8).count(identity) <= 2)
    // deterministic rerun: bit-identical
    val rerun = Quality.aaCalibration(df, col("u"), col("conv"),
        replicates = 8)
      .orderBy("replicate")
      .as[(Int, Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Boolean])].collect().toSeq
    assert(rerun === out)
    // all-converting metric: pooled variance 0 -> untestable NULLs
    val degen = (0L until 10L).map(u => (u, true)).toDF("u", "conv")
    val d = Quality.aaCalibration(degen, col("u"), col("conv"), 2)
      .as[(Int, Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Boolean])].collect()
    assert(d.forall(r => r._6.isEmpty && r._7.isEmpty))
  }

  test("aaRatioCalibration: delta-method nulls calibrate — splits " +
      "decorrelate, few significant, deterministic") {
    // per-unit (num, den) with heterogeneous weights: the case the
    // delta method exists for
    val units = (0L until 800L)
      .map(u => (u, (u % 7 + 1).toDouble * 0.5, u % 5 + 1))
      .toDF("u", "x", "y")
    val out = Quality.aaRatioCalibration(units, col("u"),
        col("x"), col("y"), replicates = 8)
      .orderBy("replicate")
      .as[(Int, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double],
        Option[Boolean])].collect().toSeq
    assert(out.map(_._1) == (1 to 8).toSeq)
    assert(out.forall(r => r._2 + r._3 == 800L))
    assert(out.forall(r => r._2 > 300L && r._2 < 500L))
    // genuinely different splits -> different |z|
    assert(out.flatMap(_._7).map(math.abs).distinct.size > 1)
    // a null battery at alpha=0.05 over 8 replicates flags few
    assert(out.flatMap(_._9).count(identity) <= 2)
    val rerun = Quality.aaRatioCalibration(units, col("u"),
        col("x"), col("y"), replicates = 8)
      .orderBy("replicate")
      .as[(Int, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double],
        Option[Boolean])].collect().toSeq
    assert(rerun === out)
  }

  test("expectationSuite: hand-computed metrics, NULL-strict verdicts, " +
      "one row per check") {
    import Profile._
    // 8 rows: text has 1 NULL; id has a dup; v spans the range edge;
    // code has 6/8 matching 'AB-12' style
    val df = Seq(
      (1L, Some("t"), Some(10.0), "AB-12"),
      (2L, Some("t"), Some(0.0), "CD-34"),
      (3L, Some("t"), Some(5.0), "EF-56"),
      (4L, None: Option[String], Some(100.0), "GH-78"),
      (5L, Some("t"), Some(101.0), "bad"),
      (5L, Some("t"), Some(-1.0), "also bad"),
      (6L, Some("t"), None, "IJ-90"),
      (7L, Some("t"), Some(50.0), "KL-11")
    ).toDF("id", "text", "v", "code")
    val out = expectationSuite(df, Seq(
        Completeness("text", 0.9),
        UniqueRate("id", 1.0),
        InRangeRate("v", 0.0, 100.0, 0.8),
        MatchRate("code", "^[A-Z]{2}-[0-9]{2}$", 0.7)))
      .orderBy("check")
      .as[(String, String, Option[Double], Double, Boolean)]
      .collect().toSeq
    assert(out.map(_._1) == Seq("completeness(text)",
      "in_range(v,0.0,100.0)", "match_rate(code)", "unique_rate(id)"))
    val byName = out.map(r => r._1 -> r).toMap
    // completeness: 7/8 = 0.875 < 0.9 -> fail
    assert(byName("completeness(text)")._3 === Some(0.875))
    assert(!byName("completeness(text)")._5)
    // unique: 7 distinct / 8 non-null -> fail at 1.0
    assert(byName("unique_rate(id)")._3 === Some(0.875))
    assert(!byName("unique_rate(id)")._5)
    // range: 5 of 7 non-null in [0,100] -> 0.714286 < 0.8 -> fail
    assert(byName("in_range(v,0.0,100.0)")._3 === Some(0.714286))
    assert(!byName("in_range(v,0.0,100.0)")._5)
    // match: 6/8 = 0.75 >= 0.7 -> pass
    assert(byName("match_rate(code)")._3 === Some(0.75))
    assert(byName("match_rate(code)")._5)
    // empty table: metrics NULL, verdicts FAIL (NULL-strict gate)
    val empty = expectationSuite(df.where(lit(false)), Seq(
        Completeness("text", 0.0), UniqueRate("id", 0.0)))
      .as[(String, String, Option[Double], Double, Boolean)].collect()
    assert(empty.length == 2)
    assert(empty.forall(r => r._3.isEmpty && !r._5))
  }

  test("dpCountRelease: thresholds tile the uniform domain; released " +
      "counts match the hand-computed mechanism; zero-clamp fires") {
    // threshold table tiles [0, 2^28) with no gaps or overlaps
    val thr = Quality.dpNoiseThresholds(0.5, 39)
    assert(thr.head._1 == -39 && thr.last._1 == 39)
    assert(thr.head._2 == 0L && thr.last._3 == (1L << 28))
    thr.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 == b._2, s"gap/overlap between ${a._1} and ${b._1}")
    case _ => }
    // the center interval carries the most mass (geometric peak at 0)
    val widths = thr.map(t => t._1 -> (t._3 - t._2)).toMap
    assert(widths(0) == widths.values.max)

    // 120 singleton groups: released = max(0, 1 + noise(key)); verify
    // against an independent in-test mechanism replay (JDK md5 + the
    // same threshold table), and both clamp directions occur
    val df = (0 until 120).map(i => s"g$i").toDF("k")
    val got = Quality.dpCountRelease(df, Seq("k"),
        epsilon = 0.5, seed = 7L, clampK = 39)
      .as[(String, Long)].collect().toMap
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def expected(key: String): Long = {
      // per-column value hash, then the joint hash with the seed
      val hex = md5hex(s"${md5hex(key)}|7")
      val u = java.lang.Long.parseLong(hex.substring(0, 7), 16)
      val k = thr.find(t => u >= t._2 && u < t._3).get._1
      math.max(0L, 1L + k)
    }
    assert(got.size == 120)
    got.foreach { case (k, v) =>
      assert(v === expected(k), s"group $k")
    }
    assert(got.values.exists(_ == 0L), "no zero-clamped release")
    assert(got.values.exists(_ > 1L), "no positive-noise release")
    // deterministic rerun == same release; a different seed differs
    val rerun = Quality.dpCountRelease(df, Seq("k"),
        epsilon = 0.5, seed = 7L, clampK = 39)
      .as[(String, Long)].collect().toMap
    assert(rerun === got)
    val other = Quality.dpCountRelease(df, Seq("k"),
        epsilon = 0.5, seed = 8L, clampK = 39)
      .as[(String, Long)].collect().toMap
    assert(other !== got)
    // collision regression (round-11 review): NULL-skipped and
    // delimiter-shifted key tuples must NOT share a noise draw —
    // every group's draw must replay from its per-column-hashed key
    val tricky = Seq(
      (Some("a|b"), Some("c")), (Some("a"), Some("b|c")),
      (Option.empty[String], Some("x")), (Some("x"),
        Option.empty[String])
    ).toDF("k1", "k2")
    val rel = Quality.dpCountRelease(tricky, Seq("k1", "k2"),
        epsilon = 0.5, seed = 7L, clampK = 39)
      .as[(Option[String], Option[String], Long)].collect()
    assert(rel.length == 4)
    def exp2(k1: Option[String], k2: Option[String]): Long = {
      def h(o: Option[String]) = o.map(md5hex).getOrElse("null")
      val hex = md5hex(s"${h(k1)}|${h(k2)}|7")
      val u = java.lang.Long.parseLong(hex.substring(0, 7), 16)
      val k = thr.find(t => u >= t._2 && u < t._3).get._1
      math.max(0L, 1L + k)
    }
    rel.foreach { case (k1, k2, v) =>
      assert(v === exp2(k1, k2), s"($k1,$k2)")
    }
  }

  test("aaSequentialBattery: per-replicate look counts, family-wise " +
      "alarm summary, sentinel first_alarm_look") {
    val d = (i: Int) => java.sql.Date.valueOf(f"2024-01-${i + 1}%02d")
    // 6 days x 400 units; every unit appears every day
    val rows = for (day <- 0 until 6; u <- 0L until 400L)
      yield (d(day), u)
    val df = rows.toDF("day", "u")
    val out = Quality.aaSequentialBattery(df, col("day"), col("u"),
        replicates = 6, alarmP = 0.001)
      .orderBy("replicate")
      .as[(Int, Long, Double, Boolean, Int)].collect().toSeq
    assert(out.map(_._1) == (1 to 6).toSeq)
    assert(out.forall(_._2 == 6L)) // one look per day
    // null splits at the 0.001 line: family-wise alarms stay rare
    assert(out.count(_._4) <= 1)
    assert(out.filter(!_._4).forall(_._5 == 0)) // sentinel
    // alarm plumbing: a permissive line must fire and record the look
    val loose = Quality.aaSequentialBattery(df, col("day"), col("u"),
        replicates = 2, alarmP = 0.999)
      .as[(Int, Long, Double, Boolean, Int)].collect()
    assert(loose.forall(r => r._4 && r._5 >= 1 && r._5 <= 6))
  }

  test("srmMonitor: cumulative looks, alarm fires on the broken day, " +
      "first_alarm marks it exactly once") {
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val d3 = java.sql.Date.valueOf("2024-01-03")
    val rows =
      (0 until 10).map(i => (d1, i % 2 == 0)) ++
      (0 until 10).map(i => (d2, i % 2 == 0)) ++
      (0 until 1000).map(_ => (d3, true)) // one-sided logging break
    val out = Quality.srmMonitor(rows.toDF("d", "arm"), col("d"),
        col("arm"), 0.5)
      .orderBy("day")
      .as[(java.sql.Date, Int, Long, Long, Double, Double, Double,
        Boolean, Boolean)].collect().toSeq
    assert(out.map(_._2) == Seq(1, 2, 3))          // looks in order
    assert(out.map(_._3) == Seq(10L, 20L, 1020L))  // cumulative n
    assert(out.map(_._4) == Seq(5L, 10L, 1010L))
    assert(out.map(_._8) == Seq(false, false, true))
    assert(out.map(_._9) == Seq(false, false, true))
    assert(out(0)._6 == 0.0 && out(0)._7 == 1.0)   // balanced look
  }

  test("joinFanoutAudit: per-key products, exact total, top-k order") {
    import graft.operators.Profile
    val left = Seq(1, 1, 1, 2, 2, 3, 4).map(k => (k, "l"))
      .toDF("k", "v")
    val right = Seq(1, 1, 2, 2, 2, 3).map(k => (k, "r"))
      .toDF("k", "v")
    val out = Profile.joinFanoutAudit(left, "k", right, "k", topK = 2)
      .as[(String, Long, Long, Long, String, Long, Long, Long)]
      .collect().toSeq
    // key 1: 3x2=6, key 2: 2x3=6, key 3: 1x1=1; key 4 unmatched.
    // top-2 by (pairs desc, key asc) = keys "1","2"; total = 13
    assert(out.map(_._1) == Seq("1", "2"))
    assert(out.head === (("1", 3L, 2L, 6L, "13", 3L, 6L, 6L)))
    assert(out(1) === (("2", 2L, 3L, 6L, "13", 3L, 6L, 6L)))
  }

  test("ratioMetricReadout: ratio-of-sums (not mean-of-ratios), " +
      "identical arms test to zero, degenerate arms go NULL") {
    // arm A and arm B identical: (x,y) = (1,1) and (30,10) each
    val units = Seq(
      ("s", true, 1.0, 1L), ("s", true, 30.0, 10L),
      ("s", false, 1.0, 1L), ("s", false, 30.0, 10L),
      // one-unit segment: untestable
      ("tiny", true, 5.0, 2L), ("tiny", false, 5.0, 2L)
    ).toDF("seg", "arm", "x", "y")
    val out = Quality.ratioMetricReadout(units, Seq("seg"), col("arm"),
        col("x"), col("y"))
      .as[(String, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val s = out("s")
    // ratio = 31/11, NOT mean(1/1, 30/10) = 2
    val r = BigDecimal(31.0 / 11.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(s._4 === Some(r) && s._5 === Some(r))
    assert(s._6 === Some(0.0) && s._7 === Some(0.0) && s._8 === Some(1.0))
    val tiny = out("tiny")
    assert(tiny._2 == 1L && tiny._3 == 1L)
    assert(tiny._6.isEmpty && tiny._7.isEmpty && tiny._8.isEmpty)
  }

  test("isotonicCalibration: PAV pools violators to the weighted " +
      "mean; monotone output; already-monotone input unchanged") {
    // bins 0.1/0.2/0.3 with pos rates 0.8/0.2/0.5 and weights
    // 5/5/10: PAV pools bins 1-2 to (4+1)/10 = 0.5; bin 3's 0.5
    // equals it -> fit is 0.5 everywhere
    val rows =
      (0 until 5).map(i => (0.1, i < 4)) ++
      (0 until 5).map(i => (0.2, i < 1)) ++
      (0 until 10).map(i => (0.3, i < 5))
    val out = Quality.isotonicCalibration(
        rows.toDF("score", "y"), "score", "y", scale = 2)
      .as[(Double, Long, Double, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(0.1, 0.2, 0.3))
    assert(out.map(_._3) == Seq(0.8, 0.2, 0.5)) // raw rates
    assert(out.map(_._4) == Seq(0.5, 0.5, 0.5)) // pooled fit
    // monotone input passes through untouched
    val mono = Seq.tabulate(40)(i =>
      (i / 10 * 0.25, i % 10 < (i / 10) * 3))
    val m = Quality.isotonicCalibration(
        mono.toDF("score", "y"), "score", "y", scale = 2)
      .as[(Double, Long, Double, Double)].collect().toSeq
    assert(m.map(_._4) == m.map(_._3),
      "monotone rates must be their own isotonic fit")
    assert(m.map(_._4) == m.map(_._4).sorted)
  }

  test("mdeRatio: hand-computed delta-method MDE; identical arms " +
      "give symmetric ratios; degenerate segments go NULL") {
    // arm A == arm B: (x,y) pairs (1,1),(30,10),(5,4) each
    val pts = Seq((1.0, 1L), (30.0, 10L), (5.0, 4L))
    val units = (pts.map { case (x, y) => ("s", true, x, y) } ++
      pts.map { case (x, y) => ("s", false, x, y) } ++
      Seq(("tiny", true, 5.0, 2L), ("tiny", false, 5.0, 2L)))
      .toDF("seg", "arm", "x", "y")
    val out = Quality.mdeRatio(units, Seq("seg"), col("arm"),
        col("x"), col("y"))
      .as[(String, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val s = out("s")
    val r = 36.0 / 15.0
    val r6 = BigDecimal(r).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(s._4 === Some(r6) && s._5 === Some(r6))
    // hand-computed per-arm delta variance (n=3 units per arm)
    val n = 3.0
    val (sx, sy) = (36.0, 15.0)
    val (sxx, syy, sxy) = (1.0 + 900.0 + 25.0, 1.0 + 100.0 + 16.0,
      1.0 + 300.0 + 20.0)
    val varx = (sxx - sx * sx / n) / (n - 1)
    val vary = (syy - sy * sy / n) / (n - 1)
    val cov = (sxy - sx * sy / n) / (n - 1)
    val my = sy / n
    val vr = (varx - 2 * r * cov + r * r * vary) / (n * my * my)
    val mde = (1.959964 + 0.841621) * math.sqrt(vr + vr)
    assert(s._6.isDefined && math.abs(s._6.get - mde) < 2e-6,
      s"mde ${s._6} vs $mde")
    assert(s._7.isDefined && math.abs(s._7.get - mde / r) < 2e-6)
    // single-unit arms: untestable
    val tiny = out("tiny")
    assert(tiny._6.isEmpty && tiny._7.isEmpty)
  }

  test("ratioMetricReadout: zero denominator mass makes the arm " +
      "ratio NULL") {
    val units = Seq(
      ("s", true, 1.0, 0L), ("s", true, 2.0, 0L),
      ("s", false, 1.0, 1L), ("s", false, 2.0, 3L)
    ).toDF("seg", "arm", "x", "y")
    val out = Quality.ratioMetricReadout(units, Seq("seg"), col("arm"),
        col("x"), col("y"))
      .as[(String, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(out._4.isEmpty && out._5.nonEmpty)
    assert(out._6.isEmpty && out._7.isEmpty)
  }

  test("generalizationLadder: one rollup pass reproduces every " +
      "prefix level; first satisfied level is visible") {
    // QI (zip, seg): level0 classes (1,a)x1 (1,b)x1 (2,a)x2 ->
    // k=2 fails; level1 (zip): 1->2 rows, 2->2 rows -> k=2 holds;
    // level2 (all): 4 rows
    val df = Seq(
      (1, "a", "x"), (1, "b", "y"), (2, "a", "x"), (2, "a", "y")
    ).toDF("zip", "seg", "sens")
    val out = Quality.generalizationLadder(df, Seq("zip", "seg"),
        "sens", k = 2L, l = 2L)
      .orderBy("level")
      .as[(Int, String, Long, Long, Long, Long, Long, Boolean, Boolean)]
      .collect().toSeq
    assert(out.map(_._1) == Seq(0, 1, 2))
    assert(out(0) === ((0, "zip,seg", 3L, 1L, 2L, 2L, 1L, false, false)))
    assert(out(1) === ((1, "zip", 2L, 2L, 0L, 0L, 2L, true, true)))
    assert(out(2) === ((2, "", 1L, 4L, 0L, 0L, 2L, true, true)))
  }

  test("generalizationLadder: a real NULL QI value is its own class, " +
      "never merged with a rollup subtotal") {
    val df = Seq(
      (Some(1), "x"), (Some(1), "y"), (None, "x"), (None, "x")
    ).toDF("zip", "sens")
    val out = Quality.generalizationLadder(df, Seq("zip"), "sens",
        k = 2L, l = 1L)
      .orderBy("level")
      .as[(Int, String, Long, Long, Long, Long, Long, Boolean, Boolean)]
      .collect().toSeq
    // level 0 has TWO classes (zip=1, zip=NULL), both size 2
    assert(out(0)._3 == 2L && out(0)._4 == 2L && out(0)._8)
    // level 1 is the whole table, one class of 4
    assert(out(1)._3 == 1L && out(1)._4 == 4L)
  }

  test("joinFanoutAudit: NULL keys never match (excluded from both " +
      "histograms)") {
    import graft.operators.Profile
    val left = Seq(Some(1), None, None).toDF("k")
    val right = Seq(Some(1), None).toDF("k")
    val out = Profile.joinFanoutAudit(left, "k", right, "k", topK = 10)
      .as[(String, Long, Long, Long, String, Long, Long, Long)]
      .collect().toSeq
    assert(out == Seq(("1", 1L, 1L, 1L, "1", 1L, 1L, 1L)))
  }

  test("dpCountReleaseOverDomain: released row set IS the domain — " +
      "zero-count keys get a noise-floor release, observed keys " +
      "absent from the domain are NOT released") {
    val thr = Quality.dpNoiseThresholds(0.5, 39)
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def draw(key: String, seed: Long): Long = {
      val hex = md5hex(s"${md5hex(key)}|$seed")
      val u = java.lang.Long.parseLong(hex.substring(0, 7), 16)
      thr.find(t => u >= t._2 && u < t._3).get._1
    }
    // data: "a" x3, "b" x1, "rogue" x5; domain: a, b, c, d (c/d
    // unobserved; rogue observed but PRIVATE — not in the domain)
    val data = (Seq.fill(3)("a") ++ Seq("b") ++ Seq.fill(5)("rogue"))
      .toDF("k")
    val domain = Seq("a", "b", "c", "d").toDF("k")
    val got = Quality.dpCountReleaseOverDomain(data, domain, Seq("k"),
        epsilon = 0.5, seed = 11L, clampK = 39)
      .as[(String, Long)].collect().toMap
    // the output row set is exactly the domain — data-independent
    assert(got.keySet === Set("a", "b", "c", "d"))
    assert(got("a") === math.max(0L, 3L + draw("a", 11L)))
    assert(got("b") === math.max(0L, 1L + draw("b", 11L)))
    // unobserved domain keys release from n = 0 (the noise floor
    // that hides membership)
    assert(got("c") === math.max(0L, 0L + draw("c", 11L)))
    assert(got("d") === math.max(0L, 0L + draw("d", 11L)))
    // across many unobserved keys, SOME release positive — the
    // membership-hiding property is visible, not vacuous
    val wide = Quality.dpCountReleaseOverDomain(
        Seq("a").toDF("k"),
        (0 until 80).map(i => s"ghost$i").toDF("k"), Seq("k"),
        epsilon = 0.5, seed = 11L, clampK = 39)
      .as[(String, Long)].collect()
    assert(wide.length === 80)
    assert(wide.exists(_._2 > 0L),
      "no unobserved key released positive — noise floor missing")
    // a duplicated domain row releases ONCE (distinct contract)
    val dup = Quality.dpCountReleaseOverDomain(data,
        Seq("a", "a").toDF("k"), Seq("k"),
        epsilon = 0.5, seed = 11L, clampK = 39).collect()
    assert(dup.length === 1)
  }

  test("dpSumRelease: clamp directions, NULL/negative to 0, " +
      "sensitivity-scaled noise replays exactly") {
    val clampHi = 8L
    val thr = Quality.dpNoiseThresholds(0.5 / clampHi, 320)
    // widened mechanism still tiles the domain
    assert(thr.head._2 == 0L && thr.last._3 == (1L << 28))
    thr.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 == b._2)
    case _ => }
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def draw(key: String, seed: Long): Long = {
      val hex = md5hex(s"${md5hex(key)}|$seed")
      val u = java.lang.Long.parseLong(hex.substring(0, 7), 16)
      thr.find(t => u >= t._2 && u < t._3).get._1
    }
    // group g1: 3.7 (floors to 3) + 100.0 (clamps DOWN to 8) = 11
    // group g2: -5.0 (clamps UP to 0) + NULL (contributes 0) +
    //           8.0 (exactly the clamp) = 8
    val df = Seq(
      ("g1", Some(3.7d)), ("g1", Some(100.0d)),
      ("g2", Some(-5.0d)), ("g2", Option.empty[Double]),
      ("g2", Some(8.0d))).toDF("k", "v")
    val got = Quality.dpSumRelease(df, Seq("k"), col("v"),
        epsilon = 0.5, seed = 13L, clampHi = clampHi, clampK = 320)
      .as[(String, Long)].collect().toMap
    assert(got("g1") === math.max(0L, 11L + draw("g1", 13L)))
    assert(got("g2") === math.max(0L, 8L + draw("g2", 13L)))
    // determinism + seed sensitivity need sums the zero clamp can't
    // swallow (at ε/Δ = 0.0625 the noise std is ~Δ/ε = 16 and K=320,
    // so tiny sums clamp to 0 under most seeds): 120 groups of sum
    // 1600 each release 1600 + draw, never clamped
    val big = (0 until 120).flatMap(g =>
      Seq.fill(200)((s"h$g", Some(8.0d)))).toDF("k", "v")
    val gotBig = Quality.dpSumRelease(big, Seq("k"), col("v"),
        epsilon = 0.5, seed = 13L, clampHi = clampHi, clampK = 320)
      .as[(String, Long)].collect().toMap
    gotBig.foreach { case (k, v) =>
      assert(v === 1600L + draw(k, 13L), s"group $k")
    }
    val rerun = Quality.dpSumRelease(big, Seq("k"), col("v"),
        epsilon = 0.5, seed = 13L, clampHi = clampHi, clampK = 320)
      .as[(String, Long)].collect().toMap
    assert(rerun === gotBig)
    val other = Quality.dpSumRelease(big, Seq("k"), col("v"),
        epsilon = 0.5, seed = 14L, clampHi = clampHi, clampK = 320)
      .as[(String, Long)].collect().toMap
    assert(other !== gotBig)
  }

  test("dpReleaseSuite: exact ledger arithmetic over real releases; " +
      "blown budget refuses BEFORE any release thunk runs") {
    val df = Seq(("a", 5.0d), ("a", 3.0d), ("b", 2.0d))
      .toDF("k", "v")
    val got = Quality.dpReleaseSuite(Seq(
        Quality.DpDeclaredRelease("counts", 400000L,
          () => Quality.dpCountRelease(df, Seq("k"),
            epsilon = 0.4, seed = 7L),
          Some("released_count")),
        Quality.DpDeclaredRelease("hist", 500000L,
          () => Quality.dpHistogramRelease(df, col("v"),
            edges = Seq(0L, 4L, 8L), epsilon = 0.5, seed = 8L))),
        budgetMicro = 1000000L)
      .as[(Int, String, Long, Long, Long, Long, Long, Option[Long])]
      .collect()
    assert(got.map(_._2).toSeq === Seq("counts", "hist"))
    assert(got.map(_._4).toSeq === Seq(400000L, 900000L))
    assert(got.map(_._6).toSeq === Seq(600000L, 100000L))
    assert(got.map(_._7).toSeq === Seq(2L, 2L))
    // totalCol declared only on the first release
    assert(got(0)._8.isDefined && got(1)._8.isEmpty)

    // Refusal: Σε = 1.2ε > 1.0ε budget → throws without touching
    // any release (the thunk itself would fail the test).
    var invoked = false
    val ex = intercept[IllegalStateException] {
      Quality.dpReleaseSuite(Seq(
        Quality.DpDeclaredRelease("r1", 700000L,
          () => { invoked = true; df }),
        Quality.DpDeclaredRelease("r2", 500000L,
          () => { invoked = true; df })),
        budgetMicro = 1000000L)
    }
    assert(ex.getMessage.contains("budget exceeded"))
    assert(!invoked)

    // duplicate names refused
    intercept[IllegalArgumentException] {
      Quality.dpReleaseSuite(Seq(
        Quality.DpDeclaredRelease("same", 1L, () => df),
        Quality.DpDeclaredRelease("same", 1L, () => df)),
        budgetMicro = 10L)
    }
  }

  test("dpReleaseSuitePartitioned: disjoint-shard releases charge " +
      "max(eps) where sequential accounting refuses; overlap and " +
      "undeclared domains refuse; ledger arithmetic exact") {
    val df = Seq(("a", 5.0d), ("a", 3.0d), ("b", 2.0d), ("c", 1.0d))
      .toDF("k", "v")
    def dom(ks: String*) = ks.toDF("k")
    def shard(name: String, keys: Seq[String], seed: Long) =
      Quality.DpDeclaredRelease(name, 800000L,
        () => Quality.dpCountReleaseOverDomain(df,
          keys.toDF("k"), Seq("k"), epsilon = 0.8, seed = seed,
          clampK = 50),
        Some("released_count"), Some("g"),
        Some(() => dom(keys: _*)))
    val releases = Seq(
      shard("s_ab", Seq("a", "b"), 7L),
      shard("s_c", Seq("c"), 8L),
      shard("s_d", Seq("d"), 9L),
      Quality.DpDeclaredRelease("hist", 500000L,
        () => Quality.dpHistogramRelease(df, col("v"),
          edges = Seq(0L, 4L, 8L), epsilon = 0.5, seed = 10L)))
    // SEQUENTIAL accounting: 3·0.8 + 0.5 = 2.9ε > 2.0ε → refuses...
    val seqEx = intercept[IllegalStateException] {
      Quality.dpReleaseSuite(releases, budgetMicro = 2000000L)
    }
    assert(seqEx.getMessage.contains("budget exceeded"))
    // ...while PARALLEL accounting fits: max(0.8) + 0.5 = 1.3ε.
    val got = Quality.dpReleaseSuitePartitioned(releases,
        budgetMicro = 2000000L)
      .as[(Int, String, Option[String], Long, Long, Long, Long, Long,
        Long, Option[Long])].collect()
    assert(got.map(_._2).toSeq === Seq("s_ab", "s_c", "s_d", "hist"))
    assert(got.map(_._3).toSeq ===
      Seq(Some("g"), Some("g"), Some("g"), None))
    // charged: 0.8ε then two zeros (parallel composition working),
    // then the ungrouped 0.5ε
    assert(got.map(_._5).toSeq ===
      Seq(800000L, 0L, 0L, 500000L))
    assert(got.map(_._6).toSeq ===
      Seq(800000L, 800000L, 800000L, 1300000L))
    assert(got.map(_._8).toSeq ===
      Seq(1200000L, 1200000L, 1200000L, 700000L))
    // a LARGER grouped epsilon later charges only its increment
    val grew = Quality.dpReleaseSuitePartitioned(Seq(
        shard("s_ab", Seq("a", "b"), 7L),
        shard("s_c", Seq("c"), 8L).copy(epsilonMicro = 1100000L)),
        budgetMicro = 2000000L)
      .as[(Int, String, Option[String], Long, Long, Long, Long, Long,
        Long, Option[Long])].collect()
    assert(grew.map(_._5).toSeq === Seq(800000L, 300000L))
    assert(grew.map(_._6).toSeq === Seq(800000L, 1100000L))
    // overlapping domains void the parallel claim: refuse before
    // any release thunk runs
    var invoked = false
    val ovEx = intercept[IllegalStateException] {
      Quality.dpReleaseSuitePartitioned(Seq(
        Quality.DpDeclaredRelease("r1", 100000L,
          () => { invoked = true; df }, None, Some("g"),
          Some(() => dom("a", "b"))),
        Quality.DpDeclaredRelease("r2", 100000L,
          () => { invoked = true; df }, None, Some("g"),
          Some(() => dom("b", "c")))),
        budgetMicro = 2000000L)
    }
    assert(ovEx.getMessage.contains("NOT a partition") &&
      ovEx.getMessage.contains("'b'"))
    assert(!invoked)
    // a grouped release without a declared domain refuses
    val noDom = intercept[IllegalArgumentException] {
      Quality.dpReleaseSuitePartitioned(Seq(
        Quality.DpDeclaredRelease("r1", 100000L, () => df, None,
          Some("g"), None)),
        budgetMicro = 2000000L)
    }
    assert(noDom.getMessage.contains("without declaring"))
    // parallel budget refusal is still all-or-nothing and data-free
    val parEx = intercept[IllegalStateException] {
      Quality.dpReleaseSuitePartitioned(Seq(
        Quality.DpDeclaredRelease("big", 2500000L,
          () => { invoked = true; df })),
        budgetMicro = 2000000L)
    }
    assert(parEx.getMessage.contains("parallel composition") ||
      parEx.getMessage.contains("budget exceeded"))
    assert(!invoked)
  }

  test("dpReleaseSuitePartitioned (r15 ADVICE): a keyed grouped " +
      "release whose MECHANISM escapes its declared domain is " +
      "refused; an honest keyed release passes") {
    val df = Seq(("a", 1), ("b", 1), ("c", 1)).toDF("k", "n")
    def dom(ks: String*) = ks.toDF("k")
    // mis-declared: the mechanism releases over {a, b, c} (observed
    // groups) while declaring only {a} — the declared domains are
    // disjoint, so pre-r15 this silently earned parallel accounting
    val misEx = intercept[IllegalStateException] {
      Quality.dpReleaseSuitePartitioned(Seq(
        Quality.DpDeclaredRelease("escapee", 800000L,
          () => Quality.dpCountRelease(df, Seq("k"),
            epsilon = 0.8, seed = 1L),
          Some("released_count"), Some("g"),
          Some(() => dom("a")), Some("k")),
        Quality.DpDeclaredRelease("other", 800000L,
          () => Quality.dpCountReleaseOverDomain(df, dom("z"),
            Seq("k"), epsilon = 0.8, seed = 2L),
          Some("released_count"), Some("g"),
          Some(() => dom("z")), Some("k"))),
        budgetMicro = 2000000L)
    }
    assert(misEx.getMessage.contains("OUTSIDE its declared domain"))
    assert(misEx.getMessage.contains("escapee"))
    // honest: same shape with domain-confined mechanisms passes and
    // charges max(eps)
    val ok = Quality.dpReleaseSuitePartitioned(Seq(
        Quality.DpDeclaredRelease("s_ab", 800000L,
          () => Quality.dpCountReleaseOverDomain(df, dom("a", "b"),
            Seq("k"), epsilon = 0.8, seed = 1L),
          Some("released_count"), Some("g"),
          Some(() => dom("a", "b")), Some("k")),
        Quality.DpDeclaredRelease("s_c", 800000L,
          () => Quality.dpCountReleaseOverDomain(df, dom("c"),
            Seq("k"), epsilon = 0.8, seed = 2L),
          Some("released_count"), Some("g"),
          Some(() => dom("c")), Some("k"))),
        budgetMicro = 2000000L)
      .as[(Int, String, Option[String], Long, Long, Long, Long, Long,
        Long, Option[Long])].collect()
    assert(ok.map(_._5).toSeq === Seq(800000L, 0L))
  }

  test("dpSubsampledCountReleaseOverDomain (Q20): deterministic " +
      "subsample at the declared rate, amplification arithmetic " +
      "exact and monotone, amplified suite fits where unamplified " +
      "refuses") {
    // amplification golden: ε = 1, q = 5% → ln(1 + 0.05·(e−1)),
    // ceiling on the micro grid
    val a = Quality.amplifiedEpsilonMicro(1000000L, 50)
    val want = math.ceil(math.log1p(0.05 * math.expm1(1.0)) * 1e6)
      .toLong
    assert(a === want && a < 90000L && a > 80000L, s"got $a")
    // monotone in rate, never above the full ε
    val amps = Seq(10, 50, 200, 999)
      .map(r => Quality.amplifiedEpsilonMicro(1000000L, r))
    assert(amps === amps.sorted && amps.last <= 1000000L)
    // the subsample is deterministic and concentrates near the rate
    val df = spark.range(10000L).toDF("rid")
      .withColumn("k", lit("a"))
    val dom = Seq("a").toDF("k")
    def rel(sSeed: Long) =
      Quality.dpSubsampledCountReleaseOverDomain(df, "rid", dom,
          Seq("k"), epsilon = 50.0, mechanismSeed = 1L,
          sampleSeed = sSeed, ratePerMille = 50, clampK = 39)
        .as[(String, Long)].collect().head._2
    val r1 = rel(7L)
    // ε = 50 → noise is ±0 for all practical draws; the released
    // count IS the subsample size: expect ~500 of 10000 (±5 sd)
    assert(r1 > 350L && r1 < 650L, s"5% of 10k, got $r1")
    assert(rel(7L) === r1)
    assert(rel(8L) !== r1) // seed rotation resamples
    // suite accounting: 4 amplified declarations fit 0.5ε; the same
    // releases declared unamplified refuse, thunks untouched
    var invoked = false
    val rels = (1 to 4).map { i =>
      Quality.DpDeclaredRelease(s"s$i", a,
        () => { invoked = true; df })
    }
    intercept[IllegalStateException] {
      Quality.dpReleaseSuite(
        rels.map(_.copy(epsilonMicro = 1000000L)),
        budgetMicro = 500000L)
    }
    assert(!invoked)
    val led = Quality.dpReleaseSuite(rels, budgetMicro = 500000L)
      .as[(Int, String, Long, Long, Long, Long, Long, Option[Long])]
      .collect()
    assert(led.length === 4 && led.last._4 === 4 * a)
  }

  test("dpReleaseSuiteZcdp (Q19): 36 small releases pass under zCDP " +
      "where basic sequential accounting refuses; exact ceiling " +
      "arithmetic; blown converted budget and parallel claims " +
      "refuse data-free") {
    val df = Seq("a", "b").toDF("k")
    val dom = Seq("a", "b").toDF("k")
    def mkRel(i: Int) = Quality.DpDeclaredRelease(f"r$i%02d", 100000L,
      () => Quality.dpCountReleaseOverDomain(df, dom, Seq("k"),
        epsilon = 0.1, seed = i.toLong, clampK = 200),
      Some("released_count"))
    val releases = (1 to 36).map(mkRel)
    // basic Σε = 3.6 > 3.45 refuses...
    intercept[IllegalStateException] {
      Quality.dpReleaseSuite(releases, budgetMicro = 3450000L)
    }
    // ...zCDP fits: ρ = ⌈0.1²/2·10⁶⌉ = 5000 µ each, Σρ = 180000 µ,
    // ε(1e-6) = 180000 + ⌈2√(180000·13815511)⌉
    val got = Quality.dpReleaseSuiteZcdp(releases,
        budgetMicro = 3450000L, deltaPow10 = 6)
      .as[(Int, String, Long, Long, Long, Long, Int, Long, Long,
        Long, Option[Long])].collect()
    assert(got.length === 36)
    assert(got.forall(_._4 === 5000L))
    assert(got.last._5 === 180000L)
    val expected = 180000L + math.ceil(
      2.0 * math.sqrt((180000L * 13815511L).toDouble)).toLong
    assert(got.last._6 === expected && expected <= 3450000L,
      s"converted spend $expected must fit the budget")
    // converted spend strictly monotone across the suite
    got.map(_._6).sliding(2).foreach {
      case Array(a, b) => assert(b > a)
      case _ => ()
    }
    // one big release whose CONVERTED spend blows the budget refuses
    // before any thunk runs (ε = 3 → ρ = 4.5e6 µ alone)
    var invoked = false
    intercept[IllegalStateException] {
      Quality.dpReleaseSuiteZcdp(Seq(
        Quality.DpDeclaredRelease("big", 3000000L,
          () => { invoked = true; df })),
        budgetMicro = 3450000L, deltaPow10 = 6)
    }
    assert(!invoked)
    // parallel-group claims refuse (no silent loss of the discount)
    val pEx = intercept[IllegalArgumentException] {
      Quality.dpReleaseSuiteZcdp(Seq(
        Quality.DpDeclaredRelease("p", 1L, () => df, None, Some("g"),
          Some(() => dom))),
        budgetMicro = 10L, deltaPow10 = 6)
    }
    assert(pEx.getMessage.contains("sequential-only"))
  }

  test("dpUserCountReleaseOverDomain (Q18): a million-row whale user " +
      "moves the capped release by exactly the cap; uncapped " +
      "user-level accounting refuses; deterministic") {
    val dom = Seq("a").toDF("k")
    // 10 users x 10 rows each, all in domain cell 'a'
    val base = spark.range(100).select(
      col("id").as("rid"), (col("id") % 10).as("user"),
      lit("a").as("k"))
    def release(df: org.apache.spark.sql.DataFrame) =
      Quality.dpUserCountReleaseOverDomain(df, "user", "rid", dom,
          Seq("k"), epsilon = 0.8, seed = 5L, userCap = Some(8),
          clampK = 200)
        .as[(String, Long)].collect().head._2
    val r1 = release(base)
    // one user with 10^6 rows joins; same (key, seed) => identical
    // noise draw, so the released delta IS the capped contribution
    val whale = spark.range(1000000L).select(
      (col("id") + 1000L).as("rid"), lit(9999L).as("user"),
      lit("a").as("k"))
    val r2 = release(base.unionByName(whale))
    assert(r2 - r1 === 8L,
      s"whale must move the release by exactly userCap: $r1 -> $r2")
    // determinism
    assert(release(base) === r1)
    // uncapped user-level accounting refuses, data-free
    val ex = intercept[IllegalStateException] {
      Quality.dpUserCountReleaseOverDomain(base, "user", "rid", dom,
        Seq("k"), epsilon = 0.8, seed = 5L, userCap = None,
        clampK = 200)
    }
    assert(ex.getMessage.contains("no per-user contribution bound"))
  }

  test("dpTopKRelease: high-epsilon concentration peels the exact " +
      "top-k in order; zero-count domain keys are candidates; " +
      "k > domain refuses; deterministic") {
    val df = (Seq.fill(50)("a") ++ Seq.fill(40)("b") ++
      Seq.fill(30)("c") ++ Seq.fill(2)("d") ++ Seq("e"))
      .toDF("k")
    val domain = Seq("a", "b", "c", "d", "e", "zz").toDF("k")
    // ε = 120 → ε/k = 40 per round: weight ratio between adjacent
    // counts is e^{-20·Δcount} — the mechanism is argmax for all
    // practical draws, so the peel recovers the exact ranking.
    val got = Quality.dpTopKRelease(df, col("k"), domain, "k",
        k = 3, epsilon = 120.0, seed = 9L)
      .as[(Int, String)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1, "a"), (2, "b"), (3, "c")))

    // determinism: identical rerun
    val again = Quality.dpTopKRelease(df, col("k"), domain, "k",
        k = 3, epsilon = 120.0, seed = 9L)
      .as[(Int, String)].collect().sortBy(_._1)
    assert(again.toSeq === got.toSeq)

    // the whole domain is releasable — zero-count keys included
    val all = Quality.dpTopKRelease(df, col("k"), domain, "k",
        k = 6, epsilon = 0.6, seed = 9L)
      .as[(Int, String)].collect()
    assert(all.length === 6)
    assert(all.map(_._2).toSet ===
      Set("a", "b", "c", "d", "e", "zz"))

    // k beyond the public domain refuses up front
    intercept[IllegalArgumentException] {
      Quality.dpTopKRelease(df, col("k"), domain, "k",
        k = 7, epsilon = 1.0, seed = 9L)
    }
  }

  test("regressionAdjustedReadout: exact planar golden (theta1=2, " +
      "theta2=3, R2=1, adjusted diff 0); collinear covariates NULL " +
      "the solve; empty arm NULLs the readout") {
    // y = 2*x1 + 3*x2 exactly -> the plane is recovered exactly,
    // all outcome variance explained, adjusted contrast 0.
    val units = Seq(
      (true, 10L, 1L, 23L), (true, 20L, 3L, 49L), (true, 30L, 2L, 66L),
      (false, 15L, 2L, 36L), (false, 25L, 1L, 53L), (false, 5L, 3L, 19L))
      .toDF("arm", "x1", "x2", "y")
    val got = Quality.regressionAdjustedReadout(units, col("arm"),
        col("x1"), col("x2"), col("y"))
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(got._1 === 6L && got._2 === 3L && got._3 === 3L)
    assert(got._4 === Some(2.0) && got._5 === Some(3.0))
    // diff_raw = (2*(20-15) + 3*(2-2)) int-units / 1e6
    assert(got._6 === Some(1.0e-5))
    assert(got._7 === Some(0.0), "fully-explained contrast adjusts to 0")
    assert(got._8 === Some(1.0), "planar outcome reads R2 = 1")

    // collinear pair (x2 = 2*x1): det = 0 -> solve refused, raw kept
    val coll = units.withColumn("x2", col("x1") * 2)
    val g2 = Quality.regressionAdjustedReadout(coll, col("arm"),
        col("x1"), col("x2"), col("y"))
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(g2._4.isEmpty && g2._5.isEmpty && g2._7.isEmpty)
    assert(g2._6.isDefined)

    // one-arm data: nothing testable
    val g3 = Quality.regressionAdjustedReadout(
        units.where(col("arm")), col("arm"),
        col("x1"), col("x2"), col("y"))
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(g3._4.isEmpty && g3._6.isEmpty && g3._7.isEmpty)
  }

  test("postStratifiedReadout: two-strata golden with in-test " +
      "replay; under-filled stratum skipped; all-skipped NULL row") {
    val df = Seq(
      ("s1", true, 10L), ("s1", true, 20L),
      ("s1", false, 30L), ("s1", false, 40L),
      ("s2", true, 5L), ("s2", true, 5L),
      ("s2", false, 10L), ("s2", false, 20L),
      ("s3", true, 1L), ("s3", false, 2L), ("s3", false, 3L))
      .toDF("s", "a", "v")
    val got = Quality.postStratifiedReadout(df,
        col("s"), col("a"), col("v"))
      .as[(Long, Long, Option[Long], Option[Long], Option[Double],
        Option[Double], Option[Double])]
      .collect().head
    assert(got._1 == 3L && got._2 == 2L)
    assert(got._3 == Some(4L) && got._4 == Some(4L))
    // w = 0.5 each; s1 diff term 0.5*(15-35) = -10, var 0.25*(25+25);
    // s2 diff 0.5*(5-15) = -5, var 0.25*(0+25): z = -15/sqrt(18.75)
    assert(got._5 == Some(-1.5e-5))
    val zExp = BigDecimal(-15.0 / math.sqrt(18.75))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._6 == Some(zExp))
    assert(got._7.exists(_ < 0.001))

    // every stratum under-filled: stable all-NULL readout
    val degen = Seq(("s1", true, 1L), ("s1", false, 2L))
      .toDF("s", "a", "v")
    val g2 = Quality.postStratifiedReadout(degen,
        col("s"), col("a"), col("v"))
      .as[(Long, Long, Option[Long], Option[Long], Option[Double],
        Option[Double], Option[Double])]
      .collect()
    assert(g2.length == 1)
    assert(g2.head._1 == 1L && g2.head._2 == 0L)
    assert(g2.head._5.isEmpty && g2.head._6.isEmpty && g2.head._7.isEmpty)
  }

  test("clusterRandomizedReadout: hand golden, contaminated cluster " +
      "excluded, degenerate NULLs") {
    // c1 (A: 1+2=3), c2 (A: 5), c3 (B: 2), c4 (B: 4),
    // c5 contaminated (rows under both arms) -> excluded
    val df = Seq(
      ("c1", true, 1L), ("c1", true, 2L), ("c2", true, 5L),
      ("c3", false, 2L), ("c4", false, 4L),
      ("c5", true, 100L), ("c5", false, 100L))
      .toDF("c", "a", "v")
    val got = Quality.clusterRandomizedReadout(df,
        col("c"), col("a"), col("v"))
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(got._1 == 2L && got._2 == 2L && got._3 == 1L)
    assert(got._4 == Some(4.0e-6) && got._5 == Some(3.0e-6))
    assert(got._6 == Some(1.0e-6))
    // Welch replay: va = (2*34-64)/2 = 2, vb = (2*20-36)/2 = 2,
    // se = sqrt(1+1)
    val se = math.sqrt(2.0 / 2.0 + 2.0 / 2.0)
    val zExp = BigDecimal((4.0 - 3.0) / se)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._7 == Some(zExp))
    assert(got._8.isDefined)

    // one clean cluster per arm: untestable, never NaN
    val degen = Seq(("c1", true, 3L), ("c2", false, 4L))
      .toDF("c", "a", "v")
    val g2 = Quality.clusterRandomizedReadout(degen,
        col("c"), col("a"), col("v"))
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(g2._1 == 1L && g2._2 == 1L && g2._7.isEmpty && g2._8.isEmpty)
  }

  test("dpHistogramRelease: clamping bins, zero-count noise floor, " +
      "hand-replayed mechanism, determinism") {
    val thr = Quality.dpNoiseThresholds(0.5, 39)
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def draw(lo: Long, hi: Long, seed: Long): Long = {
      val hex = md5hex(
        s"${md5hex(lo.toString)}|${md5hex(hi.toString)}|$seed")
      val u = java.lang.Long.parseLong(hex.substring(0, 7), 16)
      thr.find(t => u >= t._2 && u < t._3).get._1
    }
    // -5 clamps into the first bin, 999 into the last; NULL drops;
    // the middle bin is empty but still released
    val df = Seq(Some(-5.0), Some(10.0), Some(55.0), Some(999.0),
      Option.empty[Double]).toDF("v")
    val got = Quality.dpHistogramRelease(df, col("v"),
        edges = Seq(0L, 50L, 100L, 150L), epsilon = 0.5, seed = 9L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) ==
      Seq((0L, 50L), (50L, 100L), (100L, 150L)))
    val exp = Map((0L, 50L) -> 2L, (50L, 100L) -> 1L,
      (100L, 150L) -> 1L)
    got.foreach { case (lo, hi, rel) =>
      assert(rel === math.max(0L, exp((lo, hi)) + draw(lo, hi, 9L)),
        s"bin [$lo,$hi)")
    }
    // determinism + seed sensitivity over enough bins to differ
    val big = (1 to 2000).map(i => Some(i.toDouble)).toDF("v")
    val edges = (0L to 2000L by 100L)
    val a = Quality.dpHistogramRelease(big, col("v"), edges, 0.5, 9L)
      .as[(Long, Long, Long)].collect().toSeq
    val b = Quality.dpHistogramRelease(big, col("v"), edges, 0.5, 9L)
      .as[(Long, Long, Long)].collect().toSeq
    val c = Quality.dpHistogramRelease(big, col("v"), edges, 0.5, 10L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(a == b && a != c)
    intercept[IllegalArgumentException] {
      Quality.dpHistogramRelease(df, col("v"), Seq(5L), 0.5, 1L)
    }
    intercept[IllegalArgumentException] {
      Quality.dpHistogramRelease(df, col("v"), Seq(5L, 5L), 0.5, 1L)
    }
  }

  test("winsorizedMeanReadout: pooled-edge clamp golden, Welch z " +
      "replay, degenerate arms NULL") {
    // key k: arm A = [0, 10, 20, 30, 1000(whale)], B = [10,20,30,40]
    // pooled sorted (n=9): 0,10,10,20,20,30,30,40,1000
    // edges at ceil(.2*9)=2 -> 10 and ceil(.8*9)=8 -> 40
    val rows = Seq(
      ("k", true, 0L), ("k", true, 10L), ("k", true, 20L),
      ("k", true, 30L), ("k", true, 1000L),
      ("k", false, 10L), ("k", false, 20L), ("k", false, 30L),
      ("k", false, 40L))
    val df = rows.toDF("key", "arm", "v")
    val got = Quality.winsorizedMeanReadout(df, Seq("key"),
        col("arm"), col("v"), loQ = 0.2, hiQ = 0.8)
      .as[(String, Long, Long, Double, Double, Long, Long,
        Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Double])]
      .collect().head
    assert(got._2 == 5L && got._3 == 4L)
    assert(got._4 == 1.0e-5 && got._5 == 4.0e-5) // lo/hi in units
    assert(got._6 == 1L && got._7 == 1L) // one clip each side
    // winsorized: A -> 10,10,20,30,40 (mean 22µ), B unchanged (25µ)
    assert(got._8 == Some(2.2e-5) && got._9 == Some(2.5e-5))
    assert(got._10 == Some(-3.0e-6))
    // Welch replay with the operator's exact double chain
    val va = (5.0 * 3100.0 - 110.0 * 110.0) / (5.0 * 4.0)
    val vb = (4.0 * 3000.0 - 100.0 * 100.0) / (4.0 * 3.0)
    val se = math.sqrt(va / 5.0 + vb / 4.0)
    val zExp = BigDecimal((22.0 - 25.0) / se)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._11 == Some(zExp))
    val x = math.abs(zExp) / math.sqrt(2.0)
    val t = 1.0 / (1.0 + 0.3275911 * x)
    val pExp = BigDecimal(t * (0.254829592 + t * (-0.284496736 +
      t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))) *
      math.exp(-(x * x)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._12 == Some(pExp))

    // single-row arm and constant values: untestable, never NaN
    val degen = Seq(("d", true, 5L), ("d", false, 5L),
      ("d", false, 5L)).toDF("key", "arm", "v")
    val g2 = Quality.winsorizedMeanReadout(degen, Seq("key"),
        col("arm"), col("v"), loQ = 0.2, hiQ = 0.8)
      .as[(String, Long, Long, Double, Double, Long, Long,
        Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Double])]
      .collect().head
    assert(g2._8 == Some(5.0e-6) && g2._11.isEmpty && g2._12.isEmpty)
  }

  test("dpQuantileRelease: weight table shape; hand-replayed pick; " +
      "all-NULL uniform; argmax at high epsilon; determinism") {
    // weight table: full mass at util 0, strictly non-increasing,
    // floored at 1 (no zero-probability candidate)
    val wt = Quality.dpExpMechWeights(1.0, qDen = 2, clampUtil = 400)
    assert(wt.head == (0, 1000000000000L))
    assert(wt.sliding(2).forall { case Seq(a, b) => b._2 <= a._2
    case _ => true })
    assert(wt.last._2 >= 1L)
    assert(wt.map(_._1) == (0 to 400))

    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def draw(key: String, seed: Long): Long =
      java.lang.Long.parseLong(
        md5hex(s"${md5hex(key)}|$seed").substring(0, 7), 16)
    // the operator's mechanism replayed in-test: integer utilities,
    // literal weights, division-free cum·2^28 > draw·W pick
    def replay(key: String, values: Seq[Option[Double]],
        grid: Seq[Long], qNum: Int, qDen: Int, eps: Double,
        seed: Long, clampUtil: Int): Long = {
      val w = Quality.dpExpMechWeights(eps, qDen, clampUtil).toMap
      val n = values.count(_.isDefined).toLong
      val ws = grid.map { c =>
        val cle = values.count(v => v.exists(_ <= c)).toLong
        w(math.min(math.abs(qDen * cle - qNum * n), clampUtil.toLong)
          .toInt)
      }
      val wtot = BigInt(ws.sum)
      val d = BigInt(draw(key, seed))
      var cum = BigInt(0)
      var pick = grid.last
      var done = false
      grid.zip(ws).foreach { case (c, wk) =>
        cum += wk
        if (!done && cum * BigInt(1L << 28) > d * wtot) {
          pick = c; done = true
        }
      }
      pick
    }

    val grid = Seq(0L, 5L, 10L)
    val vsA = (1 to 9).map(i => Some(i.toDouble))
    val vsB = Seq.fill(4)(Option.empty[Double]) // all-NULL group
    val df = (vsA.map(("a", _)) ++ vsB.map(("b", _))).toDF("k", "v")
    val got = Quality.dpQuantileRelease(df, Seq("k"), col("v"),
        grid, qNum = 1, qDen = 2, epsilon = 1.0, seed = 11L)
      .as[(String, Long)].collect().toMap
    assert(got.size == 2)
    assert(got("a") === replay("a", vsA, grid, 1, 2, 1.0, 11L, 400))
    // all-NULL group: n = 0, every utility 0 -> uniform grid draw,
    // still exactly one released row, still replayable
    assert(got("b") === replay("b", vsB, grid, 1, 2, 1.0, 11L, 400))

    // high-epsilon regime: the mechanism concentrates on the
    // utility argmax — median of 1..9 over {0,5,10} is 5 for any
    // of 50 group keys' draws
    val many = (0 until 50).flatMap(g =>
      (1 to 9).map(i => (s"g$g", Some(i.toDouble)))).toDF("k", "v")
    val sharp = Quality.dpQuantileRelease(many, Seq("k"), col("v"),
        grid, qNum = 1, qDen = 2, epsilon = 20.0, seed = 3L)
      .as[(String, Long)].collect()
    assert(sharp.length == 50 && sharp.forall(_._2 == 5L))

    // determinism + seed sensitivity (low epsilon spreads the picks)
    val fuzzy = Quality.dpQuantileRelease(many, Seq("k"), col("v"),
        grid, qNum = 1, qDen = 2, epsilon = 0.05, seed = 3L)
      .as[(String, Long)].collect().toMap
    val rerun = Quality.dpQuantileRelease(many, Seq("k"), col("v"),
        grid, qNum = 1, qDen = 2, epsilon = 0.05, seed = 3L)
      .as[(String, Long)].collect().toMap
    assert(rerun === fuzzy)
    val other = Quality.dpQuantileRelease(many, Seq("k"), col("v"),
        grid, qNum = 1, qDen = 2, epsilon = 0.05, seed = 4L)
      .as[(String, Long)].collect().toMap
    assert(other !== fuzzy)

    // contract violations
    intercept[IllegalArgumentException] {
      Quality.dpQuantileRelease(df, Seq("k"), col("v"),
        Seq(5L, 0L), 1, 2, 1.0, 1L)
    }
    intercept[IllegalArgumentException] {
      Quality.dpQuantileRelease(df, Seq("k"), col("v"),
        grid, 2, 2, 1.0, 1L)
    }
  }
  test("dpReleaseSuiteZcdpPartitioned (Q21): per-group Σρ with " +
      "max-across-groups, charged increments zero for the non-max " +
      "group, converted spend fits where zCDP-sequential refuses; " +
      "within-group domain overlap is the refresh semantics") {
    val df = Seq(("a", 1), ("b", 1), ("c", 1)).toDF("k", "n")
    def dom(ks: String*) = ks.toDF("k")
    def mech(name: String, g: String, langs: Seq[String],
        seed: Long) =
      Quality.DpDeclaredRelease(name, 500000L,
        () => Quality.dpCountReleaseOverDomain(df,
          langs.toDF("k"), Seq("k"), epsilon = 0.5, seed = seed,
          clampK = 80),
        Some("released_count"), Some(g),
        Some(() => dom(langs: _*)), Some("k"))
    // 3 refreshes of shard {a}, 3 of shard {b, c} (SAME domain per
    // refresh — exactly what Q17 refuses as a clash), 1 ungrouped
    val releases = Seq(
      mech("g1_w1", "g1", Seq("a"), 1L),
      mech("g1_w2", "g1", Seq("a"), 2L),
      mech("g1_w3", "g1", Seq("a"), 3L),
      mech("g2_w1", "g2", Seq("b", "c"), 4L),
      mech("g2_w2", "g2", Seq("b", "c"), 5L),
      mech("g2_w3", "g2", Seq("b", "c"), 6L),
      Quality.DpDeclaredRelease("plain", 500000L,
        () => Quality.dpCountRelease(df, Seq("k"), 0.5, 7L, 80),
        Some("released_count")))
    // ρ(0.5ε) = 125000 µρ; eff = max(375000, 375000) + 125000
    val L = math.round(6 * math.log(10.0) * 1e6)
    val effFinal = 500000L
    val epsPar = effFinal + math.ceil(
      2.0 * math.sqrt(effFinal.toDouble * L)).toLong
    val budget = epsPar + 1000L
    val got = Quality.dpReleaseSuiteZcdpPartitioned(
        releases, budget, deltaPow10 = 6)
      .as[(Int, String, Option[String], Long, Long, Long, Long,
        Long, Long, Int, Long, Long, Long, Option[Long])]
      .collect().sortBy(_._1)
    assert(got.length === 7)
    assert(got.forall(_._5 === 125000L), "per-release ρ")
    assert(got.map(_._6).toSeq ===
      Seq(125000L, 250000L, 375000L, 125000L, 250000L, 375000L,
        125000L), "scope cums")
    assert(got.map(_._7).toSeq ===
      Seq(125000L, 125000L, 125000L, 0L, 0L, 0L, 125000L),
      "charged: the zeros ARE the parallel discount")
    assert(got.map(_._8).toSeq ===
      Seq(125000L, 250000L, 375000L, 375000L, 375000L, 375000L,
        500000L), "effective ρ")
    // converted ε(δ) matches the grid formula row by row, monotone
    got.foreach { r =>
      val want = r._8 + math.ceil(
        2.0 * math.sqrt(r._8.toDouble * L)).toLong
      assert(r._9 === want && r._12 === budget - want, r._2)
    }
    assert(got.last._9 === epsPar)
    // the SAME releases stripped of group claims refuse this budget
    // under zCDP-sequential (Σρ = 875000) — data-free
    var invoked = false
    val stripped = releases.map(r => r.copy(
      parallelGroup = None, domain = None, keyCol = None,
      release = () => { invoked = true; df }))
    intercept[IllegalStateException] {
      Quality.dpReleaseSuiteZcdp(stripped, budget, deltaPow10 = 6)
    }
    assert(!invoked)
    // ... and under Q21 itself with a blown budget, also data-free
    intercept[IllegalStateException] {
      Quality.dpReleaseSuiteZcdpPartitioned(
        releases.map(r => r.copy(release =
          () => { invoked = true; df })),
        budgetMicro = 1000L, deltaPow10 = 6)
    }
    assert(!invoked)
    // CROSS-group overlap voids the partition claim (key 'b' in two
    // groups' domains), thunks untouched
    val clashEx = intercept[IllegalStateException] {
      Quality.dpReleaseSuiteZcdpPartitioned(Seq(
        mech("x1", "g1", Seq("a", "b"), 1L).copy(release =
          () => { invoked = true; df }),
        mech("x2", "g2", Seq("b", "c"), 2L).copy(release =
          () => { invoked = true; df })),
        budget, deltaPow10 = 6)
    }
    assert(clashEx.getMessage.contains("NOT a partition") &&
      clashEx.getMessage.contains("'b'"))
    assert(!invoked)
    // a grouped release without a declared domain refuses
    val noDom = intercept[IllegalArgumentException] {
      Quality.dpReleaseSuiteZcdpPartitioned(Seq(
        Quality.DpDeclaredRelease("r1", 100000L, () => df, None,
          Some("g"), None)),
        budget, deltaPow10 = 6)
    }
    assert(noDom.getMessage.contains("without declaring"))
    // determinism: the ledger is a pure function of (data, seeds)
    val again = Quality.dpReleaseSuiteZcdpPartitioned(
        releases, budget, deltaPow10 = 6)
      .as[(Int, String, Option[String], Long, Long, Long, Long,
        Long, Long, Int, Long, Long, Long, Option[Long])]
      .collect().sortBy(_._1)
    assert(again.toSeq === got.toSeq)
  }

  test("dpCountReleaseFamilyOverDomain + batched suites (r17): the " +
      "data-driven single plan is row-identical to the per-release " +
      "mechanisms and both batched ledgers equal their generic " +
      "parents cell for cell") {
    val df = Seq(("a", 1), ("b", 1), ("b", 2), ("c", 1), ("d", 9))
      .toDF("k", "n")
    def dom(ks: String*) = ks.toDF("k")
    val specs = Seq(
      ("g1_w1", Seq("a"), 11L), ("g1_w2", Seq("a"), 12L),
      ("g2_w1", Seq("b", "c"), 21L), ("g2_w2", Seq("b", "c"), 22L))
    // 1. the combined frame reproduces every per-release mechanism
    //    output exactly (keys AND released counts)
    val fam = Quality.dpCountReleaseFamilyOverDomain(df, "k", specs,
      epsilon = 0.5, clampK = 80)
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3)).sortBy(_._1).toSeq).toMap
    specs.foreach { case (name, ks, seed) =>
      val want = Quality.dpCountReleaseOverDomain(df,
        ks.toDF("k"), Seq("k"), epsilon = 0.5, seed = seed,
        clampK = 80)
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      assert(fam(name) === want, s"family vs mechanism: $name")
    }
    // 2. batched partitioned ledger == generic partitioned ledger
    def mech(name: String, g: String, ks: Seq[String], seed: Long) =
      Quality.DpDeclaredRelease(name, 500000L,
        () => Quality.dpCountReleaseOverDomain(df, ks.toDF("k"),
          Seq("k"), epsilon = 0.5, seed = seed, clampK = 80),
        Some("released_count"), Some(g),
        Some(() => dom(ks: _*)), Some("k"))
    val releases = specs.map { case (n, ks, s) =>
      mech(n, n.take(2), ks, s) }
    val combined = Quality.dpCountReleaseFamilyOverDomain(df, "k",
      specs, epsilon = 0.5, clampK = 80)
    val budget = 5000000L
    val generic = Quality.dpReleaseSuiteZcdpPartitioned(
      releases, budget, deltaPow10 = 6).collect().toSeq
    val batched = Quality.dpReleaseSuiteZcdpPartitionedBatched(
      releases, budget, deltaPow10 = 6, combined).collect().toSeq
    assert(batched === generic, "partitioned: batched vs generic")
    // 3. batched zcdp-sequential ledger == generic (Σρ = 500000 µρ
    //    converts to ≈5.76M µε at δ=1e-6, so the sequential budget
    //    must sit above that)
    val seqRel = releases.map(_.copy(parallelGroup = None,
      domain = None, keyCol = None))
    val seqBudget = 6000000L
    val genericSeq = Quality.dpReleaseSuiteZcdp(
      seqRel, seqBudget, deltaPow10 = 6).collect().toSeq
    val batchedSeq = Quality.dpReleaseSuiteZcdpBatched(
      seqRel, seqBudget, deltaPow10 = 6, combined).collect().toSeq
    assert(batchedSeq === genericSeq, "zcdp: batched vs generic")
    // 4. refusal semantics survive the batching: a combined frame
    //    whose rows escape a release's declared domain refuses with
    //    the count-only message (no key values disclosed), and the
    //    budget refusal stays data-free (thunks never invoked)
    val escaped = combined.unionAll(
      Seq(("g1_w1", "zz", 7L)).toDF("__rel", "k", "released_count"))
    val escEx = intercept[IllegalStateException] {
      Quality.dpReleaseSuiteZcdpPartitionedBatched(
        releases, budget, deltaPow10 = 6, escaped)
    }
    assert(escEx.getMessage.contains("1 key(s) OUTSIDE") &&
      !escEx.getMessage.contains("zz"))
    var invoked = false
    intercept[IllegalStateException] {
      Quality.dpReleaseSuiteZcdpPartitionedBatched(
        releases.map(r => r.copy(release =
          () => { invoked = true; df })),
        budgetMicro = 1000L, deltaPow10 = 6, combined)
    }
    assert(!invoked)
    // 5. a combined frame missing a declared release refuses
    val missing = combined.where(col("__rel") =!= "g2_w2")
    intercept[IllegalArgumentException] {
      Quality.dpReleaseSuiteZcdpPartitionedBatched(
        releases, budget, deltaPow10 = 6, missing)
    }
  }

  test("dpCountReleaseFamilyOverDomain refuses a keyCol that " +
      "collides with one of its internal column names") {
    val specs = Seq(("r1", Seq("a"), 1L))
    Seq("__rel", "__seed", "__c", "__n", "__u", "__noise", "__lo",
        "__hi").foreach { k =>
      val df = Seq(("a", 1)).toDF(k, "n")
      val ex = intercept[IllegalArgumentException] {
        Quality.dpCountReleaseFamilyOverDomain(df, k, specs,
          epsilon = 0.5, clampK = 80)
      }
      assert(ex.getMessage.contains(s"keyCol '$k' collides"), k)
    }
  }

  test("batched release suites refuse a combined frame carrying a " +
      "__rel tag that names no declared release") {
    val df = Seq(("a", 1), ("b", 1)).toDF("k", "n")
    val specs = Seq(("w1", Seq("a"), 11L), ("w2", Seq("b"), 12L))
    val releases = specs.map { case (n, ks, s) =>
      Quality.DpDeclaredRelease(n, 500000L,
        () => Quality.dpCountReleaseOverDomain(df, ks.toDF("k"),
          Seq("k"), epsilon = 0.5, seed = s, clampK = 80),
        Some("released_count"), Some(n), Some(() => ks.toDF("k")),
        Some("k"))
    }
    val combined = Quality.dpCountReleaseFamilyOverDomain(df, "k",
      specs, epsilon = 0.5, clampK = 80)
    // The declared family passes; a misspelled tag is refused.
    Quality.dpReleaseSuiteZcdpPartitionedBatched(
      releases, 5000000L, deltaPow10 = 6, combined).collect()
    val stray = combined.unionAll(
      Seq(("w3", "a", 1L)).toDF("__rel", "k", "released_count"))
    val ex = intercept[IllegalArgumentException] {
      Quality.dpReleaseSuiteZcdpPartitionedBatched(
        releases, 5000000L, deltaPow10 = 6, stray)
    }
    assert(ex.getMessage.contains("naming no declared release: w3"))
  }

  test("release-suite containment refusal (r15 ADVICE): a " +
      "mis-declared mechanism refuses with the COUNT of escaped " +
      "keys only — the key values are private data and never " +
      "surface in the exception") {
    val df = Seq(("a", 1), ("b", 1), ("c", 1)).toDF("k", "n")
    def dom(ks: String*) = ks.toDF("k")
    def escapee(seed: Long) =
      Quality.DpDeclaredRelease("escapee", 500000L,
        () => Quality.dpCountRelease(df, Seq("k"), 0.5, seed),
        Some("released_count"), Some("g"),
        Some(() => dom("a")), Some("k"))
    def other(g: String) =
      Quality.DpDeclaredRelease("other", 500000L,
        () => Quality.dpCountReleaseOverDomain(df, dom("z"),
          Seq("k"), 0.5, 2L),
        Some("released_count"), Some(g),
        Some(() => dom("z")), Some("k"))
    // Q17 basic-parallel ledger (groups must be disjoint → both in
    // 'g' is fine here: domains {a} and {z} ARE disjoint; the
    // escapee's MECHANISM releases {a,b,c})
    val mis17 = intercept[IllegalStateException] {
      Quality.dpReleaseSuitePartitioned(
        Seq(escapee(1L), other("g")), budgetMicro = 2000000L)
    }
    assert(mis17.getMessage.contains("OUTSIDE its declared domain"))
    assert(mis17.getMessage.contains("escapee"))
    assert(mis17.getMessage.contains("2 key(s)"),
      s"count-only disclosure: ${mis17.getMessage}")
    assert(!mis17.getMessage.contains("'b'") &&
      !mis17.getMessage.contains("'c'"),
      "escaped key VALUES must never surface in the refusal")
    // the Q21 zCDP-parallel ledger applies the same probe
    val mis21 = intercept[IllegalStateException] {
      Quality.dpReleaseSuiteZcdpPartitioned(
        Seq(escapee(1L), other("h")), budgetMicro = 20000000L,
        deltaPow10 = 6)
    }
    assert(mis21.getMessage.contains("2 key(s)") &&
      !mis21.getMessage.contains("'b'"))
  }

  test("dpReleaseSuitePartitioned (r16 ADVICE): each release thunk " +
      "invokes exactly once — probe and ledger audit share one " +
      "cached output") {
    val df = Seq(("a", 1), ("b", 1)).toDF("k", "n")
    def dom(ks: String*) = ks.toDF("k")
    var n1 = 0
    var n2 = 0
    val rows = Quality.dpReleaseSuitePartitioned(Seq(
        Quality.DpDeclaredRelease("s_ab", 800000L,
          () => { n1 += 1
            Quality.dpCountReleaseOverDomain(df, dom("a", "b"),
              Seq("k"), 0.8, 1L, 50) },
          Some("released_count"), Some("g"),
          Some(() => dom("a", "b")), Some("k")),
        Quality.DpDeclaredRelease("plain", 500000L,
          () => { n2 += 1; df })),
        budgetMicro = 2000000L)
      .collect()
    assert(rows.length === 2)
    assert(n1 === 1, s"keyed grouped thunk ran $n1 times")
    assert(n2 === 1, s"plain thunk ran $n2 times")
  }

  test("zcdpRhoMicro (r15 ADVICE): ε beyond the Long-safe bound " +
      "refuses instead of overflowing into a negative ρ that " +
      "shrinks the ledger") {
    // the bound itself is exact: ρ(3000ε) = 9e18/2e6
    assert(Quality.zcdpRhoMicro(3000000000L) === 4500000000000L)
    val ex = intercept[IllegalArgumentException] {
      Quality.zcdpRhoMicro(3000000001L)
    }
    assert(ex.getMessage.contains("overflow"))
    // the guard fires through the suite surface, before any thunk
    var invoked = false
    intercept[IllegalArgumentException] {
      Quality.dpReleaseSuiteZcdp(Seq(
        Quality.DpDeclaredRelease("huge", 4000000000L,
          () => { invoked = true
            Seq(("a", 1)).toDF("k", "n") })),
        budgetMicro = Long.MaxValue, deltaPow10 = 6)
    }
    assert(!invoked)
  }

  test("dpUserSumReleaseOverDomain (Q22): a whale user with huge " +
      "values moves the release by exactly userCap·clampHi; " +
      "uncapped user-level sum claims refuse; deterministic") {
    val dom = Seq("a").toDF("k")
    // 10 users x 10 rows, value 2.5 → clamped contribution 2 each
    val base = spark.range(100).select(
      col("id").as("rid"), (col("id") % 10).as("user"),
      lit("a").as("k"), lit(2.5).as("v"))
    def release(df: org.apache.spark.sql.DataFrame) =
      Quality.dpUserSumReleaseOverDomain(df, "user", "rid", dom,
          Seq("k"), col("v"), epsilon = 0.8, seed = 7L,
          userCap = Some(3), clampHi = 5L, clampK = 400)
        .as[(String, Long)].collect().head._2
    val r1 = release(base)
    // a user with 10^5 rows of value 10^9 joins; same (key, seed) ⇒
    // identical noise, so the delta IS the capped+clamped bound
    val whale = spark.range(100000L).select(
      (col("id") + 1000L).as("rid"), lit(9999L).as("user"),
      lit("a").as("k"), lit(1.0e9).as("v"))
    val r2 = release(base.unionByName(whale))
    assert(r2 - r1 === 15L,
      s"whale must move the sum by exactly cap·clamp: $r1 -> $r2")
    assert(release(base) === r1)
    val ex = intercept[IllegalStateException] {
      Quality.dpUserSumReleaseOverDomain(base, "user", "rid", dom,
        Seq("k"), col("v"), epsilon = 0.8, seed = 7L,
        userCap = None, clampHi = 5L, clampK = 400)
    }
    assert(ex.getMessage.contains("no per-user contribution bound"))
  }
}
