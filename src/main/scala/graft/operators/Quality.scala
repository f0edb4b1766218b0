package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Barrier.BarrierOps

/**
 * One-pass data-quality auditing: every declared constraint
 * contributes one aggregate metric, all metrics ride a SINGLE
 * scan+aggregate, and the report explodes back out as one row per
 * constraint (name, observed metric, pass verdict).
 *
 * The single-pass shape is the scale point: a naive validator runs
 * one job per rule — at 100 TB, five rules means five full scans.
 * Here N rules cost one partial-aggregated pass regardless of N;
 * only referential-integrity checks add work (one anti-join each),
 * because "key has no parent" is not expressible as a scalar
 * aggregate of the child table alone.
 */
object Quality {

  /** One constraint: an aggregate `metric` (cast to double) and a
    * verdict predicate over the aggregated value. */
  final case class Check(name: String, metric: Column, pass: Column => Column)

  /** Fraction of NULL values in `c` (pass: exactly none). */
  def notNull(c: String): Check = Check(
    s"not_null:$c",
    avg(when(col(c).isNull, 1.0).otherwise(0.0)),
    _ === 0.0)

  /** Duplicate-key count: non-null keys minus distinct keys (pass:
    * zero). NULL keys are the not-null check's business — counting
    * them here would flag a nullable-but-duplicate-free column. */
  def unique(c: String): Check = Check(
    s"unique:$c",
    count(col(c)) - countDistinct(col(c)),
    _ === 0.0)

  /** Rows with `c` outside [lo, hi] (pass: zero). NULLs are the
    * not-null check's business, not a range violation. */
  def inRange(c: String, lo: Double, hi: Double): Check = Check(
    s"range:$c[$lo,$hi]",
    sum(when(col(c) < lo || col(c) > hi, 1L).otherwise(0L)),
    _ === 0.0)

  /** Dataset is non-empty (metric: row count). */
  def minRows(atLeast: Long): Check = Check(
    s"min_rows:$atLeast",
    count(lit(1)),
    _ >= atLeast.toDouble)

  /** All declared checks over one scan of `df`. */
  def audit(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "need at least one check")
    val metrics = checks.zipWithIndex.map { case (c, i) =>
      c.metric.cast("double").as(s"__m$i")
    }
    val report = checks.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c.name).as("check_name"),
        round(col(s"__m$i"), 6).as("metric"),
        c.pass(col(s"__m$i")).as("ok"))
    }
    df.agg(metrics.head, metrics.tail: _*)
      .select(explode(array(report: _*)).as("r"))
      .select("r.*")
  }

  /**
   * Distribution drift between two snapshots of the same column:
   * per-bucket Population Stability Index contributions,
   * `(p − q)·ln(p/q)` over fixed-width buckets of [lo, hi). Out-of-
   * range values clamp into the edge buckets; NULLs are excluded
   * (they are the not-null check's business, like the rest of this
   * family). `eps` floors every share below it — primarily the
   * empty-bucket case, so the log stays finite; pick eps below
   * 1/snapshot-rows if tiny REAL shares must not be inflated. An
   * empty snapshot contributes share 0.0 (floored to eps) in every
   * bucket — deterministic "maximal drift" rather than NULL/NaN
   * division noise. Total PSI is the sum of `psi_contrib`; > 0.2 is
   * the conventional "investigate" line.
   *
   * Scale: one partial-aggregated bucket count per side — the bucket
   * expression is pure projection, the joined frame is nBuckets rows,
   * and the share normalizer is a window over that already-aggregated
   * frame. Fixed buckets (not quantiles) keep the two sides
   * independent: snapshots can be bucketed on different days/clusters
   * and compared later from their counts alone.
   */
  def driftPsi(
      baseline: DataFrame,
      current: DataFrame,
      c: String,
      lo: Double,
      hi: Double,
      nBuckets: Int,
      eps: Double = 1e-6): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 buckets, got $nBuckets")
    require(hi > lo, s"empty bucket range [$lo, $hi)")
    val width = (hi - lo) / nBuckets
    def bucketed(df: DataFrame, n: String) =
      df.where(col(c).isNotNull) // NULL must not masquerade as bucket 0
        .select(
          least(
            greatest(floor((col(c) - lo) / width), lit(0.0)),
            lit((nBuckets - 1).toDouble)).cast("int").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(n))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(0))
    val joined = bucketed(baseline, "n_base")
      .join(bucketed(current, "n_cur"), Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur"))
    // Empty-side totals would divide 0/0 (NULL here, NaN in plain SQL
    // engines — divergent); pin the share to 0.0 so the eps floor
    // takes over deterministically.
    def share(n: String): Column = {
      val tot = sum(n).over(w).cast("double")
      greatest(
        when(tot > 0.0, col(n).cast("double") / tot).otherwise(lit(0.0)),
        lit(eps))
    }
    val p = share("n_base")
    val q = share("n_cur")
    joined
      .select(
        col("bucket"), col("n_base"), col("n_cur"),
        round((p - q) * log(p / q), 6).as("psi_contrib"))
      .orderBy("bucket")
  }

  /** Referential integrity `child.key → parent.pkey` as one report
    * row: anti-join counts orphans (pass: zero). The parent side is
    * deduplicated to its key column before the join. */
  def refIntegrity(
      child: DataFrame, key: String,
      parent: DataFrame, pkey: String): DataFrame = {
    val orphans = child.select(col(key))
      .join(parent.select(col(pkey).as(key)).distinct(), Seq(key), "left_anti")
      .agg(count(lit(1)).cast("double").as("__m"))
    orphans.select(
      lit(s"fk:$key").as("check_name"),
      round(col("__m"), 6).as("metric"),
      (col("__m") === 0.0).as("ok"))
  }

  /**
   * Benford first-digit audit: observed leading-digit distribution
   * of `valCol` against Benford's law (P(d) = log10(1 + 1/d)) — the
   * classic fabricated-data / unit-mix screen for financial and
   * telemetry magnitudes spanning several orders. Reported per digit
   * with the chi-square contribution, so the total statistic is one
   * SUM away.
   *
   * The leading digit is extracted from the value's string form
   * (first [1-9]) — robust to scientific notation and sub-1 values,
   * and engine-portable, unlike log10-floor arithmetic whose edge
   * cases (powers of ten, last-ulp) flip digits.
   *
   * Scale: one partial-aggregated digit count (9 groups); the total
   * rides a one-row cross join.
   */
  def benfordAudit(df: DataFrame, valCol: String): DataFrame = {
    val digit = regexp_extract(col(valCol).cast("string"), "[1-9]", 0)
    val counts = df
      .where(col(valCol).isNotNull)
      .select(digit.as("__d"))
      .where(col("__d") =!= "")
      .groupBy(col("__d").cast("int").as("digit"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__t"))
    val obs = col("n").cast("double") / col("__t")
    val exp = log10(lit(1.0) + lit(1.0) / col("digit"))
    // (obs-exp)² as an explicit product, not pow(x, 2): pow's
    // correct rounding is not guaranteed identical across engines.
    counts.crossJoin(total)
      .select(
        col("digit"), col("n"),
        round(obs, 6).as("obs_share"),
        round(exp, 6).as("exp_share"),
        round((obs - exp) * (obs - exp) / exp, 6).as("chi2_contrib"))
  }

  /**
   * Winsorization audit: per key, the nearest-rank [loQ, hiQ]
   * percentile edges of `valCol` and how many rows each side would
   * clip — the "what does capping this feature actually do" report
   * run before committing to a clip. Edges are NEAREST-RANK (the
   * value at row ceil(q·n) of the per-key value order): pure integer
   * rank arithmetic on raw data values, so edges are identical on
   * every engine — interpolated percentiles differ in last-ulp float
   * edges and flip boundary rows (the q108 lesson).
   *
   * Scale: ONE key exchange serves the rank window and the count;
   * the edge extraction is a filter at two ranks per key; clip
   * counting joins the |keys|-row edge table back broadcast. Per-key
   * state is that key's sort — the exact-percentile price (swap in
   * approx_percentile edges at 100 TB, the q57→q62 trade).
   */
  def winsorizeAudit(
      df: DataFrame, keyCol: String, valCol: String,
      loQ: Double = 0.01, hiQ: Double = 0.99): DataFrame = {
    require(loQ > 0.0 && hiQ < 1.0 && loQ < hiQ,
      s"need 0 < loQ < hiQ < 1, got ($loQ, $hiQ)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(valCol))
    val wAll = Window.partitionBy(col(keyCol))
    val ranked = df
      .where(col(valCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    val edges = ranked
      .where(col("__rn") === greatest(lit(1L), ceil(lit(loQ) * col("__n"))) ||
        col("__rn") === least(col("__n"), ceil(lit(hiQ) * col("__n"))))
      .groupBy(col(keyCol))
      .agg(min(col(valCol)).as("lo"), max(col(valCol)).as("hi"))
    df.where(col(valCol).isNotNull)
      .join(broadcast(edges), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        min(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        sum(when(col(valCol) < col("lo"), 1L).otherwise(0L))
          .as("n_clip_lo"),
        sum(when(col(valCol) > col("hi"), 1L).otherwise(0L))
          .as("n_clip_hi"))
  }

  /**
   * Exact WEIGHTED per-key quantiles (lower weighted nearest-rank):
   * for each requested q, the smallest value whose cumulative weight
   * (in value order) reaches q × total weight — the volume-weighted
   * percentile ("the price below which half the QUANTITY trades",
   * token-weighted length percentiles, byte-weighted latencies).
   *
   * Determinism contract: weights quantize to DECIMAL(28,6) then to
   * integral MICRO-UNITS (×10⁶, exact by construction), and each q
   * becomes an exact rational num/10^s, so the threshold test runs in
   * multiplied integer form over longs (cumw·den ≥ total·num) — no
   * float cumulative sums, no division, no interpolated edges; the
   * picked value is always an actual data value and ties in the value
   * order cannot change it (equal values cross the threshold at the
   * same value regardless of their internal order). Long arithmetic
   * is the hot-path point: the compare is two 64-bit multiplies per
   * row, not DECIMAL(38) ones (~order-of-magnitude per-row cost).
   * Bound (ANSI throws, never corrupts): per-key weight mass must
   * stay below 2⁶³ / 10^(6+s) ≈ 9.2·10^(12−s) units, s = the widest
   * quantile's decimal scale — pre-normalize heavier masses.
   *
   * Scale: the cumulative window, the per-key total, and the final
   * aggregate all share ONE key exchange; per-key state is that key's
   * row span (the exact-quantile price, as in [[winsorizeAudit]] —
   * swap in approx_percentile upstream when ±ε is acceptable at
   * 100 TB). Rows with NULL or non-positive weight carry no mass and
   * are excluded (the Sampling guard).
   *
   * Output: long format — (keyCol, quantile, value, total_weight).
   */
  /**
   * EXACT distributed AUC (Mann–Whitney rank-sum form) of a score
   * against a boolean label — the discrimination audit run before
   * trusting a quality/toxicity classifier as a corpus filter.
   *
   * Pair form: AUC = (#{s⁺>s⁻} + ½·#{s⁺=s⁻}) / (n⁺·n⁻), computed
   * WITHOUT pair enumeration or a corpus-wide ranking window: rows
   * group by distinct score, one ordered pass over the score-level
   * frame accumulates 2·np(s)·cumNeg(s) + np(s)·nn(s) (doubling makes
   * the tie half-credit INTEGRAL — the whole numerator is an exact
   * DECIMAL(38,0) count), and the single final division is one IEEE
   * op, round(6) at the boundary.
   *
   * Scale contract: the score is quantized IN-OPERATOR to the 6dp
   * grid (round(…,6) — identity for the text-quality family's
   * already-6dp outputs) so distinct scores are grid-bounded
   * (≤10⁶+1 per unit of score range) and the ordered pass is the
   * bounded-domain window exception, never a corpus-cardinality
   * sort, even when a caller hands raw doubles (round-10 hardening —
   * previously the bounded-domain contract was honor-system). The
   * corpus itself is touched by ONE partial-aggregated groupBy.
   * Ties are therefore ties ON THE 6dp GRID: two raw scores within
   * 5e-7 earn half-credit, the price of the bound.
   *
   * Output: one row (n_pos, n_neg, auc); auc NULL when either class
   * is empty.
   */
  def aucScore(
      df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val g = df
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(round(col(scoreCol).cast("double"), 6).as("__s"))
      .agg(
        sum(when(col(labelCol), 1L).otherwise(0L)).as("__np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__nn"))
    // Bounded-domain window (see scaladoc): strictly-below negatives.
    val w = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("__cumneg", coalesce(sum(col("__nn")).over(w), lit(0L)))
      .agg(
        sum(col("__np")).as("n_pos"),
        sum(col("__nn")).as("n_neg"),
        sum(col("__np").cast(dec) * 2 * col("__cumneg") +
          col("__np").cast(dec) * col("__nn")).as("__s2"))
      .select(
        col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("__s2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  /**
   * E43: isotonic (PAV) score calibration — the monotone
   * recalibration MAP that fixes what [[calibrationReport]]
   * diagnoses: the non-decreasing step function minimizing squared
   * error against the labels (Zadrozny & Elkan 2002; the standard
   * probability-calibration fit for quality/toxicity classifier
   * scores before they gate a corpus). Computed via the EXACT
   * minimax closed form of pool-adjacent-violators,
   * fit(i) = max_{j≤i} min_{k≥i} wavg(labels over bins j..k) —
   * no data-dependent iteration, so the whole fit replays in DuckDB
   * as prefix sums + one bounded pair join + two windows.
   *
   * Scale contract: scores quantize to the `scale`-dp grid FIRST
   * (identity for the text-quality family's already-gridded
   * outputs), so the one corpus-sized shuffle is the bin aggregate
   * and everything after runs on the ≤(10^scale·range+1)-row bin
   * table — the pair join is B² rows (≤ ~10⁴ at scale=2, ≤ 10⁶ at
   * scale=3; keep scale ≤ 3), and the global windows ride bounded
   * tables (the q65/q74 contract).
   *
   * ENGINE-EXACT: every pooled average is ONE IEEE division of
   * exact integer prefix-sum differences — identical doubles on
   * both engines — and min/max over identical value sets are
   * order-free; outputs round(6), non-negative.
   *
   * Output: (score_bin, n, pos_rate, calibrated), ascending bins;
   * `calibrated` is non-decreasing by construction.
   */
  def isotonicCalibration(
      df: DataFrame, scoreCol: String, labelCol: String,
      scale: Int = 2): DataFrame = {
    require(scale >= 0 && scale <= 3,
      s"scale must be in [0,3] (the pair join is (10^scale·range+1)² " +
        s"rows — ~10⁶ at scale=3 on a unit range), got $scale")
    import org.apache.spark.sql.expressions.Window
    val bins = df
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(round(col(scoreCol), scale).as("score_bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"))
    val wOrd = Window.orderBy(col("score_bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = bins.select(
      col("score_bin"), col("n"), col("n_pos"),
      sum(col("n")).over(wOrd).as("cn"),
      sum(col("n_pos")).over(wOrd).as("cp"),
      row_number().over(Window.orderBy(col("score_bin"))).as("i"))
    val preB = Barrier.barrier(pre) // bounded bin table, 3 consumers
    val pj = preB.select(col("i").as("j"),
      (col("cn") - col("n")).as("cn0"),
      (col("cp") - col("n_pos")).as("cp0"))
    val pk = preB.select(col("i").as("k"),
      col("cn").as("cnk"), col("cp").as("cpk"))
    val pairs = pj.join(pk, col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cpk") - col("cp0")).cast("double")
          / (col("cnk") - col("cn0")).cast("double")).as("a"))
    val wSuff = Window.partitionBy(col("j")).orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fit = pairs
      .withColumn("__minA", min(col("a")).over(wSuff))
      .groupBy(col("k").as("i"))
      .agg(max(col("__minA")).as("__fit"))
    preB.join(fit, Seq("i"))
      .select(col("score_bin"), col("n"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"),
        round(col("__fit"), 6).as("calibrated"))
      .orderBy("score_bin")
  }

  /**
   * Calibration report for a [0,1] score against a boolean label —
   * the reliability-diagram table (per-bin confidence vs observed
   * rate) whose n-weighted `gap` sum is the expected calibration
   * error. The audit that says whether a quality score's 0.9 MEANS
   * 90% — run before using scores as sampling weights or thresholds.
   *
   * Determinism: bin = min(floor(score·bins), bins−1) on the
   * quantized score; per-bin score mass accumulates in exact
   * DECIMAL(18,6) (scores are 6dp — the cast is exact), means/rates
   * are single IEEE divisions of exact operands, and `gap` subtracts
   * the RAW (unrounded) operands before its own round(6).
   *
   * Scale: one partial-aggregated groupBy over ≤ `bins` groups.
   * Output: (bin, n, n_pos, mean_score, pos_rate, gap), bin
   * ascending; empty bins are absent (their ECE weight is zero).
   */
  def calibrationReport(
      df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    import org.apache.spark.sql.types.DecimalType
    val bin = least(floor(col(scoreCol) * bins), lit(bins - 1L)).cast("int")
    val meanRaw = col("__ssum").cast("double") / col("n")
    val rateRaw = col("n_pos").cast("double") / col("n")
    df.where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(bin.as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"),
        sum(col(scoreCol).cast(DecimalType(18, 6))).as("__ssum"))
      .select(
        col("bin"), col("n"), col("n_pos"),
        round(meanRaw, 6).as("mean_score"),
        round(rateRaw, 6).as("pos_rate"),
        round(abs(meanRaw - rateRaw), 6).as("gap"))
      .orderBy("bin")
  }

  /**
   * EXACT two-sample Kolmogorov–Smirnov statistic — the
   * distribution-drift test with no binning dial to argue about
   * (unlike [[driftPsi]], whose bucket scheme is a modelling choice):
   * D = max over the value grid of |F_a − F_b|, the largest vertical
   * gap between the two empirical CDFs. Run it when "did this
   * numeric column's distribution move between corpora / snapshots /
   * segments?" must be answered with a single defensible number.
   *
   * Exactness: per-bin sample counts accumulate as longs; inclusive
   * cumulative counts ride one ordered pass; the gap is evaluated as
   * the INTEGRAL cross-product |cumA·nB − cumB·nA| in DECIMAL(38,0)
   * (common denominator nA·nB cleared — no per-row IEEE division to
   * order-drift), and the single final division is one IEEE op,
   * round(6) at the boundary. D ≥ 0, so the signed-zero hazard is
   * structurally absent. `ks_at` is the SMALLEST grid value attaining
   * the max (min-over-ties — total, engine-deterministic).
   *
   * Scale contract: `binCol` must be a QUANTIZED value — e.g. the
   * floor-grid `floor(value·10^s)` primitive (floor of identical
   * doubles has zero rounding-rule hazard cross-engine, unlike
   * round-to-decimal) — so distinct bins are range-bounded and the
   * ordered pass is the bounded-domain window exception, never a
   * corpus-cardinality sort. The corpus itself is touched by ONE
   * partial-aggregated groupBy; the three window frames and the
   * final aggregate all reuse the same bin-level sort.
   *
   * Output: one row (n_a, n_b, ks_stat, ks_at); ks_stat/ks_at NULL
   * when either sample is empty. Rows with NULL bin or NULL sample
   * membership carry no mass and are excluded.
   */
  def ksTest(df: DataFrame, binCol: Column, aCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val g = df
      .where(binCol.isNotNull && aCol.isNotNull)
      .groupBy(binCol.as("__b"))
      .agg(
        sum(when(aCol, 1L).otherwise(0L)).as("__na"),
        sum(when(aCol, 0L).otherwise(1L)).as("__nb"))
    // Bounded-domain windows (see scaladoc): one shared bin sort.
    val wc = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.select(
        col("__b"),
        sum(col("__na")).over(wc).as("__ca"),
        sum(col("__nb")).over(wc).as("__cb"),
        sum(col("__na")).over(wt).as("__ta"),
        sum(col("__nb")).over(wt).as("__tb"))
      .withColumn("__d",
        abs(col("__ca").cast(dec) * col("__tb") -
          col("__cb").cast(dec) * col("__ta")))
      .withColumn("__dmax", max(col("__d")).over(wt))
      .agg(
        max(col("__ta")).as("n_a"),
        max(col("__tb")).as("n_b"),
        max(col("__d")).as("__dm"),
        min(when(col("__d") === col("__dmax"), col("__b"))).as("__at"))
      .select(
        col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("__dm").cast("double") /
            (col("n_a").cast("double") * col("n_b")), 6)).as("ks_stat"),
        when(col("n_a") > 0 && col("n_b") > 0, col("__at")).as("ks_at"))
  }

  /**
   * Two-proportion z-test (pooled) — the A/B experiment readout:
   * does variant A's conversion rate differ from B's by more than
   * sampling noise explains? z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a+1/n_b))
   * with p̂ the pooled rate; |z| ≥ 1.96 is the conventional 5% line.
   *
   * Exactness: the four counts are integral from ONE
   * partial-aggregated pass; rates and z are a FIXED IEEE op chain
   * over those exact counts, round(6) at the boundary. z is SIGNED —
   * the oracle must carry the `+ 0.0` signed-zero normalization
   * (this side never emits −0.0; Spark's Round strips it).
   * Degenerate cases (empty variant, pooled rate 0 or 1 ⇒ zero
   * standard error) yield NULL z, never NaN/Inf.
   *
   * Scale: one scan, one agg row — nothing else.
   */
  /**
   * Two-sided normal p-value from a z statistic via the
   * Abramowitz–Stegun 7.1.26 erfc polynomial (|ε| < 1.5·10⁻⁷ —
   * orders of magnitude inside the 6dp reporting grid):
   * p = erfc(|z|/√2) = t·(a₁ + t·(a₂ + t·(a₃ + t·(a₄ + t·a₅))))·e^(−x²),
   * t = 1/(1 + 0.3275911·x). A FIXED IEEE chain over literal
   * coefficients — abs, one division, a Horner ladder, one exp —
   * written in the same operation order in the oracle SQL, so both
   * engines produce the identical double before the final
   * `round(…, 6)`. (Neither Spark SQL nor DuckDB v1.0 exposes
   * erf/erfc natively; this is the standard portable evaluation.)
   */
  def normalTwoSidedP(z: Column): Column = {
    val x = abs(z) / sqrt(lit(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = t * (lit(0.254829592) + t * (lit(-0.284496736) +
      t * (lit(1.421413741) + t * (lit(-1.453152027) +
        t * lit(1.061405429)))))
    poly * exp(-(x * x))
  }

  /**
   * Per-segment two-proportion z-test — [[abTest]] grouped by key
   * columns, plus the [[normalTwoSidedP]] p-value: the input a
   * multiple-testing correction ([[bhFdr]]) consumes. Segments where
   * the test is undefined (an empty arm, zero pooled variance) emit
   * NULL z and NULL p — "untestable", distinct from p = 1.
   * One partial-aggregated key shuffle for any segment count.
   */
  def abTestBy(
      df: DataFrame, keyCols: Seq[String],
      aCol: Column, convCol: Column): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val agg = df
      .where(aCol.isNotNull && convCol.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(when(aCol, 1L).otherwise(0L)).as("n_a"),
        sum(when(!aCol, 1L).otherwise(0L)).as("n_b"),
        sum(when(aCol && convCol, 1L).otherwise(0L)).as("conv_a"),
        sum(when(!aCol && convCol, 1L).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    val z = when(col("n_a") > 0 && col("n_b") > 0 && se > 0,
      round((pa - pb) / se, 6))
    agg.select(
      keyCols.map(col) ++ Seq(
        col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        z.as("z"),
        // p evaluates on the 6dp-ROUNDED z (both engines hold that
        // exact decimal), so the erfc chain starts from identical
        // doubles.
        round(normalTwoSidedP(z), 6).as("p_value")): _*)
  }

  /**
   * Per-segment Mann–Whitney U (Wilcoxon rank-sum) test — the
   * DISTRIBUTION-FREE arm comparison the E20/E24 proportion tests
   * can't give: does arm A's metric stochastically dominate arm B's,
   * with no normality assumption and full robustness to outliers
   * (a 1000× metric spike moves a mean test arbitrarily, a rank test
   * by one rank)? The standard readout for skewed metrics — latency,
   * spend, session length.
   *
   * Exact rank statistics without a per-row window: rows first
   * reduce to per-(segment, value) tie groups (one partial-agg
   * shuffle — the only corpus-sized exchange); each group's MIN rank
   * is a running count over the per-segment DISTINCT-VALUE table
   * (bounded, Zipf-sublinear), and a tie group's rank-sum
   * contribution is t_a·(2·minrank + t − 1)/2 — kept as the DOUBLED
   * integer so every accumulation is exact (DECIMAL(38,0), partition-
   * order-free; per-row terms need group counts < ~2×10⁹, ANSI
   * overflow = fail fast). Tie-corrected normal approximation:
   * U_a = R_a − n_a(n_a+1)/2, μ = n_a·n_b/2,
   * σ² = n_a·n_b/12 · (n+1 − Σ(t³−t)/(n(n−1))),
   * z = (U_a − μ)/σ — the large-sample form (arms ≥ ~20 rows; at
   * 100 TB every segment is), finishing in ONE fixed IEEE chain with
   * round(6) at the boundary (z is SIGNED — oracle side carries the
   * `+ 0.0` signed-zero normalization). Degenerate segments (an
   * empty arm, or every value tied ⇒ σ = 0) emit NULL z and p —
   * "untestable", distinct from p = 1. The p-value evaluates on the
   * 6dp-rounded z (the [[abTestBy]] contract).
   *
   * Output: (keys..., n_a, n_b, u_a, z, p_value).
   */
  def mannWhitneyBy(
      df: DataFrame, keyCols: Seq[String],
      aCol: Column, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "need at least one key column")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ties = df
      .where(aCol.isNotNull && valueCol.isNotNull)
      .groupBy(keyCols.map(col) :+ valueCol.cast("double").as("__v"): _*)
      .agg(
        count(lit(1)).as("__t"),
        sum(when(aCol, 1L).otherwise(0L)).as("__ta"))
    val wRank = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = ties.withColumn("__mr",
      coalesce(sum(col("__t")).over(wRank), lit(0L)) + lit(1L))
    val td = col("__t").cast(dec)
    val agg = ranked
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(col("__ta")).as("n_a"),
        sum(col("__t") - col("__ta")).as("n_b"),
        // doubled rank sum of arm A: Σ t_a·(2·minrank + t − 1)
        sum((col("__ta") * (lit(2L) * col("__mr") + col("__t") - lit(1L)))
          .cast(dec)).as("__r2a"),
        // tie-correction mass Σ(t³ − t), decimal so a fully-tied
        // 10⁹-row group still sums exactly
        sum(td * td * td - td).as("__ts"))
    val n = col("n_a") + col("n_b")
    // 2·U_a and 2·(U_a − μ), exact integers until the final halving
    val u2 = col("__r2a") - (col("n_a") * (col("n_a") + lit(1L))).cast(dec)
    val num2 = u2 - (col("n_a") * col("n_b")).cast(dec)
    val sigma = sqrt(
      (col("n_a") * col("n_b")).cast("double") *
        ((n + lit(1L)).cast("double") -
          col("__ts").cast("double") / (n * (n - lit(1L))).cast("double"))
        / lit(12.0))
    val z = when(col("n_a") > 0 && col("n_b") > 0 && sigma > 0,
      round(num2.cast("double") / lit(2.0) / sigma, 6))
    agg.select(
      keyCols.map(col) ++ Seq(
        col("n_a"), col("n_b"),
        (u2.cast("double") / lit(2.0)).as("u_a"),
        z.as("z"),
        round(normalTwoSidedP(z), 6).as("p_value")): _*)
  }

  /**
   * E29: difference-in-differences estimator, per segment — the
   * quasi-experimental readout when assignment wasn't randomized
   * (a rollout hit region A but not B): the treatment effect is the
   * POST−PRE change in the treated arm MINUS the same change in the
   * control arm, which cancels both time-invariant arm differences
   * and arm-invariant time shocks (the parallel-trends assumption —
   * state it, test it upstream with q216's seasonal baselines).
   *
   * DiD = (ȳ_A,post − ȳ_A,pre) − (ȳ_B,post − ȳ_B,pre), with the
   * four cell means from EXACT decimal sums (DECIMAL(18,6) values —
   * partition-order-free) and the large-sample SE from per-cell
   * sample variances, √Σ s²_c/n_c. Every variance clamps at 0
   * (float cancellation on a near-constant cell must not NaN the
   * sqrt), the finish is one fixed IEEE chain, round(6) at the
   * boundary; did/z are SIGNED (oracle carries `+ 0.0`). A segment
   * with an EMPTY cell emits NULL did (the estimator is undefined);
   * any cell with n < 2 emits NULL se/z (no variance estimate).
   *
   * Scale: one partial-aggregated key shuffle — the four cells ride
   * conditional aggregates in a single pass, never four scans.
   *
   * Output: (keys..., n_a_pre, n_a_post, n_b_pre, n_b_post,
   * did, se, z).
   */
  def diffInDiff(
      df: DataFrame, keyCols: Seq[String],
      aCol: Column, postCol: Column, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(keyCols.nonEmpty, "need at least one key column")
    val dec = DecimalType(18, 6)
    val v = valueCol.cast(dec)
    val cells = Seq(
      ("a_pre", aCol && !postCol), ("a_post", aCol && postCol),
      ("b_pre", !aCol && !postCol), ("b_post", !aCol && postCol))
    val aggs = cells.flatMap { case (name, cond) => Seq(
      count(when(cond, lit(1))).as(s"n_$name"),
      sum(when(cond, v)).as(s"__s_$name"),
      sum(when(cond, v * v)).as(s"__ss_$name"))
    }
    val agg = df
      .where(aCol.isNotNull && postCol.isNotNull && valueCol.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    def m(name: String): Column =
      col(s"__s_$name").cast("double") / col(s"n_$name").cast("double")
    // per-cell sample variance over n-1, clamped at 0
    def sv(name: String): Column = greatest(
      (col(s"__ss_$name").cast("double") -
        col(s"n_$name").cast("double") * m(name) * m(name)) /
        (col(s"n_$name").cast("double") - lit(1.0)),
      lit(0.0))
    val allPresent = cells.map(c => col(s"n_${c._1}") > 0).reduce(_ && _)
    val allVar = cells.map(c => col(s"n_${c._1}") > 1).reduce(_ && _)
    val did = (m("a_post") - m("a_pre")) - (m("b_post") - m("b_pre"))
    val se = sqrt(
      sv("a_post") / col("n_a_post").cast("double") +
      sv("a_pre") / col("n_a_pre").cast("double") +
      sv("b_post") / col("n_b_post").cast("double") +
      sv("b_pre") / col("n_b_pre").cast("double"))
    agg.select(
      keyCols.map(col) ++ Seq(
        col("n_a_pre"), col("n_a_post"), col("n_b_pre"), col("n_b_post"),
        when(allPresent, round(did, 6)).as("did"),
        when(allVar, round(se, 6)).as("se"),
        when(allVar && se > 0, round(did / se, 6)).as("z")): _*)
  }

  /**
   * E32: intraclass correlation + design effect, per segment — the
   * cluster-randomization design number: when treatment assigns by
   * CLUSTER (user, session, region) but analysis counts rows,
   * within-cluster correlation shrinks the effective sample size by
   * the design effect 1 + (m̄−1)·ICC — an ICC of just 0.05 with
   * 100-row clusters means a 6× power loss the row-level test
   * silently overstates. ICC here is the one-way ANOVA estimator
   * (MSB − MSW) / (MSB + (n₀−1)·MSW) with n₀ the ANOVA cluster-size
   * correction (N − Σn_j²/N)/(K−1).
   *
   * Float parity: per-cluster sums are exact DECIMAL(18,6); the
   * rational per-cluster terms S_j²/n_j round(12) into
   * DECIMAL(38,12) before pooling (q155 discipline); Σn_j² exact in
   * DECIMAL(38,0); the ANOVA finish is one fixed IEEE chain,
   * round(6), ICC SIGNED (oracle carries `+ 0.0` — small negative
   * ICCs are legitimate outputs of this estimator). Degenerate
   * segments (K < 2, N = K, zero within variance, or a zero
   * denominator) emit NULL.
   *
   * Scale: one (segment, cluster) partial-aggregated shuffle, then
   * one segment aggregate over cluster rows.
   *
   * Output: (keys..., n_rows, n_clusters, icc, deff).
   */
  def iccDesignEffect(
      df: DataFrame, keyCols: Seq[String], clusterCol: String,
      valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(keyCols.nonEmpty, "need at least one key column")
    val dec6 = DecimalType(18, 6)
    val dec12 = DecimalType(38, 12)
    val dec0 = DecimalType(38, 0)
    val perCluster = df
      .where(valueCol.isNotNull)
      .groupBy((keyCols :+ clusterCol).map(col): _*)
      .agg(
        count(lit(1)).as("__nj"),
        sum(valueCol.cast(dec6)).as("__sj"),
        sum(valueCol.cast(dec6) * valueCol.cast(dec6)).as("__ssj"))
    val sjd = col("__sj").cast("double")
    val perSeg = perCluster
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(col("__nj")).as("n_rows"),
        count(lit(1)).as("n_clusters"),
        sum(col("__ssj")).as("__ss"),
        sum(col("__sj")).as("__s"),
        sum(round(sjd * sjd / col("__nj").cast("double"), 12)
          .cast(dec12)).as("__tb"),
        sum((col("__nj") * col("__nj")).cast(dec0)).as("__nj2"))
    val nD = col("n_rows").cast("double")
    val kD = col("n_clusters").cast("double")
    val sD = col("__s").cast("double")
    val tbD = col("__tb").cast("double")
    val ssb = tbD - sD * sD / nD
    val ssw = col("__ss").cast("double") - tbD
    val msb = ssb / (kD - lit(1.0))
    val msw = ssw / (nD - kD)
    val n0 = (nD - col("__nj2").cast("double") / nD) / (kD - lit(1.0))
    val den = msb + (n0 - lit(1.0)) * msw
    val icc = (msb - msw) / den
    val mbar = nD / kD
    val ok = col("n_clusters") > 1 && col("n_rows") > col("n_clusters") &&
      msw > 0 && den > 0
    perSeg.select(
      keyCols.map(col) ++ Seq(
        col("n_rows"), col("n_clusters"),
        when(ok, round(icc, 6)).as("icc"),
        when(ok, round(lit(1.0) + (mbar - lit(1.0)) * icc, 6))
          .as("deff")): _*)
  }

  /**
   * E33: minimum-detectable-effect readout for CONTINUOUS metrics —
   * [[mdeReadout]]'s t-test sibling: given each segment's observed
   * arm sizes and pooled within-arm variance, the smallest mean
   * lift a two-sample test detects at significance α and power 1−β
   * is (z_{α/2}+z_β)·√(s²(1/n_a+1/n_b)). Revenue/latency/engagement
   * experiments are designed on THIS number, not the proportion one.
   *
   * Pooled variance from exact DECIMAL(18,6) per-arm sums —
   * s² = (SS_a − n_a·m_a² + SS_b − n_b·m_b²)/(n−2), each arm's
   * component clamped at 0 (near-constant-arm float cancellation);
   * z quantiles are caller literals ADDED on both engines (the E26
   * one-ulp rule); fixed IEEE finish, round(6); means SIGNED (oracle
   * `+ 0.0`), mde non-negative. Segments without both arms, without
   * residual dof (n ≤ 2), or with zero pooled variance emit NULL
   * mde; `mde_rel` additionally needs a positive control mean.
   *
   * Scale: one partial-aggregated key shuffle, all cells in one pass.
   *
   * Output: (keys..., n_a, n_b, mean_a, mean_b, sd_pooled, mde_abs,
   * mde_rel).
   */
  def mdeContinuous(
      df: DataFrame, keyCols: Seq[String], aCol: Column,
      valueCol: Column,
      zAlpha: Double = 1.959964, zPower: Double = 0.841621): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(keyCols.nonEmpty, "need at least one key column")
    val dec = DecimalType(18, 6)
    val v = valueCol.cast(dec)
    val agg = df
      .where(aCol.isNotNull && valueCol.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(when(aCol, 1L).otherwise(0L)).as("n_a"),
        sum(when(!aCol, 1L).otherwise(0L)).as("n_b"),
        sum(when(aCol, v)).as("__sa"),
        sum(when(!aCol, v)).as("__sb"),
        sum(when(aCol, v * v)).as("__ssa"),
        sum(when(!aCol, v * v)).as("__ssb"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val ma = col("__sa").cast("double") / naD
    val mb = col("__sb").cast("double") / nbD
    val s2 = (greatest(col("__ssa").cast("double") - naD * ma * ma,
        lit(0.0)) +
      greatest(col("__ssb").cast("double") - nbD * mb * mb, lit(0.0))) /
      (naD + nbD - lit(2.0))
    val mde = (lit(zAlpha) + lit(zPower)) *
      sqrt(s2 * (lit(1.0) / naD + lit(1.0) / nbD))
    val ok = col("n_a") > 0 && col("n_b") > 0 &&
      col("n_a") + col("n_b") > 2 && s2 > 0
    agg.select(
      keyCols.map(col) ++ Seq(
        col("n_a"), col("n_b"),
        when(col("n_a") > 0, round(ma, 6)).as("mean_a"),
        when(col("n_b") > 0, round(mb, 6)).as("mean_b"),
        when(ok, round(sqrt(s2), 6)).as("sd_pooled"),
        when(ok, round(mde, 6)).as("mde_abs"),
        when(ok && mb > 0, round(mde / mb, 6)).as("mde_rel")): _*)
  }

  /**
   * E35: group-sequential experiment monitor — the peeking-safe
   * answer to "can we stop the experiment yet?": an analyst checking
   * a fixed-α z-test daily inflates false positives severalfold; the
   * group-sequential discipline spends α across K looks instead,
   * with the O'Brien–Fleming-shaped boundary z_k = c·√(K/k) — brutal
   * early (look 1 of 5 needs |z| ≥ c·√5), relaxing to c at the final
   * look. `cFinal` is the published design constant for the planned
   * K (2.04 for K=5 at overall α≈0.05); looks are the distinct
   * `dayCol` values in order, cells accumulate across looks, and
   * `crossed` marks every look whose |z| clears its boundary — the
   * first true row is the earliest defensible stop.
   *
   * Float parity: cumulative cells are exact integer window sums
   * over the bounded day table (the q90 global-window contract); z
   * is the [[abTestBy]] pooled chain on those integers; the
   * crossing compare runs on the ROUND(6) z and boundary (both
   * engines hold those decimals exactly — an unrounded compare
   * could flip on the last ulp at the boundary). z signed
   * (oracle `+ 0.0`); undefined looks (empty arm / zero variance so
   * far) emit NULL z and NULL crossed.
   *
   * Output: (day, look, n_a, n_b, conv_a, conv_b, z, threshold,
   * crossed) — one row per look, cells cumulative.
   */
  def sequentialMonitor(
      df: DataFrame, dayCol: Column, aCol: Column, convCol: Column,
      cFinal: Double = 2.04): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = df
      .where(dayCol.isNotNull && aCol.isNotNull && convCol.isNotNull)
      .groupBy(dayCol.as("day"))
      .agg(
        sum(when(aCol, 1L).otherwise(0L)).as("__na"),
        sum(when(!aCol, 1L).otherwise(0L)).as("__nb"),
        sum(when(aCol && convCol, 1L).otherwise(0L)).as("__ca"),
        sum(when(!aCol && convCol, 1L).otherwise(0L)).as("__cb"))
    val wRun = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = daily.select(
      col("day"),
      row_number().over(Window.orderBy(col("day"))).as("look"),
      count(lit(1)).over(wAll).as("__kk"),
      sum(col("__na")).over(wRun).as("n_a"),
      sum(col("__nb")).over(wRun).as("n_b"),
      sum(col("__ca")).over(wRun).as("conv_a"),
      sum(col("__cb")).over(wRun).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    val z = when(col("n_a") > 0 && col("n_b") > 0 && se > 0,
      round((pa - pb) / se, 6))
    val thr = round(lit(cFinal) *
      sqrt(col("__kk").cast("double") / col("look").cast("double")), 6)
    cum.select(
      col("day"), col("look"), col("n_a"), col("n_b"),
      col("conv_a"), col("conv_b"),
      z.as("z"), thr.as("threshold"),
      (abs(z) >= thr).as("crossed"))
  }

  /**
   * E34: fixed-effect meta-analytic pooling + I² heterogeneity — the
   * "37 segments each measured an effect, what's THE effect?"
   * readout: inverse-variance pooling d̄ = Σwᵢdᵢ/Σwᵢ (wᵢ = 1/SEᵢ²)
   * weights precise segments up, SE(d̄) = √(1/Σw), and Cochran's
   * Q = Σwᵢdᵢ² − (Σwᵢdᵢ)²/Σw with I² = max(0, (Q−(k−1))/Q) says
   * whether the segments even agree — I² ≳ 75% means pooling hides
   * real heterogeneity and the per-segment table IS the answer.
   * Composes over any (effect, se) table: [[diffInDiff]], [[abTestBy]]
   * deltas, per-cohort lifts.
   *
   * Float parity: inputs are the upstream operators' round(6)
   * decimals (both engines hold them exactly); the per-segment terms
   * w, w·d, w·d² round(12) into DECIMAL(38,12) before pooling (q155
   * discipline); one fixed IEEE finish, round(6); pooled effect
   * SIGNED (oracle `+ 0.0`), Q/I²/SE non-negative. Fewer than 2
   * usable segments emits NULL everything except k.
   *
   * Scale: one one-row aggregate over the segment table.
   *
   * Output: one row — (k, pooled, se_pooled, q_stat, i2).
   */
  def metaPool(
      df: DataFrame, effectCol: Column, seCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 12)
    val usable = df.where(
      effectCol.isNotNull && seCol.isNotNull && seCol > 0)
    val w = lit(1.0) / (seCol.cast("double") * seCol.cast("double"))
    val d = effectCol.cast("double")
    val agg = usable.agg(
      count(lit(1)).as("k"),
      sum(round(w, 12).cast(dec)).as("__sw"),
      sum(round(w * d, 12).cast(dec)).as("__swd"),
      sum(round(w * d * d, 12).cast(dec)).as("__swd2"))
    val swD = col("__sw").cast("double")
    val pooled = col("__swd").cast("double") / swD
    val q = col("__swd2").cast("double") -
      col("__swd").cast("double") * col("__swd").cast("double") / swD
    val ok = col("k") >= 2 && swD > 0
    agg.select(
      col("k"),
      when(ok, round(pooled, 6)).as("pooled"),
      when(ok, round(sqrt(lit(1.0) / swD), 6)).as("se_pooled"),
      when(ok, round(greatest(q, lit(0.0)), 6)).as("q_stat"),
      when(ok && q > 0,
        round(greatest((q - (col("k") - lit(1L)).cast("double")) / q,
          lit(0.0)), 6)).as("i2"))
  }

  /**
   * E31: Mantel–Haenszel pooled odds ratio — the CONFOUNDER-ADJUSTED
   * effect readout: when arm assignment correlates with a stratifier
   * (platform, geography, day), the raw pooled odds ratio is
   * Simpson's-paradox bait; MH pools the per-stratum 2×2 tables as
   * OR = Σᵢ(aᵢdᵢ/nᵢ) / Σᵢ(bᵢcᵢ/nᵢ) — each stratum compares only
   * against itself, weighted by its evidence. The epidemiology
   * workhorse, and the right first answer to "the per-segment tests
   * disagree with the pooled test".
   *
   * Float parity: per-stratum terms ad/n and bc/n round(12) into
   * DECIMAL(38,12) before summing (q155 discipline — cell products
   * need counts < ~3×10⁹, ANSI overflow = fail fast); the finish is
   * one division + one ln, round(6); OR > 0 but ln OR is SIGNED
   * (oracle carries `+ 0.0`). Degenerate pools (either term sum 0 —
   * an arm×outcome cell empty in EVERY stratum) emit NULL.
   *
   * Scale: one partial-aggregated stratum shuffle, then ONE global
   * one-row aggregate over |strata| rows.
   *
   * Output: one row — (n_strata, n_rows, sum_ad, sum_bc, or_mh,
   * ln_or).
   */
  def mantelHaenszel(
      df: DataFrame, strataCols: Seq[String],
      aCol: Column, convCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(strataCols.nonEmpty, "need at least one stratum column")
    val dec = DecimalType(38, 12)
    val cells = df
      .where(aCol.isNotNull && convCol.isNotNull)
      .groupBy(strataCols.map(col): _*)
      .agg(
        count(lit(1)).as("__n"),
        sum(when(aCol && convCol, 1L).otherwise(0L)).as("__a"),
        sum(when(aCol && !convCol, 1L).otherwise(0L)).as("__b"),
        sum(when(!aCol && convCol, 1L).otherwise(0L)).as("__c"),
        sum(when(!aCol && !convCol, 1L).otherwise(0L)).as("__d"))
    val nD = col("__n").cast("double")
    val pooled = cells.agg(
      count(lit(1)).as("n_strata"),
      sum(col("__n")).as("n_rows"),
      sum(round((col("__a") * col("__d")).cast("double") / nD, 12)
        .cast(dec)).as("__sad"),
      sum(round((col("__b") * col("__c")).cast("double") / nD, 12)
        .cast(dec)).as("__sbc"))
    val orMh = col("__sad").cast("double") / col("__sbc").cast("double")
    pooled.select(
      col("n_strata"), col("n_rows"),
      round(col("__sad").cast("double"), 6).as("sum_ad"),
      round(col("__sbc").cast("double"), 6).as("sum_bc"),
      when(col("__sad") > 0 && col("__sbc") > 0,
        round(orMh, 6)).as("or_mh"),
      when(col("__sad") > 0 && col("__sbc") > 0,
        round(log(orMh), 6)).as("ln_or"))
  }

  /**
   * E30: empirical-Bayes rate shrinkage (beta-binomial, method of
   * moments) — the fix for "rank keys by conversion rate" being
   * dominated by 1/1 flukes: every key's raw rate c/n shrinks toward
   * the population prior, weighted by its own evidence —
   * shrunk = (c + α)/(n + α + β) — so a 1/1 lands near the prior
   * mean while a 900/1000 barely moves. α, β fit by moment-matching
   * the ACROSS-KEY rate distribution: with μ, v the mean and
   * population variance of raw rates, α+β = μ(1−μ)/v − 1, α = μ·(α+β)
   * (Robbins' classic recipe — no iteration, one aggregate).
   *
   * Float parity: per-key raw rates round(12) into DECIMAL(38,12)
   * before the prior sums (q155 discipline — exact,
   * partition-order-free); the prior scalars are ONE cross-joined
   * row (house one-row-frame contract) and every downstream op is a
   * fixed IEEE chain, round(6) at the boundary (all outputs
   * non-negative — no signed-zero exposure). Degenerate priors
   * (v = 0: all keys identical; or v ≥ μ(1−μ): more dispersed than
   * binomial sampling noise allows, i.e. α+β ≤ 0) emit NULL
   * alpha/beta/shrunk — shrinkage is then undefined and raw rates
   * stand.
   *
   * Scale: one partial-aggregated key shuffle + one one-row prior
   * aggregate; nothing corpus-sized crosses the driver.
   *
   * Output: (keys..., n, c, raw, alpha, beta, shrunk).
   */
  def ebShrinkRates(
      df: DataFrame, keyCols: Seq[String], convCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(keyCols.nonEmpty, "need at least one key column")
    val dec = DecimalType(38, 12)
    val perKey = df
      .where(convCol.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when(convCol, 1L).otherwise(0L)).as("c"))
    val raw = col("c").cast("double") / col("n").cast("double")
    val rated = perKey
      .withColumn("__r12", round(raw, 12).cast(dec))
      .withColumn("__rr12", round(raw * raw, 12).cast(dec))
    val prior = rated.agg(
      count(lit(1)).as("__k"),
      sum(col("__r12")).as("__sr"),
      sum(col("__rr12")).as("__srr"))
    val mu = col("__sr").cast("double") / col("__k").cast("double")
    val v = col("__srr").cast("double") / col("__k").cast("double") -
      mu * mu
    val m = mu * (lit(1.0) - mu) / v - lit(1.0)
    val valid = v > 0 && m > 0
    val shrunk = (col("c").cast("double") + mu * m) /
      (col("n").cast("double") + m)
    rated
      .crossJoin(broadcast(prior))
      .select(
        keyCols.map(col) ++ Seq(
          col("n"), col("c"),
          round(raw, 6).as("raw"),
          when(valid, round(mu * m, 6)).as("alpha"),
          when(valid, round((lit(1.0) - mu) * m, 6)).as("beta"),
          when(valid, round(shrunk, 6)).as("shrunk")): _*)
  }

  /**
   * T51: cross-group quantile normalization — score harmonization
   * for corpora scored by DIFFERENT scorers: a per-source quality
   * score is only rankable within its source (one scorer is strict,
   * another lenient), so mixing sources by raw score silently
   * over-samples the lenient one. The fix is the classic quantile
   * map: replace each row's value with the GLOBAL distribution's
   * value at the row's within-group quantile position — after it,
   * every group's score distribution is the global one, and
   * cross-source thresholds/mixtures mean the same thing everywhere
   * (the bioinformatics quantile-normalization trick, applied to
   * curation scores).
   *
   * Exactness: the within-group position maps to the global sorted
   * index by pure INTEGER rational arithmetic — pos = (r−1)(N−1),
   * k = pos div (n_g−1), frac = (pos mod (n_g−1))/(n_g−1) — so the
   * type-7 interpolation index is engine-exact (never a float-fuzzed
   * floor; per-row products need r·N < 2⁶³, ANSI overflow = fail
   * fast), and the finish v_k + frac·(v_{k+1} − v_k) is one fixed
   * IEEE chain over raw parquet doubles. The boundary is the
   * FLOOR-GRID (floor(x·10⁶)/10⁶, the q163/q195 primitive), not
   * round(6): interpolating coarse-decimal values by small-rational
   * fractions lands exactly on x.xxxxxx5 ties often enough that the
   * engines' differing round-half rules diverge (two cells in 10⁴
   * rows at sf0.01) — floor of identical doubles has zero
   * rounding-rule hazard.
   *
   * Scale: the global sorted index rides [[Ordinals.withOrdinals]]
   * (two-level bucketed ordinals — no single-partition window), the
   * within-group rank is one key-partitioned window, and the map is
   * two ordinal equi-joins. NULL values drop before ranking;
   * singleton groups (n_g = 1) have no within-group distribution and
   * emit NULL norm — "unmappable", not the global median.
   *
   * Output: (idCol, groupCol, value, norm).
   */
  def quantileNormalize(
      df: DataFrame, idCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .where(col(valueCol).isNotNull)
      .select(col(idCol), col(groupCol),
        col(valueCol).cast("double").as("__v"))
    // global 1-based sorted index; consumed by BOTH interpolation
    // joins -> barrier once (q127 shared-subtree rule)
    val gl = Ordinals.withOrdinals(
        base.select(col("__v"), col(idCol)),
        Seq(col("__v"), col(idCol)), "__gr")
      .select(col("__gr"), col("__v").as("__gv"))
      .barriered
    val nRow = gl.agg(max(col("__gr")).as("__nn"))
    val wRank = Window.partitionBy(col(groupCol))
      .orderBy(col("__v"), col(idCol))
    val wGrp = Window.partitionBy(col(groupCol))
    val pos = base
      .withColumn("__r", row_number().over(wRank).cast("long"))
      .withColumn("__ng", count(lit(1)).over(wGrp))
      .crossJoin(broadcast(nRow))
      .withColumn("__pn", (col("__r") - 1L) * (col("__nn") - 1L))
      .withColumn("__dn", col("__ng") - 1L)
      .withColumn("__k",
        when(col("__dn") > 0, expr("__pn div __dn")))
      .withColumn("__pm",
        when(col("__dn") > 0, col("__pn") % col("__dn")))
    pos
      .join(gl.select(col("__gr").as("__gra"), col("__gv").as("__va")),
        col("__gra") === col("__k") + 1L, "left")
      .join(gl.select(col("__gr").as("__grb"), col("__gv").as("__vb")),
        col("__grb") === col("__k") + 2L, "left")
      .select(
        col(idCol), col(groupCol), col("__v").as("value"),
        when(col("__dn") > 0,
          floor((col("__va") +
            (col("__pm").cast("double") / col("__dn").cast("double")) *
              (coalesce(col("__vb"), col("__va")) - col("__va"))) *
            lit(1000000.0)).cast("double") / lit(1000000.0))
          .as("norm"))
  }

  /**
   * Minimum-detectable-effect (power) readout — the experiment
   * DESIGN half of the E20/E24/E25 family, run BEFORE launch: given
   * each segment's observed arm sizes and pooled baseline rate, the
   * smallest absolute (and relative) lift a two-proportion test can
   * detect at significance α and power 1−β is
   * (z_{α/2}+z_{β})·√(p(1−p)(1/n_a+1/n_b)). Segments below a
   * relative-MDE bar are where an experiment CAN'T conclude —
   * knowing that before launch is the point.
   *
   * z quantiles arrive as caller literals (defaults: 1.959964 /
   * 0.841621, the standard 5%-two-sided / 80%-power pair) — both
   * engines hold the identical doubles, and the finish is one fixed
   * IEEE chain over exact integer counts, round(6) at the boundary.
   * One partial-aggregated key shuffle; degenerate segments (empty
   * arm, rate 0 or 1) emit NULL.
   */
  def mdeReadout(
      df: DataFrame, keyCols: Seq[String], aCol: Column, convCol: Column,
      zAlpha: Double = 1.959964, zPower: Double = 0.841621): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val agg = df
      .where(aCol.isNotNull && convCol.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(when(aCol, 1L).otherwise(0L)).as("n_a"),
        sum(when(!aCol, 1L).otherwise(0L)).as("n_b"),
        sum(when(convCol, 1L).otherwise(0L)).as("n_conv"))
    val p = col("n_conv").cast("double") / (col("n_a") + col("n_b"))
    val mde = lit(zAlpha + zPower) * sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    val testable = col("n_a") > 0 && col("n_b") > 0 &&
      col("n_conv") > 0 && col("n_conv") < col("n_a") + col("n_b")
    agg.select(
      keyCols.map(col) ++ Seq(
        col("n_a"), col("n_b"),
        when(col("n_a") + col("n_b") > 0, round(p, 6)).as("base_rate"),
        when(testable, round(mde, 6)).as("mde_abs"),
        when(testable, round(mde / p, 6)).as("mde_rel")): _*)
  }

  /**
   * Benjamini–Hochberg FDR correction over a battery of p-values —
   * the step between "37 segments each at p < 0.05" and a claim:
   * controlling per-test α across m tests yields ~α·m false alarms,
   * so batteries report BH q-values (adjusted p: the smallest FDR at
   * which this test would still reject) and the step-up reject set.
   *
   * Exactness contract: p-values arrive 6dp-quantized (the
   * [[abTestBy]] output grid); everything after is INTEGER
   * arithmetic in micro-units — candidate q·10¹² = (p·10⁶ · m ·
   * 10⁶) div rank (long floor division, DuckDB `//` on BIGINTs), the
   * monotone envelope a reverse running min, the step-up boundary an
   * integer cross-multiply (p·10⁶·m·10³ ≤ rank·α‰·10⁶) — so ranks,
   * q-values, and verdicts are engine-exact with no float compare
   * anywhere. Overflow bound: p·10⁶ ≤ 10⁶ ⇒ the div numerator tops
   * out at m·10¹², safe for batteries to m ≈ 9·10⁵ (ANSI throws
   * beyond — fail fast, never corrupt).
   *
   * Scale contract: the frame is a TEST BATTERY (one row per
   * hypothesis), bounded by construction — segments × metrics, never
   * corpus rows — so the global rank windows are the q196
   * bounded-frame shape, not a corpus sort. NULL p rows (untestable
   * segments) are excluded from m and the ranking, matching R's
   * `p.adjust` NA handling.
   *
   * Output: (key, p_value, rank, q_value, rejected), rank ascending.
   */
  def bhFdr(
      df: DataFrame, keyCol: String, pCol: String,
      alphaPerMille: Int): DataFrame = {
    require(alphaPerMille >= 1 && alphaPerMille < 1000,
      s"alphaPerMille must be in [1, 1000), got $alphaPerMille")
    import org.apache.spark.sql.expressions.Window
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val base = df
      .where(col(pCol).isNotNull)
      .select(col(keyCol).as("key"),
        col(pCol).cast(dec6).as("__p"))
      .withColumn("__pu", (col("__p") * 1000000).cast("long"))
    val wRank = Window.orderBy(col("__pu"), col("key"))
    val wAll = Window.partitionBy(lit(1))
    val wRev = Window.orderBy(col("__rk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("__rk", row_number().over(wRank).cast("long"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("__vu", expr("(__pu * __m * 1000000) div __rk"))
      .withColumn("__qu",
        least(min(col("__vu")).over(wRev), lit(1000000000000L)))
      .withColumn("__rejrk",
        max(when(col("__pu") * col("__m") * lit(1000L) <=
          col("__rk") * lit(alphaPerMille.toLong) * lit(1000000L),
          col("__rk"))).over(wAll))
      .select(
        col("key"),
        col("__p").cast("double").as("p_value"),
        col("__rk").cast("int").as("rank"),
        round(col("__qu").cast("double") / lit(1.0e12), 6).as("q_value"),
        (col("__rk") <= coalesce(col("__rejrk"), lit(0L)))
          .as("rejected"))
  }

  /**
   * CUPED variance-reduced experiment readout (Deng et al., WSDM
   * 2013 — "Improving the sensitivity of online controlled
   * experiments by utilizing pre-experiment data"): the adjusted
   * metric Y − θ·(X − E[X]) with θ = cov(X,Y)/var(X) removes the
   * share of outcome variance predicted by each unit's PRE-period
   * covariate, shrinking the detectable effect size by
   * √(1−ρ²) — the single most used variance-reduction trick in
   * industrial A/B platforms (a ρ of 0.7 halves the required
   * sample).
   *
   * Input contract: one row per experimental unit with the arm flag
   * and X/Y already on the INTEGER MICRO-UNIT grid (floor(value·10⁶)
   * sums — the floor-grid primitive, zero rounding-rule hazard).
   * θ is computed POOLED across arms (the standard practice: the
   * covariate is pre-experiment, so pooling cannot leak treatment
   * signal into the adjustment).
   *
   * Exactness: all co-moments accumulate in exact DECIMAL(38,·)
   * from the integer inputs (products as decimal×decimal, never
   * long×long — a unit at ~2·10⁹ µ-units squares past 2⁶³); the
   * finish is ONE fixed IEEE chain (q118/q119 contract) mirrored
   * op-for-op in the oracle. θ and the µ² scale cancel, so only the
   * mean differences divide by 10⁶. Degenerate regimes (an empty
   * arm, constant X or Y) emit NULL readouts, never NaN.
   *
   * Scale: ONE partial-aggregated pass over the unit frame — the
   * unit collapse upstream already paid the only key exchange.
   *
   * Output (one row): n_units, n_a, n_b, theta, diff_raw,
   * diff_cuped, var_reduction (= ρ², the fraction of Y-variance the
   * covariate removes).
   */
  def cupedReadout(
      units: DataFrame, armCol: Column,
      xMicroCol: Column, yMicroCol: Column): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val x = xMicroCol.cast(d18)
    val y = yMicroCol.cast(d18)
    val agg = units
      .where(armCol.isNotNull && xMicroCol.isNotNull &&
        yMicroCol.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast(d38).as("sx"),
        sum(y).cast(d38).as("sy"),
        sum(x * y).cast(d38).as("sxy"),
        sum(x * x).cast(d38).as("sxx"),
        sum(y * y).cast(d38).as("syy"),
        sum(when(armCol, 1L).otherwise(0L)).as("na"),
        sum(when(!armCol, 1L).otherwise(0L)).as("nb"),
        sum(when(armCol, x).otherwise(lit(0).cast(d18))).cast(d38)
          .as("sxa"),
        sum(when(!armCol, x).otherwise(lit(0).cast(d18))).cast(d38)
          .as("sxb"),
        sum(when(armCol, y).otherwise(lit(0).cast(d18))).cast(d38)
          .as("sya"),
        sum(when(!armCol, y).otherwise(lit(0).cast(d18))).cast(d38)
          .as("syb"))
    def d(c: String) = col(c).cast("double")
    val covn = d("n") * d("sxy") - d("sx") * d("sy")
    val varxn = d("n") * d("sxx") - d("sx") * d("sx")
    val varyn = d("n") * d("syy") - d("sy") * d("sy")
    val theta = covn / varxn
    val diffRaw = (d("sya") / d("na") - d("syb") / d("nb")) /
      lit(1000000.0)
    val dx = (d("sxa") / d("na") - d("sxb") / d("nb")) / lit(1000000.0)
    val testable = col("na") > 0 && col("nb") > 0 && col("n") > 1
    agg.select(
      col("n").as("n_units"), col("na").as("n_a"), col("nb").as("n_b"),
      when(testable && varxn > 0.0, round(theta, 6)).as("theta"),
      when(testable, round(diffRaw, 6)).as("diff_raw"),
      when(testable && varxn > 0.0,
        round(diffRaw - theta * dx, 6)).as("diff_cuped"),
      when(testable && varxn > 0.0 && varyn > 0.0,
        round((covn * covn) / (varxn * varyn), 6)).as("var_reduction"))
  }

  /**
   * E47 (r13): TWO-covariate regression-adjusted readout (the
   * CUPAC/ANCOVA generalization of [[cupedReadout]]): one
   * pre-period covariate rarely captures all predictable outcome
   * variance — spend AND activity, say, predict different slices —
   * and adjusting on both removes strictly more variance than
   * either alone (adding a covariate can only grow R² in-sample).
   * The adjusted metric is Y − θ₁(X₁−E[X₁]) − θ₂(X₂−E[X₂]) with
   * (θ₁, θ₂) the pooled OLS solution of the centered 2×2 normal
   * equations, solved in CLOSED FORM (Cramer):
   *
   *   S₁₁ = nΣx₁² − (Σx₁)², S₂₂, S₁₂, S₁y, S₂y analogous;
   *   det = S₁₁S₂₂ − S₁₂²  (≥ 0 by Cauchy–Schwarz; 0 ⟺ collinear);
   *   θ₁ = (S₂₂S₁y − S₁₂S₂y)/det, θ₂ = (S₁₁S₂y − S₁₂S₁y)/det;
   *   R² = (θ₁S₁y + θ₂S₂y)/Syy.
   *
   * Same contracts as CUPED: units on the INTEGER grid (micro-units
   * for values; raw counts are fine — θ absorbs scale), θ pooled
   * across arms (covariates are pre-experiment, pooling can't leak
   * treatment), all co-moments exact DECIMAL(38,0) from d18
   * products, the finish ONE fixed IEEE chain (q118/q119) mirrored
   * op-for-op in the oracle, outputs round(6) (diffs/θ signed —
   * oracle carries + 0.0). Degenerate regimes — an empty arm,
   * n ≤ 2, det ≤ 0 (a constant or collinear covariate pair: fall
   * back to single-covariate CUPED upstream), zero Y variance —
   * emit NULL adjusted outputs, never NaN.
   *
   * Scale: ONE partial-aggregated pass over the unit frame (12
   * sums), one row out. The unit collapse upstream pays the only
   * key exchange.
   *
   * Output (one row): n_units, n_a, n_b, theta1, theta2, diff_raw,
   * diff_adj, var_reduction.
   */
  def regressionAdjustedReadout(
      units: DataFrame, armCol: Column,
      x1MicroCol: Column, x2MicroCol: Column,
      yMicroCol: Column): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val x1 = x1MicroCol.cast(d18)
    val x2 = x2MicroCol.cast(d18)
    val y = yMicroCol.cast(d18)
    val agg = units
      .where(armCol.isNotNull && x1MicroCol.isNotNull &&
        x2MicroCol.isNotNull && yMicroCol.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(x1).cast(d38).as("s1"),
        sum(x2).cast(d38).as("s2"),
        sum(y).cast(d38).as("sy"),
        sum(x1 * x1).cast(d38).as("s11"),
        sum(x2 * x2).cast(d38).as("s22"),
        sum(x1 * x2).cast(d38).as("s12"),
        sum(x1 * y).cast(d38).as("s1y"),
        sum(x2 * y).cast(d38).as("s2y"),
        sum(y * y).cast(d38).as("syy"),
        sum(when(armCol, 1L).otherwise(0L)).as("na"),
        sum(when(!armCol, 1L).otherwise(0L)).as("nb"),
        sum(when(armCol, x1).otherwise(lit(0).cast(d18))).cast(d38)
          .as("s1a"),
        sum(when(!armCol, x1).otherwise(lit(0).cast(d18))).cast(d38)
          .as("s1b"),
        sum(when(armCol, x2).otherwise(lit(0).cast(d18))).cast(d38)
          .as("s2a"),
        sum(when(!armCol, x2).otherwise(lit(0).cast(d18))).cast(d38)
          .as("s2b"),
        sum(when(armCol, y).otherwise(lit(0).cast(d18))).cast(d38)
          .as("sya"),
        sum(when(!armCol, y).otherwise(lit(0).cast(d18))).cast(d38)
          .as("syb"))
    def d(c: String) = col(c).cast("double")
    val c11 = d("n") * d("s11") - d("s1") * d("s1")
    val c22 = d("n") * d("s22") - d("s2") * d("s2")
    val c12 = d("n") * d("s12") - d("s1") * d("s2")
    val c1y = d("n") * d("s1y") - d("s1") * d("sy")
    val c2y = d("n") * d("s2y") - d("s2") * d("sy")
    val cyy = d("n") * d("syy") - d("sy") * d("sy")
    val det = c11 * c22 - c12 * c12
    val th1 = (c22 * c1y - c12 * c2y) / det
    val th2 = (c11 * c2y - c12 * c1y) / det
    // Contrasts stay in the INPUT integer units until the single
    // display division: θ_j carries y-grid-per-xj-grid units, so
    // θ_j·dx_j is y-grid regardless of each covariate's own grid
    // (x₂ as a raw count is fine) — one /10⁶ at the end converts
    // the y-grid result to display units.
    val diffRawInt = d("sya") / d("na") - d("syb") / d("nb")
    val dx1Int = d("s1a") / d("na") - d("s1b") / d("nb")
    val dx2Int = d("s2a") / d("na") - d("s2b") / d("nb")
    val testable = col("na") > 0 && col("nb") > 0 && col("n") > 2
    val solvable = testable && det > 0.0
    agg.select(
      col("n").as("n_units"), col("na").as("n_a"), col("nb").as("n_b"),
      when(solvable, round(th1, 6)).as("theta1"),
      when(solvable, round(th2, 6)).as("theta2"),
      when(testable, round(diffRawInt / lit(1000000.0), 6))
        .as("diff_raw"),
      when(solvable,
        round((diffRawInt - th1 * dx1Int - th2 * dx2Int) /
          lit(1000000.0), 6)).as("diff_adj"),
      when(solvable && cyy > 0.0,
        round((th1 * c1y + th2 * c2y) / cyy, 6)).as("var_reduction"))
  }

  /**
   * E44 (r12): WINSORIZED mean A/B readout — the capped-metric test
   * every experimentation platform runs on heavy-tailed metrics
   * (spend, latency, tokens): a single whale in one arm moves a raw
   * mean test arbitrarily; clamping both arms at the POOLED
   * [loQ, hiQ] nearest-rank edges bounds any unit's influence while
   * keeping the metric on its original scale (unlike E27's rank
   * test, which discards magnitudes). Pooling the edges is the
   * standard practice — computing per-arm edges would let the
   * treatment shift its own clamp and bias the contrast.
   *
   * Input contract: `valueMicroCol` already on the INTEGER
   * MICRO-UNIT grid (floor(value·10⁶) — the house floor-grid
   * primitive), so edges are exact data values (nearest-rank at row
   * ceil(q·n) per key, the E10/q120 integer-rank recipe — never an
   * interpolated percentile) and the clamp is pure long arithmetic.
   *
   * Exactness: winsorized sums and squares accumulate in exact
   * DECIMAL(38,0) (products decimal×decimal); the finish is ONE
   * fixed IEEE chain per readout — Welch z =
   * (ma − mb)/√(va/na + vb/nb) with sample variances from the
   * n·Σx² − (Σx)² form, z round(6), p = [[normalTwoSidedP]] on the
   * rounded z (the [[abTestBy]] contract). z is SIGNED — the oracle
   * carries `+ 0.0`. Degenerate segments (an arm with < 2 rows, or
   * zero pooled winsorized variance) emit NULL z/p — untestable,
   * distinct from p = 1.
   *
   * Scale: ONE key exchange serves the rank window, the edge
   * extraction, and (after the edge join — one row per key, left to
   * AQE: broadcast when the key set is small, shuffled when a forced
   * broadcast would OOM the driver) the per-arm
   * aggregate; per-key state is that key's sort — the
   * exact-percentile price ([[winsorizeAudit]]'s documented trade;
   * swap approx edges in upstream at 100 TB when ±ε is acceptable).
   *
   * Output: (keys…, n_a, n_b, lo, hi, n_clip_lo, n_clip_hi,
   * mean_w_a, mean_w_b, diff_w, z, p_value) — lo/hi/means/diff in
   * display units (µ/10⁶, round 6).
   */
  def winsorizedMeanReadout(
      df: DataFrame, keyCols: Seq[String], armCol: Column,
      valueMicroCol: Column, loQ: Double = 0.01, hiQ: Double = 0.99)
      : DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(loQ > 0.0 && hiQ < 1.0 && loQ < hiQ,
      s"need 0 < loQ < hiQ < 1, got ($loQ, $hiQ)")
    import org.apache.spark.sql.expressions.Window
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .where(armCol.isNotNull && valueMicroCol.isNotNull)
      .select(keyCols.map(col) :+ armCol.as("__a") :+
        valueMicroCol.cast("long").as("__v"): _*)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__v"))
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    val edges = base
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .where(col("__rn") === greatest(lit(1L), ceil(lit(loQ) * col("__n"))) ||
        col("__rn") === least(col("__n"), ceil(lit(hiQ) * col("__n"))))
      .groupBy(keyCols.map(col): _*)
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val wv = least(greatest(col("__v"), col("__lo")), col("__hi"))
    // edges is one row per keyCols group; no broadcast hint — with a
    // low-cardinality key set AQE broadcasts it anyway, and a
    // high-cardinality key set must NOT be forced driver-side.
    val agg = base
      .join(edges, keyCols)
      .withColumn("__w", wv)
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("nb"),
        min(col("__lo")).as("lo_u"),
        max(col("__hi")).as("hi_u"),
        sum(when(col("__v") < col("__lo"), 1L).otherwise(0L))
          .as("n_clip_lo"),
        sum(when(col("__v") > col("__hi"), 1L).otherwise(0L))
          .as("n_clip_hi"),
        sum(when(col("__a"), col("__w").cast(d18))
          .otherwise(lit(0).cast(d18))).cast(d38).as("sa"),
        sum(when(!col("__a"), col("__w").cast(d18))
          .otherwise(lit(0).cast(d18))).cast(d38).as("sb"),
        sum(when(col("__a"), col("__w").cast(d18) * col("__w").cast(d18))
          .otherwise(lit(0).cast(d38))).cast(d38).as("qa"),
        sum(when(!col("__a"), col("__w").cast(d18) * col("__w").cast(d18))
          .otherwise(lit(0).cast(d38))).cast(d38).as("qb"))
    def d(c: String) = col(c).cast("double")
    val ma = d("sa") / d("na")
    val mb = d("sb") / d("nb")
    val van = d("na") * d("qa") - d("sa") * d("sa")
    val vbn = d("nb") * d("qb") - d("sb") * d("sb")
    val va = van / (d("na") * (d("na") - lit(1.0)))
    val vb = vbn / (d("nb") * (d("nb") - lit(1.0)))
    val se = sqrt(va / d("na") + vb / d("nb"))
    val z = when(col("na") >= 2L && col("nb") >= 2L && se > 0.0,
      round((ma - mb) / se, 6))
    agg.select(
      keyCols.map(col) ++ Seq(
        col("na").as("n_a"), col("nb").as("n_b"),
        round(col("lo_u").cast("double") / lit(1000000.0), 6).as("lo"),
        round(col("hi_u").cast("double") / lit(1000000.0), 6).as("hi"),
        col("n_clip_lo"), col("n_clip_hi"),
        when(col("na") > 0L, round(ma / lit(1000000.0), 6))
          .as("mean_w_a"),
        when(col("nb") > 0L, round(mb / lit(1000000.0), 6))
          .as("mean_w_b"),
        when(col("na") > 0L && col("nb") > 0L,
          round((ma - mb) / lit(1000000.0), 6)).as("diff_w"),
        z.as("z"),
        round(normalTwoSidedP(z), 6).as("p_value")): _*)
  }

  /**
   * E45 (r12): cluster-randomized experiment readout — "analyze at
   * the level you randomized" made an operator: when assignment is
   * by CLUSTER (geo, store, user-of-a-session-metric, switchback
   * window), row-level tests understate variance by the design
   * effect 1+(m̄−1)ρ (E32's ICC report is the WHY; this is the HOW).
   * Each cluster collapses to one observation (its exact metric
   * total on the micro grid), and the Welch z runs over CLUSTER
   * totals per arm — the standard, assumption-light cluster analysis
   * (equal-weight cluster means; at 100 TB every arm has thousands
   * of clusters, so the normal approximation is the easy part).
   *
   * Contamination guard: a cluster seen under BOTH arms violates
   * the design (a re-randomized user, a geo split mid-experiment) —
   * such clusters are EXCLUDED from the test and surfaced in
   * `n_contaminated` (silently averaging them would bias toward
   * null). Rows with NULL arm/cluster/value drop first.
   *
   * Exactness: per-cluster totals are exact DECIMAL(38,0) sums of
   * micro-unit longs; cluster-level Σm and Σm² accumulate in
   * DECIMAL(38,0); ONE fixed IEEE Welch finish (the E44 chain),
   * z round(6) SIGNED (+0.0 oracle rule), p on the rounded z.
   * Degenerate arms (<2 clusters, zero variance) → NULL z/p.
   *
   * Scale: ONE cluster-key exchange (the collapse), then a
   * bounded-row final aggregate. Output (one row): (n_clusters_a,
   * n_clusters_b, n_contaminated, mean_a, mean_b, diff, z, p_value)
   * — means/diff in display units (µ/10⁶).
   */
  def clusterRandomizedReadout(
      df: DataFrame, clusterCol: Column, armCol: Column,
      valueMicroCol: Column): DataFrame = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val perCluster = df
      .where(clusterCol.isNotNull && armCol.isNotNull &&
        valueMicroCol.isNotNull)
      .groupBy(clusterCol.as("__c"))
      .agg(
        countDistinct(armCol).as("__narm"),
        max(armCol).as("__a"),
        sum(valueMicroCol.cast(d18)).cast(d38).as("__m"))
    val agg = perCluster.agg(
      sum(when(col("__narm") > 1, 1L).otherwise(0L))
        .as("n_contaminated"),
      sum(when(col("__narm") === 1 && col("__a"), 1L).otherwise(0L))
        .as("na"),
      sum(when(col("__narm") === 1 && !col("__a"), 1L).otherwise(0L))
        .as("nb"),
      sum(when(col("__narm") === 1 && col("__a"), col("__m"))
        .otherwise(lit(0).cast(d38))).cast(d38).as("sa"),
      sum(when(col("__narm") === 1 && !col("__a"), col("__m"))
        .otherwise(lit(0).cast(d38))).cast(d38).as("sb"),
      sum(when(col("__narm") === 1 && col("__a"),
        col("__m") * col("__m")).otherwise(lit(0).cast(d38)))
        .cast(d38).as("qa"),
      sum(when(col("__narm") === 1 && !col("__a"),
        col("__m") * col("__m")).otherwise(lit(0).cast(d38)))
        .cast(d38).as("qb"))
    def d(c: String) = col(c).cast("double")
    val ma = d("sa") / d("na")
    val mb = d("sb") / d("nb")
    val va = (d("na") * d("qa") - d("sa") * d("sa")) /
      (d("na") * (d("na") - lit(1.0)))
    val vb = (d("nb") * d("qb") - d("sb") * d("sb")) /
      (d("nb") * (d("nb") - lit(1.0)))
    val se = sqrt(va / d("na") + vb / d("nb"))
    val z = when(col("na") >= 2L && col("nb") >= 2L && se > 0.0,
      round((ma - mb) / se, 6))
    agg.select(
      col("na").as("n_clusters_a"), col("nb").as("n_clusters_b"),
      col("n_contaminated"),
      when(col("na") > 0L, round(ma / lit(1000000.0), 6)).as("mean_a"),
      when(col("nb") > 0L, round(mb / lit(1000000.0), 6)).as("mean_b"),
      when(col("na") > 0L && col("nb") > 0L,
        round((ma - mb) / lit(1000000.0), 6)).as("diff"),
      z.as("z"),
      round(normalTwoSidedP(z), 6).as("p_value"))
  }

  /**
   * E46 (r12): POST-STRATIFIED experiment readout — the estimator an
   * imbalanced randomization gets corrected by (and the variance
   * reducer that needs no pre-period covariate, unlike E25's CUPED):
   * the arm contrast is computed WITHIN each stratum (platform,
   * country, the E32 clustering dimension) and combined with
   * population weights w_s = n_s/N, so a stratum over-represented in
   * one arm cannot masquerade as a treatment effect, and
   * between-strata variance drops out of the comparison entirely —
   * diff = Σ w_s·(ȳ_As − ȳ_Bs), var = Σ w_s²·(v_As/n_As + v_Bs/n_Bs)
   * (the standard stratified two-sample form).
   *
   * Strata where either arm has < 2 units carry no estimable
   * contrast — they are EXCLUDED (weights renormalize over the
   * usable strata, whose unit mass defines N) and surfaced via
   * `n_strata` vs `n_strata_used` (silently folding them in would
   * divide by zero or fabricate variance).
   *
   * Exactness: per-stratum sums/squares are exact DECIMAL(38,0) on
   * the micro grid (the E44 contract); each per-stratum diff and
   * variance TERM is one fixed IEEE chain round(12)'d into
   * DECIMAL(38,12) before summing (the q240 per-term discipline —
   * the cross-strata sums are exact and partition-order-free);
   * z = diff/√var is ONE final IEEE chain, round(6) SIGNED (+0.0
   * oracle rule), p on the rounded z. No usable strata → all-NULL
   * readout, never a throw.
   *
   * Scale: ONE stratum-key partial-agg exchange; everything after
   * runs on the strata-cardinality frame with a one-row broadcast
   * for N.
   *
   * Output (one row): (n_strata, n_strata_used, n_a, n_b, diff, z,
   * p_value) — diff in display units (µ/10⁶), n_a/n_b over usable
   * strata.
   */
  def postStratifiedReadout(
      df: DataFrame, strataCol: Column, armCol: Column,
      valueMicroCol: Column): DataFrame = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val d3812 = org.apache.spark.sql.types.DecimalType(38, 12)
    val per = df
      .where(strataCol.isNotNull && armCol.isNotNull &&
        valueMicroCol.isNotNull)
      .groupBy(strataCol.as("__s"))
      .agg(
        sum(when(armCol, 1L).otherwise(0L)).as("na"),
        sum(when(!armCol, 1L).otherwise(0L)).as("nb"),
        sum(when(armCol, valueMicroCol.cast(d18))
          .otherwise(lit(0).cast(d18))).cast(d38).as("sa"),
        sum(when(!armCol, valueMicroCol.cast(d18))
          .otherwise(lit(0).cast(d18))).cast(d38).as("sb"),
        sum(when(armCol,
          valueMicroCol.cast(d18) * valueMicroCol.cast(d18))
          .otherwise(lit(0).cast(d38))).cast(d38).as("qa"),
        sum(when(!armCol,
          valueMicroCol.cast(d18) * valueMicroCol.cast(d18))
          .otherwise(lit(0).cast(d38))).cast(d38).as("qb"))
    val usable = col("na") >= 2L && col("nb") >= 2L
    val totals = per.agg(
      count(lit(1)).as("n_strata"),
      sum(when(usable, 1L).otherwise(0L)).as("n_used"),
      sum(when(usable, col("na") + col("nb")).otherwise(0L))
        .as("__nn"))
    def d(c: String) = col(c).cast("double")
    val w = (col("na") + col("nb")).cast("double") / d("__nn")
    val ma = d("sa") / d("na")
    val mb = d("sb") / d("nb")
    val va = (d("na") * d("qa") - d("sa") * d("sa")) /
      (d("na") * (d("na") - lit(1.0)))
    val vb = (d("nb") * d("qb") - d("sb") * d("sb")) /
      (d("nb") * (d("nb") - lit(1.0)))
    // a GLOBAL agg always yields exactly one row (all-NULL when no
    // stratum is usable), so the readout shape is stable by
    // construction — never a throw, never zero rows
    val metrics = per
      .crossJoin(broadcast(totals.select(col("__nn"))))
      .where(usable && col("__nn") > 0L)
      .select(
        col("na"), col("nb"),
        round(w * (ma - mb), 12).cast(d3812).as("__td"),
        round(w * w * (va / d("na") + vb / d("nb")), 12).cast(d3812)
          .as("__tv"))
      .agg(
        sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
        sum(col("__td")).cast("double").as("__diff"),
        sum(col("__tv")).cast("double").as("__var"))
    val z = when(col("__var") > 0.0,
      round(col("__diff") / sqrt(col("__var")), 6))
    totals
      .crossJoin(broadcast(metrics))
      .select(
        col("n_strata"), col("n_used").as("n_strata_used"),
        col("n_a"), col("n_b"),
        round(col("__diff") / lit(1000000.0), 6).as("diff"),
        z.as("z"),
        round(normalTwoSidedP(z), 6).as("p_value"))
  }

  def abTest(df: DataFrame, aCol: Column, convCol: Column): DataFrame = {
    val agg = df
      .where(aCol.isNotNull && convCol.isNotNull)
      .agg(
        sum(when(aCol, 1L).otherwise(0L)).as("n_a"),
        sum(when(!aCol, 1L).otherwise(0L)).as("n_b"),
        sum(when(aCol && convCol, 1L).otherwise(0L)).as("conv_a"),
        sum(when(!aCol && convCol, 1L).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    agg.select(
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      when(col("n_a") > 0, round(pa, 6)).as("rate_a"),
      when(col("n_b") > 0, round(pb, 6)).as("rate_b"),
      when(col("n_a") > 0 && col("n_b") > 0 && se > 0,
        round((pa - pb) / se, 6)).as("z"))
  }

  /**
   * Per-key Lorenz concentration audit — Gini coefficient plus
   * top-decile mass share of a non-negative size/weight column. The
   * corpus-balance check run before mixing sources: a source whose
   * token mass Gini is high is dominated by a few huge documents (one
   * crawl artifact can be half a source), and the top-decile share is
   * the number people quote ("10% of docs carry 80% of the mass").
   *
   * Exactness: Gini = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) over the
   * per-key ascending value order — the rearrangement identity keeps
   * the numerator non-negative (no signed-zero exposure) and makes it
   * TIE-INVARIANT: equal values swapping ranks leave Σ rank·x
   * unchanged, so the nondeterministic rank order among ties cannot
   * move the result (same argument for the top-decile sum: boundary
   * ties have equal value). Per-row work is ONE long multiply
   * (rank·x, bound: rank·x < 2⁶³ — ANSI throws, never corrupts);
   * products accumulate in exact DECIMAL(38,0); the two final
   * divisions are single IEEE ops, round(6) at the boundary.
   * Top-decile count = (n+9) div 10 (exact integer ceil).
   *
   * Scale: rank + per-key n ride two window specs over ONE key
   * exchange; the groupBy reuses the same hash partitioning (no
   * second exchange). Per-key state is that key's row span — the
   * exact-order price, as in [[winsorizeAudit]]; at 100 TB pre-bucket
   * heavy keys or sample within key when ±ε suffices.
   *
   * Output: one row per key (keyCol, n_docs, total, gini,
   * top_decile_share); zero-total keys yield NULL ratios.
   */
  def lorenzGini(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__v"))
    val wn = Window.partitionBy(col(keyCol))
    val topN = ((col("__n") + lit(9L)) / lit(10L)).cast("long")
    val r = df
      .where(col(valCol).isNotNull && col(valCol) >= 0)
      .select(col(keyCol), col(valCol).cast("long").as("__v"))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wn))
    val num = lit(2).cast(dec) * col("__s2") -
      (col("n_docs") + 1).cast(dec) * col("__tot")
    r.groupBy(col(keyCol))
      .agg(
        max(col("__n")).as("n_docs"),
        sum(col("__v").cast(dec)).as("__tot"),
        sum((col("__rn") * col("__v")).cast(dec)).as("__s2"),
        sum(when(col("__rn") > col("__n") - topN, col("__v"))
          .otherwise(0L).cast(dec)).as("__top"))
      .select(
        col(keyCol), col("n_docs"),
        col("__tot").cast("long").as("total"),
        when(col("__tot") > 0,
          round(num.cast("double") /
            (col("n_docs").cast("double") * col("__tot").cast("double")), 6))
          .as("gini"),
        when(col("__tot") > 0,
          round(col("__top").cast("double") / col("__tot").cast("double"), 6))
          .as("top_decile_share"))
      .orderBy(col(keyCol))
  }

  def weightedQuantiles(
      df: DataFrame, keyCol: String, valCol: String, weightCol: String,
      quantiles: Seq[Double]): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    // One COMMON denominator 10^s (s = widest quantile scale) so the
    // row-side product cum·den is shared across quantiles.
    val denScale = quantiles.map { q =>
      require(q > 0.0 && q <= 1.0, s"quantiles must be in (0, 1], got $q")
      BigDecimal(q).scale
    }.max
    val den = BigDecimal(10).pow(denScale).toLongExact
    val rationals = quantiles.map(q => (q, (BigDecimal(q) * den).toLongExact))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(valCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wk = Window.partitionBy(col(keyCol))
    val prepared = df
      .where(col(valCol).isNotNull && col(weightCol).isNotNull)
      // DECIMAL cast fixes the 6dp quantization (HALF_UP), then the
      // ×10⁶ shift is exact and lands on integral micro-units.
      .withColumn("__wl",
        (col(weightCol).cast(DecimalType(28, 6)) * lit(1000000L))
          .cast("long"))
      // Filter on the QUANTIZED mass, not the raw weight: a row with
      // 0 < w < 5e-7 rounds to zero micro-units and must not count
      // as present — otherwise a key whose weights all quantize to 0
      // would satisfy cumw·den >= totw·num at its first row (0 >= 0)
      // and return the minimum value for every quantile with
      // total_weight 0 (round-10 ADVICE fix).
      .where(col("__wl") > 0)
      .withColumn("__cwl", sum(col("__wl")).over(w))
      .withColumn("__twl", sum(col("__wl")).over(wk))
    val aggs = rationals.zipWithIndex.map { case ((_, num), i) =>
      min(when(col("__cwl") * lit(den) >= col("__twl") * lit(num),
        col(valCol))).as(s"__q$i")
    } :+ (max(col("__twl")).cast(DecimalType(38, 6)) / lit(1000000L))
      .cast("double").as("__total")
    val agged = prepared.groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
    val rows = rationals.zipWithIndex.map { case ((q, _), i) =>
      struct(lit(q).as("quantile"), col(s"__q$i").as("value"),
        col("__total").as("total_weight"))
    }
    agged
      .select(col(keyCol), explode(array(rows: _*)).as("r"))
      .select(col(keyCol), col("r.quantile"), col("r.value"),
        col("r.total_weight"))
  }

  /**
   * Order-independent table content fingerprint — the data-versioning
   * primitive: did this table (or partition) change since the last
   * snapshot, without storing or diffing the rows? Each row hashes to
   * the 60-bit md5 prefix of its '|'-joined column rendering (the
   * engine's portable hash trick, reproducible by any engine), then
   * per group the digest is (row count, XOR of hashes, exact DECIMAL
   * sum of hashes, min, max). XOR is order- and partition-independent
   * but blind to rows duplicated an even number of times; the decimal
   * SUM catches exactly that case (and is overflow-free to ~10²⁰
   * rows), so the pair together detects any single-row insert,
   * delete, or update with probability 1 − 2⁻⁶⁰.
   *
   * `cols` must render identically across engines — integers,
   * strings, dates; avoid raw doubles (engine formatting differs).
   * Rows join on the \\u0001 unit separator, which free text never
   * contains (a printable delimiter like '|' makes the rendering
   * non-injective the moment a column contains it: ('a|b', 'c') and
   * ('a', 'b|c') would digest identically — a probability-1 missed
   * change, not a 2⁻⁶⁰ one). CAVEATS that remain: `concat_ws` SKIPS
   * NULLs, so (a, NULL, b) and (a, b, NULL) render identically —
   * coalesce nullable columns with a sentinel when NULL-position
   * distinctions must move the digest; and data that itself contains
   * \\u0001 re-opens the injection (length-prefix the columns if that
   * can happen).
   *
   * Scale: ONE scan, hash computed in the projection, all five
   * digests partial-aggregate map-side — the exchange carries
   * |groups| rows. Fingerprint per write-partition key and a 100 TB
   * snapshot diff becomes a |partitions|-row join of two digest
   * tables ([[graft.operators.Merge]]'s snapshotDiff is the row-level
   * escalation when a partition's digest moved).
   */
  def tableFingerprint(
      df: DataFrame, cols: Seq[String], groupCol: String): DataFrame = {
    require(cols.nonEmpty, "tableFingerprint: cols must be non-empty")
    val h = conv(
      substring(md5(concat_ws("\u0001", cols.map(col): _*)), 1, 15), 16, 10)
      .cast("long")
    df.select(col(groupCol), h.as("__h"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor_hash"),
        // exact decimal sum rendered as a string: engines disagree on
        // how >64-bit numerics surface (HUGEINT vs DECIMAL vs double),
        // digits are digits everywhere
        sum(col("__h").cast(
            org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("string").as("sum_hash"),
        min(col("__h")).as("min_hash"),
        max(col("__h")).as("max_hash"))
  }

  /**
   * Q8: k-anonymity / l-diversity release audit (Sweeney 2002;
   * Machanavajjhala et al. 2007) — the pre-release privacy gate for
   * any dataset leaving the trust boundary (a training-corpus export,
   * a metrics share, a vendor hand-off): group rows into equivalence
   * classes on the QUASI-IDENTIFIER columns (the externally-joinable
   * ones — location, segment, coarse account bands) and measure
   * (a) k-anonymity: every class must contain ≥ k rows, else its
   * members are re-identifiable by linking the QI combination to an
   * outside table; and (b) l-diversity: every class must carry ≥ l
   * DISTINCT values of the sensitive column, else membership alone
   * discloses the sensitive value even at k-anonymous sizes (the
   * homogeneity attack k-anonymity famously misses).
   *
   * One summary row: row/class totals, the effective k (min class
   * size) and effective l (min per-class sensitive diversity), the
   * exposure mass on each axis (rows + classes below the bar), and
   * the two verdicts. Exact integers and booleans end to end —
   * nothing to quantize, oracle-trivial.
   *
   * NULL semantics: a NULL quasi-identifier value is its own class
   * key (it is still a joinable, distinguishing signal); NULL
   * sensitive values carry no disclosure and don't count toward
   * diversity — an all-NULL-sensitive class has diversity 0 and
   * fails any l ≥ 1, surfacing the degenerate column rather than
   * hiding it.
   *
   * Scale: one groupBy on the QI columns (bounded by QI-combination
   * cardinality, the same key a release would partition by) + one
   * single-row reduce — two exchanges, no joins, no windows. The
   * per-class frame for remediation drill-down is
   * [[equivalenceClasses]]; this summary deliberately never ships
   * per-class rows (at 100 TB the audit must stay a scalar gate).
   */
  def kAnonymityAudit(
      df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      k: Long, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(k >= 1L, s"k must be >= 1, got $k")
    require(l >= 1L, s"l must be >= 1, got $l")
    equivalenceClasses(df, quasiCols, sensitiveCol)
      .agg(
        sum(col("class_size")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("class_size")).as("effective_k"),
        sum(when(col("class_size") < k, col("class_size"))
          .otherwise(lit(0L))).as("rows_below_k"),
        sum(when(col("class_size") < k, 1L).otherwise(0L))
          .as("classes_below_k"),
        min(col("sens_diversity")).as("effective_l"),
        sum(when(col("sens_diversity") < l, col("class_size"))
          .otherwise(lit(0L))).as("rows_below_l"),
        sum(when(col("sens_diversity") < l, 1L).otherwise(0L))
          .as("classes_below_l"))
      .select(col("n_rows"), col("n_classes"),
        col("effective_k"), col("rows_below_k"), col("classes_below_k"),
        col("effective_l"), col("rows_below_l"), col("classes_below_l"),
        (col("effective_k") >= k).as("k_satisfied"),
        (col("effective_l") >= l).as("l_satisfied"))
  }

  /**
   * E36: sample-ratio-mismatch check (the Kohavi/Fabijan/Dmitriev
   * experimentation guardrail — Fabijan et al. 2019 "Diagnosing
   * sample ratio mismatch"): per segment, a one-proportion z-test of
   * the observed treatment share against the DESIGNED `expectedShare`
   * — an assignment-plumbing alarm that must run before any readout,
   * because a biased split (bot filtering, redirect loss, logging
   * drops on one arm) silently invalidates every downstream metric.
   * The industry-standard alarm threshold is p < 0.001: SRM is a
   * plumbing BUG detector, not a hypothesis test, so the bar is set
   * where false alarms are negligible at thousands of segments.
   *
   * z = (n_arm − n·p₀) / √(n·p₀·(1−p₀)), rounded to 6dp, p via the
   * house erf polynomial ([[normalTwoSidedP]]) on the rounded z —
   * the q229 battery's exact parity recipe; counts are exact longs,
   * every float op a fixed IEEE sequence. Single-row arms (n·p₀·(1−p₀)
   * can't be 0 for p₀∈(0,1) and n ≥ 1) always score.
   *
   * Scale: one partial-aggregated key shuffle for any segment count —
   * counts only, no variance terms, the cheapest guardrail in the
   * E-family.
   */
  def srmCheck(
      df: DataFrame, keyCols: Seq[String], armCol: Column,
      expectedShare: Double = 0.5): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(expectedShare > 0.0 && expectedShare < 1.0,
      s"expectedShare must be in (0,1), got $expectedShare")
    val p0 = lit(expectedShare)
    val z = round(
      (col("n_arm").cast("double") - col("n").cast("double") * p0)
        / sqrt(col("n").cast("double") * p0 * (lit(1.0) - p0)), 6)
    df.groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when(armCol, 1L).otherwise(0L)).as("n_arm"))
      .withColumn("observed_share",
        round(col("n_arm").cast("double") / col("n").cast("double"), 6))
      .withColumn("expected_share", p0)
      .withColumn("z", z)
      .withColumn("p_value", round(normalTwoSidedP(col("z")), 6))
      .withColumn("srm_flag", col("p_value") < 0.001)
  }

  /**
   * The per-class drill-down behind [[kAnonymityAudit]]: one row per
   * quasi-identifier equivalence class with its size and sensitive
   * diversity — `orderBy(class_size).limit(n)` is the remediation
   * worklist (which QI combinations to generalize or suppress first).
   */
  def equivalenceClasses(
      df: DataFrame, quasiCols: Seq[String], sensitiveCol: String)
      : DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    df.groupBy(quasiCols.map(col): _*)
      .agg(
        count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("sens_diversity"))
  }

  /**
   * Q9: generalization ladder — [[kAnonymityAudit]] made ACTIONABLE:
   * when the release fails its k bar, the remediation is
   * generalization (drop or coarsen the most specific
   * quasi-identifiers), and the question is "how far up do we have
   * to go?". `quasiCols` is ordered most-general → most-specific;
   * level i drops the i most specific columns (level 0 = the full
   * QI set, level |QI| = one class holding the whole table), and
   * each level reports its class count, effective k/l, exposure
   * mass, and verdict — the first satisfied level is the cheapest
   * compliant release.
   *
   * Scale: ALL levels compute in ONE pass — the ladder is exactly
   * SQL ROLLUP's prefix structure, so a single Expand×(|QI|+1)
   * aggregate replaces |QI|+1 separate scans (at 100 TB the
   * difference between one job and a ladder of them); the level
   * reduce runs on the bounded class table. grouping_id
   * distinguishes a rollup subtotal from a REAL NULL QI value, so
   * NULL-keyed classes stay their own class at every level. Exact
   * integers and booleans end to end.
   */
  def generalizationLadder(
      df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      k: Long, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(k >= 1L && l >= 1L, s"k and l must be >= 1, got k=$k l=$l")
    val n = quasiCols.size
    // rollup gids are 2^i − 1 for i dropped trailing columns
    val level = (0 to n).foldLeft(lit(-1)) { (acc, i) =>
      when(col("__gid") === lit((1L << i) - 1L), lit(i)).otherwise(acc)
    }
    val kept = (0 to n).foldLeft(lit("")) { (acc, i) =>
      when(col("level") === i,
        lit(quasiCols.take(n - i).mkString(","))).otherwise(acc)
    }
    df.rollup(quasiCols.map(col): _*)
      .agg(
        count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("sens_diversity"),
        grouping_id().as("__gid"))
      .select(level.as("level"), col("class_size"),
        col("sens_diversity"))
      .groupBy("level")
      .agg(
        count(lit(1)).as("n_classes"),
        min(col("class_size")).as("effective_k"),
        sum(when(col("class_size") < k, col("class_size"))
          .otherwise(lit(0L))).as("rows_below_k"),
        sum(when(col("class_size") < k, 1L).otherwise(0L))
          .as("classes_below_k"),
        min(col("sens_diversity")).as("effective_l"))
      .select(col("level"), kept.as("kept_quasi_cols"),
        col("n_classes"), col("effective_k"), col("rows_below_k"),
        col("classes_below_k"), col("effective_l"),
        (col("effective_k") >= k).as("k_satisfied"),
        (col("effective_l") >= l).as("l_satisfied"))
  }

  /**
   * E39: A/A calibration battery — the "is my testing stack lying"
   * check run before trusting any readout from a new metric or a new
   * segment definition: R deterministic null splits (no treatment
   * exists, so every significant result is a false positive) each
   * get the standard two-proportion z; a healthy stack flags ≈ α of
   * them, and a rate far above α means the test's independence
   * assumptions are broken for THIS metric (clustered exposure,
   * heavy tails, unit mismatch) — fix the analysis unit before
   * running a real experiment.
   *
   * Splits are the [[mix31]] hash of (unit, replicate) —
   * deterministic, null by construction (the hash carries no
   * treatment), and DECORRELATED across replicates: additive parity
   * `(unit + r) % 2` would make every replicate an arm-swap of the
   * same split (identical |z| in all replicates, so the significant
   * fraction could only read 0 or 1 — useless as a calibration);
   * diffusing the replicate index through two multiply–xorshift
   * rounds gives R effectively independent null splits.
   * z/p follow the q229 exact recipe (round(6) z, erf polynomial on
   * the rounded z); degenerate replicates (empty arm / zero pooled
   * variance) emit NULL — "untestable", not significant.
   *
   * Scale: ONE pass — the replicate grid broadcasts onto the unit
   * rows and every replicate's cells partial-aggregate in the same
   * shuffle; R multiplies aggregate input rows, not scans.
   */
  /**
   * 31-bit multiply–xorshift mix of (unit, replicate) — the
   * deterministic per-row null-split hash behind [[aaCalibration]].
   * Two murmur3-finalizer-style rounds over BIGINT arithmetic that
   * stays exact (and engine-identical) everywhere: every
   * intermediate is non-negative and < 2⁶³ (largest product
   * (2³¹−1)·3266489917 ≈ 2⁶²·⁶), so Spark's ANSI long ops and
   * DuckDB's BIGINT `xor`/`>>`/`%` agree bit-for-bit. Negative
   * units are handled via `pmod` on the Spark side; oracle mirrors
   * assume non-negative unit keys (true of every house id column).
   */
  private[operators] def mix31(unit: Column, replicate: Column): Column = {
    val m31 = lit(2147483648L)
    val h0 = pmod(unit.cast("long"), m31)
      .bitwiseXOR(pmod(replicate.cast("long") * lit(2654435761L), m31))
    val h1 = pmod(
      h0.bitwiseXOR(shiftright(h0, 16)) * lit(2246822519L), m31)
    val h2 = pmod(
      h1.bitwiseXOR(shiftright(h1, 13)) * lit(3266489917L), m31)
    h2.bitwiseXOR(shiftright(h2, 16))
  }

  def aaCalibration(
      df: DataFrame, unitCol: Column, convCol: Column,
      replicates: Int, alpha: Double = 0.05): DataFrame = {
    require(replicates >= 1, s"replicates must be >= 1, got $replicates")
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    val spark = df.sparkSession
    val grid = broadcast(
      spark.createDataFrame((1 to replicates).map(Tuple1(_)))
        .toDF("replicate"))
    val arm = mix31(unitCol, col("replicate")) % 2 === 0
    val g = df
      .where(unitCol.isNotNull && convCol.isNotNull)
      .crossJoin(grid)
      .groupBy("replicate")
      .agg(
        sum(when(arm, 1L).otherwise(0L)).as("n_a"),
        sum(when(!arm, 1L).otherwise(0L)).as("n_b"),
        sum(when(arm && convCol, 1L).otherwise(0L)).as("conv_a"),
        sum(when(!arm && convCol, 1L).otherwise(0L)).as("conv_b"))
    // empty arms become NULL divisors, not 0 (the q276 ANSI/CSE rule;
    // DuckDB x/0 = NULL gives the oracle the identical NULLs)
    val naN = when(col("n_a") > 0L, col("n_a").cast("double"))
    val nbN = when(col("n_b") > 0L, col("n_b").cast("double"))
    val pa = col("conv_a").cast("double") / naN
    val pb = col("conv_b").cast("double") / nbN
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / naN + lit(1.0) / nbN))
    // se == +0.0 (degenerate pooled variance) must also become a NULL
    // divisor — CSE would evaluate the hoisted division regardless of
    // an outer when() guard
    val seN = when(se > 0.0, se)
    val z = round((pa - pb) / seN, 6)
    g.withColumn("z", z)
      .withColumn("p_value", round(normalTwoSidedP(col("z")), 6))
      .withColumn("significant", col("p_value") < alpha)
  }

  /**
   * E40: A/A calibration for DELTA-METHOD ratio metrics — the
   * [[aaCalibration]] battery pointed at [[ratioMetricReadout]]'s
   * machinery: R [[mix31]] null splits of the per-unit (numerator,
   * denominator) rows, each analysed with the full delta-method
   * variance. Ratio metrics are precisely where naive tests lie
   * (within-unit correlation), so they are precisely where the
   * testing stack needs its own calibration: a significant-fraction
   * far above α on null splits means the delta approximation's
   * assumptions (unit independence, finite variance) are broken for
   * THIS metric, and no real readout from it can be trusted.
   *
   * Input contract is [[ratioMetricReadout]]'s: ONE ROW PER UNIT.
   * Scale: the replicate grid broadcasts onto unit rows and all R
   * replicates' moments partial-aggregate in ONE shuffle; every
   * engine-exactness property (decimal moments, fixed IEEE finish,
   * 6dp z, erf-polynomial p) is inherited verbatim.
   */
  def aaRatioCalibration(
      df: DataFrame, unitCol: Column, numCol: Column, denCol: Column,
      replicates: Int, alpha: Double = 0.05): DataFrame = {
    require(replicates >= 1,
      s"replicates must be >= 1, got $replicates")
    require(alpha > 0.0 && alpha < 1.0,
      s"alpha must be in (0,1), got $alpha")
    val spark = df.sparkSession
    val grid = broadcast(
      spark.createDataFrame((1 to replicates).map(Tuple1(_)))
        .toDF("replicate"))
    val crossed = df
      .where(unitCol.isNotNull)
      .crossJoin(grid)
    ratioMetricReadout(crossed, Seq("replicate"),
        mix31(unitCol, col("replicate")) % 2 === 0, numCol, denCol)
      .withColumn("significant", col("p_value") < alpha)
  }

  /**
   * E41: A/A battery for the SEQUENTIAL monitor — [[srmMonitor]]'s
   * false-alarm calibration: R [[mix31]] null splits (expected share
   * exactly 0.5 by construction) each replay the full
   * cumulative-look SRM scan, and the battery reports per replicate
   * whether ANY look alarmed. Sequential procedures multiply
   * looks, so their FAMILY-WISE false-alarm rate under the null is
   * the number that must stay at-or-below nominal (the Fabijan-style
   * check) — a single-look α says nothing about a monitor that
   * peeks daily for a month.
   *
   * Mechanics inherit [[srmMonitor]]'s bounded-look contract: one
   * (replicate, day) partial-aggregated shuffle, cumulative window
   * sums over the replicate-keyed DAY table (rows = R × calendar
   * days, never the corpus), the q229/q270 z→p recipe per look.
   * `first_alarm_look` is 0 when the replicate never alarmed (a
   * sentinel, not a look index — looks are 1-based), keeping the
   * output schema NULL-free and dtype-stable.
   *
   * Output: (replicate, n_looks, min_p, any_alarm,
   * first_alarm_look), one row per replicate.
   */
  /**
   * Q10 support: the truncated two-sided-geometric noise CDF as an
   * integer threshold table over the md5-uniform domain [0, 2²⁸).
   * P(k) ∝ α^|k| with α = e^(−ε/Δ) (Ghosh et al. 2009 — the discrete
   * Laplace, the universally utility-maximizing ε-DP mechanism for
   * counts), truncated to k ∈ [−K, K] and renormalized. Computed
   * driver-side ONCE and handed to BOTH engines as literals (the
   * q269 seed-derived-literal pattern), so no cross-engine float
   * hazard exists anywhere: the operator and the oracle consume the
   * same (noise, lo, hi) integer rows. Returned hi of the last row
   * is exactly 2²⁸ so the intervals tile the domain.
   */
  private[graft] def dpNoiseThresholds(
      epsilon: Double, clampK: Int): Seq[(Int, Long, Long)] = {
    require(epsilon > 0.0, s"epsilon must be positive, got $epsilon")
    require(clampK >= 1, s"clampK must be >= 1, got $clampK")
    val alpha = math.exp(-epsilon)
    val ks = (-clampK to clampK).toSeq
    val w = ks.map(k => math.pow(alpha, math.abs(k)))
    val total = w.sum
    val dom = 1L << 28
    var cum = 0.0
    var lastHi = 0L
    ks.zip(w).map { case (k, wk) =>
      val lo = lastHi
      cum += wk
      val hi = if (k == clampK) dom
        else math.floor(cum / total * dom.toDouble).toLong
      lastHi = hi
      (k, lo, hi)
    }
  }

  /**
   * Q10: ε-differentially-private count release, DETERMINISTIC replay
   * variant — per-group counts plus two-sided-geometric noise (the
   * discrete Laplace; sensitivity Δ = 1 for disjoint-group counts),
   * clamped at zero. This is the release gate a curation pipeline
   * runs before publishing per-source/per-language corpus statistics
   * whose exact values would leak membership.
   *
   * Determinism contract: the noise draw for a group is the
   * md5-uniform of (group key, seed) — 7 hex digits → u ∈ [0, 2²⁸) —
   * looked up in the [[dpNoiseThresholds]] integer table, so one
   * release is bit-reproducible and auditable on any engine. The
   * caveat is the flip side: DETERMINISM IS PER (DATA, SEED) — the
   * ε budget is spent once per seed, and re-releasing the same data
   * under a fresh seed composes budgets exactly as fresh randomness
   * would (re-USING a seed on changed data leaks the change through
   * noise reuse — rotate seeds per release). Truncation at ±K leaves
   * residual tail mass 2α^(K+1)/((1+α)(1−α^(K+1))·norm) — with the
   * default K=39 and any ε ≥ 0.5 that is < 4e-9, far below the 2⁻²⁸
   * grid quantization already inherent in the threshold table; both
   * approximations are documented, standard practice for integer DP.
   *
   * Scale: ONE partial-aggregated groupBy over the corpus; the noise
   * lookup is a (2K+1)-row broadcast range join on the bounded
   * threshold dim; everything after is a projection. No per-row
   * state, no windows, no driver collect.
   *
   * ⚠ KEY-MEMBERSHIP CAVEAT (r12, ADVICE): this variant releases a
   * row iff the group EXISTS in the data — noise never suppresses an
   * observed group or invents an unobserved one, so adding/removing
   * the one record that creates/destroys a rare group toggles an
   * output ROW with probability 1. The ε bound therefore holds only
   * over a PUBLIC, FIXED key set; with data-dependent keys, group
   * MEMBERSHIP in the output is NOT protected (only the counts are).
   * When the key domain is enumerable, use
   * [[dpCountReleaseOverDomain]] — the same mechanism released over
   * every public domain key (zero-count groups included), whose
   * output row set is data-independent and whose ε guarantee is
   * unconditional.
   *
   * Output: (keyCols…, released_count) — max(0, n + noise), the true
   * count never surfaced.
   */
  def dpCountRelease(
      df: DataFrame, keyCols: Seq[String], epsilon: Double,
      seed: Long, clampK: Int = 39): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val counts = df
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    geometricRelease(counts, keyCols, epsilon, seed, clampK,
      "released_count")
  }

  /**
   * Q10b (r12): ε-DP count release over a PUBLIC KEY DOMAIN — the
   * membership-safe variant of [[dpCountRelease]] (the r11 ADVICE
   * finding): the released row set is exactly `domain`'s distinct
   * keys, fixed independently of the data, and every domain key —
   * including groups with NO observed rows — gets a noisy count
   * (max(0, 0 + noise) can be positive: that noise floor is what
   * hides membership). Groups observed in the data but ABSENT from
   * the domain are NOT released (the domain is the public contract).
   * With the row set data-independent and Δ = 1 per disjoint-group
   * count, the discrete-Laplace guarantee is unconditional.
   *
   * `domain` must carry `keyCols` with NON-NULL values: the left
   * join is null-unsafe (SQL semantics), so a NULL domain component
   * would never match a data group — use an explicit sentinel value
   * if "unknown" is part of the public domain.
   *
   * Scale: same ONE partial-aggregated groupBy as the base variant;
   * the domain join broadcasts when the domain is small (a public
   * domain list always is), the threshold lookup is the same
   * (2K+1)-row broadcast range join.
   */
  def dpCountReleaseOverDomain(
      df: DataFrame, domain: DataFrame, keyCols: Seq[String],
      epsilon: Double, seed: Long, clampK: Int = 39): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val dom = domain.select(keyCols.map(col): _*).distinct()
    val counts = df
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val full = dom.join(counts, keyCols, "left")
      .select(keyCols.map(col) :+
        coalesce(col("__c"), lit(0L)).as("__n"): _*)
    geometricRelease(full, keyCols, epsilon, seed, clampK,
      "released_count")
  }

  /**
   * r17 optimization (guide §2/§4 — VERDICT r16 ask #1): a FAMILY of
   * [[dpCountReleaseOverDomain]] releases that share one source
   * frame, one key column, one ε and one clampK — differing only in
   * (declared domain, seed) — computed as ONE data-driven plan:
   * the releases become ROWS (release, key, seed) of a bounded local
   * frame, the corpus is scanned and aggregated ONCE (one groupBy
   * over the key column instead of one per release), and the noise
   * draw + threshold lookup run over the bounded (release × domain
   * key) table. Row-for-row identical to running each release
   * through [[dpCountReleaseOverDomain]] (QualitySpec asserts it):
   * the per-(key, seed) md5-uniform draw and the shared
   * [[dpNoiseThresholds]] literal table are the same expressions —
   * a release's noise depends only on (key value, seed), never on
   * which plan computed it.
   *
   * The r16 shape ran q348's 72 releases as a 72-branch union whose
   * audit job carried 144 aggregate subtrees (13.1 s at sf0.1 on the
   * driver's run, planner/execution bound); this plan has ONE
   * aggregate subtree regardless of family size.
   *
   * Output: (__rel, keyCol, released_count) — every release's rows
   * tagged by release name, unordered (callers select/filter).
   */
  def dpCountReleaseFamilyOverDomain(
      df: DataFrame, keyCol: String,
      specs: Seq[(String, Seq[String], Long)],
      epsilon: Double, clampK: Int): DataFrame = {
    require(specs.nonEmpty, "need at least one release spec")
    require(specs.map(_._1).distinct.size == specs.size,
      "release names must be unique within a family")
    specs.foreach { case (name, keys, _) =>
      require(keys.nonEmpty,
        s"release '$name' must declare a non-empty key domain") }
    val internal = Seq("__rel", "__seed", "__c", "__n", "__u",
      "__noise", "__lo", "__hi")
    require(!internal.contains(keyCol),
      s"keyCol '$keyCol' collides with an internal column name " +
        internal.mkString("(", ", ", ")"))
    val spark = df.sparkSession
    // The ONLY corpus-sized work for the whole family: one
    // partial-aggregated groupBy over the key column.
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
    // Releases as rows: (release, domain key, seed's decimal string
    // — exactly the lit(seed.toString) the per-release keyedUniform
    // concatenates, so the md5 draw is bit-identical).
    val declared = spark.createDataFrame(
      specs.flatMap { case (name, keys, seed) =>
        keys.distinct.map(k => (name, k, seed.toString)) })
      .toDF("__rel", keyCol, "__seed")
    val thr = spark
      .createDataFrame(dpNoiseThresholds(epsilon, clampK))
      .toDF("__noise", "__lo", "__hi")
    // keyedUniform with the seed as a COLUMN: same per-value md5,
    // same "|" join, same 7-hex-digit window, same zero coalesce.
    val u = coalesce(
      conv(
        substring(md5(concat_ws("|",
          coalesce(md5(col(keyCol).cast("string")), lit("null")),
          col("__seed"))), 1, 7),
        16, 10).cast("long"),
      lit(0L))
    declared
      .join(broadcast(counts), Seq(keyCol), "left")
      .select(col("__rel"), col(keyCol),
        coalesce(col("__c"), lit(0L)).as("__n"), u.as("__u"))
      .join(broadcast(thr), col("__u") >= col("__lo") &&
        col("__u") < col("__hi"))
      .select(col("__rel"), col(keyCol),
        greatest(lit(0L), col("__n") + col("__noise"))
          .as("released_count"))
  }

  /**
   * Q20 (r15): ε-DP count release over a SUBSAMPLE, with privacy
   * amplification — the accounting trick DP-SGD lives on (Li/
   * Kasiviswanathan; Balle–Barthe–Gaboardi 2018): when the mechanism
   * only ever sees a rate-q per-row subsample, an (ε, 0)-DP release
   * on the subsample is (ln(1 + q·(e^ε − 1)), 0)-DP on the FULL
   * data — a record absent from the sample (probability 1−q) leaks
   * nothing, so small rates buy large discounts (ε = 1 at q = 5%
   * amplifies to ≈ 0.083). Pipelines SAMPLE constantly (q112/q84's
   * machinery); this prices the privacy they were already buying.
   *
   * The subsample is the house deterministic Poisson-style draw:
   * row included iff md5-uniform(rowId, sampleSeed)·1000 <
   * rate‰·2²⁸ — per-row independent inclusion, exact integer
   * compare, both engines replay the exact sample. DETERMINISM
   * CAVEAT (the Q10 contract, inherited twice): the sample AND the
   * noise are deterministic per (data, seed) — the amplified ε is
   * spent once per (sampleSeed, mechanismSeed) pair; rotate both
   * per release.
   *
   * The mechanism itself runs at the FULL declared ε on the
   * subsample (amplification is pure accounting — the noise is not
   * re-scaled); [[amplifiedEpsilonMicro]] computes the ledger entry,
   * CEILING-rounded on the micro grid (accounting rounds against
   * the publisher). Subsampled counts are biased low by q — the
   * release is of the SAMPLE's counts (callers rescale publicly if
   * they need population estimates; the noise already dominates at
   * any rate worth amplifying).
   *
   * Scale: one pruned scan with the inclusion predicate (pushes to
   * the scan — a hash of one column vs a literal), then the Q10b
   * domain-count path.
   */
  def dpSubsampledCountReleaseOverDomain(
      df: DataFrame, rowIdCol: String, domain: DataFrame,
      keyCols: Seq[String], epsilon: Double, mechanismSeed: Long,
      sampleSeed: Long, ratePerMille: Int,
      clampK: Int = 39): DataFrame = {
    require(ratePerMille >= 1 && ratePerMille <= 999,
      s"ratePerMille must be in [1, 999], got $ratePerMille")
    val u = keyedUniform(Seq(rowIdCol), sampleSeed)
    val sub = df.where(
      u * lit(1000L) < lit(ratePerMille.toLong) * lit(268435456L))
    dpCountReleaseOverDomain(sub, domain, keyCols, epsilon,
      mechanismSeed, clampK)
  }

  /** Q20 accounting: the amplified ε for a rate-q‰ subsampled pure
    * ε-DP release — ⌈ln(1 + q·(e^ε − 1))·10⁶⌉ micro units (log1p/
    * expm1 keep the small-ε regime precise; ceiling rounds against
    * the publisher). Driver-side literal arithmetic — the ledger and
    * the oracle consume the same long. */
  def amplifiedEpsilonMicro(
      epsilonMicro: Long, ratePerMille: Int): Long = {
    require(epsilonMicro > 0L,
      s"epsilon must be positive, got $epsilonMicro")
    require(ratePerMille >= 1 && ratePerMille <= 999,
      s"ratePerMille must be in [1, 999], got $ratePerMille")
    math.ceil(math.log1p(
      ratePerMille / 1000.0 * math.expm1(epsilonMicro / 1.0e6))
      * 1e6).toLong
  }

  /**
   * Q18 (r15): USER-LEVEL ε-DP count release over a public key
   * domain — the privacy unit LLM pipelines actually promise: the
   * record-level Q-family mechanisms bound what one ROW can move
   * (Δ = 1), but a user contributes MANY rows, and "your data is
   * protected" means USER adjacency (add/remove every row of one
   * user). The standard construction (Amin et al. 2019's bounded
   * user contribution): deterministically CAP each user's rows at
   * `userCap` (the T22 [[Sampling.capPerKey]] machinery — md5
   * id-hash order, engine-replayable), then release the per-key
   * domain counts with the cap as the sensitivity.
   *
   * PRIVACY ARGUMENT (documented, standard): capPerKey is a STABLE
   * transform under user adjacency — one user's kept set is a
   * function of that user's rows alone (per-user hash order; other
   * users' ranks are untouched), so removing a user changes the
   * capped frame by at most `userCap` rows, i.e. the count vector
   * moves by at most `userCap` in L1 across the disjoint domain
   * cells. Per-cell discrete Laplace at ε/userCap then prices the
   * whole vector at Σ|Δ_cell|·(ε/userCap) ≤ ε — user-level ε-DP.
   * clampK must scale with the widened tail (the Q12 rule:
   * K ≥ 20·userCap/ε). A NULL user id groups as ONE pseudo-user
   * (SQL window semantics) — the bound still holds for it.
   *
   * REFUSAL SEMANTICS: `userCap = None` (an uncapped release
   * claiming user-level accounting) REFUSES — one unbounded user
   * can move every released count arbitrarily, so no finite
   * sensitivity (hence no ε guarantee) exists. The refusal is
   * data-free and happens before any scan.
   *
   * Scale: one per-user window over the corpus (the capPerKey
   * shuffle — user-keyed, no skew beyond the heaviest user, which is
   * exactly what the cap bounds), then the Q10b domain-count path
   * (one partial-aggregated groupBy + the bounded (2K+1)-row
   * broadcast threshold join).
   *
   * Output: (keyCols…, released_count) — max(0, n_capped + noise).
   */
  def dpUserCountReleaseOverDomain(
      df: DataFrame, userCol: String, rowIdCol: String,
      domain: DataFrame, keyCols: Seq[String],
      epsilon: Double, seed: Long, userCap: Option[Int],
      clampK: Int): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val cap = userCap.getOrElse(
      throw new IllegalStateException(
        "user-level ε-DP release refused: no per-user contribution " +
          "bound declared — one unbounded user can move every " +
          "released count arbitrarily, so no finite sensitivity " +
          "(hence no ε guarantee) exists; declare userCap"))
    require(cap >= 1, s"userCap must be >= 1, got $cap")
    val capped = Sampling
      .capPerKey(df, userCol, rowIdCol, cap)
      .drop("pick_rank")
    val dom = domain.select(keyCols.map(col): _*).distinct()
    val counts = capped
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val full = dom.join(counts, keyCols, "left")
      .select(keyCols.map(col) :+
        coalesce(col("__c"), lit(0L)).as("__n"): _*)
    geometricRelease(full, keyCols, epsilon / cap, seed, clampK,
      "released_count")
  }

  /**
   * Q22 (r16): USER-LEVEL ε-DP SUM release over a public key domain
   * — [[dpUserCountReleaseOverDomain]]'s companion for the release
   * shape datasheets actually need for token/byte totals (VERDICT
   * r15 ask #6): Q18 bounds what one user moves in a COUNT; here
   * each of a user's rows also carries a VALUE, so the sensitivity
   * composes BOTH bounds — cap each user at `userCap` rows (the
   * Q18 [[Sampling.capPerKey]] stability argument: one user's kept
   * set is a function of that user's rows alone) AND clamp each
   * row's value into [0, clampHi] (the Q12 bounded-contribution
   * trick), so removing a user moves the per-key sum vector by at
   * most Δ = userCap·clampHi in L1 across the disjoint domain
   * cells. Per-cell discrete Laplace at ε/Δ prices the whole
   * vector at ≤ ε — user-level ε-DP for sums.
   *
   * clampK must scale with the doubly-widened tail (the Q12 rule:
   * K ≥ 20·Δ/ε = 20·userCap·clampHi/ε — user-level sums are where
   * the threshold table earns its bounded-broadcast contract).
   * NULL/negative values contribute 0 (the lower clamp); a NULL
   * user id groups as one pseudo-user (the Q18 note).
   *
   * REFUSAL SEMANTICS (Q18's, verbatim): `userCap = None` refuses
   * data-free — an uncapped user-level sum claim has no finite
   * sensitivity; so would an unclamped value column, which the
   * required `clampHi` makes unrepresentable.
   *
   * Scale: one per-user window (the capPerKey shuffle), one
   * partial-aggregated domain groupBy, the bounded (2K+1)-row
   * broadcast threshold join — the Q18 shape exactly.
   *
   * Output: (keyCols…, released_sum) — max(0, Σclamped + noise).
   */
  def dpUserSumReleaseOverDomain(
      df: DataFrame, userCol: String, rowIdCol: String,
      domain: DataFrame, keyCols: Seq[String], valueCol: Column,
      epsilon: Double, seed: Long, userCap: Option[Int],
      clampHi: Long, clampK: Int): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(clampHi >= 1L, s"clampHi must be >= 1, got $clampHi")
    val cap = userCap.getOrElse(
      throw new IllegalStateException(
        "user-level ε-DP sum release refused: no per-user " +
          "contribution bound declared — one unbounded user can " +
          "move every released sum arbitrarily, so no finite " +
          "sensitivity (hence no ε guarantee) exists; declare " +
          "userCap"))
    require(cap >= 1, s"userCap must be >= 1, got $cap")
    val capped = Sampling
      .capPerKey(df, userCol, rowIdCol, cap)
      .drop("pick_rank")
    val contrib = least(
      greatest(coalesce(floor(valueCol).cast("long"), lit(0L)),
        lit(0L)),
      lit(clampHi))
    val dom = domain.select(keyCols.map(col): _*).distinct()
    val sums = capped
      .groupBy(keyCols.map(col): _*)
      .agg(coalesce(sum(contrib), lit(0L)).as("__c"))
    val full = dom.join(sums, keyCols, "left")
      .select(keyCols.map(col) :+
        coalesce(col("__c"), lit(0L)).as("__n"): _*)
    geometricRelease(full, keyCols,
      epsilon / (cap.toLong * clampHi).toDouble, seed, clampK,
      "released_sum")
  }

  /**
   * Q12 (r12): ε-DP SUM release with bounded per-row contribution —
   * the mechanism a pipeline needs to publish per-group token
   * totals / byte masses, where one record can move the sum by more
   * than 1: each row's value is floored to the integer grid and
   * CLAMPED into [0, clampHi] BEFORE aggregation, so the release
   * sensitivity is Δ = clampHi exactly (adding/removing one row
   * moves the clamped sum by at most clampHi), and the same
   * two-sided-geometric mechanism applies with α = e^(−ε/Δ) — i.e.
   * [[dpNoiseThresholds]](ε/Δ). Clamping is the standard
   * bounded-contribution trick (it biases large values down; pick
   * clampHi at a high data-independent percentile). NULL and
   * negative values contribute 0 (the lower clamp).
   *
   * clampK must scale with Δ/ε: the truncation tail mass is
   * ~α^(K+1) = e^(−ε(K+1)/Δ), so K ≥ 20·Δ/ε keeps it below ~2e-9
   * (the q288 discipline at Δ=1, ε=0.5, K=39). The threshold table
   * stays a bounded (2K+1)-row broadcast.
   *
   * Same determinism contract and KEY-MEMBERSHIP caveat as
   * [[dpCountRelease]] (released keys are the observed groups; use a
   * public domain upstream when membership itself is sensitive).
   *
   * Output: (keyCols…, released_sum) — max(0, Σclamped + noise).
   */
  def dpSumRelease(
      df: DataFrame, keyCols: Seq[String], valueCol: Column,
      epsilon: Double, seed: Long, clampHi: Long,
      clampK: Int): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(clampHi >= 1L, s"clampHi must be >= 1, got $clampHi")
    val contrib = least(
      greatest(coalesce(floor(valueCol).cast("long"), lit(0L)),
        lit(0L)),
      lit(clampHi))
    val sums = df
      .groupBy(keyCols.map(col): _*)
      .agg(coalesce(sum(contrib), lit(0L)).as("__n"))
    geometricRelease(sums, keyCols, epsilon / clampHi.toDouble, seed,
      clampK, "released_sum")
  }

  /**
   * Q14 (r12): ε-DP HISTOGRAM release over PUBLIC bin edges — the
   * canonical DP mechanism (Dwork et al. 2006's motivating example)
   * and the fourth leg of the release family: Q10b counts over a
   * key domain, Q12 sums, Q13 quantiles, this the full shape of a
   * numeric column (the token-length / doc-size distributions a
   * datasheet publishes). Bins are the caller's public `edges`
   * (strictly increasing; bin i = [eᵢ, eᵢ₊₁), k−1 bins): the
   * released row set is the bin list — data-independent, so
   * membership-safe by construction (zero-count bins release
   * max(0, 0+noise), the Q10b noise floor) — and values BELOW the
   * first / AT-OR-ABOVE the last edge CLAMP into the end bins
   * (standard practice: dropping them would make the row set's mass
   * data-dependent). Every row lands in exactly one bin ⇒ Δ = 1 and
   * disjoint-bin parallel composition; the whole histogram costs ε.
   * NULL values carry no mass (the release covers the non-NULL
   * population; document alongside a Q10 count of NULLs if that
   * number matters).
   *
   * Same determinism contract as Q10 (md5-uniform of (bin, seed) ×
   * the [[dpNoiseThresholds]] literal table; rotate seeds per
   * release). ONE aggregate computes every bin count in a single
   * corpus scan (bounded conditional sums — the Q13 melt pattern),
   * then the (2K+1)-row broadcast threshold join.
   *
   * Output: (bin_lo, bin_hi, released_count), ordered by bin_lo.
   */
  def dpHistogramRelease(
      df: DataFrame, valueCol: Column, edges: Seq[Long],
      epsilon: Double, seed: Long, clampK: Int = 39): DataFrame = {
    require(edges.size >= 2, "need at least two edges (one bin)")
    require(edges.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
      "edges must be strictly increasing")
    val bins = edges.sliding(2).toSeq.map { case Seq(a, b) => (a, b) }
    val k = bins.size
    val aggs = bins.zipWithIndex.map { case ((a, b), i) =>
      val inBin =
        if (k == 1) valueCol.isNotNull
        else if (i == 0) valueCol < lit(b)
        else if (i == k - 1) valueCol >= lit(a)
        else valueCol >= lit(a) && valueCol < lit(b)
      sum(when(valueCol.isNotNull && inBin, 1L).otherwise(0L))
        .as(s"__c$i")
    }
    val counts = df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(bins.zipWithIndex.map { case ((a, b), i) =>
        struct(lit(a).as("bin_lo"), lit(b).as("bin_hi"),
          col(s"__c$i").as("__n"))
      }: _*)).as("__b"))
      .select(col("__b.bin_lo"), col("__b.bin_hi"), col("__b.__n"))
    geometricRelease(counts, Seq("bin_lo", "bin_hi"), epsilon, seed,
        clampK, "released_count")
      .orderBy("bin_lo")
  }

  /** Shared release core: the seeded md5-uniform noise draw + the
    * [[dpNoiseThresholds]] broadcast range lookup + the zero clamp,
    * over a pre-aggregated (keyCols…, __n) frame.
    *
    * Each key VALUE is hashed before the joint hash: raw concat_ws
    * would let distinct groups share one noise draw — it silently
    * drops NULLs ((NULL,"x") == ("x",NULL)) and a value containing
    * the delimiter shifts the split ("a|b","c") == ("a","b|c") —
    * and colliding groups' released counts would difference to the
    * EXACT true-count delta, breaking the DP independence argument
    * (round-11 review catch). md5 hex is delimiter-free and 'null'
    * (4 chars) can never collide with a 32-char digest. The outer
    * coalesce keeps the derived join key NON-NULLABLE — a nullable
    * key makes InferFiltersFromConstraints push IsNotNull(<md5
    * expr>) into the SCAN, paying one md5 per ROW instead of per
    * group (the house derived-key rule). */
  private def geometricRelease(
      counts: DataFrame, keyCols: Seq[String], epsilonEff: Double,
      seed: Long, clampK: Int, outCol: String): DataFrame = {
    val spark = counts.sparkSession
    val thr = spark
      .createDataFrame(dpNoiseThresholds(epsilonEff, clampK))
      .toDF("__noise", "__lo", "__hi")
    counts
      .withColumn("__u", keyedUniform(keyCols, seed))
      .join(broadcast(thr), col("__u") >= col("__lo") &&
        col("__u") < col("__hi"))
      .select(keyCols.map(col) :+
        greatest(lit(0L), col("__n") + col("__noise"))
          .as(outCol): _*)
  }

  /** The per-group md5-uniform draw in [0, 2²⁸) shared by every DP
    * release (per-value hashing + non-nullable coalesce per the
    * [[geometricRelease]] doc above). */
  private def keyedUniform(keyCols: Seq[String], seed: Long): Column =
    coalesce(
      conv(
        substring(md5(concat_ws("|",
          keyCols.map(c =>
            coalesce(md5(col(c).cast("string")), lit("null")))
            :+ lit(seed.toString): _*)), 1, 7),
        16, 10).cast("long"),
      lit(0L))

  /**
   * Q13 support: the exponential-mechanism weight table as integer
   * literals over the clamped utility domain — w(k) =
   * max(1, ⌊e^(−ε·k/(2·qDen)) · 10¹²⌋) for k ∈ [0, clampUtil].
   * Computed driver-side ONCE and handed to BOTH engines (the q269
   * pattern): the operator and the oracle consume the same (util, w)
   * rows, so no cross-engine `exp` ulp hazard exists anywhere. The
   * 10¹² grid and the max(·,1) floor (no candidate may carry zero
   * probability) are the mechanism's two documented quantizations —
   * the same class of approximation as [[dpNoiseThresholds]]'s 2⁻²⁸
   * draw grid.
   */
  private[graft] def dpExpMechWeights(
      epsilon: Double, qDen: Int, clampUtil: Int): Seq[(Int, Long)] = {
    require(epsilon > 0.0, s"epsilon must be positive, got $epsilon")
    require(qDen >= 1, s"qDen must be >= 1, got $qDen")
    require(clampUtil >= 1, s"clampUtil must be >= 1, got $clampUtil")
    (0 to clampUtil).map { k =>
      val w = math.floor(
        math.exp(-epsilon * k / (2.0 * qDen)) * 1e12).toLong
      (k, math.max(1L, w))
    }
  }

  /**
   * Q13 (r12): ε-DP QUANTILE release via the exponential mechanism
   * over a PUBLIC value grid (McSherry–Talwar 2007; Smith 2011's
   * DP-quantile instantiation) — the third leg of the release
   * trilogy: Q10/Q10b publish counts, Q12 sums, this the
   * distributional cut points (median document length, p90 token
   * count) whose exact values would leak individual records.
   *
   * Mechanism: candidates are the caller's PUBLIC `grid` (sorted
   * longs — data-independent, so the output DOMAIN leaks nothing);
   * the integer utility of candidate c for target quantile
   * q = qNum/qDen is u(c) = |qDen·#{v ≤ c} − qNum·n| — zero exactly
   * when c sits at the q-quantile — clamped at `clampUtil`
   * (min(·,K) is 1-Lipschitz, so the clamp preserves the
   * sensitivity bound). One row added/removed moves
   * qDen·#{v ≤ c} − qNum·n by at most max(qDen−qNum, qNum) ≤ qDen,
   * so Δu ≤ qDen and sampling ∝ e^(−ε·u/(2·qDen)) is ε-DP per
   * group (disjoint groups compose in parallel).
   *
   * DETERMINISM (the house Q10 contract): the group's draw is the
   * md5-uniform of (group key, seed) in [0, 2²⁸); the pick is the
   * first grid candidate whose cumulative weight exceeds the draw's
   * share of the total — evaluated as the all-integer comparison
   * cum·2²⁸ > draw·W in DECIMAL(38,0) (NO division anywhere), so
   * one release is bit-reproducible on any engine and the ε budget
   * is spent once per seed (rotate seeds per release, as Q10).
   * Weights come from [[dpExpMechWeights]] literals shared with the
   * oracle: zero float hazard end to end.
   *
   * NULL values are excluded from both n and the ≤-counts; a group
   * whose values are ALL NULL has u ≡ 0 and releases a uniform grid
   * draw (documented — the mechanism's honest answer to "no data").
   * Same KEY-MEMBERSHIP caveat as Q10: released rows are the
   * observed groups; compose with a public key domain upstream when
   * group membership itself is sensitive.
   *
   * Scale: ONE partial-aggregated groupBy computes n plus the |grid|
   * conditional ≤-counts in a single corpus scan (the grid is a
   * bounded public list — ≤ ~10³ candidates); the melt is a
   * per-group literal-array explode, the weight lookup a
   * (clampUtil+1)-row broadcast, the cumulative sum a keyed window
   * over |grid| rows per group. No per-row state, no driver collect.
   *
   * Output: (keyCols…, released_q) — one grid value per group.
   */
  def dpQuantileRelease(
      df: DataFrame, keyCols: Seq[String], valueCol: Column,
      grid: Seq[Long], qNum: Int, qDen: Int, epsilon: Double,
      seed: Long, clampUtil: Int = 400): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(keyCols.nonEmpty, "need at least one key column")
    require(grid.nonEmpty, "grid must be non-empty")
    require(grid.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
      "grid must be strictly increasing")
    require(qNum >= 1 && qNum < qDen,
      s"need 1 <= qNum < qDen, got $qNum/$qDen")
    val spark = df.sparkSession
    val wt = broadcast(
      spark.createDataFrame(dpExpMechWeights(epsilon, qDen, clampUtil))
        .toDF("__util", "__w"))
    val aggs =
      sum(when(valueCol.isNotNull, 1L).otherwise(0L)).as("__n") +:
        grid.zipWithIndex.map { case (c, i) =>
          sum(when(valueCol <= lit(c), 1L).otherwise(0L)).as(s"__c$i")
        }
    val counts = df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val melted = counts
      .select(keyCols.map(col) :+ col("__n") :+
        explode(array(grid.zipWithIndex.map { case (c, i) =>
          struct(lit(i).as("gi"), lit(c).as("gv"),
            col(s"__c$i").as("cle"))
        }: _*)).as("__g"): _*)
      .select(keyCols.map(col) :+ col("__n") :+ col("__g.gi") :+
        col("__g.gv") :+ col("__g.cle"): _*)
    val util = least(
      abs(lit(qDen.toLong) * col("cle") - lit(qNum.toLong) * col("__n")),
      lit(clampUtil.toLong))
    val keyedW = Window.partitionBy(keyCols.map(col): _*)
    val cumW = keyedW.orderBy(col("gi"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = DecimalType(38, 0)
    melted
      .withColumn("__util", util)
      .join(wt, "__util")
      .withColumn("__cum", sum(col("__w")).over(cumW))
      .withColumn("__wtot", sum(col("__w")).over(keyedW))
      .withColumn("__draw", keyedUniform(keyCols, seed))
      // first candidate with cum/W > draw/2²⁸, division-free:
      // cum·2²⁸ > draw·W in exact DECIMAL(38,0) (cum ≤ |grid|·10¹²
      // ~ 10¹⁵ and draw < 2²⁸ keep both products far below 38
      // digits). W ≥ |grid| ≥ 1 guarantees the last candidate always
      // qualifies, so every observed group releases exactly one row.
      .where(col("__cum").cast(dec) * lit(268435456L).cast(dec) >
        col("__draw").cast(dec) * col("__wtot").cast(dec))
      .groupBy(keyCols.map(col): _*)
      .agg(min(struct(col("gi"), col("gv"))).as("__pick"))
      .select(keyCols.map(col) :+
        col("__pick.gv").as("released_q"): _*)
  }

  /** The per-round GLOBAL draw of [[dpTopKRelease]] — md5-uniform of
    * (round, seed) in [0, 2²⁸), computed DRIVER-side once (a literal
    * both engines share, like the weight tables — the draw depends
    * on nothing but the declared round and seed). */
  private[graft] def dpRoundDraw(round: Int, seed: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$round|$seed".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 7), 16)
  }

  /**
   * Q16 (r13): ε-DP TOP-K release via the PEELING exponential
   * mechanism — the selection release the count family can't
   * provide: publishing "the k most frequent languages/domains/
   * event types" through Q10b noisy counts leaks a full histogram
   * and pays ε on every key; top-k SELECTION releases only k
   * identities, the standard exponential-mechanism instantiation
   * (McSherry–Talwar; the peeling variant draws k times WITHOUT
   * replacement, each round under ε/k — plain sequential
   * composition, [[dpReleaseSuite]]-ledgerable as one ε entry).
   *
   * Mechanism per round: utility u(c) = count(c), sensitivity 1, so
   * sampling ∝ e^(ε'·count/2). Shifting utilities by any
   * round-constant leaves that round's distribution unchanged (the
   * normalizer absorbs it), so weights index on the BOUNDED
   * distance-from-top of the round's REMAINING candidates,
   * u = min(max_remaining − count, clampUtil), and reuse the
   * [[dpExpMechWeights]] literal table at qDen = 1. The shift MUST
   * be per-round: referenced to the global max, every later round's
   * candidates sit far below it and their weights all collapse onto
   * the 10⁻¹² grid floor — degrading the peel to a uniform draw
   * (caught by the concentration spec). Candidates further than
   * clampUtil below the round top carry the floor weight (the
   * documented tail approximation). Candidates are a PUBLIC
   * `domain` (the Q10b membership-safety lesson): zero-count domain
   * keys are real candidates, observed non-domain keys are never
   * released.
   *
   * DETERMINISM (the house Q10 contract): round r's draw is the
   * md5-uniform of (r, seed) — a DRIVER-computed literal both
   * engines share ([[dpRoundDraw]]) — and the pick is the first
   * candidate in key order whose cumulative weight beats the draw's
   * share, the Q13 division-free DECIMAL(38,0) comparison. One
   * release is bit-reproducible; rotate seeds per release.
   *
   * Scale: ONE partial-aggregated corpus scan produces the counts;
   * everything after runs on the BOUNDED public domain (the
   * global-order window rides ≤ |domain| rows — the bounded-domain
   * window contract), with k unrolled rounds of
   * (anti-join → cumulative window → one-row pick). No driver
   * collect beyond the domain-size require.
   *
   * Output: (rank 1..k, released key under the domain column's
   * name) — identities only, no counts (compose a Q10b release
   * under additional budget when magnitudes are needed).
   */
  def dpTopKRelease(
      df: DataFrame, keyCol: Column, domain: DataFrame,
      domainCol: String, k: Int, epsilon: Double, seed: Long,
      clampUtil: Int = 400): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(k >= 1, s"k must be >= 1, got $k")
    require(epsilon > 0.0, s"epsilon must be positive, got $epsilon")
    val spark = df.sparkSession
    val dom = Barrier.barrier(
      domain.select(col(domainCol).as("__k")).distinct())
    val nDom = dom.count()
    require(k <= nDom,
      s"k = $k exceeds the public domain size $nDom")
    val wt = broadcast(
      spark.createDataFrame(
        dpExpMechWeights(epsilon / k, 1, clampUtil))
        .toDF("__util", "__w"))
    val counts = df.where(keyCol.isNotNull)
      .groupBy(keyCol.as("__k")).agg(count(lit(1)).as("__c"))
    val full = Barrier.barrier(dom.join(counts, Seq("__k"), "left")
      .select(col("__k"), coalesce(col("__c"), lit(0L)).as("__c")))
    val dec = DecimalType(38, 0)
    val cumW = Window.orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var excluded: DataFrame = null
    val picks = (1 to k).map { r =>
      val cand =
        if (excluded == null) full
        else full.join(excluded, Seq("__k"), "left_anti")
      // per-round shift: distance from the ROUND's max (see doc)
      val maxRow = cand.agg(max(col("__c")).as("__mx"))
      val scored = cand
        .crossJoin(broadcast(maxRow))
        .withColumn("__util",
          least(col("__mx") - col("__c"), lit(clampUtil.toLong))
            .cast("int"))
        .join(wt, "__util")
        .select("__k", "__w")
      val tot = scored.agg(sum(col("__w")).as("__wt"))
      val draw = dpRoundDraw(r, seed)
      val pick = Barrier.barrier(scored
        .withColumn("__cum", sum(col("__w")).over(cumW))
        .crossJoin(broadcast(tot))
        .where(col("__cum").cast(dec) * lit(268435456L).cast(dec) >
          lit(draw).cast(dec) * col("__wt").cast(dec))
        .groupBy().agg(min(col("__k")).as("__k")))
      excluded =
        if (excluded == null) pick
        else excluded.unionByName(pick).barriered
      (r, pick)
    }
    picks.map { case (r, p) =>
      p.select(lit(r).as("rank"), col("__k").as(domainCol))
    }.reduce(_.unionByName(_)).orderBy("rank")
  }

  /** One declared release in a [[dpReleaseSuite]]: a stable name
    * (the ledger key — must be unique within the suite), its ε in
    * EXACT micro-units (1 ε = 1 000 000 — integer so the ledger
    * arithmetic is engine-free), the release thunk (invoked only
    * once the whole suite's budget clears), and optionally the
    * released value column to total in the ledger audit.
    *
    * Q17 fields (both optional; [[dpReleaseSuite]] ignores them and
    * charges sequentially): `parallelGroup` claims McSherry parallel
    * composition with every other release in the same group —
    * legitimate ONLY over disjoint key domains, so a grouped release
    * MUST also declare `domain` (a one-column frame of the partition
    * keys its mechanism touches) for
    * [[dpReleaseSuitePartitioned]] to VERIFY the disjointness before
    * anything runs. `keyCol` (r15, ADVICE fix) names the OUTPUT
    * column carrying the release's partition keys (e.g.
    * [[dpCountReleaseOverDomain]]'s key column) — when declared on a
    * grouped release, the ledger additionally asserts the released
    * keys ⊆ the declared domain AFTER running the thunk, catching a
    * mechanism that was mis-declared (grouping over keys outside its
    * claimed domain). */
  final case class DpDeclaredRelease(
      name: String,
      epsilonMicro: Long,
      release: () => DataFrame,
      totalCol: Option[String] = None,
      parallelGroup: Option[String] = None,
      domain: Option[() => DataFrame] = None,
      keyCol: Option[String] = None)

  /**
   * Q15 (r13): ε-budget composition ledger — the accounting layer
   * that turns Q10–Q14 from per-mechanism releases into a RELEASE
   * SUITE: a real datasheet publishes counts AND sums AND quantiles
   * AND histograms over the same dataset, and under sequential
   * composition (Dwork & Roth, Thm 3.16) those releases spend a
   * COMBINED budget Σεᵢ — per-mechanism ε bookkeeping alone lets a
   * team silently publish 10ε of releases one ε at a time. The suite
   * declares every release (name, ε) up front against a declared
   * budget; the ledger is the auditable spend record.
   *
   * REFUSAL SEMANTICS: if Σεᵢ exceeds the budget the suite throws
   * BEFORE invoking any release thunk — a partially-executed suite
   * under a blown budget is itself a leak (the first k releases
   * would stand published while the accounting failed), so the check
   * is all-or-nothing and data-free (pure declared-literal
   * arithmetic; no corpus scan happens on the refusal path).
   *
   * ε values are EXACT integer micro-units (the caller converts
   * once); cumulative spend and remaining budget are exact long
   * sums — no float accumulation anywhere, both engines replay the
   * ledger bit-identically. Per release the ledger also audits the
   * OUTPUT: n_rows (the released row count — for domain/histogram
   * releases a data-INDEPENDENT constant, which the gate asserts)
   * and released_total (the sum of the released value column when
   * `totalCol` is declared — exact BIGINT, tying the ledger row to
   * the actual mechanism output it accounts for).
   *
   * Composition fine print (documented, standard): sequential
   * composition is the worst-case bound — releases over provably
   * DISJOINT populations could claim parallel composition instead,
   * and the per-mechanism determinism contract (Q10) means the
   * budget is spent once per (data, seed); rotating seeds per
   * release is what makes Σεᵢ the right ledger.
   *
   * Scale: the ledger arithmetic is driver-side over the declared
   * list (bounded — a suite is tens of releases, never corpus-
   * sized); each release contributes one aggregate over its own
   * mechanism output (the mechanism's documented one-scan cost),
   * unioned into the bounded ledger frame. Nothing corpus-sized
   * crosses the driver.
   *
   * Output: (seq, release, eps_micro, cum_eps_micro, budget_micro,
   * remaining_micro, n_rows, released_total), ordered by seq.
   */
  def dpReleaseSuite(
      releases: Seq[DpDeclaredRelease],
      budgetMicro: Long): DataFrame = {
    require(releases.nonEmpty, "need at least one declared release")
    require(budgetMicro > 0L,
      s"budget must be positive, got $budgetMicro")
    require(releases.map(_.name).distinct.size == releases.size,
      "release names must be unique within a suite")
    releases.foreach(r => require(r.epsilonMicro > 0L,
      s"release '${r.name}' must declare a positive epsilon, got " +
        s"${r.epsilonMicro}"))
    val cums = releases.scanLeft(0L)(_ + _.epsilonMicro).tail
    val total = cums.last
    if (total > budgetMicro)
      throw new IllegalStateException(
        s"ε budget exceeded: declared suite spends $total µε against " +
          s"a budget of $budgetMicro µε — refusing to run ANY " +
          "release (all-or-nothing; trim the suite or raise the " +
          "budget)")
    // Thunks run once each; audits execute as ONE batched union job
    // (r16 optimization — [[dpBatchedAudits]]: the ledger constants
    // are attached driver-side AFTER the collect, so no per-branch
    // long literal ever inlines into generated code).
    val outs = releases.map(r => r.name -> r.release()).toMap
    val audits = dpBatchedAudits(releases, outs)
    dpLedgerFrame(
      releases.zip(cums).zipWithIndex.map { case ((r, cum), i) =>
        val (nRows, relTotal) = audits(i)
        org.apache.spark.sql.Row(
          i + 1, r.name, r.epsilonMicro, cum, budgetMicro,
          budgetMicro - cum, nRows, relTotal)
      },
      Seq("seq" -> false, "release" -> false, "eps_micro" -> false,
        "cum_eps_micro" -> false, "budget_micro" -> false,
        "remaining_micro" -> false, "n_rows" -> false,
        "released_total" -> true),
      outs(releases.head.name).sparkSession)
  }

  /**
   * Q17 (r14): ε-budget ledger with PARALLEL composition — the
   * accounting [[dpReleaseSuite]]'s fine print promises: releases
   * over provably DISJOINT populations spend max(εᵢ), not Σεᵢ
   * (McSherry, PINQ 2009 — each individual's data lives in exactly
   * one partition, so it faces only that partition's mechanism).
   * This is the commonest real datasheet shape — per-language /
   * per-shard / per-tenant stats — and sequential accounting
   * overcharges it by the partition count: five 0.8-ε per-shard
   * counts sequentially spend 4.0ε but actually expose any single
   * row to 0.8ε.
   *
   * DECLARED-DOMAIN DISJOINTNESS IS VERIFIED, NEVER TRUSTED: every
   * release claiming a `parallelGroup` must declare its key
   * `domain`; per group the declared domains are unioned and any key
   * claimed by two releases REFUSES the whole suite (all-or-nothing,
   * before any release thunk runs — same contract as the budget
   * refusal). Domains are PUBLIC key sets (the Q10 domain rule), so
   * the check costs one bounded aggregate per group and reveals
   * nothing private. The declarations themselves are additionally
   * checked against the MECHANISM where possible (r15, ADVICE fix):
   * a grouped release that also declares `keyCol` has its actual
   * output keys asserted ⊆ its declared domain after the thunk runs
   * — a release grouping over keys outside its claimed domain is a
   * mis-declaration that would otherwise silently earn max-ε
   * accounting it isn't entitled to. Releases whose output carries
   * no key column (scalars) can't be mechanism-checked; for those
   * the verification remains declaration-level, and the guarantee is
   * only as good as the declaration.
   *
   * Accounting (exact integer micro-ε, declared order): an ungrouped
   * release charges its ε; a grouped release charges the INCREMENT
   * it adds to its group's running max — max(0, ε − max of the
   * group's prior ε's) — so the group's total spend is exactly
   * max(εᵢ) and the cumulative column stays monotone and
   * prefix-correct. The budget check is data-free and runs FIRST
   * (declared literals only), then disjointness verification, then
   * the release thunks.
   *
   * Output: (seq, release, pgroup, eps_micro, charged_micro,
   * cum_eps_micro, budget_micro, remaining_micro, n_rows,
   * released_total), ordered by seq. `pgroup` NULL for ungrouped
   * rows; `charged_micro` is the audit's key column — a grouped
   * row charging 0 is parallel composition working.
   */
  def dpReleaseSuitePartitioned(
      releases: Seq[DpDeclaredRelease],
      budgetMicro: Long): DataFrame = {
    require(releases.nonEmpty, "need at least one declared release")
    require(budgetMicro > 0L,
      s"budget must be positive, got $budgetMicro")
    require(releases.map(_.name).distinct.size == releases.size,
      "release names must be unique within a suite")
    releases.foreach { r =>
      require(r.epsilonMicro > 0L,
        s"release '${r.name}' must declare a positive epsilon, got " +
          s"${r.epsilonMicro}")
      require(r.parallelGroup.isEmpty || r.domain.nonEmpty,
        s"release '${r.name}' claims parallel group " +
          s"'${r.parallelGroup.get}' without declaring its key " +
          "domain — disjointness must be verifiable, not trusted")
    }
    // Exact integer accounting, declared order: grouped releases
    // charge the increment to their group's running max.
    val groupMax = scala.collection.mutable.Map.empty[String, Long]
    val charges = releases.map { r =>
      r.parallelGroup match {
        case None => r.epsilonMicro
        case Some(g) =>
          val prior = groupMax.getOrElse(g, 0L)
          val charge = math.max(0L, r.epsilonMicro - prior)
          groupMax(g) = math.max(prior, r.epsilonMicro)
          charge
      }
    }
    val cums = charges.scanLeft(0L)(_ + _).tail
    val total = cums.last
    if (total > budgetMicro)
      throw new IllegalStateException(
        s"ε budget exceeded: declared suite spends $total µε under " +
          s"parallel composition against a budget of $budgetMicro " +
          "µε — refusing to run ANY release (all-or-nothing; trim " +
          "the suite or raise the budget)")
    // Disjointness verification: per group, a key declared by two
    // releases voids the parallel claim — refuse before any release
    // thunk runs.
    releases.groupBy(_.parallelGroup).foreach {
      case (Some(g), members) if members.size >= 2 =>
        val keyed = members.map { r =>
          val d = r.domain.get()
          require(d.columns.length == 1,
            s"release '${r.name}' domain must be a single key " +
              s"column, got ${d.columns.toSeq}")
          d.select(col(d.columns.head).cast("string").as("__pk"))
            .distinct()
        }.reduce(_.unionAll(_))
        val clash = keyed.groupBy("__pk").agg(count(lit(1)).as("__n"))
          .where(col("__n") > 1L)
          .orderBy("__pk").limit(1)
          .collect()
        if (clash.nonEmpty)
          throw new IllegalStateException(
            s"parallel group '$g' is NOT a partition: key " +
              s"'${clash.head.getString(0)}' is claimed by more " +
              "than one release — parallel composition does not " +
              "apply; refusing the suite")
      case _ => ()
    }
    // Mechanism-vs-declaration check (r15 ADVICE; tightened r16):
    // a grouped release declaring its output key column must have
    // actually confined itself to its declared domain — one bounded
    // anti-join COUNT per keyed release (release output is
    // domain-sized, the domain broadcasts). The refusal discloses
    // only the release name and the COUNT of escaped keys: the keys
    // themselves are the mechanism's grouped output — for a
    // mis-declared data-grouped mechanism they are private values,
    // and surfacing one in the exception would leak data on the
    // refusal path without any ε being charged (r15 ADVICE).
    //
    // Each release thunk is invoked exactly ONCE (r16 ADVICE: the
    // r15 shape ran keyed mechanisms twice — once for the probe,
    // once for the ledger aggregate); probes and audits execute as
    // TWO batched union jobs (r16 optimization — see
    // [[dpBatchedProbesAndAudits]]), keyed grouped outputs persisted
    // across them, and the BOUNDED ledger (one row per release)
    // materializes eagerly so the cache drops before returning.
    val outs = releases.map(r => r.name -> r.release()).toMap
    val audits = dpBatchedProbesAndAudits(releases, outs)
    dpLedgerFrame(
      releases.zip(charges).zip(cums).zipWithIndex.map {
        case (((r, charge), cum), i) =>
          val (nRows, relTotal) = audits(i)
          org.apache.spark.sql.Row(
            i + 1, r.name, r.parallelGroup.orNull, r.epsilonMicro,
            charge, cum, budgetMicro, budgetMicro - cum,
            nRows, relTotal)
      },
      Seq("seq" -> false, "release" -> false, "pgroup" -> true,
        "eps_micro" -> false, "charged_micro" -> false,
        "cum_eps_micro" -> false, "budget_micro" -> false,
        "remaining_micro" -> false, "n_rows" -> false,
        "released_total" -> true),
      outs(releases.head.name).sparkSession)
  }

  /** Batched ledger-audit execution (r16 optimization, guide
    * §1.2/§4): ONE union job over every release output instead of
    * one driver action per release. The branch key is a STRING
    * literal — string literals enter generated code through the
    * codegen reference array, so every branch shares ONE whole-
    * stage-codegen class; an int/long `lit(i)` would inline into the
    * generated source and serialize N distinct janino compiles,
    * which profiling showed to be the dominant cost of wide release
    * suites (q348's 72-branch audit union: 15.3 s with per-branch
    * codegen classes, 4.6 s with codegen disabled — the delta is
    * compilation, not execution). Returns per-release (n_rows,
    * released_total) in declared order. */
  private def dpBatchedAudits(
      releases: Seq[DpDeclaredRelease],
      outs: Map[String, DataFrame]): Seq[(Long, Any)] = {
    val audits = releases.zipWithIndex.map { case (r, i) =>
      val totalAgg = r.totalCol
        .map(c => sum(col(c).cast("long")))
        .getOrElse(first(lit(null).cast("long")))
      outs(r.name)
        .agg(count(lit(1)).as("n_rows"),
          totalAgg.as("released_total"))
        .select(lit(i.toString).as("__i"), col("n_rows"),
          col("released_total"))
    }.reduce(_.unionAll(_))
      .collect()
      .map(row => row.getString(0).toInt ->
        ((row.getLong(1),
          if (row.isNullAt(2)) null else row.getLong(2)): (Long, Any)))
      .toMap
    releases.indices.map(audits)
  }

  /** Batched probe + audit execution for the partitioned suites
    * (r16 optimization): the r15 shape ran TWO driver actions PER
    * release (containment-probe count + ledger audit — q348's 72
    * releases cost 144 sequential Spark jobs, 28.7 s at sf0.1);
    * here every release's ledger audit AND containment-probe escape
    * count ride ONE union job (string-branch-keyed per
    * [[dpBatchedAudits]]'s codegen-dedup rule; the probe aggregate
    * attaches to its release's audit row through a one-row cross
    * join — the house BroadcastNestedLoopJoin contract). Measured:
    * persist() + two separate union jobs cost 33 s for 72 releases
    * (72 InMemoryRelation builds dominate); the single
    * recompute-shared job runs the release pipelines once with
    * their groupBy exchanges reused across consumers. Thunks still
    * run exactly once; refusal ORDER and messages are unchanged —
    * escape counts are checked in declared order before any ledger
    * row is built, and the FIRST release with escaped keys throws
    * the identical count-only exception. Returns the per-release
    * (n_rows, released_total) audits in declared order. */
  private def dpBatchedProbesAndAudits(
      releases: Seq[DpDeclaredRelease],
      outs: Map[String, DataFrame]): Seq[(Long, Any)] = {
    val rows = releases.zipWithIndex.map { case (r, i) =>
      val totalAgg = r.totalCol
        .map(c => sum(col(c).cast("long")))
        .getOrElse(first(lit(null).cast("long")))
      val audit = outs(r.name)
        .agg(count(lit(1)).as("n_rows"),
          totalAgg.as("released_total"))
      val probed = r.parallelGroup.nonEmpty && r.keyCol.nonEmpty &&
        r.domain.nonEmpty
      val withEsc =
        if (probed) {
          val d = r.domain.get()
          require(d.columns.length == 1,
            s"release '${r.name}' domain must be a single key " +
              s"column, got ${d.columns.toSeq}")
          audit.crossJoin(outs(r.name)
            .select(col(r.keyCol.get).cast("string").as("__rk"))
            .distinct()
            .join(broadcast(d.select(col(d.columns.head)
                .cast("string").as("__rk")).distinct()),
              Seq("__rk"), "left_anti")
            .agg(count(lit(1)).as("__esc")))
        } else audit.withColumn("__esc", lit(-1L))
      withEsc.select(lit(i.toString).as("__i"), col("n_rows"),
        col("released_total"), col("__esc"))
    }.reduce(_.unionAll(_)).collect()
    val byI = rows.map(r => r.getString(0).toInt -> r).toMap
    releases.zipWithIndex.foreach { case (r, i) =>
      val nEscaped = byI(i).getLong(3)
      if (nEscaped > 0L)
        throw new IllegalStateException(
          s"release '${r.name}' in parallel group " +
            s"'${r.parallelGroup.get}' released $nEscaped " +
            "key(s) OUTSIDE its declared domain — the " +
            "parallel-composition claim is mis-declared; " +
            "refusing the suite (escaped key values are " +
            "data-derived and are not disclosed)")
    }
    releases.indices.map { i =>
      val row = byI(i)
      (row.getLong(1),
        if (row.isNullAt(2)) null else row.getLong(2)): (Long, Any)
    }
  }

  /** Materialize a bounded ledger as a local DataFrame: `fields` is
    * (name, nullable); `seq` is INT, `release`/`pgroup` STRING,
    * everything else BIGINT. */
  private def dpLedgerFrame(
      rows: Seq[org.apache.spark.sql.Row],
      fields: Seq[(String, Boolean)],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(fields.map { case (n, nullable) =>
      val dt = n match {
        case "seq" | "delta_pow10" => IntegerType
        case "release" | "pgroup" => StringType
        case _ => LongType
      }
      StructField(n, dt, nullable)
    })
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).orderBy("seq")
  }

  /**
   * Q19 (r15): ρ-zCDP ledger — ADVANCED composition for the release
   * suite: basic Σεᵢ accounting (the [[dpReleaseSuite]] worst case)
   * is loose once a datasheet refreshes the same stats week after
   * week; zero-concentrated DP (Bun & Steinke 2016) composes
   * QUADRATICALLY instead: a pure ε-DP mechanism is (ε²/2)-zCDP
   * (their Prop 1.4), zCDP parameters ADD under composition, and
   * Σρ converts back to (ε(δ), δ)-DP at any declared δ via
   * ε(δ) = ρ + 2√(ρ·ln(1/δ)) (Prop 1.3). For k releases at small ε
   * the converted spend grows like √k, not k — the accounting real
   * DP deployments run once release counts grow.
   *
   * EXACT-REPLAY ARITHMETIC (the ledger discipline): ε stays in
   * integer micro units; ρ_micro = ⌈ε_micro²/(2·10⁶)⌉ (ceiling —
   * accounting rounds AGAINST the publisher); cumulative ρ is an
   * exact long sum; δ is declared as a power of ten (`deltaPow10`,
   * δ = 10^−d) so ln(1/δ) = d·ln(10) is one driver-side literal
   * rounded to the micro grid; the conversion
   * ε(δ)_micro = cumρ + ⌈2·√(cumρ·ln(1/δ)_micro)⌉ multiplies two
   * longs whose product stays far below 2⁵³, so the IEEE √ is taken
   * on an exactly-represented integer — bit-identical on any
   * engine, and the oracle pins every ledger cell as a literal.
   *
   * REFUSAL SEMANTICS (inherited from [[dpReleaseSuite]]): if the
   * suite's final converted ε(δ) exceeds the budget the suite
   * throws BEFORE invoking any release thunk — data-free, all-or-
   * nothing. Parallel-group claims are NOT honored here (ρ
   * accounting below is sequential; combining McSherry partitioning
   * with zCDP is documented future work) — a release declaring a
   * `parallelGroup` refuses, so a caller cannot silently lose the
   * parallel discount by switching suites.
   *
   * Scale: identical to [[dpReleaseSuite]] — driver-side arithmetic
   * over the bounded declared list, one aggregate per release
   * output.
   *
   * Output: (seq, release, eps_micro, rho_micro, cum_rho_micro,
   * eps_at_delta_micro, delta_pow10, budget_micro, remaining_micro,
   * n_rows, released_total), ordered by seq; remaining_micro =
   * budget − ε(δ) after this release (the converted spend, not Σε).
   */
  def dpReleaseSuiteZcdp(
      releases: Seq[DpDeclaredRelease],
      budgetMicro: Long,
      deltaPow10: Int): DataFrame = {
    val acct = zcdpSuitePreflight(releases, budgetMicro, deltaPow10)
    // Thunks run once each; audits execute as ONE batched union job
    // (r16 optimization — [[dpBatchedAudits]]; ledger constants
    // attached driver-side after the collect).
    val outs = releases.map(r => r.name -> r.release()).toMap
    val audits = dpBatchedAudits(releases, outs)
    zcdpLedger(releases, acct, audits, budgetMicro, deltaPow10,
      outs(releases.head.name).sparkSession)
  }

  /** The Q19 pre-thunk phase, shared by the generic and the r17
    * batched-family paths: declaration requires + the data-free
    * budget refusal. Returns the per-release accounting. */
  private def zcdpSuitePreflight(
      releases: Seq[DpDeclaredRelease],
      budgetMicro: Long,
      deltaPow10: Int): Seq[(Long, Long, Long)] = {
    require(releases.nonEmpty, "need at least one declared release")
    require(budgetMicro > 0L,
      s"budget must be positive, got $budgetMicro")
    require(deltaPow10 >= 1 && deltaPow10 <= 18,
      s"deltaPow10 must be in [1, 18], got $deltaPow10")
    require(releases.map(_.name).distinct.size == releases.size,
      "release names must be unique within a suite")
    releases.foreach { r =>
      require(r.epsilonMicro > 0L,
        s"release '${r.name}' must declare a positive epsilon, got " +
          s"${r.epsilonMicro}")
      require(r.parallelGroup.isEmpty,
        s"release '${r.name}' claims parallel group " +
          s"'${r.parallelGroup.get}' — zCDP accounting here is " +
          "sequential-only; use dpReleaseSuiteZcdpPartitioned for " +
          "the combined parallel + zCDP discount")
    }
    val acct = zcdpAccounting(
      releases.map(_.epsilonMicro), deltaPow10)
    val total = acct.last._3
    if (total > budgetMicro)
      throw new IllegalStateException(
        s"ε budget exceeded: declared suite spends $total µε at " +
          s"δ = 1e-$deltaPow10 under zCDP composition against a " +
          s"budget of $budgetMicro µε — refusing to run ANY release " +
          "(all-or-nothing; trim the suite or raise the budget)")
    acct
  }

  /** The Q19 ledger assembly, shared by both execution paths. */
  private def zcdpLedger(
      releases: Seq[DpDeclaredRelease],
      acct: Seq[(Long, Long, Long)],
      audits: Seq[(Long, Any)],
      budgetMicro: Long,
      deltaPow10: Int,
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    dpLedgerFrame(
      releases.zip(acct).zipWithIndex.map {
        case ((r, (rho, cumRho, epsD)), i) =>
          val (nRows, relTotal) = audits(i)
          org.apache.spark.sql.Row(
            i + 1, r.name, r.epsilonMicro, rho, cumRho, epsD,
            deltaPow10, budgetMicro, budgetMicro - epsD,
            nRows, relTotal)
      },
      Seq("seq" -> false, "release" -> false, "eps_micro" -> false,
        "rho_micro" -> false, "cum_rho_micro" -> false,
        "eps_at_delta_micro" -> false, "delta_pow10" -> false,
        "budget_micro" -> false, "remaining_micro" -> true,
        "n_rows" -> false, "released_total" -> true),
      spark)

  /**
   * r17 optimization (VERDICT r16 ask #2 — q339): [[dpReleaseSuiteZcdp]]
   * with the audits computed from ONE combined family frame (the
   * [[dpCountReleaseFamilyOverDomain]] output) instead of a
   * per-release-branch union — refusal semantics, accounting and the
   * ledger are IDENTICAL (shared preflight + assembly; QualitySpec
   * asserts row equality against the generic path); only the
   * execution shape changes: the bounded combined rows barrier once
   * and the per-release audits ride one tiny groupBy. Release thunks
   * are NOT invoked — `combined` must carry every declared release's
   * full output tagged by `__rel`, and all releases must share one
   * `totalCol` (both verified).
   */
  def dpReleaseSuiteZcdpBatched(
      releases: Seq[DpDeclaredRelease],
      budgetMicro: Long,
      deltaPow10: Int,
      combined: DataFrame): DataFrame = {
    val acct = zcdpSuitePreflight(releases, budgetMicro, deltaPow10)
    val audits = dpFamilyAuditsFromCombined(releases, combined)
    zcdpLedger(releases, acct, audits, budgetMicro, deltaPow10,
      combined.sparkSession)
  }

  /** The Q19 ledger arithmetic, shared with the oracle generator:
    * per release (ρ_micro, cumulative ρ_micro, converted
    * ε(δ)_micro). Pure integer except the one √; its product is
    * taken in DOUBLE (overflow-proof for any guarded ε — r16) and
    * is bit-exact whenever cumρ·ln(1/δ)µ < 2⁵³ (every sane budget;
    * beyond it the conversion stays monotone and conservative-
    * enormous, so refusal semantics hold regardless). */
  private[graft] def zcdpAccounting(
      epsMicros: Seq[Long],
      deltaPow10: Int): Seq[(Long, Long, Long)] = {
    val lnInvDeltaMicro =
      math.round(deltaPow10 * math.log(10.0) * 1e6)
    var cum = 0L
    epsMicros.map { e =>
      val rho = zcdpRhoMicro(e)
      cum += rho
      val epsD = cum + math.ceil(
        2.0 * math.sqrt(cum.toDouble * lnInvDeltaMicro)).toLong
      (rho, cum, epsD)
    }
  }

  /** ρ_micro = ⌈ε_micro²/(2·10⁶)⌉ for one pure-ε release (Bun &
    * Steinke Prop 1.4, ceiling rounds against the publisher).
    * ε_micro is bounded at 3·10⁹ (ε ≤ 3000 — far beyond any sane
    * declaration) so `e·e` stays below 2⁶³ — an unchecked square
    * would overflow SILENTLY into a negative ρ that SHRINKS the
    * cumulative spend (r15 ADVICE). */
  private[graft] def zcdpRhoMicro(epsilonMicro: Long): Long = {
    require(epsilonMicro > 0L && epsilonMicro <= 3000000000L,
      s"epsilonMicro must be in (0, 3e9] (ε ≤ 3000) — got " +
        s"$epsilonMicro; the squared micro-ε would overflow Long " +
        "and corrupt the ρ ledger")
    (epsilonMicro * epsilonMicro + 1999999L) / 2000000L
  }

  /**
   * Q21 (r16): ρ-zCDP ledger WITH parallel composition — the
   * composition real partitioned datasheets need and neither parent
   * could give alone (VERDICT r15 ask #1): [[dpReleaseSuiteZcdp]]
   * (Q19) prices k refreshes at √k but refuses parallel claims;
   * [[dpReleaseSuitePartitioned]] (Q17) prices disjoint shards at
   * max(ε) but treats a shard refreshed twice as a domain CLASH. A
   * per-shard weekly release suite — the commonest production shape
   * — therefore had to pick one discount and forfeit the other.
   *
   * COMPOSITION RULE (both classical): within a parallel group
   * (one shard, refreshed k times over the SAME population) zCDP
   * parameters ADD — Σρ per group (Bun & Steinke Lemma 1.7 /
   * sequential composition); ACROSS groups whose key domains are
   * provably disjoint, an adjacent record lives in at most one
   * shard, so only that shard's mechanisms see the change and the
   * whole suite is max-over-groups zCDP (McSherry partitioning
   * lifted to zCDP — the standard argument: the released transcript
   * over every OTHER group is identically distributed on adjacent
   * inputs). Ungrouped releases see the full data and add
   * sequentially on top:
   *
   *   ρ_eff = Σρ(ungrouped) + max over groups g of Σρ(members of g)
   *
   * converted at the declared δ via the Q19 grid arithmetic
   * (ε(δ) = ρ_eff + ⌈2·√(ρ_eff·ln(1/δ)_micro)⌉, every cell exact).
   *
   * DISJOINTNESS VERIFIED, NEVER TRUSTED — with the polarity
   * INVERTED from Q17: members of ONE group may (and for refreshes
   * do) share keys — that overlap is exactly why they compose
   * sequentially; what must be disjoint is one GROUP's key domain
   * against another's, so the check unions each group's declared
   * domains and refuses if any key is claimed by two distinct
   * groups (domains are PUBLIC key sets — the Q10 domain rule — so
   * naming the clashing key reveals nothing). Keyed grouped
   * releases additionally get the Q17 mechanism-vs-declaration
   * containment probe (count-only refusal; r16 ADVICE discipline),
   * with each release thunk invoked exactly once and persisted
   * across probe + ledger aggregate.
   *
   * REFUSAL SEMANTICS: budget check FIRST and data-free (pure
   * declared-literal arithmetic — if the suite's final converted
   * ε(δ) exceeds the budget, no thunk ever runs), all-or-nothing;
   * grouped releases must declare their domain.
   *
   * Ledger semantics: releases charge in DECLARED ORDER the
   * INCREMENT of ρ_eff — a grouped release whose group's new Σρ
   * still sits below the current max-group charges 0 (the zeros ARE
   * parallel composition working, the Q17 audit rule), and the
   * converted ε(δ) column is monotone in seq because ρ_eff is.
   *
   * Scale: identical to Q17/Q19 — driver-side integer accounting
   * over the bounded declared list; per release one bounded
   * aggregate over its own (domain-sized) output; the disjointness
   * check is one bounded aggregate over the unioned PUBLIC domains.
   *
   * Output: (seq, release, pgroup, eps_micro, rho_micro,
   * scope_cum_rho_micro, charged_rho_micro, eff_rho_micro,
   * eps_at_delta_micro, delta_pow10, budget_micro, remaining_micro,
   * n_rows, released_total), ordered by seq; scope_cum_rho_micro is
   * the release's own scope (its group's Σρ, or the ungrouped Σρ)
   * after it runs; remaining_micro = budget − ε(δ) so far.
   */
  def dpReleaseSuiteZcdpPartitioned(
      releases: Seq[DpDeclaredRelease],
      budgetMicro: Long,
      deltaPow10: Int): DataFrame = {
    val acct = zcdpPartitionedPreflight(releases, budgetMicro,
      deltaPow10)
    // Thunks run only now: once each; probes and audits execute as
    // TWO batched union jobs (r16 optimization — see
    // [[dpBatchedProbesAndAudits]]: 144 sequential jobs → 2 for
    // q348's 72 releases), keyed grouped outputs persisted across
    // them (r16 ADVICE single-invocation contract kept).
    val outs = releases.map(r => r.name -> r.release()).toMap
    val audits = dpBatchedProbesAndAudits(releases, outs)
    zcdpPartitionedLedger(releases, acct, audits, budgetMicro,
      deltaPow10, outs(releases.head.name).sparkSession)
  }

  /** The Q21 pre-thunk phase, shared by the generic and the r17
    * batched-family paths: declaration requires, the data-free
    * budget refusal, and the cross-group disjointness refusal.
    * Returns the per-release accounting. */
  private def zcdpPartitionedPreflight(
      releases: Seq[DpDeclaredRelease],
      budgetMicro: Long,
      deltaPow10: Int): Seq[(Long, Long, Long, Long, Long)] = {
    require(releases.nonEmpty, "need at least one declared release")
    require(budgetMicro > 0L,
      s"budget must be positive, got $budgetMicro")
    require(deltaPow10 >= 1 && deltaPow10 <= 18,
      s"deltaPow10 must be in [1, 18], got $deltaPow10")
    require(releases.map(_.name).distinct.size == releases.size,
      "release names must be unique within a suite")
    releases.foreach { r =>
      require(r.parallelGroup.isEmpty || r.domain.nonEmpty,
        s"release '${r.name}' claims parallel group " +
          s"'${r.parallelGroup.get}' without declaring its key " +
          "domain — disjointness must be verifiable, not trusted")
    }
    // Data-free budget check FIRST: declared-literal arithmetic.
    val acct = zcdpParallelAccounting(
      releases.map(r => (r.parallelGroup, r.epsilonMicro)),
      deltaPow10)
    val total = acct.last._5
    if (total > budgetMicro)
      throw new IllegalStateException(
        s"ε budget exceeded: declared suite spends $total µε at " +
          s"δ = 1e-$deltaPow10 under zCDP parallel composition " +
          s"against a budget of $budgetMicro µε — refusing to run " +
          "ANY release (all-or-nothing; trim the suite or raise " +
          "the budget)")
    // CROSS-GROUP disjointness: a key in two distinct groups'
    // declared domains voids max-over-groups. Public domains only.
    val groups = releases
      .filter(_.parallelGroup.nonEmpty)
      .groupBy(_.parallelGroup.get)
    if (groups.size >= 2) {
      val tagged = groups.toSeq.map { case (g, members) =>
        members.map { r =>
          val d = r.domain.get()
          require(d.columns.length == 1,
            s"release '${r.name}' domain must be a single key " +
              s"column, got ${d.columns.toSeq}")
          d.select(col(d.columns.head).cast("string").as("__pk"))
        }.reduce(_.unionAll(_)).distinct()
          .select(col("__pk"), lit(g).as("__g"))
      }.reduce(_.unionAll(_))
      val clash = tagged
        .groupBy("__pk")
        .agg(countDistinct(col("__g")).as("__ng"))
        .where(col("__ng") > 1L)
        .orderBy("__pk").limit(1)
        .collect()
      if (clash.nonEmpty)
        throw new IllegalStateException(
          s"parallel groups are NOT a partition: key " +
            s"'${clash.head.getString(0)}' is claimed by more than " +
            "one group's declared domain — max-over-groups zCDP " +
            "does not apply; refusing the suite")
    }
    acct
  }

  /** The Q21 ledger assembly, shared by both execution paths. */
  private def zcdpPartitionedLedger(
      releases: Seq[DpDeclaredRelease],
      acct: Seq[(Long, Long, Long, Long, Long)],
      audits: Seq[(Long, Any)],
      budgetMicro: Long,
      deltaPow10: Int,
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    dpLedgerFrame(
      releases.zip(acct).zipWithIndex.map {
        case ((r, (rho, scopeCum, charged, eff, epsD)), i) =>
          val (nRows, relTotal) = audits(i)
          org.apache.spark.sql.Row(
            i + 1, r.name, r.parallelGroup.orNull, r.epsilonMicro,
            rho, scopeCum, charged, eff, epsD, deltaPow10,
            budgetMicro, budgetMicro - epsD, nRows, relTotal)
      },
      Seq("seq" -> false, "release" -> false, "pgroup" -> true,
        "eps_micro" -> false, "rho_micro" -> false,
        "scope_cum_rho_micro" -> false,
        "charged_rho_micro" -> false, "eff_rho_micro" -> false,
        "eps_at_delta_micro" -> false, "delta_pow10" -> false,
        "budget_micro" -> false, "remaining_micro" -> true,
        "n_rows" -> false, "released_total" -> true),
      spark)

  /**
   * r17 optimization (VERDICT r16 ask #1 — q348): the Q21 suite with
   * audits + containment probes computed from ONE combined family
   * frame (the [[dpCountReleaseFamilyOverDomain]] output) instead of
   * a union job carrying two aggregate subtrees per release — the
   * r16 q348 residual (13.1 s driver-measured at sf0.1) was exactly
   * that 144-subtree plan. Refusal semantics (budget first,
   * data-free; cross-group disjointness; per-release containment in
   * declared order with count-only disclosure), accounting and the
   * ledger are IDENTICAL to [[dpReleaseSuiteZcdpPartitioned]]
   * (shared preflight + assembly; QualitySpec asserts row equality).
   * Release thunks are NOT invoked — `combined` must carry every
   * declared release's full output tagged by `__rel`, and all
   * releases must share one `totalCol` (both verified).
   */
  def dpReleaseSuiteZcdpPartitionedBatched(
      releases: Seq[DpDeclaredRelease],
      budgetMicro: Long,
      deltaPow10: Int,
      combined: DataFrame): DataFrame = {
    val acct = zcdpPartitionedPreflight(releases, budgetMicro,
      deltaPow10)
    val audits = dpFamilyAuditsFromCombined(releases, combined)
    zcdpPartitionedLedger(releases, acct, audits, budgetMicro,
      deltaPow10, combined.sparkSession)
  }

  /**
   * Audits + Q17 containment probes for a uniform release family,
   * computed from ONE combined frame (r17 — guide §1.2/§4): the
   * bounded (release × domain key) rows barrier once (one job), then
   * the per-release ledger audit rides one tiny groupBy and the
   * containment probe one tiny anti-join — 3 bounded jobs total for
   * ANY family size. Refusal order and messages match
   * [[dpBatchedProbesAndAudits]] exactly: escape counts are checked
   * in declared order before any ledger row is built, count-only
   * disclosure. A `__rel` tag naming no declared release refuses
   * too, checked on the same per-release aggregate (no extra job).
   * Returns per-release (n_rows, released_total) in declared order.
   */
  private def dpFamilyAuditsFromCombined(
      releases: Seq[DpDeclaredRelease],
      combined: DataFrame): Seq[(Long, Any)] = {
    val totalCols = releases.map(_.totalCol).distinct
    require(totalCols.size == 1,
      "a batched release family must share one totalCol, got " +
        totalCols.mkString(", "))
    require(combined.columns.contains("__rel"),
      "combined family frame must tag rows with __rel")
    val cp = Barrier.barrier(combined)
    try {
      val totalAgg = totalCols.head
        .map(c => sum(col(c).cast("long")))
        .getOrElse(first(lit(null).cast("long")))
      val byRel = cp.groupBy(col("__rel"))
        .agg(count(lit(1)).as("n_rows"),
          totalAgg.as("released_total"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1),
            if (r.isNullAt(2)) null else r.getLong(2)): (Long, Any)))
        .toMap
      releases.foreach(r => require(byRel.contains(r.name),
        s"combined family frame carries no rows for declared " +
          s"release '${r.name}'"))
      // Rows tagged with no declared release would escape both the
      // containment probe and the ledger.
      val undeclared = byRel.keySet -- releases.map(_.name)
      require(undeclared.isEmpty,
        s"combined family frame carries ${undeclared.size} __rel " +
          "tag(s) naming no declared release: " +
          undeclared.toSeq.map(String.valueOf).sorted.mkString(", "))
      // Containment probe (grouped keyed releases only): released
      // keys ⊆ declared domain, verified against the combined rows.
      val probed = releases.filter(r =>
        r.parallelGroup.nonEmpty && r.keyCol.nonEmpty &&
          r.domain.nonEmpty)
      val escByRel: Map[String, Long] =
        if (probed.isEmpty) Map.empty
        else {
          val keyCols = probed.map(_.keyCol.get).distinct
          require(keyCols.size == 1,
            "a batched release family must share one keyCol, got " +
              keyCols.mkString(", "))
          // Declared domains are PUBLIC bounded key sets (the Q10
          // domain rule) — collected driver-side into one local
          // (release, key) relation.
          val declRows = probed.flatMap { r =>
            val d = r.domain.get()
            require(d.columns.length == 1,
              s"release '${r.name}' domain must be a single key " +
                s"column, got ${d.columns.toSeq}")
            d.select(col(d.columns.head).cast("string").as("__pk"))
              .collect().map(_.getString(0)).distinct
              .map(k => (r.name, k))
          }
          val declDf = combined.sparkSession
            .createDataFrame(declRows).toDF("__rel", "__pk")
          cp.select(col("__rel"),
              col(keyCols.head).cast("string").as("__pk"))
            .where(col("__rel").isin(probed.map(_.name): _*))
            .distinct()
            .join(broadcast(declDf), Seq("__rel", "__pk"),
              "left_anti")
            .groupBy("__rel").agg(count(lit(1)).as("__esc"))
            .collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        }
      releases.foreach { r =>
        val probedR = r.parallelGroup.nonEmpty &&
          r.keyCol.nonEmpty && r.domain.nonEmpty
        val nEscaped = escByRel.getOrElse(r.name, 0L)
        if (probedR && nEscaped > 0L)
          throw new IllegalStateException(
            s"release '${r.name}' in parallel group " +
              s"'${r.parallelGroup.get}' released $nEscaped " +
              "key(s) OUTSIDE its declared domain — the " +
              "parallel-composition claim is mis-declared; " +
              "refusing the suite (escaped key values are " +
              "data-derived and are not disclosed)")
      }
      releases.map(r => byRel(r.name))
    } finally Barrier.free(cp)
  }

  /** The Q21 ledger arithmetic, shared with the oracle generator:
    * per release (ρ, scope-cum ρ, charged Δρ_eff, ρ_eff, converted
    * ε(δ)) — ρ_eff = Σρ(ungrouped) + max over groups of the group's
    * running Σρ, every cell exact on the micro grid. */
  private[graft] def zcdpParallelAccounting(
      entries: Seq[(Option[String], Long)],
      deltaPow10: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val lnInvDeltaMicro =
      math.round(deltaPow10 * math.log(10.0) * 1e6)
    val groupCum = scala.collection.mutable.Map.empty[String, Long]
    var ungroupedCum = 0L
    var effPrev = 0L
    entries.map { case (group, epsMicro) =>
      val rho = zcdpRhoMicro(epsMicro)
      val scopeCum = group match {
        case None =>
          ungroupedCum += rho; ungroupedCum
        case Some(g) =>
          val c = groupCum.getOrElse(g, 0L) + rho
          groupCum(g) = c; c
      }
      val eff = ungroupedCum +
        (if (groupCum.isEmpty) 0L else groupCum.values.max)
      val charged = eff - effPrev
      effPrev = eff
      val epsD = eff + math.ceil(
        2.0 * math.sqrt(eff.toDouble * lnInvDeltaMicro)).toLong
      (rho, scopeCum, charged, eff, epsD)
    }
  }

  def aaSequentialBattery(
      df: DataFrame, dayCol: Column, unitCol: Column,
      replicates: Int, alarmP: Double = 0.001): DataFrame = {
    require(replicates >= 1,
      s"replicates must be >= 1, got $replicates")
    require(alarmP > 0.0 && alarmP < 1.0,
      s"alarmP must be in (0,1), got $alarmP")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val grid = broadcast(
      spark.createDataFrame((1 to replicates).map(Tuple1(_)))
        .toDF("replicate"))
    val arm = mix31(unitCol, col("replicate")) % 2 === 0
    val daily = df
      .where(dayCol.isNotNull && unitCol.isNotNull)
      .crossJoin(grid)
      .groupBy(col("replicate"), dayCol.as("day"))
      .agg(
        count(lit(1)).as("__n"),
        sum(when(arm, 1L).otherwise(0L)).as("__narm"))
    val wRun = Window.partitionBy(col("replicate")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.select(
      col("replicate"),
      row_number().over(
        Window.partitionBy(col("replicate")).orderBy(col("day")))
        .as("look"),
      sum(col("__n")).over(wRun).as("n"),
      sum(col("__narm")).over(wRun).as("n_arm"))
    val z = round(
      (col("n_arm").cast("double") - col("n").cast("double") * 0.5)
        / sqrt(col("n").cast("double") * 0.25), 6)
    val scored = cum
      .withColumn("p_value", round(normalTwoSidedP(z), 6))
      .withColumn("alarm", col("p_value") < alarmP)
    scored
      .groupBy("replicate")
      .agg(
        count(lit(1)).as("n_looks"),
        min(col("p_value")).as("min_p"),
        max(col("alarm")).as("any_alarm"),
        coalesce(min(when(col("alarm"), col("look"))), lit(0))
          .as("first_alarm_look"))
  }

  /**
   * E38: sequential SRM monitor — [[srmCheck]] unrolled over daily
   * looks (the [[sequentialMonitor]] companion): assignment plumbing
   * doesn't break at launch only — a mid-flight config push, a bot
   * wave, or a one-sided logging outage skews the split on day 9 of
   * a 30-day test, and the end-of-test SRM check then reads a
   * diluted signal. Per look (calendar day, cumulative): counts,
   * observed share, the one-proportion z against `expectedShare`,
   * p via the house erf polynomial, the p < 0.001 alarm, and a
   * `first_alarm` marker — the earliest day the experiment was
   * provably broken (everything after is triage, not readout).
   *
   * Mechanics are [[sequentialMonitor]]'s bounded-look contract: one
   * day aggregate (partial-aggregated), then cumulative window sums
   * over the DAY table (q90 global-window contract — rows = distinct
   * days, bounded by the calendar, never the corpus); z rounds to
   * 6dp before p (q229/q270 recipe), z signed (+0.0 oracle-side).
   */
  def srmMonitor(
      df: DataFrame, dayCol: Column, armCol: Column,
      expectedShare: Double = 0.5): DataFrame = {
    require(expectedShare > 0.0 && expectedShare < 1.0,
      s"expectedShare must be in (0,1), got $expectedShare")
    import org.apache.spark.sql.expressions.Window
    val p0 = lit(expectedShare)
    val daily = df
      .where(dayCol.isNotNull && armCol.isNotNull)
      .groupBy(dayCol.as("day"))
      .agg(
        count(lit(1)).as("__n"),
        sum(when(armCol, 1L).otherwise(0L)).as("__narm"))
    val wRun = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = daily.select(
      col("day"),
      row_number().over(Window.orderBy(col("day"))).as("look"),
      sum(col("__n")).over(wRun).as("n"),
      sum(col("__narm")).over(wRun).as("n_arm"))
    val z = round(
      (col("n_arm").cast("double") - col("n").cast("double") * p0)
        / sqrt(col("n").cast("double") * p0 * (lit(1.0) - p0)), 6)
    val scored = cum
      .withColumn("observed_share",
        round(col("n_arm").cast("double") / col("n").cast("double"), 6))
      .withColumn("z", z)
      .withColumn("p_value", round(normalTwoSidedP(col("z")), 6))
      .withColumn("srm_alarm", col("p_value") < 0.001)
    scored
      .withColumn("first_alarm",
        col("srm_alarm") &&
          col("day") === min(when(col("srm_alarm"), col("day")))
            .over(wAll))
  }

  /**
   * E37: ratio-metric experiment readout via the delta method — the
   * readout for the metrics that dominate real dashboards
   * (revenue-per-session, clicks-per-impression, cost-per-action):
   * the metric is a ratio of per-UNIT sums, so the naive per-row
   * proportion test is wrong (rows within a unit are correlated) and
   * the unit-level ratio mean is wrong too (it weights a 1-session
   * user equally with a 100-session one). The standard fix (Deng et
   * al. 2017/2018 practice at scale) analyses R = Σx/Σy per arm with
   * Var(R) ≈ (Var x − 2R·Cov(x,y) + R²·Var y) / (n·ȳ²) by the delta
   * method, then a two-sample z on the arm difference.
   *
   * Input is ONE ROW PER UNIT (pre-aggregate upstream — that
   * aggregation is where row-level correlation gets absorbed).
   * ENGINE-EXACT: x/y quantize to DECIMAL(18,6) (the trendFit
   * contract), all five moments per arm are exact decimal sums in
   * one conditional-aggregate pass, and the finish is a fixed IEEE
   * sequence on identical doubles; z rounds to 6dp, p via the house
   * erf polynomial on the rounded z (the q229/q270 recipe). diff and
   * z are signed (+0.0 oracle-side). Degenerate segments (an arm
   * with < 2 units or zero denominator mass or a non-positive
   * variance estimate) emit NULL z/p — "untestable", distinct from
   * p = 1.
   *
   * Scale: one partial-aggregated key shuffle over unit rows.
   */
  /** The per-arm decimal moment aggregates shared by
    * [[ratioMetricReadout]] and [[mdeRatio]] — both arms' counts,
    * Σx, Σy, Σx², Σy², Σxy as exact decimals. */
  private def ratioArmMoments(
      armCol: Column, numCol: Column, denCol: Column): Seq[Column] = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 6)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 12)
    val xq = numCol.cast(d18)
    val yq = denCol.cast(d18)
    def arm(a: Boolean, c: Column): Column =
      if (a) when(armCol, c) else when(!armCol, c)
    def moments(a: Boolean, tag: String) = Seq(
      sum(arm(a, lit(1L)).otherwise(0L)).as(s"n_$tag"),
      sum(arm(a, xq)).as(s"__sx_$tag"),
      sum(arm(a, yq)).as(s"__sy_$tag"),
      sum(arm(a, (xq * xq).cast(d38))).as(s"__sxx_$tag"),
      sum(arm(a, (yq * yq).cast(d38))).as(s"__syy_$tag"),
      sum(arm(a, (xq * yq).cast(d38))).as(s"__sxy_$tag"))
    moments(true, "a") ++ moments(false, "b")
  }

  /** One arm's delta-method finish over [[ratioArmMoments]]'
    * columns: (ratio, Var(ratio)) as the exact IEEE chain both
    * engines replay. Degenerate divisors become NULL, not 0: ANSI
    * Spark throws on any /0 (and subexpression elimination hoists
    * divisions out of when() guards), while NULL propagates to the
    * same NULL the guards would emit — and matches DuckDB, where
    * double x/0 IS NULL, so the oracle's unguarded formula lands on
    * NULL too. */
  private def ratioArmFinish(tag: String): (Column, Column) = {
    val nD = col(s"n_$tag").cast("double")
    val sx = col(s"__sx_$tag").cast("double")
    val sy = col(s"__sy_$tag").cast("double")
    val sxx = col(s"__sxx_$tag").cast("double")
    val syy = col(s"__syy_$tag").cast("double")
    val sxy = col(s"__sxy_$tag").cast("double")
    val syN = when(col(s"__sy_$tag") =!= lit(BigDecimal(0)), sy)
    val nm1 = when(col(s"n_$tag") >= 2L, nD - lit(1.0))
    val r = sx / syN
    val my = syN / nD
    val varx = (sxx - sx * sx / nD) / nm1
    val vary = (syy - sy * sy / nD) / nm1
    val covxy = (sxy - sx * sy / nD) / nm1
    val vr = (varx - lit(2.0) * r * covxy + r * r * vary) /
      (nD * my * my)
    (r, vr)
  }

  def ratioMetricReadout(
      df: DataFrame, keyCols: Seq[String], armCol: Column,
      numCol: Column, denCol: Column): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val aggs = ratioArmMoments(armCol, numCol, denCol)
    val base = df
      .where(numCol.isNotNull && denCol.isNotNull && armCol.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val (ra, va) = ratioArmFinish("a")
    val (rb, vb) = ratioArmFinish("b")
    val testable = col("n_a") >= 2L && col("n_b") >= 2L &&
      col("__sy_a") =!= lit(BigDecimal(0)) &&
      col("__sy_b") =!= lit(BigDecimal(0))
    val z = round((ra - rb) / sqrt(va + vb), 6)
    base
      .withColumn("ratio_a",
        when(col("__sy_a") =!= lit(BigDecimal(0)), round(ra, 6)))
      .withColumn("ratio_b",
        when(col("__sy_b") =!= lit(BigDecimal(0)), round(rb, 6)))
      .withColumn("diff",
        when(testable, round(ra - rb, 6)))
      .withColumn("z", when(testable && (va + vb) > 0.0, z))
      .withColumn("p_value", round(normalTwoSidedP(col("z")), 6))
      .select(keyCols.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("ratio_a"), col("ratio_b"), col("diff"), col("z"),
        col("p_value")): _*)
  }

  /**
   * E42: minimum-detectable-effect readout for RATIO metrics —
   * the delta-method sibling of [[mdeReadout]] (proportions) and
   * [[mdeContinuous]] (means), completing the design-tooling triple:
   * given each segment's observed per-arm unit counts and
   * delta-method ratio variances, the smallest ratio difference a
   * two-sample z detects at significance α and power 1−β is
   * (z_{α/2}+z_β)·√(Var_A + Var_B). Revenue-per-session /
   * clicks-per-impression experiments are DESIGNED on this number —
   * running one without it either wastes traffic or ships an
   * underpowered test.
   *
   * Input contract is [[ratioMetricReadout]]'s: ONE ROW PER UNIT;
   * the moment aggregates and the delta finish are the SHARED
   * helpers, so every exactness property (decimal moments, fixed
   * IEEE chain, NULL-not-zero divisors) is inherited verbatim; z
   * quantiles are caller literals added on both engines (the E26
   * one-ulp rule). Degenerate segments (an arm < 2 units, zero
   * denominator mass, non-positive variance) emit NULL mde;
   * `mde_rel` additionally needs a positive control ratio.
   *
   * Scale: one partial-aggregated key shuffle, one pass.
   *
   * Output: (keys..., n_a, n_b, ratio_a, ratio_b, mde_abs, mde_rel).
   */
  def mdeRatio(
      df: DataFrame, keyCols: Seq[String], armCol: Column,
      numCol: Column, denCol: Column,
      zAlpha: Double = 1.959964, zPower: Double = 0.841621): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val aggs = ratioArmMoments(armCol, numCol, denCol)
    val base = df
      .where(numCol.isNotNull && denCol.isNotNull && armCol.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val (ra, va) = ratioArmFinish("a")
    val (rb, vb) = ratioArmFinish("b")
    val testable = col("n_a") >= 2L && col("n_b") >= 2L &&
      col("__sy_a") =!= lit(BigDecimal(0)) &&
      col("__sy_b") =!= lit(BigDecimal(0))
    val mde = (lit(zAlpha) + lit(zPower)) * sqrt(va + vb)
    base.select(keyCols.map(col) ++ Seq(
      col("n_a"), col("n_b"),
      when(col("__sy_a") =!= lit(BigDecimal(0)), round(ra, 6))
        .as("ratio_a"),
      when(col("__sy_b") =!= lit(BigDecimal(0)), round(rb, 6))
        .as("ratio_b"),
      when(testable && (va + vb) > 0.0, round(mde, 6)).as("mde_abs"),
      // NULL divisor, not a bare guard: CSE hoists the division out
      // of when(), and a zero control ratio would throw under ANSI
      when(testable && (va + vb) > 0.0 && rb > 0.0,
        round(mde / when(rb > 0.0, rb), 6)).as("mde_rel")): _*)
  }
}
