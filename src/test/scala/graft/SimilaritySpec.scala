package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Unit tests for similarity search: cosine math goldens, two-phase
  * top-k vs a naive reference, and SRP-LSH bucket invariants. */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)), // near vec 0
    (2L, Array(0.0f, 1.0f, 0.0f)), // orthogonal to vec 0
    (3L, Array(-1.0f, 0.0f, 0.0f)), // opposite of vec 0
    (4L, Array(2.0f, 0.0f, 0.0f)) // same direction as vec 0, scaled
  ).toDF("vec_id", "embedding")

  test("cosine golden values: identical direction 1, orthogonal 0, opposite -1") {
    val out = Similarity.cosineTopK(
      vecs, vecs.where($"vec_id" === 0), "vec_id", "embedding", k = 4)
      .select("vec_id", "rank", "cosine")
      .as[(Long, Int, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(4L)._2 === 1.0) // scaled copy: cosine exactly 1
    assert(out(2L)._2 === 0.0)
    assert(out(3L)._2 === -1.0)
    assert(out(4L)._1 === 1) // rank 1: cosine 1.0
    assert(out(3L)._1 === 4) // rank 4 (last): cosine -1
    assert(math.abs(out(1L)._2 - 0.9 / math.sqrt(0.82)) < 1e-6)
  }

  test("two-phase top-k truncates to k with deterministic tiebreak") {
    val out = Similarity.cosineTopK(
      vecs, vecs.where($"vec_id" < 2), "vec_id", "embedding", k = 2)
    val byProbe = out.select("probe_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().groupBy(_._1)
    assert(byProbe.keySet === Set(0L, 1L))
    assert(byProbe.values.forall(_.length == 2))
    assert(byProbe(0L).map(_._2).toSet === Set(4L, 1L)) // nearest two to vec 0
  }

  test("SRP buckets: scaled copies share a bucket, opposites do not") {
    val b = vecs
      .select($"vec_id", Similarity.srpBucket($"embedding", 8).as("bucket"))
      .as[(Long, String)].collect().toMap
    assert(b.values.forall(s => s.length == 8 && s.forall(c => c == '0' || c == '1')))
    assert(b(0L) === b(4L)) // scaling never changes projection signs
    assert(b(0L) !== b(3L)) // negation flips every non-zero sign
  }

  test("ivfSearch: cell-restricted exact search finds in-cell neighbors") {
    // nlist=2 seeds are vecs 0 and 1 (lowest ids): cell 0 ≈ x-axis,
    // cell 1 ≈ still x-dominated — with nprobe=1 each probe searches
    // exactly one Voronoi cell.
    val out = Similarity.ivfSearch(
      vecs, vecs.where($"vec_id" === 0), "vec_id", "embedding",
      nlist = 2, nprobe = 1, k = 3)
      .select("vec_id", "rank", "cosine")
      .as[(Long, Int, Double)].collect().sortBy(_._2)
    // Probe 0's own cell contains the scaled copy (vec 4): rank 1, cos 1.
    assert(out.head._1 === 4L && out.head._3 === 1.0)
    assert(out.forall(_._3 >= -1.0) && out.forall(_._3 <= 1.0))
    // Self-match excluded.
    assert(!out.exists(_._1 == 0L))
  }

  test("ivfSeeds returns the nlist lowest-id vectors as double centroids") {
    val seeds = Similarity.ivfSeeds(vecs, "vec_id", "embedding", 2)
    assert(seeds === Seq(Seq(1.0, 0.0, 0.0), Seq(0.9, 0.1, 0.0).map(_.toFloat.toDouble)))
  }

  test("SrpBuckets kernel is bit-identical to the HOF srpBucket per table") {
    val out = vecs.select(
      $"vec_id",
      Similarity.srpBucketsFast($"embedding", 8, 3).as("fast"),
      org.apache.spark.sql.functions.array(
        Similarity.srpBucket($"embedding", 8, 0),
        Similarity.srpBucket($"embedding", 8, 8),
        Similarity.srpBucket($"embedding", 8, 16)).as("ref"))
      .as[(Long, Seq[String], Seq[String])].collect()
    out.foreach { case (_, fast, ref) => assert(fast === ref) }
  }

  test("lshNearDupMulti is a recall superset of the single-table variant") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val single = pairs(Similarity.lshNearDup(vecs, "vec_id", "embedding", 8, 0.5))
    val multi = pairs(Similarity.lshNearDupMulti(vecs, "vec_id", "embedding", 8, 4, 0.5))
    assert(single.subsetOf(multi)) // table 0 of multi IS the single table
    assert(multi.contains((0L, 4L))) // scaled copy always shares every bucket
  }

  test("lshNearDup finds the scaled pair with cosine 1.0, never cross-bucket") {
    val out = Similarity.lshNearDup(vecs, "vec_id", "embedding", 8, 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out.contains((0L, 4L)))
    assert(out((0L, 4L)) === 1.0)
    assert(!out.contains((0L, 3L))) // opposite: different bucket
  }

  test("VecDot kernel is bit-identical to the HOF reference, incl. edge cases") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rng.nextDouble() * 2 - 1),
        Array.fill(64)(rng.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val cmp = df.select(
      Similarity.dot(col("a"), col("b")).as("k"),
      Similarity.dotHof(col("a"), col("b")).as("h"))
      .collect()
    cmp.foreach(r => assert(r.getDouble(0) === r.getDouble(1))) // bitwise
    // Length mismatch -> NULL on both paths.
    val mm = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0)))
      .toDF("a", "b")
      .select(
        Similarity.dot(col("a"), col("b")).as("k"),
        Similarity.dotHof(col("a"), col("b")).as("h"))
      .head()
    assert(mm.isNullAt(0) && mm.isNullAt(1))
    // Float input path (raw embeddings without toDoubleVec).
    val fl = Seq((Array(1.0f, 2.0f), Array(3.0, 4.0)))
      .toDF("a", "b")
      .select(graft.functions.VecDot(col("a"), col("b")).as("k"))
      .head().getDouble(0)
    assert(fl === 11.0)
  }

  test("IVF recall audit vs brute force: nprobe=nlist is EXACT, half-probe recall holds") {
    // The quantitative claim behind the ANN path: searching every
    // cell must reproduce brute force row-for-row (same tiebreak), and
    // the actual recall/cost dial (nprobe < nlist) must retain most
    // neighbors on the real embeddings table — measured, not assumed.
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables.load(spark, dir, "embeddings")
    val probes = corpus.where(col("vec_id") < 5)
    val k = 10

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("probe_id").cast("long"), col("vec_id").cast("long"))
        .as[(Long, Long)].collect().toSet

    val exact = pairs(graft.operators.Similarity
      .cosineTopK(corpus, probes, "vec_id", "embedding", k))
    assert(exact.size === 5 * k)

    val allCells = pairs(graft.operators.Similarity
      .ivfSearch(corpus, probes, "vec_id", "embedding",
        nlist = 8, nprobe = 8, k = k))
    assert(allCells === exact,
      "IVF with nprobe = nlist must degenerate to exact search")

    val half = pairs(graft.operators.Similarity
      .ivfSearch(corpus, probes, "vec_id", "embedding",
        nlist = 8, nprobe = 4, k = k))
    val recall = exact.intersect(half).size.toDouble / exact.size
    assert(recall >= 0.5, f"IVF nprobe=4/8 recall $recall%.2f below floor")
  }

  test("trainCentroids: seeding job count is O(1) in k (single-pass pool)") {
    // The old maximin seeding ran one full-corpus scan PER seed; the
    // pool-based form runs a constant number of jobs regardless of k.
    // maxIter=1 pins the Lloyd side, so any growth in job count with
    // k would come from seeding.
    val df = (0 until 200)
      .map(i => (i.toLong, Array.tabulate(4)(d => (i * (d + 1) % 17).toFloat)))
      .toDF("vec_id", "embedding")
    def jobs(k: Int): Int = TestSpark.jobsDuring(spark)(
      Similarity.trainCentroids(df, "vec_id", "embedding", k, maxIter = 1))
      ._2.size
    val j3 = jobs(3)
    val j12 = jobs(12)
    assert(j12 === j3,
      s"seed-stage job count grew with k: k=3 -> $j3 jobs, k=12 -> $j12")
  }

  test("trainCentroids recovers separated blob centers deterministically") {
    val rng = new scala.util.Random(11)
    val centers = Seq(
      Array(5.0, 0.0, 0.0, 0.0),
      Array(0.0, 5.0, 0.0, 0.0),
      Array(0.0, 0.0, 5.0, 0.0))
    val pts = for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 60
    } yield (ci * 60L + j,
      c.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
    val df = pts.toDF("vec_id", "embedding")

    val trained = Similarity.trainCentroids(
      df, "vec_id", "embedding", k = 3, maxIter = 15)
    assert(trained.length === 3)
    // Every true center has a trained centroid within 0.15 (far below
    // the 5.0 inter-center distance).
    centers.foreach { c =>
      val best = trained.map(t =>
        math.sqrt(t.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)).min
      assert(best < 0.15, s"no trained centroid near ${c.toSeq}: $trained")
    }
    // Determinism: same input, same result.
    val again = Similarity.trainCentroids(
      df, "vec_id", "embedding", k = 3, maxIter = 15)
    assert(again === trained)
  }

  test("trainCentroids tolerates k above the natural cluster count") {
    val df = (0 until 40)
      .map(i => (i.toLong, Array.fill(3)((i % 2).toFloat)))
      .toDF("vec_id", "embedding")
    val trained = Similarity.trainCentroids(
      df, "vec_id", "embedding", k = 5, maxIter = 5)
    assert(trained.length === 5) // empty cells keep their seed centroid
  }

  test("hardNegatives: top-k closest OTHER-label vectors; same/null labels excluded") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Some(0)),
      (2L, Array(1.0f, 0.0f), Some(0)), // same label: excluded despite cos 1.0
      (3L, Array(0.95f, 0.05f), Some(1)), // hard negative -> rank 1
      (4L, Array(0.0f, 1.0f), Some(1)), // orthogonal negative -> rank 2
      (5L, Array(1.0f, 0.0f), None) // NULL label: never mined
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
        df, df.where(col("vec_id") === 1), "vec_id", "embedding", "label",
        k = 2)
      .select("probe_id", "vec_id", "label", "rank")
      .as[(Long, Long, Int, Int)].collect().toSeq.sortBy(_._4)
    assert(out === Seq((1L, 3L, 1, 1), (1L, 4L, 1, 2)))
  }

  test("hardNegatives: random-input parity with driver-side brute force") {
    val rnd = new scala.util.Random(19)
    val vecs = (1L to 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1), rnd.nextInt(4)))
    val df = vecs.toDF("vec_id", "embedding", "label")
    val k = 5
    val out = Similarity.hardNegatives(
        df, df.where(col("vec_id") <= 3), "vec_id", "embedding", "label", k)
      .select("probe_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    vecs.take(3).foreach { case (pid, pv, pl) =>
      val expect = vecs
        .filter(_._3 != pl)
        .map { case (id, v, _) => (id, cos(pv, v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(k).map(_._1)
      assert(out(pid) === expect, s"probe $pid")
    }
  }

  test("semanticDedup: min-id survivor per within-cell cosine group") {
    // Single cell (nlist=1). v2 duplicates v1 exactly; v3's cosine to
    // v1 is 0.9/0.90554 ≈ 0.9938 ≥ 0.95; v4 is orthogonal and kept.
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f)),
      (4L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity
      .semanticDedup(df, "vec_id", "embedding", minCosine = 0.95,
        nlist = Some(1))
      .select("vec_id", "dup_of", "is_kept")
      .as[(Long, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((None, true)))
    assert(out(2L) === ((Some(1L), false)))
    assert(out(3L) === ((Some(1L), false)))
    assert(out(4L) === ((None, true)))
    // Threshold above every cross-pair cosine keeps everything.
    val all = Similarity
      .semanticDedup(df, "vec_id", "embedding", minCosine = 1.01,
        nlist = Some(1))
      .where(col("is_kept")).count()
    assert(all === 4)
  }

  test("semanticDedup: auto nlist = ceil(n/targetCellSize), override wins") {
    // 10 near-orthogonal-ish vectors, targetCellSize 4 -> nlist 3:
    // the auto dial must produce cells 0..2 (3 distinct seed cells),
    // matching an explicit nlist = Some(3) run exactly.
    val df = (0 until 10)
      .map(i => (i.toLong, Array.tabulate(4)(d => if (d == i % 4) 1.0f
        else 0.1f * i)))
      .toDF("vec_id", "embedding")
    val auto = Similarity.semanticDedup(
      df, "vec_id", "embedding", minCosine = 0.99, targetCellSize = 4)
    val explicit = Similarity.semanticDedup(
      df, "vec_id", "embedding", minCosine = 0.99, nlist = Some(3))
    assert(auto.select("cell").distinct().count() === 3)
    assert(auto.orderBy("vec_id").collect().toSeq ===
      explicit.orderBy("vec_id").collect().toSeq)
  }

  test("centroidSimilarity: hand-computed pairwise centroid cosines; null labels drop") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Some(0)),
      (2L, Array(1.0f, 0.0f), Some(0)), // label 0 centroid (1, 0)
      (3L, Array(0.0f, 1.0f), Some(1)), // label 1 centroid (0, 1)
      (4L, Array(1.0f, 1.0f), Some(2)),
      (5L, Array(1.0f, 1.0f), Some(2)), // label 2 centroid (1, 1)
      (6L, Array(9.0f, 9.0f), None) // null label: excluded
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidSimilarity(df, "label", "embedding")
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("label_a", "label_b")
      .as[(Int, Int, Double)].collect().toSeq
    val r = 0.707107 // 1/sqrt(2)
    assert(out === Seq((0, 1, 0.0), (0, 2, r), (1, 2, r)))
  }

  test("cosineTopKIncremental: identity with full recompute; clones displace at rank 1") {
    val rnd = new scala.util.Random(37)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val old = (0L until 40L).map(i => (i, vec()))
    // the batch: fresh randoms + an EXACT clone of probe 2
    val fresh = (100L until 120L).map(i => (i, vec())) :+
      ((200L, old(2)._2.clone()))
    val oldDf = old.toDF("vec_id", "embedding")
    val batchDf = fresh.toDF("vec_id", "embedding")
    val probes = oldDf.where($"vec_id" < 3)
    val k = 7
    val prev = Similarity.cosineTopK(oldDf, probes, "vec_id", "embedding", k)
    val inc = Similarity.cosineTopKIncremental(
        prev, batchDf, probes, "vec_id", "embedding", k)
      .select("probe_id", "rank", "vec_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    val full = Similarity.cosineTopK(
        oldDf.unionByName(batchDf), probes, "vec_id", "embedding", k)
      .select("probe_id", "rank", "vec_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(inc === full, "incremental must equal full recompute exactly")
    // probe 2's clone must take rank 1 at cosine 1.0
    val top2 = inc.find(r => r._1 == 2L && r._2 == 1).get
    assert(top2._3 === 200L && math.abs(top2._4 - 1.0) < 1e-9)
  }

  test("trainCentroids: maxTrainRows bounds the training set deterministically") {
    val rng = new scala.util.Random(23)
    val pts = (0L until 300L).map(i =>
      (i, Array.fill(4)((rng.nextGaussian()).toFloat)))
    val df = pts.toDF("vec_id", "embedding")
    // The bound must equal training on the explicit hash slice it defines.
    val (mod, keep) = Similarity.hashSliceKeep(300L, 120L)
    val slice = df.where(
      pmod(xxhash64($"vec_id".cast("string")), lit(mod)) < lit(keep))
    assert(slice.count() < 300L, "slice must actually drop rows")
    val bounded = Similarity.trainCentroids(
      df, "vec_id", "embedding", k = 3, maxIter = 5, maxTrainRows = 120L)
    val explicit = Similarity.trainCentroids(
      slice, "vec_id", "embedding", k = 3, maxIter = 5)
    assert(bounded === explicit,
      "bounded training must see exactly the deterministic hash slice")
    // Inactive at or under the bound: bit-identical to unbounded.
    val unbounded = Similarity.trainCentroids(
      df, "vec_id", "embedding", k = 3, maxIter = 5)
    val atBound = Similarity.trainCentroids(
      df, "vec_id", "embedding", k = 3, maxIter = 5, maxTrainRows = 300L)
    assert(atBound === unbounded)
  }

  test("embeddingMoments: floor-grid covariance matches a driver-side exact replay") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, -0.5f)),
      (2L, Array(3.0f, 5.0f, 0.25f)),
      (3L, Array(5.0f, 9.0f, -1.75f)),
      (4L, Array(2.5f, -3.0f, 0.125f)))
    val out = Similarity.embeddingMoments(
        vecs.toDF("vec_id", "embedding"), "embedding")
      .orderBy("dim_i", "dim_j")
      .as[(Int, Int, Long, Option[Double], Option[Double])].collect()
    assert(out.length === 6) // d(d+1)/2 for d=3
    // Exact replay on the quantized grid.
    val q = vecs.map(_._2.map(x => math.floor(x.toDouble * 1e6).toLong))
    def stats(i: Int, j: Int): (Double, Double) = {
      val n = q.length.toDouble
      val sx = q.map(_(i)).sum.toDouble; val sy = q.map(_(j)).sum.toDouble
      val sxy = q.map(v => v(i) * v(j)).sum.toDouble
      val sxx = q.map(v => v(i) * v(i)).sum.toDouble
      val syy = q.map(v => v(j) * v(j)).sum.toDouble
      val cov = (n * sxy - sx * sy) / (n * (n - 1.0)) / 1e12
      val corr = (n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      (cov, corr)
    }
    out.foreach { case (i, j, n, cov, corr) =>
      assert(n === 4L)
      val (ecov, ecorr) = stats(i, j)
      assert(math.abs(cov.get - ecov) < 1e-6, s"cov($i,$j)")
      assert(math.abs(corr.get - ecorr) < 1e-6, s"corr($i,$j)")
      if (i == j) assert(corr.get === 1.0, s"diagonal corr($i,$j)")
    }
  }

  test("principalComponents: recovers the stretch axis; projection parity; deterministic") {
    val rnd = new scala.util.Random(67)
    // Anisotropic blob: dominant variance along (1,1,0)/sqrt(2),
    // small isotropic noise elsewhere.
    val axis = Array(1.0, 1.0, 0.0).map(_ / math.sqrt(2.0))
    val pts = (0L until 400L).map { i =>
      val t = rnd.nextGaussian() * 3.0
      (i, Array.tabulate(3)(d =>
        (axis(d) * t + rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val pcs = Similarity.principalComponents(df, "embedding", k = 2)
    assert(pcs.length === 2)
    val (l1, v1) = pcs.head
    val cosAxis = v1.zip(axis).map { case (a, b) => a * b }.sum
    assert(math.abs(cosAxis) > 0.999, s"top component $v1 vs $axis")
    assert(l1 > 5.0 && l1 < 15.0, s"eigenvalue $l1 should be near 9")
    assert(pcs(1)._1 < l1 / 100.0, "noise eigenvalue far below signal")
    // Determinism: exact double equality on rerun.
    assert(Similarity.principalComponents(df, "embedding", k = 2) === pcs)
    // Projection parity with a driver-side dot product.
    val proj = Similarity.projectEmbeddings(
        df, "vec_id", "embedding", pcs.map(_._2))
      .orderBy("vec_id")
      .as[(Long, Double, Double)].collect()
    pts.take(20).zip(proj.take(20)).foreach { case ((_, v), (_, p1, _)) =>
      val expect = v.map(_.toDouble).zip(pcs.head._2)
        .map { case (a, b) => a * b }.sum
      assert(math.abs(p1 - expect) < 1e-9)
    }
  }

  test("embeddingMoments: array<double> input dispatches correctly (no float reinterpret)") {
    val f = Seq((1L, Array(0.5f, -0.25f)), (2L, Array(1.5f, 0.75f)),
      (3L, Array(-0.5f, 0.25f))).toDF("vec_id", "embedding")
    val d = Seq((1L, Array(0.5, -0.25)), (2L, Array(1.5, 0.75)),
      (3L, Array(-0.5, 0.25))).toDF("vec_id", "embedding")
    val a = Similarity.embeddingMoments(f, "embedding")
      .orderBy("dim_i", "dim_j").collect().map(_.toString).toSeq
    val b = Similarity.embeddingMoments(d, "embedding")
      .orderBy("dim_i", "dim_j").collect().map(_.toString).toSeq
    assert(a === b, "float and exactly-representable double inputs must agree")
  }

  test("embeddingMoments: vectors with NULL components are excluded whole") {
    val rows = Seq(
      (1L, Some(Seq(Some(1.0f), Some(2.0f)))),
      (2L, Some(Seq(Some(3.0f), None))),      // null component -> excluded
      (3L, Some(Seq(Some(5.0f), Some(9.0f)))),
      (4L, None)                               // null vector -> excluded
    ).toDF("vec_id", "embedding")
    val clean = Seq((1L, Seq(1.0f, 2.0f)), (3L, Seq(5.0f, 9.0f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.embeddingMoments(rows, "embedding")
      .orderBy("dim_i", "dim_j").collect().map(_.toString).toSeq
    val b = Similarity.embeddingMoments(clean, "embedding")
      .orderBy("dim_i", "dim_j").collect().map(_.toString).toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("whitenEmbeddings: whitened coordinates have ~unit variance; collapsed axes drop") {
    val rnd = new scala.util.Random(71)
    val pts = (0L until 500L).map { i =>
      (i, Array((rnd.nextGaussian() * 4.0).toFloat,
        (rnd.nextGaussian() * 0.5).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val pcs = Similarity.principalComponents(df, "embedding", k = 2)
    val w = Similarity.whitenEmbeddings(df, "vec_id", "embedding", pcs)
      .as[(Long, Double, Double)].collect()
    // Eigen-decomposition is of the COVARIANCE (mean-subtracted), so
    // variance of the whitened coordinate around its own mean ~= 1.
    for (coord <- Seq(w.map(_._2), w.map(_._3))) {
      val m = coord.sum / coord.length
      val v = coord.map(x => (x - m) * (x - m)).sum / (coord.length - 1)
      assert(math.abs(v - 1.0) < 0.15, s"whitened variance $v")
    }
    // A collapsed direction drops instead of amplifying noise.
    val flat = (0L until 100L).map(i =>
      (i, Array((rnd.nextGaussian()).toFloat, 0.0f))).toDF("vec_id", "embedding")
    val fpcs = Similarity.principalComponents(flat, "embedding", k = 2)
    val fw = Similarity.whitenEmbeddings(flat, "vec_id", "embedding", fpcs,
      minEigenvalue = 1e-9)
    assert(fw.columns.toSeq === Seq("vec_id", "pc1"), "collapsed axis must drop")
  }

  test("PQ: deterministic codebooks, valid codes, ADC retrieves same-blob neighbors") {
    // Three well-separated blobs in 8 dims; 8 members each.
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array(10.0, 10, 0, 0, 0, 0, 0, 0),
      Array(0.0, 0, 10, 10, 0, 0, 0, 0),
      Array(0.0, 0, 0, 0, 10, 10, 0, 0))
    val vecs = (for {
      (c, b) <- centers.zipWithIndex
      i <- 0 until 8
    } yield (b * 100L + i,
      c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat))).toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(
      vecs, "vec_id", "embedding", m = 2, k = 4, maxIter = 8)
    val cb2 = Similarity.trainPqCodebooks(
      vecs, "vec_id", "embedding", m = 2, k = 4, maxIter = 8)
    assert(cb === cb2, "codebook training must be deterministic")
    assert(cb.size === 2 && cb.forall(_.size === 4) &&
      cb.forall(_.forall(_.size === 4)))
    val enc = Similarity.pqEncode(vecs, "vec_id", "embedding", cb)
    val codes = enc.select("vec_id", "codes")
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.size === 24)
    assert(codes.values.forall(cs => cs.size === 2 &&
      cs.forall(c => c >= 0 && c < 4)), "codes must index the codebook")
    // ADC from one member of blob 0: every top-7 neighbor (self
    // excluded downstream by rank semantics; here just check blob
    // membership) must come from blob 0.
    val probeVec = centers(0).map(_.toDouble).toSeq
    val top = Similarity.pqAdcTopK(
        enc, "vec_id", "codes", cb, probes = Seq((999L, probeVec)), k = 7)
      .select("vec_id", "adc_dist").as[(Long, Double)].collect()
    assert(top.length === 7)
    assert(top.forall(_._1 < 100L), s"ADC must rank blob-0 members first: ${top.toSeq}")
    assert(top.forall(_._2 < 10.0), "same-blob ADC distance stays near zero")
  }

  test("semanticLeakage: planted copy flags at cosine 1; ties take lowest bench id") {
    val bench = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (101L, Array(1.0f, 0.0f, 0.0f)),   // duplicate bench vector
      (102L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(2.0f, 0.0f, 0.0f)),     // scaled copy of bench 100/101
      (2L, Array(0.0f, -1.0f, 0.0f)),    // anti-aligned with bench 102
      (3L, Array(1.0f, 1.0f, 0.0f))      // 45 degrees off both
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticLeakage(
        corpus, bench, "vec_id", "embedding", minCosine = 0.95)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => (r._1, (r._2, r._3, r._4))).toMap
    assert(out(1L) === ((100L, 1.0, true)),
      "exact-direction copy leaks; duplicate bench ties to lowest id")
    assert(out(2L)._3 === false)
    // vec 3 ties bench 100 and 102 at exactly 1/sqrt(2) -> lowest id.
    assert(out(3L) === ((100L, 0.707107, false)))
  }

  test("signQuantize/hammingTopK: bit goldens, driver-twin parity, ragged width") {
    // 40 dims (not a multiple of 32): word 0 full, word 1 holds 8 bits.
    val a = Array.fill(40)(1.0f)                  // all bits set
    val b = a.map(-_)                             // no bits set
    val c = a.clone(); c(0) = -1.0f; c(39) = -1.0f // flips bit 0 + bit 39
    val df = Seq((0L, a), (1L, b), (2L, c)).toDF("vec_id", "embedding")
    val enc = Similarity.signQuantize(df, "vec_id", "embedding")
    val words = enc.as[(Long, Seq[Long])].collect().toMap
    assert(words(0L) === Seq(0xFFFFFFFFL, 0xFFL))
    assert(words(1L) === Seq(0L, 0L))
    assert(words(2L) === Seq(0xFFFFFFFEL, 0x7FL))
    // Driver twin must produce the identical packing.
    assert(Similarity.signWords(a.map(_.toDouble).toSeq) === words(0L))
    assert(Similarity.signWords(c.map(_.toDouble).toSeq) === words(2L))
    val top = Similarity.hammingTopK(enc, "vec_id", "words",
        probes = Seq((0L, words(0L))), k = 3)
      .select("vec_id", "rank", "hamming")
      .as[(Long, Int, Long)].collect().sortBy(_._2)
    // self at distance 0, the 2-bit flip next, the complement at 40.
    assert(top.toSeq === Seq((0L, 1, 0L), (2L, 2, 2L), (1L, 3, 40L)))
  }

  test("ivfPqSearch: nprobe=nlist reproduces flat ADC; nprobe=1 stays in-cell") {
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array(10.0, 10, 0, 0, 0, 0, 0, 0),
      Array(0.0, 0, 10, 10, 0, 0, 0, 0),
      Array(0.0, 0, 0, 0, 10, 10, 0, 0))
    val corpus = (for {
      (c, b) <- centers.zipWithIndex
      i <- 0 until 8
    } yield (b * 100L + i,
      c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat)))
      .toDF("vec_id", "embedding")
    val seeds = centers.map(_.toSeq)
    val cb = Similarity.trainPqCodebooks(
      corpus, "vec_id", "embedding", m = 2, k = 4, maxIter = 8)
    val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
    val probe = Seq((999L, centers(0).map(_ + 0.01).toSeq))
    // Full fan-out (nprobe = nlist): candidate set is the whole
    // corpus, so the composition must reproduce flat ADC exactly.
    val flat = Similarity.pqAdcTopK(enc, "vec_id", "codes", cb, probe, k = 6)
      .select("vec_id", "rank", "adc_dist")
      .as[(Long, Int, Double)].collect().toSet
    val full = Similarity.ivfPqSearch(corpus, "vec_id", "embedding",
        seeds, cb, probe, nprobe = 3, k = 6)
      .select("vec_id", "rank", "adc_dist")
      .as[(Long, Int, Double)].collect().toSet
    assert(full === flat, "nprobe=nlist must equal flat ADC")
    // nprobe=1: the probe sits on centroid 0, so every candidate is
    // a blob-0 member and routing reports cell 0.
    val one = Similarity.ivfPqSearch(corpus, "vec_id", "embedding",
        seeds, cb, probe, nprobe = 1, k = 24)
      .select("cell", "vec_id").as[(Int, Long)].collect()
    assert(one.nonEmpty && one.forall { case (cell, id) =>
      cell === 0 && id < 100L }, s"in-cell only: ${one.toSeq}")
  }

  test("dimTruncationRecall: prefix truncation flips the winner; full dims recall 1") {
    val v = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.5f, 0.8660254f)), // unit; full cosine vs probe 0.5
      (2L, Array(0.6f, -0.8f))       // unit; full cosine 0.6 → full top-1
    ).toDF("vec_id", "embedding")
    val probes = v.where($"vec_id" === 0)
    // dims=1: both candidates collapse to cosine 1.0; the tie breaks
    // to vec_id 1, but the FULL top-1 is vec_id 2 → recall 0.
    val r1 = Similarity.dimTruncationRecall(
        v, probes, "vec_id", "embedding", k = 1, dims = 1)
      .select("probe_id", "hits", "recall")
      .as[(Long, Int, Double)].collect().toSeq
    assert(r1 === Seq((0L, 0, 0.0)))
    // dims = full dimensionality: the audit is trivially exact.
    val r2 = Similarity.dimTruncationRecall(
        v, probes, "vec_id", "embedding", k = 1, dims = 2)
      .select("recall").as[Double].collect().toSeq
    assert(r2 === Seq(1.0))
  }

  test("retrievalMetrics: first-hit RR, rounded-decimal DCG, R=0 probes NULL") {
    // probe 1 (label A): ranked c2(B), c3(A), c4(A) -> first rel rank 2
    // probe 9 (label Z, unique): all metrics NULL (unjudgeable)
    val ranked = Seq(
      (1L, 2L, 1), (1L, 3L, 2), (1L, 4L, 3),
      (9L, 2L, 1), (9L, 3L, 2)
    ).toDF("probe_id", "vec_id", "rank")
    val labels = Seq(
      (1L, "A"), (2L, "B"), (3L, "A"), (4L, "A"), (9L, "Z")
    ).toDF("vec_id", "label")
    val out = Similarity.retrievalMetrics(ranked, labels, "vec_id", "label", k = 10)
      .as[(Long, Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().toSeq
    val p1 = out.find(_._1 == 1L).get
    assert(p1._2 === 2L) // two other A's in corpus
    assert(p1._3 === Some(0.5)) // first relevant at rank 2
    // dcg = round(1/log2(3),6) + round(1/log2(4),6) = 0.630930 + 0.5
    assert(p1._4 === Some(1.13093))
    // idcg for min(R=2, k) = 1.0 + 0.630930
    assert(p1._5 === Some(1.63093))
    assert(p1._6 === Some(0.693426)) // round(1.13093/1.63093, 6)
    val p9 = out.find(_._1 == 9L).get
    assert(p9._2 === 0L && p9._3.isEmpty && p9._6.isEmpty)
  }

  test("silhouetteAudit: mislabeled vector goes negative; clean ones positive") {
    // label 0 cluster near (0,0); label 1 cluster near (10,0).
    // vec 5 is AT (10,1) but labeled 0 -> silhouette < 0, b_label 1.
    val vecs = Seq(
      (1L, 0, Seq(0.0f, 0.0f)), (2L, 0, Seq(1.0f, 0.0f)),
      (3L, 1, Seq(10.0f, 0.0f)), (4L, 1, Seq(11.0f, 0.0f)),
      (5L, 0, Seq(10.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.silhouetteAudit(vecs, "vec_id", "label", "embedding")
      .as[(Long, Int, Double, Double, Int, Option[Double])]
      .collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(5L)._6.get < 0 && byId(5L)._5 === 1)
    assert(byId(1L)._6.get > 0 && byId(3L)._6.get > 0)
    // a_dist for vec 3: own centroid (label 1) = (10.5, 0) -> 0.5
    assert(math.abs(byId(3L)._3 - 0.5) < 1e-9)
  }

  test("mmrSelect: diversity-heavy lambda skips the near-duplicate of pick 1") {
    // q = (1,0); cand 1 ~ q, cand 2 ~ cand 1 (near-dup), cand 3 diverse.
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.01f)),
      (2L, Seq(1.0f, 0.02f)),
      (3L, Seq(0.3f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrSelect(
        vecs, "vec_id", "embedding", queryId = 0L, k = 3, lambda = 0.3)
      .as[(Int, Long, Double, Option[Double], Option[Double])]
      .collect().toSeq
    // rank 1: best relevance, no max_sim/mmr yet
    assert(out.map(_._2) === Seq(1L, 3L, 2L))
    assert(out.head._4.isEmpty && out.head._5.isEmpty)
    assert(math.abs(out.head._3 - 0.99995) < 1e-6)
    // rank 2/3 carry the max-sim that justified the pick
    assert(out(1)._4.nonEmpty && out(1)._5.nonEmpty)
    // relevance-only lambda = 1.0 degenerates to cosine top-k order
    val rel = Similarity.mmrSelect(
        vecs, "vec_id", "embedding", queryId = 0L, k = 3, lambda = 1.0)
      .as[(Int, Long, Double, Option[Double], Option[Double])]
      .collect().toSeq
    assert(rel.map(_._2) === Seq(1L, 2L, 3L))
    // pool smaller than k: stops at exhaustion
    val small = Similarity.mmrSelect(
        vecs.where($"vec_id" <= 1), "vec_id", "embedding",
        queryId = 0L, k = 5, lambda = 0.5)
      .select("vec_id").as[Long].collect().toSeq
    assert(small === Seq(1L))
  }

  test("isotropyReport: hand-computed norms, CV, centroid energy share") {
    // v1=[3,4] (norm 5), v2=[6,8] (norm 10): mean 7.5, sd 2.5 ->
    // cv 1/3; centroid [4.5,6] -> norm 7.5, share 56.25/62.5 = 0.9.
    val vecs = Seq(
      (1L, Array(3.0f, 4.0f)), (2L, Array(6.0f, 8.0f)),
      (3L, null.asInstanceOf[Array[Float]])  // excluded
    ).toDF("vec_id", "embedding")
    val r = Similarity.isotropyReport(vecs, "vec_id", "embedding")
      .as[(Long, Int, Double, Double, Double, Double)].collect().head
    assert(r === ((2L, 2, 7.5, 0.333333, 7.5, 0.9)))
    // identical vectors: all energy in the mean direction
    val same = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val s = Similarity.isotropyReport(same, "vec_id", "embedding")
      .select("norm_cv", "centroid_share")
      .as[(Double, Double)].collect().head
    assert(s === ((0.0, 1.0)))
  }

  test("retrievalMetrics: probe coverage survives unlabeled top-k / unlabeled probe") {
    // probe 1 (label A, R=2): its whole top-k (7, 8) is unlabeled ->
    // the probe still reports, with rr=0 / dcg=0 / ndcg=0 (nothing
    // relevant retrieved), not a silently missing row.
    // probe 5: absent from labels entirely -> n_rel_corpus=0, NULLs.
    val ranked = Seq(
      (1L, 7L, 1), (1L, 8L, 2),
      (5L, 2L, 1)
    ).toDF("probe_id", "vec_id", "rank")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A")).toDF("vec_id", "label")
    val out = Similarity.retrievalMetrics(ranked, labels, "vec_id", "label", k = 10)
      .as[(Long, Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().toSeq
    assert(out.map(_._1).sorted === Seq(1L, 5L))
    val p1 = out.find(_._1 == 1L).get
    assert(p1._2 === 2L && p1._3 === Some(0.0) &&
      p1._4 === Some(0.0) && p1._6 === Some(0.0))
    val p5 = out.find(_._1 == 5L).get
    assert(p5._2 === 0L && p5._3.isEmpty && p5._4.isEmpty && p5._6.isEmpty)
  }

  test("randomProject: scalar replay parity; wrong-length and " +
      "null-element vectors drop") {
    val dIn = 4; val dOut = 4; val seed = 11L
    val v1 = Seq(0.5f, -0.25f, 1.0f, 0.125f)
    val v2 = Seq(1.0f, 2.0f, -3.0f, 0.0f)
    val df = Seq(
      (1L, v1.map(Option(_))), (2L, v2.map(Option(_))),
      (3L, Seq(Some(1.0f), Some(2.0f))),           // wrong length
      (4L, Seq(Some(1.0f), None, Some(2.0f), Some(3.0f))) // null element
    ).toDF("vec_id", "vec")
    val out = Similarity.randomProject(df, "vec_id", "vec",
        dIn, dOut, seed)
      .as[(Long, Seq[Double])].collect().toMap
    assert(out.keySet == Set(1L, 2L))
    // exact scalar replay of the operator's arithmetic
    val signs = Similarity.projectionSigns(seed, dIn, dOut)
    def proj(v: Seq[Float]): Seq[Double] = {
      val q = v.map(x => math.floor(x.toDouble * 1000000.0).toLong)
      (0 until dOut).map { j =>
        val acc = (0 until dIn).map(i => q(i) * signs(j)(i)).sum
        math.floor(acc.toDouble / 1000000.0 * (1.0 / math.sqrt(dOut))
          * 1000000.0) / 1000000.0
      }
    }
    assert(out(1L) == proj(v1))
    assert(out(2L) == proj(v2))
    assert(out(1L).length == dOut)
  }

  test("embeddingDrift: identical snapshots -> cos 1, zero shift; " +
      "pure translation -> known L2; zero mean -> NULL cos") {
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val same = Seq((true, a), (true, b), (false, a), (false, b))
      .toDF("snap", "vec")
    val r1 = Similarity.embeddingDrift(same, "vec", col("snap"), dims = 4)
      .as[(Long, Long, Long, Double, Double, Option[Double], Double)]
      .collect().head
    assert(r1._1 == 4L && r1._2 == 2L && r1._3 == 2L)
    assert(r1._6 === Some(1.0) && r1._7 == 0.0)
    // B = A translated by (0,0,1,0): mu_a=(0.5,0.5,0,0),
    // mu_b=(0.5,0.5,1,0) -> shift = 1.0, cos = 0.5/(sqrt(.5)*sqrt(1.5))
    val moved = Seq((true, a), (true, b),
      (false, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      (false, Seq(0.0f, 1.0f, 1.0f, 0.0f))).toDF("snap", "vec")
    val r2 = Similarity.embeddingDrift(moved, "vec", col("snap"), dims = 4)
      .as[(Long, Long, Long, Double, Double, Option[Double], Double)]
      .collect().head
    assert(r2._7 == 1.0)
    val cos = BigDecimal(0.5 / (math.sqrt(0.5) * math.sqrt(1.5)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r2._6.get - cos) < 2e-6)
    // all-zero snapshot B -> NULL cosine, norms still reported
    val degen = Seq((true, a),
      (false, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("snap", "vec")
    val r3 = Similarity.embeddingDrift(degen, "vec", col("snap"), dims = 4)
      .as[(Long, Long, Long, Double, Double, Option[Double], Double)]
      .collect().head
    assert(r3._6.isEmpty && r3._4 == 1.0 && r3._5 == 0.0)
  }

  test("ivfRecallSweep: parity with per-nprobe ivfSearch; " +
      "nprobe = nlist reads recall 1.0; recall monotone in nprobe") {
    // 24 vectors in 4 loose direction clusters so cells are
    // non-trivial and small nprobe genuinely misses neighbors
    val rnd = new scala.util.Random(13)
    val base = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0))
    val corpus = (0L until 24L).map { i =>
      val b = base((i % 4).toInt)
      (i, b.map(x => (x + rnd.nextDouble() * 0.4).toFloat))
    }.toDF("vec_id", "embedding")
    val probes = corpus.where(col("vec_id") < 6)
    val sweep = Similarity.ivfRecallSweep(corpus, probes,
        "vec_id", "embedding", nlist = 6, nprobes = Seq(1, 3, 6), k = 4)
      .as[(Int, Long, Long, Long, Option[Double])].collect().toSeq
    assert(sweep.map(_._1) == Seq(1, 3, 6))
    assert(sweep.forall(r => r._2 == 6L && r._3 == 24L)) // 6 probes x k=4
    // monotone non-decreasing, exact at nprobe = nlist
    assert(sweep.map(_._4) == sweep.map(_._4).sorted)
    assert(sweep.last._5 === Some(1.0))
    // per-point parity with the one-shot operator it summarizes
    val exact = Similarity.cosineTopK(corpus, probes,
        "vec_id", "embedding", k = 4)
      .select("probe_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    for ((np, _, _, hitPairs, _) <- sweep) {
      val approx = Similarity.ivfSearch(corpus, probes,
          "vec_id", "embedding", nlist = 6, nprobe = np, k = 4)
        .select("probe_id", "vec_id")
        .as[(Long, Long)].collect().toSet
      assert((approx intersect exact).size.toLong === hitPairs,
        s"nprobe=$np")
    }
  }

  test("retrieveRerank (V35): full-fetch rerank equals exact " +
      "cosineTopK bit-for-bit; rerank recovers SQ8 ordering loss " +
      "the readout prices; deterministic") {
    // quantization-hostile corpus: a 200-magnitude outlier crushes
    // the int8 grid, so every near-cluster vector encodes to the
    // same codes (sq8 ranking degenerates to id order and the
    // outlier's dot dominates), while exact cosine ranks the near
    // cluster by its fine per-id structure
    val near = (0L until 10L).map { i =>
      val a = 0.002f * (9 - i)
      (i, Seq(1.0f + a, 1.0f - a))
    }
    val far = (10L until 20L).map(i => (i, Seq(1.0f, -1.0f)))
    val outlier = Seq((99L, Seq(200.0f, 0.0f)))
    val corpus = (near ++ far ++ outlier).toDF("vec_id", "embedding")
    val probes = Seq((1000L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val seeds = Similarity.ivfSeeds(corpus, "vec_id", "embedding",
      nlist = 1)
    // exact top-5: the balanced end of the near cluster
    val exact = Similarity.cosineTopK(corpus, probes, "vec_id",
        "embedding", k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(_._3)
    assert(exact.map(_._2).toSeq === Seq(9L, 8L, 7L, 6L, 5L))
    // sq8 alone: the outlier's integer dot dominates and the near
    // cluster ties to id order — zero overlap with exact
    val sq8 = Similarity.ivfSq8Search(corpus, probes, "vec_id",
        "embedding", seeds, nprobe = 1, k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert((sq8 intersect exact.map(_._2).toSet).isEmpty,
      s"fixture must make sq8 miss: $sq8")
    // rerank over 11 candidates recovers the exact top-5 exactly
    val rr = Similarity.retrieveRerank(corpus, probes, "vec_id",
        "embedding", seeds, nprobe = 1, candidates = 11, k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(_._3)
    assert(rr.map(_._2).toSeq === exact.map(_._2).toSeq)
    // full fetch ≡ exact search bit-for-bit (scores included)
    val full = Similarity.retrieveRerank(corpus, probes, "vec_id",
        "embedding", seeds, nprobe = 1, candidates = 21, k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(_._3)
    assert(full.toSeq === exact.toSeq)
    // the readout prices the recovery
    val ro = Similarity.retrieveRerankReadout(corpus, probes,
        "vec_id", "embedding", seeds, nprobe = 1, candidates = 11,
        k = 5)
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(ro("sq8_top_k")._4 === 0L &&
      ro("sq8_top_k")._5 === Some(0.0))
    assert(ro("rerank")._4 === 5L && ro("rerank")._5 === Some(1.0))
    assert(ro.values.forall(r => r._2 === 1L && r._3 === 5L))
    // determinism
    val again = Similarity.retrieveRerank(corpus, probes, "vec_id",
        "embedding", seeds, nprobe = 1, candidates = 11, k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(_._3)
    assert(again.toSeq === rr.toSeq)
  }

  test("sq8CalibrationAudit: max-abs level clips nothing, clipping " +
      "the outlier shrinks bulk reconstruction error, exact " +
      "nearest-rank thresholds, degenerate corpus stays NULL") {
    // 99 bulk components near ±1 plus one 100.0 outlier: the
    // max-abs scale (127/100) squeezes the bulk onto ±1 levels
    val vecs = ((0L until 24L).map { i =>
      (i, Seq(1.0f + (i % 5) * 0.01f, -1.0f - (i % 3) * 0.01f,
        0.5f, -0.25f))
    } :+ (24L, Seq(100.0f, 1.0f, -1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.sq8CalibrationAudit(vecs, "vec_id",
        "embedding", clipPerMilles = Seq(950, 1000))
      .as[(Int, Double, Option[Double], Long, Long, Option[Double],
        Option[Double], Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    val full = got(1000)
    // 1000 permille = the exact max |component| = sq8Search's scale;
    // nothing clips, so mse and mse_unclipped coincide
    assert(full._2 === 100.0 && full._5 === 0L &&
      full._6 === Some(0.0))
    assert(full._7 === full._8)
    // 950 permille over 100 components: rank ceil(95) = 95th value;
    // only the 100.0 outlier exceeds it
    val clipped = got(950)
    assert(clipped._4 === 100L && clipped._5 >= 1L)
    assert(clipped._2 < 2.0, s"bulk threshold, got ${clipped._2}")
    // the trade, both sides priced: clipping buys the BULK a far
    // finer step (mse_unclipped collapses) while the clipped
    // outlier's error dominates the overall mse
    assert(clipped._8.get * 100 < full._7.get,
      s"bulk mse ${clipped._8} must be << max-abs mse ${full._7}")
    assert(clipped._7.get > full._7.get,
      "overall mse must carry the clipped outlier's error")
    // degenerate: all-zero corpus emits NULL scale/mse, no throw
    val zero = Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val z = Similarity.sq8CalibrationAudit(zero, "vec_id",
        "embedding", clipPerMilles = Seq(1000))
      .as[(Int, Double, Option[Double], Long, Long, Option[Double],
        Option[Double], Option[Double])].collect().head
    assert(z._3.isEmpty && z._7.isEmpty && z._8.isEmpty)
    // determinism
    val again = Similarity.sq8CalibrationAudit(vecs, "vec_id",
        "embedding", clipPerMilles = Seq(950, 1000))
      .as[(Int, Double, Option[Double], Long, Long, Option[Double],
        Option[Double], Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(again === got)
  }

  test("sq8CalibrationAudit (r15 ADVICE): non-grid-exact max reads " +
      "zero clipped at 1000 permille; sub-micro percentile clamps " +
      "to one grid unit instead of declaring no scale") {
    // max|x| = 1/3 — ·1e6 is non-integral, so the pre-fix raw
    // compare (|x| > floor(max|x|·1e6)/1e6) would count the max
    // component itself as clipped at the 1000‰ level
    val vecs = Seq(
      (1L, Seq(1.0f / 3.0f, 0.1f)),
      (2L, Seq(0.2f, -0.25f))).toDF("vec_id", "embedding")
    val full = Similarity.sq8CalibrationAudit(vecs, "vec_id",
        "embedding", clipPerMilles = Seq(1000))
      .as[(Int, Double, Option[Double], Long, Long, Option[Double],
        Option[Double], Option[Double])].collect().head
    assert(full._5 === 0L, s"grid clip flag must read zero, got $full")
    assert(full._6 === Some(0.0))
    // sub-micro percentile over a non-zero corpus: two components
    // floor to grid 0, one to 500000; at 333 permille the
    // nearest-rank threshold floors to 0 but a scale still exists —
    // the threshold clamps UP to vu = 1 (1e-6) and only the large
    // component counts clipped
    val tiny = Seq((1L, Seq(1.0e-8f, 2.0e-8f, 0.5f)))
      .toDF("vec_id", "embedding")
    val sub = Similarity.sq8CalibrationAudit(tiny, "vec_id",
        "embedding", clipPerMilles = Seq(333))
      .as[(Int, Double, Option[Double], Long, Long, Option[Double],
        Option[Double], Option[Double])].collect().head
    assert(sub._2 === 1.0e-6 && sub._3 === Some(127.0 / 1.0e-6))
    assert(sub._4 === 3L && sub._5 === 1L)
  }

  test("ivfRetrainReadout: drifted boundary batch triggers the audit " +
      "and the appended cell restores recall; quiet batch emits only " +
      "the before row with retrain_triggered = false") {
    // two tight direction clusters; seeds = vectors of ids 0 and 1
    // (one per cluster)
    val ex = (0L until 10L).map { i =>
      if (i % 2 == 0)
        (i, Seq(10.0f, (i % 5).toFloat * 0.1f, 0.0f, 0.0f))
      else
        (i, Seq((i % 5).toFloat * 0.1f, 10.0f, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val seedsBefore = Similarity.ivfSeeds(ex, "vec_id", "embedding", 2)
    // four arrivals in the boundary cone: two lean cell-0, two lean
    // cell-1; each probe's exact top-3 is the OTHER THREE arrivals
    // (inter-arrival cosine ~0.9999 vs ~0.71 to any original), so a
    // one-probe search under the old layout finds only its own
    // cell's sibling: recall 1/3 before, 1 after.
    val arr = Seq(
      (-1L, Seq(10.0f, 9.9f, 0.1f, 0.0f)),
      (-2L, Seq(10.0f, 9.9f, 0.2f, 0.0f)),
      (-3L, Seq(9.9f, 10.0f, 0.1f, 0.0f)),
      (-4L, Seq(9.9f, 10.0f, 0.2f, 0.0f)))
      .toDF("vec_id", "embedding")
    val seedsAfter = seedsBefore ++
      Similarity.ivfSeeds(arr, "vec_id", "embedding", 1)
    val got = Similarity.ivfRetrainReadout(ex, arr, "vec_id",
        "embedding", seedsBefore, seedsAfter,
        probes = arr, nprobe = 1, k = 3,
        growthAlertPerMille = 300L, driftAlertPerMille = 1100L)
      .as[(String, Boolean, Int, Long, Long, Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set("before", "after"))
    assert(got("before")._2 && got("after")._2, "audit must trigger")
    assert(got("before")._3 === 2 && got("after")._3 === 3)
    assert(got("before")._5 === 12L && got("before")._6 === 4L,
      s"each probe finds only its cell-sibling before: $got")
    assert(got("after")._6 === 12L && got("after")._7 === Some(1.0),
      s"appended cell must restore recall: $got")
    // quiet batch: two exact copies of the seeds — zero drift, no
    // growth past the threshold → no retrain, single before row
    val quiet = ex.where(col("vec_id") < 2).select(
      (-(col("vec_id") + 1)).as("vec_id"), col("embedding"))
    val one = Similarity.ivfRetrainReadout(ex, quiet, "vec_id",
        "embedding", seedsBefore, seedsAfter,
        probes = quiet, nprobe = 1, k = 3,
        growthAlertPerMille = 300L, driftAlertPerMille = 1100L)
      .as[(String, Boolean, Int, Long, Long, Long, Option[Double])]
      .collect()
    assert(one.length === 1 && one.head._1 === "before" &&
      !one.head._2, s"quiet batch must not retrain: ${one.toSeq}")
  }

  test("recall sweeps: undersized corpus (rows < nlist) fails loudly " +
      "instead of aliasing tail sweep points to the full scan") {
    val tiny = (0L until 4L)
      .map(i => (i, Seq(i.toFloat, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val ex1 = intercept[IllegalArgumentException] {
      Similarity.ivfRecallSweep(tiny, tiny, "vec_id", "embedding",
        nlist = 8, nprobes = Seq(1, 8), k = 2).collect()
    }
    assert(ex1.getMessage.contains("alias"))
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.ivfSq8RecallSweep(tiny, tiny, "vec_id", "embedding",
        nlist = 8, nprobes = Seq(1, 8), k = 2).collect()
    }
    assert(ex2.getMessage.contains("alias"))
  }

  test("ivfSq8RecallSweep: per-nprobe parity with ivfSq8Search hits; " +
      "recall monotone in nprobe; sweep complete") {
    val rnd = new scala.util.Random(13)
    val base = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0))
    val corpus = (0L until 24L).map { i =>
      val b = base((i % 4).toInt)
      (i, b.map(x => (x + rnd.nextDouble() * 0.4).toFloat))
    }.toDF("vec_id", "embedding")
    val probes = corpus.where(col("vec_id") < 6)
    val sweep = Similarity.ivfSq8RecallSweep(corpus, probes,
        "vec_id", "embedding", nlist = 6, nprobes = Seq(1, 3, 6),
        k = 4)
      .as[(Int, Long, Long, Long, Option[Double])].collect().toSeq
    assert(sweep.map(_._1) == Seq(1, 3, 6))
    assert(sweep.forall(r => r._2 == 6L && r._3 == 24L))
    assert(sweep.map(_._4) == sweep.map(_._4).sorted,
      "recall must be monotone in nprobe")
    assert(sweep.last._5.exists(_ > 0.5),
      "full-scan SQ8 must recover most cosine neighbors here")
    // per-point parity with the serving operator it summarizes
    val exact = Similarity.cosineTopK(corpus, probes,
        "vec_id", "embedding", k = 4)
      .select("probe_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val seeds = Similarity.ivfSeeds(corpus, "vec_id", "embedding", 6)
    for ((np, _, _, hitPairs, _) <- sweep) {
      val approx = Similarity.ivfSq8Search(corpus, probes,
          "vec_id", "embedding", seeds, nprobe = np, k = 4)
        .select("probe_id", "vec_id")
        .as[(Long, Long)].collect().toSet
      assert((approx intersect exact).size.toLong === hitPairs,
        s"nprobe=$np")
    }
  }

  test("pqReconstructionError: exact codeword match is zero error; " +
      "offset vectors report the hand-computed squared distance") {
    // 2 subspaces x 2 dims, 2 codewords each
    val cbs = Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq(Seq(2.0, 0.0), Seq(0.0, 2.0)))
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 2.0f, 0.0f)), // both subspaces exact
      (2L, Seq(0.0f, 1.0f, 0.0f, 2.0f)), // both exact (code 1)
      (3L, Seq(1.0f, 0.3f, 0.0f, 2.4f))  // off by (0,0.3) and (0,0.4)
    ).toDF("vec_id", "embedding")
    val out = Similarity.pqReconstructionError(
        corpus, "vec_id", "embedding", cbs)
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(0, 1))
    assert(out.forall(_._2 == 3L))
    // subspace 0: errors 0, 0, 0.09 -> mse 0.03, max 0.09
    val e03 = math.floor(
      (0.3f.toDouble * 0.3f.toDouble) * 1e6) / 1e6
    assert(math.abs(out(0)._3 - e03 / 3) < 2e-6 &&
      out(0)._4 === BigDecimal(e03).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    // subspace 1: errors 0, 0, (2.4-2)^2 = 0.16 (float-exact inputs)
    val e04 = math.floor(
      ((2.4f.toDouble - 2.0) * (2.4f.toDouble - 2.0)
        + 0.0) * 1e6) / 1e6
    assert(math.abs(out(1)._3 - e04 / 3) < 2e-6)
    // never negative even under float cancellation
    assert(out.forall(r => r._3 >= 0.0 && r._4 >= 0.0))
  }

  test("projectionSigns: deterministic, seed-sensitive, ±1 only") {
    val a = Similarity.projectionSigns(7L, 16, 8)
    assert(a == Similarity.projectionSigns(7L, 16, 8))
    assert(a != Similarity.projectionSigns(8L, 16, 8))
    assert(a.flatten.forall(s => s == 1 || s == -1))
    assert(a.size == 8 && a.forall(_.size == 16))
    // both signs actually occur (a constant matrix would make the
    // projection a degenerate sum)
    assert(a.flatten.toSet == Set(1, -1))
  }

  test("ivfPqRecallSweep: exactly-representable unit vectors read " +
      "recall 1.0; grid is complete and nprobe-monotone") {
    val h = 1.0 / math.sqrt(2.0)
    // 4 unit vectors = every combination of the 2 per-subspace
    // codewords -> PQ reconstruction is EXACT, and on unit vectors
    // ADC L2 ranking == cosine ranking (L2^2 = 2 - 2cos)
    val combos = for (a <- Seq(Seq(h, 0.0), Seq(0.0, h));
                      b <- Seq(Seq(h, 0.0), Seq(0.0, h))) yield a ++ b
    val corpus = combos.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.map(_.toFloat)) }.toDF("vec_id", "embedding")
    val seeds = Similarity.ivfSeeds(corpus, "vec_id", "embedding", 1)
    val cb2 = Seq(
      Seq(Seq(h, 0.0), Seq(0.0, h)),
      Seq(Seq(h, 0.0), Seq(0.0, h)))
    val cb1 = Seq(combos.map(_.toSeq).toSeq)
    val out = Similarity.ivfPqRecallSweep(
        corpus, corpus.where(col("vec_id") === 0L),
        "vec_id", "embedding", seeds, Seq(cb1, cb2),
        nprobes = Seq(1), k = 3)
      .as[(Int, Int, Long, Long, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) == Seq((1, 1), (2, 1)))
    out.foreach { r =>
      assert(r._3 == 1L && r._4 == 3L, s"truth shape: $r")
      assert(r._6 === 1.0, s"exact-codebook recall must be 1.0: $r")
    }

    // monotonicity: widening nprobe can only grow the candidate set
    val vecs = (0 until 24).map { i =>
      val ang = i * 0.7
      (i.toLong, Seq(math.cos(ang).toFloat, math.sin(ang).toFloat,
        math.cos(ang * 1.3).toFloat, math.sin(ang * 1.3).toFloat))
    }.toDF("vec_id", "embedding")
    val seeds2 = Similarity.ivfSeeds(vecs, "vec_id", "embedding", 4)
    val cbs = Seq(
      Seq(Seq(0.9, 0.1), Seq(0.1, 0.9), Seq(-0.8, 0.2), Seq(0.3, -0.7)),
      Seq(Seq(0.8, 0.2), Seq(-0.1, 0.9), Seq(-0.7, -0.3), Seq(0.4, -0.6)))
    val sweep = Similarity.ivfPqRecallSweep(
        vecs, vecs.where(col("vec_id") < 4), "vec_id", "embedding",
        seeds2, Seq(cbs), nprobes = Seq(1, 2, 4), k = 4)
      .as[(Int, Int, Long, Long, Long, Double)].collect().toSeq
    assert(sweep.map(_._2) == Seq(1, 2, 4))
    sweep.sliding(2).foreach {
      case Seq(a, b) => assert(b._5 >= a._5,
        s"hit_pairs must be nprobe-monotone: $a -> $b")
      case _ =>
    }
  }

  test("IntVecDot: kernel == HOF reference; NULL on mismatch/null " +
      "element") {
    val df = Seq(
      (1L, Seq(1, -2, 3), Seq(4, 5, -6)),
      (2L, Seq(127, 127, 127), Seq(127, 127, 127)),
      (3L, Seq(0, 0, 0), Seq(9, 9, 9))).toDF("id", "a", "b")
    val got = df.select(col("id"),
        graft.functions.IntVecDot(col("a"), col("b")).as("k"),
        Similarity.intDotHof(col("a"), col("b")).as("h"))
      .as[(Long, Option[Long], Option[Long])].collect()
    got.foreach { case (id, k, h) => assert(k === h, s"id $id") }
    assert(got.find(_._1 == 1L).get._2 === Some(1L * 4 - 2 * 5 - 3 * 6))
    assert(got.find(_._1 == 2L).get._2 === Some(3L * 127 * 127))
    // length mismatch and a NULL element both poison to NULL
    val bad = Seq(
      (1L, Seq[Option[Int]](Some(1), Some(2)),
        Seq[Option[Int]](Some(1), Some(2), Some(3))),
      (2L, Seq[Option[Int]](Some(1), None),
        Seq[Option[Int]](Some(1), Some(2))))
      .toDF("id", "a", "b")
      .select(col("id"),
        graft.functions.IntVecDot(col("a"), col("b")).as("k"))
      .as[(Long, Option[Long])].collect()
    assert(bad.forall(_._2.isEmpty), bad.toSeq.toString)
  }

  test("sq8Search: separated directions rank by quantized dot; " +
      "all-zero corpus degrades to NULL scores, never throws") {
    val corpus = Seq(
      (10L, Seq(10.0, 0.0)), (11L, Seq(0.0, 10.0)),
      (12L, Seq(-10.0, 0.0)), (13L, Seq(7.0, 7.0)))
      .toDF("vec_id", "embedding")
    val probe = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.sq8Search(corpus, probe, "vec_id",
        "embedding", k = 4)
      .as[(Long, Long, Int, Option[Long])].collect().sortBy(_._3)
    // r = 12.7; probe codes (13, 0); corpus (127,0),(0,127),
    // (-127,0),(89,89): scores 1651, 0, -1651, 1157
    assert(got.map(_._2).toSeq == Seq(10L, 13L, 11L, 12L))
    assert(got.map(_._4).toSeq ==
      Seq(Some(1651L), Some(1157L), Some(0L), Some(-1651L)))

    val zeros = Seq((20L, Seq(0.0, 0.0)), (21L, Seq(0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val g2 = Similarity.sq8Search(zeros, probe, "vec_id",
        "embedding", k = 2)
      .as[(Long, Long, Int, Option[Long])].collect()
    assert(g2.length == 2 && g2.forall(_._4.isEmpty))
  }

  test("ivfIngestAudit: per-cell growth and drift goldens; empty " +
      "arrival side never alerts; exact decision arithmetic") {
    val existing = Seq(
      (10L, Seq(10.0, 0.0)), (11L, Seq(0.0, 10.0)),
      (12L, Seq(9.0, 1.0)), (13L, Seq(1.0, 9.0)))
      .toDF("vec_id", "embedding")
    val seeds = Similarity.ivfSeeds(existing, "vec_id", "embedding", 2)
    // all arrivals route to cell 0; two sit far off the centroid
    val arriving = Seq(
      (20L, Seq(8.0, 0.0)), (21L, Seq(20.0, 4.0)),
      (22L, Seq(30.0, 6.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfIngestAudit(existing, arriving, "vec_id",
        "embedding", seeds, growthAlertPerMille = 1000L,
        driftAlertPerMille = 1000L)
      .as[(Int, Long, Long, Option[Double], Boolean, Option[Double],
        Option[Double], Boolean, Boolean)]
      .collect().sortBy(_._1)
    assert(got.length === 2)
    val c0 = got(0); val c1 = got(1)
    // cell 0: base {10, 12} (d2 0 and 2), new {20, 21, 22}
    // (d2 4, 116+..., ...): growth 3/2 alerts at 1000 per-mille,
    // drifted arrivals alert on the cross-multiplied means
    assert(c0._2 === 2L && c0._3 === 3L)
    assert(c0._4 === Some(1.5) && c0._5)
    assert(c0._6 === Some(1.0))
    assert(c0._8 && c0._9)
    // cell 1: base {11, 13}, no arrivals: ratio 0, nothing alerts
    assert(c1._2 === 2L && c1._3 === 0L)
    assert(c1._4 === Some(0.0) && !c1._5 && !c1._8 && !c1._9)
    assert(c1._7.isEmpty, "empty arrival side has no mean")
  }

  test("ivfSq8Search: nprobe=nlist equals unrouted sq8Search; " +
      "nprobe=1 restricts to the probe's cell; zero corpus is NULL") {
    // Two well-separated direction clusters; seeds (lowest ids 10,
    // 11) anchor one cell each.
    val corpus = Seq(
      (10L, Seq(10.0, 0.0)), (11L, Seq(0.0, 10.0)),
      (12L, Seq(9.0, 1.0)), (13L, Seq(1.0, 9.0)),
      (14L, Seq(8.0, 0.5)), (15L, Seq(0.5, 8.0)))
      .toDF("vec_id", "embedding")
    val probes = Seq((1L, Seq(1.0, 0.1)), (2L, Seq(0.1, 1.0)))
      .toDF("vec_id", "embedding")
    val seeds = Similarity.ivfSeeds(corpus, "vec_id", "embedding", 2)

    // Full routing scans every cell — must reproduce the unrouted
    // ranking exactly (scores are exact longs on both paths).
    val routed = Similarity.ivfSq8Search(corpus, probes, "vec_id",
        "embedding", seeds, nprobe = 2, k = 6)
      .select("probe_id", "vec_id", "rank", "score_int")
      .as[(Long, Long, Int, Option[Long])].collect().toSet
    val flat = Similarity.sq8Search(corpus, probes, "vec_id",
        "embedding", k = 6)
      .as[(Long, Long, Int, Option[Long])].collect().toSet
    assert(routed === flat)

    // nprobe=1: probe 1 routes to the x-cell only — every candidate
    // is x-dominated, and the y-cluster never appears.
    val one = Similarity.ivfSq8Search(corpus, probes, "vec_id",
        "embedding", seeds, nprobe = 1, k = 6)
      .select("probe_id", "vec_id")
      .as[(Long, Long)].collect().groupBy(_._1)
    assert(one(1L).map(_._2).toSet === Set(10L, 12L, 14L))
    assert(one(2L).map(_._2).toSet === Set(11L, 13L, 15L))

    val zeros = Seq((20L, Seq(0.0, 0.0)), (21L, Seq(0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val zSeeds = Similarity.ivfSeeds(zeros, "vec_id", "embedding", 2)
    val g3 = Similarity.ivfSq8Search(zeros, probes, "vec_id",
        "embedding", zSeeds, nprobe = 2, k = 2)
      .select("probe_id", "vec_id", "rank", "score_int")
      .as[(Long, Long, Int, Option[Long])].collect()
    assert(g3.forall(_._4.isEmpty))
  }
  test("rerankCandidateSweep (V36): recall climbs with candidate " +
      "budget on the quantization-hostile corpus; stage2_pairs " +
      "prices each budget; single-budget row matches the V35 " +
      "readout") {
    // the V35 fixture: a 200-magnitude outlier crushes the int8
    // grid so sq8's top-5 has ZERO overlap with the exact top-5 —
    // budget k buys nothing, budget 11 recovers everything
    val near = (0L until 10L).map { i =>
      val a = 0.002f * (9 - i)
      (i, Seq(1.0f + a, 1.0f - a))
    }
    val far = (10L until 20L).map(i => (i, Seq(1.0f, -1.0f)))
    val outlier = Seq((99L, Seq(200.0f, 0.0f)))
    val corpus = (near ++ far ++ outlier).toDF("vec_id", "embedding")
    val probes = Seq((1000L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val seeds = Similarity.ivfSeeds(corpus, "vec_id", "embedding",
      nlist = 1)
    val sw = Similarity.rerankCandidateSweep(corpus, probes,
        "vec_id", "embedding", seeds, nprobe = 1,
        candidateBudgets = Seq(5, 11, 21), k = 5)
      .as[(Int, Long, Long, Long, Option[Double], Long)]
      .collect().sortBy(_._1)
    assert(sw.map(_._1).toSeq === Seq(5, 11, 21))
    assert(sw.forall(r => r._2 === 1L && r._3 === 5L))
    // stage-2 cost axis: exactly the candidates each budget bought
    assert(sw.map(_._6).toSeq === Seq(5L, 11L, 21L))
    // recall 0 at budget k (re-ranking a wrong set cannot help),
    // 1.0 once the over-fetch spans the ordering loss
    assert(sw(0)._4 === 0L && sw(0)._5 === Some(0.0))
    assert(sw(1)._5 === Some(1.0) && sw(2)._5 === Some(1.0))
    // one-budget sweep == the V35 readout's rerank row
    val ro = Similarity.retrieveRerankReadout(corpus, probes,
        "vec_id", "embedding", seeds, nprobe = 1, candidates = 11,
        k = 5)
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(ro("rerank")._4 === sw(1)._4 &&
      ro("rerank")._5 === sw(1)._5)
    // determinism
    val again = Similarity.rerankCandidateSweep(corpus, probes,
        "vec_id", "embedding", seeds, nprobe = 1,
        candidateBudgets = Seq(5, 11, 21), k = 5)
      .as[(Int, Long, Long, Long, Option[Double], Long)]
      .collect().sortBy(_._1)
    assert(again.toSeq === sw.toSeq)
  }
}
