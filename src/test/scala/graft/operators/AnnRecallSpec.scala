package graft.operators

import graft.{SparkTestBase, TempDirs}

import scala.util.Random

/** Recall characterization of the IVF ANN family against the exact
  * brute-force top-k. Single-probe IVF is recall-fragile near cell
  * boundaries; multi-probe ([[SimilarityOps.annIvfMultiProbe]]) probes
  * the union of the `nprobe` nearest cells and provably dominates it:
  * a true neighbor in the single-probe answer can never drop out when
  * the candidate set only grows (fewer than k items beat it globally,
  * so fewer than k beat it in any candidate subset).
  */
class AnnRecallSpec extends SparkTestBase with TempDirs {

  private val n = 400
  private val dim = 32
  private val nCents = 8
  private val k = 10

  private def vectors: Seq[(Long, Array[Double])] = {
    val rnd = new Random(7)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
  }

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))

  /** Exact cosine top-k over the non-centroid universe, driver-side. */
  private def bruteTopK(vecs: Seq[(Long, Array[Double])],
      probeId: Long): Seq[Long] = {
    val pv = vecs.find(_._1 == probeId).get._2
    vecs.filter { case (id, _) => id >= nCents && id != probeId }
      .map { case (id, v) =>
        (id, dot(v, pv) / (math.sqrt(dot(v, v)) * math.sqrt(dot(pv, pv))))
      }.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
  }

  test("nprobe=1 reproduces single-probe IVF bit for bit") {
    import spark.implicits._
    val df = vectors.toDF("id", "v")
    val single = SimilarityOps.annIvf(df, "id", "v", nCents, 8L, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val multi1 = SimilarityOps
      .annIvfMultiProbe(df, "id", "v", nCents, 8L, k, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(multi1 == single)
  }

  test("batch multi-probe equals the one-shot answer per probe") {
    import spark.implicits._
    val df = vectors.toDF("id", "v")
    val probes = Seq(8L, 77L, 222L)
    val batch = SimilarityOps
      .annIvfMultiProbeBatch(df, "id", "v", nCents, probes, k, nprobe = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    probes.foreach { p =>
      val single = SimilarityOps
        .annIvfMultiProbe(df, "id", "v", nCents, p, k, nprobe = 3)
        .collect().map(r => (p, r.getLong(0), r.getDouble(1))).toSeq
      // per-probe rows match bit for bit (same tie-breaks, same folds);
      // GroupedTopK emits unordered rows, so compare as ordered-by-rank
      val got = batch(p).sortBy(t => (-t._3, t._2)).toSeq
      assert(got == single.sortBy(t => (-t._3, t._2)), s"probe $p")
    }
  }

  test("retrain recovers recall lost to distribution drift") {
    import spark.implicits._
    // drifted ingest: 4 tight NEW modes far from the base Gaussian —
    // the frozen build-time codebook (trained on base only) has no
    // cell for them, so a mode's members straddle whatever base cells
    // happen to be nearest and a member's true neighbors (its own
    // mode) land across the boundary: the canonical recall-decay
    // mechanism appendToIvfIndex's immutable codebook cannot fix.
    val modes = (0 until 4).map { m =>
      val rc = new Random(100 + m)
      Array.fill(dim)(rc.nextGaussian() * 3.0)
    }
    val drift = (0 until 160).map { j =>
      val m = j % 4
      val rn = new Random(9000 + j)
      ((n + j).toLong,
        modes(m).map(_ + rn.nextGaussian() * 0.3))
    }
    val all = vectors ++ drift
    val dir = {
      val p = tempDir("ann_drift")
      s"$p/idx"
    }
    SimilarityOps.buildIvfIndex(vectors.toDF("id", "v"), "id", "v",
      nCents, dir)
    SimilarityOps.appendToIvfIndex(drift.toDF("id", "v"), "id", "v", dir)
    val probes = (0 until 8).map(j => (n + j * 17).toLong)
    def meanRecall(): Double = probes.map { p =>
      val truth = bruteTopK(all, p).toSet
      val got = SimilarityOps
        .annIvfFromIndexMultiProbe(spark, dir, p, k, nprobe = 1)
        .collect().map(_.getLong(0))
      got.count(truth.contains).toDouble / k
    }.sum / probes.size
    val frozen = meanRecall()
    // retrain with headroom for the new modes: 12 cells, 2 Lloyd
    // rounds over the LIVE (base + drift) index
    SimilarityOps.retrainIvfIndex(spark, dir, k = 12, iters = 2)
    val retrained = meanRecall()
    info(f"drifted-probe recall@$k, nprobe=1: frozen $frozen%.2f, " +
      f"retrained $retrained%.2f")
    assert(retrained >= frozen,
      f"retrain lost recall: $retrained%.2f < $frozen%.2f")
    // measured on this fixture: frozen ~0.74 (mode members split
    // across base cells), retrained 1.0 (each mode owns a cell) — pin
    // margins below the measured values
    assert(frozen <= 0.9, f"drift fixture no longer decays recall " +
      f"($frozen%.2f) — strengthen the modes")
    assert(retrained >= 0.95, f"retrained recall $retrained%.2f")
  }

  test("hot-cell split: the max cell shrinks and multi-probe recall holds") {
    import spark.implicits._
    // skewed corpus: half the non-centroid universe in one tight mode
    // -> one genuinely hot cell, the split's reason to exist
    val rcm = new Random(31)
    val mode = Array.fill(dim)(rcm.nextGaussian() * 2.5)
    val skew = (0 until n).map { i =>
      val rn = new Random(5000 + i)
      val v =
        if (i >= nCents && i % 2 == 0) mode.map(_ + rn.nextGaussian() * 0.4)
        else Array.fill(dim)(rn.nextGaussian())
      (i.toLong, v)
    }
    val dir = {
      val p = tempDir("ann_split_recall")
      s"$p/idx"
    }
    SimilarityOps.buildIvfIndex(skew.toDF("id", "v"), "id", "v",
      nCents, dir)
    def maxCell(): Long = spark.read.parquet(dir).groupBy("bucket")
      .count().agg(org.apache.spark.sql.functions.max("count"))
      .collect().head.getLong(0)
    val probes = Seq(10L, 44L, 102L, 200L, 301L) // mode and background
    def meanRecall(np: Int): Double = probes.map { p =>
      val truth = bruteTopK(skew, p).toSet
      val got = SimilarityOps
        .annIvfFromIndexMultiProbe(spark, dir, p, k, np)
        .collect().map(_.getLong(0))
      got.count(truth.contains).toDouble / k
    }.sum / probes.size
    val mBefore = maxCell()
    val before = meanRecall(2)
    val mapping = SimilarityOps.splitHotCells(spark, dir, mBefore - 1,
      subK = 2, iters = 2)
    assert(mapping.nonEmpty, "the skewed fixture must trip the hot rule")
    val mAfter = maxCell()
    assert(mAfter < mBefore,
      s"the hot cell must shrink: $mBefore -> $mAfter")
    val after = meanRecall(2)
    info(f"recall@$k nprobe=2: before split $before%.2f " +
      f"(max cell $mBefore), after $after%.2f (max cell $mAfter)")
    // post-split a probe reads SMALLER cells for the same nprobe; the
    // sibling child of a mode probe's own cell ranks next, so recall
    // holds — pin margins below the measured values
    assert(after >= before - 0.05,
      f"split lost recall: $after%.2f < $before%.2f")
    assert(after >= 0.5, f"post-split recall floor: $after%.2f")
  }

  test("multi-probe recall dominates single-probe and clears the floor") {
    import spark.implicits._
    val vs = vectors
    val df = vs.toDF("id", "v").cache()
    val probes = Seq(8L, 25L, 77L, 130L, 222L, 301L)
    var sumSingle = 0.0
    var sumMulti = 0.0
    probes.foreach { p =>
      val truth = bruteTopK(vs, p).toSet
      def recallOf(ids: Seq[Long]): Double =
        ids.count(truth.contains).toDouble / k
      val single = recallOf(SimilarityOps
        .annIvf(df, "id", "v", nCents, p, k).collect().map(_.getLong(0)))
      val multi = recallOf(SimilarityOps
        .annIvfMultiProbe(df, "id", "v", nCents, p, k, nprobe = 3)
        .collect().map(_.getLong(0)))
      // growing the candidate set can only help (proof in scaladoc)
      assert(multi >= single, s"probe $p: multi $multi < single $single")
      sumSingle += single
      sumMulti += multi
    }
    val meanSingle = sumSingle / probes.size
    val meanMulti = sumMulti / probes.size
    info(f"mean recall@$k: single-probe $meanSingle%.2f, " +
      f"nprobe=3 $meanMulti%.2f")
    // floor measured on this fixture (seed 7): single ~0.5, nprobe=3
    // well above — pin a margin below the measured value
    assert(meanMulti >= 0.6, f"nprobe=3 mean recall $meanMulti%.2f")
    assert(meanMulti > meanSingle,
      "multi-probe brought no recall gain on the fixture")
    df.unpersist()
  }
}
