package graft.operators

import graft.sources.Utf8Order
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinterop.ShuffleInterop
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Batch-perceptron TRAINING over a hashed feature matrix — the
  * learn-the-filter half `domain_classify` (inference against fixed
  * weights) leaves open: a corpus pipeline trains its quality/domain
  * linear probes on labeled slices, then routes with them.
  *
  * The batch (a.k.a. parallel) perceptron is the deterministic,
  * engine-replayable member of the linear-classifier family: each
  * round scores every example against the current weights, and the
  * update is the SUM of y·x over the misclassified set —
  *
  *   w_{i} = w_{i-1} + Σ_{d : y_d · ⟨w_{i-1}, x_d⟩ <= 0} y_d · x_d
  *
  * Everything is integer (counts, ±1 labels, long weights): sums are
  * order-free, comparisons exact, so the whole training run
  * hash-matches an unrolled relational replay (DuckDB CTE chain, one
  * round per CTE — the label_propagation/BpeTrain discipline). A
  * sequential perceptron or gradient descent with a sigmoid would
  * sacrifice exactly this: per-row update order and libm `exp` both
  * diverge across engines.
  *
  * Scale shape: SQL reads the flat feature matrix once (validating
  * every feature id); inside round 1's job its rows shuffle by id and
  * pivot DOC-MAJOR (per example, features as parallel primitive
  * arrays), pinned while training runs. Each round is ONE RDD job that
  * plans no query ([[fit]]): the weights ride the closure and each task
  * returns one nFeatures-long gradient. Arithmetic follows the SQL it
  * replaced: the score wraps on overflow, while y·score and the
  * gradient's products and sums raise `ArithmeticException` (ANSI).
  *
  * In: features (id, y, f, x) with y ∈ {+1, −1}, integer counts x,
  * f ∈ [0, nFeatures). Out: (iter, f, w) for iter 1..iters — the full
  * integer weight evolution (iteration i's row set IS w_i).
  */
object Perceptron {

  /** One example: its label and its features as parallel arrays. */
  private final case class Doc[L](y: L, fs: Array[Int], xs: Array[Long])

  /** Doc-major pivot of the flat (id, label, f, x) matrix, persisted;
    * its `UnsafeRow`s shuffle by the hash of the id, a one-field row, so
    * any id type groups by value. `read` takes the label from field 1;
    * an example's label is the `least` of its rows' (constant per id by
    * contract). Feature order is whatever the shuffle delivered: every
    * consumer sums integers, order-free.
    */
  private def pivotMat[L](features: DataFrame, label: Column,
      nFeatures: Int)(read: (InternalRow, Int) => L)(
      least: (L, L) => L): RDD[Doc[L]] = {
    val rows = features
      .select(struct(col("id")), label,
        // fail FAST and identically across all three training paths on
        // a contract-violating feature id: the flat-matrix join form
        // silently scored an out-of-range f as weight 0, while the
        // doc-major fold would index past the weight vector — an
        // inconsistent, late, and unlabeled failure either way
        when(col("f") >= 0 && col("f") < nFeatures, col("f").cast("int"))
          .otherwise(raise_error(concat(
            lit(s"perceptron feature id out of [0, $nFeatures): "),
            col("f")))),
        col("x").cast("long"))
      .queryExecution.toRdd
    val parts = rows.getNumPartitions.max(1)
    ShuffleInterop.shuffleRows(rows.map(r => (Math.floorMod(
      r.getStruct(0, 1).hashCode, parts), r)), parts, 4, mapStageNow = false)
      .mapPartitions { in =>
        val byId = mutable.HashMap.empty[InternalRow, Seq[(L, Int, Long)]]
        in.foreach { r =>
          val id = r.getStruct(0, 1)
          byId(id.copy()) = (read(r, 1), r.getInt(2), r.getLong(3)) +:
            byId.getOrElse(id, Nil)
        }
        byId.valuesIterator.map(rs => Doc(rs.map(_._1).reduce(least),
          rs.map(_._2).toArray, rs.map(_._3).toArray))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** ⟨w, x⟩ — wrapping on overflow, like the SQL fold it replaces. */
  private def score(d: Doc[_], w: Array[Long]): Long = {
    var s = 0L
    for (i <- d.fs.indices) s += d.xs(i) * w(d.fs(i))
    s
  }

  /** `iters` fused rounds of `k` batch perceptrons over one pinned
    * matrix, `y(label, c)` the ±1 label of class c: each round is ONE
    * `treeAggregate` whose closure carries the weights, folding every
    * (example, class) margin and, when it is <= 0, y·x into that class's
    * gradient (raising on overflow, like ANSI SQL). `each` sees every
    * round's weights; the last are returned.
    */
  private def fit[L](mat: RDD[Doc[L]], k: Int, nFeatures: Int,
      iters: Int)(y: (L, Int) => Long)(
      each: (Int, Array[Array[Long]]) => Unit): Array[Array[Long]] = {
    var w = Array.fill(k)(new Array[Long](nFeatures))
    for (i <- 1 to iters) {
      val ws = w
      val grad = mat.treeAggregate(Array.fill(k)(new Array[Long](nFeatures)))(
        (g, d) => {
          for (c <- 0 until k) {
            val yc = y(d.y, c)
            if (Math.multiplyExact(yc, score(d, ws(c))) <= 0)
              for (j <- d.fs.indices) g(c)(d.fs(j)) = Math.addExact(
                g(c)(d.fs(j)), Math.multiplyExact(yc, d.xs(j)))
          }
          g
        },
        (g1, g2) => {
          for (c <- 0 until k; f <- 0 until nFeatures)
            g1(c)(f) = Math.addExact(g1(c)(f), g2(c)(f))
          g1
        })
      w = Array.tabulate(k, nFeatures)((c, f) => ws(c)(f) + grad(c)(f))
      each(i, w)
    }
    w
  }

  def train(features: DataFrame, nFeatures: Int, iters: Int): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    trainLoop(features, nFeatures, iters)((_, _) => ())._1
      .toDF("iter", "f", "w")
  }

  /** Train, then score every example against the FINAL weights and
    * report the exact confusion counts — the end-to-end
    * train-and-evaluate a pipeline gates a learned filter on before
    * routing a corpus with it. pred = sign(score) with 0 → −1
    * (matching the training margin's <=). Out: (y, pred, n), y as long.
    */
  def trainConfusion(features: DataFrame, nFeatures: Int,
      iters: Int): DataFrame = {
    val (_, counts) = trainLoop(features, nFeatures, iters) { (mat, w) =>
      mat.map(d => (d.y, if (score(d, w) > 0) 1L else -1L)).countByValue()
    }
    confusion(features, "y", LongType, counts)
  }

  /** ONE-VS-REST multiclass — the lang-router shape: one binary batch
    * perceptron per class over the SHARED feature matrix (labels
    * derived per class: +1 for the class, −1 for the rest), then every
    * example scores against every class's final weights and the
    * prediction is the argmax with ties to the lexicographically
    * SMALLEST class — integer scores, so the tie rule is exact on both
    * engines. Out: (cls, pred, n) — the exact multiclass confusion.
    *
    * Scale shape: the matrix pins once, and the K trainings FUSE into
    * one job per round ([[fit]]), so the JOB COUNT is iters + 1
    * regardless of K (per-class loops would pay K·iters: 100× the
    * scheduling and scans at K=100 for the same algebra). The driver
    * holds K·nFeatures longs, bounded by the require below. The fused
    * math is EXACTLY the per-class batch perceptron (integer sums are
    * order-free), pinned in PerceptronSpec against the binary trainer.
    */
  def ovrConfusion(features: DataFrame, classes: Seq[String],
      nFeatures: Int, iters: Int): DataFrame = {
    require(classes.nonEmpty && classes.distinct == classes &&
      classes == classes.sorted,
      s"classes must be distinct and sorted: $classes")
    require(iters >= 1 && iters <= 100, s"iters out of range: $iters")
    require(classes.length.toLong * iters * nFeatures <= (1L << 20),
      "classes * iters * nFeatures exceeds the 2^20 driver-side budget")
    val cs = classes.toArray
    val mat = pivotMat(features, col("cls"), nFeatures)(
      (r, i) => if (r.isNullAt(i)) null else r.getString(i))(
      (a, b) => if (a == null || (b != null && Utf8Order.compare(b, a) < 0)) b
        else a)
    val counts = try {
      // a null cls is -1 for every class, as `cls === c` is not true
      val w = fit(mat, cs.length, nFeatures, iters)(
        (cls, c) => if (cls == cs(c)) 1L else -1L)((_, _) => ())
      // argmax = the first minimum of -score over the classes in UTF-8
      // order (SQL's least over (-score, class)); the negation raises
      // on overflow like SQL's
      val byUtf8 =
        cs.indices.sortWith((x, y) => Utf8Order.compare(cs(x), cs(y)) < 0)
      mat.map { d =>
        val best = if (cs.length == 1) 0
          else byUtf8.minBy(c => Math.negateExact(score(d, w(c))))
        (d.y, cs(best))
      }.countByValue()
    } finally mat.unpersist(blocking = true)
    confusion(features, "cls", StringType, counts)
  }

  /** The (label, pred, n) confusion table from its counts — the schema
    * of the `groupBy(label, pred).agg(count)` it replaces.
    */
  private def confusion(features: DataFrame, label: String,
      tpe: DataType, counts: Iterable[((Any, Any), Long)]): DataFrame =
    features.sparkSession.createDataFrame(
      counts.map { case ((y, p), n) => Row(y, p, n) }.toSeq.asJava,
      StructType(Seq(StructField(label, tpe),
        StructField("pred", tpe, nullable = false),
        StructField("n", LongType, nullable = false))))

  private def trainLoop[T](features: DataFrame, nFeatures: Int, iters: Int)(
      finish: (RDD[Doc[Long]], Array[Long]) => T): (Seq[(Int, Int, Long)], T) = {
    require(nFeatures >= 1 && nFeatures <= (1 << 16),
      s"nFeatures out of range: $nFeatures")
    require(iters >= 1 && iters <= 100, s"iters out of range: $iters")
    // weights AND their full evolution live on the driver (that is
    // what makes the weights-in-the-closure shape work) — bound the
    // materialization, not just each factor
    require(iters.toLong * nFeatures <= (1L << 20),
      s"iters * nFeatures = ${iters.toLong * nFeatures} exceeds the " +
        "2^20 driver-side weight-evolution budget")
    val mat = pivotMat(features, col("y").cast("long"), nFeatures)(
      _.getLong(_))(math.min)
    try {
      val out = Seq.newBuilder[(Int, Int, Long)]
      val w = fit(mat, 1, nFeatures, iters)((y, _) => y)((i, wi) =>
        out ++= wi(0).zipWithIndex.map { case (v, f) => (i, f, v) })
      (out.result(), finish(mat, w(0)))
    } finally mat.unpersist(blocking = true)
  }

  /** The DuckDB replay for a FIXED round count: `featCte` must define
    * `feat(id, y, f, x)` (the caller's feature extraction — table
    * specifics live with the query, the training algebra here); each
    * round is a score CTE, a misclassified CTE, a gradient CTE, and
    * the weight update, with nothing from the engine's run embedded.
    */
  def oracleSql(featCte: String, nFeatures: Int, iters: Int): String = {
    val w0 =
      s"""w0 AS (
         |  SELECT CAST(g.k AS INTEGER) AS f, CAST(0 AS BIGINT) AS w
         |  FROM generate_series(0, ${nFeatures - 1}) g(k))""".stripMargin
    val rounds = (1 to iters).map { i =>
      val p = i - 1
      s"""s$i AS (
         |  SELECT id, MIN(y) AS y, SUM(x * w) AS score
         |  FROM feat JOIN w$p USING (f) GROUP BY id),
         |m$i AS (SELECT id, y FROM s$i WHERE y * score <= 0),
         |g$i AS (
         |  SELECT f, SUM(m$i.y * feat.x) AS gw
         |  FROM feat JOIN m$i USING (id) GROUP BY f),
         |w$i AS (
         |  SELECT w$p.f, CAST(w$p.w + COALESCE(g$i.gw, 0) AS BIGINT) AS w
         |  FROM w$p LEFT JOIN g$i USING (f))""".stripMargin
    }
    val out = (1 to iters)
      .map(i => s"SELECT CAST($i AS INTEGER) AS iter, f, w FROM w$i")
      .mkString("\nUNION ALL\n")
    s"WITH $featCte,\n$w0,\n${rounds.mkString(",\n")}\n$out\nORDER BY iter, f"
  }

  /** The [[ovrConfusion]] replay: `featCte` must define
    * `feat(id, cls, f, x)`; per class, the binary label derivation and
    * the full round chain (the [[oracleSql]] algebra, class-prefixed
    * CTE names); then the K final weight tables union, every example
    * scores against every class, and the argmax (score DESC, cls)
    * folds into exact confusion counts. Nothing engine-run embedded.
    */
  def ovrConfusionOracleSql(featCte: String, classes: Seq[String],
      nFeatures: Int, iters: Int): String = {
    require(classes.nonEmpty && classes.distinct == classes &&
      classes == classes.sorted, s"classes: $classes")
    val perClass = classes.zipWithIndex.map { case (c, k) =>
      val bin =
        s"""b$k AS (
           |  SELECT id, CASE WHEN cls = '$c' THEN 1 ELSE -1 END AS y,
           |  f, x FROM feat)""".stripMargin
      val w0 =
        s"""w${k}_0 AS (
           |  SELECT CAST(g.k AS INTEGER) AS f, CAST(0 AS BIGINT) AS w
           |  FROM generate_series(0, ${nFeatures - 1}) g(k))""".stripMargin
      val rounds = (1 to iters).map { i =>
        val p = i - 1
        s"""s${k}_$i AS (
           |  SELECT id, MIN(y) AS y, SUM(x * w) AS score
           |  FROM b$k JOIN w${k}_$p USING (f) GROUP BY id),
           |m${k}_$i AS (SELECT id, y FROM s${k}_$i WHERE y * score <= 0),
           |g${k}_$i AS (
           |  SELECT f, SUM(m${k}_$i.y * b$k.x) AS gw
           |  FROM b$k JOIN m${k}_$i USING (id) GROUP BY f),
           |w${k}_$i AS (
           |  SELECT w${k}_$p.f,
           |  CAST(w${k}_$p.w + COALESCE(g${k}_$i.gw, 0) AS BIGINT) AS w
           |  FROM w${k}_$p LEFT JOIN g${k}_$i USING (f))""".stripMargin
      }
      (Seq(bin, w0) ++ rounds).mkString(",\n")
    }
    val wf = classes.zipWithIndex
      .map { case (c, k) => s"SELECT '$c' AS c, f, w FROM w${k}_$iters" }
      .mkString("\n  UNION ALL ")
    s"""WITH $featCte,
       |${perClass.mkString(",\n")},
       |wf AS (
       |  $wf),
       |sc AS (
       |  SELECT feat.id, feat.cls, wf.c, SUM(feat.x * wf.w) AS score
       |  FROM feat JOIN wf USING (f) GROUP BY feat.id, feat.cls, wf.c),
       |pr AS (
       |  SELECT cls, c AS pred FROM (
       |    SELECT cls, c,
       |    row_number() OVER (PARTITION BY id ORDER BY score DESC, c)
       |      AS rn
       |    FROM sc) t WHERE rn = 1)
       |SELECT cls, pred, CAST(COUNT(*) AS BIGINT) AS n FROM pr
       |GROUP BY cls, pred""".stripMargin
  }

  /** The [[trainConfusion]] replay: the same round chain, then one
    * more scoring pass against the final weights folded into exact
    * confusion counts.
    */
  def confusionOracleSql(featCte: String, nFeatures: Int,
      iters: Int): String = {
    val base = oracleSql(featCte, nFeatures, iters)
    val cut = base.lastIndexOf("\nSELECT CAST(1 AS INTEGER) AS iter")
    require(cut > 0, "oracle chain anchor missing")
    base.substring(0, cut) +
      s"""
         |SELECT y, pred, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |  SELECT CAST(MIN(y) AS BIGINT) AS y,
         |  CASE WHEN SUM(x * w) > 0 THEN CAST(1 AS BIGINT)
         |       ELSE CAST(-1 AS BIGINT) END AS pred
         |  FROM feat JOIN w$iters USING (f) GROUP BY id) t
         |GROUP BY y, pred""".stripMargin
  }
}
