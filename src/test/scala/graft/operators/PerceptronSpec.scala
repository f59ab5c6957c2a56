package graft.operators

import graft.SparkTestBase
import org.apache.spark.graftspec.JobLog

/** Batch-perceptron laws on a hand-computable fixture: round 1 updates
  * from EVERY example (w0 = 0 scores everything 0, and 0 counts as
  * misclassified — the <= in the margin test), a separating weight
  * vector is a fixed point, and the emitted rows are the full integer
  * weight evolution. Overflow follows the SQL the rounds replaced, and
  * rounds plan no query.
  */
class PerceptronSpec extends SparkTestBase {

  import spark.implicits._

  test("hand-computed two-feature run: full update, then fixed point") {
    // A: y=+1 x=(2,0); B: y=-1 x=(0,3); C: y=+1 x=(1,1)
    // w1 = (2,0) - (0,3) + (1,1) = (3,-2) separates all three,
    // so w2 == w1 (no misclassified rows -> zero gradient)
    val feats = Seq(
      (1L, 1L, 0, 2L),
      (2L, -1L, 1, 3L),
      (3L, 1L, 0, 1L), (3L, 1L, 1, 1L)).toDF("id", "y", "f", "x")
    val got = Perceptron.train(feats, nFeatures = 2, iters = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq((1, 0, 3L), (1, 1, -2L), (2, 0, 3L), (2, 1, -2L)),
      got.toString)
  }

  test("trainConfusion scores against the FINAL weights") {
    // same fixture: w2 = (3,-2) classifies all three correctly
    val feats = Seq(
      (1L, 1L, 0, 2L),
      (2L, -1L, 1, 3L),
      (3L, 1L, 0, 1L), (3L, 1L, 1, 1L)).toDF("id", "y", "f", "x")
    val got = Perceptron.trainConfusion(feats, nFeatures = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq((-1L, -1L, 1L), (1L, 1L, 2L)), got.toString)
  }

  test("a feature no example carries keeps weight zero") {
    val feats = Seq((1L, 1L, 0, 1L)).toDF("id", "y", "f", "x")
    val got = Perceptron.train(feats, nFeatures = 3, iters = 1)
      .collect().map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq((0, 1L), (1, 0L), (2, 0L)), got.toString)
  }

  test("oracle generator emits one round chain per iteration") {
    val sql = Perceptron.oracleSql("feat AS (SELECT 1)", 4, 2)
    for (i <- 1 to 2; c <- Seq("s", "m", "g", "w"))
      assert(sql.contains(s"$c$i"), s"missing $c$i")
    assert(!sql.contains("s3 AS"))
    assert(sql.contains("generate_series(0, 3)"))
  }

  test("ovrConfusion: per-class weights == binary train on derived " +
      "labels; argmax ties to the smallest class") {
    // two features, three classes; class weights learned independently
    // over the shared matrix. doc 1 is class a-ish on f0, doc 2 b-ish
    // on f1, doc 3 carries both features equally -> its a/b scores can
    // tie, and a tie must resolve to the smaller class name
    val mc = Seq(
      (1L, "a", 0, 2L),
      (2L, "b", 1, 2L),
      (3L, "c", 0, 1L), (3L, "c", 1, 1L)).toDF("id", "cls", "f", "x")
    val got = Perceptron.ovrConfusion(mc, Seq("a", "b", "c"),
        nFeatures = 2, iters = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // replay by hand through the public binary trainer: weights per
    // class from the derived labels...
    def binW(c: String): Array[Long] = {
      import org.apache.spark.sql.functions._
      val feats = mc.select(col("id"),
        when(col("cls") === c, 1L).otherwise(-1L).as("y"),
        col("f"), col("x"))
      val rows = Perceptron.train(feats, nFeatures = 2, iters = 3)
        .filter(col("iter") === 3).collect()
        .map(r => r.getInt(1) -> r.getLong(2)).toMap
      Array(rows(0), rows(1))
    }
    val ws = Seq("a", "b", "c").map(c => c -> binW(c)).toMap
    // ...then argmax with ties to the smallest class
    val xs = Map(1L -> Array(2L, 0L), 2L -> Array(0L, 2L),
      3L -> Array(1L, 1L))
    val truth = Map(1L -> "a", 2L -> "b", 3L -> "c")
    val want = xs.map { case (id, x) =>
      val pred = Seq("a", "b", "c").map(c =>
        (c, ws(c)(0) * x(0) + ws(c)(1) * x(1)))
        .minBy { case (c, sc) => (-sc, c) }._1
      (truth(id), pred)
    }.groupBy(identity).map { case ((cls, p), g) =>
      (cls, p, g.size.toLong) }.toSet
    assert(got == want, s"got $got want $want")
  }

  test("ovr oracle generator emits one chain per class and the argmax") {
    val sql = Perceptron.ovrConfusionOracleSql(
      "feat AS (SELECT 1 AS id, 'a' AS cls, 0 AS f, 1 AS x)",
      Seq("a", "b"), nFeatures = 2, iters = 2)
    for (k <- 0 to 1; i <- 1 to 2)
      assert(sql.contains(s"w${k}_$i AS"), s"missing w${k}_$i")
    assert(!sql.contains("w2_1 AS") && !sql.contains("w0_3 AS"))
    assert(sql.contains("ORDER BY score DESC, c"))
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("the pivot groups each id by value across input partitions") {
    // string and null ids, each example's rows spread over 4 input
    // partitions; the reference groups by id in plain Scala
    val rnd = new scala.util.Random(7)
    val ids = Seq("a", "b", "c", "d", "e", null)
    val rows = Seq.fill(60)((ids(rnd.nextInt(ids.size)), rnd.nextInt(4),
      1L + rnd.nextInt(3)))
    val label = (id: String) => if (id == null || id < "c") 1L else -1L
    val flat = rows.map { case (id, f, x) => (id, label(id), f, x) }
      .toDF("id", "y", "f", "x")
    var w = Array.fill(4)(0L)
    val want = (1 to 3).flatMap { i =>
      val g = Array.fill(4)(0L)
      for ((id, rs) <- rows.groupBy(_._1); y = label(id)
        if y * rs.map { case (_, f, x) => x * w(f) }.sum <= 0;
        (_, f, x) <- rs) g(f) += y * x
      w = w.zip(g).map { case (a, b) => a + b }
      w.indices.map(f => (i, f, w(f)))
    }
    for (d <- Seq(flat.repartition(4, $"f"), flat.coalesce(1))) {
      val got = Perceptron.train(d, nFeatures = 4, iters = 3).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      assert(got == want, got.toString)
    }
  }

  test("overflow: the score wraps; y·score and gradient sums raise") {
    def feats(rows: (Long, Long, Int, Long)*) = rows.toDF("id", "y", "f", "x")
    // round 2 scores 2^32 · 2^32 = 2^64, which wraps to 0: a margin of
    // 0 is misclassified, so the weight doubles
    val wrap = Perceptron.train(feats((1L, 1L, 0, 1L << 32)), 1, 2)
      .collect().map(r => (r.getInt(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(wrap == Seq((1, 1L << 32), (2, 1L << 33)), wrap.toString)
    // w1 = 3·2^31 - 2^31 = 2^32; round 2 scores example 2 as
    // 2^31 · 2^32 = 2^63, which wraps to Long.MinValue, and
    // -1 · Long.MinValue overflows
    val margin = intercept[Exception](Perceptron.train(
      feats((1L, 1L, 0, 3L << 31), (2L, -1L, 0, 1L << 31)), 1, 2))
    assert(causes(margin).exists(_.isInstanceOf[ArithmeticException]),
      margin.toString)
    // round 1's gradient sums Long.MaxValue + 1
    val grad = intercept[Exception](Perceptron.train(
      feats((1L, 1L, 0, Long.MaxValue), (2L, 1L, 0, 1L)), 1, 1))
    assert(causes(grad).exists(_.isInstanceOf[ArithmeticException]),
      grad.toString)
  }

  test("a feature id outside [0, nFeatures) fails, naming it") {
    val e = intercept[Exception](Perceptron.train(
      Seq((1L, 1L, 5, 1L)).toDF("id", "y", "f", "x"), 2, 1))
    assert(causes(e).exists(t => Option(t.getMessage).exists(
      _.contains("perceptron feature id out of [0, 2): 5"))), e.toString)
  }

  test("rounds plan nothing: 1 and 4 iterations start the same SQL " +
      "executions, and each round is one job") {
    val feats = Seq(
      (1L, 1L, 0, 2L),
      (2L, -1L, 1, 3L),
      (3L, 1L, 0, 1L), (3L, 1L, 1, 1L)).toDF("id", "y", "f", "x")
    def run(iters: Int): JobLog = JobLog(spark.sparkContext)(
      Perceptron.train(feats, nFeatures = 2, iters).collect())._1
    val (one, four) = (run(1), run(4))
    assert(one.sqlExecutions == four.sqlExecutions,
      s"${one.sqlExecutions} vs ${four.sqlExecutions} SQL executions")
    assert(four.jobs - one.jobs == 3, s"${one.jobs} vs ${four.jobs} jobs")
  }
}
