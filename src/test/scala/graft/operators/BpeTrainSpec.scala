package graft.operators

import graft.SparkTestBase
import org.apache.spark.graftspec.JobLog
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The BPE training loop's semantic pins: greedy left-to-right merge
  * order (the overlap case "a b a b" merges BOTH pairs; "l l l"
  * merges the FIRST two), frequency-weighted winner selection with
  * (cnt DESC, a, b) tie order, and multi-round evolution where later
  * rounds merge symbols EARLIER rounds created. The Scala merge
  * function and round-0 vocabulary equal the SQL they replaced, and
  * rounds plan no query.
  */
class BpeTrainSpec extends SparkTestBase {

  import spark.implicits._

  private def docs(texts: String*) = texts.toDF("text")

  test("greedy left-to-right: overlapping pairs merge non-overlapping") {
    // "abab" -> pairs (a,b) x2, (b,a) x1: winner (a,b) cnt 2; the word
    // becomes [ab, ab] (both pairs merged — the doubled-separator law)
    // and round 2 merges (ab, ab)
    val m = BpeTrain.train(docs("abab abab abab"), "text", 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(m == Seq((1, "a", "b", 6L), (2, "ab", "ab", 3L)), m.toString)
  }

  test("same-symbol runs merge the leftmost pair first") {
    // "lll": pairs (l,l) x2 -> winner (l,l) cnt 2; greedy leaves
    // [ll, l], so round 2 sees exactly one (ll, l) adjacency
    val m = BpeTrain.train(docs("lll"), "text", 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(m == Seq((1, "l", "l", 2L), (2, "ll", "l", 1L)), m.toString)
  }

  test("winners weight by word frequency, ties break (cnt desc, a, b)") {
    // "xy" appears 3 times, "yz" twice: (x,y) cnt 3 beats (y,z) cnt 2;
    // after merging, round 2's only pair is (y,z) cnt 2
    val m = BpeTrain.train(docs("xy xy yz", "xy yz"), "text", 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(m == Seq((1, "x", "y", 3L), (2, "y", "z", 2L)), m.toString)
    // exact tie on cnt: (a,b) sorts before (a,c) — binary string order
    val t = BpeTrain.train(docs("ab ac"), "text", 1)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(t == Seq(("a", "b")), t.toString)
  }

  test("exhausted vocabulary fails loudly, not silently short") {
    val e = intercept[IllegalArgumentException](
      BpeTrain.train(docs("ab ab"), "text", 3).collect())
    assert(e.getMessage.contains("vocabulary exhausted at merge"))
  }

  test("subwordCounts: segmentation by the learned merges, weighted") {
    // after 1 merge (a,b) the word "abab" (f=3) segments [ab, ab]:
    // token "ab" carries 2 x 3 = 6
    val t1 = BpeTrain.subwordCounts(docs("abab abab abab"), "text", 1, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(t1 == Seq(("ab", 6L)), t1.toString)
    // mixed vocabulary: "xy" f=3 merges, "yz" f=2 stays split after 1
    val t2 = BpeTrain.subwordCounts(docs("xy xy yz", "xy yz"), "text", 1, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(t2 == Seq(("xy", 3L), ("y", 2L), ("z", 2L)), t2.toString)
  }

  test("oracle generator emits one CTE chain per round") {
    val sql = BpeTrain.oracleSql(3)
    for (i <- 1 to 3) {
      assert(sql.contains(s"w$i AS"), s"missing round $i winner CTE")
      assert(sql.contains(s"v$i AS"), s"missing round $i vocab CTE")
    }
    assert(!sql.contains("w4 AS"))
  }

  test("batched: per-round merges are mutually symbol-disjoint and " +
      "rank 1 always survives") {
    val d = docs("aa ab ba bb aa ab", "cc cd dc aa ab", "aa bb cc dd")
    val got = BpeTrain.trainBatched(d, "text", rounds = 2, batch = 4)
      .collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (round, ms) =>
      assert(ms.map(_._2).sorted.toSeq == (1 to ms.length).toSeq)
      // pairwise non-interaction — the commutation precondition:
      // disjoint input symbols AND neither merge's concatenated OUTPUT
      // is the other's input (an output feeding a same-round input
      // would cascade inside the single application pass)
      for (Seq(x, y) <- ms.toSeq.combinations(2)) {
        val sx = Set(x._3, x._4); val sy = Set(y._3, y._4)
        assert(sx.intersect(sy).isEmpty,
          s"round $round merges share a symbol: $x / $y")
        assert(!sy.contains(x._3 + x._4) && !sx.contains(y._3 + y._4),
          s"round $round merge output feeds a sibling input: $x / $y")
      }
    }
    // the round-1 top merge equals sequential training's first merge
    val seq1 = BpeTrain.train(d, "text", 1).collect().head
    val bat1 = got.filter(r => r._1 == 1 && r._2 == 1).head
    assert((bat1._3, bat1._4) == (seq1.getString(1), seq1.getString(2)))
  }

  test("batched: one application pass equals applying the same merges " +
      "sequentially (disjoint merges commute)") {
    val d = docs("the cat sat on the mat", "the rat ate the oat",
      "in on at the an then")
    val batched = BpeTrain.trainBatched(d, "text", rounds = 1, batch = 4)
      .collect().map(r => (r.getString(2), r.getString(3)))
    assert(batched.length >= 2, s"fixture must yield a real batch: ${batched.toSeq}")
    // replay the round by hand on the initial vocabulary, applying the
    // merges one at a time in REVERSE order — commutation says the
    // result must match the engine's single-pass forward application
    def charVocab(texts: Seq[String]): Map[String, Long] =
      texts.flatMap(_.toLowerCase.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) =>
          w.toCharArray.mkString(" ") -> g.length.toLong }
    def applyMerge(v: Map[String, Long], a: String, b: String) =
      v.map { case (w, f) =>
        (" " + w.replace(" ", "  ") + " ")
          .replace(s" $a  $b ", s" $a$b ")
          .replaceAll(" +", " ").trim -> f
      }
    val texts = Seq("the cat sat on the mat", "the rat ate the oat",
      "in on at the an then")
    val byHand = batched.reverse.foldLeft(charVocab(texts)) {
      case (v, (a, b)) => applyMerge(v, a, b) }
    // engine's round-2 pair counts must equal counts over byHand: run
    // one more round on each side and compare the winning merge
    val twoRounds = BpeTrain.trainBatched(d, "text", rounds = 2, batch = 4)
      .collect().filter(_.getInt(0) == 2)
      .map(r => (r.getString(2), r.getString(3)))
    val handPairs = byHand.toSeq.flatMap { case (w, f) =>
      val sy = w.split(" ")
      sy.indices.dropRight(1).map(i => (sy(i), sy(i + 1)) -> f) }
      .groupBy(_._1).map { case (p, g) => p -> g.map(_._2).sum }
    val handTop = handPairs.toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }.head._1
    assert(twoRounds.head == handTop,
      s"round-2 winner ${twoRounds.head} != by-hand $handTop — " +
        "single-pass application diverged from sequential")
  }

  test("tie-break orders strings by UTF-8 bytes, not UTF-16 units") {
    // U+FFFD is EF BF BD and U+1F600 is F0 9F 98 80 in UTF-8, so UTF-8
    // puts U+FFFD first; UTF-16 (high surrogate D83D) puts U+1F600 first
    val t = BpeTrain.train(docs("x\uD83D\uDE00 x\uFFFD"), "text", 1)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(t == Seq(("x", "\uFFFD")), t.toString)
  }

  test("initialVocab equals the SQL vocabulary it replaces") {
    // the round-0 SQL the trainers ran before, kept as the oracle
    def sqlVocab(d: org.apache.spark.sql.DataFrame) =
      d.select(explode(split(lower(col("text")), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("f"))
        .select(trim(regexp_replace(col("word"), "(.)", "$1 ")), col("f"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val rnd = new scala.util.Random(16)
    // spaces (runs, leading, trailing), line terminators regex `.` skips,
    // tabs, case folds, non-BMP symbols, regex metacharacters
    val alphabet = Seq(" ", " ", " ", "a", "B", "\n", "\r", "\u0085",
      "\u2028", "\t", "\u0130", "\u01C5", "\uD83D\uDE00", ".", "$", "\\",
      "(", "\uFFFD")
    val texts = Seq.fill(300)(
      Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    val d = (texts :+ null).toDF("text")
    val vocab = BpeTrain.initialVocab(d, "text")
    val got = try vocab.collect().sorted.toSeq
      finally vocab.unpersist(blocking = true)
    val want = sqlVocab(d)
    assert(want.exists(_._1.contains("\n")) && want.exists(_._2 > 1))
    assert(got == want)
  }

  test("applyMerges equals the SQL merge chain it replaces") {
    // the per-round SQL the trainers ran before, kept as the oracle:
    // pad and double separators, one literal replace per merge,
    // collapse runs of spaces, Spark's space-only trim
    def chain(ms: Seq[(Column, Column)]): Column = {
      val doubled =
        concat(lit(" "), replace(col("w"), lit(" "), lit("  ")), lit(" "))
      val applied = ms.foldLeft(doubled) { case (acc, (a, b)) =>
        replace(acc, concat(lit(" "), a, lit("  "), b, lit(" ")),
          concat(lit(" "), a, b, lit(" ")))
      }
      trim(regexp_replace(applied, " +", " "))
    }
    val rnd = new scala.util.Random(16)
    // regex metacharacters, quotes, a control character, non-BMP
    // symbols (surrogate pairs) and plain letters
    val alphabet = Seq("a", "b", ".", "*", "+", "?", "(", ")", "[", "]",
      "|", "\\", "^", "$", "'", "\"", "\t", "\uFFFD", "\uD83D\uDE00",
      "\uD834\uDD1E")
    def sym(): String =
      Seq.fill(1 + rnd.nextInt(2))(alphabet(rnd.nextInt(alphabet.size))).mkString
    val cases = Seq.fill(400) {
      val sy =
        if (rnd.nextInt(3) != 0) Seq.fill(1 + rnd.nextInt(7))(sym())
        else { // a run of one symbol
          val s = sym()
          Seq.fill(2 + rnd.nextInt(6))(s)
        }
      def pick(): (String, String) =
        if (sy.size >= 2 && rnd.nextInt(4) != 0) {
          val i = rnd.nextInt(sy.size - 1)
          (sy(i), sy(i + 1))
        } else (sym(), sym())
      val ((a1, b1), (a2, b2)) = (pick(), pick())
      (sy.mkString(" "), a1, b1, a2, b2)
    }
    val rows = cases.toDF("w", "a1", "b1", "a2", "b2")
      .select(col("w"), col("a1"), col("b1"), col("a2"), col("b2"),
        chain(Seq((col("a1"), col("b1")))),
        chain(Seq((col("a1"), col("b1")), (col("a2"), col("b2")))))
      .collect()
    assert(rows.length == cases.size)
    var merged = 0
    rows.foreach { r =>
      val (w, m1, m2) =
        (r.getString(0), (r.getString(1), r.getString(2)), (r.getString(3), r.getString(4)))
      assert(BpeTrain.applyMerges(w, Seq(m1)) == r.getString(5), s"$w / $m1")
      assert(BpeTrain.applyMerges(w, Seq(m1, m2)) == r.getString(6),
        s"$w / $m1, $m2")
      if (r.getString(5) != w) merged += 1
    }
    assert(merged > cases.size / 3, s"only $merged cases merged anything")
  }

  test("rounds plan nothing: 2 and 6 merges start the same SQL " +
      "executions, and each round is one job") {
    val d = docs("the cat sat on the mat", "the rat ate the oat",
      "in on at the an then")
    def run(n: Int): JobLog =
      JobLog(spark.sparkContext)(BpeTrain.train(d, "text", n).collect())._1
    val (two, six) = (run(2), run(6))
    assert(two.sqlExecutions == six.sqlExecutions,
      s"${two.sqlExecutions} vs ${six.sqlExecutions} SQL executions")
    assert(six.jobs - two.jobs == 4, s"${two.jobs} vs ${six.jobs} jobs")
  }
}
