package graft.operators

import graft.sources.Utf8Order
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Iterated byte-pair-encoding MERGE TRAINING (Sennrich et al. 2016,
  * arXiv:1508.07909) — the N-round loop `bpe_merge_pairs`' single
  * iteration belongs to. Each round counts adjacent SYMBOL pairs over
  * the vocabulary weighted by word frequency, merges the most frequent
  * pair everywhere (greedy left-to-right within a word, the BPE
  * contract), and repeats on the evolved vocabulary; the output is the
  * ordered merge table a tokenizer ships with.
  *
  * Scale shape: ONE corpus scan counts word frequencies into a pinned
  * vocabulary RDD; every round is vocabulary-sized (not corpus-sized)
  * and ONE RDD job that plans no query: pair counts summed by
  * `reduceByKey`, the winner ranked by `takeOrdered` (ONE row back to
  * the driver), the merge mapped over the vocabulary by [[applyMerges]].
  * A lazy local checkpoint every CKPT_EVERY rounds bounds the lineage;
  * the pins are released when training returns. [[train]] caps at
  * 1,000 merges; a REAL tokenizer vocabulary (30k-50k merges) goes
  * through [[trainBatched]], which learns up to `batch` mutually
  * NON-INTERACTING merges per round (disjoint symbol sets commute, so
  * one application pass realizes all of them) — round count ≪ merge
  * count, the batching every production BPE trainer ships.
  *
  * Determinism (hash-gate parity with DuckDB): counts are exact longs;
  * the winner is (cnt DESC, a, b) with binary-UTF8 string order on
  * both engines; the merge application is pure string surgery both
  * engines replay identically — double every separator, replace the
  * space-delimited pair pattern (doubling gives each adjacency its OWN
  * delimiters, so `replace`'s non-overlapping left-to-right scan
  * merges "a b a b" twice instead of losing the second pair to a
  * shared space — and left-to-right non-overlap IS the BPE greedy
  * order), then collapse runs of spaces. Merging never collides
  * distinct vocabulary entries: the symbol-string's concatenation is
  * the original word, which merges preserve.
  *
  * In: documents with `textCol`. Out: (step, a, b, cnt) — the merge
  * learned at each round, 1-based.
  */
object BpeTrain {

  def train(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1 && nMerges <= 1000, s"nMerges out of range: $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    loop(docs, textCol, nMerges, batch = 1, window = 1, "merge")(_ => ())._1
      .map { case (step, _, a, b, cnt) => (step, a, b, cnt) }
      .toDF("step", "a", "b", "cnt")
  }

  /** Tokenizer APPLICATION — the other half a tokenizer ships: learn
    * `nMerges` merges, segment every word into the learned subwords
    * (the evolved vocabulary IS the segmentation — merges applied in
    * training order), and emit the corpus subword-frequency table's
    * top `topK`. Map-side after the loop: the final vocabulary
    * explodes its symbol strings weighted by word frequency — still
    * vocabulary-sized, never the corpus.
    */
  def subwordCounts(docs: DataFrame, textCol: String, nMerges: Int,
      topK: Int): DataFrame = {
    require(nMerges >= 1 && nMerges <= 1000, s"nMerges out of range: $nMerges")
    require(topK >= 1, s"topK=$topK")
    loop(docs, textCol, nMerges, batch = 1, window = 1, "merge")(
      topTokens(docs.sparkSession, _, topK))._2
  }

  /** Lineage-truncation interval for the training loops. */
  private val CKPT_EVERY = 8

  /** BATCHED merge training — the 30k-50k-vocabulary path: each round
    * counts pairs ONCE over the current vocabulary, ranks them
    * (cnt DESC, a, b), and learns up to `batch` merges whose symbol
    * sets are mutually disjoint, applying them all in ONE pass (the
    * `batch` replaces chained over one padded string — disjoint merges
    * commute, so one pass equals any sequential order). Selection is
    * the CONSERVATIVE disjoint rule over the top-`window` ranked
    * pairs: a pair is taken iff NO higher-ranked WINDOW pair shares a
    * symbol with it (conflict with a rejected earlier pair still
    * disqualifies) — deliberately non-iterative, so the whole round is
    * one relational expression the oracle replays identically; rank 1
    * is always taken, so every round makes progress. The window bounds
    * the driver's collect to `window` rows per round.
    *
    * Out: (round, ord, a, b, cnt) — `ord` is the merge's 1-based rank
    * within its round; application order within a round follows `ord`
    * (irrelevant semantically — they commute — but deterministic).
    */
  def trainBatched(docs: DataFrame, textCol: String, rounds: Int,
      batch: Int, window: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    loop(docs, textCol, rounds, batch, window, "round")(_ => ())._1
      .toDF("round", "ord", "a", "b", "cnt")
  }

  /** [[subwordCounts]] for the batched trainer: segment by the
    * batched-learned merges and rank the corpus subword frequencies —
    * the application half of the 30k-50k-vocabulary path.
    */
  def subwordCountsBatched(docs: DataFrame, textCol: String, rounds: Int,
      batch: Int, topK: Int, window: Int = 0): DataFrame = {
    require(topK >= 1, s"topK=$topK")
    loop(docs, textCol, rounds, batch, window, "round")(
      topTokens(docs.sparkSession, _, topK))._2
  }

  /** The round loop of both trainers ([[train]] is `batch = window =
    * 1`): each round ranks the vocabulary's top `window` pairs in one RDD
    * job, selects the round's merges and maps them over the vocabulary.
    * `finish` reads the final vocabulary before the pins are released.
    */
  private def loop[T](docs: DataFrame, textCol: String, rounds: Int,
      batch: Int, window: Int, unit: String)(
      finish: RDD[(String, Long)] => T)
      : (Seq[(Int, Int, String, String, Long)], T) = {
    require(rounds >= 1 && rounds <= 10000, s"rounds out of range: $rounds")
    require(batch >= 1 && batch <= 4096, s"batch out of range: $batch")
    val w0 = if (window <= 0) batch * 8 else window
    require(w0 >= batch, s"window=$w0 < batch=$batch")
    val merges = Seq.newBuilder[(Int, Int, String, String, Long)]
    var vocab = initialVocab(docs, textCol)
    val pins = ArrayBuffer[RDD[_]](vocab)
    try {
      for (round <- 1 to rounds) {
        val top = topPairs(vocab, w0)
        require(top.nonEmpty,
          s"vocabulary exhausted at $unit $round of $rounds — every word " +
            "is a single symbol")
        val selected = top.zipWithIndex.collect {
          case ((a, b, cnt), idx) if !top.take(idx).exists { case (c, d, _) =>
            // interacting = sharing an input symbol, OR one merge's
            // OUTPUT being the other's input (an output feeding a
            // same-round input would let the single chained pass merge
            // adjacencies the counts never saw, breaking commutation --
            // unreachable for global greedy BPE as far as we can prove,
            // but the guard costs nothing and makes the claim
            // unconditional)
            c == a || c == b || d == a || d == b ||
              c + d == a || c + d == b || a + b == c || a + b == d
          } => (a, b, cnt)
        }.take(batch)
        selected.zipWithIndex.foreach { case ((a, b, cnt), j) =>
          merges += ((round, j + 1, a, b, cnt))
        }
        val ms = selected.toSeq.map { case (a, b, _) => (a, b) }
        vocab = vocab.map { case (w, f) => (applyMerges(w, ms), f) }
        // a round's job replays <= CKPT_EVERY map-side string maps over
        // the last pin; a local checkpoint persists in the next job
        if (round % CKPT_EVERY == 0) {
          vocab = vocab.localCheckpoint()
          pins += vocab
        }
      }
      (merges.result(), finish(vocab))
    } finally pins.foreach(_.unpersist(blocking = true))
  }

  /** The round-0 vocabulary, pinned: word frequencies as symbol strings,
    * from ONE corpus scan in round 1's job. SQL lowercases; the rest makes
    * the Java calls of Spark's `split(_, ' ')` and `trim(regexp_replace(
    * word, '(.)', '$1 '))` (`applyMerges` with no merges is that `trim`).
    */
  private[operators] def initialVocab(docs: DataFrame, textCol: String)
      : RDD[(String, Long)] =
    docs.select(lower(col(textCol))).queryExecution.toRdd
      .flatMap(r => if (r.isNullAt(0)) Iterator.empty
        else r.getString(0).split(" ", -1).iterator.filter(_.nonEmpty))
      .map(_ -> 1L).reduceByKey(_ + _)
      .map { case (w, f) =>
        (applyMerges(OneChar.matcher(w).replaceAll("$1 "), Nil), f) }
      .persist(StorageLevel.MEMORY_AND_DISK)

  private val OneChar = java.util.regex.Pattern.compile("(.)")

  /** The top `n` adjacent-symbol pairs of the vocabulary by
    * frequency-weighted count, (cnt DESC, a, b) — one RDD job.
    */
  private def topPairs(vocab: RDD[(String, Long)], n: Int)
      : Array[(String, String, Long)] =
    vocab
      .flatMap { case (w, f) =>
        val sy = w.split(" ", -1)
        Iterator.range(1, sy.length).map(i => ((sy(i - 1), sy(i)), f))
      }
      .reduceByKey((x, y) => Math.addExact(x, y))
      .takeOrdered(n)(Ordering.by((p: ((String, String), Long)) =>
        (-p._2, p._1._1, p._1._2))(Ordering.Tuple3(Ordering.Long, Utf8, Utf8)))
      .map { case ((a, b), cnt) => (a, b, cnt) }

  /** The final vocabulary's top `topK` subwords, (n DESC, token), as
    * the table the SQL form `explode(split(w, " ")) ... groupBy(token)
    * .agg(sum(f)) ... limit(topK)` returns — one RDD job.
    */
  private def topTokens(spark: SparkSession, vocab: RDD[(String, Long)],
      topK: Int): DataFrame = {
    val top = vocab
      .flatMap { case (w, f) => w.split(" ", -1).iterator.map(_ -> f) }
      .reduceByKey((x, y) => Math.addExact(x, y))
      .takeOrdered(topK)(Ordering.by((t: (String, Long)) => (-t._2, t._1))(
        Ordering.Tuple2(Ordering.Long, Utf8)))
    spark.createDataFrame(top.toSeq.map { case (t, n) => Row(t, n) }.asJava,
      StructType(Seq(StructField("token", StringType, nullable = false),
        StructField("n", LongType))))
  }

  /** UTF-8 binary string order, which Spark's `orderBy` and DuckDB's
    * `ORDER BY` both use — not UTF-16's `String.compareTo`, which
    * differs past the BMP. Counts rank first, negated (all positive).
    */
  private val Utf8: Ordering[String] = Utf8Order.compare(_, _)

  /** A round's merges applied to one space-separated symbol string —
    * the SQL chain it replaces, exactly: pad and double every
    * separator, `replace` " a  b " with " ab " for each merge in order
    * (literal, left-to-right, non-overlapping), collapse runs of spaces
    * and trim spaces only (Spark's `trim`; `String.trim` would also
    * strip control characters).
    */
  private[operators] def applyMerges(w: String,
      merges: Seq[(String, String)]): String = {
    val padded = merges.foldLeft(" " + w.replace(" ", "  ") + " ") {
      case (s, (a, b)) => s.replace(s" $a  $b ", s" $a$b ")
    }
    val out = new java.lang.StringBuilder(padded.length)
    var sep = false
    padded.foreach { ch =>
      if (ch == ' ') sep = out.length > 0
      else {
        if (sep) out.append(' ')
        sep = false
        out.append(ch)
      }
    }
    out.toString
  }

  /** The oracles' round-0 vocabulary, [[initialVocab]] in DuckDB. */
  private val InitCte =
    """v0 AS (
      |  SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS w, f
      |  FROM (
      |    SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM (
      |      SELECT unnest(string_split(lower(text), ' ')) AS word
      |      FROM documents) t
      |    WHERE length(word) > 0 GROUP BY word) wf)""".stripMargin

  /** The DuckDB replay of [[train]] for a FIXED merge count: one CTE
    * chain per round (pairs → winner → applied vocabulary), the same
    * double-space merge surgery, winners unioned in step order. The
    * winner is recomputed relationally each round — nothing from the
    * engine's run is embedded, so the hash gate proves both engines
    * learn the same merges.
    */
  def oracleSql(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { i =>
      val p = i - 1
      s"""p$i AS (
         |  SELECT sy[CAST(j AS INT)] AS a, sy[CAST(j AS INT) + 1] AS b, f
         |  FROM (SELECT string_split(w, ' ') AS sy, f FROM v$p) t,
         |       unnest(generate_series(1, len(sy) - 1)) AS g(j)
         |  WHERE len(sy) >= 2),
         |w$i AS (
         |  SELECT a, b, CAST(SUM(f) AS BIGINT) AS cnt FROM p$i
         |  GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
         |v$i AS (
         |  SELECT trim(regexp_replace(
         |    replace(' ' || replace(v.w, ' ', '  ') || ' ',
         |            ' ' || w$i.a || '  ' || w$i.b || ' ',
         |            ' ' || w$i.a || w$i.b || ' '),
         |    ' +', ' ', 'g')) AS w, v.f
         |  FROM v$p v, w$i)""".stripMargin
    }
    val out = (1 to nMerges)
      .map(i => s"SELECT CAST($i AS INTEGER) AS step, a, b, cnt FROM w$i")
      .mkString("\nUNION ALL\n")
    s"WITH $InitCte,\n${rounds.mkString(",\n")}\n$out\nORDER BY step"
  }

  /** The [[trainBatched]] replay: per round — the ranked window, the
    * same conservative disjoint selection (NOT EXISTS against every
    * higher-ranked window pair), then ONE `list_reduce` applying the
    * whole batch to the vocabulary. Merges ride the fold as
    * `"a b"`-encoded strings: symbols can never contain a space (the
    * vocabulary splits on it), so the delimiter is collision-free.
    * Nothing from the engine's run is embedded — the hash gate proves
    * both engines learn the same batches.
    */
  def batchedOracleSql(rounds: Int, batch: Int, window: Int = 0): String = {
    val w0 = if (window <= 0) batch * 8 else window
    val rs = (1 to rounds).map { i =>
      val p = i - 1
      s"""t$i AS (
         |  SELECT a, b, cnt, rn FROM (
         |    SELECT a, b, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, a, b) AS rn FROM (
         |      SELECT sy[CAST(j AS INT)] AS a, sy[CAST(j AS INT) + 1] AS b,
         |             CAST(SUM(f) AS BIGINT) AS cnt
         |      FROM (SELECT string_split(w, ' ') AS sy, f FROM v$p) t,
         |           unnest(generate_series(1, len(sy) - 1)) AS g(j)
         |      WHERE len(sy) >= 2 GROUP BY 1, 2) cg) rg
         |  WHERE rn <= $w0),
         |m$i AS (
         |  SELECT a, b, cnt, ord FROM (
         |    SELECT a, b, cnt,
         |    CAST(row_number() OVER (ORDER BY rn) AS INTEGER) AS ord
         |    FROM t$i p WHERE NOT EXISTS (
         |      SELECT 1 FROM t$i q WHERE q.rn < p.rn AND
         |        (q.a = p.a OR q.a = p.b OR q.b = p.a OR q.b = p.b
         |         OR q.a || q.b = p.a OR q.a || q.b = p.b
         |         OR p.a || p.b = q.a OR p.a || p.b = q.b))) s
         |  WHERE ord <= $batch),
         |ml$i AS (SELECT list(a || ' ' || b ORDER BY ord) AS ms FROM m$i),
         |v$i AS (
         |  SELECT trim(regexp_replace(
         |    list_reduce(
         |      list_prepend(' ' || replace(v.w, ' ', '  ') || ' ', ml.ms),
         |      (acc, x) -> replace(acc,
         |        ' ' || split_part(x, ' ', 1) || '  ' ||
         |          split_part(x, ' ', 2) || ' ',
         |        ' ' || split_part(x, ' ', 1) ||
         |          split_part(x, ' ', 2) || ' ')),
         |    ' +', ' ', 'g')) AS w, v.f
         |  FROM v$p v, ml$i ml)""".stripMargin
    }
    val out = (1 to rounds)
      .map(i => s"SELECT CAST($i AS INTEGER) AS round, ord, a, b, cnt " +
        s"FROM m$i")
      .mkString("\nUNION ALL\n")
    s"WITH $InitCte,\n${rs.mkString(",\n")}\n$out\nORDER BY round, ord"
  }

  /** The [[subwordCountsBatched]] replay: the batched per-round CTE
    * chain, then the final vocabulary's symbols exploded and
    * frequency-weighted.
    */
  def batchedEncodeOracleSql(rounds: Int, batch: Int, topK: Int,
      window: Int = 0): String =
    encodeTail(batchedOracleSql(rounds, batch, window), "round", rounds, topK)

  /** The [[subwordCounts]] replay: the same per-round CTE chain, then
    * the final vocabulary's symbols exploded and frequency-weighted.
    */
  def encodeOracleSql(nMerges: Int, topK: Int): String =
    encodeTail(oracleSql(nMerges), "step", nMerges, topK)

  /** A training oracle's CTE chain, its output select (first column
    * `first`) replaced by the final vocabulary `v<last>`'s subword counts.
    */
  private def encodeTail(base: String, first: String, last: Int,
      topK: Int): String = {
    val cut = base.lastIndexOf(s"\nSELECT CAST(1 AS INTEGER) AS $first")
    require(cut > 0, "oracle chain anchor missing")
    base.substring(0, cut) +
      s"""
         |SELECT token, CAST(SUM(f) AS BIGINT) AS n FROM (
         |  SELECT unnest(string_split(w, ' ')) AS token, f
         |  FROM v$last) t
         |GROUP BY token ORDER BY n DESC, token LIMIT $topK""".stripMargin
  }
}
