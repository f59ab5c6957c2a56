package graft.grid

import graft.TempDirs
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Property laws of the format-v2 stats sidecar (per-variable files +
  * manifest): write → read round-trips every recorded bound/sum, and a
  * merge (the append path) is BYTE-identical to a one-shot write of
  * the merged entries — the sidecar half of the append-equals-one-shot
  * identity the chunk files already pin. Both laws run TWICE: once
  * with the default shard threshold (plain v2 per-var files) and once
  * with a threshold of 2, forcing the sharded per-var format v3 —
  * shard packing is a pure function of the entry set, so the identity
  * must hold shard file for shard file.
  */
class StatsSidecarPropertySpec extends AnyFunSuite with TempDirs {

  private val conf = new org.apache.hadoop.conf.Configuration()

  /** Forces per-var format v3 at the spec's tiny entry counts. */
  private val shardedConf = {
    val c = new org.apache.hadoop.conf.Configuration()
    c.setInt(StatsSource.ShardEntriesKey, 2)
    c
  }

  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private def freshRoot(): String = {
    val p = tempDir("stats_prop")
    p.toString
  }

  private val varNamesGen =
    Gen.choose(1, 4).flatMap(n => Gen.pick(n,
      Seq("alpha", "beta", "gamma", "delta")).map(_.toSeq.sorted))

  /** Entries for one variable: distinct chunk keys with optional
    * bounds and sums (never both absent — the writer drops those).
    */
  private def entriesGen(v: String, long: Boolean)
      : Gen[Seq[(String, Option[(Any, Any)], Option[Double])]] =
    Gen.choose(0, 6).flatMap(n =>
      Gen.sequence[Seq[(String, Option[(Any, Any)], Option[Double])],
        (String, Option[(Any, Any)], Option[Double])](
        (0 until n).map { ci =>
          for {
            lo <- Gen.choose(-1000, 1000)
            hi <- Gen.choose(0, 100).map(lo + _)
            hasSum <- Gen.oneOf(true, false)
          } yield {
            val mm: Option[(Any, Any)] =
              if (long) Some((lo.toLong, hi.toLong))
              else Some((lo.toDouble, hi.toDouble))
            (s"$v $ci", mm,
              if (hasSum) Some((lo + hi).toDouble) else None)
          }
        }))

  private def schemaOf(vars: Seq[String],
      longKind: Map[String, Boolean]): GridSchema =
    GridSchema(
      Seq(DimDef("t", IntCoords(Array.range(0, 4)))),
      vars.map(v => VarDef(v, Seq("t"),
        if (longKind(v)) GLong else GDouble)))

  private def roundtripProp(c: org.apache.hadoop.conf.Configuration): Prop =
    Prop.forAll(varNamesGen, Gen.long) { (vars, seed) =>
      val rnd = new scala.util.Random(seed)
      val longKind = vars.map(v => v -> rnd.nextBoolean()).toMap
      val entries = vars.flatMap(v =>
        entriesGen(v, longKind(v)).pureApply(
          org.scalacheck.Gen.Parameters.default,
          org.scalacheck.rng.Seed(rnd.nextLong())))
      val root = freshRoot()
      StatsSource.write(root, schemaOf(vars, longKind), entries, c)
      val src = StatsSource.open(root, new SerializableHadoopConf(c))
      val wantBounds = entries.flatMap(e => e._2.map(e._1 -> _)).toMap
      val wantSums = entries.flatMap(e => e._3.map(e._1 -> _)).toMap
      src.allBounds == wantBounds && src.allSums == wantSums &&
        entries.forall(e => src.bounds(e._1) == e._2 &&
          src.sum(e._1) == e._3)
    }

  test("write -> read round-trips every bound and sum") {
    check("roundtrip", roundtripProp(conf))
  }

  test("write -> read round-trips under the sharded per-var format") {
    check("roundtrip-sharded", roundtripProp(shardedConf))
  }

  private def allStatsBytes(root: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    val walk = Files.walk(p)
    val all = try walk.iterator().asScala.toSeq finally walk.close()
    all.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.startsWith(".graft-stats"))
      .map(f => p.relativize(f).toString ->
        Files.readAllBytes(f).toSeq).toMap
  }

  private def mergeIdentityProp(
      c: org.apache.hadoop.conf.Configuration): Prop =
    Prop.forAll(varNamesGen, Gen.long) { (vars, seed) =>
      val rnd = new scala.util.Random(seed)
      val longKind = vars.map(v => v -> rnd.nextBoolean()).toMap
      val schema = schemaOf(vars, longKind)
      val all = vars.flatMap(v =>
        entriesGen(v, longKind(v)).pureApply(
          org.scalacheck.Gen.Parameters.default,
          org.scalacheck.rng.Seed(rnd.nextLong())))
      // split: "old" entries vs an appended tail touching a random
      // subset of variables (with key overlap allowed — new wins,
      // same values here so bytes cannot differ)
      val (oldE, newE) = all.partition(_ => rnd.nextBoolean())
      val oneShot = freshRoot()
      StatsSource.write(oneShot, schema, all, c)
      val merged = freshRoot()
      StatsSource.write(merged, schema, oldE, c)
      val oldSrc = StatsSource.open(merged, new SerializableHadoopConf(c))
      StatsSource.merge(merged, schema, oldSrc, newE, c).land(merged, c)
      allStatsBytes(merged) == allStatsBytes(oneShot)
    }

  test("merge == one-shot write, byte for byte") {
    check("merge-identity", mergeIdentityProp(conf))
  }

  test("merge == one-shot write under the sharded per-var format") {
    // includes SHARD files: packing must be a pure function of the
    // merged entry set (no stale shards, no boundary drift)
    check("merge-identity-sharded", mergeIdentityProp(shardedConf))
  }

  test("suffix merge: tail append reads O(touched-suffix) shard files") {
    // 64 single-entry leading-index groups at 8 entries/shard = 8
    // shards. A tail append touching lead 62 must load the cut-stepped
    // suffix only — shards [48-55] and [56-63] — never the first six;
    // and the merged tree must be byte-identical to a one-shot write
    // of the union (the packing prefix-stability this rests on).
    val c = new org.apache.hadoop.conf.Configuration()
    c.setInt(StatsSource.ShardEntriesKey, 8)
    def entry(lead: Int, value: Double)
        : (String, Option[(Any, Any)], Option[Double]) =
      (s"alpha $lead", Some((value, value)), Some(value))
    val base = (0 until 64).map(i => entry(i, i.toDouble))
    val news = Seq(entry(62, 620.0), entry(64, 640.0), entry(65, 650.0))
    val schema = schemaOf(Seq("alpha"), Map("alpha" -> false))
    val merged = freshRoot()
    StatsSource.write(merged, schema, base, c)
    val src = StatsSource.open(merged, new SerializableHadoopConf(c))
    GridIO.Counters.reset()
    StatsSource.merge(merged, schema, src, news, c).land(merged, c)
    // reads: per-var shard dir (suffixSplit) + 2 suffix shards + the
    // writer's own stale-layout re-read of the shard dir = 4, never
    // the 1 + 8 a full load pays
    val reads = GridIO.Counters.reads.sum()
    assert(reads <= 4, s"suffix merge read $reads files")
    val oneShot = freshRoot()
    val union = base.filterNot(e => news.exists(_._1 == e._1)) ++ news
    StatsSource.write(oneShot, schema, union, c)
    assert(allStatsBytes(merged) == allStatsBytes(oneShot))
  }

  test("sharded stats: a tail touch reads O(touched-range) files") {
    // the skew-heavy shape format v3 exists for: ONE variable owning
    // every chunk. 64 leading indices at 8 entries/shard = 8 shard
    // files; a bounds() touch must read the per-var shard directory
    // plus exactly the one shard covering the key — never the other 7
    val root = freshRoot()
    val c = new org.apache.hadoop.conf.Configuration()
    c.setInt(StatsSource.ShardEntriesKey, 8)
    val entries = (0 until 64).map(i => (s"alpha $i",
      Some((i.toDouble, i.toDouble)): Option[(Any, Any)],
      Some(i.toDouble): Option[Double]))
    StatsSource.write(root,
      schemaOf(Seq("alpha"), Map("alpha" -> false)), entries, c)
    val src = StatsSource.open(root, new SerializableHadoopConf(c))
    GridIO.Counters.reset()
    assert(src.bounds("alpha 60").contains((60.0, 60.0)))
    assert(GridIO.Counters.reads.sum() == 2,
      s"tail touch read ${GridIO.Counters.reads.sum()} files " +
        "(want per-var shard dir + 1 shard)")
    // same shard (56..63): served from the memoized shard, zero reads
    assert(src.sum("alpha 57").contains(57.0))
    assert(GridIO.Counters.reads.sum() == 2)
    // a different shard costs exactly one more file
    assert(src.bounds("alpha 3").contains((3.0, 3.0)))
    assert(GridIO.Counters.reads.sum() == 3)
    // outside every range: no read at all
    assert(src.bounds("alpha 99").isEmpty)
    assert(GridIO.Counters.reads.sum() == 3)
  }
}
