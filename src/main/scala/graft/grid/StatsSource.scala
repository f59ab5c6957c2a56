package graft.grid

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** Per-chunk value stats of a zarr tree, abstracted over the sidecar
  * format so readers never pay more I/O than the variables they touch:
  *
  *  - format v1 (legacy, still readable): ONE root `.graft-stats.json`
  *    holding every variable's entries — fine at thousands of chunks,
  *    a GB-scale single driver read at 10⁸ inner chunks (SCALE.md does
  *    the math);
  *  - format v2 (written since round 11): the root file is a tiny
  *    MANIFEST (`{"version":2,"vars":[...],"fp":{...}}`) and each
  *    listed variable carries its own `<root>/<var>/.graft-stats.json`.
  *    Opening a tree reads only the manifest; a variable's stats file
  *    is fetched on first [[bounds]]/[[sum]] touch and memoized, so a
  *    query over one variable of a 300-array archive loads one stats
  *    file, not 300;
  *  - per-var format v3 (written since round 12, for variables whose
  *    OWN entry list is huge — the skew-heavy single-dominant-variable
  *    tree): the per-var file is a directory of leading-chunk-index
  *    range shards, each shard a separate file loaded only when a key
  *    in its range is touched, so a tail filter reads O(touched-range)
  *    stats bytes even when one variable owns 10⁸ chunks.
  *
  * Stats are purely an optimization: a corrupt or future-versioned
  * sidecar degrades to "no stats" with a warning instead of failing the
  * open (the tree itself is intact; only pruning/metadata-aggregates
  * lose their shortcut).
  *
  * Keys follow the store contract: `"<var> <ci.dotted>"` on the
  * variable's effective (inner, for sharded v3) chunk grid.
  */
sealed trait StatsSource extends Serializable {
  def bounds(key: String): Option[(Any, Any)]
  def sum(key: String): Option[Double]
  /** Variables known to carry stats (no per-var loads). */
  def varNames: Set[String]
  /** One variable's full entry list (key, bounds, sum) — forces that
    * variable's load only. Append merges ride on this: untouched
    * variables' files are never read or rewritten.
    */
  def entriesFor(v: String): Seq[(String, Option[(Any, Any)], Option[Double])]
  /** Everything, eagerly — test/inspection surface, O(all files). */
  final def allBounds: Map[String, (Any, Any)] =
    varNames.toSeq.flatMap(v =>
      entriesFor(v).flatMap(e => e._2.map(e._1 -> _))).toMap
  final def allSums: Map[String, Double] =
    varNames.toSeq.flatMap(v =>
      entriesFor(v).flatMap(e => e._3.map(e._1 -> _))).toMap
}

object StatsSource {

  private def warn(msg: String): Unit =
    org.slf4j.LoggerFactory.getLogger(classOf[StatsSource]).warn(msg)

  /** (min, max) of one chunk payload — Long-boxed for long kinds, Double
    * otherwise; None when any value is non-finite (NaN chunks must not
    * feed containment reasoning) or the chunk is empty.
    */
  def chunkStats(data: AnyRef): Option[(Any, Any)] = data match {
    case a: Array[Double] if a.nonEmpty =>
      var mn = a(0); var mx = a(0); var i = 0
      while (i < a.length) {
        val x = a(i)
        if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
          return None
        if (x < mn) mn = x; if (x > mx) mx = x; i += 1
      }
      Some((mn, mx))
    case a: Array[Float] if a.nonEmpty =>
      var mn = a(0); var mx = a(0); var i = 0
      while (i < a.length) {
        val x = a(i)
        if (java.lang.Float.isNaN(x) || java.lang.Float.isInfinite(x))
          return None
        if (x < mn) mn = x; if (x > mx) mx = x; i += 1
      }
      Some((mn.toDouble, mx.toDouble))
    case a: Array[Int] if a.nonEmpty =>
      Some((a.min.toDouble, a.max.toDouble))
    case a: Array[Long] if a.nonEmpty =>
      // Long.MinValue doubles as the NaT (null) sentinel for time
      // variables; a chunk containing it reports no bounds (the same
      // all-values-known rule NaN enforces for floats). Conservative
      // for a genuine i8 MinValue — sound either way.
      val mn = a.min
      if (mn == Long.MinValue) None else Some((mn, a.max))
    case a: Array[String] if a.nonEmpty =>
      // UTF-8 binary order — the order string predicates prune in
      // (graft.sources.Utf8Order == Spark's UTF8_BINARY). Any null
      // element hides the chunk from stats (the all-values-known rule
      // NaN enforces for floats). Sidecars serialize these as JSON
      // strings. One UTF-8 encode per element (minMax caches the
      // running extrema's bytes).
      graft.sources.Utf8Order.minMax(a, 0, a.length)
    case _ => None
  }

  /** Value sum of one chunk payload — float/double kinds only (the
    * kinds whose Spark SUM is DoubleType, matching the metadata
    * constant a sum rewrite folds in); None when any value is
    * non-finite, so NaN/Inf chunks always reach the scan and IEEE
    * semantics propagate through the real aggregate.
    */
  def chunkSum(data: AnyRef): Option[Double] = data match {
    case a: Array[Double] if a.nonEmpty =>
      var s = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i)
        if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
          return None
        s += x; i += 1
      }
      Some(s)
    case a: Array[Float] if a.nonEmpty =>
      var s = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i)
        if (java.lang.Float.isNaN(x) || java.lang.Float.isInfinite(x))
          return None
        s += x; i += 1
      }
      Some(s)
    case _ => None
  }

  case object Empty extends StatsSource {
    def bounds(key: String): Option[(Any, Any)] = None
    def sum(key: String): Option[Double] = None
    def varNames: Set[String] = Set.empty
    def entriesFor(v: String)
        : Seq[(String, Option[(Any, Any)], Option[Double])] = Seq.empty
  }

  /** Fully-materialized maps — the v1 single-file format, and the
    * in-memory form tests build directly.
    */
  final case class Eager(stats: Map[String, (Any, Any)],
      sums: Map[String, Double]) extends StatsSource {
    def bounds(key: String): Option[(Any, Any)] = stats.get(key)
    def sum(key: String): Option[Double] = sums.get(key)
    def varNames: Set[String] =
      (stats.keysIterator ++ sums.keysIterator)
        .map(_.split(" ", 2)(0)).toSet
    def entriesFor(v: String)
        : Seq[(String, Option[(Any, Any)], Option[Double])] = {
      val p = v + " "
      (stats.keysIterator ++ sums.keysIterator).filter(_.startsWith(p))
        .toSeq.distinct.sorted
        .map(k => (k, stats.get(k), sums.get(k)))
    }
  }

  /** One loaded variable's stats: either the full maps (per-var format
    * v2) or a shard directory (format v3 — skew-heavy variables whose
    * entry list is itself huge split into leading-chunk-index ranges,
    * each range a separate file loaded only when a key in it is
    * touched).
    */
  private sealed trait VarStats
  private final case class Full(st: Map[String, (Any, Any)],
      su: Map[String, Double]) extends VarStats
  /** `shards` sorted by `lo`; ranges are disjoint. `fp` is the shard
    * file's content fingerprint recorded at write time — the same
    * bytes-served guard the manifest applies to the per-var file,
    * chained one level down. `n` is the shard's entry count (-1 when
    * written before counts existed) — what lets an append merge keep
    * prefix shards UNLOADED (ShardRef.n sums stand in for loading
    * them when re-deciding the sharded-vs-not threshold).
    */
  private[grid] final case class ShardRef(lo: Long, hi: Long,
      file: String, fp: String, n: Long)
  private final case class Sharded(shards: IndexedSeq[ShardRef])
    extends VarStats

  private val NoStats = Full(Map.empty, Map.empty)

  /** Format v2/v3: per-variable files loaded on first touch. The cache
    * is transient — a store shipped to executors re-reads lazily there
    * (executors only readVar today, so in practice nothing loads).
    *
    * Staleness guard, two tiers:
    *  - `fps` (manifests written since round 12) maps each variable to
    *    the content fingerprint of its stats file at manifest-write
    *    time. A load hashes the bytes it just read and compares — the
    *    guard covers the EXACT bytes served, so there is no window at
    *    all: an append that changed this variable's stats flips its
    *    fingerprint (and only its — untouched variables keep serving),
    *    and a retried byte-identical rewrite correctly still passes.
    *  - legacy v2 manifests (no `fp`) fall back to comparing the
    *    manifest's (length, mtime) `manifestKey` captured at OPEN —
    *    coarse (mtime granularity) but only for pre-fp trees.
    *
    * Either mismatch degrades that variable to "no stats" with a
    * warning: v1's eager open-time parse could never serve post-append
    * stats against a pre-append extent (e.g. a merged edge-chunk SUM
    * covering rows the handle doesn't scan), and the lazy form must
    * not either.
    */
  final class LazyPerVar(root: String, vars: Set[String],
      hconf: SerializableHadoopConf,
      manifestKey: Option[(Long, Long)],
      fps: Map[String, String]) extends StatsSource {
    @transient private lazy val cache =
      scala.collection.concurrent.TrieMap.empty[String, VarStats]
    @transient private lazy val shardCache =
      scala.collection.concurrent.TrieMap
        .empty[(String, Int), (Map[String, (Any, Any)], Map[String, Double])]

    /** Carried forward by append merges for untouched variables. */
    private[grid] def fpOf(v: String): Option[String] = fps.get(v)

    /** True when this variable's lazy loads are manifest-independent:
      * either it has no stats at all, or its file is fp-guarded (the
      * bytes-served check needs no manifest). Append paths use this to
      * SKIP the eager pre-force before deleting the manifest — the
      * skip is what lets the suffix merge keep prefix shards unread
      * end-to-end, not just in the merge unit.
      */
    private[grid] def fpCovered(v: String): Boolean =
      !vars(v) || fps.contains(v)

    private def guarded(p: String, expectFp: Option[String])(
        parse: com.fasterxml.jackson.databind.JsonNode => VarStats)
        : VarStats =
      try {
        val bytes = GridIO.readAllBytes(p, hconf.value)
        expectFp match {
          case Some(fp) if ZarrGridStore.statsFp(bytes) != fp =>
            warn(s"$p: stats content changed since this handle opened " +
              "(concurrent append?) — serving no stats")
            NoStats
          case Some(_) => parse(ZarrGridStore.parseJson(bytes))
          case None =>
            // legacy manifest: coarse (length, mtime) guard
            val manifest = s"$root/${ZarrGridStore.StatsSidecar}"
            if (GridIO.statusOf(manifest, hconf.value) != manifestKey) {
              warn(s"$p: stats manifest changed since this handle " +
                "opened (concurrent append?) — serving no stats")
              NoStats
            } else parse(ZarrGridStore.parseJson(bytes))
        }
      } catch {
        case _: java.io.FileNotFoundException =>
          // manifest listed it but the file is gone (e.g. hand-pruned
          // tree): stats are optional, serve none
          NoStats
        case scala.util.control.NonFatal(e) =>
          warn(s"$p: unreadable stats file (${e.getMessage}) — ignoring")
          NoStats
      }

    private def load(v: String): VarStats =
      cache.getOrElseUpdate(v,
        guarded(s"$root/$v/${ZarrGridStore.StatsSidecar}", fps.get(v)) {
          node =>
            node.path("version").asInt(0) match {
              case 2 =>
                val (st, su) = parseVarStats(v, node)
                Full(st, su)
              case 3 =>
                val shards = node.path("shards").elements().asScala.map {
                  s => ShardRef(s.path("lo").asLong(),
                    s.path("hi").asLong(), s.path("file").asText(),
                    s.path("fp").asText(), s.path("n").asLong(-1L))
                }.toIndexedSeq.sortBy(_.lo)
                Sharded(shards)
              case _ =>
                warn(s"$root/$v: unsupported per-var stats version — " +
                  "ignoring")
                NoStats
            }
        })

    private def loadShard(v: String, idx: Int, file: String, fp: String)
        : (Map[String, (Any, Any)], Map[String, Double]) =
      shardCache.getOrElseUpdate((v, idx),
        guarded(s"$root/$v/$file", Some(fp)) { node =>
          val (st, su) = parseVarStats(v, node)
          Full(st, su)
        } match {
          case Full(st, su) => (st, su)
          case _ => (Map.empty, Map.empty)
        })

    /** The shard whose [lo, hi] leading-index range covers `ci`'s
      * leading chunk index, loaded on demand; keys outside every range
      * have no stats. Binary search over the sorted shard list.
      */
    private def shardMaps(v: String, sh: Sharded, ci: String)
        : (Map[String, (Any, Any)], Map[String, Double]) = {
      val lead = ci.takeWhile(_ != '.') match {
        case s if s.nonEmpty && s.forall(_.isDigit) => s.toLong
        case _ => return (Map.empty, Map.empty)
      }
      var lo = 0
      var hi = sh.shards.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val s = sh.shards(mid)
        if (lead < s.lo) hi = mid - 1
        else if (lead > s.hi) lo = mid + 1
        else return loadShard(v, mid, s.file, s.fp)
      }
      (Map.empty, Map.empty)
    }

    /** Append-merge accessor: split a sharded variable at the smallest
      * touched leading index `minLead` into (preserved prefix shard
      * refs, loaded suffix entries). The cut steps one shard EARLIER
      * than the first shard whose range reaches `minLead`, because the
      * one-shot greedy packer could let that earlier shard absorb a
      * shrunk or gap-filling first suffix group — everything before it
      * packs from untouched groups only and is provably byte-stable.
      * None when the variable is not sharded, or any prefix shard
      * predates entry counts (the caller then falls back to the full
      * load; counts are needed to re-decide the sharded-vs-not
      * threshold without reading the prefix).
      */
    private[grid] def suffixSplit(v: String, minLead: Long)
        : Option[(IndexedSeq[ShardRef],
          Seq[(String, Option[(Any, Any)], Option[Double])])] =
      load(v) match {
        case sh: Sharded if sh.shards.nonEmpty =>
          val first = sh.shards.indexWhere(_.hi >= minLead)
          val cut =
            if (first == -1) sh.shards.length - 1
            else math.max(0, first - 1)
          val preserved = sh.shards.take(cut)
          if (preserved.exists(_.n < 0L)) None
          else {
            val (st, su) = foldShards(v, sh, from = cut)
            Some((preserved, entryList(st, su)))
          }
        case _ => None
      }

    /** Load and fold shards [from, end) into one (bounds, sums) pair —
      * the one fold entriesFor (full range) and suffixSplit (suffix
      * only) share, so entry-list semantics cannot diverge between the
      * full-load and suffix-merge paths.
      */
    private def foldShards(v: String, sh: Sharded, from: Int)
        : (Map[String, (Any, Any)], Map[String, Double]) = {
      val all = (from until sh.shards.length).map { i =>
        val s = sh.shards(i)
        loadShard(v, i, s.file, s.fp)
      }
      (all.map(_._1).fold(Map.empty[String, (Any, Any)])(_ ++ _),
        all.map(_._2).fold(Map.empty[String, Double])(_ ++ _))
    }

    private def entryList(st: Map[String, (Any, Any)],
        su: Map[String, Double])
        : Seq[(String, Option[(Any, Any)], Option[Double])] =
      (st.keysIterator ++ su.keysIterator).toSeq.distinct.sorted
        .map(k => (k, st.get(k), su.get(k)))

    private def mapsFor(key: String)
        : (Map[String, (Any, Any)], Map[String, Double]) = {
      val parts = key.split(" ", 2)
      val v = parts(0)
      if (!vars(v)) (Map.empty, Map.empty)
      else load(v) match {
        case Full(st, su) => (st, su)
        case sh: Sharded if parts.length == 2 => shardMaps(v, sh, parts(1))
        case _: Sharded => (Map.empty, Map.empty)
      }
    }

    def bounds(key: String): Option[(Any, Any)] = mapsFor(key)._1.get(key)
    def sum(key: String): Option[Double] = mapsFor(key)._2.get(key)
    def varNames: Set[String] = vars
    def entriesFor(v: String)
        : Seq[(String, Option[(Any, Any)], Option[Double])] =
      if (!vars(v)) Seq.empty
      else {
        val (st, su) = load(v) match {
          case Full(st, su) => (st, su)
          // merge/inspection surface: force every shard
          case sh: Sharded => foldShards(v, sh, from = 0)
        }
        entryList(st, su)
      }
  }

  /** Parse one variable's v2 stats node (`kind`/`stats`/`sums`) into
    * store-keyed maps.
    */
  private[grid] def parseVarStats(name: String, vn: JsonNode)
      : (Map[String, (Any, Any)], Map[String, Double]) = {
    val kind = vn.path("kind").asText("double")
    val stats = Map.newBuilder[String, (Any, Any)]
    val sums = Map.newBuilder[String, Double]
    vn.path("stats").properties().asScala.foreach { s =>
      val a = s.getValue
      require(a.isArray && a.size() == 2, s"$name: bad stats entry")
      val pair: (Any, Any) = kind match {
        case "long" => (a.get(0).asLong(), a.get(1).asLong())
        case "string" => (a.get(0).asText(), a.get(1).asText())
        case _ => (a.get(0).asDouble(), a.get(1).asDouble())
      }
      stats += s"$name ${s.getKey}" -> pair
    }
    vn.path("sums").properties().asScala.foreach(s =>
      sums += s"$name ${s.getKey}" -> s.getValue.asDouble())
    (stats.result(), sums.result())
  }
}
