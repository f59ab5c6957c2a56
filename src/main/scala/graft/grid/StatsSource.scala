package graft.grid

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Per-chunk value stats of a zarr tree, read from the `.graft-stats.json`
  * sidecar so readers never pay more I/O than the variables they touch.
  *
  * The root file is a MANIFEST (`{"version":2,"vars":[...],"fp":{...}}`)
  * and each listed variable carries its own `<root>/<var>/.graft-stats.json`.
  * Opening a tree reads only the manifest; a variable's stats file is
  * fetched on first [[bounds]]/[[sum]] touch and memoized, so a query
  * over one variable of a 300-array archive loads one stats file, not
  * 300. A per-var file is either a version-2 body (`kind`/`stats`/`sums`)
  * or, for a variable whose OWN entry list exceeds [[ShardEntriesKey]]
  * (the skew-heavy single-dominant-variable tree), a version-3 directory
  * of leading-chunk-index range shards, each shard a separate file
  * loaded only when a key in its range is touched, so a tail filter
  * reads O(touched-range) stats bytes even when one variable owns 10⁸
  * chunks.
  *
  * Staleness guard: the manifest's `fp` maps each variable to the
  * content fingerprint of its stats file, and every shard ref carries
  * its shard file's fingerprint and entry count `n`. A load hashes the
  * bytes it just read and compares, so the guard covers the EXACT bytes
  * served: an append that changed one variable's stats flips that
  * variable's fingerprint (untouched variables keep serving), and a
  * retried byte-identical rewrite still passes. A mismatch degrades
  * that variable to "no stats" with a warning — a handle opened before
  * an append must never serve a merged edge-chunk SUM covering rows it
  * does not scan.
  *
  * Stats are purely an optimization: any sidecar that is not this
  * format — corrupt, future-versioned, the single-file `"version":1`
  * body or a manifest without an `fp` for every listed variable —
  * opens as "no stats" with a warning instead of failing the open (the
  * tree itself is intact; only pruning and metadata aggregates lose
  * their shortcut, and serving no bounds is always sound).
  *
  * Keys follow the store contract: `"<var> <ci.dotted>"` on the
  * variable's effective (inner, for sharded v3) chunk grid.
  */
final class StatsSource private (root: String, fps: Map[String, String],
    hconf: SerializableHadoopConf) extends Serializable {
  import StatsSource._

  @transient private lazy val cache =
    scala.collection.concurrent.TrieMap.empty[String, VarStats]
  @transient private lazy val shardCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Maps]

  /** Variables known to carry stats (no per-var loads). */
  def varNames: Set[String] = fps.keySet

  /** The manifest fingerprint of `v`'s stats file — carried forward
    * unread by append merges for untouched variables.
    */
  private[grid] def fpOf(v: String): String = fps(v)

  private def guarded[T](p: String, fp: String, none: T)(
      parse: JsonNode => T): T =
    try {
      val bytes = GridIO.readAllBytes(p, hconf.value)
      if (statsFp(bytes) != fp) {
        warn(s"$p: stats content changed since this handle opened " +
          "(concurrent append?) — serving no stats")
        none
      } else parse(parseJson(bytes))
    } catch {
      case _: java.io.FileNotFoundException =>
        // manifest listed it but the file is gone (e.g. hand-pruned
        // tree): stats are optional, serve none
        none
      case scala.util.control.NonFatal(e) =>
        warn(s"$p: unreadable stats file (${e.getMessage}) — ignoring")
        none
    }

  private def load(v: String): VarStats =
    cache.getOrElseUpdate(v,
      guarded(s"$root/$v/$Sidecar", fps(v), NoStats: VarStats) { node =>
        node.path("version").asInt(0) match {
          case 2 => Full(parseVarStats(v, node))
          case 3 =>
            Sharded(node.path("shards").elements().asScala.map { s =>
              require(s.has("n"), s"$v: shard ref without an entry count")
              ShardRef(s.path("lo").asLong(), s.path("hi").asLong(),
                s.path("file").asText(), s.path("fp").asText(),
                s.path("n").asLong())
            }.toIndexedSeq.sortBy(_.lo))
          case _ =>
            warn(s"$root/$v: unsupported per-var stats version — ignoring")
            NoStats
        }
      })

  private def loadShard(v: String, idx: Int, s: ShardRef): Maps =
    shardCache.getOrElseUpdate((v, idx),
      guarded(s"$root/$v/${s.file}", s.fp, NoMaps)(parseVarStats(v, _)))

  /** The shard whose [lo, hi] leading-index range covers `ci`'s
    * leading chunk index, loaded on demand; keys outside every range
    * have no stats. Binary search over the sorted shard list.
    */
  private def shardMaps(v: String, sh: Sharded, ci: String): Maps = {
    val lead = ci.takeWhile(_ != '.') match {
      case s if s.nonEmpty && s.forall(_.isDigit) => s.toLong
      case _ => return NoMaps
    }
    var lo = 0
    var hi = sh.shards.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val s = sh.shards(mid)
      if (lead < s.lo) hi = mid - 1
      else if (lead > s.hi) lo = mid + 1
      else return loadShard(v, mid, s)
    }
    NoMaps
  }

  /** Append-merge accessor: split a sharded variable at the smallest
    * touched leading index `minLead` into (preserved prefix shard
    * refs, loaded suffix entries). The cut steps one shard EARLIER
    * than the first shard whose range reaches `minLead`, because the
    * one-shot greedy packer could let that earlier shard absorb a
    * shrunk or gap-filling first suffix group — everything before it
    * packs from untouched groups only and is provably byte-stable.
    * None when the variable is absent or not sharded.
    */
  private[grid] def suffixSplit(v: String, minLead: Long)
      : Option[(IndexedSeq[ShardRef], Seq[Entry])] =
    if (!fps.contains(v)) None
    else load(v) match {
      case sh: Sharded if sh.shards.nonEmpty =>
        val first = sh.shards.indexWhere(_.hi >= minLead)
        val cut =
          if (first == -1) sh.shards.length - 1
          else math.max(0, first - 1)
        Some((sh.shards.take(cut), entryList(foldShards(v, sh, from = cut))))
      case _ => None
    }

  /** Load and fold shards [from, end) into one (bounds, sums) pair —
    * the one fold entriesFor (full range) and suffixSplit (suffix
    * only) share, so entry-list semantics cannot diverge between the
    * full-load and suffix-merge paths.
    */
  private def foldShards(v: String, sh: Sharded, from: Int): Maps = {
    val all = (from until sh.shards.length).map(i =>
      loadShard(v, i, sh.shards(i)))
    (all.map(_._1).fold(Map.empty[String, (Any, Any)])(_ ++ _),
      all.map(_._2).fold(Map.empty[String, Double])(_ ++ _))
  }

  private def mapsFor(key: String): Maps = {
    val parts = key.split(" ", 2)
    val v = parts(0)
    if (!fps.contains(v)) NoMaps
    else load(v) match {
      case Full(m) => m
      case sh: Sharded if parts.length == 2 => shardMaps(v, sh, parts(1))
      case _: Sharded => NoMaps
    }
  }

  def bounds(key: String): Option[(Any, Any)] = mapsFor(key)._1.get(key)
  def sum(key: String): Option[Double] = mapsFor(key)._2.get(key)

  /** One variable's full entry list (key, bounds, sum) — forces that
    * variable's load only. Append merges ride on this: untouched
    * variables' files are never read or rewritten.
    */
  def entriesFor(v: String): Seq[Entry] =
    if (!fps.contains(v)) Seq.empty
    else entryList(load(v) match {
      case Full(m) => m
      // merge/inspection surface: force every shard
      case sh: Sharded => foldShards(v, sh, from = 0)
    })

  /** Everything, eagerly — test/inspection surface, O(all files). */
  def allBounds: Map[String, (Any, Any)] =
    varNames.toSeq.flatMap(v =>
      entriesFor(v).flatMap(e => e._2.map(e._1 -> _))).toMap
  def allSums: Map[String, Double] =
    varNames.toSeq.flatMap(v =>
      entriesFor(v).flatMap(e => e._3.map(e._1 -> _))).toMap
}

object StatsSource {

  /** One sidecar stats entry: (`"<var> <chunk key>"`, (min, max), sum). */
  type Entry = (String, Option[(Any, Any)], Option[Double])

  private type Maps = (Map[String, (Any, Any)], Map[String, Double])
  private val NoMaps: Maps = (Map.empty, Map.empty)

  /** One loaded variable's stats: the full maps (a version-2 per-var
    * file) or a shard directory (version 3).
    */
  private sealed trait VarStats
  private final case class Full(m: Maps) extends VarStats
  /** `shards` sorted by `lo`; ranges are disjoint. `fp` is the shard
    * file's content fingerprint recorded at write time — the same
    * bytes-served guard the manifest applies to the per-var file,
    * chained one level down. `n` is the shard's entry count — what lets
    * an append merge keep prefix shards UNLOADED (`n` sums stand in for
    * loading them when re-deciding the sharded-vs-not threshold).
    */
  private[grid] final case class ShardRef(lo: Long, hi: Long,
      file: String, fp: String, n: Long)
  private final case class Sharded(shards: IndexedSeq[ShardRef])
    extends VarStats
  private val NoStats: VarStats = Full(NoMaps)

  /** A tree without a sidecar: no variable carries stats. */
  val Empty: StatsSource = new StatsSource("", Map.empty, null)

  /** File name of the root manifest and of every per-var stats file.
    * zarr-python ignores unknown files, so the tree stays an ordinary
    * zarr archive; foreign trees have none and serve no bounds.
    */
  private[grid] val Sidecar = ".graft-stats.json"

  /** Entry-count threshold above which one variable's stats split into
    * leading-chunk-index range shards (per-var version 3). The per-var
    * split already keeps a 300-variable archive from paying one giant
    * read, but a SKEW-HEAVY tree — one dominant 100 TB data variable
    * plus tiny coords — concentrates everything back into one file;
    * sharding bounds any single stats read by this many entries
    * (~40 B/entry of JSON, so the default keeps files a few MB).
    */
  val ShardEntriesKey = "graft.zarr.stats.shardEntries"
  private val DefaultShardEntries = 65536

  private val mapper = new ObjectMapper()

  private def parseJson(bytes: Array[Byte]): JsonNode = mapper.readTree(bytes)

  private def warn(msg: String): Unit =
    org.slf4j.LoggerFactory.getLogger(classOf[StatsSource]).warn(msg)

  private def varOf(e: Entry): String = e._1.split(" ", 2)(0)

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

  /** Per-INNER-chunk stats of one scattered outer shard: `arr` is the
    * flat C-order EFFECTIVE cells of outer chunk `outerCi` (shape
    * `eff`, clipped at the array extent), `inner` the shard's inner
    * chunk shape. Returns one sidecar entry per intersecting inner
    * chunk, keyed on the GLOBAL inner grid — exactly the blocks the
    * scan plans sharded arrays on, so shard trees prune and
    * metadata-aggregate at the same granularity they read.
    */
  private[grid] def innerChunkStats(arr: AnyRef, eff: Array[Int],
      outerCi: Array[Int], chunkSz: Seq[Int], inner: Seq[Int]): Seq[Entry] = {
    arr match {
      case _: Array[String] => return Nil // vlen: no numeric stats
      case _ => ()
    }
    val nd = eff.length
    val effStrides = ChunkAssembly.strides(eff)
    val perDim = Array.tabulate(nd)(d =>
      (eff(d) + inner(d) - 1) / inner(d)) // intersecting inner chunks
    val innersPerOuter = Array.tabulate(nd)(d => chunkSz(d) / inner(d))
    val nInner = perDim.product
    val out = Seq.newBuilder[Entry]
    val pos = new Array[Int](nd)
    var k = 0
    while (k < nInner) {
      var rest = k
      var d = nd - 1
      while (d >= 0) { pos(d) = rest % perDim(d); rest /= perDim(d); d -= 1 }
      val start = Array.tabulate(nd)(d => pos(d) * inner(d))
      val len = Array.tabulate(nd)(d =>
        math.min(inner(d), eff(d) - start(d)))
      val cells = len.product
      // gather the box into a dense slice (runs of the last dim)
      val slice = java.lang.reflect.Array.newInstance(
        arr.getClass.getComponentType, cells)
      val run = len(nd - 1)
      val nRuns = cells / run
      // strides of the leading dims' run counter (C-order over
      // len(0..nd-2): last leading dim varies fastest)
      val leadStrides = ChunkAssembly.strides(
        if (nd == 1) Array(1) else len.init)
      var r = 0
      while (r < nRuns) {
        var srcOff = start(nd - 1)
        var rem = r
        var j = 0
        while (j < nd - 1) {
          val lj = rem / leadStrides(j)
          rem %= leadStrides(j)
          srcOff += (start(j) + lj) * effStrides(j)
          j += 1
        }
        System.arraycopy(arr, srcOff, slice, r * run, run)
        r += 1
      }
      val key = (0 until nd).map(d =>
        outerCi(d) * innersPerOuter(d) + pos(d)).mkString(".")
      out += ((key, chunkStats(slice), chunkSum(slice)))
      k += 1
    }
    out.result()
  }

  // ---- the sidecar format ----

  /** Open-time stats resolution: only an fp-guarded version-2 manifest
    * is served (per-var files load lazily on first touch); no sidecar
    * is [[Empty]], and anything else degrades to [[Empty]] with a
    * warning instead of bricking an otherwise-valid tree.
    */
  def open(root: String, hconf: SerializableHadoopConf): StatsSource = {
    val p = s"$root/$Sidecar"
    val bytes =
      try GridIO.readAllBytes(p, hconf.value)
      catch { case _: java.io.FileNotFoundException => return Empty }
    try {
      val node = parseJson(bytes)
      val fps = node.path("vars").elements().asScala.map { v =>
        v.asText() -> node.path("fp").path(v.asText()) }.toMap
      if (node.path("version").asInt(0) == 2 && fps.values.forall(_.isTextual))
        new StatsSource(root, fps.map { case (v, fp) => v -> fp.asText() },
          hconf)
      else {
        warn(s"$p: unsupported stats sidecar (not a version-2 manifest " +
          "with an fp per variable) — ignoring (no pruning bounds served)")
        Empty
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        warn(s"$p: unreadable stats sidecar (${e.getMessage}) — ignoring " +
          "(no pruning bounds served)")
        Empty
    }
  }

  /** Drop the root manifest. Writers call this BEFORE any chunk moves
    * and write the manifest LAST, and readers consult per-var files
    * only through the manifest, so a crash can only LOSE stats, never
    * serve stale bounds.
    */
  def dropManifest(root: String,
      conf: org.apache.hadoop.conf.Configuration): Unit =
    GridIO.delete(s"$root/$Sidecar", conf)

  /** The files a stats write lands, as paths relative to the store
    * root: `perVar` in landing order (shard files, then per-var
    * files), the root manifest LAST — readers never consult a per-var
    * file the writer has not finished — and `deletes` once they have
    * all landed (shard files no longer referenced, per-var files of
    * variables left without entries, the manifest when no variable
    * has stats).
    */
  private[grid] final case class Files(perVar: Seq[(String, Array[Byte])],
      manifest: Option[Array[Byte]], deletes: Seq[String]) {
    /** Write and delete in place — for a tree no reader has opened. */
    def land(root: String, conf: org.apache.hadoop.conf.Configuration): Unit = {
      (perVar ++ manifest.map(Sidecar -> _)).foreach { case (rel, bytes) =>
        GridIO.write(s"$root/$rel", bytes, conf) }
      deletes.foreach(rel => GridIO.delete(s"$root/$rel", conf))
    }
  }

  /** Full-tree stats write (one-shot writers): per-var files for every
    * variable with entries, stale files dropped for those without,
    * manifest last. Entries group by variable ONCE — handing the full
    * list to every per-var write would rescan E entries V times, a
    * real driver cost at 10⁸ entries.
    */
  def write(root: String, schema: GridSchema, entries: Seq[Entry],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val byVar = entries.groupBy(varOf)
    withManifest(schema.vars.map(v =>
      v.name -> varFiles(root, v, byVar.getOrElse(v.name, Seq.empty), conf)))
      .land(root, conf)
  }

  /** The sidecar after an append, as [[Files]] for the append's commit
    * to land: per TOUCHED variable, old entries ++ new entries (new
    * wins on the shared edge-chunk key). Only the growing variables'
    * files are read and rewritten — untouched variables' files stay on
    * disk unread and their fingerprints carry forward, which is what
    * keeps append O(slab), not O(tree), at 10⁸ chunks. Appending to a
    * foreign tree that never had a sidecar still creates one covering
    * the appended chunks (partial coverage is sound: absent keys serve
    * no bounds).
    */
  def merge(root: String, schema: GridSchema, old: StatsSource,
      newEntries: Seq[Entry], conf: org.apache.hadoop.conf.Configuration)
      : Files = {
    val touched = newEntries.map(varOf).toSet
    val threshold = conf.getInt(ShardEntriesKey, DefaultShardEntries)
    val rewritten = touched.toSeq.sorted.flatMap { vn =>
      schema.vars.find(_.name == vn).map { v =>
        val news = newEntries.filter(varOf(_) == vn)
        val replaced = news.map(_._1).toSet
        // SUFFIX merge for sharded variables: the slab's smallest
        // touched leading index bounds what can change; shards before
        // the (safety-stepped) cut stay on disk unread and re-enter
        // the manifest verbatim, so a tail append into a 10⁸-entry
        // variable loads and rewrites O(touched-suffix) stats, never
        // O(var). Falls back to the full load when the variable is
        // unsharded, the merged total could cross below the shard
        // threshold, or the suffix would empty out.
        val minLead = news.flatMap(
          _._1.split(" ", 2)(1).takeWhile(_ != '.').toLongOption).minOption
        val suffixPath = minLead.flatMap(old.suffixSplit(vn, _)).flatMap {
          case (pres, sufOld) =>
            val suffix = sufOld.filterNot(e => replaced(e._1)) ++ news
            val live = suffix.count(e => e._2.isDefined || e._3.isDefined)
            if (live == 0 || pres.map(_.n).sum + live <= threshold) None
            else Some((pres, suffix))
        }
        vn -> (suffixPath match {
          case Some((pres, suffix)) => varFiles(root, v, suffix, conf, pres)
          case None =>
            varFiles(root, v,
              old.entriesFor(vn).filterNot(e => replaced(e._1)) ++ news, conf)
        })
      }
    }
    withManifest(rewritten ++ (old.varNames -- touched).toSeq.map(vn =>
      vn -> VarFiles(Some(old.fpOf(vn)), Seq.empty, Seq.empty)))
  }

  /** One variable's share of a stats write: the per-var file's
    * fingerprint (None when the variable keeps no file) and its
    * [[Files]] halves.
    */
  private final case class VarFiles(fp: Option[String],
      writes: Seq[(String, Array[Byte])], deletes: Seq[String])

  /** Every variable's files and the root manifest. `vars` carry each
    * per-var file's fingerprint, which readers use as the bytes-served
    * staleness guard. No variable with stats: no manifest.
    */
  private def withManifest(vars: Seq[(String, VarFiles)]): Files = {
    val fps = vars.flatMap { case (n, f) => f.fp.map(n -> _) }.sortBy(_._1)
    val manifest =
      if (fps.isEmpty) None
      else {
        val top = mapper.createObjectNode()
        top.put("version", 2)
        val arr = top.putArray("vars")
        fps.foreach(v => arr.add(v._1))
        val fo = top.putObject("fp")
        fps.foreach { case (n, fp) => fo.put(n, fp) }
        Some(GridIO.utf8(mapper.writeValueAsString(top)))
      }
    Files(vars.flatMap(_._2.writes), manifest,
      vars.flatMap(_._2.deletes) ++
        (if (manifest.isEmpty) Seq(Sidecar) else Nil))
  }

  /** `kind` tag per dtype, mirroring chunkStats boxing: long-kind
    * arrays carry (Long, Long) (exact past 2^53), strings their UTF-8
    * binary-order extrema, everything else (Double, Double).
    */
  private def kindOf(dtype: GridType): String = dtype match {
    case GLong | GTimestamp | GDuration => "long"
    case GString => "string"
    case _ => "double"
  }

  /** Content fingerprint of a stats file — the bytes-served staleness
    * guard: truncated SHA-256, hex. Purely content-derived so the
    * append-equals-one-shot byte identity of the sidecar tree holds
    * (a random token would break it) and a retried byte-identical
    * rewrite still validates.
    */
  private def statsFp(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .take(8).map(b => f"$b%02x").mkString

  /** Parse one variable's version-2 stats node (`kind`/`stats`/`sums`)
    * into store-keyed maps.
    */
  private def parseVarStats(name: String, vn: JsonNode): Maps = {
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

  private def entryList(m: Maps): Seq[Entry] =
    (m._1.keysIterator ++ m._2.keysIterator).toSeq.distinct.sorted
      .map(k => (k, m._1.get(k), m._2.get(k)))

  /** One variable's version-2 stats CONTENT (also the per-shard file
    * body under version 3). Entries sorted by chunk key — scatter
    * results arrive in executor map order and the bytes must be
    * deterministic (the append byte-identity property pins it).
    */
  private def varStatsJson(v: VarDef, es: Seq[Entry]): String = {
    val vn = mapper.createObjectNode()
    vn.put("version", 2)
    vn.put("kind", kindOf(v.dtype))
    val st = vn.putObject("stats")
    val su = vn.putObject("sums")
    es.foreach { case (ci, mm, sm) =>
      mm.foreach { case (mn, mx) =>
        val arr = st.putArray(ci)
        Seq(mn, mx).foreach {
          case l: Long => arr.add(l)
          case d: Double => arr.add(d)
          case s: String => arr.add(s)
          case other => throw new IllegalStateException(
            s"${v.name}: unexpected stats box ${other.getClass}")
        }
      }
      sm.foreach(s => su.put(ci, s))
    }
    mapper.writeValueAsString(vn)
  }

  /** One variable's stats files from its (key, bounds, sum) entries;
    * stale files delete when there is nothing to record. Small entry
    * lists write the single version-2 per-var file; lists over
    * [[ShardEntriesKey]] split by leading chunk index into range shard
    * files plus a version-3 shard directory, so a reader pruning a
    * range of a skew-heavy variable reads O(touched shards), not the
    * whole list. Shard packing is a pure function of the entry set
    * (numeric-sorted leading-index groups, greedily packed), so a
    * merge rewrite stays byte-identical to a one-shot write. Nothing
    * is written here: the caller lands the returned files.
    */
  private def varFiles(root: String, v: VarDef, entries: Seq[Entry],
      conf: org.apache.hadoop.conf.Configuration,
      preserved: Seq[ShardRef] = Seq.empty): VarFiles = {
    val rel = s"${v.name}/$Sidecar"
    val es = entries.flatMap { case (key, mm, sm) =>
      key.split(" ", 2) match {
        case Array(nm, ci) if nm == v.name &&
          (mm.isDefined || sm.isDefined) => Some((ci, mm, sm))
        case _ => None
      }
    }.sortBy(_._1)
    // suffix-merge contract (merge): `preserved` prefix shards stay on
    // disk UNREAD and re-enter the shard directory verbatim; `entries`
    // covers only the repacked suffix, whose greedy packing is
    // independent of the prefix (packing restarts at each shard
    // boundary), so the result is byte-identical to a full one-shot
    // write of prefix+suffix. The caller guarantees the combined entry
    // count exceeds the shard threshold when preserved is non-empty.
    require(preserved.isEmpty || es.nonEmpty,
      s"${v.name}: preserved prefix with empty suffix")
    // a previous version-3 write's shard layout, (file -> fp): shard
    // files must not outlive a rewrite that shards differently (or not
    // at all) — the no-longer-referenced ones delete LAST (after the
    // new per-var file is in place, so a crash window can only lose
    // stats) — and a rewrite producing a byte-identical shard (same
    // name, same fingerprint) SKIPS the write: greedy packing is a
    // pure function of the entry set, so an append touching only the
    // tail leaves every prefix shard's (lo, hi, bytes) unchanged and
    // the merge pays O(touched-suffix) shard writes, not O(var)
    val oldShards: Map[String, String] =
      try {
        val node = parseJson(GridIO.readAllBytes(s"$root/$rel", conf))
        if (node.path("version").asInt(0) == 3)
          node.path("shards").elements().asScala
            .map(s => s.path("file").asText() -> s.path("fp").asText())
            .toMap
        else Map.empty
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    if (es.isEmpty)
      return VarFiles(None, Seq.empty,
        rel +: oldShards.keys.toSeq.map(f => s"${v.name}/$f"))
    val threshold = conf.getInt(ShardEntriesKey, DefaultShardEntries)
    val shardWrites = Seq.newBuilder[(String, Array[Byte])]
    val (json, newShards) =
      if (preserved.isEmpty && es.size <= threshold)
        (varStatsJson(v, es), Seq.empty[String])
      else {
        // group by leading chunk index (groups stay whole so a range
        // lookup is unambiguous; one index's group exceeding the
        // threshold just yields one oversized shard), pack greedily
        val groups = es.groupBy(_._1.takeWhile(_ != '.').toLong)
          .toSeq.sortBy(_._1)
        val shards = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Seq[Entry])]
        groups.foreach { case (lead, ges) =>
          shards.lastOption match {
            case Some((lo, _, acc))
                if acc.size + ges.size <= threshold =>
              shards(shards.length - 1) = (lo, lead, acc ++ ges)
            case _ => shards += ((lead, lead, ges))
          }
        }
        val top = mapper.createObjectNode()
        top.put("version", 3)
        top.put("kind", kindOf(v.dtype))
        val arr = top.putArray("shards")
        def addRef(s: ShardRef): Unit = {
          val e = arr.addObject()
          e.put("lo", s.lo)
          e.put("hi", s.hi)
          e.put("file", s.file)
          e.put("fp", s.fp)
          e.put("n", s.n)
        }
        // preserved prefix re-enters the shard directory verbatim, unread
        preserved.foreach(addRef)
        val files = shards.map { case (lo, hi, ses) =>
          val file = f".graft-stats.$lo%012d-$hi%012d.json"
          val body = GridIO.utf8(varStatsJson(v, ses.sortBy(_._1)))
          val fp = statsFp(body)
          // byte-identical shard already on disk: skip the write
          if (!oldShards.get(file).contains(fp))
            shardWrites += s"${v.name}/$file" -> body
          addRef(ShardRef(lo, hi, file, fp, ses.size.toLong))
          file
        }
        (mapper.writeValueAsString(top),
          preserved.map(_.file) ++ files.toSeq)
      }
    val bytes = GridIO.utf8(json)
    VarFiles(Some(statsFp(bytes)), shardWrites.result() :+ (rel -> bytes),
      oldShards.keys.toSeq.filterNot(newShards.toSet)
        .map(f => s"${v.name}/$f"))
  }
}
