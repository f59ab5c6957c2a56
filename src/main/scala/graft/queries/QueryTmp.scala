package graft.queries

import java.nio.file.{Files, Path}

/** Unique per-invocation scratch directories for queries that stage an
  * on-disk store (pivot_grid_disk/varstats/append, ann_ivf_bucketed).
  *
  * A fixed path would let one evaluation's write race another's
  * still-scanning DataFrame under concurrent evaluation, and a bare
  * `createTempDirectory` leaks a store tree per construction across
  * bench/correctness loops. Every dir handed out here is registered
  * for recursive deletion at JVM exit — bounded residue, zero races.
  */
object QueryTmp {

  private val registered = scala.collection.mutable.ArrayBuffer.empty[Path]

  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      registered.synchronized(registered.foreach(deleteTree))))
    ()
  }

  /** A fresh empty directory under java.io.tmpdir, deleted on exit. */
  def dir(prefix: String): String = {
    hook
    val p = Files.createTempDirectory(prefix)
    registered.synchronized(registered += p)
    p.toString
  }

  /** Committed staged dirs per (`scope`, `name`); build-once
    * (constant fingerprint).
    */
  private[graft] val staging = new graft.Memo[(String, String), Unit, String]

  /** Build-once staging: the first call for (`scope`, `name`) creates a
    * fresh dir (temp-dir prefix `name`), runs `build` against it, and
    * every later call returns the same committed path. For queries whose
    * GATE is a read path over a deterministic fixture: the fixture write
    * is paid once per JVM (or per `scope`, e.g. one application and
    * corpus) instead of once per bench rep, so the benched number is
    * the read cost, not fixture I/O. Queries whose gate IS a write keep
    * per-invocation [[dir]]s.
    */
  def staged(name: String, scope: String = "")(
      build: String => Unit): String =
    staging.get((scope, name), ()) { val p = dir(name); build(p); p }

  private def deleteTree(p: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.reverseIterator.foreach(f => Files.deleteIfExists(f))
    } catch { case _: java.io.IOException => () } // best-effort at exit
}
