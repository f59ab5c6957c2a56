package graft.operators

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Shared fixtures of the stored-IVF-index specs: deterministic
  * vectors, temporary index dirs, byte snapshots, and the reconstructed
  * crash window of a hot-cell split.
  */
trait IvfFixtures extends TempDirs { self: SparkTestBase =>

  protected val dim = 4

  /** Deterministic synthetic vectors; ids 0..n-1, first `nc` double as
    * the codebook (the ivfAssign contract).
    */
  protected def vecs(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val r = new scala.util.Random(i * 7919L + 13)
      (i.toLong, Array.fill(dim)(r.nextDouble() * 2 - 1))
    }.toDF("id", "v")
  }

  protected def tmp(prefix: String): String = {
    val p = tempDir(prefix)
    s"$p/idx"
  }

  protected def filesUnder(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    val all = try walk.iterator().asScala.toSeq finally walk.close()
    all.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".")) // local-fs .crc noise
      .map(p => root.relativize(p).toString ->
        Files.readAllBytes(p).toSeq).toMap
  }

  /** Rewind a finished [[SimilarityOps.splitHotCells]] to its crash
    * window "children renamed in, sidecars not yet swapped, parents not
    * yet dropped, marker present": move the live (new) sidecars back
    * into `_split.next` and restore the pre-split sidecars and parent
    * dirs from `preSplit`, the bytes captured before the split.
    */
  protected def rewindSplit(dir: String, preSplit: Map[String, Seq[Byte]],
      mapping: Seq[(Int, Seq[Int])]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mv(a: String, b: String): Unit =
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/$a"),
        new org.apache.hadoop.fs.Path(s"$dir/$b")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_split.next"))
    mv("_codebook", "_split.next/_codebook")
    mv("_ids", "_split.next/_ids")
    import spark.implicits._
    mapping.flatMap { case (b, kids) => kids.map(k => (b, k)) }
      .toDF("parent", "child").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_split.next/_manifest")
    preSplit.foreach { case (rel, bytes) =>
      val touched = mapping.exists { case (b, _) =>
        rel.startsWith(s"bucket=$b/") } ||
        rel.startsWith("_codebook/") || rel.startsWith("_ids/")
      if (touched) {
        val p = Paths.get(s"$dir/$rel")
        Files.createDirectories(p.getParent)
        Files.write(p, bytes.toArray)
      }
    }
  }

  /** Split the largest cells of `dir` (every bucket holding the max
    * row count) into two children each.
    */
  protected def splitLargest(dir: String): Seq[(Int, Seq[Int])] = {
    val m = spark.read.parquet(dir).groupBy("bucket").count()
      .collect().map(_.getLong(1)).max
    SimilarityOps.splitHotCells(spark, dir, m - 1, subK = 2, iters = 1)
  }
}
