package graft.sources

import java.util.concurrent.ConcurrentHashMap

import graft.grid.GridStore
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DSv2 catalog plugin giving grid datasets the reference's 2-level SQL
  * namespace (sql.py:105-125: `era5.surface`, catalog listing parity
  * tests/test_sql.py:445-449). One catalog per dataset, activated at
  * runtime via `spark.sql.catalog.<dataset> = graft.sources.GridCatalog`;
  * each dim-group registers as a table directly under the catalog, so
  * `SELECT ... FROM era5.time_lat_lon` and `SHOW TABLES IN era5` resolve
  * through Spark's own catalog machinery rather than name-mangled temp
  * views. Read-only: DDL mutations are rejected.
  */
class GridCatalog extends TableCatalog with SupportsNamespaces {

  private var catName: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = catName = name

  override def name(): String = catName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty)
      throw new NoSuchNamespaceException(catName +: namespace)
    GridCatalog.tablesOf(catName)
      .map(t => Identifier.of(Array.empty, t)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // tables live directly under the catalog root: a multi-part name
    // (cat.bogus_ns.table) must fail, not silently resolve to `table`
    if (ident.namespace.nonEmpty) throw new NoSuchTableException(ident)
    val key = GridCatalog.key(catName, ident.name)
    GridCatalog.lookup(key) match {
      case Some((store, chunks, dims)) =>
        new GridTable(key, store, chunks, dims)
      case None => GridCatalog.lookupConcat(key) match {
        case Some((parts, dims)) => new ConcatGridTable(key, parts, dims)
        case None => throw new NoSuchTableException(ident)
      }
    }
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table =
    throw new UnsupportedOperationException("grid catalogs are read-only")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("grid catalogs are read-only")
  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("grid catalogs are read-only")

  // SupportsNamespaces: tables live directly under the catalog root
  override def listNamespaces(): Array[Array[String]] = Array.empty
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) Array.empty
    else throw new NoSuchNamespaceException(catName +: namespace)
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty
  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] =
    if (namespace.isEmpty) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(catName +: namespace)
  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("grid catalogs are read-only")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("grid catalogs are read-only")
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("grid catalogs are read-only")
}

object GridCatalog {
  /** (catalog, table) -> grid binding; instances are created reflectively
    * by Spark, so the registry is driver-global.
    */
  private val registry =
    new ConcurrentHashMap[String, (GridStore, Map[String, Int], Seq[String])]()

  /** (catalog, table) -> multi-store concat binding (one table over a
    * fleet of member stores; see [[ConcatGridTable]]).
    */
  private val concatRegistry = new ConcurrentHashMap[
    String, (Seq[(GridStore, Map[String, Int])], Seq[String])]()

  def key(catalog: String, table: String): String = s"$catalog/$table"

  def register(catalog: String, table: String, store: GridStore,
      chunks: Map[String, Int], groupDims: Seq[String]): Unit =
    registry.put(key(catalog, table), (store, chunks, groupDims))

  def registerConcat(catalog: String, table: String,
      parts: Seq[(GridStore, Map[String, Int])],
      groupDims: Seq[String]): Unit =
    concatRegistry.put(key(catalog, table), (parts, groupDims))

  def lookup(k: String): Option[(GridStore, Map[String, Int], Seq[String])] =
    Option(registry.get(k))

  def lookupConcat(
      k: String): Option[(Seq[(GridStore, Map[String, Int])], Seq[String])] =
    Option(concatRegistry.get(k))

  def tablesOf(catalog: String): Seq[String] =
    (registry.keys.asScala.toSeq ++ concatRegistry.keys.asScala.toSeq)
      .collect {
        case k if k.startsWith(catalog + "/") =>
          k.substring(catalog.length + 1)
      }.sorted
}
