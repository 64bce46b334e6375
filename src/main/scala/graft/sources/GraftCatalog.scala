package graft.sources

import graft.lake.{LakeCatalog, LakeFunctions, PartitionField, Transform => LTransform}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.{FieldReference, Literal => VLiteral, Transform => VTransform}
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** DataSourceV2 `TableCatalog` over a graft lake warehouse — the pure-SQL
  * surface the reference drives everything through (DDL + DML + DESCRIBE +
  * time travel, `scripts/iceberg-setup.sql:5-12,47-90`;
  * `BLOG_POST_COMPLETE_WALKTHROUGH.md:521-549`):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.graft.catalog.warehouse", "/path/to/warehouse")
  *   CREATE TABLE graft.silver (id BIGINT, d TIMESTAMP, v DOUBLE)
  *     PARTITIONED BY (months(d))
  *     TBLPROPERTIES ('cluster_by'='id', 'primary_key'='id')
  *   INSERT INTO graft.silver SELECT ...
  *   SELECT * FROM graft.silver VERSION AS OF 3       -- time travel
  *   DESCRIBE TABLE graft.silver
  *   ALTER TABLE graft.silver ADD COLUMN tier STRING
  *   DROP TABLE graft.silver
  * }}}
  *
  * Reads/writes resolve to [[GraftLakeV2Table]] — the same DSv2
  * implementation the path-addressed `format("graftlake")` route uses, so
  * SQL queries get pruning, columnar reads and the distributed-MoR rewrite
  * identically.
  *
  * The warehouse root comes from the catalog option
  * (`spark.sql.catalog.<name>.warehouse`) or, dynamically, from
  * `spark.graft.catalog.warehouse` — the latter wins, letting one
  * registered catalog serve different roots (catalog instances are cached
  * per session by name, so an init-time-only option could never change).
  * The namespace is single-level and flat (a directory per table, like a
  * Hadoop catalog); `graft.t` and `graft.default.t` both resolve to
  * `<warehouse>/t`.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
    with FunctionCatalog {

  private var catalogName: String = "graft"
  private var initWarehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initWarehouse = Option(options.get("warehouse"))
  }

  override def name(): String = catalogName

  private def lakeCatalog: LakeCatalog = {
    val spark = SparkSession.active
    val wh = spark.conf.getOption("spark.graft.catalog.warehouse")
      .orElse(initWarehouse)
      .getOrElse(throw new IllegalStateException(
        s"graft catalog needs spark.sql.catalog.$catalogName.warehouse " +
          "or spark.graft.catalog.warehouse"))
    new LakeCatalog(spark, wh)
  }

  private def tableName(ident: Identifier): String = {
    if (!namespaceExists(ident.namespace()))
      throw new NoSuchTableException(ident)
    ident.name()
  }

  // ------------------------------------------------------------------ read

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    lakeCatalog.listTables().map(n => Identifier.of(namespace, n)).toArray
  }

  /** A name in this catalog's warehouse, or a path-addressed table
    * (`format("graftlake")`, [[GraftLakeSource.extractIdentifier]]). */
  override def loadTable(ident: Identifier): Table =
    GraftLakeSource.openPath(ident, None).getOrElse(loadNamed(ident))

  private def loadNamed(ident: Identifier): Table = {
    val cat = lakeCatalog
    val n = tableName(ident)
    // Iceberg-style metadata tables: `graft.`t$snapshots`` / `$files` /
    // `$partitions` answer from snapshot metadata as a local scan
    val dollar = n.lastIndexOf('$')
    if (dollar > 0 && GraftLakeMetaTable.Kinds.contains(n.substring(dollar + 1))) {
      val base = n.substring(0, dollar)
      if (!cat.tableExists(base)) throw new NoSuchTableException(ident)
      return new GraftLakeMetaTable(cat.table(base), n.substring(dollar + 1))
    }
    if (!cat.tableExists(n)) throw new NoSuchTableException(ident)
    new GraftLakeV2Table(cat.table(n), None)
  }

  /** `SELECT ... FROM graft.t VERSION AS OF <seq>` — snapshot-pinned read. */
  override def loadTable(ident: Identifier, version: String): Table =
    GraftLakeSource.openPath(ident, Some(version.toLong)).getOrElse {
      val cat = lakeCatalog
      val n = tableName(ident)
      if (!cat.tableExists(n)) throw new NoSuchTableException(ident)
      new GraftLakeV2Table(cat.table(n), Some(version.toLong))
    }

  // ------------------------------------------------------------------- DDL

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[VTransform],
      properties: util.Map[String, String]): Table = {
    val cat = lakeCatalog
    val n = tableName(ident)
    // '$' is reserved for metadata-table routing (`t$snapshots` etc., the
    // Iceberg convention loadTable assumes) — a real table named that way
    // would be unreachable or shadow another table's metadata view
    require(!n.contains("$"),
      s"invalid table name $n: '$$' is reserved for metadata tables (t$$snapshots, " +
        "t$files, t$partitions)")
    if (cat.tableExists(n)) throw new TableAlreadyExistsException(ident)
    val props = properties.asScala
    def listProp(key: String): Seq[String] =
      props.get(key).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val t = cat.createTable(
      n, schema,
      partitionSpec = partitions.map(toPartitionField).toSeq,
      clusterBy = listProp("cluster_by"),
      primaryKey = listProp("primary_key"),
      clusterStrategy = props.getOrElse("cluster_strategy", "linear"))
    new GraftLakeV2Table(t, None)
  }

  /** SQL `PARTITIONED BY (...)` → lake partition spec. Matching by
    * `Transform.name` keeps this stable across the parser's dedicated
    * transform classes and generic ApplyTransform. */
  private def toPartitionField(tr: VTransform): PartitionField = {
    val refs = tr.references()
    require(refs.length == 1, s"partition transform needs one column: $tr")
    val src = refs.head.fieldNames().mkString(".")
    def intArg: Int = tr.arguments().collectFirst {
      case l: VLiteral[_] if l.dataType() == IntegerType => l.value().asInstanceOf[Int]
    }.getOrElse(throw new IllegalArgumentException(s"$tr needs an int literal argument"))
    tr.name().toLowerCase match {
      case "identity"         => PartitionField(src, LTransform.Identity, s"p_$src")
      case "years" | "year"   => PartitionField(src, LTransform.Year, s"p_year_$src")
      case "months" | "month" => PartitionField(src, LTransform.Month, s"p_month_$src")
      case "days" | "day"     => PartitionField(src, LTransform.Day, s"p_day_$src")
      case "bucket"           => PartitionField(src, LTransform.Bucket(intArg), s"p_bucket_$src")
      case "truncate"         => PartitionField(src, LTransform.Truncate(intArg), s"p_trunc_$src")
      case other => throw new IllegalArgumentException(s"unsupported partition transform: $other")
    }
  }

  /** ALTER TABLE — ADD COLUMN and ALTER COLUMN TYPE (lossless widening)
    * map onto the lake's metadata-only schema evolution; everything else
    * the lake format cannot express is rejected loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val cat = lakeCatalog
    val n = tableName(ident)
    if (!cat.tableExists(n)) throw new NoSuchTableException(ident)
    val t = cat.table(n)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          s"nested columns unsupported: ${add.fieldNames().mkString(".")}")
        t.addColumn(add.fieldNames()(0), add.dataType().sql)
      case up: TableChange.UpdateColumnType =>
        require(up.fieldNames().length == 1,
          s"nested columns unsupported: ${up.fieldNames().mkString(".")}")
        t.promoteColumn(up.fieldNames()(0), up.newDataType().sql)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          s"nested columns unsupported: ${del.fieldNames().mkString(".")}")
        t.dropColumn(del.fieldNames()(0))
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty =>
        throw new UnsupportedOperationException("graft tables have immutable properties")
      case other =>
        throw new UnsupportedOperationException(s"unsupported ALTER: $other")
    }
    new GraftLakeV2Table(t, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val cat = lakeCatalog
    cat.tableExists(ident.name()) && cat.dropTable(ident.name())
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE not supported")

  // ------------------------------------------------------------ procedures

  /** `CALL graft.system.<proc>(...)` — table maintenance from pure SQL
    * (rollback, snapshot expiry, compaction, orphan sweep, partition-spec
    * evolution). The `system` namespace mirrors the Iceberg idiom; the
    * procedures drive the same Scala entry points. */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live in the 'system' namespace: CALL $catalogName.system.${ident.name()}")
    GraftProcedures.load(ident.name(), () => lakeCatalog, catalogName).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure ${ident.name()} — available: ${GraftProcedures.Names.mkString(", ")}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ------------------------------------------------------------- functions

  /** The lake's transforms and z-value ([[graft.lake.LakeFunctions]]):
    * `SELECT graft.months(d)`, the transforms a write arrangement clusters
    * on, and a scan-reported `bucket(n, col)` key of a storage-partitioned
    * join (unresolved, it degrades to unknown partitioning and the join
    * shuffles) all resolve here, with `canonicalName`s equal across
    * catalogs. */
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (isRoot(ident.namespace())) LakeFunctions.loadFunction(ident)
    else throw new NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (isRoot(namespace)) LakeFunctions.listFunctions(namespace) else Array.empty

  // ------------------------------------------------------------ namespaces

  private def isRoot(ns: Array[String]): Boolean =
    ns.isEmpty || ns.sameElements(Array("default"))

  override def defaultNamespace(): Array[String] = Array("default")
  override def namespaceExists(ns: Array[String]): Boolean = isRoot(ns)
  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))
  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) listNamespaces()
    else if (isRoot(ns)) Array.empty
    else throw new NoSuchNamespaceException(ns)
  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] =
    if (isRoot(ns)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(ns)
  override def createNamespace(ns: Array[String], props: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graft catalog namespace is fixed")
  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog namespace is fixed")
  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("graft catalog namespace is fixed")
}
