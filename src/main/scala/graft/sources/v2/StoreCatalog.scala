package graft.sources.v2

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableCatalog` over a store root — the tiers become
  * plain SQL tables:
  *
  *   spark.sql.catalog.graft      = graft.sources.v2.StoreCatalog
  *   spark.sql.catalog.graft.root = /path/to/store
  *
  *   SELECT record.* FROM graft.powa_statements.history_current
  *   WHERE srvid = 3
  *
  * Namespace = datasource, table = tier, resolved to the SAME
  * [[StoreTable]] the `graft-store` format uses — manifest-pinned
  * listing, planning-time srvid pruning, vectorized columnar scan,
  * AtomicSwap-committed writes all apply unchanged; this class is only
  * the naming layer. The analogue of the reference exposing its tiers
  * as ordinary schema-qualified tables to any SQL client
  * (powa--5.2.0.sql's tables are the UI's direct query surface).
  *
  * Schema resolution prefers the spec registry (exact struct schemas
  * for the generic tier names); other tiers fall back to parquet-footer
  * inference, so ad-hoc stores (q44's `evt`) resolve too. A table is
  * the tier as stored: `<ds>.dim` of statements and qualstats is the
  * dimension's append-only log (graft.core.DimLog), which holds one
  * row per staged row and a `seq` ordinal between folds; the folded
  * dimension is `readDim`. DDL is out of scope by design: tables are
  * created by the engine's commit protocols, not SQL DDL —
  * create/alter/rename throw, drop delegates to the same recursive
  * delete a reset performs.
  */
final class StoreCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: String = _
  private var catalogOptions: CaseInsensitiveStringMap =
    CaseInsensitiveStringMap.empty()

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    catalogOptions = options
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"StoreCatalog '$name': set spark.sql.catalog.$name.root")
  }

  override def name(): String = catalogName

  /** Datasource directories under the root (not part of the minimal
    * TableCatalog contract — a convenience for tooling). */
  def listNamespaces(): Array[Array[String]] = {
    val d = Paths.get(root)
    if (!Files.isDirectory(d)) Array.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filterNot(n => n.startsWith(".") || n.startsWith("_"))
        .map(Array(_)).toArray
      finally s.close()
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.length == 1,
      s"StoreCatalog: namespace is the datasource name, got " +
        namespace.mkString("."))
    val d = Paths.get(root, namespace(0))
    if (!Files.isDirectory(d)) Array.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filterNot(n => n.startsWith(".") || n.startsWith("_"))
        .map(Identifier.of(namespace, _)).toArray
      finally s.close()
    }
  }

  override def loadTable(ident: Identifier): Table = {
    require(ident.namespace().length == 1,
      s"StoreCatalog: identifier must be <datasource>.<tier>, got $ident")
    val ds = ident.namespace()(0)
    val tier = ident.name()
    val layout = StoreLayout(root, ds, tier)
    new StoreTable(layout, tierSchema(ds, tier, layout), aclGuard(ds, tier))
  }

  /** Physical tier → the reference's table name for that tier — the
    * key the powa_grant matrix is expressed in (AccessControl
    * .inventory; powa--5.2.0.sql:7574-7654). */
  private def powaObjectName(ds: String, tier: String): String =
    (ds, tier) match {
      // the qualstats family's generic tiers hold the QUALS history
      // pair (QualstatsDatasource scaladoc); constvalues are own tiers
      case ("powa_qualstats", "current") => "powa_qualstats_quals_history_current"
      case ("powa_qualstats", "history") => "powa_qualstats_quals_history"
      case (_, "staging") => s"${ds}_src_tmp"
      case (_, "current") => s"${ds}_history_current"
      case (_, "current_db") => s"${ds}_history_current_db"
      case (_, "history") => s"${ds}_history"
      case (_, "history_db") => s"${ds}_history_db"
      case (_, "constvalues") => s"${ds}_constvalues_history_current"
      case (_, "constvalues_history") => s"${ds}_constvalues_history"
      case (_, other) => s"${ds}_$other"
    }

  /** The ACL enforcement decorator (the reference's pseudo-role
    * delegation made real at the SQL surface): when the session names a
    * principal via `spark.sql.catalog.<name>.principal` or the session
    * conf `spark.graft.acl.principal`, every scan/write build on a
    * loaded tier consults the store's persisted powa_grant matrix
    * (`AccessControl.check` over `_registry/acl.properties`) and throws
    * for a privilege the principal's pseudo-roles do not carry —
    * powa_read_all_metrics reads `statements.history` but not
    * `qualstats.constvalues`, exactly the reference's GRANT rows.
    * Objects outside the powa inventory (ad-hoc datasources like q44's
    * `evt`) are not powa's to guard and pass through, matching the
    * pg_depend walk's extension-owned scope. No principal set → open,
    * the engine's own path. */
  private def aclGuard(ds: String, tier: String): String => Unit = {
    val obj = powaObjectName(ds, tier)
    // index tiers (powa_index_<name>/{cells,codebook,sh,bands}) are
    // engine-owned data and guarded like any history tier — at fleet
    // scale indexes are data too (AccessControl.isIndexObject)
    val known = graft.core.AccessControl
      .inventory(graft.spec.Specs.all).exists(_.name == obj) ||
      graft.core.AccessControl.isIndexObject(obj)
    if (!known) _ => () // not powa's to guard (ad-hoc datasource)
    else priv => {
      // Principal and grant matrix resolve AT GUARD TIME, not at
      // loadTable (round-9 ADVICE): loadTable-time capture snapshots
      // the wrong session's principal under multi-session use, and a
      // revoke issued after table resolution kept working until the
      // next loadTable. Scan/write builds are per-query, so the
      // re-read is one properties file per build — not per row.
      val principal = Option(catalogOptions.get("principal"))
        .orElse(SparkSession.active.conf
          .getOption("spark.graft.acl.principal"))
        .filter(_.nonEmpty)
      principal.foreach { p =>
        val acl = new graft.core.AccessControl(Some(root))
        if (!acl.check(p, priv, obj))
          throw new SecurityException(
            s"powa ACL: principal '$p' lacks $priv on $obj " +
              s"(catalog $catalogName, tier $ds.$tier)")
      }
    }
  }

  /** Spec-registry schema for the generic tier names of a known
    * datasource; parquet-footer inference otherwise. srvid is exposed
    * last, like every StoreTable. */
  private def tierSchema(ds: String, tier: String,
      layout: StoreLayout): StructType = {
    import graft.core.GenericDatasource._
    val fromSpec = graft.spec.Specs.all.find(_.name == ds).flatMap { sp =>
      tier match {
        case Current | CurrentDb => Some(sp.currentSchema)
        case History | HistoryDb => Some(sp.historySchema)
        case Staging => Some(sp.stagingSchema)
        case _ => None
      }
    }
    val schema = fromSpec.getOrElse {
      val first = layout.srvids.iterator
        .flatMap(n => layout.files(n).iterator).buffered.headOption
      require(first.isDefined,
        s"StoreCatalog: cannot infer schema of empty tier $ds.$tier")
      SparkSession.active.read.parquet(first.get).schema
    }
    StructType(schema.fields.filterNot(_.name == "srvid") :+
      StructField("srvid", IntegerType))
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "StoreCatalog: tiers are engine-managed; ALTER is not supported")

  override def dropTable(ident: Identifier): Boolean = {
    val d = Paths.get(root, ident.namespace()(0), ident.name())
    if (!Files.isDirectory(d)) false
    else { graft.core.AtomicSwap.deleteRecursively(d); true }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      "StoreCatalog: tiers are engine-managed; RENAME is not supported")
}
