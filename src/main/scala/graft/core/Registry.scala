package graft.core

import scala.collection.mutable

/** Server + module configuration catalog — the engine's mirror of the
  * reference's config surface (SURVEY.md §2.11):
  *
  *   - `powa_servers` (powa--5.2.0.sql:120-136): id, hostname, frequency
  *     (-1 = deactivated, else >= 5 s), retention, powa_coalesce;
  *   - `powa_register_server` (:2686-2761), `powa_configure_server`
  *     (:2768-2783, field-whitelisted json patch),
  *     `powa_deactivate_server` (:2807, frequency = -1),
  *     `powa_delete_and_purge_server` (:2842-2888);
  *   - module activation (`powa_activate_module` :2597-2625, 'powa' as
  *     an alias for all modules) and per-server per-feature retention
  *     resolution (`powa_get_server_retention` :2942-2990).
  *
  * These are tiny config tables; a driver-side in-memory catalog matches
  * the reference's semantics (server 0 = local, auto-registered).
  */
final case class ServerConfig(
    id: Int,
    hostname: String,
    alias: Option[String] = None,
    port: Int = 5432,
    frequencySec: Int = 300,
    retentionSec: Long = 86400L,        // powa.retention default 1 day
    powaCoalesce: Int = 100,            // powa.coalesce default
    versionNum: Int = 170000,
    /** per-feature retention overrides (extension name → seconds) —
      * powa_extension_config.retention (:199). */
    featureRetention: Map[String, Long] = Map.empty,
    /** catalog mirror refresh interval — powa_catalog_functions'
      * `_refresh_interval` default '1 year' (:729). */
    catalogRefreshSec: Long = 365L * 86400) {
  require(frequencySec == -1 || frequencySec >= 5,
    "frequency must be -1 (disabled) or >= 5s (powa--5.2.0.sql:128)")
  require(powaCoalesce >= 5, "powa_coalesce must be >= 5 (powa.c:277-281)")
}

final case class SnapshotMeta(
    var coalesceSeq: Long = 0,
    var snapts: Option[java.sql.Timestamp] = None,
    var aggts: Option[java.sql.Timestamp] = None,
    var purgets: Option[java.sql.Timestamp] = None,
    var errors: Vector[String] = Vector.empty)

/** `persistence = Some(RegistryStore)` makes every config mutation
  * write-through to the store's `_registry/` parquet tables and loads
  * them back at construction — the reference keeps all of this in
  * ordinary tables, so registrations, `coalesce_seq` (the cadence
  * phase) and accumulated errors survive restarts. `None` (the default)
  * keeps the registry purely in-memory, for tests and ad-hoc use. */
final class Registry(persistence: Option[RegistryStore] = None) {
  import RegistryStore._

  private val servers = mutable.LinkedHashMap[Int, ServerConfig]()
  private val metas = mutable.Map[Int, SnapshotMeta]()
  /** (srvid, datasource) → enabled. Registration seeds all datasources
    * enabled, mirroring powa_module_config rows (powa--5.2.0.sql:1264). */
  private val enabled = mutable.Map[(Int, String), Boolean]()
  private var nextId = 1

  // Every save is srvid-SCOPED: only this mutation's rows are replaced
  // in the persisted table (RegistryStore merges under its lock), so an
  // engine's write-through never clobbers rows another engine sharing
  // the root owns — the reference's row-scoped UPDATE, not a table swap.
  private def saveServers(scope: Set[Int]): Unit = persistence.foreach(
    _.saveServers(scope,
      servers.values.toSeq.filter(s => scope(s.id)).map(serverRow)))
  private def saveModules(scope: Set[Int]): Unit = persistence.foreach(
    _.saveModules(scope, enabled.toSeq.collect {
      case ((id, m), on) if scope(id) => ModuleRow(id, m, on) }))
  private def saveDbModules(scope: Set[Int]): Unit = persistence.foreach(
    _.saveDbModules(scope, dbModules.toSeq.collect {
      case ((id, m), st) if scope(id) =>
        st match {
          case DbAll => DbModuleRow(id, m, "all", Seq.empty)
          case DbNames(names) => DbModuleRow(id, m, "names", names)
          case DbDisabled => DbModuleRow(id, m, "disabled", Seq.empty)
        }
    }))

  /** Run `body` holding the registry-wide lock (no-op without
    * persistence) so multi-table mutations commit as one critical
    * section. Re-entrant with the scoped saves above. */
  private def locked[T](body: => T): T = persistence match {
    case Some(p) => p.withLock(body)
    case None => body
  }

  /** Write one server's snapshot meta through to the store — the engine
    * calls this once per tick, after snapts/aggts/purgets/errors settle
    * (`UPDATE powa_snapshot_metas`, powa--5.2.0.sql:3490-3497). */
  def persistMetas(scope: Set[Int]): Unit = persistence.foreach(
    _.saveMetas(scope, metas.toSeq.collect {
      case (id, m) if scope(id) => metaRow(id, m) }))

  /** Full-table write-through — single-engine admin use only (a scoped
    * save is what ticks use; this replaces every srvid this registry
    * holds in memory). */
  def persistMetas(): Unit = persistMetas(metas.keySet.toSet)

  /** Re-read this server's persisted meta row into memory, returning it —
    * called at tick start UNDER the per-server snapshot lock, so the
    * coalesce_seq bump is read-modify-write on the STORED row (the
    * reference's `FOR UPDATE` row claim) rather than on a possibly
    * stale construction-time copy when several engines share a root. */
  def refreshMeta(srvid: Int): SnapshotMeta = {
    persistence.foreach(_.loadMeta(srvid).foreach(r =>
      metas(srvid) = r.toMeta))
    meta(srvid)
  }

  private def registerLocal(): Unit = {
    servers(0) = ServerConfig(0, "", alias = Some("local"))
    metas(0) = SnapshotMeta()
  }

  /** powa_register_server (:2686-2761). Returns the new srvid. Runs
    * under the registry lock with the persisted server set refreshed
    * first, so two engines registering concurrently can neither pick
    * the same auto-id nor overwrite each other's registration. */
  def registerServer(cfg: ServerConfig): Int = locked {
    persistence.foreach(_.loadServers().foreach { r =>
      if (!servers.contains(r.srvid)) servers(r.srvid) = r.toConfig
      nextId = math.max(nextId, r.srvid + 1)
    })
    val id = if (cfg.id > 0) cfg.id else { val i = nextId; i }
    require(!servers.contains(id) || id == cfg.id && !servers.contains(id),
      s"server $id already registered")
    nextId = math.max(nextId, id + 1)
    servers(id) = cfg.copy(id = id)
    metas(id) = SnapshotMeta()
    saveServers(Set(id)); persistMetas(Set(id))
    id
  }

  /** Bulk registration: per-server semantics identical to
    * [[registerServer]] (auto-id allocation, duplicate rejection,
    * fresh meta), but ONE persisted-set refresh and ONE merged
    * servers-table write for the whole batch — onboarding a fleet is
    * O(fleet) bytes instead of the one-at-a-time path's O(fleet²)
    * (SCALE.md "fleet axis at 1000 servers": 44 s for 1000
    * registerServer calls; the batch form is one table write + 1000
    * text meta rows). Atomic under the registry lock: a duplicate
    * anywhere in the batch rejects the WHOLE batch before anything
    * persists. */
  def registerServers(cfgs: Seq[ServerConfig]): Seq[Int] = locked {
    persistence.foreach(_.loadServers().foreach { r =>
      if (!servers.contains(r.srvid)) servers(r.srvid) = r.toConfig
      nextId = math.max(nextId, r.srvid + 1)
    })
    // two-phase: allocate + validate WITHOUT touching live state, so a
    // duplicate rejects the whole batch with memory and disk untouched;
    // auto-id allocation tracks staged ids exactly like the sequential
    // calls would (register(5) then auto -> 6)
    var nid = nextId
    val staged = mutable.LinkedHashMap[Int, ServerConfig]()
    cfgs.foreach { cfg =>
      val id = if (cfg.id > 0) cfg.id else nid
      require(!servers.contains(id) && !staged.contains(id),
        s"server $id already registered")
      staged(id) = cfg.copy(id = id)
      nid = math.max(nid, id + 1)
    }
    staged.foreach { case (id, cfg) =>
      servers(id) = cfg
      metas(id) = SnapshotMeta()
    }
    nextId = math.max(nextId, nid)
    saveServers(staged.keySet.toSet); persistMetas(staged.keySet.toSet)
    staged.keys.toSeq
  }

  /** powa_configure_server: field-whitelisted patch (:2768-2783).
    * One-element form of [[configureServers]] — same lock, same
    * write shape. */
  def configureServer(srvid: Int, patch: ServerConfig => ServerConfig): Unit =
    configureServers(Seq(srvid -> patch))

  /** Batched powa_configure_server — the admin-sweep form ("retune
    * frequency across the fleet"): every patch applies in order and
    * the touched rows persist with ONE scoped merge-write, so a
    * 100-config sweep at 1000 servers costs one table read+write
    * (O(fleet) bytes once) instead of the sequential path's
    * O(sweep × fleet) (round-11 VERDICT item 3; the registerServers
    * batching argument applied to reconfiguration). Runs under the
    * registry lock, so concurrent sweeps from engines sharing the
    * root serialize and in-memory state always matches what was
    * persisted.
    *
    * All-or-nothing: patches are evaluated two-phase against a staged
    * copy first — an unknown srvid or a throwing patch anywhere in the
    * batch rejects the WHOLE batch with memory and disk untouched.
    * Several patches to the same srvid compose in batch order, exactly
    * like sequential calls. */
  def configureServers(
      patches: Seq[(Int, ServerConfig => ServerConfig)]): Unit = locked {
    val staged = patches.foldLeft(Map.empty[Int, ServerConfig]) {
      case (acc, (id, p)) => acc.updated(id, p(acc.getOrElse(id, server(id))))
    }
    staged.foreach { case (id, cfg) => servers(id) = cfg }
    saveServers(staged.keySet)
  }

  /** powa_configure_server(json): field-whitelisted JSON patch
    * (:2768-2783) — unknown keys raise, mirroring the reference's
    * "invalid field" error (tested by sql/02_remote_api.sql). */
  def configureServerJson(srvid: Int, patch: Map[String, String]): Unit = {
    val allowed = Set("hostname", "alias", "port", "frequency",
      "retention", "powa_coalesce", "version")
    patch.keys.find(!allowed.contains(_)).foreach { k =>
      throw new IllegalArgumentException(s"invalid field $k")
    }
    configureServer(srvid, cfg => patch.foldLeft(cfg) {
      case (c, ("hostname", v)) => c.copy(hostname = v)
      case (c, ("alias", v)) => c.copy(alias = Some(v))
      case (c, ("port", v)) => c.copy(port = v.toInt)
      case (c, ("frequency", v)) => c.copy(frequencySec = v.toInt)
      case (c, ("retention", v)) => c.copy(retentionSec = v.toLong)
      case (c, ("powa_coalesce", v)) => c.copy(powaCoalesce = v.toInt)
      case (c, ("version", v)) => c.copy(versionNum = v.toInt)
      case (c, _) => c
    })
  }

  /** powa_deactivate_server: frequency = -1 (:2807). */
  def deactivateServer(srvid: Int): Unit =
    configureServer(srvid, _.copy(frequencySec = -1))

  /** powa_delete_and_purge_server (:2842-2888); storage sweep is the
    * engine's responsibility (Engine.deleteServer). One-element form
    * of [[dropServers]]. */
  def dropServer(srvid: Int): Unit = dropServers(Set(srvid))

  /** Batched server drop — decommissioning N servers rewrites each of
    * the four registry tables ONCE (scoped empty writes delete the
    * batch's rows), not N times: the [[configureServers]] batching
    * argument applied to deletion. Idempotent per id like the single
    * form (dropping an unknown srvid is a no-op). All four table
    * writes commit inside one lock hold, so a concurrent reader never
    * sees a half-dropped batch across tables. */
  def dropServers(srvids: Set[Int]): Unit = locked {
    require(!srvids.contains(0), "cannot delete the local server")
    srvids.foreach { id =>
      servers.remove(id); metas.remove(id)
      enabled.keys.filter(_._1 == id).toSeq.foreach(enabled.remove)
      dbModules.keys.filter(_._1 == id).toSeq.foreach(dbModules.remove)
    }
    // scoped empty writes = delete these srvids' rows
    saveServers(srvids); persistMetas(srvids)
    saveModules(srvids); saveDbModules(srvids)
  }

  def server(srvid: Int): ServerConfig =
    servers.getOrElse(srvid, throw new NoSuchElementException(s"no server $srvid"))
  def serverIds: Seq[Int] = servers.keys.toSeq
  def meta(srvid: Int): SnapshotMeta =
    metas.getOrElseUpdate(srvid, SnapshotMeta())

  /** powa_activate_module / powa_deactivate_module (:2597-2684);
    * name "powa" toggles everything (alias, :2612-2625). */
  def setEnabled(srvid: Int, dsName: String, on: Boolean): Unit = {
    setEnabled0(srvid, dsName, on)
    saveModules(Set(srvid))
  }

  private def setEnabled0(srvid: Int, dsName: String, on: Boolean): Unit =
    if (dsName == "powa") enabled.keys.filter(_._1 == srvid)
      .foreach(k => enabled(k) = on)
    else enabled((srvid, dsName)) = on

  /** Default: enabled unless explicitly deactivated. */
  def isEnabled(srvid: Int, dsName: String): Boolean =
    enabled.getOrElse((srvid, dsName), true)

  /** Extension-backed datasources (powa_extension_functions rows,
    * powa--5.2.0.sql:154-191) — the core `pg_stat_*` modules have no
    * extension dependency and are never touched by extension sync. */
  val extensionDatasources: Map[String, Seq[String]] = Map(
    "pg_stat_statements" -> Seq("powa_statements"),
    "pg_stat_kcache" -> Seq("powa_kcache"),
    "pg_qualstats" -> Seq("powa_qualstats"),
    "pg_wait_sampling" -> Seq("powa_wait_sampling"))

  /** Event-trigger analogue (`powa_check_created_extensions` /
    * `powa_check_dropped_extensions`, powa--5.2.0.sql:3329-3411): given
    * the set of statistics extensions currently present on a server,
    * auto-activate the datasources of newly present extensions and
    * deactivate those of dropped ones. Unknown names are ignored, like
    * the reference's "bail out if this isn't a known extension". */
  def syncExtensions(srvid: Int, present: Set[String]): Unit = {
    extensionDatasources.foreach { case (ext, dss) =>
      dss.foreach(ds => setEnabled0(srvid, ds, present.contains(ext)))
    }
    saveModules(Set(srvid))
  }

  /** powa_get_server_retention resolution (:2942-2990): per-feature
    * override, else server retention, else global default. */
  def retentionSec(srvid: Int, feature: String): Long = {
    val s = server(srvid)
    s.featureRetention.getOrElse(feature, s.retentionSec)
  }

  // ---- db-module dbnames algebra (powa_{activate,deactivate}_db_module,
  //      powa--5.2.0.sql:2397-2567; transition script sql/03_db_module.sql):
  //      a CONFIGURED db module is enabled for ALL databases (dbnames
  //      NULL), enabled for an explicit name list, or disabled (row kept,
  //      enabled=false). Activation REPLACES the dbnames (`SET enabled =
  //      true, dbnames = databases`, :2443-2446 — no merge); specific
  //      deactivation removes names via EXCEPT (:2540-2545) and flips to
  //      disabled when the list empties.
  sealed trait DbModuleState
  case object DbAll extends DbModuleState
  final case class DbNames(names: Vector[String]) extends DbModuleState
  case object DbDisabled extends DbModuleState

  private val dbModules = mutable.Map[(Int, String), DbModuleState]()

  def dbModuleState(srvid: Int, module: String): Option[DbModuleState] =
    dbModules.get((srvid, module))

  /** Activate for all dbs (dbnames = None) or for exactly `dbnames` —
    * the stored list is REPLACED, not merged (:2443-2446). */
  def activateDbModule(srvid: Int, module: String,
      dbnames: Option[Seq[String]] = None): Unit = {
    dbModules((srvid, module)) = dbnames match {
      case None => DbAll
      case Some(names) => DbNames(names.toVector)
    }
    saveDbModules(Set(srvid))
  }

  /** Deactivate entirely (dbnames = None → disabled row kept) or remove
    * specific names (EXCEPT, :2540-2545; empties → disabled). */
  def deactivateDbModule(srvid: Int, module: String,
      dbnames: Option[Seq[String]] = None): Unit = {
    val key = (srvid, module)
    (dbModules.get(key), dbnames) match {
      case (None, _) =>
        // deactivating an unconfigured db module isn't supported (:2497-2499)
        throw new IllegalStateException(s"db module $module is not configured")
      case (Some(DbDisabled), _) => () // noop (:2503-2507)
      case (_, None) => dbModules(key) = DbDisabled // (:2521-2529)
      case (Some(DbAll), Some(_)) =>
        throw new IllegalStateException(
          s"$module is enabled for all databases; deactivate globally first (:2510-2512)")
      case (Some(DbNames(existing)), Some(names)) =>
        if (!names.forall(existing.contains))
          throw new IllegalStateException(
            s"$module is not activated on all of ${names.mkString(",")} (:2516-2518)")
        val left = existing.filterNot(names.contains).sorted // EXCEPT + sort (:2541)
        dbModules(key) =
          if (left.isEmpty) DbDisabled else DbNames(left)
    }
    saveDbModules(Set(srvid))
  }

  /** Is the module enabled for this database name? */
  def isDbModuleEnabled(srvid: Int, module: String, dbname: String): Boolean =
    dbModules.get((srvid, module)) match {
      case Some(DbAll) => true
      case Some(DbNames(names)) => names.contains(dbname)
      case _ => false
    }

  // construction-time load — last in the class body so every map above
  // is initialized before the persisted rows pour in
  persistence match {
    case Some(p) =>
      p.loadServers().foreach(r => servers(r.srvid) = r.toConfig)
      p.loadMetas().foreach(r => metas(r.srvid) = r.toMeta)
      p.loadModules().foreach(r => enabled((r.srvid, r.module)) = r.enabled)
      p.loadDbModules().foreach(r =>
        dbModules((r.srvid, r.module)) = r.state match {
          case "all" => DbAll
          case "names" => DbNames(r.dbnames.toVector)
          case _ => DbDisabled
        })
      nextId = servers.keys.foldLeft(0)(math.max) + 1
      if (!servers.contains(0)) {
        registerLocal(); saveServers(Set(0)); persistMetas(Set(0))
      }
    case None => registerLocal()
  }
}
