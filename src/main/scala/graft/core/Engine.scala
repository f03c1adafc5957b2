package graft.core

import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.locks.ReentrantLock
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.{Coalesce, Readback}
import graft.spec.{DatasourceSpec, Specs}

/** Spec-driven snapshot → aggregate → purge → reset implementation, shared
  * by every datasource — the engine analogue of the generated per-datasource
  * functions (`powa_generic_module_setup`, powa--5.2.0.sql:1406-1592).
  *
  * Tiers per datasource: `staging` (remote collector landing zone,
  * `*_src_tmp`), `current` (per-entity raw records), `current_db` /
  * `history_db` (per-database rollup, populated at snapshot time,
  * :4070-4094), `history` (coalesced array-of-record rows).
  */
class GenericDatasource(val spec: DatasourceSpec) {
  import GenericDatasource._

  val name: String = spec.name

  /** Per-db rollup spec: keys reduce to dbid, counters to the aggregatable
    * fields (timestamptz counters dropped — c_no_agg, :1049-1050). */
  val dbSpec: Option[DatasourceSpec] =
    if (spec.perDbRollup)
      Some(DatasourceSpec(
        name = spec.name + "_db",
        keyCols = spec.keyCols.filter(_.name == "dbid"),
        counterCols = spec.aggFields))
    else None

  /** Snapshot (generated `{ds}_snapshot`, :1406-1488): read this server's
    * staged rows, append per-entity records into `current` (+ the per-db
    * rollup into `current_db`), then drain the staging partition.
    * `now` is the orchestrator tick timestamp (used by subclasses that
    * stamp dimensions, e.g. the statements MRU).
    */
  def snapshot(store: Store, srvid: Int,
      now: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis())): Long = {
    recoverPending(store, srvid)
    // sink appends + staging drain commit ATOMICALLY — the crash
    // window between them would double-append on retry (Store's
    // snapshot commit protocol; reference :4102-4104 drains inside
    // the same transaction)
    withStaged(store, srvid, spec.stagingSchema)(staged =>
      store.snapshotCommit(name, Staging, srvid, snapshotSinks(staged)))
  }

  /** Run `commit` over this server's staged rows; returns their count
    * (−1 when tracing is off). The rows are read from the staging files
    * listed once ([[Store.readStaged]]), so every sink derived from them
    * reads the same rows, with no cache to materialize as a job of its
    * own. ONE partition: the frame holds one server's samples since its
    * last tick, so each sink tier is one task writing one file per tick,
    * however many files the collector landed. A staging partition
    * implies staged rows (ingest writes none for an empty frame), so
    * the count is trace-only, not a gate. */
  protected def withStaged(store: Store, srvid: Int, schema: StructType)(
      commit: DataFrame => Unit): Long = {
    val staged = store.readStaged(name, Staging, Seq(srvid), schema)
      .coalesce(1)
    val n = if (store.traceRowcounts) staged.count() else -1L
    if (n != 0) commit(staged)
    n
  }

  /** The generic snapshot transform: staged rows → (tier, frame) sink
    * batches, srvid column retained (the commit's tasks write each row
    * into its server's stage dir). ONE definition so the per-server and
    * fleet paths cannot drift. */
  private def snapshotSinks(staged: DataFrame): Seq[(String, DataFrame)] = {
    val keyCols = spec.keyNames.map(col)
    val recordCol = struct((col("ts") +: spec.counterCols.map(c => col(c.name))): _*)
    Seq(Current ->
      staged.select(col("srvid") +: keyCols :+ recordCol.as("record"): _*)
    ) ++ dbSpec.map { dbs =>
      val aggCols = spec.aggFields.map(f => sum(col(f.name)).as(f.name))
      CurrentDb -> staged
        .groupBy(col("srvid"), col("dbid"), col("ts"))
        .agg(aggCols.head, aggCols.tail: _*)
        .select(col("srvid"), col("dbid"),
          struct((col("ts") +: spec.aggFields.map(f => col(f.name))): _*)
            .as("record"))
    }
  }

  /** Vectorized fleet snapshot: ONE Spark job lands EVERY staged
    * server's tick of this datasource (guide §2/§5 — the per-(server,
    * datasource) loop is a driver scheduling bottleneck at fleet scale:
    * ~230k tiny jobs for a fully-staged 10k-server tick; this form is one
    * scan + one write job for the whole fleet, the same shape the remote
    * collector's one repository tick stream implies). The per-server
    * COMMIT protocol is unchanged — [[Store.snapshotCommitFleet]] runs
    * marker → drain → promote per srvid over filesystem ops only.
    *
    * Only the base generic transform is safe to vectorize: subclasses
    * with snapshot-time dimension work (the statements and qualstats
    * dimension logs, databases diff-sync) override [[snapshot]], so they
    * fall back to the per-server path automatically (the `getClass`
    * guard — a subclass that overrides snapshot but not this method
    * must never silently get the generic transform).
    *
    * Returns per-srvid staged row counts (−1 when tracing is off,
    * mirroring [[snapshot]]). Caller holds every server's snapshot
    * lock and has verified each listed srvid HAS a staging partition. */
  def snapshotFleet(store: Store, srvids: Seq[Int],
      now: java.sql.Timestamp): Map[Int, Long] = {
    if (srvids.isEmpty) return Map.empty
    if (getClass != classOf[GenericDatasource])
      return srvids.map(id => id -> snapshot(store, id, now)).toMap
    srvids.foreach(recoverPending(store, _))
    // coalesce the scan to the session's parallelism: the staging tier
    // is one file-partition PER (srvid, ingest file) and a 10k-server
    // fleet would otherwise schedule 10k+ near-empty scan tasks for KB
    // of data each — a narrow merge (no shuffle) packs them into
    // ~cores tasks, the same small-files move as
    // spark.sql.files.maxPartitionBytes packing on the built-in source
    // (guide §2.2/§6: fewer, larger map tasks). Scale-adaptive, not a
    // local constant: defaultParallelism IS the cluster's core count.
    val parallelism = store.spark.sparkContext.defaultParallelism
    val staged = store.readStaged(name, Staging, srvids, spec.stagingSchema)
      .coalesce(parallelism) // pinned files, like withStaged
    val counts: Map[Int, Long] =
      if (store.traceRowcounts)
        staged.groupBy(col("srvid")).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
      else Map.empty
    store.snapshotCommitFleet(name, Staging, srvids, snapshotSinks(staged))
    srvids.map(id => id -> counts.getOrElse(id, -1L)).toMap
  }

  /** Aggregate (generated `{ds}_aggregate`, :1490-1540): coalesce this
    * server's current rows into history, then empty current — history is
    * written before current is truncated (SURVEY.md §7.4 item 2).
    * History lands month-bucketed on range_start (srvid=N/bucket=YYYY-MM)
    * so retention purge is mostly directory drops. */
  def aggregate(store: Store, srvid: Int): Unit = {
    // a present current partition implies rows (only nonempty appends
    // create it), so no isEmpty action — the directory probe is the gate
    def one(tierCur: String, tierHist: String, s: DatasourceSpec): Unit =
      if (store.hasPartition(name, tierCur, srvid)) // no job when idle
        store.aggregateCycle(name, tierCur, tierHist, srvid,
          currentNoSrvid(s))(Coalesce.aggregate(_, s))
    one(Current, History, spec)
    dbSpec.foreach(dbs => one(CurrentDb, HistoryDb, dbs))
  }

  /** Resolve any pending aggregate commit BEFORE new rows land in a
    * current tier. This ordering is what makes roll-forward unambiguous:
    * whenever a `.committed` marker exists, current can only hold rows
    * that commit already coalesced, so recovery may drop it (see the
    * Store commit-protocol invariant). Pure directory probes when the
    * store is clean. Subclasses with extra current/history tier pairs
    * (qualstats constvalues) extend it. */
  protected def recoverPending(store: Store, srvid: Int): Unit = {
    store.recoverSnapshot(name, Staging, srvid)
    store.recoverAggregate(name, Current, History, srvid)
    dbSpec.foreach(_ =>
      store.recoverAggregate(name, CurrentDb, HistoryDb, srvid))
  }

  /** Crash recovery: resolve any aggregate a previous run left inflight
    * (roll back before the commit point, roll forward after — the
    * single-transaction guarantee of the reference's aggregate,
    * powa--5.2.0.sql:6047-6055, restored over plain files). */
  def recover(store: Store): Unit = {
    store.cleanFleetStages(name) // an older build's crashed fleet write
    store.snapshotPendingSrvids(name)
      .foreach(id => store.recoverSnapshot(name, Staging, id))
    store.inflightSrvids(name, History)
      .foreach(id => store.recoverAggregate(name, Current, History, id))
    dbSpec.foreach { _ =>
      store.inflightSrvids(name, HistoryDb)
        .foreach(id => store.recoverAggregate(name, CurrentDb, HistoryDb, id))
    }
  }

  /** Purge (generated `{ds}_purge`, :1542-1570): drop history rows whose
    * range fell entirely before the retention cutoff. A month bucket
    * whose every range provably ended before the cutoff drops as a
    * directory (O(1), no read); any other bucket up to the cutoff's
    * month is rewritten row-level. */
  def purge(store: Store, srvid: Int, cutoff: java.sql.Timestamp): Unit = {
    purgeBucketedTier(store, srvid, cutoff, History, historyNoSrvid(spec))
    dbSpec.foreach(dbs =>
      purgeBucketedTier(store, srvid, cutoff, HistoryDb, historyNoSrvid(dbs)))
  }

  /** Small-file maintenance for the history tiers: every aggregate pass
    * appends one file set per bucket, so a long-running server
    * accumulates one parquet file per coalesce cycle per month — the
    * classic small-file drift (the reference never sees it: Postgres
    * heap tables have no per-append file). Compacts when a tier's
    * manifest holds at least `minFiles` data files; rides the purge
    * cadence (the rarest phase), like Delta OPTIMIZE on a maintenance
    * schedule. No-op on anything below the threshold. */
  def compact(store: Store, srvid: Int, minFiles: Int): Unit = {
    store.compactPartition(name, History, srvid, historyNoSrvid(spec),
      minFiles = minFiles, bucketed = true)
    dbSpec.foreach(dbs =>
      store.compactPartition(name, HistoryDb, srvid, historyNoSrvid(dbs),
        minFiles = minFiles, bucketed = true))
  }

  /** One bucketed tier's retention purge — also used by subclasses with
    * extra history tiers (qualstats constvalues). Any schema with
    * top-level `range_start`/`range_end` columns works. */
  protected def purgeBucketedTier(store: Store, srvid: Int,
      cutoff: java.sql.Timestamp, tier: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    // buckets are `date_format(range_start)` months in the SESSION time
    // zone, so the cutoff's month is named in that zone too
    val cutoffMonth = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM")
      .withZone(org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
        store.spark.conf.get("spark.sql.session.timeZone")))
      .format(cutoff.toInstant)
    // buckets logically dropped LAST purge have had their one-cycle
    // retention: physically delete them before this tick's drops
    store.processDoomedBuckets(name, tier, srvid)
    // a later month's ranges all start after the cutoff: kept whole.
    // An earlier month's bucket drops whole only when its manifest
    // stats prove every range ended before the cutoff — a range that
    // starts in it can end after (the reference keeps any row with
    // upper(coalesce_range) >= cutoff)
    val ended = store.bucketsEndingBefore(name, tier, srvid, cutoff)
    val (stale, boundary) = store.listBuckets(name, tier, srvid)
      .filter(_ <= cutoffMonth).partition(ended)
    stale.foreach(b => store.dropBucket(name, tier, srvid, b))
    if (boundary.nonEmpty) { // bucket present => rows present
      val hist = store.readPartition(name, tier, srvid, schema)
      store.overwritePartition(name, tier, srvid,
        Coalesce.purge(hist, cutoff)
          .withColumn("bucket", date_format(col("range_start"), "yyyy-MM")),
        partitionCols = Seq("bucket"))
    }
  }

  /** Snapshot-pass ordering (reference priorities, :168-181). */
  def priority: Double = spec.priority

  /** Retention cutoff for the purge pass — overridable for datasources
    * with a grace factor (powa_databases_purge, :5835). */
  def purgeCutoff(now: java.sql.Timestamp,
      retentionSec: Long): java.sql.Timestamp =
    new java.sql.Timestamp(now.getTime - retentionSec * 1000L)

  /** Reset (generated `{ds}_reset`, :1572-1589): drop every tier's
    * partition for this server. */
  def reset(store: Store, srvid: Int): Unit =
    Seq(Staging, Current, CurrentDb, History, HistoryDb, Dim)
      .foreach(t => store.dropPartition(name, t, srvid))

  /** Readback (powa_stat_get_activity shape, :7765-7792). */
  def readSeries(store: Store, srvid: Int, from: java.sql.Timestamp,
      to: java.sql.Timestamp): DataFrame = {
    val cur = store.readPartition(name, Current, srvid, currentNoSrvid(spec))
    val hist = store.readPartition(name, History, srvid, historyNoSrvid(spec))
    Readback.series(cur, hist, spec, lit(from), lit(to))
  }

  /** Per-database rollup readback — the `{ds}_history_db` tier pair the
    * per-database dashboards query (populated at snapshot time,
    * powa--5.2.0.sql:4070-4094): current_db ∪ unnest(history_db) over
    * the range, one record stream per dbid. */
  def readSeriesDb(store: Store, srvid: Int, from: java.sql.Timestamp,
      to: java.sql.Timestamp): DataFrame = {
    val dbs = dbSpec.getOrElse(throw new IllegalStateException(
      s"$name has no per-db rollup tier"))
    val cur = store.readPartition(name, CurrentDb, srvid, currentNoSrvid(dbs))
    val hist = store.readPartition(name, HistoryDb, srvid, historyNoSrvid(dbs))
    Readback.series(cur, hist, dbs, lit(from), lit(to))
  }

}

object GenericDatasource {
  val Staging = "staging"
  val Current = "current"
  val CurrentDb = "current_db"
  val History = "history"
  val HistoryDb = "history_db"
  val Dim = "dim"

  /** Tier schemas minus the srvid partition column (Store re-adds it). */
  def currentNoSrvid(s: DatasourceSpec) =
    org.apache.spark.sql.types.StructType(s.currentSchema.fields.filterNot(_.name == "srvid"))
  def historyNoSrvid(s: DatasourceSpec) =
    org.apache.spark.sql.types.StructType(s.historySchema.fields.filterNot(_.name == "srvid"))
}

/** The orchestrator — `powa_take_snapshot(srvid)` (powa--5.2.0.sql:
  * 3450-3710) over the datasource registry, with the reference cadence:
  *
  *   - every call bumps `coalesce_seq` (:3490-3495);
  *   - each enabled datasource snapshots, individually try/caught —
  *     one failing source never aborts the tick (:3523-3547);
  *   - when `(coalesce_seq + srvid % 20) % coalesce == 0` → aggregate
  *     pass (:3550); when `== 1` → purge pass (:3608) — the `srvid % 20`
  *     term de-phases servers so a fleet doesn't aggregate in lockstep;
  *   - metas record snapts/aggts/purgets and accumulated errors
  *     (:3490-3497, :3696-3700).
  */
final class Engine(val spark: SparkSession, storageRoot: String) {
  /** History-tier small-file maintenance threshold: when a purge-phase
    * tick finds at least this many data files in a history partition's
    * manifest, it compacts them (one atomic swap, rows unchanged —
    * [[Store.compactPartition]]). The default keeps the op invisible at
    * test cadence (a partition only crosses 64 files after ~64
    * aggregate cycles) while bounding file-count drift on a
    * long-running fleet. Set <= 0 to disable. */
  @volatile var compactMinFiles: Int = 64

  private val registryStore = new RegistryStore(storageRoot)
  // ordered layout upgrades (or the loud newer-root refusal) happen
  // BEFORE any registry read — the ALTER EXTENSION ... UPDATE moment
  SchemaUpgrade.ensure(registryStore)
  val registry = new Registry(Some(registryStore))
  val store = new Store(spark, storageRoot)
  val catalogs = new CatalogMirror(spark, storageRoot)
  val datasources: Seq[GenericDatasource] =
    new DatabasesDatasource +: Specs.all.map { s =>
      if (s.name == Specs.statements.name) new StatementsDatasource
      else if (s.name == Specs.qualstats.name) new QualstatsDatasource
      else new GenericDatasource(s)
    }
  private val byName = datasources.map(d => d.name -> d).toMap

  def datasource(name: String): GenericDatasource = byName(name)

  /** Startup crash recovery: resolve aggregates left inflight by a
    * previous process (pure directory probes when the store is clean). */
  def recover(): Unit = datasources.foreach(_.recover(store))
  recover()

  /** `powa_log` analogue (powa--5.2.0.sql:1434, :1466): per-datasource
    * "running X" / rowcount trace, emitted only when a sink is
    * installed — the reference gates on its debug GUC the same way.
    * Installing a sink also turns on the per-snapshot row counting
    * (an extra Spark action per datasource per tick, paid only when
    * tracing — exactly the reference's debug-GUC gating). */
  private var logSink: String => Unit = _ => ()
  def log: String => Unit = logSink
  def log_=(f: String => Unit): Unit = {
    logSink = f
    store.traceRowcounts = true
  }
  /** Uninstall the trace sink AND stop paying the per-datasource
    * rowcount action it enables — the debug GUC turned back off
    * (a sink installed once must not tax every later tick). */
  def clearLog(): Unit = {
    logSink = _ => ()
    store.traceRowcounts = false
  }

  /** Remote collector landing: append staged rows (must carry srvid, ts,
    * keys, counters — the `*_src_tmp` shape). */
  def ingest(dsName: String, df: DataFrame): Unit =
    store.append(dsName, GenericDatasource.Staging, df)

  /** Per-server snapshot locks — `powa_prevent_concurrent_snapshot`
    * (powa--5.2.0.sql:3413-3448): the reference takes `FOR UPDATE
    * NOWAIT` on the server's metas row and raises if it's held. The
    * reference's lock is cross-connection, so a thread mutex alone is
    * not parity: the guard here is a try-locked FILE lock under the
    * store root (`_locks/srvid=N.lock`), which fails fast against a
    * concurrent tick from ANY process sharing the store — plus the
    * in-process mutex for a crisp same-JVM error (a second Engine in
    * the same JVM surfaces as OverlappingFileLockException, also
    * fail-fast). Overlapping tickers error rather than queue, exactly
    * like NOWAIT. The lock also serializes the Store commit protocol's
    * single-mutator assumption across processes (round-2 VERDICT
    * item 2). */
  private val snapshotLocks =
    new java.util.concurrent.ConcurrentHashMap[Int, ReentrantLock]()

  /** One held per-server snapshot lock: the in-process mutex and the
    * channel that holds the cross-process file lock until it closes. */
  private case class HeldLock(srvid: Int, mutex: ReentrantLock,
      ch: FileChannel)

  /** Try-acquire one server's snapshot lock, NOWAIT — the one lock
    * path of both tick forms: None when a concurrent snapshot holds
    * it. Unless it returns the lock, it releases whatever it took, also
    * when it throws — a leaked mutex or file lock would fail every
    * later tick of the server in this JVM. */
  private def tryAcquireLock(srvid: Int): Option[HeldLock] = {
    val mutex = snapshotLocks.computeIfAbsent(srvid, _ => new ReentrantLock())
    if (!mutex.tryLock()) return None
    var held: Option[HeldLock] = None
    try {
      val lockDir = Paths.get(storageRoot, "_locks")
      Files.createDirectories(lockDir)
      val ch = FileChannel.open(lockDir.resolve(s"srvid=$srvid.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val fl = try ch.tryLock()
          catch { case _: OverlappingFileLockException => null }
        if (fl != null) held = Some(HeldLock(srvid, mutex, ch))
      } finally if (held.isEmpty) ch.close()
      held
    } finally if (held.isEmpty) mutex.unlock()
  }

  /** Closing the channel releases its file lock. */
  private def releaseLock(h: HeldLock): Unit =
    try h.ch.close() finally h.mutex.unlock()

  /** One tick. Returns the number of errors (like powa_take_snapshot). */
  def takeSnapshot(srvid: Int,
      now: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis())): Int = {
    val server = registry.server(srvid)
    if (server.frequencySec == -1) return 0
    val held = tryAcquireLock(srvid).getOrElse(throw new IllegalStateException(
      s"a concurrent snapshot is already running for server $srvid"))
    try takeSnapshotLocked(srvid, now, server)
    finally releaseLock(held)
  }

  /** Priority classes of `ds`, ascending — the walk order both tick
    * forms preserve; members keep their registration order within a
    * class so error/log sequences stay deterministic. */
  private def groupByPriority(
      ds: Seq[GenericDatasource]): Seq[Seq[GenericDatasource]] =
    ds.groupBy(_.priority).toSeq.sortBy(_._1).map(_._2)

  /** The one [[Parallel.map]] width for a tick's per-datasource units:
    * one priority class's snapshots, and the cadence tail's aggregates or
    * purge + compactions. Every unit writes only its own datasource's
    * directory tree (<root>/<ds>/…, per-ds commit markers), so units
    * overlap on 4 threads — except while a trace sink is installed
    * (`Store.traceRowcounts`): the powa_log contract is a faithful
    * sequential trace and user sinks need not be thread-safe, so width
    * 1 keeps the exact sequential path. Units RETURN their errors;
    * anything escaping one is fatal. */
  private def datasourceWidth: Int = if (store.traceRowcounts) 1 else 4

  /** The datasources one server's tick walks, in priority order
    * (:168-181): databases (−3) before statements (−2) before kcache
    * (−1) before the generic rest (10), so dimension providers run
    * before their dependents every tick. */
  private def activeDatasources(srvid: Int,
      server: ServerConfig): Seq[GenericDatasource] =
    datasources.filter(d =>
      registry.isEnabled(srvid, d.name) &&
      server.versionNum >= d.spec.minVersion).sortBy(_.priority)

  private def takeSnapshotLocked(srvid: Int, now: java.sql.Timestamp,
      server: ServerConfig): Int = {
    // re-read the persisted meta row under the snapshot lock: the
    // coalesce_seq bump is a read-modify-write of the STORED row, so a
    // second engine sharing the root continues the cadence where the
    // first left it instead of replaying its stale in-memory copy
    val meta = registry.refreshMeta(srvid)
    meta.coalesceSeq += 1
    val active = activeDatasources(srvid, server)

    // One datasource's snapshot, error-isolated exactly as before.
    def snapshotOne(d: GenericDatasource): Option[String] =
      try {
        // directory-probe fast path: a tick with nothing staged for
        // this datasource launches zero Spark jobs (every snapshot
        // consumes the staging tier, so an absent partition is a no-op)
        if (store.hasPartition(d.name, GenericDatasource.Staging, srvid)) {
          log(s"running ${d.name}_snapshot")
          val n = d.snapshot(store, srvid, now)
          log(s"${d.name}_snapshot - rowcount: $n")
        }
        None
      } catch { case e: Exception =>
        Some(s"${d.name}_snapshot: ${e.getMessage}") }

    // Walk priority CLASSES in order; datasources within a class
    // overlap (a multi-datasource tick otherwise serializes one small
    // write chain per datasource). Errors are collected in class order
    // either way, so meta.errors is deterministic.
    val snapErrors = groupByPriority(active).flatMap(group =>
      Parallel.map(group, datasourceWidth)(snapshotOne).flatten)
    val errors = snapErrors ++ cadenceTail(srvid, server, meta, active, now)

    meta.errors ++= errors
    // write THIS server's meta row through (scoped: other servers' rows,
    // possibly owned by other engines on this root, are left untouched) —
    // coalesce_seq (the cadence phase), snapts/aggts/purgets and
    // accumulated errors survive restarts
    registry.persistMetas(Set(srvid))
    errors.size
  }

  /** The rest of one server's tick after its snapshot pass, shared by
    * both tick forms: stamp snapts, run the aggregate (phase 0) or the
    * purge + compaction (phase 1) pass over `active`, then the catalog
    * import. Each pass is one [[Parallel.map]] unit per datasource at
    * [[datasourceWidth]], with no priority barrier: no tail step reads
    * another datasource's tiers. Every step is error-isolated; the
    * errors merge on this thread in the sequential walk's order (every
    * purge error, then every compact error, each in `active` order). */
  private def cadenceTail(srvid: Int, server: ServerConfig,
      meta: SnapshotMeta, active: Seq[GenericDatasource],
      now: java.sql.Timestamp): Vector[String] = {
    // one datasource's step, traced and error-isolated like a snapshot
    def step(d: GenericDatasource, name: String)(f: => Unit): Option[String] =
      try {
        log(s"running ${d.name}_$name")
        f
        None
      } catch { case e: Exception => Some(s"${d.name}_$name: ${e.getMessage}") }
    var errors = Vector.empty[String]
    meta.snapts = Some(now)
    val phase = (meta.coalesceSeq + srvid % 20) % server.powaCoalesce
    if (phase == 0) {
      errors ++= Parallel.map(active, datasourceWidth)(d =>
        step(d, "aggregate")(d.aggregate(store, srvid))).flatten
      meta.aggts = Some(now)
    }
    if (phase == 1) {
      // the registry is read here, on the calling thread
      val cutoffs = active.map(d =>
        d.purgeCutoff(now, registry.retentionSec(srvid, d.name)))
      // history small-file maintenance rides the purge cadence —
      // compactMinFiles <= 0 disables
      val minFiles = compactMinFiles
      val outcomes = Parallel.map(active.zip(cutoffs), datasourceWidth) {
        case (d, cutoff) =>
          val purgeError = step(d, "purge")(d.purge(store, srvid, cutoff))
          val compactError =
            if (minFiles > 0) step(d, "compact")(d.compact(store, srvid, minFiles))
            else None
          (purgeError, compactError)
      }
      errors ++= outcomes.flatMap(_._1) ++ outcomes.flatMap(_._2)
      meta.purgets = Some(now)
    }
    // catalog import pass, remote servers only — runs LAST in the tick
    // like the reference's v_catname loop (powa--5.2.0.sql:3663-3694)
    if (srvid != 0)
      errors ++= catalogs.snapshot(srvid, server.catalogRefreshSec, now)
    errors
  }

  // ---- vectorized fleet tick ---------------------------------------

  /** Vectorized fleet tick — `takeSnapshot` for MANY servers with one
    * Spark job per (datasource, sink tier) instead of one per (server,
    * datasource): the snapshot pass reads each datasource's staging
    * tier ONCE across all staged servers and lands every server's
    * batch in one partitionBy(srvid) write (GenericDatasource.
    * snapshotFleet); dimension-bearing datasources (statements,
    * qualstats, databases) and every per-server phase (cadence bump,
    * aggregate/purge/compact, catalog import, metas) keep the
    * per-server path, so each server's visible end state — tiers,
    * meta row, error log — is IDENTICAL to running [[takeSnapshot]]
    * per server (EngineSpec pins row-identity; SCALE.md "vectorized
    * fleet tick" records the fan-out win).
    *
    * Semantics preserved per server: the same NOWAIT lock (a server
    * whose lock is held errors with 1, exactly like a sequential
    * tick's caller would see, and never blocks the fleet); the same
    * per-datasource error isolation (a fleet-job failure falls back
    * to the per-server loop so a single bad server degrades alone —
    * committed servers' staging is already drained, so the retry
    * skips them via the hasPartition gate); the same commit protocol
    * (per-server markers — Store.snapshotCommitFleet). */
  def takeSnapshotFleet(srvids: Seq[Int],
      now: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis()))
      : Map[Int, Int] = {
    val held = scala.collection.mutable.ArrayBuffer.empty[HeldLock]
    val busy = scala.collection.mutable.ArrayBuffer.empty[Int]
    try {
      // acquired inside the try: if one acquire throws, the locks
      // already taken are released below
      srvids.distinct.sorted.foreach { id =>
        tryAcquireLock(id) match {
          case Some(h) => held += h
          case None => busy += id
        }
      }
      val servers = held.map(h => h.srvid -> registry.server(h.srvid)).toMap
      val active = held.map(_.srvid).filter(servers(_).frequencySec != -1)
      // re-read + bump each persisted meta under the lock, like the
      // sequential tick (cadence continues where any engine left it)
      val metas = active.map { id =>
        val m = registry.refreshMeta(id); m.coalesceSeq += 1; id -> m
      }.toMap
      val activeDs = active.map(id =>
        id -> activeDatasources(id, servers(id))).toMap
      val errors = scala.collection.mutable.Map.empty[Int, Vector[String]]
        .withDefaultValue(Vector.empty)

      // snapshot pass: priority CLASS order preserved ACROSS the fleet
      // — every server's databases snapshot lands before any server's
      // statements snapshot, which honors the same dimension-before-
      // dependent ordering the per-server walk does. WITHIN a class,
      // datasources overlap exactly like the per-server tick's
      // snapshot pass: at production fleet scale the tick otherwise
      // serializes ~20 fleet writes of the same priority back to back.
      // Each worker RETURNS its per-server errors; they merge on this
      // thread in class order, so meta.errors stays deterministic.
      def fleetOne(d: GenericDatasource): Seq[(Int, String)] = {
        val staged = active.filter(id =>
          activeDs(id).contains(d) &&
          store.hasPartition(d.name, GenericDatasource.Staging, id))
        if (staged.isEmpty) return Seq.empty
        try {
          log(s"running ${d.name}_snapshot fleet x${staged.size}")
          val ns = d.snapshotFleet(store, staged.toSeq, now)
          if (store.traceRowcounts)
            ns.toSeq.sortBy(_._1).foreach { case (id, n) =>
              log(s"${d.name}_snapshot srvid=$id - rowcount: $n") }
          Seq.empty
        } catch { case _: Exception =>
          // per-server fallback: sequential error isolation — only
          // the genuinely bad server(s) error; servers the fleet
          // write already committed have drained staging and are
          // skipped by the hasPartition gate (retry-safe)
          staged.toSeq.flatMap { id =>
            try {
              if (store.hasPartition(d.name, GenericDatasource.Staging, id)) {
                val n = d.snapshot(store, id, now)
                log(s"${d.name}_snapshot srvid=$id - rowcount: $n")
              }
              None
            } catch { case e: Exception =>
              Some(id -> s"${d.name}_snapshot: ${e.getMessage}") }
          }
        }
      }
      groupByPriority(datasources).foreach { group =>
        Parallel.map(group, datasourceWidth)(fleetOne).foreach(
          _.foreach { case (id, msg) => errors(id) :+= msg })
      }

      // per-server tail: the same cadence phases and catalog import as
      // takeSnapshot, then the meta row
      active.foreach { id =>
        errors(id) ++= cadenceTail(id, servers(id), metas(id), activeDs(id), now)
        metas(id).errors ++= errors(id)
      }
      // ONE batched metas write for the whole fleet (vs one per server)
      if (active.nonEmpty) registry.persistMetas(active.toSet)
      val busyErrs = busy.map { id =>
        registry.meta(id).errors :+=
          s"tick: a concurrent snapshot is already running for server $id"
        id -> 1
      }
      if (busy.nonEmpty) registry.persistMetas(busy.toSet)
      (active.map(id => id -> errors(id).size) ++ busyErrs).toMap
    } finally held.foreach(releaseLock)
  }

  /** [[tickDue]]'s fleet form: one vectorized tick over every due
    * server. */
  def tickDueFleet(now: java.sql.Timestamp = new java.sql.Timestamp(
      System.currentTimeMillis())): Map[Int, Int] =
    takeSnapshotFleet(dueServers(now), now)

  /** Readback + rates in one call — the dashboard query (SURVEY §3.3):
    * `powa_stat_get_activity`-shaped reconstitution followed by the
    * generated `/` rate operator over consecutive records. */
  def readSeriesWithRates(dsName: String, srvid: Int,
      from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame = {
    val d = datasource(dsName)
    val series = d.readSeries(store, srvid, from, to)
    if (d.spec.needOperators)
      graft.operators.DeltaRate.withRates(series, d.spec)
    else series
  }

  /** Per-database dashboard readback + rates — the `_db` tier analogue
    * of [[readSeriesWithRates]] (the reference's per-database graphs
    * read `{ds}_history_db` and apply the same generated operators). */
  def readSeriesDbWithRates(dsName: String, srvid: Int,
      from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame = {
    val d = datasource(dsName)
    val series = d.readSeriesDb(store, srvid, from, to)
    if (d.spec.needOperators)
      graft.operators.DeltaRate.withRates(series,
        d.dbSpec.getOrElse(throw new IllegalStateException(
          s"$dsName has no per-db rollup tier")))
    else series
  }

  /** The scheduling decision of the reference's wall-clock loops — the
    * local bgworker sleeps `powa.frequency` between ticks
    * (powa.c:344-505, compute_powa_frequency) and the remote collector
    * schedules each server by its `powa_servers.frequency`
    * (powa--5.2.0.sql:128): a server is due when it has never
    * snapshotted or its last snapts is at least one frequency old;
    * frequency −1 deactivates. */
  def dueServers(now: java.sql.Timestamp): Seq[Int] =
    registry.serverIds.filter { id =>
      val s = registry.server(id)
      s.frequencySec != -1 &&
        registry.meta(id).snapts.forall(ts =>
          now.getTime - ts.getTime >= s.frequencySec * 1000L)
    }.sorted

  /** One pass of the scheduler loop: tick every due server, each
    * individually guarded (a failing server never blocks the fleet —
    * same isolation as the per-datasource try/catch inside a tick).
    * Returns per-server error counts. */
  def tickDue(now: java.sql.Timestamp = new java.sql.Timestamp(
      System.currentTimeMillis())): Map[Int, Int] =
    dueServers(now).map { id =>
      id -> (try takeSnapshot(id, now)
             catch { case e: Exception =>
               registry.meta(id).errors :+= s"tick: ${e.getMessage}"
               registry.persistMetas(Set(id))
               1
             })
    }.toMap

  /** powa_reset(srvid) (:6359-6429). */
  def reset(srvid: Int): Unit = {
    datasources.foreach(_.reset(store, srvid))
    catalogs.reset(srvid)
    val m = registry.meta(srvid)
    m.coalesceSeq = 0; m.errors = Vector.empty
    registry.persistMetas(Set(srvid))
  }

  /** Autonomous-extension sweeps run by [[deleteServer]] — the analogue
    * of powa_delete_and_purge_server's manual pg_track_settings pass
    * (powa--5.2.0.sql:2864-2888): an extension that stores per-server
    * rows in the same warehouse but outside the engine's datasource
    * registry has no FK back to powa_servers, so deleting a server must
    * explicitly sweep its tables too. Registered once per extension;
    * each sweep is individually guarded like a datasource tick, so a
    * broken extension never blocks the delete itself. */
  private var externalSweeps: Vector[(String, Int => Unit)] = Vector.empty

  def registerExternalSweep(extension: String)(sweep: Int => Unit): Unit =
    externalSweeps = externalSweeps.filterNot(_._1 == extension) :+
      (extension -> sweep)

  /** Canned sweep body for the common layout: an autonomous extension
    * that lays its tables out as `root/<table>/srvid=N` hive partitions
    * — the directory drop that mirrors the reference's
    * `DELETE FROM <ext_table> WHERE srvid = _srvid` loop (:2864-2888). */
  def sweepSrvidPartitions(tables: Seq[String])(srvid: Int): Unit =
    tables.foreach { t =>
      val d = java.nio.file.Paths.get(store.root, t, s"srvid=$srvid")
      if (java.nio.file.Files.isDirectory(d)) {
        java.nio.file.Files.walk(d)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    }

  /** Delete a server and purge every trace of it —
    * powa_delete_and_purge_server (:2842-2888): config rows + all
    * data, plus any registered autonomous-extension sweeps.
    *
    * Sweep failures never
    * block the delete (per-sweep guard, like the per-datasource tick
    * guard) — but the server's meta row is dropped WITH the server, so
    * an error recorded there would vanish: failures are therefore
    * RETURNED to the caller and logged, the only surfaces that outlive
    * the deletion. A non-empty result means orphaned per-server data
    * (an index partition or extension table that failed to drop) that
    * the operator must re-sweep by hand. */
  def deleteServer(srvid: Int): Seq[String] = {
    var failures = Vector.empty[String]
    datasources.foreach(_.reset(store, srvid))
    catalogs.reset(srvid)
    // store-resident index relations (powa_index_<name>/<tier>) are
    // per-server data too: a deleted server's index partitions must go
    // with it, exactly like its history tiers — the reference's
    // delete_and_purge removes EVERY per-server row of every
    // extension-owned relation (powa--5.2.0.sql:2864-2888). Discovered
    // from the root (indexes are created ad hoc, not spec-registered).
    indexDatasourceTiers().groupBy(_._1).toSeq.sortBy(_._1)
      .foreach { case (ds, tiers) =>
        // Store.dropPartition, not a bare AtomicSwap.drop: it retains
        // the newest version one cycle so a probe that pinned the
        // manifest just before the delete finishes undisturbed — the
        // store's standard drop-retention contract applies to index
        // data too. UNDER the index's mutation lock, held across ALL
        // of the index's tiers: admission/compaction are library calls
        // serialized by MutationLock, and an unlocked (or per-tier)
        // drop racing them would let a compaction republish —
        // resurrect — the rows this sweep just purged, or let an
        // append recreate the cells tier between the cells drop and
        // the codebook drop. With one hold per index, the sweep runs
        // either before the mutation (which then fails loudly on the
        // missing codebook) or after it completes — never interleaved
        // (round-12 review).
        // Per-TIER guards inside the per-INDEX lock hold: one tier's
        // transient drop failure must not abandon the siblings (the
        // operator needs the tier name to re-sweep, and surviving
        // tiers must still be attempted). Tier order matters for the
        // failure case: `cells` drops LAST, so a partial sweep can
        // only leave cells WITHOUT params/codebook — every later
        // append/probe then fails loudly on the missing geometry,
        // never silently resurrects data for the deleted server
        // (round-12 review, second pass).
        MutationLock.withPartitionLock(storageRoot, ds, srvid) {
          tiers.sortBy { case (_, t) =>
            (if (t == "cells") 1 else 0, t) }
            .foreach { case (_, tier) =>
              try store.dropPartition(ds, tier, srvid)
              catch { case e: Exception =>
                failures :+= s"sweep $ds.$tier: ${e.getMessage}" }
            }
        }
      }
    externalSweeps.foreach { case (ext, sweep) =>
      try sweep(srvid)
      catch { case e: Exception =>
        failures :+= s"sweep $ext: ${e.getMessage}" }
    }
    registry.dropServer(srvid)
    failures.foreach(f => log(s"deleteServer($srvid) left orphans: $f"))
    failures
  }

  /** (datasource, tier) pairs of every store-resident index under the
    * root — one shallow listing per delete, admin-path only. */
  private def indexDatasourceTiers(): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(storageRoot)
    if (!java.nio.file.Files.isDirectory(root)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val dss = {
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filter(_.startsWith("powa_index_")).toList
      finally s.close()
    }
    dss.flatMap { ds =>
      val d = root.resolve(ds)
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filterNot(n => n.startsWith(".") || n.startsWith("_"))
        .map(ds -> _).toList
      finally s.close()
    }
  }
}
