package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import graft.sources.v2.{StoreCommitMessage, StoreDataWriter}

/** Parquet-backed tier storage. Layout (SURVEY.md §7.1):
  *
  *   <root>/<datasource>/<tier>/srvid=<n>/…parquet
  *
  * with tiers `staging | current | history | history_db`. Partitioning by
  * `srvid` makes every per-server operation (snapshot drain, aggregate,
  * purge, reset — all `WHERE srvid = ?` DML in the reference) a partition
  * operation: append into one partition, or atomically drop/rewrite one
  * partition directory. This is the layout that scales: on a cluster the
  * same code runs with `srvid` (+ a date bucket of `range_start` for the
  * history tier) as physical partition keys, so readback prunes partitions
  * before Parquet row-group min/max stats prune within them — replacing
  * the reference's GiST `(srvid, key, coalesce_range)` index
  * (powa--5.2.0.sql:2123).
  *
  * Mutation model: `*_src_tmp` drain and aggregate-then-delete become
  * partition rewrites. A rewrite is write-new + atomic pointer flip
  * (AtomicSwap — concurrent readers never observe an absent partition);
  * the aggregate's move of rows from `current` into `history` runs under
  * the commit protocol below (SURVEY.md §7.4 item 2).
  *
  * Session conf: the store writes one session setting, the MICROS
  * timestamp pin at construction. Per-tick writes (the ingest append
  * and the snapshot sinks) and the aggregate of a small cycle
  * ([[aggregateCycle]]) run with no code generation, on their own
  * thread only ([[tickCodegenScope]]); larger aggregates, the dimension
  * log folds, purge rewrites, compaction, the fleet write and every read
  * keep codegen, and queries planned on other threads of the same
  * session during a tick keep it too.
  */
final class Store(val spark: SparkSession, val root: String) {

  // Store write contract: timestamps are written as INT64
  // TIMESTAMP(MICROS), never legacy INT96 — INT96 chunks carry NO
  // parquet min/max statistics, which would blind both the manifest's
  // per-file range stats (AtomicSwap.writeManifest — planning-time file
  // skipping) and parquet row-group pruning on range readbacks. The
  // knob is conf-only (the per-write option is not honored by the
  // parquet write support) and must be a SESSION setting: the parquet
  // writer reads it from the session's own conf
  // (ParquetFileFormat.prepareWrite), not from a thread's SQLConf.get,
  // so it is pinned here, once, when the store is constructed — the
  // same explicit-side-effect pattern as
  // Tables.eventsRawSchemaPinNanosConf.
  spark.conf.set("spark.sql.parquet.outputTimestampType",
    "TIMESTAMP_MICROS")

  /** When true, snapshots count staged rows for the powa_log trace.
    * Off by default: the count is a Spark action per datasource per
    * tick, and the reference gates the same rowcount reporting behind
    * its debug GUC (powa--5.2.0.sql:1434). Engine flips it on when a
    * log sink is installed. */
  @volatile var traceRowcounts: Boolean = false

  /** Label the Spark jobs `body` launches (guide §1.5) and restore the
    * caller's label after — thread-local, so concurrent commit threads
    * label independently. Pure UI/diagnostics: perfbench's `--trace 1`
    * layer breakdown (its `store.*_job_ms` metrics group jobs by the
    * `store: <op>` prefix) and the Spark UI attribute the engine's many
    * small per-tick jobs by it. */
  private def labeled[T](desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body
    finally sc.setLocalProperty("spark.job.description", prev)
  }

  /** No code generation for the PER-TICK write paths: the ingest
    * append and every snapshot sink, the dimension logs' appends among
    * them. Each reads one tick's staged rows, small by cadence
    * construction, so interpreted execution costs O(tick rows) while
    * generated code costs janino time that recurs: per-tick plans embed
    * that tick's timestamp and batch literals, so their generated
    * source differs per tick (q34's 35-counter statements plans paid
    * ~1 s/query of pure compilation with whole-stage codegen on; the
    * dimension logs' per-tick ordinal compiled a projection class per
    * append with it off). In the scope a plain tick compiles no class.
    *
    * What reads more than one tick keeps codegen, unless its size is
    * known to be small: [[aggregateCycle]] enters the scope only for a
    * cycle of at most [[SmallCycleBytes]], because at PoWA's default
    * sizes (5,000 statements × 100 ticks) the aggregate runs several
    * times slower interpreted (SCALE.md, "The aggregate with no code
    * generation, by cycle size"). The dimension log folds ([[DimLog]])
    * read up to a whole cycle too and keep codegen; purge rewrites,
    * compaction, the fleet write (one job for the whole fleet) and every
    * read path grow with retention or with the fleet.
    *
    * Two settings, both confined to the calling thread:
    *   - planning runs under a clone of the session's SQL conf with
    *     whole-stage codegen off and `spark.sql.codegen.factoryMode`
    *     (`SQLConf.CODEGEN_FACTORY_MODE`) = NO_CODEGEN, installed as
    *     this thread's `SQLConf.get`, which `CollapseCodegenStages` and
    *     the expression factories (`CodeGeneratorWithInterpretedFallback`)
    *     read;
    *   - tasks read SQL confs from their job's local properties
    *     (`ReadOnlySQLConf`), and `SQLExecution.withSQLConfPropagated`
    *     copies into them only the keys the session's own conf holds,
    *     so the same key is also a SparkContext local property of this
    *     thread, restored after.
    * The session conf is never written. `factoryMode` is an internal
    * Spark conf, documented as a test fallback switch, and both halves
    * rest on how these Spark classes behave in the Spark version the
    * build pins (README, "Upgrading Spark"); EngineSpec pins both halves
    * of the confinement and the zero-compile plain tick. Spark's local
    * properties are inherited by threads created inside the scope (the
    * store creates none there), and a thread-local conf is not
    * inherited by pool threads, so a caller running units on
    * [[Parallel.map]] enters the scope inside each unit. */
  private[core] def tickCodegenScope[T](body: => T): T = {
    val factoryMode = "spark.sql.codegen.factoryMode"
    val tickConf = spark.sessionState.conf.clone()
    tickConf.setConfString("spark.sql.codegen.wholeStage", "false")
    tickConf.setConfString(factoryMode, "NO_CODEGEN")
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(factoryMode)
    sc.setLocalProperty(factoryMode, "NO_CODEGEN")
    try SQLConf.withExistingConf(tickConf)(body)
    finally sc.setLocalProperty(factoryMode, prev)
  }

  private def dir(ds: String, tier: String): Path = Paths.get(root, ds, tier)
  private def partDir(ds: String, tier: String, srvid: Int): Path =
    dir(ds, tier).resolve(s"srvid=$srvid")

  /** Session flag (`spark.graft.store.readV2`) routing every tier read —
    * whole-tier [[read]] and per-server [[readPartition]] alike —
    * through the DataSource V2 table instead of the hand-assembled
    * union/manifest scan. Row-identical by construction (V2SourceSpec
    * pins it on every layout); the difference is WHERE the work
    * happens: srvid pruning moves into scan planning (a pruned server
    * is never manifest-read) and execution is Spark-native columnar.
    * DEFAULT ON since round 8 — the measured-swap decision the A/B
    * bench justified (11 engine round-trips, V2 53.7 s vs V1 56.5 s,
    * per-query within noise both directions; NOTES.md). Set the conf
    * to false to fall back to the union/manifest scan. Read per call,
    * so a session can flip it mid-run for A/B measurement (Bench sets
    * it through SPARK_GRAFT_EXTRA_CONF). */
  private def useV2: Boolean =
    spark.conf.get("spark.graft.store.readV2", "true").toBoolean

  /** Read one tier across every server; empty-but-correctly-shaped frame
    * when absent. `schema` excludes srvid (re-added by the reader).
    *
    * The scan is assembled per partition, manifest-first (see
    * [[readPartition]]): each server resolves through its atomic
    * manifest when one exists, so multi-partition scans carry the same
    * no-list-vs-open guarantee as single-partition ones, and batch
    * appends (dot-prefixed subdirs a directory listing would hide) are
    * visible. The per-partition union costs nothing at execution: the
    * srvid column is a literal per branch, so a `WHERE srvid = ?`
    * filter constant-folds every other branch to an empty relation at
    * optimize time — planning-time partition pruning, the same work
    * the directory scan's PartitionFilters did. */
  def read(ds: String, tier: String, schema: StructType): DataFrame = {
    if (useV2) return readV2(ds, tier, schema)
    val srvids = listSrvids(ds, tier)
    if (srvids.isEmpty) {
      val dataFields = schema.fields.filterNot(_.name == "srvid")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(org.apache.spark.sql.types.StructField("srvid",
          org.apache.spark.sql.types.IntegerType) +: dataFields))
    } else
      srvids.map(n => readPartition(ds, tier, n, schema)).reduce(_.union(_))
  }

  /** Read a tier through the DataSource V2 table
    * (`graft.sources.v2.StoreV2`, format "graft-store") — row-identical
    * to [[read]], but srvid predicates are pushed into scan planning
    * (a pruned server's partition is never manifest-read) and the scan
    * is Spark-native columnar. Column order matches [[read]] (srvid
    * first). */
  def readV2(ds: String, tier: String, schema: StructType): DataFrame = {
    val dataFields = schema.fields.filterNot(_.name == "srvid")
    spark.read.format("graft-store")
      .option("root", root).option("ds", ds).option("tier", tier)
      .schema(schema).load()
      .select(col("srvid") +: dataFields.toSeq.map(f => col(f.name)): _*)
  }

  /** Visible srvid partitions of a tier (links or real dirs). */
  private def listSrvids(ds: String, tier: String): Seq[Int] = {
    val d = dir(ds, tier)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("srvid="))
        .flatMap(n => scala.util.Try(n.stripPrefix("srvid=").toInt).toOption)
        .toList.sorted
      finally s.close()
    }
  }

  /** Directory-listing read of ONE server's partition — the fallback
    * when no manifest exists (staging's hive-style appends, legacy
    * layouts). Sub-partition directories (`bucket=`) surface as extra
    * discovered columns and are projected away by the schema select. */
  private def readPartitionDir(ds: String, tier: String, srvid: Int,
      schema: StructType): DataFrame = {
    val dataFields = schema.fields.filterNot(_.name == "srvid")
    val p = partDir(ds, tier, srvid)
    val df =
      if (!Files.isDirectory(p))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(dataFields))
      else spark.read.schema(StructType(dataFields)).parquet(p.toString)
    df.select(org.apache.spark.sql.functions.lit(srvid).as("srvid") +:
      dataFields.toSeq.map(f => col(f.name)): _*)
  }

  /** Build the manifest-pinned frame from an already-read file list
    * (ONE atomic manifest read decides both the layout check and the
    * files actually opened — re-reading here would be a TOCTOU against
    * a concurrent republish). The srvid column is re-attached as a
    * literal, mirroring partition-column readback. */
  private def fromManifestFiles(files: Seq[Path], srvid: Int,
      schema: StructType): DataFrame = {
    val dataFields = schema.fields.filterNot(_.name == "srvid")
    val parquets = files.map(_.toString).filter(_.endsWith(".parquet"))
    val df =
      if (parquets.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(dataFields))
      else spark.read.schema(StructType(dataFields)).parquet(parquets: _*)
    df.select(org.apache.spark.sql.functions.lit(srvid).as("srvid") +:
      dataFields.toSeq.map(f => col(f.name)): _*)
  }

  /** Manifest-pinned read of ONE server's partition — the read path with
    * no list-vs-open window: the file list comes from one atomic
    * manifest read (AtomicSwap.manifestFiles), and the listed paths are
    * version-pinned immutable files, so a concurrent overwritePartition
    * cannot invalidate a query between planning and execution (the
    * directory path can, loudly — AtomicSwap's scaladoc). None when the
    * partition was never swap-written or was dropped. */
  def readPartitionManifest(ds: String, tier: String, srvid: Int,
      schema: StructType): Option[DataFrame] =
    AtomicSwap.manifestFiles(dir(ds, tier), s"srvid=$srvid")
      .map(fromManifestFiles(_, srvid, schema))

  /** Single-partition read, manifest-first — THE default read path for
    * every per-server tier scan (dims, current tiers, bucketed history
    * tiers alike): the file list comes from one atomic manifest read of
    * version-pinned immutable paths, so there is no list-vs-open window
    * against any concurrent mutation. Every mutation path now keeps the
    * manifest truthful — swaps publish at the flip, batch appends and
    * committed-aggregate promotions republish after their commit
    * rename, bucket drops republish-excluding before deferring the
    * physical delete — so a manifest, when present, IS the partition
    * (including an empty list for a legitimately empty partition).
    * Bucket directory columns are never needed on read (every history
    * schema carries range_start; the bucket is derived, not stored), so
    * nested bucket paths read fine against the plain schema. Only a
    * partition with no manifest at all (staging, a never-swapped legacy
    * layout) falls back to the directory scan + srvid filter. */
  def readPartition(ds: String, tier: String, srvid: Int,
      schema: StructType): DataFrame =
    if (useV2)
      // the srvid equality is consumed by the scan's pushFilters, so
      // only this server's partition is manifest-read at planning
      readV2(ds, tier, schema).filter(col("srvid") === srvid)
    else AtomicSwap.manifestFiles(dir(ds, tier), s"srvid=$srvid") match {
      case Some(files) => fromManifestFiles(files, srvid, schema)
      case None => readPartitionDir(ds, tier, srvid, schema)
    }

  /** The rows of `srvids` in a directory-layout tier (staging, which
    * collectors [[append]] to, one directory per server), pinned to the
    * files listed once, here: every frame derived from the result reads
    * exactly these files, so the sinks of one tick see one set of staged
    * rows however many times they scan it, while a collector keeps
    * appending. One server's frame is built as a manifest read's is;
    * with several, `srvid` comes from each file's partition directory.
    * Columns follow `schema`, srvid first. */
  def readStaged(ds: String, tier: String, srvids: Seq[Int],
      schema: StructType): DataFrame =
    srvids.map(id => id -> listParquet(partDir(ds, tier, id)))
      .filter(_._2.nonEmpty) match {
      case Seq() => fromManifestFiles(Nil, srvids.headOption.getOrElse(0), schema)
      case Seq((id, files)) => fromManifestFiles(files, id, schema)
      case listed =>
        val names = "srvid" +: schema.fieldNames.filterNot(_ == "srvid").toSeq
        spark.read.option("basePath", dir(ds, tier).toString)
          .schema(StructType(names.map(schema(_))))
          .parquet(listed.flatMap(_._2).map(_.toString): _*)
          .select(names.map(col): _*)
    }

  /** The parquet data files directly in `p`; none when it is absent. */
  private def listParquet(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.toList
      finally s.close()
    }

  /** Does this server have any data in the tier? A pure directory probe
    * — the orchestrator's fast path for skipping idle datasources
    * without launching a Spark job (the metadata-only partition-pruning
    * equivalent on a cluster catalog). */
  def hasPartition(ds: String, tier: String, srvid: Int): Boolean =
    Files.isDirectory(partDir(ds, tier, srvid))

  /** Append rows (must carry srvid) into the tier, one partition per srvid.
    * Any manifests on this tier are INVALIDATED first (cheap directory
    * scan, no Spark job): appended part files land inside the live
    * version directory through the symlink, so a published manifest
    * would keep listing only the pre-append files — a silent
    * missing-rows read. The delete runs BEFORE the parquet write so a
    * crash mid-append can never leave a stale manifest behind (the
    * failure mode is then a manifest-less directory fallback, which is
    * always complete — round-5 ADVICE); with the manifest gone,
    * readPartition falls back to the directory listing. Tiers that only
    * swaps and snapshot commits write (the dimensions among them) are
    * never appended here, so their manifests persist. */
  def append(ds: String, tier: String, df: DataFrame): Unit = {
    invalidateManifests(ds, tier)
    labeled(s"store: append $ds/$tier") {
      tickCodegenScope {
        df.write.mode("append").partitionBy("srvid")
          .parquet(dir(ds, tier).toString)
      }
    }
  }

  /** Single-server append with manifest-pinned visibility — the default
    * for the current tiers: the batch is written invisibly, committed
    * into the live version with ONE atomic rename, and the republished
    * manifest is what makes it readable (AtomicSwap.appendInto). `df`
    * must belong entirely to `srvid` and the caller must hold that
    * server's snapshot lock (every engine append site does). Unlike
    * [[append]], the partition's manifest stays valid throughout, so
    * concurrent readPartition readers see the complete pre-batch or
    * complete post-batch state — never a torn append, and never a
    * FileNotFound from a racing aggregate's partition drop (dropped
    * versions are retained one cycle — AtomicSwap.drop). */
  def appendPartition(ds: String, tier: String, srvid: Int,
      df: DataFrame): Unit =
    AtomicSwap.appendInto(dir(ds, tier), s"srvid=$srvid") { tmp =>
      labeled(s"store: appendPartition $ds/$tier srvid=$srvid") {
        df.drop("srvid").write.parquet(tmp.toString)
      }
    }

  /** Drop every published manifest on a tier whose live versions were
    * just mutated in place (appends). Pure filesystem ops. */
  private def invalidateManifests(ds: String, tier: String): Unit = {
    val d = dir(ds, tier)
    if (Files.isDirectory(d)) {
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".m_"))
        .toList.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  /** History-tier append with a second physical partition level: a month
    * bucket of `range_start` (srvid=N/bucket=YYYY-MM/). This is the
    * cluster layout — retention purges become whole-directory drops and
    * readback prunes entire months before Parquet stats are even
    * consulted (SCALE.md). */
  def appendBucketed(ds: String, tier: String, df: DataFrame): Unit = {
    invalidateManifests(ds, tier) // before the write — same hazard as append
    df.withColumn("bucket", date_format(col("range_start"), "yyyy-MM"))
      .write.mode("append").partitionBy("srvid", "bucket")
      .parquet(dir(ds, tier).toString)
  }

  /** Month buckets LOGICALLY present for one server: the physical
    * directory listing minus buckets doomed by a deferred drop (their
    * files are retained one cycle for pinned readers but they are
    * deleted data — re-listing them would make retention purge re-drop
    * forever). */
  def listBuckets(ds: String, tier: String, srvid: Int): Seq[String] = {
    val p = partDir(ds, tier, srvid)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val doomed = doomMarkers(ds, tier, srvid)
        .map { case (_, b) => b.stripPrefix("bucket=") }.toSet
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket="))
        .filterNot(doomed).toList.sorted
      finally s.close()
    }
  }

  /** Month buckets of one server's tier in which every row provably
    * ends before `cutoff`: each of the bucket's files has a manifest
    * `range_end` maximum below it. Retention purge may drop only these
    * whole — a coalesced range that starts in an earlier month can end
    * after the cutoff. A file without the stat (directory layout,
    * all-null column) proves nothing. One manifest read, no Spark job. */
  def bucketsEndingBefore(ds: String, tier: String, srvid: Int,
      cutoff: java.sql.Timestamp): Set[String] = {
    val cutoffUs = cutoff.getTime * 1000L // stats are µs; floor is safe
    val d = dir(ds, tier)
    AtomicSwap.manifestEntries(d, s"srvid=$srvid")
      .getOrElse(Seq.empty)
      .filter(_._1.toString.endsWith(".parquet"))
      .groupBy { case (p, _) => d.relativize(p).iterator().asScala
        .map(_.toString).find(_.startsWith("bucket=")) }
      .collect { case (Some(b), files)
          if files.forall(_._2.get("range_end").exists(_._2 < cutoffUs)) =>
        b.stripPrefix("bucket=") }
      .toSet
  }

  /** Public face of [[processDooms]] — the purge pass calls it at the
    * top of each tick so a bucket doomed last purge is physically
    * deleted this purge (one full cycle of retention, the same
    * contract as swap predecessor GC). */
  def processDoomedBuckets(ds: String, tier: String, srvid: Int): Unit =
    processDooms(ds, tier, srvid)

  // ---- deferred bucket drops (logical delete + one-cycle retention) --
  //
  // A physical bucket delete under a concurrent manifest-pinned reader
  // is a FileNotFound; the reference's MVCC keeps dropped rows visible
  // to in-flight snapshots. The bucket drop therefore happens in two
  // stages: (1) LOGICAL — republish the manifest without the bucket's
  // files (readers planning from now on never see them) and write a
  // doom marker naming (version dir, bucket); (2) PHYSICAL — the next
  // dropBucket on the same partition processes previous markers and
  // deletes the files, one purge cycle later. Markers name the exact
  // version directory they doomed, so a swap rewrite in between (which
  // may legitimately re-create the bucket in a new version) can never
  // be damaged — stale markers point into retained-or-GC'd old versions
  // and resolve to no-ops. Crash between republish and marker write
  // leaks the bucket's files until the version dies at the next swap —
  // a bounded storage leak, never a wrong or failed read.

  private def doomPrefix(srvid: Int) = s".doom_srvid=${srvid}__"

  private def doomMarkers(ds: String, tier: String,
      srvid: Int): Seq[(String, String)] = {
    val d = dir(ds, tier)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(doomPrefix(srvid)))
        .map(_.stripPrefix(doomPrefix(srvid)).split("__", 2))
        .collect { case Array(ver, bucket) => (ver, bucket) }.toList
      finally s.close()
    }
  }

  /** Physically delete previously-doomed buckets (their one-cycle
    * retention is over) and clear the markers. */
  private def processDooms(ds: String, tier: String, srvid: Int): Unit =
    doomMarkers(ds, tier, srvid).foreach { case (ver, bucket) =>
      deleteRecursively(dir(ds, tier).resolve(ver).resolve(bucket))
      Files.deleteIfExists(
        dir(ds, tier).resolve(doomPrefix(srvid) + ver + "__" + bucket))
    }

  /** Clear markers WITHOUT deleting data — after a swap or partition
    * drop the doomed files live only in a retained old version, which
    * dies wholesale at the next swap's GC. */
  private def clearDooms(ds: String, tier: String, srvid: Int): Unit =
    doomMarkers(ds, tier, srvid).foreach { case (ver, bucket) =>
      Files.deleteIfExists(
        dir(ds, tier).resolve(doomPrefix(srvid) + ver + "__" + bucket))
    }

  /** Exclusion filter for manifest republish: every doomed
    * (version, bucket) prefix, plus optionally one more being doomed
    * right now. */
  private def doomExclusion(ds: String, tier: String, srvid: Int,
      extra: Option[(String, String)] = None): String => Boolean = {
    val doomed = doomMarkers(ds, tier, srvid).toSet ++ extra
    rel => doomed.exists { case (ver, b) => rel.startsWith(s"$ver/$b/") }
  }

  /** Drop one month bucket — the O(1) arm of retention purge. On the
    * symlink layout this is the two-stage logical drop above; on a
    * legacy real-directory partition it is the plain recursive delete
    * (no manifest exists there, so no reader can be pinned to it). */
  def dropBucket(ds: String, tier: String, srvid: Int, bucket: String): Unit = {
    val link = s"srvid=$srvid"
    val d = dir(ds, tier)
    if (Files.isSymbolicLink(d.resolve(link))) {
      processDooms(ds, tier, srvid)
      val bucketDir = partDir(ds, tier, srvid).resolve(s"bucket=$bucket")
      if (Files.isDirectory(bucketDir)) {
        val ver = Files.readSymbolicLink(d.resolve(link))
          .getFileName.toString
        AtomicSwap.republish(d, link,
          doomExclusion(ds, tier, srvid, Some((ver, s"bucket=$bucket"))))
        Files.write(
          d.resolve(doomPrefix(srvid) + ver + "__" + s"bucket=$bucket"),
          Array.emptyByteArray)
      }
    } else
      deleteRecursively(partDir(ds, tier, srvid).resolve(s"bucket=$bucket"))
  }

  /** Replace a single server's partition with `df` (rows must all belong
    * to that srvid). Equivalent of `DELETE … WHERE srvid = ?; INSERT …`.
    * Cluster path: Delta `REPLACE WHERE` / dynamic partition overwrite.
    * `partitionCols` preserves sub-partitioning (e.g. history buckets).
    *
    * Concurrent-reader safety (the Delta-style pointer, done with the
    * filesystem's own atomic pointer): the new data is written into a
    * dot-prefixed VERSION directory (invisible to Spark reads), then the
    * visible `srvid=N` name — a SYMLINK to the live version — is flipped
    * with one atomic rename. A reader never observes an absent or
    * half-written partition; a reader that already resolved the old
    * version keeps reading it, because the previous version directory is
    * retained until the NEXT swap (one-version GC lag, the local
    * equivalent of Delta's vacuum retention). The only non-atomic moment
    * is the one-time conversion of a legacy real directory into the
    * symlink layout (two renames apart). */
  def overwritePartition(ds: String, tier: String, srvid: Int, df: DataFrame,
      partitionCols: Seq[String] = Nil): Unit = {
    AtomicSwap.replace(dir(ds, tier), s"srvid=$srvid") { vdir =>
      labeled(s"store: overwrite $ds/$tier srvid=$srvid") {
        val w = df.drop("srvid").write.mode("overwrite")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(vdir.toString)
      }
    }
    // doomed buckets lived in the now-predecessor version: the marker's
    // job (keep them out of the manifest) is done — the old version
    // dies wholesale at the next swap's GC, files included
    clearDooms(ds, tier, srvid)
  }

  /** Compact one server's partition: rewrite its accumulated batch/part
    * files into `targetFiles` files with one atomic swap — the
    * maintenance op for append-heavy current tiers, where every tick's
    * snapshotCommit lands one `.batch_` dir and up to `coalesce_seq`
    * (~100) of them pile up before the aggregate drains the tier. A
    * per-server tick writes ONE file per (server, tier) — its staged rows
    * are one partition (GenericDatasource.withStaged) — so the drift is
    * one file per tick, not one per collector ingest file. At
    * fleet scale that is the classic small-file problem (100 servers ×
    * 100 batches × several tiers), and the cluster form of this op is
    * Delta OPTIMIZE / Iceberg rewrite_data_files — invoked on a
    * maintenance cadence, not inside the write path. Rows are
    * unchanged, only layout; concurrent manifest-pinned readers finish
    * on the retained predecessor version exactly as with any swap.
    * Returns false — without launching a Spark job — when the
    * partition has no manifest (staging / legacy layouts, which other
    * processes may be appending to without the lock) or fewer than
    * `minFiles` data files. Like every mutator, assumes the caller
    * holds the server's snapshot lock: an unlocked concurrent append
    * between the pinned read and the swap would be lost. Files of
    * logically-dropped (doomed) buckets are already absent from the
    * pinned manifest, so compaction also physically ages them out —
    * their markers become stale no-ops and are cleared. `bucketed`
    * re-derives the month-bucket directory level for history tiers. */
  def compactPartition(ds: String, tier: String, srvid: Int,
      schema: StructType, targetFiles: Int = 1, minFiles: Int = 2,
      bucketed: Boolean = false): Boolean =
    AtomicSwap.manifestFiles(dir(ds, tier), s"srvid=$srvid") match {
      case Some(files)
          if files.count(_.toString.endsWith(".parquet")) >= minFiles =>
        val df = fromManifestFiles(files, srvid, schema)
          .coalesce(targetFiles)
        if (bucketed)
          overwritePartition(ds, tier, srvid,
            df.withColumn("bucket",
              date_format(col("range_start"), "yyyy-MM")),
            partitionCols = Seq("bucket"))
        else overwritePartition(ds, tier, srvid, df)
        true
      case _ => false
    }

  /** Drop one server's partition — `DELETE FROM … WHERE srvid = ?`
    * (e.g. staging drain powa--5.2.0.sql:4102-4104, reset :6359-6429).
    * Removes the live pointer first (readers stop seeing the partition
    * atomically); on the symlink layout the dropped version is RETAINED
    * one cycle for manifest-pinned in-flight readers (GC'd at the next
    * replace/drop — AtomicSwap.drop), while legacy real directories
    * (staging, whose only reader is the lock-holding snapshot) delete
    * immediately. */
  def dropPartition(ds: String, tier: String, srvid: Int): Unit = {
    AtomicSwap.drop(dir(ds, tier), s"srvid=$srvid", retainNewest = true)
    clearDooms(ds, tier, srvid)
  }

  // ---- atomic aggregate commit --------------------------------------
  //
  // The reference's aggregate runs `INSERT INTO history … ; DELETE FROM
  // current …` inside ONE transaction (powa--5.2.0.sql:6047-6055). A
  // bare appendBucketed + dropPartition pair leaves a crash window in
  // which history holds the coalesced rows while current still holds the
  // raw ones — a re-run would aggregate current again and DUPLICATE
  // history. The commit protocol below restores exactly-once:
  //
  //   1. write the coalesced rows into a dot-prefixed INFLIGHT directory
  //      inside the history tier (invisible to every Spark read);
  //   2. atomically rename INFLIGHT → COMMITTED — this single rename is
  //      the commit point;
  //   3. drop the current partition (its rows are now represented by the
  //      committed coalesce);
  //   4. move the committed month buckets into the visible history
  //      partition; 5. delete the committed dir.
  //
  // Recovery is deterministic from on-disk state alone, regardless of
  // what `current` contains: an INFLIGHT dir means the commit point was
  // never reached → ROLL BACK (delete inflight; current is untouched and
  // the next aggregate redoes the work); a COMMITTED dir means the
  // commit happened → ROLL FORWARD (drop whatever is left of current,
  // finish the moves). Roll-forward may drop current only because every
  // path that adds NEW rows to a current tier resolves pending commits
  // first (GenericDatasource.recoverPending at snapshot start, recover()
  // at engine start, and aggregateCommit itself): whenever a COMMITTED
  // marker exists, current can hold only rows that commit already
  // coalesced. Without that ordering a transient promote failure
  // followed by fresh snapshots would make roll-forward lossy (round-2
  // ADVICE). On a cluster the same protocol is a Delta/Iceberg
  // transactional REPLACE; here it is the filesystem form.

  private def inflightDir(ds: String, histTier: String, srvid: Int): Path =
    dir(ds, histTier).resolve(s".inflight_srvid=$srvid")
  private def committedDir(ds: String, histTier: String, srvid: Int): Path =
    dir(ds, histTier).resolve(s".committed_srvid=$srvid")

  /** Aggregate one server's cycle: read its `curTier` partition with
    * `schema`, coalesce it with `coalesce` and commit the result into
    * `histTier` ([[aggregateCommit]]). The path follows the cycle's
    * size, read from the partition's file bytes (a directory walk, no
    * Spark job). A cycle of at most [[SmallCycleBytes]] is read as ONE
    * partition, so the coalesce's group-by runs in one task with no
    * exchange, and written with no code generation
    * ([[tickCodegenScope]]): one aggregate's generated classes outnumber
    * Spark's codegen cache, so with codegen every cycle recompiles them,
    * which costs more than the work at cadence sizes. A larger cycle
    * keeps the partitioned, generated path, which interpreted execution
    * loses to from about ten thousand rows (SCALE.md, "The aggregate
    * with no code generation, by cycle size"). */
  def aggregateCycle(ds: String, curTier: String, histTier: String,
      srvid: Int, schema: StructType)(coalesce: DataFrame => DataFrame): Unit = {
    val cur = readPartition(ds, curTier, srvid, schema)
    if (partitionBytes(ds, curTier, srvid) > SmallCycleBytes)
      aggregateCommit(ds, curTier, histTier, srvid, coalesce(cur))
    else tickCodegenScope(
      aggregateCommit(ds, curTier, histTier, srvid, coalesce(cur.coalesce(1))))
  }

  /** The largest cycle, in parquet bytes, that [[aggregateCycle]] runs
    * in one task with no code generation. One server's statements
    * aggregate (35 counters) written in one piece, 4 cores: at 5,000
    * rows (0.8 MB) interpreted costs what warm generated code does and
    * less than generated code the cache has evicted; at 10,000 rows
    * (1.6 MB) it lies between the two; at 20,000 (3.2 MB) it loses to
    * both (SCALE.md). A cycle written tick by tick carries one parquet
    * footer per tick, so the same bytes hold fewer rows. */
  private val SmallCycleBytes = 1L << 20

  /** Parquet bytes in one server's live partition of a tier. */
  private def partitionBytes(ds: String, tier: String, srvid: Int): Long =
    AtomicSwap.liveTarget(dir(ds, tier), s"srvid=$srvid") match {
      case Some(v) =>
        val s = Files.walk(v)
        try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(Files.size(_)).sum
        finally s.close()
      case None => 0L
    }

  /** Atomically replace `current(srvid)` with its coalesced form appended
    * into the bucketed `histTier`. `df` must carry `range_start` (for the
    * month bucket) and belong entirely to `srvid`. */
  def aggregateCommit(ds: String, curTier: String, histTier: String,
      srvid: Int, df: DataFrame): Unit = {
    recoverAggregate(ds, curTier, histTier, srvid) // resolve any stale run
    val inflight = inflightDir(ds, histTier, srvid)
    labeled(s"store: aggregate $ds/$curTier->$histTier srvid=$srvid") {
      df.drop("srvid")
        .withColumn("bucket", date_format(col("range_start"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(inflight.toString)
    }
    Files.move(inflight, committedDir(ds, histTier, srvid),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE) // commit point
    dropPartition(ds, curTier, srvid)
    promoteCommitted(ds, histTier, srvid)
  }

  /** Steps 4–5: move committed buckets into the visible partition. File
    * moves are idempotent by name (Spark part files carry a UUID), so a
    * crashed promotion can simply be re-run. The partition is given the
    * symlink layout first (moves resolve through the link into the live
    * version), and the manifest is republished at the end so pinned
    * readers pick the promoted rows up — until then they read the
    * complete pre-promotion state. */
  private def promoteCommitted(ds: String, histTier: String, srvid: Int): Unit = {
    val inflight = committedDir(ds, histTier, srvid)
    if (!Files.isDirectory(inflight)) return
    // resolve pending bucket dooms FIRST: promoting new files into a
    // still-doomed bucket directory would put them under the doom
    // exclusion (silently invisible) and the deferred delete would
    // destroy them. Cutting the doomed bucket's retention short here is
    // within contract — the doom and this promote are two mutations.
    processDooms(ds, histTier, srvid)
    AtomicSwap.ensureLayout(dir(ds, histTier), s"srvid=$srvid")
    val dst = partDir(ds, histTier, srvid)
    val children = Files.list(inflight)
    try children.iterator().asScala.toList.foreach { b =>
      val bn = b.getFileName.toString
      if (bn.startsWith("bucket=")) {
        val bdst = dst.resolve(bn)
        if (!Files.isDirectory(bdst)) {
          Files.createDirectories(bdst.getParent)
          Files.move(b, bdst)
        } else {
          val parts = Files.list(b)
          try parts.iterator().asScala.toList
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .foreach { f =>
              Files.move(f, bdst.resolve(f.getFileName),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            }
          finally parts.close()
        }
      }
    } finally children.close()
    deleteRecursively(inflight)
    AtomicSwap.republish(dir(ds, histTier), s"srvid=$srvid",
      doomExclusion(ds, histTier, srvid))
  }

  /** Resolve one (possibly crashed) aggregate: roll back if the commit
    * point was not reached, roll forward if it was — unambiguous from the
    * marker alone, whatever `current` contains. Pure directory probes
    * when nothing is pending — safe to call every tick. */
  def recoverAggregate(ds: String, curTier: String, histTier: String,
      srvid: Int): Unit = {
    // uncommitted write → roll back; the raw rows in current are intact
    if (Files.isDirectory(inflightDir(ds, histTier, srvid)))
      deleteRecursively(inflightDir(ds, histTier, srvid))
    // committed → roll forward; current (if anything is left of it) holds
    // only rows this commit coalesced — see the protocol invariant above
    if (Files.isDirectory(committedDir(ds, histTier, srvid))) {
      dropPartition(ds, curTier, srvid)
      promoteCommitted(ds, histTier, srvid)
    }
  }

  /** All srvids with an unresolved (inflight or committed) aggregate in
    * `histTier`. */
  def inflightSrvids(ds: String, histTier: String): Seq[Int] = {
    val d = dir(ds, histTier)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect {
          case n if n.startsWith(".inflight_srvid=") =>
            n.stripPrefix(".inflight_srvid=").toInt
          case n if n.startsWith(".committed_srvid=") =>
            n.stripPrefix(".committed_srvid=").toInt
        }.toList.distinct
      finally s.close()
    }
  }

  // ---- atomic snapshot commit ---------------------------------------
  //
  // The reference's snapshot runs `INSERT INTO current …; DELETE FROM
  // staging` inside powa_take_snapshot's single transaction
  // (powa--5.2.0.sql:1406-1488, :4102-4104). A bare appendPartition +
  // dropPartition(staging) pair leaves a crash window in which current
  // already holds the appended records while staging still holds the
  // rows that produced them — the tick RETRY would append them again
  // (duplicated records, doubled sums after the next aggregate). Same
  // discipline as the aggregate commit protocol:
  //
  //   1. write every sink's batch into a dot-prefixed STAGE directory
  //      inside its tier (invisible to every read path): ONE Spark job
  //      for all of a datasource's sinks, whose tasks write parquet
  //      straight into the stage dirs and report the files they wrote;
  //      any other file found there afterwards is deleted, so only
  //      files a successful task attempt reported can promote;
  //   2. create the COMMIT marker directory — one atomic
  //      createDirectory is the commit point;
  //   3. drop the staging partition (the inputs are now represented by
  //      the staged batches);
  //   4. promote each staged batch into its tier's live version with
  //      ONE rename and republish the manifest; 5. delete the marker.
  //
  // Recovery is unambiguous from the marker alone: ABSENT → roll back
  // (delete stage dirs; staging is intact and the retry re-derives
  // everything — the reference-equivalent "transaction rolled back,
  // rerun at a later now()"); PRESENT → roll forward (drop staging,
  // promote what remains, delete the marker). Promotion is idempotent:
  // each stage dir moves at most once and republish is a pure re-walk.
  // The statements and qualstats dimensions are append-only logs
  // (DimLog) whose per-tick batch is one more sink, INSIDE the marker:
  // a rolled-back tick leaves no dimension row, and its retry stamps
  // the retry's own now() — exactly what rerunning the reference's
  // transaction (MRU update and quals insert included,
  // powa--5.2.0.sql:4025-4044, :7126-7143) does.

  private def snapStagePrefix(ds: String, tier: String): String =
    dir(ds, tier).resolve(".snapstage_srvid=").toString
  private def snapStageDir(ds: String, tier: String, srvid: Int): Path =
    Paths.get(snapStagePrefix(ds, tier) + srvid)
  private def snapMarker(ds: String, srvid: Int): Path =
    Paths.get(root, ds, s".snapcommit_srvid=$srvid")

  /** Atomically land a snapshot's sink batches and drain its staging
    * partition — the tick's second transaction boundary. Each (tier,
    * df) in `sinks` is appended to that tier's `srvid` partition (a
    * dimension log's batch is one of them); either ALL of them land and
    * staging drains, or none do. Every sink frame carries `srvid`, and
    * all of its rows belong to this server. The caller holds the
    * server's snapshot lock.
    *
    * The sinks are planned on the calling thread and written by one
    * Spark job ([[writeStages]]), all inside [[tickCodegenScope]]; the
    * commit marker is created only after the job returns, so a failure
    * anywhere rolls the tick back (stage dirs are swept by the next
    * recoverSnapshot). */
  def snapshotCommit(ds: String, stagingTier: String, srvid: Int,
      sinks: Seq[(String, DataFrame)]): Unit = {
    recoverSnapshot(ds, stagingTier, srvid) // resolve any stale run
    labeled(s"store: snapshot $ds srvid=$srvid") {
      tickCodegenScope(writeStages(ds, Seq(srvid), sinks))
    }
    commitStaged(ds, stagingTier, srvid)
  }

  /** Step 1 for every server in `srvids`: one Spark job over the union
    * of the sinks' physical RDDs, one task per sink partition, each
    * task writing its rows with [[StoreDataWriter]] into
    * `<tier>/.snapstage_srvid=N/` — one file per (task, server), no
    * output committer, no `_SUCCESS`. A task returns the files it wrote,
    * and the job's results hold those of successful attempts only;
    * afterwards every other file in the stage dirs (a failed or
    * duplicate attempt's, or any stray) is deleted, the rule of
    * `StoreBatchWrite.commit`. An attempt still running when the job
    * returns is not fenced off: this assumes Spark's default of no
    * speculative execution.
    *
    * Each sink's RDD is `executedPlan.execute()`, not
    * `QueryExecution.toRdd`: `toRdd` wraps it in `SQLExecutionRDD`, whose
    * tasks re-install the session's SQL conf, which never holds the
    * scope's `factoryMode`, and would generate code. The job runs under
    * `SQLExecution.withSQLConfPropagated`, so its tasks read the
    * session's own SQL settings as an SQL execution's do, plus the
    * thread's local properties. */
  private def writeStages(ds: String, srvids: Seq[Int],
      sinks: Seq[(String, DataFrame)]): Unit = {
    val sqlKv = StoreDataWriter.sqlConf(spark.sessionState.conf)
    val ids = srvids.toSet
    // several servers: each task writes its rows sorted by srvid, one
    // file open at a time, as the V1 partitioned write does
    val sorted = srvids.size > 1
    val writes = sinks.map { case (tier, df) =>
      val sink = Store.StageSink(tier, snapStagePrefix(ds, tier), df.schema,
        df.schema.fieldIndex("srvid"), ids, sqlKv, sorted)
      val plan = if (sorted) df.sortWithinPartitions("srvid") else df
      // planned afresh here, inside the caller's scope, as a write would
      spark.sessionState.executePlan(plan.queryExecution.analyzed)
        .executedPlan.execute()
        .mapPartitions(rows => Iterator(Store.writeStage(sink, rows)))
    }
    val reported = SQLExecution.withSQLConfPropagated(
        org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)) {
      spark.sparkContext.union(writes).collect()
    }.flatten.groupMap(f => (f._1, f._2))(f => Paths.get(f._3).getFileName.toString)
    for (tier <- sinks.map(_._1).distinct; id <- srvids) {
      val d = snapStageDir(ds, tier, id)
      if (Files.isDirectory(d)) {
        val keep = reported.getOrElse((tier, id), Array.empty[String]).toSet
        val s = Files.list(d)
        val other =
          try s.iterator().asScala.filterNot { f =>
            val n = f.getFileName.toString
            keep(n) || keep(n.stripPrefix(".").stripSuffix(".crc"))
          }.toList
          finally s.close()
        if (keep.isEmpty) deleteRecursively(d)
        else other.foreach(deleteRecursively)
      }
    }
  }

  /** Steps 2-5 for one server whose stage dirs are written: marker,
    * staging drain, promotion, unmark. */
  private def commitStaged(ds: String, stagingTier: String,
      srvid: Int): Unit = {
    Files.createDirectory(snapMarker(ds, srvid)) // commit point
    dropPartition(ds, stagingTier, srvid)
    promoteSnapshot(ds, srvid)
    Files.deleteIfExists(snapMarker(ds, srvid))
  }

  /** Snapshot batches promoted into the live version of one server's
    * tier partition since a swap last rewrote it — a directory listing,
    * no Spark job. [[DimLog]] orders its batches by this count. */
  def batchCount(ds: String, tier: String, srvid: Int): Int =
    AtomicSwap.liveTarget(dir(ds, tier), s"srvid=$srvid") match {
      case Some(v) =>
        val s = Files.list(v)
        try s.iterator().asScala
          .count(_.getFileName.toString.startsWith(".batch_"))
        finally s.close()
      case None => 0
    }

  /** Tiers holding an unpromoted snapshot stage dir for this server. */
  private def snapStageTiers(ds: String, srvid: Int): Seq[String] = {
    val base = Paths.get(root, ds)
    if (!Files.isDirectory(base)) Seq.empty
    else {
      val s = Files.list(base)
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).filterNot(_.startsWith("."))
        .filter(t => Files.isDirectory(snapStageDir(ds, t, srvid)))
        .toList.sorted
      finally s.close()
    }
  }

  /** Steps 4-5: one rename moves each staged batch into its tier's live
    * version (same commit shape as AtomicSwap.appendInto), then the
    * republished manifest makes it readable. */
  private def promoteSnapshot(ds: String, srvid: Int): Unit =
    snapStageTiers(ds, srvid).foreach { tier =>
      val parent = dir(ds, tier)
      AtomicSwap.ensureLayout(parent, s"srvid=$srvid")
      val v = AtomicSwap.liveTarget(parent, s"srvid=$srvid").get
      Files.move(snapStageDir(ds, tier, srvid),
        v.resolve(s".batch_${java.util.UUID.randomUUID}"))
      // doom-aware like promoteCommitted: sink tiers carry no doom
      // markers today, but a bare republish here would resurrect a
      // logically-dropped bucket if one ever did
      AtomicSwap.republish(parent, s"srvid=$srvid",
        doomExclusion(ds, tier, srvid))
    }

  // ---- fleet snapshot commit ----------------------------------------
  //
  // The per-(server, datasource) snapshotCommit launches one Spark job
  // PER SERVER: at 10k active servers × 23 datasources a fully-staged
  // tick is ~230k driver-scheduled jobs — a driver-side scheduling
  // bottleneck, not a data one (guide §2/§5: the work per job is tiny;
  // the cost is the job itself). The fleet form writes EVERY staged
  // server's batches with the same one job per datasource
  // ([[writeStages]]): its tasks sort their rows by srvid and write
  // them straight into each server's stage dirs, one file open at a
  // time (an open parquet writer per server a task meets took 3-5x the
  // heap at 1000 servers, SCALE.md). Then the UNCHANGED per-server commit protocol
  // runs over pure filesystem ops: per server marker → drain → promote →
  // unmark. Crash semantics are exactly the per-server protocol's: a
  // crash before a server's marker rolls that server back (stage dirs
  // swept, staging intact, retry re-derives), a crash after rolls it
  // forward — servers are independent, some may land and some roll
  // back, which is precisely what N sequential commits interrupted at
  // the same instant would leave.

  /** Fleet variant of [[snapshotCommit]]: land MANY servers' sink
    * batches with one Spark job, then the per-server commit protocol
    * (filesystem-only) unchanged. Each `sinks` frame carries `srvid`;
    * every server in `srvids` is committed independently — marker,
    * staging drain, promote — so crash recovery per server is identical
    * to the sequential path's. The write keeps code generation: its
    * size grows with the fleet. Callers hold every listed server's
    * snapshot lock. */
  def snapshotCommitFleet(ds: String, stagingTier: String,
      srvids: Seq[Int], sinks: Seq[(String, DataFrame)]): Unit = {
    if (srvids.isEmpty) return
    srvids.foreach(recoverSnapshot(ds, stagingTier, _))
    labeled(s"store: snapshot $ds servers=${srvids.size}") {
      writeStages(ds, srvids, sinks)
    }
    // The per-server commit protocol, UNCHANGED in shape, on
    // Parallel.map: each server's marker → drain → promote → unmark
    // touches only srvid-scoped paths (stage dir, marker dir, staging
    // partition link, live version link, doom markers, manifest file),
    // so servers commit independently — the same independence the
    // crash-recovery contract already relies on. Measured: the
    // sequential loop was ~35 ms/server of driver FS ops, i.e. 35 s of
    // the 1000-server fleet tick. A server skipped after a
    // failure keeps its stage dir without a marker, which the next
    // recoverSnapshot rolls back, as after a crash mid-loop.
    Parallel.map(srvids,
        math.min(32, Runtime.getRuntime.availableProcessors())) { id =>
      commitStaged(ds, stagingTier, id)
    }
  }

  /** Sweep `.snapfleet_*` temp dirs that the fleet write of older
    * builds (a `partitionBy("srvid")` write into a temp dir, then moves)
    * left behind when it crashed — dot-prefixed (invisible to all
    * readers), so this is pure hygiene, called from engine recovery. */
  def cleanFleetStages(ds: String): Unit = {
    val base = Paths.get(root, ds)
    if (!Files.isDirectory(base)) return
    val tiers = {
      val s = Files.list(base)
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .filterNot(_.getFileName.toString.startsWith(".")).toList
      finally s.close()
    }
    tiers.foreach { t =>
      val s = Files.list(t)
      val stale =
        try s.iterator().asScala
          .filter(_.getFileName.toString.startsWith(".snapfleet_")).toList
        finally s.close()
      stale.foreach(deleteRecursively)
    }
  }

  /** Resolve a (possibly crashed) snapshot commit — safe to call every
    * tick; pure directory probes when nothing is pending. */
  def recoverSnapshot(ds: String, stagingTier: String, srvid: Int): Unit =
    if (Files.isDirectory(snapMarker(ds, srvid))) {
      dropPartition(ds, stagingTier, srvid)
      promoteSnapshot(ds, srvid)
      Files.deleteIfExists(snapMarker(ds, srvid))
    } else snapStageTiers(ds, srvid)
      .foreach(t => deleteRecursively(snapStageDir(ds, t, srvid)))

  /** All srvids with an unresolved snapshot commit (marker or orphan
    * stage dir) in this datasource — the engine-start recovery scan. */
  def snapshotPendingSrvids(ds: String): Seq[Int] = {
    val base = Paths.get(root, ds)
    if (!Files.isDirectory(base)) Seq.empty
    else {
      def ids(d: Path, prefix: String): Seq[Int] =
        if (!Files.isDirectory(d)) Seq.empty
        else {
          val s = Files.list(d)
          try s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith(prefix))
            .flatMap(n => scala.util.Try(
              n.stripPrefix(prefix).toInt).toOption).toList
          finally s.close()
        }
      val markers = ids(base, ".snapcommit_srvid=")
      val s = Files.list(base)
      val staged =
        try s.iterator().asScala.filter(Files.isDirectory(_))
          .filterNot(_.getFileName.toString.startsWith("."))
          .flatMap(t => ids(t, ".snapstage_srvid=")).toList
        finally s.close()
      (markers ++ staged).distinct
    }
  }

  private def deleteRecursively(p: Path): Unit =
    AtomicSwap.deleteRecursively(p)
}

object Store {
  /** One sink of a tick's write job, as its tasks see it: the stage
    * directory of server N is `dirPrefix + N`. */
  private final case class StageSink(tier: String, dirPrefix: String,
      schema: StructType, srvidIdx: Int, srvids: Set[Int],
      sqlKv: Seq[(String, String)], sortedBySrvid: Boolean)

  /** The task side of [[Store.writeStages]]: write one partition of a
    * sink and return (tier, srvid, path) of each file written; a failed
    * task deletes its files. */
  private def writeStage(sink: StageSink,
      rows: Iterator[InternalRow]): Seq[(String, Int, String)] = {
    val ctx = TaskContext.get()
    val w = new StoreDataWriter(sink.dirPrefix, sink.schema, sink.srvidIdx,
      ctx.partitionId(), ctx.taskAttemptId(), sink.sqlKv, Some(sink.srvids),
      sink.sortedBySrvid)
    try {
      rows.foreach(w.write)
      w.commit().asInstanceOf[StoreCommitMessage].files
        .map { case (id, path) => (sink.tier, id, path) }
    } catch { case t: Throwable => w.abort(); throw t }
  }
}
