package graft.core

import java.nio.file.{Files, Path}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** Atomic directory replacement for concurrent readers — the Delta-style
  * "manifest points at the live version" pattern done with the
  * filesystem's own atomic pointer (SURVEY.md §7.4 item 2; round-2
  * VERDICT item 4).
  *
  * The visible name (`srvid=N`, `dbid=M`, …) is a SYMLINK to a
  * dot-prefixed version directory next to it (`.v000007_srvid=N`).
  * Replacement writes the new version beside the old one — dot-prefixed
  * names are invisible to Spark's file listing — then flips the symlink
  * with a single atomic rename.
  *
  * Reader guarantee: every read observes exactly one complete version —
  * never an absent, empty, or mixed partition, which were all
  * silent-wrong-answer windows of the previous delete-then-move swap (a
  * recursive delete is arbitrarily long).
  *
  * TWO read paths, by how the listing happens:
  *   - Directory listing through the symlink (Spark's default partition
  *     discovery). Residual window, LOUD not silent: a query that
  *     listed files before a flip and opens them after it fails with
  *     FileNotFoundException and succeeds on retry — the
  *     plan-vs-execute race every non-transactional table format has.
  *   - MANIFEST read ([[manifestFiles]] / Store.readPartitionManifest):
  *     each flip also publishes `.m_<linkName>` — one atomically
  *     replaced file naming the live version and its full file list —
  *     so "listing" is a single atomic read of version-pinned immutable
  *     paths and the list-vs-open race does not exist (SwapSpec drives
  *     a tight-loop reader across 100 concurrent swaps with zero
  *     FileNotFound). The remaining caveat is retention, not atomicity:
  *     a read must finish within one full swap cycle (the predecessor
  *     version outlives exactly one more swap) — the same vacuum-
  *     retention contract Delta/Iceberg document, at a 300 s production
  *     cadence effectively unbounded.
  * The immediate predecessor version is retained until the next swap so
  * in-flight readers (either path) finish undisturbed. On a cluster
  * object store this whole object is replaced by a Delta/Iceberg
  * manifest commit — the mutation protocol is identical, the pointer
  * medium changes.
  */
object AtomicSwap {

  private def versionName(ver: Long, linkName: String): String =
    f".v$ver%06d_$linkName"
  private def suffix(linkName: String) = s"_$linkName"
  private def manifestName(linkName: String): String = s".m_$linkName"

  /** Columns whose per-file min/max are published in the manifest —
    * the readback range keys, so a scan can skip whole files at
    * PLANNING time (the Spark analogue of the reference's GiST
    * `(srvid, queryid, coalesce_range)` index, powa--5.2.0.sql:2123:
    * the index prunes by range before any page is read; here the
    * manifest prunes by range before any file is opened).
    * `range_start`/`range_end` serve the history tier;
    * `record.ts` the current tier and `ts` staging — the current-side
    * analogue of the reference's `*_current (srvid, ts)` btree
    * (powa--5.2.0.sql:2150); `cell` the store-resident IVF index tier
    * (Similarity.saveIvfIndexStore lays files out by cell range, so a
    * probe's `cell IN (...)` opens only its cells' files). THE single
    * definition: the DSv2 scan (StoreScan) references this set, so
    * publisher and skipper can never drift apart (round-9 ADVICE). */
  val statCols: Set[String] = Set("range_start", "range_end",
    "ts", "record.ts", "cell")

  /** Manifest format version, stamped in the header. Readers REJECT a
    * newer version loudly instead of mis-parsing it silently (round-9
    * ADVICE: a pre-stats reader fed suffixed path lines dropped files
    * silently — a format fence makes every future change loud). */
  private[core] val ManifestFormat = 2

  /** ONE Hadoop conf for every footer read. `new Configuration()`
    * re-parses core-default.xml/core-site.xml from the classpath on
    * EVERY construction (Hadoop has no cross-instance parse cache), and
    * the old per-file construction made each manifest publish pay an
    * XML parse + jar classpath scan per new parquet file — pure
    * driver-side syscall overhead on every commit (optimization guide
    * §5: the driver should do almost no work; observed as a
    * sys-call-dominated driver profile with `Configuration.loadResource`
    * hot in thread dumps). The footer-read path only ever READS the
    * conf (ParquetFileReader wraps it in HadoopReadOptions), and
    * Configuration reads are synchronized internally, so one shared
    * instance is safe. */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Per-file min/max of the [[statCols]] INT64 chunks, from the
    * parquet footer; None when the footer cannot be read. A column
    * qualifies only when EVERY row group carries valid statistics for
    * it (all-null groups are safe — a range predicate never matches
    * null); a file without any qualifying column yields an empty map,
    * which readers treat as "cannot skip". Stats are an optimization:
    * this never fails a commit. */
  private def parquetRangeStats(
      file: Path): Option[Map[String, (Long, Long)]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), footerConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val acc = scala.collection.mutable.Map[String, (Long, Long)]()
        val bad = scala.collection.mutable.Set[String]()
        r.getFooter.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            val name = c.getPath.toDotString
            if (statCols(name) &&
                c.getPrimitiveType.getPrimitiveTypeName ==
                  PrimitiveTypeName.INT64) {
              val st = c.getStatistics
              if (st == null || st.isEmpty) bad += name
              else if (st.hasNonNullValue) {
                val mn = st.genericGetMin.asInstanceOf[java.lang.Long]
                  .longValue
                val mx = st.genericGetMax.asInstanceOf[java.lang.Long]
                  .longValue
                acc(name) = acc.get(name) match {
                  case Some((a, z)) => (math.min(a, mn), math.max(z, mx))
                  case None => (mn, mx)
                }
              }
            }
          }
        }
        Some((acc -- bad).toMap)
      } finally r.close()
    } catch { case _: Throwable => None }
  }

  /** Pseudo-entry of a file whose footer was read and holds no stat
    * column: a known absence, carried forward like real stats. */
  private val NoStats = Map("_nostats" -> (0L, 0L))

  /** Publish the manifest for the freshly flipped version.
    *
    * Line format (v2): header line = version dir name + tab-separated
    * `graft.manifest=<version>` and `stats=<col,col,…>` markers; then
    * every regular file as a VERBATIM parent-relative path (minus any
    * `exclude`d paths — the logical-delete hook for deferred bucket
    * drops); then one stats line per parquet file that has stats,
    * `\t<path>\t<col>=<min>:<max>…` — LEADING tab, so a path-only
    * reader (`parent.resolve(line)` + `.endsWith(".parquet")`) sees a
    * non-parquet non-path and ignores it: path lines stay verbatim
    * across format revisions, and only the stats sidecar evolves
    * (round-9 ADVICE — the r9 format suffixed stats onto path lines,
    * which a pre-stats reader silently dropped as files).
    *
    * Footer reads are INCREMENTAL: stats for paths already listed in
    * the previous manifest (same format, same stat-column set) are
    * carried forward, so a batch append opens only the new batch's
    * footers, not O(history) per commit (round-9 ADVICE).
    *
    * Written to a temp name and atomically renamed over the old
    * manifest — readers see the old complete list or the new one,
    * never a partial write. */
  private def writeManifest(parent: Path, linkName: String,
      vdir: Path, exclude: String => Boolean = _ => false): Unit = {
    val files = {
      val s = Files.walk(vdir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => parent.relativize(p).toString).filterNot(exclude)
        .toList.sorted
      finally s.close()
    }
    val statsMarker = s"stats=${statCols.toSeq.sorted.mkString(",")}"
    // carry-forward source: the previous manifest, but ONLY when it was
    // written by this exact format + stat-column set — a widened column
    // set must re-read every footer once, never inherit its absence
    val prev: Map[String, Map[String, (Long, Long)]] =
      readManifestRaw(parent, linkName) match {
        case Some((header, entries))
            if header.contains(s"graft.manifest=$ManifestFormat") &&
              header.contains(statsMarker) =>
          entries.toMap
        case _ => Map.empty
      }
    val statLines = files.flatMap { rel =>
      if (!rel.endsWith(".parquet")) None
      else {
        // Carry-forward is keyed on (relative path, FILE SIZE, MTIME):
        // every stats line records the file's byte length and
        // modification time under the reserved `_len` / `_mtime`
        // pseudo-columns (same kv syntax; readers strip them —
        // manifestEntries), and stats from the previous manifest are
        // reused only when BOTH match the current listing. Path alone
        // was unsound against a future writer rewriting a path in
        // place (compaction reusing a name; round-10 ADVICE), and
        // (path, length) alone was still unsound against a same-length
        // in-place rewrite — plausible for fixed-width re-encodes —
        // which would inherit stale min/max and mis-skip files
        // (round-11 ADVICE); mtime closes that window. A pre-`_mtime`
        // manifest (no `_mtime` key) never carries forward — it pays
        // one full footer re-read, the same rule as a widened stat
        // column set. A footer read that succeeded and found no stat
        // column is recorded as the `_nostats` pseudo-entry (stripped
        // by manifestEntries too) and carries forward like real stats,
        // so stats-less files (dimension-log batches, registry config
        // parquet) are opened once, not on every republish. A listed
        // path with neither stats nor `_nostats` is "unknown" — one
        // transient footer-read failure must not pin a file stats-less
        // forever — and its footer is read again.
        val abs = parent.resolve(rel)
        val curLen: Long =
          try Files.size(abs) catch { case _: Throwable => -1L }
        val curMtime: Long =
          try Files.getLastModifiedTime(abs).toMillis
          catch { case _: Throwable => -1L }
        val carried = prev.get(rel)
          .filter(m => curLen >= 0L && curMtime >= 0L &&
            m.get("_len").exists { case (a, _) => a == curLen } &&
            m.get("_mtime").exists { case (a, _) => a == curMtime })
          .map(_ - "_len" - "_mtime").filter(_.nonEmpty)
        val stats = carried
          .orElse(parquetRangeStats(abs).map(st => if (st.isEmpty) NoStats else st))
          .getOrElse(Map.empty)
        val withLen = stats ++
          (if (curLen >= 0L) Map("_len" -> (curLen, curLen)) else Map.empty) ++
          (if (curMtime >= 0L) Map("_mtime" -> (curMtime, curMtime))
           else Map.empty)
        if (withLen.isEmpty) None
        else Some("\t" + rel + withLen.toSeq.sortBy(_._1)
          .map { case (c, (mn, mx)) => s"\t$c=$mn:$mx" }.mkString)
      }
    }
    val header = Seq(vdir.getFileName.toString,
      s"graft.manifest=$ManifestFormat", statsMarker).mkString("\t")
    val tmp = parent.resolve(s".mtmp_$linkName")
    Files.write(tmp,
      ((header +: files) ++ statLines).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, parent.resolve(manifestName(linkName)),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The live target of `parent/linkName`: the version dir behind the
    * symlink, the directory itself for a legacy real dir, None when the
    * partition does not exist. */
  def liveTarget(parent: Path, linkName: String): Option[Path] = {
    val dst = parent.resolve(linkName)
    if (Files.isSymbolicLink(dst))
      Some(parent.resolve(Files.readSymbolicLink(dst).getFileName.toString))
    else if (Files.isDirectory(dst)) Some(dst)
    else None
  }

  /** Re-walk the live version and atomically replace the manifest —
    * the commit step after any IN-PLACE mutation of the live version
    * (batch append, committed-aggregate promotion, logical bucket
    * drop). `exclude` filters parent-relative paths out of the listing
    * (deferred bucket drops publish their absence here while the files
    * stay on disk one more cycle for pinned readers). Deletes the
    * manifest when the partition is gone. */
  def republish(parent: Path, linkName: String,
      exclude: String => Boolean = _ => false): Unit =
    liveTarget(parent, linkName) match {
      case Some(v) => writeManifest(parent, linkName, v, exclude)
      case None =>
        Files.deleteIfExists(parent.resolve(manifestName(linkName)))
    }

  /** Append a batch into the live version with the same commit shape as
    * a swap: `write` produces the batch in an invisible temp dir, ONE
    * atomic rename moves it into the live version as a dot-prefixed
    * batch subdirectory (the commit point — readers never observe a
    * partial batch, matching the job-commit atomicity of a direct
    * Spark append), then the manifest is republished so pinned readers
    * pick the batch up. Dot-prefixed batch dirs are invisible to
    * directory-discovery scans, which is fine: a partition that has
    * ever been batch-appended always carries a manifest, and manifest
    * reads open the listed files directly (the same way dim reads
    * already open files inside dot-prefixed version dirs). Creates the
    * symlink layout via a full swap when the partition does not exist
    * yet. Single mutator per link (the per-srvid snapshot lock). */
  def appendInto(parent: Path, linkName: String)(write: Path => Unit): Unit =
    liveTarget(parent, linkName) match {
      case None => replace(parent, linkName)(write)
      case Some(vdir) =>
        val tmp = parent.resolve(s".app_$linkName")
        deleteRecursively(tmp) // leftover from a crash before the rename
        write(tmp)
        val batch = vdir.resolve(s".batch_${java.util.UUID.randomUUID}")
        Files.move(tmp, batch) // commit point
        republish(parent, linkName)
    }

  /** Create the symlink layout with an empty live version when the
    * partition does not exist — used before in-place file promotion
    * into a partition that may be new. No-op when a live target
    * already exists. */
  def ensureLayout(parent: Path, linkName: String): Unit =
    if (liveTarget(parent, linkName).isEmpty)
      replace(parent, linkName)(v => Files.createDirectories(v))

  /** The manifest read path: absolute paths of the live version's files,
    * from one atomic read — no directory listing, no list-vs-open
    * window. None when the partition has never been swap-written (or
    * was dropped); callers fall back to the directory path. */
  def manifestFiles(parent: Path, linkName: String): Option[Seq[Path]] =
    manifestEntries(parent, linkName).map(_.map(_._1))

  /** Manifest read with the per-file range stats: each entry is the
    * absolute path plus a (possibly empty) `col -> (min, max)` map.
    * Entries from pre-stats manifests, non-parquet files, or
    * unparseable stats get an empty map — "cannot skip", never wrong. */
  def manifestEntries(parent: Path,
      linkName: String): Option[Seq[(Path, Map[String, (Long, Long)])]] =
    readManifestRaw(parent, linkName).map(_._2.map { case (rel, st) =>
      // `_len`/`_mtime` are the carry-forward key and `_nostats` a known
      // absence (writeManifest), not stat columns — internal to the
      // publisher, stripped for readers
      (parent.resolve(rel), st - "_len" - "_mtime" - "_nostats")
    })

  private def parseKvs(
      kvs: Seq[String]): Map[String, (Long, Long)] =
    kvs.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(c, range) => range.split(":", 2) match {
          case Array(mn, mx) =>
            (scala.util.Try(mn.toLong).toOption,
              scala.util.Try(mx.toLong).toOption) match {
              case (Some(a), Some(z)) => Some(c -> (a, z))
              case _ => None
            }
          case _ => None
        }
        case _ => None
      }
    }.toMap

  /** Raw manifest parse: (header tokens, entries as parent-RELATIVE
    * path + stats). Accepts three vintages — v2 (marker + sidecar
    * stats lines), the unmarked r9 interim (stats suffixed onto path
    * lines), and the original path-only form — and REJECTS any marker
    * newer than [[ManifestFormat]] with a loud error: an unknown
    * future format must never degrade into a silently partial file
    * list (round-9 ADVICE). */
  private def readManifestRaw(parent: Path, linkName: String)
      : Option[(Seq[String], Seq[(String, Map[String, (Long, Long)])])] = {
    val m = parent.resolve(manifestName(linkName))
    if (!Files.isRegularFile(m)) None
    else {
      val lines = new String(Files.readAllBytes(m),
        java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq
      val header = lines.headOption.toSeq.flatMap(_.split("\t").toSeq)
      header.collectFirst {
        case t if t.startsWith("graft.manifest=") =>
          scala.util.Try(t.stripPrefix("graft.manifest=").toInt)
            .getOrElse(Int.MaxValue)
      }.filter(_ > ManifestFormat).foreach { v =>
        throw new IllegalStateException(
          s"graft manifest $m declares format $v; this reader " +
            s"supports <= $ManifestFormat — refusing a silently " +
            "partial read (upgrade the reader)")
      }
      val body = lines.drop(1).filter(_.nonEmpty)
      // v2 sidecar stats lines: "\t<path>\t<col>=<min>:<max>..."
      val sidecar = body.filter(_.startsWith("\t")).map { l =>
        val parts = l.split("\t") // parts(0) is the empty pre-tab field
        (parts(1), parseKvs(parts.drop(2).toSeq))
      }.toMap
      val entries = body.filterNot(_.startsWith("\t")).map { line =>
        val parts = line.split("\t")
        val suffix = parseKvs(parts.drop(1).toSeq) // r9 interim format
        val stats = if (suffix.nonEmpty) suffix
          else sidecar.getOrElse(parts(0), Map.empty[String, (Long, Long)])
        (parts(0), stats)
      }
      Some((header, entries))
    }
  }

  /** Parse `.v<digits>_<linkName>` EXACTLY. Suffix matching alone is
    * ambiguous when one link name is a proper suffix of another in the
    * same parent (`module_config` vs `db_module_config`: the latter's
    * version dirs also end in `_module_config`) — the remainder must be
    * pure digits, or the name belongs to the other link and must be
    * invisible here. Before this guard, a drop("module_config") would
    * GC db_module_config's LIVE version directories. */
  private def versionOf(name: String, linkName: String): Option[Long] = {
    val sfx = suffix(linkName)
    if (!(name.startsWith(".v") && name.endsWith(sfx))) None
    else {
      val core = name.stripPrefix(".v").dropRight(sfx.length)
      if (core.nonEmpty && core.forall(_.isDigit)) Some(core.toLong)
      else None
    }
  }

  /** Highest existing version for this link, plus one. */
  private def nextVersion(parent: Path, linkName: String): Long = {
    if (!Files.isDirectory(parent)) return 1L
    val s = Files.list(parent)
    try s.iterator().asScala.map(_.getFileName.toString)
      .flatMap(n => versionOf(n, linkName))
      .foldLeft(0L)(math.max) + 1L
    finally s.close()
  }

  /** Replace `parent/linkName` with a directory produced by `write`.
    * `write` receives the (not yet existing) version directory path and
    * must create it with the new content; the flip to visibility is one
    * atomic rename. Returns after old versions (except the immediate
    * predecessor) are GC'd. */
  def replace(parent: Path, linkName: String)(write: Path => Unit): Unit = {
    val ver = nextVersion(parent, linkName)
    val vdir = parent.resolve(versionName(ver, linkName))
    write(vdir)
    val dst = parent.resolve(linkName)
    if (Files.isSymbolicLink(dst)) {
      // steady state: flip the pointer atomically, keep one predecessor
      val prev = Files.readSymbolicLink(dst).getFileName.toString
      val tmpLink = parent.resolve(s".swap_$linkName")
      Files.deleteIfExists(tmpLink)
      Files.createSymbolicLink(tmpLink, vdir.getFileName)
      Files.move(tmpLink, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      writeManifest(parent, linkName, vdir)
      gc(parent, linkName, keep = Set(vdir.getFileName.toString, prev),
        flipped = ver)
    } else if (Files.isDirectory(dst)) {
      // one-time conversion of a legacy real directory (two renames
      // apart — the only non-atomic moment in the layout's lifetime)
      val aside = parent.resolve(s".gc_$linkName")
      deleteRecursively(aside)
      Files.move(dst, aside)
      Files.createSymbolicLink(dst, vdir.getFileName)
      deleteRecursively(aside)
      writeManifest(parent, linkName, vdir)
      gc(parent, linkName, keep = Set(vdir.getFileName.toString),
        flipped = ver)
    } else {
      Files.createDirectories(parent)
      Files.deleteIfExists(dst) // dangling link from a partial crash
      Files.createSymbolicLink(dst, vdir.getFileName)
      writeManifest(parent, linkName, vdir)
      // a retained-drop (drop(retainNewest = true)) may have left the
      // previously live version on disk for its pinned readers — keep
      // the newest leftover one more cycle, exactly like a swap keeps
      // its predecessor
      val leftover = {
        if (!Files.isDirectory(parent)) None
        else {
          val s = Files.list(parent)
          try s.iterator().asScala.map(_.getFileName.toString)
            .filter(n => versionOf(n, linkName).isDefined &&
              n != vdir.getFileName.toString)
            .toList.sortBy(n => versionOf(n, linkName).get)
            .lastOption
          finally s.close()
        }
      }
      gc(parent, linkName,
        keep = Set(vdir.getFileName.toString) ++ leftover, flipped = ver)
    }
  }

  /** Drop the link and every version directory. The pointer goes first,
    * so readers stop seeing the partition atomically. With
    * `retainNewest` the version the link pointed at survives on disk
    * (invisible — dot-prefixed, manifest gone) until the next
    * replace/drop GC's it, so a reader that pinned the manifest just
    * before the drop finishes undisturbed — the same one-cycle
    * retention the swap path gives. Like replace(), drop() assumes a
    * single mutator per link (the per-srvid snapshot lock / registry
    * lock provide that). */
  def drop(parent: Path, linkName: String,
      retainNewest: Boolean = false): Unit = {
    val dst = parent.resolve(linkName)
    val retained: Set[String] =
      if (retainNewest && Files.isSymbolicLink(dst))
        Set(Files.readSymbolicLink(dst).getFileName.toString)
      else Set.empty
    // manifest goes first: manifest readers stop resolving the partition
    // before the version dirs under it disappear
    Files.deleteIfExists(parent.resolve(manifestName(linkName)))
    Files.deleteIfExists(parent.resolve(s".mtmp_$linkName"))
    if (Files.isSymbolicLink(dst)) Files.delete(dst)
    else deleteRecursively(dst) // legacy real directory
    gc(parent, linkName, keep = retained, flipped = Long.MaxValue)
  }

  /** Delete version dirs not in `keep` plus crash leftovers. Dirs with
    * a version NEWER than the one just flipped to are skipped: they can
    * only belong to a concurrent writer mid-replace (possible when the
    * caller's single-mutator discipline slips), and deleting one would
    * leave that writer flipping the link to a vanished target. */
  private def gc(parent: Path, linkName: String, keep: Set[String],
      flipped: Long): Unit = {
    if (!Files.isDirectory(parent)) return
    val s = Files.list(parent)
    val doomed = try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      versionOf(n, linkName).exists(v => !keep.contains(n) &&
        v <= flipped) ||
        n == s".swap_$linkName" || n == s".gc_$linkName"
    }.toList
    finally s.close()
    doomed.foreach(deleteRecursively)
  }

  /** Symlink-aware recursive delete: a link argument removes only the
    * link; links encountered inside a tree are removed, never followed. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isSymbolicLink(p)) Files.delete(p)
      else Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }
}
