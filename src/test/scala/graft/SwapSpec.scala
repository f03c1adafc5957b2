package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{AtomicSwap, Store}

/** The atomic partition-swap layout (AtomicSwap): a visible `srvid=N`
  * symlink flipped over dot-prefixed version directories. Verifies the
  * round-2 VERDICT item 4 claim directly — a reader looping during
  * overwrites never observes an absent or mixed partition — plus the
  * legacy-directory conversion and append-through-the-pointer paths.
  */
class SwapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("tag", LongType)))

  private def mkStore(): (Store, String) = {
    val root = Files.createTempDirectory("graft_swap").toString
    (new Store(spark, root), root)
  }

  private def batch(srvid: Int, tag: Long, n: Int) =
    spark.range(n).select(col("id").as("k"), lit(tag).as("tag"))
      .withColumn("srvid", lit(srvid))

  test("overwrite flips a symlink; reads see exactly the latest version") {
    val (store, root) = mkStore()
    store.overwritePartition("ds", "dim", 7, batch(7, 1L, 10))
    val p = Paths.get(root, "ds", "dim", "srvid=7")
    assert(Files.isSymbolicLink(p))
    store.overwritePartition("ds", "dim", 7, batch(7, 2L, 20))
    val back = store.read("ds", "dim", schema)
    assert(back.count() === 20)
    assert(back.select(min(col("tag")), max(col("tag"))).head() ===
      org.apache.spark.sql.Row(2L, 2L))
    assert(back.select(col("srvid")).distinct().head().getInt(0) === 7)
    // exactly live + one predecessor version retained
    val versions = Files.list(Paths.get(root, "ds", "dim")).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    versions.forEachRemaining(f => names += f.getFileName.toString)
    assert(names.count(_.startsWith(".v")) === 2)
  }

  test("a legacy real directory converts on first overwrite") {
    val (store, root) = mkStore()
    store.append("ds", "dim", batch(7, 1L, 10)) // hive layout, real dir
    assert(!Files.isSymbolicLink(Paths.get(root, "ds", "dim", "srvid=7")))
    store.overwritePartition("ds", "dim", 7, batch(7, 2L, 5))
    assert(Files.isSymbolicLink(Paths.get(root, "ds", "dim", "srvid=7")))
    assert(store.read("ds", "dim", schema).count() === 5)
  }

  test("append through the pointer lands in the live version") {
    val (store, _) = mkStore()
    store.overwritePartition("ds", "cur", 7, batch(7, 1L, 10))
    store.append("ds", "cur", batch(7, 2L, 4))
    assert(store.read("ds", "cur", schema).count() === 14)
    // the appended rows survive the next overwrite only if included —
    // overwrite is whole-partition replacement
    store.overwritePartition("ds", "cur", 7, batch(7, 3L, 1))
    assert(store.read("ds", "cur", schema).count() === 1)
  }

  test("dropPartition removes pointer, retains the live version one cycle") {
    val (store, root) = mkStore()
    store.overwritePartition("ds", "dim", 7, batch(7, 1L, 10))
    store.overwritePartition("ds", "dim", 7, batch(7, 2L, 10))
    store.dropPartition("ds", "dim", 7)
    // logically gone immediately: no pointer, no manifest, zero rows
    assert(store.read("ds", "dim", schema).count() === 0)
    def names() = {
      val l = Files.list(Paths.get(root, "ds", "dim")).iterator()
      val b = new scala.collection.mutable.ArrayBuffer[String]
      l.forEachRemaining(f => b += f.getFileName.toString)
      b.toSeq
    }
    val afterDrop = names()
    assert(!afterDrop.contains("srvid=7") && !afterDrop.contains(".m_srvid=7"))
    // the dropped LIVE version is retained (pinned in-flight readers
    // finish undisturbed); its predecessor is GC'd by the drop
    assert(afterDrop.count(_.startsWith(".v")) === 1)
    // the next create GC-cycles it away like any swap predecessor
    store.overwritePartition("ds", "dim", 7, batch(7, 3L, 4))
    assert(store.read("ds", "dim", schema).count() === 4)
    assert(names().count(_.startsWith(".v")) === 2) // new + retained
    store.overwritePartition("ds", "dim", 7, batch(7, 4L, 4))
    assert(names().count(_.startsWith(".v")) === 2) // retained one is gone
  }

  test("bucketed overwrite keeps sub-partitioning under the pointer") {
    val (store, root) = mkStore()
    val df = spark.range(6).select(
      col("id").as("k"), lit(1L).as("tag"),
      concat(lit("2024-0"), (col("id") % 2 + 1)).as("bucket"))
      .withColumn("srvid", lit(3))
    store.overwritePartition("ds", "history", 3, df,
      partitionCols = Seq("bucket"))
    assert(store.listBuckets("ds", "history", 3) === Seq("2024-01", "2024-02"))
    // a reader OPENED before the bucket drop. The two read paths pin
    // differently: the V1 union/manifest path resolves the file list at
    // DATAFRAME CREATION, so the frame keeps seeing all 6 rows after the
    // logical drop (MVCC pin); the V2 scan (default since round 8)
    // resolves at ACTION time like any Spark DSv2 table, so a post-drop
    // action sees the post-drop manifest. What the deferred physical
    // delete guarantees under V2 is the crash-safety window: the
    // dropped bucket's files survive until the NEXT purge pass, so a
    // scan planned just before the drop can still execute.
    spark.conf.set("spark.graft.store.readV2", "false")
    val pinnedV1 = try store.readPartition("ds", "history", 3, schema)
      finally spark.conf.unset("spark.graft.store.readV2")
    val pinnedV2 = store.readPartition("ds", "history", 3, schema)
    store.dropBucket("ds", "history", 3, "2024-01")
    // logically dropped at once: listing and new reads exclude it
    assert(store.listBuckets("ds", "history", 3) === Seq("2024-02"))
    assert(store.read("ds", "history", schema).count() === 3)
    // the V1-pinned read still sees all 6 rows — MVCC, not delete
    assert(pinnedV1.count() === 6)
    // the V2 frame re-resolves at action time — post-drop logical state
    assert(pinnedV2.count() === 3)
    // crash-safety window: files are still on disk until the purge pass
    assert(Files.isDirectory(
      Paths.get(root, "ds", "history", "srvid=3", "bucket=2024-01")))
    // one cycle later the purge pass physically deletes the bucket
    store.processDoomedBuckets("ds", "history", 3)
    assert(store.read("ds", "history", schema).count() === 3)
    assert(!Files.isDirectory(
      Paths.get(root, "ds", "history", "srvid=3", "bucket=2024-01")))
  }

  test("a reader looping during swaps never sees absent or mixed data") {
    val (store, _) = mkStore()
    store.overwritePartition("ds", "dim", 7, batch(7, 0L, 50))
    // every read outcome is either (a) one complete version or (b) a
    // LOUD FileNotFoundException from a query that straddled a flip
    // (plan-before, execute-after) — never a silent empty/partial/mixed
    // result, which is what the old delete-then-move swap produced
    @volatile var failure: Option[String] = None
    @volatile var straddles = 0
    @volatile var clean = 0
    @volatile var stop = false
    def isStraddle(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
        .exists(c => c.isInstanceOf[java.io.FileNotFoundException] ||
          c.isInstanceOf[java.nio.file.NoSuchFileException])
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty) {
        try {
          val rows = store.read("ds", "dim", schema)
            .groupBy(col("tag")).agg(count(lit(1)).as("n")).collect()
          if (rows.length != 1)
            failure = Some(s"mixed versions: ${rows.mkString(",")}")
          else if (rows.head.getLong(1) != 50L)
            failure = Some(s"partial read: ${rows.head}")
          else clean += 1
        } catch {
          case e: Throwable if isStraddle(e) => straddles += 1
          case e: Throwable =>
            failure = Some(s"non-straddle failure: $e")
        }
      }
    })
    reader.start()
    (1 to 8).foreach { tag =>
      store.overwritePartition("ds", "dim", 7, batch(7, tag.toLong, 50))
    }
    stop = true
    reader.join()
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(clean > 0) // the loop did real reads
    // and after the last flip a fresh read always succeeds, first try
    val after = store.read("ds", "dim", schema)
      .groupBy(col("tag")).agg(count(lit(1)).as("n")).collect()
    assert(after.toSeq.map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((8L, 50L)))
  }

  test("manifest read path: tight-loop reader across 100 swaps, zero " +
      "FileNotFound within the retention contract") {
    // the VERDICT-4 list-vs-open residual: a directory reader that
    // listed before a flip and opened after it fails loudly. The
    // manifest path removes the window: listing IS one atomic manifest
    // read, and the listed paths are version-pinned immutable files
    // retained for a full swap cycle. The contract is exactly ONE
    // cycle (the predecessor outlives one more swap) — so a read that
    // spans ≥2 swaps may legitimately FNF, and the tolerance below
    // counts swaps spanned, not wall-clock: a fixed sleep margin
    // flaked once when a mult-50 stress run on the same box
    // descheduled the reader past two 5 ms cycles (NOTES round-10).
    val parent = Files.createTempDirectory("graft_manifest")
    val link = "srvid=7"
    val swaps = new java.util.concurrent.atomic.AtomicInteger
    val fnfInContract = new java.util.concurrent.atomic.AtomicInteger
    val outlived = new java.util.concurrent.atomic.AtomicInteger
    val mixed = new java.util.concurrent.atomic.AtomicInteger
    val reads = new java.util.concurrent.atomic.AtomicInteger
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        val s0 = swaps.get()
        AtomicSwap.manifestFiles(parent, link).foreach { files =>
          try {
            // every file of a manifest read must carry ONE version tag:
            // a complete, unmixed version per read — no retries anywhere
            val tags = files.map(f => new String(Files.readAllBytes(f),
              java.nio.charset.StandardCharsets.UTF_8)).distinct
            if (tags.size != 1) mixed.incrementAndGet()
            reads.incrementAndGet()
          } catch {
            case _: java.nio.file.NoSuchFileException |
                 _: java.io.FileNotFoundException =>
              // within one swap of the pin, retention still covers the
              // pinned version → any FNF is a real atomicity hole;
              // past that the read outlived retention (deschedule on a
              // loaded box), the same vacuum contract Delta documents
              if (swaps.get() - s0 < 2) fnfInContract.incrementAndGet()
              else outlived.incrementAndGet()
          }
        }
      }
    })
    reader.start()
    (1 to 100).foreach { v =>
      AtomicSwap.replace(parent, link) { vdir =>
        Files.createDirectories(vdir)
        (0 until 3).foreach(i =>
          Files.write(vdir.resolve(s"part-$i.parquet"), s"v$v".getBytes))
      }
      swaps.incrementAndGet()
      // a short cycle keeps the swap pressure high; the contract check
      // above is what makes the test load-independent (production
      // cycles are 300 s)
      Thread.sleep(5)
    }
    stop = true
    reader.join()
    assert(fnfInContract.get === 0,
      s"${fnfInContract.get} FileNotFound reads within one swap of the " +
        "pin — the manifest window is not closed")
    assert(mixed.get === 0, s"${mixed.get} mixed-version reads")
    assert(reads.get > 0, "reader loop never completed a read")
    AtomicSwap.deleteRecursively(parent)
  }

  test("manifest-pinned Spark read survives a concurrent swap mid-query") {
    val (store, _) = mkStore()
    store.overwritePartition("mds", "dim", 3, batch(3, 1L, 40))
    // plan against the manifest: paths are pinned to version 1
    val pinned = store.readPartitionManifest("mds", "dim", 3, schema).get
    // a swap lands between planning and execution — the exact straddle
    // that makes a directory-listed query throw FileNotFoundException
    store.overwritePartition("mds", "dim", 3, batch(3, 2L, 40))
    val rows = pinned.groupBy(col("tag")).agg(count(lit(1)).as("n")).collect()
    assert(rows.toSeq.map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((1L, 40L)), "pinned read must return the complete planned version")
    // a fresh manifest read resolves the new version
    val fresh = store.readPartitionManifest("mds", "dim", 3, schema).get
      .groupBy(col("tag")).agg(count(lit(1)).as("n")).collect()
    assert(fresh.toSeq.map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((2L, 40L)))
    // srvid rides along like a partition column
    assert(store.readPartitionManifest("mds", "dim", 3, schema).get
      .select(col("srvid")).distinct().collect().map(_.getInt(0)).toSeq ===
      Seq(3))
    // dropped partition → manifest gone → None (no phantom reads)
    store.dropPartition("mds", "dim", 3)
    assert(store.readPartitionManifest("mds", "dim", 3, schema).isEmpty)
  }

  test("multi-server readback: zero failures under concurrent lifecycle churn") {
    // r6 VERDICT item 2 gate: EVERY tier scan is manifest-pinned, so a
    // multi-server read (current ∪ history across srvids) racing the
    // full mutation surface — batch appends, aggregate commits
    // (partition drop + bucket promotion), deferred bucket drops, purge
    // rewrites — never fails and never sees a torn state. The only
    // tolerated outcome besides success is a read that outlived the
    // documented one-cycle retention (≥2 mutations completed while it
    // ran), which is the same vacuum-retention contract Delta/Iceberg
    // document.
    val (store, _) = mkStore()
    val histSchema = StructType(Seq(
      StructField("k", LongType), StructField("tag", LongType),
      StructField("range_start", TimestampType)))
    def hist(cur: org.apache.spark.sql.DataFrame) =
      cur.withColumn("range_start",
        lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
    Seq(1, 2).foreach { s =>
      store.appendPartition("ds", "cur", s, batch(s, 0L, 20))
    }
    val mutations = new java.util.concurrent.atomic.AtomicInteger
    @volatile var failure: Option[String] = None
    @volatile var clean = 0
    @volatile var outlived = 0
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty) {
        val m0 = mutations.get()
        try {
          val nCur = store.read("ds", "cur", schema).count()
          val nHist = store.read("ds", "hist", histSchema).count()
          // counts are whatever consistent state the pins captured; the
          // invariant under churn is that the READ SUCCEEDS
          if (nCur + nHist >= 0) clean += 1
        } catch {
          case e: Throwable
              if mutations.get() - m0 >= 2 &&
                Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
                  .take(10).exists(c =>
                    c.isInstanceOf[java.io.FileNotFoundException] ||
                    c.isInstanceOf[java.nio.file.NoSuchFileException]) =>
            outlived += 1 // read straddled a full retention cycle
          case e: Throwable => failure = Some(s"read failed: $e")
        }
      }
    })
    reader.start()
    (1 to 3).foreach { round =>
      Seq(1, 2).foreach { s =>
        store.appendPartition("ds", "cur", s, batch(s, round.toLong, 10))
        mutations.incrementAndGet()
        store.aggregateCommit("ds", "cur", "hist", s,
          hist(store.readPartition("ds", "cur", s, schema)))
        mutations.incrementAndGet()
        if (round == 2) {
          store.dropBucket("ds", "hist", s, "2024-03")
          mutations.incrementAndGet()
        }
        store.appendPartition("ds", "cur", s, batch(s, 100L + round, 5))
        mutations.incrementAndGet()
      }
    }
    stop = true
    reader.join()
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(clean > 0)
    // steady state after the churn: current holds the post-aggregate
    // appends; history holds ONLY the round-3 aggregate (the round-2
    // bucket drop logically removed everything before it, and the
    // round-3 promote resolved the doom before re-filling the bucket)
    assert(store.read("ds", "cur", schema).count() === 2 * 5)
    assert(store.read("ds", "hist", histSchema).count() === 2 * 15)
  }

  test("compactPartition folds accumulated batches into one file, " +
      "rows unchanged, pinned readers unaffected") {
    val (store, root) = mkStore()
    store.overwritePartition("ds", "cur", 7, batch(7, 1L, 10))
    (2L to 4L).foreach(t => store.appendPartition("ds", "cur", 7,
      batch(7, t, 10)))
    def files() = AtomicSwap
      .manifestFiles(Paths.get(root, "ds", "cur"), "srvid=7").get
      .count(_.toString.endsWith(".parquet"))
    assert(files() >= 4) // one per write — the small-file pile-up
    val before = store.readPartition("ds", "cur", 7, schema)
      .orderBy("tag", "k").collect().toSeq
    val pinned = store.readPartitionManifest("ds", "cur", 7, schema).get
    assert(store.compactPartition("ds", "cur", 7, schema))
    assert(files() === 1) // layout changed…
    val after = store.readPartition("ds", "cur", 7, schema)
      .orderBy("tag", "k").collect().toSeq
    assert(after === before) // …rows did not
    // a reader pinned pre-compaction finishes on the retained
    // predecessor version
    assert(pinned.count() === 40)
    // an appended batch AFTER compaction is picked up normally
    store.appendPartition("ds", "cur", 7, batch(7, 9L, 3))
    assert(store.readPartition("ds", "cur", 7, schema).count() === 43)
  }

  test("compactPartition declines below minFiles and without a manifest") {
    val (store, _) = mkStore()
    store.overwritePartition("ds", "cur", 7, batch(7, 1L, 10).coalesce(1))
    assert(!store.compactPartition("ds", "cur", 7, schema)) // 1 file
    // an already-compacted partition declines again: the op converges
    store.appendPartition("ds", "cur", 7, batch(7, 2L, 10))
    assert(store.compactPartition("ds", "cur", 7, schema))
    assert(!store.compactPartition("ds", "cur", 7, schema))
    val (legacy, _) = mkStore()
    legacy.append("ds", "cur", batch(7, 1L, 10)) // hive layout, no manifest
    legacy.append("ds", "cur", batch(7, 2L, 10))
    assert(!legacy.compactPartition("ds", "cur", 7, schema))
    assert(legacy.read("ds", "cur", schema).count() === 20)
  }

  test("compactPartition bucketed=true re-derives month buckets") {
    val histSchema = StructType(Seq(
      StructField("k", LongType),
      StructField("range_start", TimestampType)))
    def histBatch(month: Int, n: Int) =
      spark.range(n).select(col("id").as("k"),
        to_timestamp(lit(f"2024-$month%02d-10 00:00:00")).as("range_start"))
        .withColumn("srvid", lit(7))
    val (store, root) = mkStore()
    store.appendPartition("ds", "hist", 7, histBatch(1, 5))
    store.appendPartition("ds", "hist", 7, histBatch(2, 5))
    assert(store.compactPartition("ds", "hist", 7, histSchema,
      bucketed = true))
    val fs = AtomicSwap
      .manifestFiles(Paths.get(root, "ds", "hist"), "srvid=7").get
      .filter(_.toString.endsWith(".parquet"))
    assert(fs.nonEmpty)
    assert(fs.forall(_.toString.contains("bucket=2024-")))
    assert(fs.map(_.getParent.getFileName.toString).distinct.sorted ===
      Seq("bucket=2024-01", "bucket=2024-02"))
    val back = store.readPartition("ds", "hist", 7, histSchema)
    assert(back.count() === 10)
    assert(back.groupBy(date_format(col("range_start"), "yyyy-MM"))
      .count().orderBy(col("count")).collect().map(_.getLong(1)).toSeq ===
      Seq(5L, 5L))
  }

  test("deleteRecursively never follows a symlink out of the tree") {
    val root = Files.createTempDirectory("graft_links")
    val outside = Files.createTempDirectory("graft_outside")
    Files.writeString(outside.resolve("keep.txt"), "keep")
    val inner = root.resolve("inner")
    Files.createDirectories(inner)
    Files.createSymbolicLink(inner.resolve("link"), outside)
    AtomicSwap.deleteRecursively(root)
    assert(!Files.exists(root))
    assert(Files.exists(outside.resolve("keep.txt")))
  }

  test("suffix-colliding link names in one parent stay isolated") {
    // `module_config` is a proper suffix of `db_module_config` (the
    // _registry layout) — version matching must be exact, or a replace
    // of the short link mis-parses the long link's version dirs and a
    // DROP of the short link GC's the long link's LIVE data.
    val parent = Files.createTempDirectory("graft_sfx")
    def put(link: String, content: String): Unit =
      AtomicSwap.replace(parent, link) { v =>
        Files.createDirectories(v)
        Files.writeString(v.resolve("data.txt"), content)
      }
    put("db_module_config", "long1")
    put("module_config", "short1") // nextVersion must not parse the long link's dirs
    put("db_module_config", "long2")
    AtomicSwap.drop(parent, "module_config")
    // the long link survives the short link's drop, content intact
    val live = Files.readSymbolicLink(
      parent.resolve("db_module_config"))
    assert(Files.readString(parent.resolve(live).resolve("data.txt"))
      === "long2")
    assert(!Files.exists(parent.resolve("module_config")))
    AtomicSwap.deleteRecursively(parent)
  }

  test("manifest v2: verbatim path lines + sidecar stats, stat " +
      "carry-forward on republish, loud future-format rejection") {
    val (store, root) = mkStore()
    def histBatch(startSec: Long) = spark.range(10).coalesce(1).select(
      timestamp_seconds(lit(startSec) + col("id") * 60L).as("range_start"),
      timestamp_seconds(lit(startSec) + col("id") * 60L + 30L)
        .as("range_end"),
      col("id").as("v")).withColumn("srvid", lit(1))
    val jan = 1704067200L
    val feb = 1706745600L
    store.appendPartition("ds", "hist", 1, histBatch(jan))
    val parent = Paths.get(root, "ds", "hist")
    val m = parent.resolve(".m_srvid=1")
    val lines = Files.readString(m).split("\n").toSeq
    // header carries the format fence + the stat-column set
    assert(lines.head.contains("graft.manifest=2") &&
      lines.head.contains("stats="), s"header was: ${lines.head}")
    val body = lines.drop(1).filter(_.nonEmpty)
    val pathLines = body.filterNot(_.startsWith("\t"))
    // path lines are VERBATIM relative paths — a path-only legacy
    // reader resolves every one (the round-9 ADVICE hazard: stats
    // suffixed onto path lines made old readers drop files silently)
    assert(pathLines.nonEmpty && pathLines.forall(l =>
      !l.contains("\t") && Files.isRegularFile(parent.resolve(l))),
      s"path lines must be verbatim resolvable paths: $pathLines")
    // stats live on leading-tab sidecar lines
    val sidecar = body.filter(_.startsWith("\t"))
    assert(sidecar.nonEmpty && sidecar.forall(l =>
      l.contains("range_start=") && l.contains("range_end=")),
      s"sidecar stats lines missing: $sidecar")
    // carry-forward proof: doctor a stat value in the manifest, then
    // append a second batch — the republish must KEEP the doctored
    // value for the old file (no footer re-read of known paths) while
    // the new batch's file gets real footer stats
    val doctored = lines.map(l =>
      if (l.startsWith("\t"))
        l.replaceAll("range_start=-?\\d+:-?\\d+", "range_start=42:43")
      else l)
    Files.writeString(m, doctored.mkString("\n"))
    store.appendPartition("ds", "hist", 1, histBatch(feb))
    val entries = AtomicSwap.manifestEntries(parent, "srvid=1").get
      .filter(_._1.toString.endsWith(".parquet"))
    assert(entries.size === 2)
    val starts = entries.flatMap(_._2.get("range_start")).toSet
    assert(starts.contains((42L, 43L)),
      s"carried-forward doctored stat lost (footer was re-read): $starts")
    assert(starts.exists(_._1 == feb * 1000000L),
      s"new batch must get real footer stats: $starts")
    // SAME-LENGTH in-place rewrite: bump a parquet file's mtime without
    // changing its byte length — the carry-forward key must MISS and
    // the footer must be re-read, healing the doctored stat (a
    // (path, length)-only key would inherit the stale range and
    // mis-skip files; round-11 ADVICE)
    val doctored2 = Files.readString(m).split("\n").map(l =>
      if (l.startsWith("\t"))
        l.replaceAll("range_start=-?\\d+:-?\\d+", "range_start=42:43")
      else l)
    Files.writeString(m, doctored2.mkString("\n"))
    val live = AtomicSwap.liveTarget(parent, "srvid=1").get
    val pq = Files.walk(live).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq.head
    Files.setLastModifiedTime(pq,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(pq).toMillis + 5000L))
    AtomicSwap.republish(parent, "srvid=1")
    val healedStat = AtomicSwap.manifestEntries(parent, "srvid=1").get
      .find(_._1 == pq).get._2("range_start")
    assert(healedStat !== ((42L, 43L)),
      "an mtime-bumped same-length file must re-read its footer, " +
        s"not inherit the stale stat: $healedStat")
    // a listed file with NO sidecar stats (a previous footer read
    // failed transiently) is "unknown", not "known stats-less": the
    // next republish must RE-READ its footer instead of pinning the
    // absence forever
    val noSidecar = Files.readString(m).split("\n")
      .filterNot(_.startsWith("\t")).mkString("\n")
    Files.writeString(m, noSidecar)
    val mar = 1709251200L
    store.appendPartition("ds", "hist", 1, histBatch(mar))
    val healed = AtomicSwap.manifestEntries(parent, "srvid=1").get
      .filter(_._1.toString.endsWith(".parquet"))
    assert(healed.size === 3 && healed.forall(_._2.contains("range_start")),
      s"stats-less listed files must heal on republish: $healed")
    // an unknown FUTURE format must fail loudly, not return a
    // silently partial list
    Files.writeString(m, "dir\tgraft.manifest=3\nghost.parquet")
    val e = intercept[IllegalStateException] {
      AtomicSwap.manifestEntries(parent, "srvid=1")
    }
    assert(e.getMessage.contains("format 3"))
    AtomicSwap.deleteRecursively(Paths.get(root))
  }

  test("manifest republish carries a stats-less file's known absence " +
      "forward without reopening its footer") {
    val (store, root) = mkStore()
    // no stat column: a dimension-log-like batch
    store.appendPartition("ds", "dim", 1, batch(1, 1L, 5).coalesce(1))
    val parent = Paths.get(root, "ds", "dim")
    val live = AtomicSwap.liveTarget(parent, "srvid=1").get
    val first = Files.walk(live).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toList
    assert(first.size === 1)
    val f = first.head
    // an unreadable footer of the same length and mtime: a republish
    // that reopened it would find no footer and drop the file's entry
    val len = Files.size(f)
    val mtime = Files.getLastModifiedTime(f)
    val original = Files.readAllBytes(f)
    Files.write(f, Array.fill[Byte](len.toInt)(7))
    Files.setLastModifiedTime(f, mtime)
    store.appendPartition("ds", "dim", 1, batch(1, 2L, 5))
    def sidecar(rel: String): Option[String] =
      Files.readString(parent.resolve(".m_srvid=1")).split("\n")
        .find(l => l.startsWith("\t") && l.split("\t")(1) == rel)
    val rel = parent.relativize(f).toString
    assert(sidecar(rel).exists(_.contains("_nostats=")),
      s"the stats-less file's entry must carry forward: ${sidecar(rel)}")
    // readers never see the pseudo-entry
    assert(AtomicSwap.manifestEntries(parent, "srvid=1").get
      .forall(_._2.isEmpty))
    // a failed footer read stays unknown: no entry, so the next
    // republish reads the footer again
    Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
      .fromMillis(mtime.toMillis + 5000L))
    AtomicSwap.republish(parent, "srvid=1")
    assert(sidecar(rel).exists(l => !l.contains("_nostats=")),
      s"an unreadable footer is not a known absence: ${sidecar(rel)}")
    Files.write(f, original)
    AtomicSwap.republish(parent, "srvid=1")
    assert(sidecar(rel).exists(_.contains("_nostats=")))
    assert(store.readPartition("ds", "dim", 1, schema).count() === 10)
    AtomicSwap.deleteRecursively(Paths.get(root))
  }
}
