package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In, IsNotNull}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Store
import graft.sources.v2.{StoreFilePartition, StoreLayout, StoreScan, StoreScanBuilder}

/** The DataSource V2 table over the manifest store (StoreV2): row
  * equivalence with Store.read on every layout the store produces, and
  * the planning-time behaviors that are its whole point — srvid
  * pruning before file listing, column pruning into the parquet
  * reader. */
class V2SourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("srvid", IntegerType),
    StructField("ts", TimestampType),
    StructField("k", LongType),
    StructField("s", StringType),
    StructField("recs", ArrayType(StructType(Seq(
      StructField("a", LongType), StructField("b", DoubleType)))))))

  private def mk(srvid: Int, n: Int) = {
    spark.range(n).select(lit(srvid).as("srvid"),
      timestamp_seconds(lit(1704067200L) + col("id")).as("ts"),
      col("id").as("k"), concat(lit("x"), col("id")).as("s"),
      array(struct(col("id").as("a"),
        col("id").cast("double").as("b"))).as("recs"))
  }

  private def withStore(f: Store => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_v2spec")
    try f(new Store(spark, root.toString))
    finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  /** `read` on the V1 union/manifest path: the default routes it to
    * V2, so a V1-vs-V2 check takes its baseline with the flag off. The
    * frame's plan is fixed when it is built, so the flag is unset again
    * before the frame runs. */
  private def readV1(store: Store, ds: String, tier: String,
      s: StructType) = {
    spark.conf.set("spark.graft.store.readV2", "false")
    val df = try store.read(ds, tier, s)
      finally spark.conf.unset("spark.graft.store.readV2")
    assert(!df.queryExecution.executedPlan.toString.contains("GraftStoreScan"))
    df
  }

  test("readV2 == read on manifest, staging, and bucketed layouts") {
    withStore { store =>
      // manifest-pinned partitions (appendPartition publishes manifests)
      store.appendPartition("dsA", "current", 1, mk(1, 40))
      store.appendPartition("dsA", "current", 1, mk(1, 10)) // batch append
      store.appendPartition("dsA", "current", 2, mk(2, 25))
      // manifest-less hive append (directory-walk fallback)
      store.append("dsA", "staging", mk(3, 15))
      for (tier <- Seq("current", "staging")) {
        val a = readV1(store, "dsA", tier, schema)
        val b = store.readV2("dsA", tier, schema)
        assert(a.schema.fieldNames.toSeq === b.schema.fieldNames.toSeq)
        assert(b.exceptAll(a).count() === 0 && a.exceptAll(b).count() === 0,
          s"tier $tier differs")
      }
      // bucketed history (srvid=N/bucket=YYYY-MM subdirs, no manifest)
      val hSchema = StructType(Seq(
        StructField("srvid", IntegerType),
        StructField("range_start", TimestampType),
        StructField("v", LongType)))
      val h = spark.range(20).select(lit(4).as("srvid"),
        timestamp_seconds(lit(1704067200L) + col("id") * 2862000L)
          .as("range_start"),
        col("id").as("v"))
      store.appendBucketed("dsA", "history", h)
      val ha = readV1(store, "dsA", "history", hSchema)
      val hb = store.readV2("dsA", "history", hSchema)
      assert(hb.exceptAll(ha).count() === 0 && ha.exceptAll(hb).count() === 0)
      assert(hb.count() === 20)
    }
  }

  test("srvid pruning happens at scan planning, before file listing") {
    withStore { store =>
      (1 to 4).foreach(n => store.appendPartition("dsB", "current", n, mk(n, 5)))
      val layout = StoreLayout(store.root, "dsB", "current")
      val builder = new StoreScanBuilder(layout, schema)
      val residual = builder.pushFilters(Array(
        IsNotNull("srvid"), EqualTo("srvid", 3), GreaterThan("k", 1L)))
      // srvid filters consumed (pushed), data filter returned residual
      assert(residual.toSeq === Seq(GreaterThan("k", 1L)))
      assert(builder.pushedFilters().length === 2)
      val scan = builder.build().asInstanceOf[StoreScan]
      assert(scan.prunedSrvids === Seq(3))
      val parts = scan.planInputPartitions()
      assert(parts.nonEmpty &&
        parts.forall(_.asInstanceOf[StoreFilePartition].srvid === 3))
      // In(srvid) form prunes too
      val b2 = new StoreScanBuilder(layout, schema)
      b2.pushFilters(Array(In("srvid", Array(2, 4))))
      assert(b2.build().asInstanceOf[StoreScan].prunedSrvids === Seq(2, 4))
      // end-to-end: pruned read returns exactly partition 3's rows
      val df = store.readV2("dsB", "current", schema)
        .filter(col("srvid") === 3 && col("k") > 1)
      assert(df.count() === 3)
      assert(df.queryExecution.executedPlan.toString.contains("srvids=[3]"))
    }
  }

  test("spark.graft.store.readV2 flag routes read/readPartition through V2") {
    withStore { store =>
      store.appendPartition("dsF", "current", 1, mk(1, 30))
      store.appendPartition("dsF", "current", 2, mk(2, 20))
      store.append("dsF", "staging", mk(3, 10)) // manifest-less fallback
      // DEFAULT (since round 8) is the V2 path
      val defPart = store.readPartition("dsF", "current", 2, schema)
      assert(defPart.queryExecution.executedPlan.toString
        .contains("GraftStoreScan"))
      // conf=false: the union/manifest V1 path — take the equivalence
      // baselines there
      spark.conf.set("spark.graft.store.readV2", "false")
      val (offRead, offPart, offStaging) =
        try {
          val off = store.readPartition("dsF", "current", 2, schema)
          assert(!off.queryExecution.executedPlan.toString
            .contains("GraftStoreScan"))
          (store.read("dsF", "current", schema).collect().toSet,
            off.collect().toSet,
            store.read("dsF", "staging", schema).collect().toSet)
        } finally spark.conf.unset("spark.graft.store.readV2")
      spark.conf.set("spark.graft.store.readV2", "true")
      try {
        val onPartDf = store.readPartition("dsF", "current", 2, schema)
        // routed: the physical plan is the V2 scan, srvid pruned at plan
        val plan = onPartDf.queryExecution.executedPlan.toString
        assert(plan.contains("GraftStoreScan"), plan)
        assert(plan.contains("srvids=[2]"), plan)
        assert(store.read("dsF", "current", schema).collect().toSet
          === offRead)
        assert(onPartDf.collect().toSet === offPart)
        assert(store.read("dsF", "staging", schema).collect().toSet
          === offStaging)
      } finally spark.conf.unset("spark.graft.store.readV2")
      // the default-path frame is row-identical to both
      assert(defPart.collect().toSet === offPart)
    }
  }

  test("DSv2 write: append demuxes per srvid, commit is manifest-visible") {
    withStore { store =>
      val df = mk(1, 30).unionByName(mk(2, 20)).unionByName(mk(3, 10))
      df.write.format("graft-store")
        .option("root", store.root).option("ds", "dsW").option("tier", "current")
        .mode("append").save()
      val back = store.readV2("dsW", "current", schema)
      assert(back.count() === 60)
      assert(back.exceptAll(df.select(back.columns.map(col): _*)).count() === 0)
      // a second append lands as another batch, both visible
      mk(2, 5).write.format("graft-store")
        .option("root", store.root).option("ds", "dsW").option("tier", "current")
        .mode("append").save()
      assert(store.readV2("dsW", "current", schema)
        .filter(col("srvid") === 2).count() === 25)
      // partitions carry manifests (appendInto commit shape), so the
      // plain Store read path sees the same rows
      assert(store.read("dsW", "current", schema).count() === 65)
    }
  }

  test("DSv2 write: overwrite swaps written servers, drops absent ones") {
    withStore { store =>
      val first = mk(1, 10).unionByName(mk(2, 10))
      first.write.format("graft-store")
        .option("root", store.root).option("ds", "dsO").option("tier", "current")
        .mode("append").save()
      // truncate-overwrite with srvid 2 only: 1 must be gone, 2 replaced
      mk(2, 7).write.format("graft-store")
        .option("root", store.root).option("ds", "dsO").option("tier", "current")
        .mode("overwrite").save()
      val back = store.readV2("dsO", "current", schema)
      assert(back.count() === 7)
      assert(back.select("srvid").distinct().collect().map(_.getInt(0)).toSeq
        === Seq(2))
    }
  }

  test("DSv2 write: NULL srvid and missing srvid column fail loudly") {
    withStore { store =>
      val noSrvid = mk(1, 3).drop("srvid")
      val e1 = intercept[Exception] {
        noSrvid.write.format("graft-store")
          .option("root", store.root).option("ds", "dsE").option("tier", "t")
          .mode("append").save()
      }
      // analyzer by-name resolution (missing column) or our own require
      assert(e1.getMessage != null)
      val nullSrvid = mk(1, 3)
        .withColumn("srvid", when(col("k") === 1L, lit(null)).otherwise(col("srvid")).cast("int"))
      val e2 = intercept[Exception] {
        nullSrvid.write.format("graft-store")
          .option("root", store.root).option("ds", "dsE").option("tier", "t")
          .mode("append").save()
      }
      assert(e2.toString.contains("srvid") ||
        (e2.getCause != null && e2.getCause.toString.contains("srvid")))
    }
  }

  test("column pruning reaches the reader; count(*) and empty tier work") {
    withStore { store =>
      store.appendPartition("dsC", "current", 7, mk(7, 12))
      val df = store.readV2("dsC", "current", schema)
      val plan = df.select(sum(col("k"))).queryExecution.executedPlan.toString
      // the scan's description prints the pruned column set
      assert(plan.contains("columns=[k]"), plan)
      assert(df.select(sum(col("k"))).head.getLong(0) === (0 until 12).sum)
      assert(df.count() === 12) // empty required schema (count-star) path
      // sum over srvid only (partition column without data columns)
      assert(df.select(sum(col("srvid"))).head.getLong(0) === 7L * 12)
      // never-written tier reads as an empty, correctly-shaped frame
      val empty = store.readV2("dsC", "history", schema)
      assert(empty.count() === 0)
      assert(empty.schema.fieldNames.head === "srvid")
    }
  }

  test("schema widening: old files read under a wider spec with nulls, " +
      "both read paths") {
    // the version-upgrade analogue (the reference ships 15 upgrade
    // scripts that ALTER TABLE ADD COLUMN): a spec gaining a counter
    // must keep reading partitions written before the upgrade
    withStore { store =>
      store.appendPartition("dsA", "current", 1, mk(1, 10))
      val widened = StructType(schema.fields :+
        StructField("new_counter", LongType))
      def check(df: org.apache.spark.sql.DataFrame): Unit = {
        assert(df.count() === 10)
        assert(df.schema.fieldNames.contains("new_counter"))
        assert(df.filter(col("new_counter").isNull).count() === 10)
        assert(df.select(sum(col("k"))).head.getLong(0) === 45L)
      }
      check(store.read("dsA", "current", widened))
      check(store.readV2("dsA", "current", widened))
      // and a mixed partition: one pre-upgrade file, one post-upgrade
      store.appendPartition("dsA", "current", 1,
        mk(1, 5).withColumn("new_counter", col("k") * 10))
      val mixed = store.readV2("dsA", "current", widened)
      assert(mixed.count() === 15)
      assert(mixed.filter(col("new_counter").isNull).count() === 10)
      assert(mixed.select(sum(col("new_counter"))).head.getLong(0) === 100L)
    }
  }

  test("StoreCatalog: tiers resolve as SQL tables, pruned and row-equal") {
    withStore { store =>
      store.appendPartition("dsA", "current", 1, mk(1, 30))
      store.appendPartition("dsA", "current", 2, mk(2, 20))
      store.appendPartition("dsA", "history", 1, mk(1, 5))
      val cat = s"graft_cat_spec_${System.nanoTime()}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.StoreCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", store.root)
      try {
        // row equivalence with the Store API read
        val viaSql = spark.sql(
          s"SELECT srvid, k, s FROM $cat.dsA.current ORDER BY srvid, k")
        val viaStore = store.read("dsA", "current", schema)
          .select(col("srvid"), col("k"), col("s"))
          .orderBy(col("srvid"), col("k"))
        assert(viaSql.collect().toSeq === viaStore.collect().toSeq)
        // srvid predicate prunes at planning: only one partition's rows
        assert(spark.sql(
          s"SELECT count(*) FROM $cat.dsA.current WHERE srvid = 2")
          .head.getLong(0) === 20L)
        // listTables sees both tiers of the namespace
        val c = new graft.sources.v2.StoreCatalog
        c.initialize("t", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.singletonMap("root", store.root)))
        assert(c.listTables(Array("dsA")).map(_.name()).sorted.toSeq ===
          Seq("current", "history"))
        // unknown-datasource schema inference: struct column round-trips
        assert(spark.sql(
          s"SELECT recs[0].a FROM $cat.dsA.current WHERE srvid = 1 " +
            "ORDER BY k LIMIT 1").head.getLong(0) === 0L)
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.root")
      }
    }
  }

  test("manifest range stats skip files at planning time; surviving " +
      "rows are filter-exact") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    val hSchema = StructType(Seq(
      StructField("srvid", IntegerType),
      StructField("range_start", TimestampType),
      StructField("range_end", TimestampType),
      StructField("v", LongType)))
    def mkRange(srvid: Int, startSec: Long, n: Int) =
      spark.range(n).coalesce(2).select(lit(srvid).as("srvid"),
        timestamp_seconds(lit(startSec) + col("id") * 60L)
          .as("range_start"),
        timestamp_seconds(lit(startSec) + col("id") * 60L + 30L)
          .as("range_end"),
        col("id").as("v"))
    def ts(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(sec))
    withStore { store =>
      val jan = 1704067200L // 2024-01-01
      val feb = 1706745600L // 2024-02-01
      store.appendPartition("dsR", "history", 1, mkRange(1, jan, 10))
      store.appendPartition("dsR", "history", 1, mkRange(1, feb, 10))
      val layout = StoreLayout(store.root, "dsR", "history")
      // both batches' files carry stats in the republished manifest
      val withStats = layout.filesWithStats(1)
      assert(withStats.nonEmpty &&
        withStats.forall(_._2.keySet === Set("range_start", "range_end")),
        s"manifest must stat both range columns, got $withStats")
      val all = {
        val b = new StoreScanBuilder(layout, hSchema)
        b.build().asInstanceOf[StoreScan].planInputPartitions().length
      }
      // "history since Feb" must not open any January file
      val b = new StoreScanBuilder(layout, hSchema)
      val residual = b.pushFilters(Array(
        GreaterThanOrEqual("range_end", ts(feb))))
      // range skip is partial pushdown: pushed AND residual
      assert(residual.toSeq === Seq(GreaterThanOrEqual("range_end", ts(feb))))
      assert(b.pushedFilters().toSeq ===
        Seq(GreaterThanOrEqual("range_end", ts(feb))))
      val pruned = b.build().asInstanceOf[StoreScan].planInputPartitions()
      assert(pruned.nonEmpty && pruned.length < all,
        s"expected fewer than $all files, planned ${pruned.length}")
      // a window before all data plans zero files
      val b2 = new StoreScanBuilder(layout, hSchema)
      b2.pushFilters(Array(LessThanOrEqual("range_end", ts(jan - 1))))
      assert(b2.build().asInstanceOf[StoreScan]
        .planInputPartitions().isEmpty)
      // end-to-end row exactness through the V2 reader (residual
      // re-evaluation inside surviving files)
      val want = store.read("dsR", "history", hSchema)
        .filter(col("range_end") >= lit(ts(feb))).collect().toSet
      val got = store.readV2("dsR", "history", hSchema)
        .filter(col("range_end") >= lit(ts(feb))).collect().toSet
      assert(got === want && got.size === 10)
      // directory-walk fallback (no manifest → no stats): never skips
      store.append("dsR", "staging", mkRange(2, jan, 5))
      val lay2 = StoreLayout(store.root, "dsR", "staging")
      val b3 = new StoreScanBuilder(lay2, hSchema)
      b3.pushFilters(Array(LessThanOrEqual("range_end", ts(jan - 1))))
      assert(b3.build().asInstanceOf[StoreScan]
        .planInputPartitions().nonEmpty,
        "stat-less files must always survive the skip")
    }
  }

  test("current-tier record.ts stats file-skip at planning time, " +
      "end to end through Spark's own nested pushdown") {
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val recType = StructType(Seq(
      StructField("ts", TimestampType), StructField("v", LongType)))
    val cSchema = StructType(Seq(
      StructField("srvid", IntegerType),
      StructField("u", LongType),
      StructField("record", recType)))
    def mkCur(srvid: Int, startSec: Long, n: Int) =
      spark.range(n).coalesce(2).select(lit(srvid).as("srvid"),
        col("id").as("u"),
        struct(
          timestamp_seconds(lit(startSec) + col("id") * 60L).as("ts"),
          col("id").as("v")).as("record"))
    def ts(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(sec))
    withStore { store =>
      val jan = 1704067200L // 2024-01-01
      val feb = 1706745600L // 2024-02-01
      store.appendPartition("dsC", "current", 1, mkCur(1, jan, 10))
      store.appendPartition("dsC", "current", 1, mkCur(1, feb, 10))
      val layout = StoreLayout(store.root, "dsC", "current")
      // the manifest stats the NESTED record.ts (current tier's range
      // key — the reference's `*_current (srvid, ts)` btree,
      // powa--5.2.0.sql:2150)
      val withStats = layout.filesWithStats(1)
      assert(withStats.nonEmpty &&
        withStats.forall(_._2.keySet === Set("record.ts")),
        s"manifest must stat nested record.ts, got $withStats")
      val all = {
        val b = new StoreScanBuilder(layout, cSchema)
        b.build().asInstanceOf[StoreScan].planInputPartitions().length
      }
      // unit level: a dotted-name filter prunes January's files
      val b = new StoreScanBuilder(layout, cSchema)
      b.pushFilters(Array(GreaterThanOrEqual("record.ts", ts(feb))))
      val pruned = b.build().asInstanceOf[StoreScan]
        .planInputPartitions().length
      assert(pruned > 0 && pruned < all,
        s"expected fewer than $all files, planned $pruned")
      // end to end: Spark itself must translate the nested comparison
      // to the dotted V1 filter — the planned scan opens only the
      // surviving files, and residual re-evaluation keeps rows exact
      val v2 = store.readV2("dsC", "current", cSchema)
        .filter(col("record.ts") >= lit(ts(feb)))
      val scanParts = v2.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.inputPartitions.length
      }
      assert(scanParts === Seq(pruned),
        s"Spark-planned scan must skip to $pruned files, got $scanParts")
      val want = store.read("dsC", "current", cSchema)
        .filter(col("record.ts") >= lit(ts(feb))).collect().toSet
      assert(v2.collect().toSet === want && want.size === 10)
    }
  }

  test("store-resident IVF index: cell IN file-skip at planning time; " +
      "probe rows match the session-catalog variant") {
    import graft.pipeline.Similarity
    withStore { store =>
      val sfDir = "/root/testdata/sf0.001"
      val emb = Tables.embeddings(spark, sfDir)
      val cb = emb.select(col("vec_id").cast("long"),
          Similarity.asDouble(col("embedding")).as("v"))
        .filter(col("vec_id") < 8).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      Similarity.saveIvfIndexStore(emb, "vec_id", "embedding", cb,
        store.root, "v2ivf", srvid = 3)
      val layout = StoreLayout(store.root, "powa_index_v2ivf", "cells")
      // the manifest stats the cell column (AtomicSwap.statCols)
      val stats = layout.filesWithStats(3)
      assert(stats.nonEmpty && stats.forall(_._2.contains("cell")),
        s"manifest must stat cell, got $stats")
      val cSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("v", ArrayType(DoubleType)),
        StructField("cell", LongType),
        StructField("srvid", IntegerType)))
      val all = {
        val b = new StoreScanBuilder(layout, cSchema)
        b.pushFilters(Array(EqualTo("srvid", 3)))
        b.build().asInstanceOf[StoreScan].planInputPartitions().length
      }
      assert(all > 1, "fixture must spread cells over several files")
      val (cells, cb2) =
        Similarity.loadIvfIndexStore(spark, store.root, "v2ivf", srvid = 3)
      val oneCell = cells.select(col("cell")).distinct()
        .orderBy(col("cell")).limit(1).collect()(0).getLong(0)
      // unit: `cell IN (<one cell>)` opens only that cell's files
      val b = new StoreScanBuilder(layout, cSchema)
      b.pushFilters(Array(EqualTo("srvid", 3),
        In("cell", Array[Any](oneCell))))
      val pruned = b.build().asInstanceOf[StoreScan]
        .planInputPartitions().length
      assert(pruned > 0 && pruned < all,
        s"expected fewer than $all files, planned $pruned")
      // end to end: the probe's isin filter reaches the DSv2 scan and
      // the planned scan opens fewer files than the full index
      val probe = Similarity.probeIvfIndex(cells, cb2,
        emb.filter(col("vec_id").isin(100L, 200L)),
        "vec_id", "embedding", k = 5)
      val got = probe.collect().toSet
      val scanParts = probe.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if s.scan.isInstanceOf[StoreScan] => s.inputPartitions.length
      }
      assert(scanParts.nonEmpty && scanParts.forall(p => p < all),
        s"planned cells scan must skip files: $scanParts of $all")
      // same rows as the session-catalog (hive-partitioned) variant
      Similarity.saveIvfIndex(emb, "vec_id", "embedding", cb, "v2spec_ivf")
      val (c1, cb1) = Similarity.loadIvfIndex(spark, "v2spec_ivf")
      val want = Similarity.probeIvfIndex(c1, cb1,
        emb.filter(col("vec_id").isin(100L, 200L)),
        "vec_id", "embedding", k = 5).collect().toSet
      assert(got === want && got.nonEmpty)
    }
  }

  test("store-resident IVF index lifecycle: append grows files " +
      "row-exactly, compact folds them back, probes identical " +
      "throughout, multi-probe opens more files than single") {
    import graft.pipeline.Similarity
    withStore { store =>
      val sfDir = "/root/testdata/sf0.001"
      val emb = Tables.embeddings(spark, sfDir)
      val cb = emb.select(col("vec_id").cast("long"),
          Similarity.asDouble(col("embedding")).as("v"))
        .filter(col("vec_id") < 8).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      // one-shot reference build
      Similarity.saveIvfIndexStore(emb, "vec_id", "embedding", cb,
        store.root, "ref", srvid = 1)
      val (refCells, refCb) =
        Similarity.loadIvfIndexStore(spark, store.root, "ref", 1)
      def probe(cells: org.apache.spark.sql.DataFrame,
          c: Seq[(Long, Seq[Double])], np: Int) =
        Similarity.probeIvfIndex(cells, c,
          emb.filter(col("vec_id").isin(100L, 200L)),
          "vec_id", "embedding", k = 5, nprobe = np).collect().toSet
      val want1 = probe(refCells, refCb, 1)
      // incremental build: thirds admitted as batches
      Similarity.saveIvfIndexStore(emb.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", cb, store.root, "inc", srvid = 1)
      Seq(1, 2).foreach(r => Similarity.appendIvfIndexStore(
        emb.filter(col("vec_id") % 3 === r), "vec_id", "embedding",
        store.root, "inc", srvid = 1))
      val layout = StoreLayout(store.root, "powa_index_inc", "cells")
      val filesBefore = layout.files(1).size
      val (incCells, incCb) =
        Similarity.loadIvfIndexStore(spark, store.root, "inc", 1)
      assert(probe(incCells, incCb, 1) === want1,
        "append generations must probe like the one-shot build")
      assert(incCells.count() === refCells.count())
      // compact: files fold toward one per cell, rows and probes exact
      Similarity.compactIvfIndexStore(spark, store.root, "inc", 1)
      val filesAfter = layout.files(1).size
      assert(filesAfter < filesBefore && filesAfter <= cb.size,
        s"compact must fold $filesBefore files to <= ${cb.size}, " +
          s"got $filesAfter")
      assert(layout.filesWithStats(1).forall(_._2.contains("cell")),
        "compacted files must re-publish cell stats")
      val (cCells, cCb) =
        Similarity.loadIvfIndexStore(spark, store.root, "inc", 1)
      assert(cCells.count() === refCells.count())
      assert(probe(cCells, cCb, 1) === want1)
      // multi-probe: more candidates considered => results form a
      // superset-or-equal top-k quality-wise; planned files grow
      val want2 = probe(cCells, cCb, 2)
      assert(want2.nonEmpty)
      def plannedFiles(np: Int): Int = {
        val df = Similarity.probeIvfIndex(cCells, cCb,
          emb.filter(col("vec_id") === 100L),
          "vec_id", "embedding", k = 5, nprobe = np)
        df.collect()
        df.queryExecution.sparkPlan.collect {
          case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
              if s.scan.isInstanceOf[StoreScan] => s.inputPartitions.length
        }.sum
      }
      val f1 = plannedFiles(1); val f2 = plannedFiles(2)
      // monotonic end to end; STRICTNESS here would depend on the
      // query's two best cells landing in different files, which
      // RangePartitioner sampling does not guarantee on a tiny corpus
      assert(f1 <= f2 && f2 < filesAfter * 2,
        s"nprobe=2 must never open fewer cells than 1: " +
          s"$f1 vs $f2 of $filesAfter")
      // the strict claim, pinned deterministically at the builder
      // level: two cells drawn from two DIFFERENT files must plan
      // strictly more files than the first alone
      val cSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("v", ArrayType(DoubleType)),
        StructField("cell", LongType),
        StructField("srvid", IntegerType)))
      val fileMins = layout.filesWithStats(1)
        .flatMap(_._2.get("cell").map(_._1)).distinct.sorted
      assert(fileMins.size >= 2, "fixture must span several files")
      def planned(ins: Seq[Long]): Int = {
        val b = new StoreScanBuilder(layout, cSchema)
        b.pushFilters(Array(EqualTo("srvid", 1),
          In("cell", ins.map(x => x: Any).toArray)))
        b.build().asInstanceOf[StoreScan].planInputPartitions().length
      }
      assert(planned(Seq(fileMins.head)) <
        planned(Seq(fileMins.head, fileMins.last)),
        "a second probed cell from another file must open more files")
    }
  }

  test("index admission racing compaction: no admitted batch is lost, " +
      "reader counts march through committed generations only") {
    import graft.pipeline.Similarity
    withStore { store =>
      val sfDir = "/root/testdata/sf0.001"
      val emb = Tables.embeddings(spark, sfDir)
      val cb = emb.select(col("vec_id").cast("long"),
          Similarity.asDouble(col("embedding")).as("v"))
        .filter(col("vec_id") < 8).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      val total = emb.count()
      // base = quarter 0; three appender batches bring in the rest
      Similarity.saveIvfIndexStore(emb.filter(col("vec_id") % 4 === 0),
        "vec_id", "embedding", cb, store.root, "churn", srvid = 1)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      def thread(body: => Unit): Thread = {
        val t = new Thread(() =>
          try body catch { case e: Throwable => errors.add(e) })
        t.start(); t
      }
      // two appenders admitting disjoint slices, one compactor folding
      // in a loop — the exact interleaving the round-11 verdict called
      // out: without the mutation lock, a compact pinning the manifest
      // pre-batch and swapping post-batch strands the admission in the
      // dead predecessor version
      val appA = thread {
        Seq(1, 2).foreach(rId => Similarity.appendIvfIndexStore(
          emb.filter(col("vec_id") % 4 === rId), "vec_id", "embedding",
          store.root, "churn", srvid = 1))
      }
      val appB = thread {
        Similarity.appendIvfIndexStore(
          emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding",
          store.root, "churn", srvid = 1)
      }
      val compactor = thread {
        (1 to 4).foreach { _ =>
          Similarity.compactIvfIndexStore(spark, store.root, "churn", 1)
        }
      }
      // unlocked concurrent reader: every count must be a committed
      // prefix (base plus whole batches), never a torn generation, and
      // successive reads never go backwards (each pins the live
      // manifest; appends only add, compacts preserve rows)
      val base = emb.filter(col("vec_id") % 4 === 0).count()
      val b1 = emb.filter(col("vec_id") % 4 === 1).count()
      val b2 = emb.filter(col("vec_id") % 4 === 2).count()
      val b3 = emb.filter(col("vec_id") % 4 === 3).count()
      val validCounts = (for {
        a <- Seq(0L, b1, b1 + b2); b <- Seq(0L, b3)
      } yield base + a + b).toSet
      val reader = thread {
        var last = 0L
        while (appA.isAlive || appB.isAlive || compactor.isAlive) {
          val c = Similarity.loadIvfIndexStore(
            spark, store.root, "churn", 1)._1.count()
          assert(validCounts.contains(c),
            s"reader saw a torn generation: $c not in $validCounts")
          assert(c >= last, s"reader went backwards: $c after $last")
          last = c
        }
      }
      Seq(appA, appB, compactor, reader).foreach(_.join(120000))
      assert(errors.isEmpty, s"churn raised: ${errors.peek()}")
      // no admitted batch lost, and the index probes exactly like a
      // one-shot build of the full corpus
      val (cells, cb2) =
        Similarity.loadIvfIndexStore(spark, store.root, "churn", 1)
      assert(cells.count() === total,
        "an admitted batch was lost under append/compact churn")
      Similarity.saveIvfIndexStore(emb, "vec_id", "embedding", cb,
        store.root, "churnref", srvid = 1)
      val (refCells, refCb) =
        Similarity.loadIvfIndexStore(spark, store.root, "churnref", 1)
      val q = emb.filter(col("vec_id").isin(100L, 200L))
      assert(
        Similarity.probeIvfIndex(cells, cb2, q, "vec_id", "embedding", 5)
          .collect().toSet ===
        Similarity.probeIvfIndex(refCells, refCb, q, "vec_id",
          "embedding", 5).collect().toSet)
    }
  }

  test("index admission racing REBALANCE: no admitted batch is lost, " +
      "readers see committed prefixes or the documented retryable " +
      "refusal, and a final rebalance equals the fresh trained build") {
    import graft.pipeline.Similarity
    withStore { store =>
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      val cb = emb.select(col("vec_id").cast("long"),
          Similarity.asDouble(col("embedding")).as("v"))
        .filter(col("vec_id") < 8).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      val total = emb.count()
      Similarity.saveIvfIndexStore(emb.filter(col("vec_id") % 4 === 0),
        "vec_id", "embedding", cb, store.root, "rchurn", srvid = 1)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      def thread(body: => Unit): Thread = {
        val t = new Thread(() =>
          try body catch { case e: Throwable => errors.add(e) })
        t.start(); t
      }
      // two appenders + a rebalancer: an append queued on the lock
      // lands either BEFORE a rebalance (folded into its retrain
      // corpus) or AFTER (assigned with the live codebook) — rows are
      // preserved either way; losing one would mean the rebalance's
      // corpus-read-to-rewrite window leaked an admission
      val appA = thread {
        Seq(1, 2).foreach(rId => Similarity.appendIvfIndexStore(
          emb.filter(col("vec_id") % 4 === rId), "vec_id", "embedding",
          store.root, "rchurn", srvid = 1))
      }
      val appB = thread {
        Similarity.appendIvfIndexStore(
          emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding",
          store.root, "rchurn", srvid = 1)
      }
      val rebalancer = thread {
        (1 to 2).foreach { _ =>
          Similarity.rebalanceIvfIndexStore(spark, store.root, "rchurn",
            srvid = 1, iters = 1)
        }
      }
      val base = emb.filter(col("vec_id") % 4 === 0).count()
      val b1 = emb.filter(col("vec_id") % 4 === 1).count()
      val b2 = emb.filter(col("vec_id") % 4 === 2).count()
      val b3 = emb.filter(col("vec_id") % 4 === 3).count()
      val validCounts = (for {
        a <- Seq(0L, b1, b1 + b2); b <- Seq(0L, b3)
      } yield base + a + b).toSet
      // unlocked reader: counts are committed prefixes (rebalance
      // preserves rows) and never go backwards; the ONE tolerated
      // transient is the documented loud refusal when a k-changing
      // rebalance's codebook swap outruns its params swap
      val reader = thread {
        var last = 0L
        while (appA.isAlive || appB.isAlive || rebalancer.isAlive) {
          try {
            val c = Similarity.loadIvfIndexStore(
              spark, store.root, "rchurn", 1)._1.count()
            assert(validCounts.contains(c),
              s"reader saw a torn generation: $c not in $validCounts")
            assert(c >= last, s"reader went backwards: $c after $last")
            last = c
          } catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("geometry drift") => ()
          }
        }
      }
      Seq(appA, appB, rebalancer, reader).foreach(_.join(120000))
      assert(errors.isEmpty, s"rebalance churn raised: ${errors.peek()}")
      assert(Similarity.loadIvfIndexStore(spark, store.root, "rchurn", 1)
        ._1.count() === total,
        "an admitted batch was lost under append/rebalance churn")
      // deterministic tail: one quiescent rebalance leaves exactly a
      // fresh build with the codebook trained on the FULL corpus at
      // the store's own k (whatever the churn history left there)
      Similarity.rebalanceIvfIndexStore(spark, store.root, "rchurn",
        srvid = 1, iters = 1)
      val kNow = Similarity.loadIvfParams(spark, store.root, "rchurn", 1).k
      val corpus = emb.select(col("vec_id").cast("long").as("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      val trained = Similarity.kmeansCodebook(
        Similarity.kmeansCentroidsInt(corpus, "vec_id", "v", kNow, 1))
      Similarity.saveIvfIndexStore(emb, "vec_id", "embedding", trained,
        store.root, "rchurnref", srvid = 1)
      val q = emb.filter(col("vec_id").isin(100L, 200L))
      assert(
        Similarity.probeIvfIndexStore(spark, store.root, "rchurn", 1, q,
          "vec_id", "embedding", k = 5).collect().toSet ===
        Similarity.probeIvfIndexStore(spark, store.root, "rchurnref", 1,
          q, "vec_id", "embedding", k = 5).collect().toSet)
    }
  }

  test("IVF params tier: probes read geometry from the store, " +
      "drifted geometry is rejected, hostile index names fail loudly") {
    import graft.pipeline.Similarity
    withStore { store =>
      val sfDir = "/root/testdata/sf0.001"
      val emb = Tables.embeddings(spark, sfDir)
      val cb = emb.select(col("vec_id").cast("long"),
          Similarity.asDouble(col("embedding")).as("v"))
        .filter(col("vec_id") < 8).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      Similarity.saveIvfIndexStore(emb, "vec_id", "embedding", cb,
        store.root, "par", srvid = 1, nprobeDefault = 2)
      // the params tier records the BUILD's geometry, not the caller's
      val p = Similarity.loadIvfParams(spark, store.root, "par", 1)
      assert(p === Similarity.IvfParams(k = 8, dim = 64,
        nprobeDefault = 2, metric = "cosine"))
      // zero caller-supplied constants: the store-probe must equal an
      // explicit probe at the persisted nprobe_default
      val q = emb.filter(col("vec_id").isin(100L, 200L))
      val got = Similarity.probeIvfIndexStore(spark, store.root, "par",
        1, q, "vec_id", "embedding", k = 5).collect().toSet
      val (cells, cb2) =
        Similarity.loadIvfIndexStore(spark, store.root, "par", 1)
      val want = Similarity.probeIvfIndex(cells, cb2, q,
        "vec_id", "embedding", k = 5, nprobe = 2).collect().toSet
      assert(got === want && got.nonEmpty)
      // a per-call override widens recall without touching geometry
      val wide = Similarity.probeIvfIndexStore(spark, store.root, "par",
        1, q, "vec_id", "embedding", k = 5, nprobe = Some(1))
      assert(wide.collect().toSet ===
        Similarity.probeIvfIndex(cells, cb2, q,
          "vec_id", "embedding", k = 5, nprobe = 1).collect().toSet)
      // geometry drift — params claiming a different k than the
      // codebook has — must make the index UNREADABLE, not mis-probed
      import spark.implicits._
      store.overwritePartition("powa_index_par", "params", 1,
        Seq((7, 64, 2, "cosine"))
          .toDF("k", "dim", "nprobe_default", "metric"))
      val drift = intercept[IllegalArgumentException] {
        Similarity.loadIvfIndexStore(spark, store.root, "par", 1)
      }
      assert(drift.getMessage.contains("geometry drift"), drift.getMessage)
      // ...and a dim drift equally
      store.overwritePartition("powa_index_par", "params", 1,
        Seq((8, 63, 2, "cosine"))
          .toDF("k", "dim", "nprobe_default", "metric"))
      val dimDrift = intercept[IllegalArgumentException] {
        Similarity.loadIvfIndexStore(spark, store.root, "par", 1)
      }
      assert(dimDrift.getMessage.contains("geometry drift"),
        dimDrift.getMessage)
      // a pre-params-era store (params tier missing) fails loudly too
      val noParams = intercept[IllegalArgumentException] {
        Similarity.loadIvfParams(spark, store.root, "ghost", 1)
      }
      assert(noParams.getMessage.contains("no params tier"),
        noParams.getMessage)
      // metric is geometry too: a params row claiming a metric the
      // probe doesn't rank by must refuse like any other drift
      store.overwritePartition("powa_index_par", "params", 1,
        Seq((8, 64, 2, "l2"))
          .toDF("k", "dim", "nprobe_default", "metric"))
      val metricDrift = intercept[IllegalArgumentException] {
        Similarity.loadIvfIndexStore(spark, store.root, "par", 1)
      }
      assert(metricDrift.getMessage.contains("metric"),
        metricDrift.getMessage)
      // hostile names would escape the governed layout / the ACL and
      // delete-sweep namespaces — every store entry point (including
      // the lock-taking append/compact, whose lock FILE path embeds
      // the name) rejects them with the designed error before any
      // filesystem traffic (round-11 ADVICE + round-12 review)
      Seq("../evil", "a/b", "_hidden", ".dot", "").foreach { bad =>
        intercept[IllegalArgumentException] {
          Similarity.saveIvfIndexStore(emb, "vec_id", "embedding", cb,
            store.root, bad, srvid = 1)
        }
        intercept[IllegalArgumentException] {
          Similarity.loadIvfIndexStore(spark, store.root, bad, 1)
        }
        intercept[IllegalArgumentException] {
          Similarity.appendIvfIndexStore(emb, "vec_id", "embedding",
            store.root, bad, srvid = 1)
        }
        intercept[IllegalArgumentException] {
          Similarity.compactIvfIndexStore(spark, store.root, bad, 1)
        }
        intercept[IllegalArgumentException] {
          graft.pipeline.Dedup.saveSignatureIndexStore(
            Tables.documents(spark, sfDir), "doc_id", "text",
            n = 3, k = 16, rowsPerBand = 4, store.root, bad, srvid = 1)
        }
        intercept[IllegalArgumentException] {
          graft.pipeline.Dedup.loadSignatureIndexStore(
            spark, store.root, bad, 1)
        }
        intercept[IllegalArgumentException] {
          graft.pipeline.Dedup.appendSignatureIndexStore(
            Tables.documents(spark, sfDir), "doc_id", "text",
            store.root, bad, srvid = 1)
        }
        intercept[IllegalArgumentException] {
          graft.pipeline.Dedup.compactSignatureIndexStore(
            spark, store.root, bad, 1)
        }
      }
      // ...and the rejected lock-taking entry points left NOTHING
      // under _locks: walk it recursively (a '/'-bearing name would
      // nest its lock file in a subdirectory a flat listing misses)
      // and assert the only lock file is the legitimate one this
      // test's own build created
      val locks = java.nio.file.Paths.get(store.root, "_locks")
      if (java.nio.file.Files.isDirectory(locks)) {
        val s = java.nio.file.Files.walk(locks)
        try {
          import scala.jdk.CollectionConverters._
          val found = s.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(p => locks.relativize(p).toString).toSet
          assert(found === Set("powa_index_par.srvid=1.lock"),
            s"hostile names left stray lock files: $found")
        } finally s.close()
      }
    }
  }

  test("IVF rebalance: retrain-in-place equals a fresh build with the " +
      "trained codebook; params survive; health report shows dead " +
      "centroids and exact shares") {
    import graft.pipeline.Similarity
    withStore { store =>
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      val cb = emb.select(col("vec_id").cast("long"),
          Similarity.asDouble(col("embedding")).as("v"))
        .filter(col("vec_id") < 8).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      // the skew path rebalance exists for: build on half the corpus,
      // admit the rest under the frozen build-time codebook
      Similarity.saveIvfIndexStore(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", cb, store.root, "reb", srvid = 1,
        nprobeDefault = 2)
      Similarity.appendIvfIndexStore(emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", store.root, "reb", srvid = 1)
      val total = emb.count()
      val before = Similarity.ivfIndexHealth(spark, store.root, "reb", 1)
        .collect()
      assert(before.map(_.getAs[Long]("n")).sum === total)
      val p = Similarity.rebalanceIvfIndexStore(spark, store.root, "reb",
        srvid = 1, iters = 2)
      // reference: a FRESH build with the same training rule on the
      // same corpus — rebalance must be indistinguishable from it
      val corpus = emb.select(col("vec_id").cast("long").as("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      val trained = Similarity.kmeansCodebook(
        Similarity.kmeansCentroidsInt(corpus, "vec_id", "v", 8, 2))
      Similarity.saveIvfIndexStore(emb, "vec_id", "embedding", trained,
        store.root, "rebref", srvid = 1,
        nprobeDefault = math.min(2, trained.size))
      val q = emb.filter(col("vec_id").isin(100L, 200L))
      val got = Similarity.probeIvfIndexStore(spark, store.root, "reb",
        1, q, "vec_id", "embedding", k = 5).collect().toSet
      val want = Similarity.probeIvfIndexStore(spark, store.root,
        "rebref", 1, q, "vec_id", "embedding", k = 5).collect().toSet
      assert(got === want && got.nonEmpty)
      val (ca, cba) = Similarity.loadIvfIndexStore(spark, store.root,
        "reb", 1)
      val (cw, cbw) = Similarity.loadIvfIndexStore(spark, store.root,
        "rebref", 1)
      assert(cba === cbw)
      assert(ca.exceptAll(cw).count() === 0 &&
        cw.exceptAll(ca).count() === 0)
      // params: k from the retrained codebook, nprobe_default carried
      // over from the original build (clamped to the new k)
      assert(p === Similarity.loadIvfParams(spark, store.root, "reb", 1))
      assert(p.k === trained.size &&
        p.nprobeDefault === math.min(2, trained.size))
      // health after rebalance: one row per codebook cell, counts
      // complete, integer shares sum to ≤ 10⁶ within k truncations
      val health = Similarity.ivfIndexHealth(spark, store.root, "reb", 1)
        .collect()
      assert(health.length === trained.size)
      assert(health.map(_.getAs[Long]("n")).sum === total)
      val shareSum = health.map(_.getAs[Long]("share_ppm")).sum
      assert(shareSum <= 1000000L && shareSum > 1000000L - trained.size)
      // dead centroids MUST show as n = 0 rows (grouping the cells
      // tier alone would hide them): 4 vectors against the 8 sampled
      // centroids populate exactly their own 4 cells
      Similarity.saveIvfIndexStore(emb.filter(col("vec_id") < 4),
        "vec_id", "embedding", cb, store.root, "dead", srvid = 1)
      val dh = Similarity.ivfIndexHealth(spark, store.root, "dead", 1)
        .collect().map(r => (r.getAs[Long]("cell"), r.getAs[Long]("n"),
          r.getAs[Long]("share_ppm")))
      assert(dh === Array((0L, 1L, 250000L), (1L, 1L, 250000L),
        (2L, 1L, 250000L), (3L, 1L, 250000L), (4L, 0L, 0L),
        (5L, 0L, 0L), (6L, 0L, 0L), (7L, 0L, 0L)))
      // a cell id present in the tier but absent from the codebook
      // (corruption / a foreign writer) must SURFACE as its own row,
      // not vanish from the counts
      locally {
        import spark.implicits._
        val store2 = new graft.core.Store(spark, store.root)
        store2.appendPartition("powa_index_dead", "cells", 1,
          Seq((999L, Seq.fill(64)(0.0d), 99L)).toDF("vec_id", "v", "cell"))
      }
      val dh2 = Similarity.ivfIndexHealth(spark, store.root, "dead", 1)
        .collect().map(r => (r.getAs[Long]("cell"), r.getAs[Long]("n")))
      assert(dh2.length === 9 && dh2.contains((99L, 1L)), dh2.mkString(","))
      // guards: iters and the missing-index path fail loudly
      intercept[IllegalArgumentException] {
        Similarity.rebalanceIvfIndexStore(spark, store.root, "reb", 1, 0)
      }
      val ghost = intercept[IllegalArgumentException] {
        Similarity.rebalanceIvfIndexStore(spark, store.root, "ghost", 1, 1)
      }
      assert(ghost.getMessage.contains("no params tier"), ghost.getMessage)
      intercept[IllegalArgumentException] {
        Similarity.rebalanceIvfIndexStore(spark, store.root, "../evil",
          1, 1)
      }
      intercept[IllegalArgumentException] {
        Similarity.ivfIndexHealth(spark, store.root, "../evil", 1)
      }
    }
  }

  test("index health reports: signature bucket skew per band; PQ " +
      "generations flagged against the meta tag, stale rows surfaced") {
    import graft.pipeline.{Dedup, Similarity}
    withStore { store =>
      import spark.implicits._
      // two identical docs + one distinct: identical texts share every
      // band signature, so each band must report 3 docs in 2 buckets
      // with a max bucket of 2 — the skew signal the report exists for
      val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"),
        (3L, "x y z w q r")).toDF("doc_id", "text")
      Dedup.saveSignatureIndexStore(docs, "doc_id", "text", n = 3,
        k = 16, rowsPerBand = 4, store.root, "sig", srvid = 1)
      val h = Dedup.signatureIndexHealth(spark, store.root, "sig", 1)
        .collect().map(r => (r.getAs[Long]("band"),
          r.getAs[Long]("n_docs"), r.getAs[Long]("n_buckets"),
          r.getAs[Long]("max_bucket")))
      assert(h.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
      assert(h.forall(t => t._2 == 3L && t._3 == 2L && t._4 == 2L),
        h.mkString(","))
      intercept[IllegalArgumentException] {
        Dedup.signatureIndexHealth(spark, store.root, "../evil", 1)
      }
      // a mistyped index name must fail loudly like the IVF/PQ health
      // reports, never return a silently-empty ("healthy") report
      intercept[IllegalArgumentException] {
        Dedup.signatureIndexHealth(spark, store.root, "nosuch", 1)
      }
      // PQ: build, then hand-plant a stale-generation codes row (the
      // torn-rebuild residue the generation fence hides from probes);
      // health must SURFACE it and keep the current count intact
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      Similarity.savePqIndexStore(emb, "vec_id", "embedding", dim = 64,
        m = 8, k = 4, iters = 1, store.root, "pq", srvid = 1)
      store.appendPartition("powa_index_pq", "pq_codes", 1,
        Seq((9999L, Seq.fill(8)(0), 12345L)).toDF("vec_id", "codes", "gen"))
      val ph = Similarity.pqIndexHealth(spark, store.root, "pq", 1)
        .collect().map(r => (r.getAs[Long]("n_codes"),
          r.getAs[Boolean]("is_current"))).toSet
      assert(ph === Set((500L, true), (1L, false)), ph.toString)
      // the crashed-rebuild diagnosis is an EXPLICIT zero row: re-point
      // the whole codes tier at a foreign generation (what a rebuild
      // that died between the codes and meta commits leaves behind) —
      // the report must still carry a current-generation row at 0
      store.overwritePartition("powa_index_pq", "pq_codes", 1,
        Seq((1L, Seq.fill(8)(0), 777L)).toDF("vec_id", "codes", "gen"))
      val ph2 = Similarity.pqIndexHealth(spark, store.root, "pq", 1)
        .collect().map(r => (r.getAs[Long]("n_codes"),
          r.getAs[Boolean]("is_current"))).toSet
      assert(ph2 === Set((0L, true), (1L, false)), ph2.toString)
    }
  }

  test("pqKnnJoinStore: each query of the batch ranks exactly as its " +
      "single probe; guards on empty batch and drifted query dim") {
    import graft.pipeline.Similarity
    withStore { store =>
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      Similarity.savePqIndexStore(emb, "vec_id", "embedding", dim = 64,
        m = 8, k = 4, iters = 1, store.root, "pq", srvid = 1)
      val batch = Similarity.pqKnnJoinStore(spark, store.root, "pq", 1,
          emb.filter(col("vec_id").isin(0L, 100L)), "vec_id",
          "embedding", topK = 10)
        .collect()
        .groupBy(_.getAs[Long]("qid"))
        .map { case (q, rows) => q -> rows.map(r =>
          (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_dist"))).toSeq }
      for (qid <- Seq(0L, 100L)) {
        val qv = emb.filter(col("vec_id") === qid)
          .select(Similarity.asDouble(col("embedding"))).collect()(0)
          .getSeq[Double](0).toSeq
        val single = Similarity.probePqIndexStore(spark, store.root,
            "pq", 1, qv, excludeId = Some(qid), topK = 10)
          .collect().map(r => (r.getAs[Long]("vec_id"),
            r.getAs[Long]("adc_dist"))).toSeq
        assert(batch(qid) === single, s"qid $qid diverged")
      }
      // the plan-size guard: a batch larger than maxChunk splits into
      // per-chunk scans whose union is exactly the one-batch result
      val chunked = Similarity.pqKnnJoinStore(spark, store.root, "pq", 1,
          emb.filter(col("vec_id").isin(0L, 100L)), "vec_id",
          "embedding", topK = 10, maxChunk = 1)
        .collect()
        .groupBy(_.getAs[Long]("qid"))
        .map { case (q, rows) => q -> rows.map(r =>
          (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_dist"))).toSeq }
      assert(chunked === batch, "chunked batch diverged from one-plan batch")
      intercept[IllegalArgumentException] {
        Similarity.pqKnnJoinStore(spark, store.root, "pq", 1,
          emb.filter(col("vec_id") < 0), "vec_id", "embedding", 10)
      }
      import spark.implicits._
      val shortVec = Seq((7L, Seq.fill(32)(0.5f)))
        .toDF("vec_id", "embedding")
      intercept[IllegalArgumentException] {
        Similarity.pqKnnJoinStore(spark, store.root, "pq", 1,
          shortVec, "vec_id", "embedding", 10)
      }
      // a duplicated query id would double every candidate under the
      // rank window — silently wrong top-k, must refuse loudly
      intercept[IllegalArgumentException] {
        Similarity.pqKnnJoinStore(spark, store.root, "pq", 1,
          emb.filter(col("vec_id") === 0L)
            .union(emb.filter(col("vec_id") === 0L)),
          "vec_id", "embedding", 10)
      }
    }
  }

  test("persisted PQ index: probe over codes only equals per-call " +
      "pqTopK; admission encodes with persisted codebooks; geometry " +
      "drift and hostile names refused") {
    import graft.pipeline.Similarity
    withStore { store =>
      val sfDir = "/root/testdata/sf0.001"
      val emb = Tables.embeddings(spark, sfDir)
      Similarity.savePqIndexStore(emb, "vec_id", "embedding",
        dim = 64, m = 8, k = 4, iters = 1, store.root, "pq", srvid = 1)
      val qv = emb.filter(col("vec_id") === 0L)
        .select(Similarity.asDouble(col("embedding"))).collect()(0)
        .getSeq[Double](0).toSeq
      val got = Similarity.probePqIndexStore(spark, store.root, "pq", 1,
        qv, excludeId = Some(0L), topK = 10).collect().toSeq
      // identical ranking AND distances to the per-call train+probe
      val want = Similarity.pqTopK(emb, "vec_id", "embedding",
        queryId = 0L, dim = 64, m = 8, k = 4, iters = 1, topK = 10)
        .collect().toSeq
      assert(got.map(r => (r.getLong(0), r.getLong(1))) ===
        want.map(r => (r.getLong(0), r.getLong(1))))
      // the probe plan reads the CODES tier only — no raw-vector scan
      val probePlan = Similarity.probePqIndexStore(spark, store.root,
        "pq", 1, qv, Some(0L), 10).queryExecution.optimizedPlan.toString
      assert(!probePlan.contains("embedding"),
        s"PQ probe must never read raw vectors:\n$probePlan")
      // params say what the build used (gen is build-stamped — check
      // the geometry fields)
      val p0 = Similarity.loadPqParams(spark, store.root, "pq", 1)
      assert((p0.m, p0.k, p0.dim, p0.metric) === ((8, 4, 64, "l2_e4")))
      // GENERATION fence: codes bind to the codebooks they were
      // encoded against — a meta row from a DIFFERENT generation (the
      // torn-rebuild read) yields ZERO stale-generation rows, never
      // cross-generation distances (round-12 review)
      import spark.implicits._
      def metaRow(m: Int, metric: String, gen: Long) = {
        val subs: List[Int] = (0 until 8).toList
        Seq((m, 4, 64, metric, gen, subs,
          subs.map(_.toLong), subs.map(_ => Seq.fill(8)(0L))))
          .toDF("m", "k", "dim", "metric", "gen", "subs", "cids", "cvs")
      }
      store.overwritePartition("powa_index_pq", "pq_meta", 1,
        metaRow(8, "l2_e4", gen = 42L))
      val (codesNewGen, _, _) =
        Similarity.loadPqIndexStore(spark, store.root, "pq", 1)
      assert(codesNewGen.count() === 0L,
        "stale-generation codes must be invisible to a newer meta row")
      // geometry drift: an m the codebooks don't cover refuses to load
      store.overwritePartition("powa_index_pq", "pq_meta", 1,
        metaRow(16, "l2_e4", gen = 42L))
      val drift = intercept[IllegalArgumentException] {
        Similarity.loadPqIndexStore(spark, store.root, "pq", 1)
      }
      assert(drift.getMessage.contains("geometry drift"), drift.getMessage)
      // ...and a foreign metric tag refuses in loadPqParams itself
      store.overwritePartition("powa_index_pq", "pq_meta", 1,
        metaRow(8, "cosine", gen = 42L))
      val metric = intercept[IllegalArgumentException] {
        Similarity.loadPqParams(spark, store.root, "pq", 1)
      }
      assert(metric.getMessage.contains("metric"), metric.getMessage)
      // dim fence at admission: a longer vector must fail loudly, not
      // be silently encoded from its 64-element prefix
      store.overwritePartition("powa_index_pq", "pq_meta", 1,
        metaRow(8, "l2_e4", gen = 42L))
      val wide = emb.limit(4).select(col("vec_id"),
        concat(col("embedding"), col("embedding")).as("embedding"))
      val dimErr = intercept[Exception] {
        Similarity.appendPqIndexStore(wide, "vec_id", "embedding",
          store.root, "pq", 1)
      }
      def chain(t: Throwable): String =
        if (t == null) "" else t.toString + "\n" + chain(t.getCause)
      assert(chain(dimErr).contains("vector dim"), chain(dimErr).take(400))
      // CRASH CONSISTENCY (meta commits first): a rebuild that died
      // between the meta and codes commits leaves an EMPTY but
      // CONSISTENT index — appends encode with the new meta's
      // codebooks and stamp its generation, so the index grows
      // correctly from zero instead of silently mixing generations
      assert(Similarity.loadPqIndexStore(
        spark, store.root, "pq", 1)._1.count() === 0L)
      Similarity.appendPqIndexStore(emb.limit(3), "vec_id", "embedding",
        store.root, "pq", 1)
      assert(Similarity.probePqIndexStore(spark, store.root, "pq", 1,
        qv, excludeId = None, topK = 10).count() === 3L,
        "post-crash appends must form a consistent new-generation index")
      // corrupt NEGATIVE codes must die on the named range fence —
      // non-ANSI element_at would otherwise read them from the END of
      // the distance table and return a valid-looking distance
      store.overwritePartition("powa_index_pq", "pq_codes", 1,
        Seq((123L, Seq.fill(8)(-2), 42L)).toDF("vec_id", "codes", "gen"))
      val neg = intercept[Exception] {
        Similarity.probePqIndexStore(spark, store.root, "pq", 1,
          qv, None, 5).collect()
      }
      assert(chain(neg).contains("code out of codebook range"),
        chain(neg).take(400))
      // ...and the POSITIVE out-of-range arm (code >= subspace k): an
      // over-range code nulls out under non-ANSI element_at and would
      // sort FIRST, silently winning the top-k, if the fence weakened
      // to a >= 0 check
      store.overwritePartition("powa_index_pq", "pq_codes", 1,
        Seq((124L, Seq.fill(8)(1), 42L)).toDF("vec_id", "codes", "gen"))
      val over = intercept[Exception] {
        Similarity.probePqIndexStore(spark, store.root, "pq", 1,
          qv, None, 5).collect()
      }
      assert(chain(over).contains("code out of codebook range"),
        chain(over).take(400))
      // hostile names die before the name-derived lock path
      Seq("../evil", "a/b", "_hidden").foreach { bad =>
        intercept[IllegalArgumentException] {
          Similarity.savePqIndexStore(emb, "vec_id", "embedding",
            64, 8, 4, 1, store.root, bad, 1)
        }
        intercept[IllegalArgumentException] {
          Similarity.appendPqIndexStore(emb, "vec_id", "embedding",
            store.root, bad, 1)
        }
        intercept[IllegalArgumentException] {
          Similarity.compactPqIndexStore(spark, store.root, bad, 1)
        }
      }
    }
  }

  test("backfillIvfParams migrates a pre-params index; refuses to " +
      "overwrite live geometry") {
    import graft.pipeline.Similarity
    withStore { store =>
      val sfDir = "/root/testdata/sf0.001"
      val emb = Tables.embeddings(spark, sfDir)
      val cb = emb.select(col("vec_id").cast("long"),
          Similarity.asDouble(col("embedding")).as("v"))
        .filter(col("vec_id") < 8).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      // simulate a pre-params-era index: build, then delete the params
      // tier out from under it (the r11 layout had no params)
      Similarity.saveIvfIndexStore(emb, "vec_id", "embedding", cb,
        store.root, "old", srvid = 1, nprobeDefault = 2)
      graft.core.AtomicSwap.deleteRecursively(
        java.nio.file.Paths.get(store.root, "powa_index_old", "params"))
      // frozen: every maintenance/probe entry point fails loudly...
      intercept[IllegalArgumentException] {
        Similarity.loadIvfIndexStore(spark, store.root, "old", 1)
      }
      intercept[IllegalArgumentException] {
        Similarity.appendIvfIndexStore(
          emb.limit(4), "vec_id", "embedding", store.root, "old", 1)
      }
      // ...until the backfill derives (k, dim) from the codebook
      val p = Similarity.backfillIvfParams(spark, store.root, "old", 1,
        nprobeDefault = 2)
      assert(p === Similarity.IvfParams(8, 64, 2, "cosine"))
      // the migrated index probes exactly like a params-era build
      val q = emb.filter(col("vec_id").isin(100L, 200L))
      val got = Similarity.probeIvfIndexStore(spark, store.root, "old",
        1, q, "vec_id", "embedding", k = 5).collect().toSet
      Similarity.saveIvfIndexStore(emb, "vec_id", "embedding", cb,
        store.root, "new", srvid = 1, nprobeDefault = 2)
      val want = Similarity.probeIvfIndexStore(spark, store.root, "new",
        1, q, "vec_id", "embedding", k = 5).collect().toSet
      assert(got === want && got.nonEmpty)
      // refuses to overwrite LIVE geometry — a re-shape is a rebuild
      val live = intercept[IllegalArgumentException] {
        Similarity.backfillIvfParams(spark, store.root, "old", 1)
      }
      assert(live.getMessage.contains("already has a params tier"),
        live.getMessage)
    }
  }

  test("store-resident signature index: probeIndexStore matches " +
      "probeIndex, with the corpus-side frames never shuffled") {
    import graft.pipeline.Dedup
    withStore { store =>
      val sfDir = "/root/testdata/sf0.001"
      val docs = Tables.documents(spark, sfDir)
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"))
      val (hsh, banded) = Dedup.signatureIndex(docs, "doc_id", "text",
        n = 3, k = 16, rowsPerBand = 4)
      Dedup.saveSignatureIndexStore(docs, "doc_id", "text",
        n = 3, k = 16, rowsPerBand = 4, store.root, "v2sig", srvid = 2)
      val (hsh2, banded2) =
        Dedup.loadSignatureIndexStore(spark, store.root, "v2sig", srvid = 2)
      val got = Dedup.probeIndexStore(hsh2, banded2, batch, "doc_id", 0.8)
      val want = Dedup.probeIndex(hsh, banded, batch, "doc_id", 0.8)
        .collect().toSet
      assert(got.collect().toSet === want && want.nonEmpty)
      // scale shape: every join that touches a corpus-sized index scan
      // must BROADCAST its other (batch-bounded) side — a sort-merge
      // join over a store scan would reshuffle the index per probe.
      // (Hash exchanges of the batch-bounded candidate frames are fine.)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def flatten(p: SparkPlan): Seq[SparkPlan] =
        (p +: p.children.flatMap(flatten)) ++ (p match {
          case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
          case q: QueryStageExec => flatten(q.plan)
          case r: ReusedExchangeExec => flatten(r.child)
          case _ => Seq.empty
        })
      def touchesIndex(p: SparkPlan): Boolean = flatten(p).exists {
        case b: BatchScanExec => b.scan.isInstanceOf[StoreScan]
        case _ => false
      }
      val smjOverIndex = flatten(got.queryExecution.executedPlan).collect {
        case j: SortMergeJoinExec if touchesIndex(j) => j
      }
      assert(smjOverIndex.isEmpty,
        s"index-side joins must broadcast the batch side:\n" +
          got.queryExecution.executedPlan)
      // lifecycle: admit the same docs again as appends on a fresh
      // index (halves), compact both tiers to single files, and the
      // probe must still be pair-identical
      Dedup.saveSignatureIndexStore(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        n = 3, k = 16, rowsPerBand = 4, store.root, "v2sig2", srvid = 2)
      // the append reads the persisted geometry; a missing index
      // fails loudly instead of silently mixing bandings
      intercept[IllegalArgumentException] {
        Dedup.appendSignatureIndexStore(
          docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text",
          store.root, "no_such_index", srvid = 2)
      }
      Dedup.appendSignatureIndexStore(
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text",
        store.root, "v2sig2", srvid = 2)
      Dedup.compactSignatureIndexStore(spark, store.root, "v2sig2", 2)
      val shLay = StoreLayout(store.root, "powa_index_v2sig2", "sh")
      val bandLay = StoreLayout(store.root, "powa_index_v2sig2", "bands")
      assert(shLay.files(2).size === 1 && bandLay.files(2).size === 1,
        s"compaction must fold to one file per tier at this volume, " +
          s"got ${shLay.files(2).size}/${bandLay.files(2).size}")
      val (h2, b2) =
        Dedup.loadSignatureIndexStore(spark, store.root, "v2sig2", 2)
      assert(Dedup.probeIndexStore(h2, b2, batch, "doc_id", 0.8)
        .collect().toSet === want)
    }
  }
}
