package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.spec.Specs

/** Golden replay of the reference state machine —
  * sql/01_general.sql:83-153 with powa.coalesce = 5:
  * empty → 1 snapshot (current populated, history empty) → 5 snapshots
  * (aggregate fired: history populated, current drained) → tick 6
  * (purge fired) → reset (all empty). Plus the remote-staging and
  * error-isolation semantics of 02_remote_api.sql.
  */
class EngineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def mkEngine(): Engine = {
    val root = java.nio.file.Files.createTempDirectory("graft_engine").toString
    new Engine(spark, root)
  }

  /** A deterministic bgwriter staging batch for one tick. */
  private def bgwriterBatch(srvid: Int, tick: Int): DataFrame =
    bgwriterAt(srvid, Timestamp.valueOf(f"2024-01-01 00:0$tick:00"), tick)

  /** One bgwriter sample at `ts`, counters scaled by `n`. */
  private def bgwriterAt(srvid: Int, ts: Timestamp, n: Long): DataFrame = {
    import spark.implicits._
    Seq((srvid, ts, 100L * n, 10L * n, 5L * n, 2L * n, 1L * n))
      .toDF("srvid", "ts", "buffers_clean", "maxwritten_clean",
        "buffers_backend", "buffers_backend_fsync", "buffers_alloc")
  }

  /** One checkpointer sample at `ts`. */
  private def checkpointerAt(srvid: Int, ts: Timestamp): DataFrame = {
    import spark.implicits._
    Seq((srvid, ts, 1L, 2L, 3.0, 4.0, 5L))
      .toDF("srvid", "ts", "num_timed", "num_requested", "write_time",
        "sync_time", "buffers_written")
  }

  /** One user-functions sample at `ts`. */
  private def userFunctionsAt(srvid: Int, ts: Timestamp): DataFrame = {
    import spark.implicits._
    Seq((srvid, ts, 100L, 1L, 10L, 5.0, 7.0))
      .toDF("srvid", "ts", "dbid", "funcid", "calls", "total_time", "self_time")
  }

  private def tierCount(e: Engine, ds: String, tier: String): Long = {
    val spec = Specs.byName(ds)
    if (tier == GenericDatasource.History)
      e.store.read(ds, tier, GenericDatasource.historyNoSrvid(spec)).count()
    else e.store.read(ds, tier, GenericDatasource.currentNoSrvid(spec)).count()
  }

  test("01_general cadence: snapshot x5 -> aggregate, tick 6 -> purge, reset") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 20, hostname = "h", powaCoalesce = 5, retentionSec = 60))
    // srvid % 20 == 0 so the phase arithmetic matches the local cadence
    val ds = "powa_stat_bgwriter"

    assert(tierCount(e, ds, GenericDatasource.Current) === 0)

    // tick 1: current populated, history empty (01_general.sql:109-120)
    e.ingest(ds, bgwriterBatch(srvid, 1))
    assert(e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:01:30")) === 0)
    assert(tierCount(e, ds, GenericDatasource.Current) === 1)
    assert(tierCount(e, ds, GenericDatasource.History) === 0)

    // ticks 2..5: 5th triggers aggregate (01_general.sql:122-137)
    (2 to 5).foreach { t =>
      e.ingest(ds, bgwriterBatch(srvid, t))
      e.takeSnapshot(srvid, Timestamp.valueOf(f"2024-01-01 00:0$t:30"))
    }
    assert(tierCount(e, ds, GenericDatasource.Current) === 0)
    assert(tierCount(e, ds, GenericDatasource.History) === 1)
    assert(e.store.listBuckets(ds, GenericDatasource.History, srvid) ===
      Seq("2024-01"))
    val hist = e.store.read(ds, GenericDatasource.History,
      GenericDatasource.historyNoSrvid(Specs.byName(ds)))
    val row = hist.select(size(col("records")), col("range_start"), col("range_end")).head()
    assert(row.getInt(0) === 5)
    assert(row.getTimestamp(1) === Timestamp.valueOf("2024-01-01 00:01:00"))
    assert(row.getTimestamp(2) === Timestamp.valueOf("2024-01-01 00:05:00"))

    // tick 6: purge pass fires; retention=60s from "now" drops the range
    e.ingest(ds, bgwriterBatch(srvid, 6))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 01:00:00"))
    assert(tierCount(e, ds, GenericDatasource.History) === 0)
    assert(tierCount(e, ds, GenericDatasource.Current) === 1) // tick-6 row

    // reset: everything empty (01_general.sql:143-153)
    e.reset(srvid)
    assert(tierCount(e, ds, GenericDatasource.Current) === 0)
    assert(tierCount(e, ds, GenericDatasource.History) === 0)
    assert(e.registry.meta(srvid).coalesceSeq === 0)
  }

  test("multi-batch staging: one tick drains N landed batches, values equal per-batch ticks") {
    // the reference's staging drain reads ALL staged rows regardless of
    // how many collector landings produced them (powa--5.2.0.sql:
    // 3980-4001 has no ts filter) — one tick over N batches must yield
    // the same records as N single-batch ticks, for both the per-entity
    // and the per-db rollup tier
    val ds = "powa_stat_bgwriter"
    val multi = mkEngine()
    val one = multi.registry.registerServer(ServerConfig(
      id = 20, hostname = "h", powaCoalesce = 50, retentionSec = 3650L * 86400))
    // three collector landings, then ONE tick
    (1 to 3).foreach(t => multi.ingest(ds, bgwriterBatch(one, t)))
    assert(multi.takeSnapshot(one, Timestamp.valueOf("2024-01-01 01:00:00")) === 0)
    // staging fully drained in that single tick
    assert(!multi.store.hasPartition(ds, GenericDatasource.Staging, one))

    val single = mkEngine()
    val two = single.registry.registerServer(ServerConfig(
      id = 20, hostname = "h", powaCoalesce = 50, retentionSec = 3650L * 86400))
    (1 to 3).foreach { t =>
      single.ingest(ds, bgwriterBatch(two, t))
      single.takeSnapshot(two, Timestamp.valueOf(f"2024-01-01 00:0$t:30"))
    }

    val from = Timestamp.valueOf("2023-01-01 00:00:00")
    val to = Timestamp.valueOf("2025-01-01 00:00:00")
    def series(e: Engine, id: Int) =
      e.datasource(ds).readSeries(e.store, id, from, to)
        .select(col("record")) // ts rides inside the record struct
    val (a, b) = (series(multi, one), series(single, two))
    assert(a.count() === 3L)
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "multi-batch drain must preserve every record the per-batch ticks produce")
  }

  test("a tick writes one file per (server, sink tier), however many " +
      "files the collector's batch landed in staging") {
    import spark.implicits._
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 20, hostname = "h", powaCoalesce = 50, retentionSec = 3650L * 86400))
    val ts = Timestamp.valueOf("2024-01-01 00:01:00")
    val n = 8
    val bgwriter = (1 to n).map(i => bgwriterBatch(srvid, i)).reduce(_.union(_))
    val statements = (1 to n).map(i =>
        (srvid, ts, i.toLong, (i % 2).toLong + 1L, true, 10L, 3L * i))
      .toDF("srvid", "ts", "queryid", "dbid", "toplevel", "userid", "calls")
      .select(col("*") +: Specs.statements.counterCols
        .filterNot(_.name == "calls")
        .map(c => lit(null).cast(c.dt).as(c.name)): _*)
      .withColumn("query", concat(lit("SELECT "), col("queryid")))
    val qualstats = (1 to n).map(i =>
        (srvid, ts, 70L + i, 1L, 100L, 10L, 2L * i, 9L, 1L, 0.5, 1.0))
      .toDF("srvid", "ts", "qualid", "queryid", "dbid", "userid",
        "occurences", "execution_count", "nbfiltered",
        "mean_err_estimate_ratio", "mean_err_estimate_num")
      .withColumn("quals", array(struct(lit(200L).as("relid"),
        lit(1).as("attnum"), lit(96L).as("opno"), lit("f").as("eval_type"))))
      .withColumn("constvalues", array(lit("a")))
    val batches = Seq("powa_stat_bgwriter" -> bgwriter,
      "powa_statements" -> statements, "powa_qualstats" -> qualstats)

    def parquetFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      finally s.close()
    }
    def partDir(ds: String, tier: String) =
      java.nio.file.Paths.get(e.store.root, ds, tier, s"srvid=$srvid")
    batches.foreach { case (ds, df) =>
      e.ingest(ds, df.repartition(4))
      assert(parquetFiles(partDir(ds, GenericDatasource.Staging)).size === 4,
        s"$ds: the collector batch must land as 4 staging files")
    }
    assert(e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:01:30")) === 0)

    val qd = e.datasource("powa_qualstats").asInstanceOf[QualstatsDatasource]
    val sinks = Seq(
      "powa_stat_bgwriter" -> GenericDatasource.Current,
      "powa_statements" -> GenericDatasource.Current,
      "powa_statements" -> GenericDatasource.CurrentDb,
      "powa_qualstats" -> GenericDatasource.Current,
      "powa_qualstats" -> qd.Constvalues)
    sinks.foreach { case (ds, tier) =>
      val s = java.nio.file.Files.list(partDir(ds, tier))
      val batchDirs =
        try s.iterator().asScala
          .filter(_.getFileName.toString.startsWith(".batch_")).toList
        finally s.close()
      assert(batchDirs.size === 1, s"$ds/$tier: one batch per tick")
      assert(parquetFiles(batchDirs.head).size === 1,
        s"$ds/$tier: one file per (server, tier) per tick")
    }

    // rows and counters read back exactly as staged
    def current(ds: String) = e.store.readPartition(ds,
      GenericDatasource.Current, srvid,
      GenericDatasource.currentNoSrvid(Specs.byName(ds)))
    def countAndSum(df: DataFrame, counter: String): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col(counter))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(countAndSum(current("powa_stat_bgwriter"), "record.buffers_clean") ===
      ((n.toLong, 100L * (1 to n).sum)))
    assert(countAndSum(current("powa_statements"), "record.calls") ===
      ((n.toLong, 3L * (1 to n).sum)))
    assert(countAndSum(current("powa_qualstats"), "record.occurences") ===
      ((n.toLong, 2L * (1 to n).sum)))
    val cv = e.store.readPartition("powa_qualstats", qd.Constvalues, srvid,
      qd.constvaluesSchema)
    assert(countAndSum(cv, "occurences") === ((n.toLong, 2L * (1 to n).sum)))
    val perDb = e.store.readPartition("powa_statements",
      GenericDatasource.CurrentDb, srvid, GenericDatasource.currentNoSrvid(
        e.datasource("powa_statements").dbSpec.get))
    assert(countAndSum(perDb, "record.calls") === ((2L, 3L * (1 to n).sum)))
  }

  test("de-phased 3-tick cadence (the q34/q36 shape) leaves a real current/history mix") {
    // srvid 23 with coalesce 5 → phases (seq + 3) % 5 = 4, 0, 1: the
    // aggregate fires MID-STREAM (tick 2), so after tick 3 history holds
    // the coalesced early batches AND current holds the late one — the
    // multi-batch round-trip queries depend on this mix being real
    // (review finding: a cadence that never reaches phase 0 silently
    // reduces them to current-only reads)
    val ds = "powa_stat_bgwriter"
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 23, hostname = "h", powaCoalesce = 5,
      retentionSec = 3650L * 86400))
    (1 to 3).foreach { t =>
      e.ingest(ds, bgwriterBatch(srvid, t))
      e.takeSnapshot(srvid, Timestamp.valueOf(f"2024-01-01 00:0$t:30"))
    }
    assert(tierCount(e, ds, GenericDatasource.History) > 0,
      "the tick-2 aggregate must have coalesced into history")
    assert(tierCount(e, ds, GenericDatasource.Current) > 0,
      "the tick-3 batch must still sit in current")
  }

  test("purge drops whole stale month buckets, rewrites only the boundary month") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 160, hostname = "h", powaCoalesce = 5,
      retentionSec = 45L * 86400)) // generous while both months accumulate
    val ds = "powa_stat_bgwriter"
    def tick(day: String, t: Int): Unit = {
      import spark.implicits._
      val batch = Seq((srvid, Timestamp.valueOf(s"$day 00:00:00"),
        100L * t, 10L * t, 5L * t, 2L * t, 1L * t))
        .toDF("srvid", "ts", "buffers_clean", "maxwritten_clean",
          "buffers_backend", "buffers_backend_fsync", "buffers_alloc")
      e.ingest(ds, batch)
      e.takeSnapshot(srvid, Timestamp.valueOf(s"$day 00:00:30"))
    }
    (1 to 5).foreach(t => tick(f"2024-01-${9 + t}%02d", t))   // Jan bucket
    (6 to 10).foreach(t => tick(f"2024-02-${14 + t}%02d", t)) // Feb bucket
    assert(e.store.listBuckets(ds, GenericDatasource.History, srvid) ===
      Seq("2024-01", "2024-02"))
    // shrink retention (powa_configure_server), then tick 11 → phase 1 →
    // purge; cutoff = Mar 1 − 15d = Feb 15
    e.registry.configureServer(srvid, _.copy(retentionSec = 15L * 86400))
    tick("2024-03-01", 11)
    assert(e.store.listBuckets(ds, GenericDatasource.History, srvid) ===
      Seq("2024-02"))
    assert(tierCount(e, ds, GenericDatasource.History) === 1)
  }

  test("per-db rollup tier populated at snapshot time") {
    import spark.implicits._
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 40, hostname = "h"))
    val staged = Seq(
      (srvid, Timestamp.valueOf("2024-01-01 00:00:00"), 100L, 1L, 10L, 5.0, 7.0),
      (srvid, Timestamp.valueOf("2024-01-01 00:00:00"), 100L, 2L, 20L, 3.0, 2.0),
      (srvid, Timestamp.valueOf("2024-01-01 00:00:00"), 200L, 3L, 30L, 1.0, 1.0))
      .toDF("srvid", "ts", "dbid", "funcid", "calls", "total_time", "self_time")
    e.ingest("powa_user_functions", staged)
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:30"))

    val cur = e.store.read("powa_user_functions", GenericDatasource.Current,
      GenericDatasource.currentNoSrvid(Specs.userFunctions))
    assert(cur.count() === 3)
    val dbs = e.datasource("powa_user_functions").dbSpec.get
    val curDb = e.store.read("powa_user_functions", GenericDatasource.CurrentDb,
      GenericDatasource.currentNoSrvid(dbs))
    val db100 = curDb.filter(col("dbid") === 100L).select(col("record.calls")).head()
    assert(db100.getLong(0) === 30L) // 10 + 20 summed per dbid
    // staging drained after snapshot (powa--5.2.0.sql:4102-4104)
    assert(e.store.read("powa_user_functions", GenericDatasource.Staging,
      Specs.userFunctions.stagingSchema).count() === 0)
    // the per-db dashboard API reads the same tier back with rates
    val dbSeries = e.readSeriesDbWithRates("powa_user_functions", srvid,
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-01-02 00:00:00"))
    assert(dbSeries.count() === 2) // dbids 100 and 200
    assert(dbSeries.columns.contains("calls_per_sec"))
  }

  test("empty ingest writes no staging partition; the tick stays a no-op") {
    // the snapshot path gates on partition-dir existence instead of a
    // per-tick count action, which is only sound if an empty ingest
    // leaves no partition directory behind — pin that invariant
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 300, hostname = "h"))
    val ds = "powa_stat_bgwriter"
    e.ingest(ds, bgwriterBatch(srvid, 1).filter(col("srvid") < 0))
    assert(!e.store.hasPartition(ds, GenericDatasource.Staging, srvid))
    assert(e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:30")) === 0)
    assert(tierCount(e, ds, GenericDatasource.Current) === 0)
  }

  test("error isolation: a failing datasource does not abort the tick") {
    import spark.implicits._
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 60, hostname = "h"))
    // stage a malformed frame for one datasource (ts with the wrong
    // physical type — unreadable under the staging schema)
    val bad = Seq((srvid, "not-a-timestamp"))
      .toDF("srvid", "ts")
    e.ingest("powa_stat_checkpointer", bad)
    e.ingest("powa_stat_bgwriter", bgwriterBatch(srvid, 1))
    val errs = e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:30"))
    assert(errs === 1)
    assert(e.registry.meta(srvid).errors.exists(_.contains("powa_stat_checkpointer")))
    // the healthy source still snapshotted
    assert(tierCount(e, "powa_stat_bgwriter", GenericDatasource.Current) === 1)
  }

  test("version gating: minVersion datasources skipped on old servers") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 80, hostname = "h", versionNum = 120000))
    import spark.implicits._
    // pg_stat_lock requires 190000; staged rows must be ignored
    val staged = Seq((srvid, Timestamp.valueOf("2024-01-01 00:00:00"),
      "relation", 1L, 2L, 3L, Option.empty[Timestamp]))
      .toDF("srvid", "ts", "locktype", "waits", "wait_time",
        "fastpath_exceeded", "stats_reset")
    e.ingest("powa_stat_lock", staged)
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:30"))
    assert(tierCount(e, "powa_stat_lock", GenericDatasource.Current) === 0)
  }

  test("deactivated server takes no snapshot") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 100, hostname = "h"))
    e.registry.deactivateServer(srvid)
    e.ingest("powa_stat_bgwriter", bgwriterBatch(srvid, 1))
    e.takeSnapshot(srvid)
    assert(tierCount(e, "powa_stat_bgwriter", GenericDatasource.Current) === 0)
    assert(e.registry.meta(srvid).coalesceSeq === 0)
  }

  test("readback across aggregate boundary") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 120, hostname = "h", powaCoalesce = 5))
    (1 to 6).foreach { t =>
      e.ingest("powa_stat_bgwriter", bgwriterBatch(srvid, t))
      e.takeSnapshot(srvid, Timestamp.valueOf(f"2024-01-01 00:0$t:30"))
    }
    // ticks 1-5 coalesced into history, tick 6 in current
    val series = e.datasource("powa_stat_bgwriter").readSeries(e.store, srvid,
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-01-01 00:10:00"))
    assert(series.count() === 6)
    assert(series.select(sum(when(col("record.buffers_clean") === 600L, 1)
      .otherwise(0))).head().getLong(0) === 1)
  }

  test("statements datasource maintains its query-text dimension via Engine") {
    import spark.implicits._
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 140, hostname = "h"))
    def staged(ts: String, calls: Long): org.apache.spark.sql.DataFrame =
      Seq((srvid, Timestamp.valueOf(ts), 1L, 100L, true, 10L, calls))
        .toDF("srvid", "ts", "queryid", "dbid", "toplevel", "userid", "calls")
        .withColumn("total_exec_time", lit(1.0))
        .withColumn("rows", lit(1L))
        .select(col("*") +: graft.spec.Specs.statements.counterCols
          .filterNot(c => Set("calls", "total_exec_time", "rows").contains(c.name))
          .map(c => lit(null).cast(c.dt).as(c.name)): _*)
        .withColumn("query", lit("SELECT 1"))
    e.ingest("powa_statements", staged("2024-01-01 00:00:00", 5L))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:30"))
    e.ingest("powa_statements", staged("2024-01-01 00:05:00", 9L))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:05:30"))

    val sd = e.datasource("powa_statements").asInstanceOf[StatementsDatasource]
    val dim = sd.readDim(e.store, srvid).collect()
    assert(dim.length === 1) // MRU-touched, not duplicated
    assert(dim.head.getAs[Timestamp]("last_present_ts") ===
      Timestamp.valueOf("2024-01-01 00:05:30"))
    assert(tierCount(e, "powa_statements", GenericDatasource.Current) === 2)
    // reset clears the dimension too
    e.reset(srvid)
    assert(sd.readDim(e.store, srvid).count() === 0)
  }

  test("qualstats datasource: quals dimension + constvalues tier via Engine") {
    import spark.implicits._
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 180, hostname = "h"))
    def staged(ts: String): org.apache.spark.sql.DataFrame =
      Seq((srvid, Timestamp.valueOf(ts), 77L, 1L, 100L, 10L,
        6L, 9L, 1L, 0.5, 1.0))
        .toDF("srvid", "ts", "qualid", "queryid", "dbid", "userid",
          "occurences", "execution_count", "nbfiltered",
          "mean_err_estimate_ratio", "mean_err_estimate_num")
        .withColumn("quals", array(struct(lit(200L).as("relid"),
          lit(1).as("attnum"), lit(96L).as("opno"), lit("f").as("eval_type"))))
        .withColumn("constvalues", array(lit("a"), lit("b")))
    e.ingest("powa_qualstats", staged("2024-01-01 00:00:00"))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:30"))
    e.ingest("powa_qualstats", staged("2024-01-01 00:05:00"))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:05:30"))

    val qd = e.datasource("powa_qualstats").asInstanceOf[QualstatsDatasource]
    assert(qd.readDim(e.store, srvid).count() === 1) // anti-join, no dup
    assert(tierCount(e, "powa_qualstats", GenericDatasource.Current) === 2)
    val cv = e.store.read("powa_qualstats", qd.Constvalues,
      StructType(qd.stagingFull.fields.filterNot(_.name == "srvid")))
    assert(cv.count() === 2)
    assert(cv.select(explode(col("constvalues"))).count() === 4)
    e.reset(srvid)
    assert(qd.readDim(e.store, srvid).count() === 0)
    assert(e.store.read("powa_qualstats", qd.Constvalues,
      StructType(qd.stagingFull.fields.filterNot(_.name == "srvid"))).count() === 0)
  }

  test("qualstats constvalues lifecycle: aggregate packs+drains, purge drops") {
    import spark.implicits._
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 200, hostname = "h"))
    // one qual key, three constvalues variants with distinct metric shapes:
    //   a: most used, heavy exec;  b: zero-exec (ratio guard), worst
    //   err-ratio;  c: most filtering, worst err-num
    def staged(ts: String): org.apache.spark.sql.DataFrame =
      Seq(
        (srvid, Timestamp.valueOf(ts), 77L, 1L, 100L, 10L, 10L, 10L, 1L, 0.1, 1.0, "a"),
        (srvid, Timestamp.valueOf(ts), 77L, 1L, 100L, 10L, 5L, 0L, 0L, 0.9, 2.0, "b"),
        (srvid, Timestamp.valueOf(ts), 77L, 1L, 100L, 10L, 7L, 10L, 9L, 0.5, 3.0, "c"))
        .toDF("srvid", "ts", "qualid", "queryid", "dbid", "userid",
          "occurences", "execution_count", "nbfiltered",
          "mean_err_estimate_ratio", "mean_err_estimate_num", "cv")
        .withColumn("quals", array(struct(lit(200L).as("relid"),
          lit(1).as("attnum"), lit(96L).as("opno"), lit("f").as("eval_type"))))
        .withColumn("constvalues", array(col("cv"))).drop("cv")
    e.ingest("powa_qualstats", staged("2024-01-01 00:00:00"))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:30"))
    e.ingest("powa_qualstats", staged("2024-01-01 00:05:00"))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:05:30"))

    val qd = e.datasource("powa_qualstats").asInstanceOf[QualstatsDatasource]
    assert(e.store.read("powa_qualstats", qd.Constvalues,
      qd.constvaluesSchema).count() === 6)

    qd.aggregate(e.store, srvid)
    // constvalues tier drained (the r1 grows-forever defect), history packed
    assert(e.store.read("powa_qualstats", qd.Constvalues,
      qd.constvaluesSchema).count() === 0)
    val hist = qd.readConstvaluesHistory(e.store, srvid).collect()
    assert(hist.length === 1) // one row per qual key
    val row = hist.head
    assert(row.getAs[Timestamp]("range_start") === Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(row.getAs[Timestamp]("range_end") === Timestamp.valueOf("2024-01-01 00:05:00"))
    def firstCv(field: String): Seq[String] =
      row.getAs[collection.Seq[org.apache.spark.sql.Row]](field)
        .map(_.getAs[collection.Seq[String]]("constvalues").head).toSeq
    // the two ts-batches were summed per variant before ranking
    val mu = row.getAs[collection.Seq[org.apache.spark.sql.Row]]("most_used")
    assert(mu.head.getAs[Long]("occurences") === 20L) // 2 batches x 10
    assert(firstCv("most_used") === Seq("a", "c", "b"))
    assert(firstCv("most_filtering") === Seq("c", "a", "b")) // ratio .9 .1 0-guard
    assert(firstCv("least_filtering") === Seq("b", "a", "c"))
    assert(firstCv("most_executed") === Seq("a", "c", "b")) // tie a/c -> cv asc
    assert(firstCv("most_errestim_ratio") === Seq("b", "c", "a"))
    assert(firstCv("most_errestim_num") === Seq("c", "b", "a"))

    // retention purge drops the packed tier too (:7249-7255)
    qd.purge(e.store, srvid, Timestamp.valueOf("2024-02-01 00:00:00"))
    assert(qd.readConstvaluesHistory(e.store, srvid).count() === 0)
    e.reset(srvid)
    assert(qd.readConstvaluesHistory(e.store, srvid).count() === 0)
  }

  test("databases dimension: diff-sync per tick at priority -3, grace purge") {
    import spark.implicits._
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 220, hostname = "h", powaCoalesce = 5, retentionSec = 3600))
    val dd = e.datasource("powa_databases").asInstanceOf[DatabasesDatasource]
    def src(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
      rows.toSeq.toDF("oid", "datname").withColumn("srvid", lit(srvid))

    // the snapshot walk runs databases before statements before kcache
    assert(e.datasources.sortBy(_.priority).map(_.name).take(3) ===
      Seq("powa_databases", "powa_statements", "powa_kcache"))

    // tick 1: two dbs appear (missing arm)
    e.ingest("powa_databases", src(1L -> "db1", 2L -> "db2"))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:00"))
    val d1 = dd.readDim(e.store, srvid).orderBy("oid").collect()
    assert(d1.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq(1L -> "db1", 2L -> "db2"))
    assert(d1.forall(_.isNullAt(2)))

    // tick 2: db1 gone (dropped stamp), db2 renamed, db3 new
    e.ingest("powa_databases", src(2L -> "db2_renamed", 3L -> "db3"))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:01:00"))
    val d2 = dd.readDim(e.store, srvid).orderBy("oid").collect()
    assert(d2.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq(1L -> "db1", 2L -> "db2_renamed", 3L -> "db3"))
    assert(d2(0).getTimestamp(2) === Timestamp.valueOf("2024-01-01 00:01:00"))
    assert(d2(1).isNullAt(2) && d2(2).isNullAt(2))

    // grace: cutoff is retention x 1.2 back from now (:5835)
    assert(dd.purgeCutoff(Timestamp.valueOf("2024-01-01 02:00:00"), 3600) ===
      Timestamp.valueOf("2024-01-01 00:48:00"))
    // purge keeps the dropped row while inside the grace window...
    dd.purge(e.store, srvid, Timestamp.valueOf("2024-01-01 00:00:30"))
    assert(dd.readDim(e.store, srvid).count() === 3)
    // ...and drops it once the stamp predates the cutoff
    dd.purge(e.store, srvid, Timestamp.valueOf("2024-01-01 00:02:00"))
    assert(dd.readDim(e.store, srvid).orderBy("oid").collect()
      .map(_.getLong(0)).toSeq === Seq(2L, 3L))

    e.reset(srvid)
    assert(dd.readDim(e.store, srvid).count() === 0)
  }

  test("statements dimension purge drops stale query texts") {
    import spark.implicits._
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 240, hostname = "h"))
    def staged(ts: String, queryid: Long): org.apache.spark.sql.DataFrame =
      Seq((srvid, Timestamp.valueOf(ts), queryid, 100L, true, 10L, 1L))
        .toDF("srvid", "ts", "queryid", "dbid", "toplevel", "userid", "calls")
        .withColumn("total_exec_time", lit(1.0))
        .withColumn("rows", lit(1L))
        .select(col("*") +: graft.spec.Specs.statements.counterCols
          .filterNot(c => Set("calls", "total_exec_time", "rows").contains(c.name))
          .map(c => lit(null).cast(c.dt).as(c.name)): _*)
        .withColumn("query", lit(s"SELECT $queryid"))
    e.ingest("powa_statements", staged("2024-01-01 00:00:00", 1L))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:30"))
    e.ingest("powa_statements", staged("2024-01-05 00:00:00", 2L))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-05 00:00:30"))

    val sd = e.datasource("powa_statements").asInstanceOf[StatementsDatasource]
    assert(sd.readDim(e.store, srvid).count() === 2)
    // queryid 1 was last seen Jan 1 -> purged at a Jan 3 cutoff (:5881-5888)
    sd.purge(e.store, srvid, Timestamp.valueOf("2024-01-03 00:00:00"))
    val dim = sd.readDim(e.store, srvid).collect()
    assert(dim.length === 1)
    assert(dim.head.getAs[Long]("queryid") === 2L)
  }

  test("concurrent snapshot guard: overlapping tick on one server fails fast") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 260, hostname = "h"))
    val gate = new java.util.concurrent.CountDownLatch(1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    // an empty tick is fast; to make the overlap deterministic, hold the
    // internal per-server lock exactly as an in-flight tick would
    val lockField = e.getClass.getDeclaredField("snapshotLocks")
    lockField.setAccessible(true)
    val locks = lockField.get(e)
      .asInstanceOf[java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.locks.ReentrantLock]]
    val l = locks.computeIfAbsent(srvid,
      _ => new java.util.concurrent.locks.ReentrantLock())
    val holder = new Thread(() => { l.lock(); entered.countDown(); gate.await() })
    holder.start(); entered.await()
    val ex = intercept[IllegalStateException] {
      e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:30"))
    }
    assert(ex.getMessage.contains("concurrent snapshot"))
    gate.countDown(); holder.join()
    // other servers are unaffected (the lock is per-srvid)
    val other = e.registry.registerServer(ServerConfig(id = 261, hostname = "h"))
    assert(e.takeSnapshot(other, Timestamp.valueOf("2024-01-01 00:01:00")) === 0)
  }

  test("registry/metas persistence: a second Engine on the same root " +
      "resumes servers, cadence phase, module config and errors") {
    val root = java.nio.file.Files.createTempDirectory("graft_persist").toString
    val a = new Engine(spark, root)
    val srvid = a.registry.registerServer(ServerConfig(
      id = 20, hostname = "h1", alias = Some("prod"), powaCoalesce = 5,
      retentionSec = 3600, featureRetention = Map("powa_statements" -> 7200)))
    a.registry.setEnabled(srvid, "powa_kcache", false)
    a.registry.activateDbModule(srvid, "pg_stat_all_tables",
      Some(Seq("db1", "db2")))
    // 3 ticks, one with an error (malformed staging batch)
    import spark.implicits._
    (1 to 2).foreach { t =>
      a.ingest("powa_stat_bgwriter", bgwriterBatch(srvid, t))
      a.takeSnapshot(srvid, Timestamp.valueOf(f"2024-01-01 00:0$t:30"))
    }
    a.ingest("powa_stat_checkpointer",
      Seq((srvid, "not-a-timestamp")).toDF("srvid", "ts"))
    a.ingest("powa_stat_bgwriter", bgwriterBatch(srvid, 3))
    a.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:03:30"))
    assert(a.registry.meta(srvid).coalesceSeq === 3)
    assert(a.registry.meta(srvid).errors.nonEmpty)

    // "restart": a fresh Engine on the same root — no state handed over
    val b = new Engine(spark, root)
    assert(b.registry.server(srvid).hostname === "h1")
    assert(b.registry.server(srvid).alias === Some("prod"))
    assert(b.registry.retentionSec(srvid, "powa_statements") === 7200)
    assert(b.registry.retentionSec(srvid, "powa_kcache") === 3600)
    assert(!b.registry.isEnabled(srvid, "powa_kcache"))
    assert(b.registry.isEnabled(srvid, "powa_statements"))
    assert(b.registry.isDbModuleEnabled(srvid, "pg_stat_all_tables", "db1"))
    assert(!b.registry.isDbModuleEnabled(srvid, "pg_stat_all_tables", "db3"))
    assert(b.registry.meta(srvid).coalesceSeq === 3)
    assert(b.registry.meta(srvid).snapts ===
      Some(Timestamp.valueOf("2024-01-01 00:03:30")))
    assert(b.registry.meta(srvid).errors
      .exists(_.contains("powa_stat_checkpointer")))

    // cadence continues where A left it: ticks 4 and 5 through B, the
    // aggregate fires exactly on tick 5 (coalesce=5, srvid%20==0)
    (4 to 5).foreach { t =>
      b.ingest("powa_stat_bgwriter", bgwriterBatch(srvid, t))
      b.takeSnapshot(srvid, Timestamp.valueOf(f"2024-01-01 00:0$t:30"))
    }
    assert(tierCount(b, "powa_stat_bgwriter", GenericDatasource.Current) === 0)
    assert(tierCount(b, "powa_stat_bgwriter", GenericDatasource.History) === 1)
    val hist = b.store.read("powa_stat_bgwriter",
      GenericDatasource.History,
      GenericDatasource.historyNoSrvid(Specs.byName("powa_stat_bgwriter")))
    assert(hist.select(size(col("records"))).head().getInt(0) === 5)

    // registration survives a new id allocation too
    val other = b.registry.registerServer(ServerConfig(id = 0, hostname = "h2"))
    assert(other === 21) // nextId = max persisted id + 1
  }

  test("cross-process snapshot lock: a held lock file fails the tick fast") {
    val root = java.nio.file.Files.createTempDirectory("graft_xlock").toString
    val e = new Engine(spark, root)
    val srvid = e.registry.registerServer(ServerConfig(id = 30, hostname = "h"))
    // simulate another process's in-flight tick: hold the file lock on a
    // separate channel (same-JVM overlap surfaces as
    // OverlappingFileLockException — equally fail-fast)
    val lockDir = java.nio.file.Paths.get(root, "_locks")
    java.nio.file.Files.createDirectories(lockDir)
    val ch = java.nio.channels.FileChannel.open(
      lockDir.resolve(s"srvid=$srvid.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    try {
      val ex = intercept[IllegalStateException] {
        e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:30"))
      }
      assert(ex.getMessage.contains("concurrent snapshot"))
    } finally { held.release(); ch.close() }
    // lock released → the tick proceeds
    assert(e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:01:00")) === 0)
  }

  test("two engines on one root: disjoint servers tick concurrently, " +
      "same server fails fast") {
    val root = java.nio.file.Files.createTempDirectory("graft_share").toString
    val a = new Engine(spark, root)
    val s1 = a.registry.registerServer(ServerConfig(id = 340, hostname = "h"))
    val s2 = a.registry.registerServer(ServerConfig(id = 341, hostname = "h"))
    // second process on the same store (same JVM here; the lock file is
    // what both share)
    val b = new Engine(spark, root)
    a.ingest("powa_stat_bgwriter", bgwriterBatch(s1, 1))
    b.ingest("powa_stat_bgwriter", bgwriterBatch(s2, 1))
    // disjoint srvids: both tick fine — the guard is per-server
    assert(a.takeSnapshot(s1, Timestamp.valueOf("2024-01-01 00:00:30")) === 0)
    assert(b.takeSnapshot(s2, Timestamp.valueOf("2024-01-01 00:00:30")) === 0)
    assert(tierCount(a, "powa_stat_bgwriter", GenericDatasource.Current) === 2)
    // same srvid concurrently: the file lock fails engine B fast while
    // engine A holds it (hold by locking from a third channel is covered
    // in the cross-process test; here prove both engines see the data)
    val readBack = b.store.read("powa_stat_bgwriter",
      GenericDatasource.Current,
      GenericDatasource.currentNoSrvid(Specs.byName("powa_stat_bgwriter")))
    assert(readBack.select(col("srvid")).distinct().count() === 2)
  }

  test("row-scoped metas persistence: one engine's tick never clobbers " +
      "another engine's cadence on a shared root") {
    val root = java.nio.file.Files.createTempDirectory("graft_rowscope").toString
    val a = new Engine(spark, root)
    val sa = a.registry.registerServer(ServerConfig(
      id = 360, hostname = "h", powaCoalesce = 5))
    val sb = a.registry.registerServer(ServerConfig(
      id = 361, hostname = "h", powaCoalesce = 5))
    // engine B constructed NOW: its in-memory metas for both servers are
    // the (stale) zero copies
    val b = new Engine(spark, root)
    // A advances server sa's cadence to 3
    (1 to 3).foreach { t =>
      a.takeSnapshot(sa, Timestamp.valueOf(f"2024-01-01 00:0$t:30"))
    }
    // B ticks ITS server: the round-3 full-table persist would now write
    // B's stale seq-0 copy of sa's row — the scoped write must not
    b.takeSnapshot(sb, Timestamp.valueOf("2024-01-01 00:04:30"))
    val c1 = new Engine(spark, root)
    assert(c1.registry.meta(sa).coalesceSeq === 3) // NOT clobbered to 0
    assert(c1.registry.meta(sb).coalesceSeq === 1)
    // B ticks A's server: refreshMeta under the snapshot lock makes the
    // bump a read-modify-write of the STORED row → 4, not stale 0+1
    b.takeSnapshot(sa, Timestamp.valueOf("2024-01-01 00:05:30"))
    assert(b.registry.meta(sa).coalesceSeq === 4)
    val c2 = new Engine(spark, root)
    assert(c2.registry.meta(sa).coalesceSeq === 4)
    // scoped SERVER writes too: B re-configures its server; A's survives
    b.registry.configureServerJson(sb, Map("alias" -> "bee"))
    a.registry.configureServerJson(sa, Map("alias" -> "ay"))
    val c3 = new Engine(spark, root)
    assert(c3.registry.server(sa).alias === Some("ay"))
    assert(c3.registry.server(sb).alias === Some("bee"))
  }

  test("clearLog uninstalls the trace sink and its per-tick rowcount tax") {
    val e = mkEngine()
    assert(!e.store.traceRowcounts)
    e.log = _ => ()
    assert(e.store.traceRowcounts)
    e.clearLog()
    assert(!e.store.traceRowcounts)
  }

  test("scheduler loop: servers come due by their own frequency") {
    val e = mkEngine()
    val fast = e.registry.registerServer(ServerConfig(
      id = 320, hostname = "h", frequencySec = 60))
    val slow = e.registry.registerServer(ServerConfig(
      id = 321, hostname = "h", frequencySec = 600))
    val off = e.registry.registerServer(ServerConfig(
      id = 322, hostname = "h", frequencySec = -1))
    // never snapshotted → everything active is due (incl. local srvid 0)
    assert(e.dueServers(Timestamp.valueOf("2024-01-01 00:00:00")) ===
      Seq(0, fast, slow))
    e.tickDue(Timestamp.valueOf("2024-01-01 00:00:00"))
    // 2 minutes later only the 60s server is due again
    assert(e.dueServers(Timestamp.valueOf("2024-01-01 00:02:00")) === Seq(fast))
    // 10 minutes later both
    assert(e.dueServers(Timestamp.valueOf("2024-01-01 00:10:00")) ===
      Seq(0, fast, slow))
    assert(!e.dueServers(Timestamp.valueOf("2024-01-01 01:00:00"))
      .contains(off))
  }

  test("spec sanity: 23 datasources, statements record arity matches reference") {
    assert(Specs.all.size === 23)
    // 34 counters + ts (powa--5.2.0.sql:1596-1617; SURVEY §7.4 item 3)
    assert(Specs.statements.recordFields.size === 35)
    assert(Specs.statements.keyCols.size === 4)
    // all_tables: 31 counters + ts
    assert(Specs.allTables.recordFields.size === 32)
    // xid/boolean excluded from min/max (c_no_minmax)
    val rs = Specs.replicationSlots
    assert(!rs.minmaxFields.exists(f => Set("cur_txid", "active", "slot_xmin",
      "catalog_xmin", "two_phase", "conflicting").contains(f.name)))
    // timestamptz counters excluded from per-db agg (c_no_agg)
    assert(!Specs.allTables.aggFields.exists(_.name.startsWith("last_")))
    // statements rate renames (total_exec_time→runtime_per_sec)
    assert(Specs.statements.counterCols.find(_.name == "total_exec_time")
      .get.rateColName === "runtime_per_sec")
    // qualstats empty rate suffix keeps the original name
    assert(Specs.qualstats.counterCols.find(_.name == "mean_err_estimate_ratio")
      .get.rateColName === "mean_err_estimate_ratio")
  }

  test("extension sync auto-(de)activates extension-backed datasources") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 120, hostname = "h"))
    assert(e.registry.isEnabled(srvid, "powa_kcache")) // default on
    // drop pg_stat_kcache: its datasource deactivates, core modules stay
    e.registry.syncExtensions(srvid,
      Set("pg_stat_statements", "pg_qualstats", "pg_wait_sampling"))
    assert(!e.registry.isEnabled(srvid, "powa_kcache"))
    assert(e.registry.isEnabled(srvid, "powa_statements"))
    assert(e.registry.isEnabled(srvid, "powa_stat_bgwriter")) // core module
    // re-create it: reactivates
    e.registry.syncExtensions(srvid, Set("pg_stat_statements",
      "pg_stat_kcache", "pg_qualstats", "pg_wait_sampling"))
    assert(e.registry.isEnabled(srvid, "powa_kcache"))
  }

  test("powa_log analogue traces per-datasource runs and rowcounts") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 140, hostname = "h", powaCoalesce = 5))
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    e.log = lines += _
    e.ingest("powa_stat_bgwriter", bgwriterBatch(srvid, 1))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:01:30"))
    assert(lines.contains("running powa_stat_bgwriter_snapshot"))
    assert(lines.contains("powa_stat_bgwriter_snapshot - rowcount: 1"))
  }

  test("aggregate commit protocol: crash recovery is exactly-once") {
    val root = java.nio.file.Files.createTempDirectory("graft_commit").toString
    val e = new Engine(spark, root)
    val srvid = e.registry.registerServer(ServerConfig(
      id = 40, hostname = "h", powaCoalesce = 100, retentionSec = 86400))
    val ds = "powa_stat_bgwriter"
    val d = e.datasource(ds)
    (1 to 3).foreach { t =>
      e.ingest(ds, bgwriterBatch(srvid, t))
      e.takeSnapshot(srvid, Timestamp.valueOf(f"2024-01-01 00:0$t:30"))
    }
    assert(tierCount(e, ds, GenericDatasource.Current) === 3)

    // crash BEFORE the commit point: inflight exists (whatever current
    // contains) → recovery rolls back (deletes inflight); nothing
    // reaches history and the raw rows are untouched
    val inflight = java.nio.file.Paths.get(
      root, ds, GenericDatasource.History, s".inflight_srvid=$srvid")
    java.nio.file.Files.createDirectories(inflight)
    java.nio.file.Files.writeString(inflight.resolve("junk"), "partial")
    e.recover()
    assert(!java.nio.file.Files.exists(inflight))
    assert(tierCount(e, ds, GenericDatasource.Current) === 3)
    assert(tierCount(e, ds, GenericDatasource.History) === 0)

    // crash AFTER the commit point (the .inflight → .committed rename)
    // but BEFORE current was dropped: recovery rolls forward — drops the
    // already-coalesced raw rows and promotes exactly one copy. This is
    // the round-2 ADVICE scenario: the old drop-current-is-the-commit
    // protocol would have rolled this state BACK and deleted committed
    // rows whose raw source a partial drop had already lost.
    val committed = java.nio.file.Paths.get(
      root, ds, GenericDatasource.History, s".committed_srvid=$srvid")
    val cur = e.store.read(ds, GenericDatasource.Current,
      GenericDatasource.currentNoSrvid(d.spec)).filter(col("srvid") === srvid)
    graft.operators.Coalesce.aggregate(cur, d.spec)
      .drop("srvid")
      .withColumn("bucket", date_format(col("range_start"), "yyyy-MM"))
      .write.partitionBy("bucket").parquet(committed.toString)
    e.recover()
    assert(!java.nio.file.Files.exists(committed))
    assert(tierCount(e, ds, GenericDatasource.Current) === 0)
    assert(tierCount(e, ds, GenericDatasource.History) === 1)
    val packed = e.store.read(ds, GenericDatasource.History,
      GenericDatasource.historyNoSrvid(d.spec))
    assert(packed.select(size(col("records"))).head().getInt(0) === 3)
    // recovery is idempotent — a second pass changes nothing
    e.recover()
    assert(tierCount(e, ds, GenericDatasource.History) === 1)

    // transient promote failure mid-tick: the committed dir survives with
    // current already dropped, the engine keeps ticking and fresh
    // snapshots arrive. recoverPending resolves the commit BEFORE the
    // new rows land, so nothing is lost and nothing duplicates.
    e.ingest(ds, bgwriterBatch(srvid, 4))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:04:30"))
    val cur4 = e.store.read(ds, GenericDatasource.Current,
      GenericDatasource.currentNoSrvid(d.spec)).filter(col("srvid") === srvid)
    graft.operators.Coalesce.aggregate(cur4, d.spec)
      .drop("srvid")
      .withColumn("bucket", date_format(col("range_start"), "yyyy-MM"))
      .write.partitionBy("bucket").parquet(committed.toString)
    e.store.dropPartition(ds, GenericDatasource.Current, srvid)
    // next tick: snapshot of tick 5 rows — must promote tick 4's commit
    // first, then land the new rows in current
    e.ingest(ds, bgwriterBatch(srvid, 5))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:05:30"))
    assert(!java.nio.file.Files.exists(committed))
    assert(tierCount(e, ds, GenericDatasource.Current) === 1) // tick 5 only
    assert(tierCount(e, ds, GenericDatasource.History) === 2)

    // the normal (uncrashed) path still aggregates current → history
    d.aggregate(e.store, srvid)
    assert(tierCount(e, ds, GenericDatasource.Current) === 0)
    assert(tierCount(e, ds, GenericDatasource.History) === 3)
  }

  test("snapshot commit protocol: sink appends + staging drain are atomic " +
      "under crashes on either side of the marker") {
    val root = java.nio.file.Files.createTempDirectory("graft_snapc").toString
    val e = new Engine(spark, root)
    val srvid = e.registry.registerServer(ServerConfig(
      id = 46, hostname = "h", powaCoalesce = 100, retentionSec = 86400))
    val ds = "powa_stat_bgwriter"
    val d = e.datasource(ds)
    e.ingest(ds, bgwriterBatch(srvid, 1))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:01:30"))
    assert(tierCount(e, ds, GenericDatasource.Current) === 1)

    // crash BEFORE the commit point: an orphan stage dir, NO marker →
    // recovery rolls it back; staging is intact, so the retried tick
    // lands its batch EXACTLY once (the junk never promotes)
    e.ingest(ds, bgwriterBatch(srvid, 2))
    val stage = java.nio.file.Paths.get(
      root, ds, GenericDatasource.Current, s".snapstage_srvid=$srvid")
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.writeString(stage.resolve("junk"), "partial")
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:02:30"))
    assert(!java.nio.file.Files.exists(stage))
    assert(tierCount(e, ds, GenericDatasource.Current) === 2)

    // crash AFTER the commit point but BEFORE drain + promote: stage
    // content + marker exist, staging still holds the rows. Recovery
    // must roll FORWARD — drain staging, promote the batch once.
    // Without the protocol this is the double-append window: the retry
    // would re-append rows that current already holds.
    e.ingest(ds, bgwriterBatch(srvid, 3))
    val staged3 = e.store.read(ds, GenericDatasource.Staging,
        d.spec.stagingSchema).filter(col("srvid") === srvid)
    val recordCol = struct(
      col("ts") +: d.spec.counterCols.map(c => col(c.name)): _*)
    staged3.select(col("srvid") +: d.spec.keyNames.map(col) :+
        recordCol.as("record"): _*)
      .drop("srvid").write.parquet(stage.toString)
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(
      root, ds, s".snapcommit_srvid=$srvid"))
    e.recover()
    assert(!e.store.hasPartition(ds, GenericDatasource.Staging, srvid),
      "roll-forward must drain staging")
    assert(tierCount(e, ds, GenericDatasource.Current) === 3,
      "the committed batch promotes exactly once")
    // a fresh tick on the recovered store finds nothing staged (drained)
    assert(e.takeSnapshot(srvid,
      Timestamp.valueOf("2024-01-01 00:03:30")) === 0)
    assert(tierCount(e, ds, GenericDatasource.Current) === 3)
    // and the next real landing appends exactly once more
    e.ingest(ds, bgwriterBatch(srvid, 4))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:04:30"))
    assert(tierCount(e, ds, GenericDatasource.Current) === 4)
  }

  test("an idle tick launches zero Spark jobs (directory probes only)") {
    // the fleet-scale claim behind the directory-probe fast path: a
    // tick where nothing is staged costs filesystem probes + one meta
    // write — NO Spark job — so 100 idle servers cost ~100 probes, not
    // 100 query plans (SCALE.md's fleet axes record the wall-clock side)
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 45, hostname = "h", powaCoalesce = 1000, retentionSec = 86400))
    // phase (1 + 45%20) % 1000 = 6: no aggregate, no purge this tick
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(e.takeSnapshot(srvid,
        Timestamp.valueOf("2024-01-01 00:01:00")) === 0)
      Thread.sleep(1500) // listener bus delivery is async
      assert(jobs.get() === 0, s"idle tick launched ${jobs.get()} Spark jobs")
      // catalog-mirror freshness at fleet scale (round-11 VERDICT item
      // 8): the tick's catalog pass probes ONLY this server's staging
      // directories (catalog_staging/<cat>/srvid=N — one isDirectory
      // probe per catalog family when idle), never a fleet-wide
      // listing. Pin it: pile staged catalog content under 40 OTHER
      // servers' directories; the idle tick must stay zero-jobs (a
      // listing that walked other servers' staged dbids would have to
      // read them with Spark to drain them) and must leave every other
      // server's staging untouched.
      val stageRoot = java.nio.file.Paths.get(e.store.root,
        "catalog_staging", "pg_class")
      (100 to 139).foreach { other =>
        (1 to 5).foreach { dbid =>
          java.nio.file.Files.createDirectories(
            stageRoot.resolve(s"srvid=$other").resolve(s"dbid=$dbid"))
        }
      }
      jobs.set(0)
      assert(e.takeSnapshot(srvid,
        Timestamp.valueOf("2024-01-01 00:02:00")) === 0)
      Thread.sleep(1500)
      assert(jobs.get() === 0,
        s"idle tick with other-server staged catalogs launched ${jobs.get()}")
      (100 to 139).foreach { other =>
        assert(java.nio.file.Files.isDirectory(
          stageRoot.resolve(s"srvid=$other").resolve("dbid=1")),
          s"tick for server $srvid must not drain server $other's staging")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("purge-phase compaction folds accumulated history files, rows intact") {
    val e = mkEngine()
    e.compactMinFiles = 3
    val srvid = e.registry.registerServer(ServerConfig(
      id = 20, hostname = "h", powaCoalesce = 5, retentionSec = 3650L * 86400))
    val ds = "powa_stat_bgwriter"
    def historyFiles(): Int = {
      val d = java.nio.file.Paths.get(e.store.root, ds,
        GenericDatasource.History, s"srvid=$srvid")
      if (!java.nio.file.Files.exists(d)) 0
      else {
        val s = java.nio.file.Files.walk(d,
          java.nio.file.FileVisitOption.FOLLOW_LINKS)
        try s.filter(p => p.toString.endsWith(".parquet")).count().toInt
        finally s.close()
      }
    }
    // coalesce=5, srvid%20==0: aggregate at seq 5,10,15; purge at
    // seq 6,11,16. One batch per tick — every aggregate appends a file
    // set to the same month bucket, so the purge at seq 16 sees 3 files
    // and must compact.
    (1 to 16).foreach { t =>
      e.ingest(ds, bgwriterBatch(srvid, t % 10))
      e.takeSnapshot(srvid,
        Timestamp.valueOf(f"2024-01-01 00:${t - 1}%02d:30"))
    }
    val rows = tierCount(e, ds, GenericDatasource.History)
    assert(rows > 0)
    assert(historyFiles() === 1,
      s"expected compacted history, found ${historyFiles()} files")
    assert(tierCount(e, ds, GenericDatasource.History) === rows)
    // readback still value-correct through the compacted layout
    val back = e.readSeriesWithRates(ds, srvid,
      Timestamp.valueOf("2023-01-01 00:00:00"),
      Timestamp.valueOf("2025-01-01 00:00:00"))
    assert(back.count() === 16)
  }

  test("spec evolution (add-nullable-column): v1 history reads under " +
      "the v2 spec with nulls; mixed-generation readback unions") {
    // the supported evolution class is the reference's own: every one
    // of its 15 upgrade scripts only ADDS columns to live tables (plus
    // config rows) — so "store written by engine vN, opened by vN+1
    // with a wider DatasourceSpec" must read old files with nulls in
    // the new field and keep aggregating/reading back. NOTES.md
    // "spec evolution" names the contract.
    import GenericDatasource._
    val root = java.nio.file.Files.createTempDirectory("graft_evo").toString
    val store = new Store(spark, root)
    val v1 = Specs.byName("powa_stat_bgwriter")
    val dsV1 = new GenericDatasource(v1)
    val srvid = 20
    (1 to 5).foreach { t =>
      store.append(v1.name, Staging, bgwriterBatch(srvid, t))
      dsV1.snapshot(store, srvid, Timestamp.valueOf(f"2024-01-01 00:0$t:30"))
    }
    dsV1.aggregate(store, srvid) // v1-generation history files on disk
    // engine vN+1: the same datasource grew one nullable counter
    val v2 = v1.copy(counterCols = v1.counterCols :+ Specs.big("buffers_evo"))
    val dsV2 = new GenericDatasource(v2)
    val hist = store.read(v1.name, History, historyNoSrvid(v2))
    val recs = hist.select(explode(col("records")).as("r"))
      .select(col("r.buffers_clean"), col("r.buffers_evo"))
    assert(recs.count() === 5)
    assert(recs.filter(col("buffers_evo").isNull).count() === 5,
      "v1 records must read with null in the added column")
    assert(recs.filter(col("buffers_clean").isNull).count() === 0)
    // a v2 tick lands with the new counter populated and coalesces
    store.append(v2.name, Staging, bgwriterBatch(srvid, 6)
      .withColumn("buffers_evo", lit(42L)))
    dsV2.snapshot(store, srvid, Timestamp.valueOf("2024-01-01 00:06:30"))
    val cur = store.readPartition(v2.name, Current, srvid,
      currentNoSrvid(v2))
    val rb = graft.operators.Readback.series(cur,
      store.read(v2.name, History, historyNoSrvid(v2)), v2,
      lit(Timestamp.valueOf("2024-01-01 00:00:00")),
      lit(Timestamp.valueOf("2024-01-01 01:00:00")))
    assert(rb.count() === 6, "both generations must read back together")
    assert(rb.filter(col("record.buffers_evo") === 42L).count() === 1)
    assert(rb.filter(col("record.buffers_evo").isNull).count() === 5)
    // and the v2 aggregate commits over the widened current tier
    dsV2.aggregate(store, srvid)
    val h2 = store.read(v2.name, History, historyNoSrvid(v2))
    assert(h2.select(explode(col("records"))).count() === 6)
  }

  test("spec evolution sequencing: v1 files read under the v3 spec " +
      "(two widenings), per-generation nulls exact; an incompatible " +
      "type change throws loudly, never null-fills") {
    import GenericDatasource._
    val root = java.nio.file.Files.createTempDirectory("graft_evo2").toString
    val store = new Store(spark, root)
    val v1 = Specs.byName("powa_stat_bgwriter")
    val srvid = 21
    val ds1 = new GenericDatasource(v1)
    (1 to 3).foreach { t =>
      store.append(v1.name, Staging, bgwriterBatch(srvid, t))
      ds1.snapshot(store, srvid, Timestamp.valueOf(f"2024-01-01 00:0$t:30"))
    }
    ds1.aggregate(store, srvid) // generation-1 history files
    // vN+1: +evo_a; one tick, aggregated → generation-2 files
    val v2 = v1.copy(counterCols = v1.counterCols :+ Specs.big("evo_a"))
    val ds2 = new GenericDatasource(v2)
    store.append(v2.name, Staging, bgwriterBatch(srvid, 4)
      .withColumn("evo_a", lit(4L)))
    ds2.snapshot(store, srvid, Timestamp.valueOf("2024-01-01 00:04:30"))
    ds2.aggregate(store, srvid)
    // vN+2: +evo_b; one un-aggregated tick → generation-3 current file
    val v3 = v2.copy(counterCols = v2.counterCols :+ Specs.big("evo_b"))
    val ds3 = new GenericDatasource(v3)
    store.append(v3.name, Staging, bgwriterBatch(srvid, 5)
      .withColumn("evo_a", lit(5L)).withColumn("evo_b", lit(50L)))
    ds3.snapshot(store, srvid, Timestamp.valueOf("2024-01-01 00:05:30"))
    // all three generations read back together under the v3 spec
    val rb = graft.operators.Readback.series(
      store.readPartition(v3.name, Current, srvid, currentNoSrvid(v3)),
      store.read(v3.name, History, historyNoSrvid(v3)), v3,
      lit(Timestamp.valueOf("2024-01-01 00:00:00")),
      lit(Timestamp.valueOf("2024-01-01 01:00:00")))
    assert(rb.count() === 5, "v1+v2+v3 generations must union")
    // per-generation nulls are exact: v1 rows null in BOTH added
    // columns, the v2 row only in evo_b, the v3 row in neither
    assert(rb.filter(col("record.evo_a").isNull &&
      col("record.evo_b").isNull).count() === 3)
    assert(rb.filter(col("record.evo_a") === 4L &&
      col("record.evo_b").isNull).count() === 1)
    assert(rb.filter(col("record.evo_a") === 5L &&
      col("record.evo_b") === 50L).count() === 1)
    // and the v3 aggregate commits over the mixed-generation store
    ds3.aggregate(store, srvid)
    assert(store.read(v3.name, History, historyNoSrvid(v3))
      .select(explode(col("records"))).count() === 5)
    // INCOMPATIBLE change (the unsupported class): redefining an
    // existing counter's type must fail LOUDLY at read — a silent
    // null-fill would corrupt every downstream aggregate. The
    // reference's upgrade scripts never change a column's type either;
    // this pins that a type drift is an error, not an evolution.
    val bad = v1.copy(counterCols = v1.counterCols.map(c =>
      if (c.name == "buffers_clean")
        c.copy(dt = org.apache.spark.sql.types.StringType)
      else c))
    val e = intercept[Throwable] {
      store.read(bad.name, History, historyNoSrvid(bad))
        .select(explode(col("records")).as("r"))
        .select(col("r.buffers_clean")).collect()
    }
    assert(e.getMessage != null && e.getMessage.nonEmpty)
    graft.core.AtomicSwap.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("schema upgrade runner: ordered steps from the persisted marker, " +
      "crash-resume, newer-root refusal, gap detection") {
    import RegistryStore._
    val root = java.nio.file.Files.createTempDirectory("graft_up").toString
    val dir = java.nio.file.Paths.get(root, "_registry")
    // a v1 root: legacy single-file snapshot_metas, no marker
    val rows = Seq(
      MetaRow(1, 3L, Some(Timestamp.valueOf("2024-01-01 00:03:00")),
        None, None, Seq.empty),
      MetaRow(2, 7L, None, None, None, Seq("err")))
    AtomicSwap.replace(dir, "snapshot_metas")(v =>
      RegistryIo.write(v, RegistryIo.metasSchema)(
        f => rows.map(RegistryIo.metaGroup(f, _))))
    val reg = new RegistryStore(root)
    assert(reg.schemaVersion() === 1)
    // ensure applies 1->2->3: metas spilled into the per-server
    // row-scoped TEXT layout, legacy table and v2 links retired,
    // marker bumped per hop; a re-run applies nothing
    assert(SchemaUpgrade.ensure(reg) === 2)
    assert(reg.schemaVersion() === 3)
    assert(java.nio.file.Files.isRegularFile(
      dir.resolve("metas").resolve("1")))
    assert(!java.nio.file.Files.exists(dir.resolve("meta_srvid=1"),
      java.nio.file.LinkOption.NOFOLLOW_LINKS))
    assert(!java.nio.file.Files.exists(dir.resolve("snapshot_metas")))
    assert(reg.loadMetas().map(m => (m.srvid, m.coalesce_seq)) ===
      Seq((1, 3L), (2, 7L)))
    assert(SchemaUpgrade.ensure(reg) === 0)
    // an engine on the upgraded root starts normally (and an engine on
    // a FRESH root stamps the marker through the same path)
    new Engine(spark, root)
    assert(new RegistryStore(mkEngine().store.root).schemaVersion()
      === SchemaUpgrade.CurrentVersion)
    // newer root: a binary at version 2 must refuse a version-99 root
    reg.writeSchemaVersion(99)
    val down = intercept[IllegalStateException] {
      SchemaUpgrade.ensure(reg)
    }
    assert(down.getMessage.contains("refusing"))
    intercept[IllegalStateException] { new Engine(spark, root) }
    reg.writeSchemaVersion(2)
    // synthetic chain: crash mid-sequence resumes at the unapplied step
    val applied = scala.collection.mutable.ArrayBuffer[Int]()
    def step(from: Int, fail: Boolean = false) =
      SchemaUpgrade.Step(from, from + 1, s"test $from")(
        _ => { if (fail) sys.error(s"boom $from"); applied += from })
    intercept[RuntimeException] {
      SchemaUpgrade.ensure(reg, binary = 4,
        chain = Seq(step(2), step(3, fail = true)))
    }
    assert(applied.toSeq === Seq(2) && reg.schemaVersion() === 3,
      "marker must record the completed prefix")
    assert(SchemaUpgrade.ensure(reg, binary = 4,
      chain = Seq(step(2), step(3))) === 1)
    assert(applied.toSeq === Seq(2, 3) && reg.schemaVersion() === 4)
    // gap detection fails the upgrade BEFORE any step runs
    val gap = intercept[IllegalStateException] {
      SchemaUpgrade.ensure(reg, binary = 6, chain = Seq(step(5)))
    }
    assert(gap.getMessage.contains("gap") && applied.size === 2)
    AtomicSwap.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("registerServers batch: auto-ids interleave with explicit ids, " +
      "a duplicate rejects the WHOLE batch, restart sees the batch") {
    val root = java.nio.file.Files.createTempDirectory("graft_bulkreg")
      .toString
    val a = new Engine(spark, root)
    val ids = a.registry.registerServers(Seq(
      ServerConfig(id = 5, hostname = "e5"),
      ServerConfig(id = 0, hostname = "auto1"), // -> 6 (next after 5)
      ServerConfig(id = 9, hostname = "e9"),
      ServerConfig(id = 0, hostname = "auto2"))) // -> 10
    assert(ids === Seq(5, 6, 9, 10))
    // duplicate anywhere -> whole batch rejected, nothing persisted
    intercept[IllegalArgumentException] {
      a.registry.registerServers(Seq(
        ServerConfig(id = 0, hostname = "ok"), // would be 11
        ServerConfig(id = 6, hostname = "dup")))
    }
    val b = new Engine(spark, root)
    assert(b.registry.serverIds.filter(_ > 0).sorted === Seq(5, 6, 9, 10))
    assert(b.registry.server(6).hostname === "auto1")
    // the metas PERSISTED (Registry.meta would synthesize a fresh row
    // on access, so check the store directly)
    val rs = new RegistryStore(root)
    assert(Seq(5, 6, 9, 10).forall(id => rs.loadMeta(id).isDefined),
      "registerServers must persist a meta row per registered server")
    AtomicSwap.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("configureServers/dropServers batch: one merged write per " +
      "sweep, all-or-nothing, concurrent per-server configs never " +
      "lose updates") {
    val root = java.nio.file.Files.createTempDirectory("graft_cfgsweep")
      .toString
    val a = new Engine(spark, root)
    val ids = a.registry.registerServers((1 to 20).map(i =>
      ServerConfig(id = i, hostname = s"h$i")))
    assert(ids === (1 to 20))
    // batched sweep: patches apply in order, two patches to one srvid
    // COMPOSE exactly like sequential calls, persisted in one write
    a.registry.configureServers(
      (1 to 10).map(i => i ->
        ((c: ServerConfig) => c.copy(frequencySec = 600))) :+
      (3 -> ((c: ServerConfig) => c.copy(port = c.frequencySec))))
    assert(a.registry.server(3).frequencySec === 600 &&
      a.registry.server(3).port === 600,
      "second patch must see the first's result")
    val b = new Engine(spark, root)
    assert((1 to 10).forall(i => b.registry.server(i).frequencySec === 600))
    assert((11 to 20).forall(i => b.registry.server(i).frequencySec !== 600))
    // all-or-nothing: an unknown srvid anywhere rejects the WHOLE
    // batch — no patch applies, nothing persists
    intercept[NoSuchElementException] {
      a.registry.configureServers(Seq(
        1 -> ((c: ServerConfig) => c.copy(frequencySec = 60)),
        999 -> ((c: ServerConfig) => c)))
    }
    assert(a.registry.server(1).frequencySec === 600,
      "a rejected batch must not half-apply")
    // ... same for a throwing patch mid-batch
    intercept[IllegalStateException] {
      a.registry.configureServers(Seq(
        2 -> ((c: ServerConfig) => c.copy(frequencySec = 60)),
        4 -> ((_: ServerConfig) =>
          throw new IllegalStateException("boom"))))
    }
    assert(a.registry.server(2).frequencySec === 600)
    assert(new Engine(spark, root).registry.server(2).frequencySec === 600)
    // concurrent single-server configs to DIFFERENT servers: both
    // series run under the registry lock — after the dust settles the
    // PERSISTED table holds both final values (no lost update from
    // the read-merge-rewrite racing itself)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def thread(body: => Unit) = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    val t1 = thread((1 to 25).foreach(n =>
      a.registry.configureServer(11, _.copy(frequencySec = 100 + n))))
    val t2 = thread((1 to 25).foreach(n =>
      a.registry.configureServer(12, _.copy(frequencySec = 1000 + n))))
    Seq(t1, t2).foreach(_.join(60000))
    assert(errs.isEmpty, s"concurrent configure raised: ${errs.peek()}")
    val c = new Engine(spark, root)
    assert(c.registry.server(11).frequencySec === 125 &&
      c.registry.server(12).frequencySec === 1025,
      "a concurrent config write to another server was lost")
    // batched drop: one sweep removes the batch from all four tables;
    // unknown ids are no-ops (idempotent like the single form); the
    // local server is fenced
    a.registry.setEnabled(15, "powa_stat_bgwriter", false)
    a.registry.dropServers(Set(15, 16, 999))
    intercept[NoSuchElementException](a.registry.server(15))
    assert(intercept[IllegalArgumentException](
      a.registry.dropServers(Set(17, 0))).getMessage.contains("local"))
    assert(a.registry.server(17).hostname === "h17",
      "a rejected drop batch must not half-apply")
    val d = new Engine(spark, root)
    intercept[NoSuchElementException](d.registry.server(15))
    intercept[NoSuchElementException](d.registry.server(16))
    assert(d.registry.server(17).hostname === "h17")
    AtomicSwap.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("v3 meta text rows: round-trip is exact for hostile error " +
      "strings; crash-mid-migration re-runs idempotently") {
    import RegistryStore._
    val root = java.nio.file.Files.createTempDirectory("graft_v3meta")
      .toString
    val reg = new RegistryStore(root)
    // the errors text[] carries free-form engine messages — tabs,
    // newlines, commas, '=', unicode, and the empty-adjacent cases the
    // line format must not be confused by (base64 isolation)
    val hostile = Seq(
      "plain", "tab\there", "nl\nline", "a,b,c", "k=v\tx=y",
      "unié中文", " spaced  ")
    val row = MetaRow(7, 42L,
      Some(Timestamp.valueOf("2024-03-01 12:34:56")),
      None,
      Some(new Timestamp(1700000000123L)), // sub-second millis survive
      hostile)
    reg.saveMetas(Set(7), Seq(row))
    assert(reg.loadMeta(7) === Some(row))
    assert(new RegistryStore(root).loadMetas() === Seq(row))
    // crash-mid-migration shape: server 8 still v2-link-only (the
    // crash hit before its spill), server 7 has BOTH a stale v2 link
    // and the newer text row (crash between text write and link drop
    // cannot happen — writeMetaRow drops after — but a re-run may see
    // a link REAPPEAR from a pre-upgrade engine writing concurrently;
    // text must win and the link must be swept)
    val dir = java.nio.file.Paths.get(root, "_registry")
    def v2Link(r: MetaRow): Unit =
      AtomicSwap.replace(dir, s"meta_srvid=${r.srvid}")(v =>
        RegistryIo.write(v, RegistryIo.metasSchema)(
          f => Seq(RegistryIo.metaGroup(f, r))))
    v2Link(MetaRow(7, 1L, None, None, None, Seq("stale"))) // loser
    v2Link(MetaRow(8, 9L, None, None, None, Seq.empty))    // unspilled
    assert(reg.migrateMetaRows() === 1) // only 8 spills; 7's text wins
    assert(reg.loadMeta(7) === Some(row))
    assert(reg.loadMeta(8).map(_.coalesce_seq) === Some(9L))
    assert(!java.nio.file.Files.exists(dir.resolve("meta_srvid=7"),
      java.nio.file.LinkOption.NOFOLLOW_LINKS))
    assert(reg.migrateMetaRows() === 0) // idempotent re-run
    AtomicSwap.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("schema upgrade vs concurrent registry mutation: ensure WAITS " +
      "for the registry lock — no step applies while a tick holds it") {
    // The reference analogue is `ALTER EXTENSION powa UPDATE` being
    // transactional against concurrent snapshots: its scripts run in
    // one transaction that conflicts with a snapshot's writes. Here
    // the registry file lock (plus the per-root JVM monitor) is the
    // serialization point: a snapshot's metas write holds it, and
    // SchemaUpgrade.ensure runs its whole step chain under it — so an
    // upgrade can never interleave with a mid-flight registry
    // mutation, it queues behind it.
    val root = java.nio.file.Files.createTempDirectory("graft_uplock")
      .toString
    val reg = new RegistryStore(root)
    reg.writeSchemaVersion(2)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val acquired = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => reg.withLock {
      events.add("mutation-started"); acquired.countDown()
      Thread.sleep(400) // a slow registry mutation (metas save mid-tick)
      events.add("mutation-finished")
    })
    holder.start()
    acquired.await()
    val n = SchemaUpgrade.ensure(reg, binary = 3,
      chain = Seq(SchemaUpgrade.Step(2, 3, "concurrency probe")(
        _ => events.add("step-applied"))))
    holder.join()
    assert(n === 1 && reg.schemaVersion() === 3)
    assert(events.toArray.toSeq ===
      Seq("mutation-started", "mutation-finished", "step-applied"),
      s"upgrade must queue behind the held lock, got ${events.toArray.toSeq}")
    AtomicSwap.deleteRecursively(java.nio.file.Paths.get(root))
  }

  // ---- vectorized fleet tick (round 13) ------------------------------

  test("fleet tick is row-identical to per-server ticks: tiers, dims, " +
      "cadence, metas") {
    import spark.implicits._
    val eSeq = mkEngine()
    val eFlt = mkEngine()
    // mixed phases on purpose: 20 (phase 0 arithmetic), 23 (de-phased),
    // 7 and 48 (generic) — every server coalesce=5 so tick 1 lands in
    // different cadence phases per srvid
    val ids = Seq(7, 20, 23, 48)
    Seq(eSeq, eFlt).foreach { e =>
      ids.foreach(id => e.registry.registerServer(ServerConfig(
        id = id, hostname = s"h$id", powaCoalesce = 5,
        retentionSec = 3650L * 86400)))
      ids.foreach { id =>
        // generic datasource (vectorized path), values vary per server
        e.ingest("powa_stat_bgwriter", bgwriterBatch(id, 1)
          .withColumn("buffers_clean", col("buffers_clean") + id))
        // per-db-rollup datasource (vectorized path, two sinks)
        e.ingest("powa_user_functions",
          Seq((id, Timestamp.valueOf("2024-01-01 00:01:00"),
            1L + id, 10L, 100L + id, 7.5, 2.5),
            (id, Timestamp.valueOf("2024-01-01 00:01:00"),
              1L + id, 11L, 200L + id, 8.5, 3.5))
            .toDF("srvid", "ts", "dbid", "funcid", "calls",
              "total_time", "self_time"))
        // dimension-bearing datasource (per-server fallback inside the
        // fleet pass) — proves the mixed walk keeps priority order
        e.ingest("powa_statements",
          Seq((id, Timestamp.valueOf("2024-01-01 00:01:00"),
            100L + id, 1L, true, 1L, 5L + id))
            .toDF("srvid", "ts", "queryid", "dbid", "toplevel", "userid",
              "calls")
            .withColumn("total_exec_time", lit(12.5))
            .withColumn("rows", lit(42L))
            .select(col("*") +: Specs.statements.counterCols
              .filterNot(c => Set("calls", "total_exec_time", "rows")
                .contains(c.name))
              .map(c => lit(null).cast(c.dt).as(c.name)): _*)
            .withColumn("query", concat(lit("SELECT "), lit(id))))
      }
    }
    val now = Timestamp.valueOf("2024-01-01 00:02:00")
    val seqErrs = ids.map(id => id -> eSeq.takeSnapshot(id, now)).toMap
    val fltErrs = eFlt.takeSnapshotFleet(ids, now)
    assert(fltErrs === seqErrs)
    assert(seqErrs.values.sum === 0)

    def rows(e: Engine, ds: String, tier: String): Set[String] = {
      val spec = Specs.byName(ds)
      val schema =
        if (tier == GenericDatasource.History)
          GenericDatasource.historyNoSrvid(spec)
        else GenericDatasource.currentNoSrvid(spec)
      e.store.read(ds, tier, schema).collect().map(_.toString).toSet
    }
    for (ds <- Seq("powa_stat_bgwriter", "powa_user_functions",
        "powa_statements");
        tier <- Seq(GenericDatasource.Current, GenericDatasource.History)) {
      assert(rows(eFlt, ds, tier) === rows(eSeq, ds, tier),
        s"$ds/$tier must be identical")
    }
    assert(rows(eFlt, "powa_user_functions", GenericDatasource.CurrentDb)
      === rows(eSeq, "powa_user_functions", GenericDatasource.CurrentDb))
    // statements dim maintained identically through the fallback path
    val dimSeq = eSeq.datasource("powa_statements")
      .asInstanceOf[StatementsDatasource]
    val dimFlt = eFlt.datasource("powa_statements")
      .asInstanceOf[StatementsDatasource]
    ids.foreach { id =>
      assert(dimFlt.readDim(eFlt.store, id).collect().map(_.toString).toSet
        === dimSeq.readDim(eSeq.store, id).collect().map(_.toString).toSet)
    }
    // staging fully drained on both; metas identical
    ids.foreach { id =>
      assert(!eFlt.store.hasPartition("powa_stat_bgwriter",
        GenericDatasource.Staging, id))
      assert(eFlt.registry.meta(id).coalesceSeq ===
        eSeq.registry.meta(id).coalesceSeq)
      assert(eFlt.registry.meta(id).snapts === eSeq.registry.meta(id).snapts)
      assert(eFlt.registry.meta(id).aggts === eSeq.registry.meta(id).aggts)
      assert(eFlt.registry.meta(id).purgets === eSeq.registry.meta(id).purgets)
      assert(eFlt.registry.meta(id).errors === eSeq.registry.meta(id).errors)
    }
  }

  test("fleet commit crash semantics: per-server markers roll forward " +
      "and back independently; orphan fleet temps are swept") {
    val root = java.nio.file.Files.createTempDirectory("graft_fleetc").toString
    val e = new Engine(spark, root)
    val Seq(a, b) = Seq(71, 72).map(id => e.registry.registerServer(
      ServerConfig(id = id, hostname = "h", powaCoalesce = 100,
        retentionSec = 86400)))
    val ds = "powa_stat_bgwriter"
    val d = e.datasource(ds)
    e.ingest(ds, bgwriterBatch(a, 1))
    e.ingest(ds, bgwriterBatch(b, 1))

    // simulate a crash mid-fleet-commit: server a is past its marker
    // (stage content + marker, staging still held), server b is before
    // its marker (orphan stage junk only), and the fleet write's temp
    // dir is still lying around
    def stageDir(id: Int) = java.nio.file.Paths.get(
      root, ds, GenericDatasource.Current, s".snapstage_srvid=$id")
    val stagedA = e.store.read(ds, GenericDatasource.Staging,
        d.spec.stagingSchema).filter(col("srvid") === a)
    val recordCol = struct(
      col("ts") +: d.spec.counterCols.map(c => col(c.name)): _*)
    stagedA.select(col("srvid") +: d.spec.keyNames.map(col) :+
        recordCol.as("record"): _*)
      .drop("srvid").write.parquet(stageDir(a).toString)
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(
      root, ds, s".snapcommit_srvid=$a"))
    java.nio.file.Files.createDirectories(stageDir(b))
    java.nio.file.Files.writeString(stageDir(b).resolve("junk"), "partial")
    val fleetTmp = java.nio.file.Paths.get(
      root, ds, GenericDatasource.Current, ".snapfleet_deadbeef")
    java.nio.file.Files.createDirectories(fleetTmp)

    e.recover()
    assert(!java.nio.file.Files.exists(fleetTmp), "fleet temp swept")
    // a rolled FORWARD: staging drained, batch promoted exactly once
    assert(!e.store.hasPartition(ds, GenericDatasource.Staging, a))
    assert(e.store.readPartition(ds, GenericDatasource.Current, a,
      GenericDatasource.currentNoSrvid(d.spec)).count() === 1)
    // b rolled BACK: stage junk swept, staging intact
    assert(!java.nio.file.Files.exists(stageDir(b)))
    assert(e.store.hasPartition(ds, GenericDatasource.Staging, b))
    // the retried fleet tick lands b exactly once and re-skips a
    val errs = e.takeSnapshotFleet(Seq(a, b),
      Timestamp.valueOf("2024-01-01 00:02:30"))
    assert(errs === Map(a -> 0, b -> 0))
    Seq(a, b).foreach { id =>
      assert(e.store.readPartition(ds, GenericDatasource.Current, id,
        GenericDatasource.currentNoSrvid(d.spec)).count() === 1,
        s"server $id must hold its batch exactly once")
    }
  }

  test("fleet tick: a held per-server lock fails that server alone; " +
      "error isolation survives a bad server's staging") {
    import spark.implicits._
    val e = mkEngine()
    val ids = Seq(81, 82, 83).map(id => e.registry.registerServer(
      ServerConfig(id = id, hostname = "h", powaCoalesce = 100,
        retentionSec = 86400)))
    val Seq(s1, s2, s3) = ids
    ids.foreach(id => e.ingest("powa_stat_bgwriter", bgwriterBatch(id, 1)))
    // s2's checkpointer staging is malformed → that datasource's fleet
    // job fails and the per-server fallback isolates the error to s2
    e.ingest("powa_stat_checkpointer",
      Seq((s2, "not-a-timestamp")).toDF("srvid", "ts"))
    // s3's lock is held by "another process"
    val lockDir = java.nio.file.Paths.get(e.store.root, "_locks")
    java.nio.file.Files.createDirectories(lockDir)
    val ch = java.nio.channels.FileChannel.open(
      lockDir.resolve(s"srvid=$s3.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    val errs =
      try e.takeSnapshotFleet(ids, Timestamp.valueOf("2024-01-01 00:01:30"))
      finally { held.release(); ch.close() }
    assert(errs(s1) === 0)
    assert(errs(s2) === 1, "only the malformed datasource errors, on s2")
    assert(errs(s3) === 1, "the locked server fails fast, fleet proceeds")
    // s1 and s2 still landed their good bgwriter batches
    Seq(s1, s2).foreach { id =>
      assert(e.store.readPartition("powa_stat_bgwriter",
        GenericDatasource.Current, id,
        GenericDatasource.currentNoSrvid(
          Specs.byName("powa_stat_bgwriter"))).count() === 1)
    }
    // s3 untouched: staging still waiting, no tick recorded
    assert(e.store.hasPartition("powa_stat_bgwriter",
      GenericDatasource.Staging, s3))
    assert(e.registry.meta(s3).errors.exists(_.contains("concurrent")))
  }

  test("a fatal error in one snapshot waits for its running siblings " +
      "before the tick releases its lock") {
    import spark.implicits._
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 90, hostname = "h",
      powaCoalesce = 100, retentionSec = 86400))
    val (early, late) = ("powa_stat_bgwriter", "powa_stat_checkpointer")
    assert(Seq(early, late).map(e.datasource(_).priority) === Seq(10.0, 10.0))
    e.ingest(early, bgwriterBatch(srvid, 1))
    e.ingest(late, checkpointerAt(srvid, Timestamp.valueOf("2024-01-01 00:01:00")))
    // the later snapshot is RUNNING when the earlier one fails (a unit
    // that has not started is skipped instead), then takes another 1 s
    val lateRunning = new java.util.concurrent.CountDownLatch(1)
    e.log = line =>
      if (line == s"running ${early}_snapshot") {
        lateRunning.await(60, java.util.concurrent.TimeUnit.SECONDS)
        throw new AssertionError(s"fatal in ${early}_snapshot")
      } else if (line == s"running ${late}_snapshot") {
        lateRunning.countDown()
        Thread.sleep(1000)
      }
    e.store.traceRowcounts = false // the concurrent snapshot path
    val ex = intercept[AssertionError] {
      e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:01:30"))
    }
    assert(ex.getMessage === s"fatal in ${early}_snapshot")
    // the sibling had committed before the tick returned and released
    // the server's lock
    assert(!e.store.hasPartition(late, GenericDatasource.Staging, srvid))
    assert(e.store.readPartition(late, GenericDatasource.Current, srvid,
      GenericDatasource.currentNoSrvid(Specs.byName(late))).count() === 1)
    val atReturn = storeListing(e)
    Thread.sleep(1000)
    assert(storeListing(e) === atReturn, "nothing writes after the tick returned")
    e.clearLog()
    assert(e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:02:30")) === 0)
    assert(!e.store.hasPartition(early, GenericDatasource.Staging, srvid))
  }

  test("snapshot locks: a failed acquire releases every lock it took") {
    val e = mkEngine()
    val Seq(a, b) = Seq(91, 92).map(id =>
      e.registry.registerServer(ServerConfig(id = id, hostname = "h")))
    val lockDir = java.nio.file.Paths.get(e.store.root, "_locks")
    // the next tick runs on another thread, as a scheduler's would: the
    // in-process mutex is reentrant, so only another thread sees a leak
    def tickElsewhere(id: Int, ts: String): Int = {
      var out: Either[Throwable, Int] = null
      val t = new Thread(() => out =
        try Right(e.takeSnapshot(id, Timestamp.valueOf(ts)))
        catch { case x: Throwable => Left(x) })
      t.start(); t.join()
      out.fold(x => throw x, identity)
    }
    // (a) `_locks` is a regular file: creating the lock dir throws
    java.nio.file.Files.writeString(lockDir, "not a directory")
    intercept[java.io.IOException](e.takeSnapshotFleet(Seq(a)))
    java.nio.file.Files.delete(lockDir)
    assert(tickElsewhere(a, "2024-01-01 00:01:00") === 0)
    // (b) b's lock file is a directory: its open throws while a's lock
    // (a < b, acquired first) is held
    val bLock = lockDir.resolve(s"srvid=$b.lock")
    java.nio.file.Files.createDirectories(bLock)
    intercept[java.io.IOException](e.takeSnapshotFleet(Seq(a, b)))
    java.nio.file.Files.delete(bLock)
    assert(tickElsewhere(a, "2024-01-01 00:02:00") === 0)
  }

  /** Every path under the engine's store root, sorted. */
  private def storeListing(e: Engine): List[String] = {
    val root = java.nio.file.Paths.get(e.store.root)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.map(root.relativize(_).toString).toList.sorted
    finally s.close()
  }

  private def utc(iso: String): Timestamp =
    Timestamp.from(java.time.Instant.parse(iso))

  test("retention purge keeps a range that starts before the cutoff's " +
      "month and ends after the cutoff") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 180, hostname = "h", powaCoalesce = 5, retentionSec = 86400))
    val ds = "powa_stat_bgwriter"
    // five ticks sample Jan 31 20:00 .. Feb 1 02:00 (UTC, the session
    // zone); the fifth aggregates them into one range in bucket 2024-01
    Seq("2024-01-31T20:00:00Z", "2024-01-31T21:00:00Z",
        "2024-01-31T22:00:00Z", "2024-01-31T23:00:00Z",
        "2024-02-01T02:00:00Z").zipWithIndex.foreach { case (ts, i) =>
      e.ingest(ds, bgwriterAt(srvid, utc(ts), i + 1))
      assert(e.takeSnapshot(srvid,
        new Timestamp(utc(ts).getTime + 30000L)) === 0)
    }
    assert(e.store.listBuckets(ds, GenericDatasource.History, srvid) ===
      Seq("2024-01"))
    // tick 6 purges with cutoff Feb 2 01:00 - 1 day = Feb 1 01:00, inside
    // the range: the reference keeps any row whose upper bound is at or
    // after the cutoff
    val purgeTick = utc("2024-02-02T01:00:00Z")
    assert(e.takeSnapshot(srvid, purgeTick) === 0)
    assert(e.registry.meta(srvid).purgets === Some(purgeTick))
    val kept = e.store.readPartition(ds, GenericDatasource.History, srvid,
        GenericDatasource.historyNoSrvid(Specs.byName(ds)))
      .select(size(col("records")), col("range_end")).collect()
      .map(r => (r.getInt(0), r.getTimestamp(1))).toSeq
    assert(kept === Seq((5, utc("2024-02-01T02:00:00Z"))))
    assert(e.store.listBuckets(ds, GenericDatasource.History, srvid) ===
      Seq("2024-01"))
  }

  test("retention purge names the cutoff's month in the session time zone") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 280, hostname = "h", powaCoalesce = 5, retentionSec = 86400))
    val ds = "powa_stat_bgwriter"
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "Pacific/Kiritimati") // UTC+14
    try {
      // five ticks sample Jan 31 10:00 .. 10:20 UTC, which is Feb 1
      // 00:00 .. 00:20 in the session zone: the range lands in 2024-02
      (0 until 5).foreach { i =>
        val ts = new Timestamp(utc("2024-01-31T10:00:00Z").getTime + i * 300000L)
        e.ingest(ds, bgwriterAt(srvid, ts, i + 1))
        assert(e.takeSnapshot(srvid, new Timestamp(ts.getTime + 30000L)) === 0)
      }
      assert(e.store.listBuckets(ds, GenericDatasource.History, srvid) ===
        Seq("2024-02"))
      // the cutoff, Jan 31 12:00 UTC, is Feb 1 02:00 in the session zone;
      // the whole range ended before it
      assert(e.takeSnapshot(srvid, utc("2024-02-01T12:00:00Z")) === 0)
      assert(e.store.listBuckets(ds, GenericDatasource.History, srvid).isEmpty)
      assert(tierCount(e, ds, GenericDatasource.History) === 0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("tail passes: failing aggregate, purge and compact steps leave the " +
      "other datasources' steps done, errors as in a width-1 tick") {
    val (bgw, ckp, uf) =
      ("powa_stat_bgwriter", "powa_stat_checkpointer", "powa_user_functions")
    // three ticks (coalesce 5, srvid % 20 == 3): a plain, an aggregate and
    // a purge tick; returns the errors and each datasource's (current,
    // history) counts
    def run(sequential: Boolean): (Vector[String], Seq[(Long, Long)]) = {
      val e = mkEngine()
      e.compactMinFiles = 1
      val srvid = e.registry.registerServer(ServerConfig(id = 243,
        hostname = "h", powaCoalesce = 5))
      val walk = e.datasources.sortBy(_.priority).map(_.name)
      def inWalkOrder(ds: Seq[String]) = ds.sortBy(walk.indexOf(_))
      val failing = new java.util.concurrent.atomic.AtomicReference(
        Seq.empty[(String, String)])
      e.log = line => {
        val units = failing.get
        val i = units.indexWhere { case (d, s) => line == s"running ${d}_$s" }
        if (i >= 0) {
          // the earlier a failing unit walks, the later it fails, so a
          // concurrent tail completes them out of walk order
          Thread.sleep(300L * (units.size - i))
          throw new IllegalStateException("injected")
        }
      }
      if (!sequential) e.store.traceRowcounts = false // width 4
      def tick(ts: String): Int = e.takeSnapshot(srvid, Timestamp.valueOf(ts))
      val t1 = Timestamp.valueOf("2024-01-01 00:01:00")
      val t2 = Timestamp.valueOf("2024-01-01 00:02:00")
      Seq(t1, t2).foreach { ts =>
        e.ingest(bgw, bgwriterAt(srvid, ts, 1))
        e.ingest(ckp, checkpointerAt(srvid, ts))
        e.ingest(uf, userFunctionsAt(srvid, ts))
        if (ts == t1) assert(tick("2024-01-01 00:01:30") === 0)
      }
      failing.set(inWalkOrder(Seq(bgw, uf)).map(_ -> "aggregate"))
      assert(tick("2024-01-01 00:02:30") === 2)
      failing.set(inWalkOrder(Seq(ckp, uf)).map(_ -> "purge") :+
        (ckp -> "compact"))
      assert(tick("2024-01-01 00:03:30") === 3)
      val errors = e.registry.meta(srvid).errors
      assert(errors === (
        inWalkOrder(Seq(bgw, uf)).map(_ + "_aggregate: injected") ++
        inWalkOrder(Seq(ckp, uf)).map(_ + "_purge: injected") :+
        s"${ckp}_compact: injected"))
      (errors, Seq(bgw, ckp, uf).map(d =>
        (tierCount(e, d, GenericDatasource.Current),
         tierCount(e, d, GenericDatasource.History))))
    }
    val (seqErrors, seqTiers) = run(sequential = true)
    val (errors, tiers) = run(sequential = false)
    assert(errors === seqErrors)
    assert(tiers === seqTiers)
    // checkpointer's aggregate ran beside the failing ones
    assert(tiers === Seq((2L, 0L), (0L, 1L), (2L, 0L)))
  }

  test("a fatal error in one tail unit waits for its running siblings " +
      "before the tick releases its lock") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 263, hostname = "h",
      powaCoalesce = 5))
    val (early, late) = ("powa_stat_bgwriter", "powa_stat_checkpointer")
    val t1 = Timestamp.valueOf("2024-01-01 00:01:00")
    e.ingest(early, bgwriterAt(srvid, t1, 1))
    e.ingest(late, checkpointerAt(srvid, t1))
    // srvid % 20 == 3: tick 1 is a plain tick, tick 2 aggregates
    assert(e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:01:30")) === 0)
    // the later aggregate is RUNNING when the earlier one fails (a unit
    // that has not started is skipped instead), then takes another 1 s
    val lateRunning = new java.util.concurrent.CountDownLatch(1)
    e.log = line =>
      if (line == s"running ${early}_aggregate") {
        lateRunning.await(60, java.util.concurrent.TimeUnit.SECONDS)
        throw new AssertionError(s"fatal in ${early}_aggregate")
      } else if (line == s"running ${late}_aggregate") {
        lateRunning.countDown()
        Thread.sleep(1000)
      }
    e.store.traceRowcounts = false // the concurrent tail
    val ex = intercept[AssertionError] {
      e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:02:30"))
    }
    assert(ex.getMessage === s"fatal in ${early}_aggregate")
    // the sibling's aggregate had committed before the tick returned and
    // released the server's lock
    assert(!e.store.hasPartition(late, GenericDatasource.Current, srvid))
    assert(tierCount(e, late, GenericDatasource.History) === 1)
    val atReturn = storeListing(e)
    Thread.sleep(1000)
    assert(storeListing(e) === atReturn, "nothing writes after the tick returned")
    // the failed tick persisted no meta, so the next one replays its phase
    e.clearLog()
    assert(e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:03:30")) === 0)
    assert(!e.store.hasPartition(early, GenericDatasource.Current, srvid))
    assert(tierCount(e, early, GenericDatasource.History) === 1)
  }

  private val wholeStage = "spark.sql.codegen.wholeStage"

  /** The explicitly set wholeStage value, None when unset (conf.get
    * reads the default). */
  private def wholeStageSetting(): Option[String] =
    spark.conf.getAll.get(wholeStage)

  /** Run `body` with wholeStage explicitly true, then unset (its index
    * 0, 1 passed along), and restore the caller's setting after. */
  private def forEachWholeStageStart(body: (Option[String], Int) => Unit): Unit = {
    def setTo(v: Option[String]): Unit = v match {
      case Some(x) => spark.conf.set(wholeStage, x)
      case None => spark.conf.unset(wholeStage)
    }
    val saved = wholeStageSetting()
    try Seq(Some("true"), None).zipWithIndex.foreach { case (start, i) =>
      setTo(start)
      body(start, i)
    } finally setTo(saved)
  }

  private val factoryMode = "spark.sql.codegen.factoryMode"

  /** Classes compiled JVM-wide while `body` runs. */
  private def compiles(body: => Unit): Long = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** A query whose generated code is new on every call: its long literal
    * is inlined into the generated source, so the codegen cache misses. */
  private def freshQuery(): Unit =
    spark.range(0, 10).select((col("id") * lit(System.nanoTime())).as("x"))
      .collect()

  test("a snapshot commit unit plans with codegen off on its own thread " +
      "only; the session conf and other threads keep the caller's setting") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // whole-stage codegen stages in the final plan of a small aggregate
    // planned and run on the calling thread
    object plans extends AdaptiveSparkPlanHelper
    def codegenStages(): Int = {
      val df = spark.range(0, 100).groupBy((col("id") % 3).as("k")).count()
      df.collect()
      plans.collect(df.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w
      }.size
    }
    final case class Seen(wholeStage: Option[String], factoryInSession: Boolean,
        startedThreadStages: Int, unitStages: Int, readerCompiles: Long,
        unitCompiles: Long)
    val sc = spark.sparkContext
    // a thread that exists before any write, as a dashboard reader's
    // would: it inherits none of the write's local properties
    val reader = java.util.concurrent.Executors.newSingleThreadExecutor()
    reader.submit(new Runnable { def run(): Unit = () }).get()
    // the observations, made once from inside the sink write: the
    // optimizer runs on the writer's thread, inside the write, under its
    // job label, which the queries planned below inherit; the reader's
    // query runs while the writer waits for it
    val seen = new java.util.concurrent.atomic.AtomicReference[Seen]
    val observed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probe = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        val label = sc.getLocalProperty("spark.job.description")
        if (label != null && label.startsWith("store: snapshot ") &&
            observed.compareAndSet(false, true)) {
          val other = new java.util.concurrent.atomic.AtomicInteger(-1)
          val t = new Thread(() => other.set(codegenStages()))
          t.start()
          t.join()
          val readerCompiles = compiles(reader.submit(new Runnable {
            def run(): Unit = freshQuery() }).get())
          seen.set(Seen(wholeStageSetting(),
            spark.conf.getAll.contains(factoryMode), other.get,
            codegenStages(), readerCompiles, compiles(freshQuery())))
        }
        plan
      }
    }
    try forEachWholeStageStart { (start, i) =>
      // the thread's factoryMode local property before the write:
      // explicitly the default, then unset
      val prior = if (i == 0) "FALLBACK" else null
      sc.setLocalProperty(factoryMode, prior)
      try {
        val store = new Store(spark, java.nio.file.Files
          .createTempDirectory("graft_codegen_scope").toString)
        val (ds, srvid) = ("codegen_scope", 1)
        val batch = spark.range(0, 3).toDF("v").withColumn("srvid", lit(srvid))
        store.append(ds, "staging", batch)
        seen.set(null)
        observed.set(false)
        spark.experimental.extraOptimizations = Seq(probe)
        try store.snapshotCommit(ds, "staging", srvid, Seq("current" -> batch))
        finally spark.experimental.extraOptimizations = Nil
        val s = seen.get
        assert(s.wholeStage === start, "the session conf keeps the caller's setting")
        assert(s.startedThreadStages > 0, "a thread started in the unit keeps codegen")
        assert(s.unitStages === 0, "the unit's own thread plans with codegen off")
        assert(wholeStageSetting() === start)
        assert(store.read(ds, "current", batch.schema).count() === 3)
        assert(!s.factoryInSession && !spark.conf.getAll.contains(factoryMode),
          "the session conf never holds the factory mode")
        assert(s.readerCompiles > 0,
          "a query on another thread during the write still compiles")
        assert(s.unitCompiles === 0, "the unit's own thread generates no code")
        assert(sc.getLocalProperty(factoryMode) === prior)
        assert(compiles(freshQuery()) > 0, "a query after the write compiles")
        // a write that throws restores the thread's property just the same
        intercept[IllegalStateException](
          failingWrite("store: snapshot ", () => true)(
            store.snapshotCommit(ds, "staging", srvid, Seq("current" -> batch))))
        assert(sc.getLocalProperty(factoryMode) === prior)
        assert(!spark.conf.getAll.contains(factoryMode))
        assert(compiles(freshQuery()) > 0, "a query after the failed write compiles")
      } finally sc.setLocalProperty(factoryMode, null)
    } finally reader.shutdown()
  }

  test("steady-state plain ticks compile no class; the aggregate's " +
      "history rows equal the coalesce computed outside the tick") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    import GenericDatasource.{Current, CurrentDb, History, HistoryDb}
    val e = mkEngine()
    // phase (seq + 1) % 5: three plain ticks, aggregate, purge; each
    // purge drops the range the aggregate before it wrote (retention 60 s)
    val srvid = e.registry.registerServer(ServerConfig(id = 321,
      hostname = "h", powaCoalesce = 5, retentionSec = 60))
    val sd = e.datasource("powa_statements")
    val qd = e.datasource("powa_qualstats").asInstanceOf[QualstatsDatasource]
    def tick(k: Int): Unit = {
      val ts = Timestamp.valueOf(f"2024-01-01 00:${5 * k}%02d:00")
      e.ingest("powa_statements", statementsAt(srvid, ts,
        Seq(1L -> "SELECT 1", 2L -> "SELECT 2")))
      e.ingest("powa_qualstats", qualstatsAt(srvid, ts, Seq(7L -> 200L, 8L -> 201L)))
      assert(e.takeSnapshot(srvid, new Timestamp(ts.getTime + 30000L)) === 0)
    }
    // (datasource, current tier) -> (history tier, its schema without
    // srvid, the coalesce of the current rows)
    val aggregates: Map[(String, String), (String, StructType, DataFrame => DataFrame)] =
      Seq(sd, qd).flatMap { d =>
        val tiers = (Current, History, d.spec) +:
          d.dbSpec.map(dbs => (CurrentDb, HistoryDb, dbs)).toSeq
        tiers.map { case (cur, hist, s) =>
          (d.name, cur) -> ((hist, GenericDatasource.historyNoSrvid(s),
            (df: DataFrame) => graft.operators.Coalesce.aggregate(df, s)))
        }
      }.toMap + ((qd.name, qd.Constvalues) -> ((qd.ConstvaluesHistory,
        qd.constvaluesHistorySchema, (df: DataFrame) => qd.aggregateConstvalues(df))))
    def currentSchema(ds: String, cur: String): StructType =
      if (cur == qd.Constvalues) qd.constvaluesSchema
      else GenericDatasource.currentNoSrvid(
        if (cur == Current) e.datasource(ds).spec else e.datasource(ds).dbSpec.get)
    def rows(df: DataFrame, hist: StructType): Seq[String] =
      df.select(("srvid" +: hist.fieldNames.toSeq).map(col): _*)
        .collect().map(_.toString).toSeq.sorted
    // while each aggregate write of the first cycle is planned, its
    // current rows are coalesced on a thread that exists before the
    // tick, outside the write's scope, with codegen
    val outside = java.util.concurrent.Executors.newSingleThreadExecutor()
    outside.submit(new Runnable { def run(): Unit = () }).get()
    val expected = new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[String]]
    val Label = """store: aggregate (\S+)/(\S+)->\S+ srvid=\d+""".r
    val probe = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        spark.sparkContext.getLocalProperty("spark.job.description") match {
          case Label(ds, cur) if !expected.containsKey((ds, cur)) =>
            val (_, hist, coalesce) = aggregates((ds, cur))
            expected.put((ds, cur), outside.submit(
              new java.util.concurrent.Callable[Seq[String]] {
                def call(): Seq[String] = rows(coalesce(e.store.readPartition(
                  ds, cur, srvid, currentSchema(ds, cur))), hist)
              }).get())
          case _ =>
        }
        plan
      }
    }
    try {
      (1 to 3).foreach(tick)
      spark.experimental.extraOptimizations = Seq(probe)
      try tick(4) finally spark.experimental.extraOptimizations = Nil
    } finally outside.shutdown()
    assert(expected.keySet.asScala.map(_._2).toSet ===
      Set(Current, CurrentDb, qd.Constvalues))
    expected.asScala.foreach { case ((ds, cur), want) =>
      val (histTier, hist, _) = aggregates((ds, cur))
      assert(want.nonEmpty, s"$ds/$cur")
      assert(rows(e.store.readPartition(ds, histTier, srvid, hist), hist) === want,
        s"$ds/$histTier")
    }
    tick(5)
    // the purge's dimension-log fold keeps codegen and embeds that
    // tick's cutoff, so the purge tick (10) is left out
    assert(compiles((6 to 9).foreach(tick)) === 0,
      "the second cycle's plain ticks and aggregate compile no class")
  }

  test("an aggregate cycle runs with no code generation when small and " +
      "keeps it when large") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    import org.apache.spark.sql.internal.SQLConf
    val store = new Store(spark, java.nio.file.Files
      .createTempDirectory("graft_cycle_size").toString)
    val schema = new StructType().add("range_start", "timestamp").add("v", "string")
    // 3 rows, and over 3 MiB of parquet (the store's bound is 1 MiB):
    // 256 random hex digits, at least 128 bytes, a row
    val rows = Map(1 -> 3L, 2 -> 30000L)
    rows.foreach { case (srvid, n) =>
      store.appendPartition("cycle", "cur", srvid, spark.range(0, n).select(
        lit(srvid).as("srvid"), lit(Timestamp.valueOf("2024-01-01 00:00:00"))
          .as("range_start"),
        concat((1 to 4).map(i => sha2((rand(i) * col("id")).cast("string"), 256)): _*)
          .as("v")))
    }
    // the factory mode each aggregate write plans under
    val mode = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val Label = """store: aggregate .* srvid=(\d+)""".r
    val probe = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        spark.sparkContext.getLocalProperty("spark.job.description") match {
          case Label(srvid) => mode.putIfAbsent(srvid.toInt,
            SQLConf.get.getConfString(factoryMode, "FALLBACK"))
          case _ =>
        }
        plan
      }
    }
    spark.experimental.extraOptimizations = Seq(probe)
    try rows.keys.foreach(srvid =>
      store.aggregateCycle("cycle", "cur", "hist", srvid, schema)(identity))
    finally spark.experimental.extraOptimizations = Nil
    assert(mode.asScala.toMap === Map(1 -> "NO_CODEGEN", 2 -> "FALLBACK"))
    rows.foreach { case (srvid, n) =>
      assert(!store.hasPartition("cycle", "cur", srvid))
      assert(store.readPartition("cycle", "hist", srvid, schema).count() === n)
    }
  }

  test("a tick leaves the session's wholeStage codegen conf as it found " +
      "it, explicitly true or unset, when one snapshot fails") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    import org.apache.spark.sql.internal.SQLConf
    val (bgw, ckp, uf) =
      ("powa_stat_bgwriter", "powa_stat_checkpointer", "powa_user_functions")
    // the session conf and the thread's codegen switch, as the first
    // sibling sink write to be optimized sees them: the optimizer runs on
    // the writer's thread, inside the write, under its job label
    val inFlight = new java.util.concurrent.atomic.AtomicReference[
      (Option[String], Boolean)]
    val probe = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        val label = spark.sparkContext.getLocalProperty("spark.job.description")
        if (label != null && label.startsWith("store: snapshot "))
          inFlight.compareAndSet(null,
            (wholeStageSetting(), SQLConf.get.wholeStageEnabled))
        plan
      }
    }
    forEachWholeStageStart { (start, i) =>
      val e = mkEngine()
      val srvid = e.registry.registerServer(ServerConfig(id = 264 + i,
        hostname = "h", powaCoalesce = 100))
      assert(Seq(bgw, ckp, uf).map(e.datasource(_).priority).distinct.size === 1)
      val t1 = Timestamp.valueOf("2024-01-01 00:01:00")
      e.ingest(bgw, bgwriterAt(srvid, t1, 1))
      e.ingest(ckp, checkpointerAt(srvid, t1))
      e.ingest(uf, userFunctionsAt(srvid, t1))
      assert(wholeStageSetting() === start, "an ingest append leaves the conf")
      // the failing unit throws only once a sibling's sink write is in
      // flight, so the failure overlaps the sibling's tick write
      inFlight.set(null)
      spark.experimental.extraOptimizations = Seq(probe)
      e.log = line =>
        if (line == s"running ${bgw}_snapshot") {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (inFlight.get == null && System.nanoTime() < deadline)
            Thread.sleep(1)
          throw new IllegalStateException("injected")
        }
      e.store.traceRowcounts = false // width 4
      try assert(e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:01:30")) === 1)
      finally spark.experimental.extraOptimizations = Nil
      assert(inFlight.get === (start, false),
        "the session conf reads the caller's setting while a sibling's " +
          "sink write is in flight, and that write plans with codegen off")
      assert(wholeStageSetting() === start)
      assert(e.registry.meta(srvid).errors === Seq(s"${bgw}_snapshot: injected"))
      Seq(ckp, uf).foreach(d =>
        assert(tierCount(e, d, GenericDatasource.Current) === 1))
    }
  }

  /** Statements staging rows at `ts`, one per (queryid, query text):
    * dbid and userid derive from the queryid, one call each. */
  private def statementsAt(srvid: Int, ts: Timestamp,
      stmts: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    stmts.map { case (q, text) => (srvid, ts, q, 100L + q % 2, true, 10L, 1L, text) }
      .toDF("srvid", "ts", "queryid", "dbid", "toplevel", "userid", "calls",
        "query")
      .select(col("*") +: Specs.statements.counterCols
        .filterNot(_.name == "calls")
        .map(c => lit(null).cast(c.dt).as(c.name)): _*)
  }

  /** Qualstats staging rows at `ts`, one per (qualid, relid of its one
    * qual): queryid, dbid and userid derive from the qualid. */
  private def qualstatsAt(srvid: Int, ts: Timestamp,
      quals: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    quals.map { case (qualid, relid) =>
        (srvid, ts, qualid, qualid % 3, 100L, 10L, 6L, 9L, 1L, 0.5, 1.0, relid) }
      .toDF("srvid", "ts", "qualid", "queryid", "dbid", "userid",
        "occurences", "execution_count", "nbfiltered",
        "mean_err_estimate_ratio", "mean_err_estimate_num", "relid")
      .withColumn("quals", array(struct(col("relid"), lit(1).as("attnum"),
        lit(96L).as("opno"), lit("f").as("eval_type"))))
      .withColumn("constvalues", array(lit("a")))
      .drop("relid")
  }

  /** Throw from the optimizer of the next write labelled `label` once
    * `ready` holds (polled up to 60 s), so a snapshot commit fails at a
    * chosen point before its marker; `body` runs with the rule
    * installed. */
  private def failingWrite[T](label: String, ready: () => Boolean)(body: => T): T = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    val fail = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        val l = spark.sparkContext.getLocalProperty("spark.job.description")
        if (l != null && l.startsWith(label)) {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (!ready() && System.nanoTime() < deadline) Thread.sleep(5)
          throw new IllegalStateException("injected")
        }
        plan
      }
    }
    spark.experimental.extraOptimizations = Seq(fail)
    try body finally spark.experimental.extraOptimizations = Nil
  }

  /** Run `body` (a tick) with a regular file planted at the statements
    * commit marker's path, so that datasource's commit fails after its
    * write job and before its marker; the dimension log's batch must
    * have been written. The file is removed after. */
  private def failingCommit[T](e: Engine, srvid: Int)(body: => T): T = {
    val marker = java.nio.file.Paths.get(e.store.root, "powa_statements",
      s".snapcommit_srvid=$srvid")
    java.nio.file.Files.writeString(marker, "injected")
    try {
      val r = body
      assert(dimSinkWritten(e, srvid)(), "the dimension sink had been written")
      r
    } finally java.nio.file.Files.delete(marker)
  }

  /** The statements dimension log's stage directory holds a parquet
    * file: its sink ran, and the commit marker has not promoted it. */
  private def dimSinkWritten(e: Engine, srvid: Int): () => Boolean = () => {
    val stage = java.nio.file.Paths.get(e.store.root, "powa_statements",
      GenericDatasource.Dim, s".snapstage_srvid=$srvid")
    java.nio.file.Files.isDirectory(stage) && {
      val s = java.nio.file.Files.list(stage)
      try s.iterator().asScala.exists(_.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  test("steady-state ticks over statements and qualstats launch no " +
      "dimension overwrite and no probe job") {
    val e = mkEngine()
    // phase (seq + 10) % 100 stays plain for every tick below
    val srvid = e.registry.registerServer(ServerConfig(id = 310,
      hostname = "h", powaCoalesce = 100, retentionSec = 86400))
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(labels.add)
    }
    def tick(k: Int): Unit = {
      val ts = Timestamp.valueOf(f"2024-01-01 00:0$k:00")
      e.ingest("powa_statements", statementsAt(srvid, ts,
        Seq(1L -> "SELECT 1", 2L -> "SELECT 2")))
      e.ingest("powa_qualstats", qualstatsAt(srvid, ts, Seq(7L -> 200L, 8L -> 201L)))
      assert(e.takeSnapshot(srvid, new Timestamp(ts.getTime + 30000L)) === 0)
    }
    tick(1) // the keys' first tick inserts them
    spark.sparkContext.addSparkListener(listener)
    try {
      (2 to 4).foreach(tick)
      Thread.sleep(1500) // listener bus delivery is async
    } finally spark.sparkContext.removeSparkListener(listener)
    val all = labels.asScala.toSeq
    Seq("powa_statements", "powa_qualstats").foreach { ds =>
      assert(all.count(_.startsWith(s"store: snapshot $ds ")) === 3,
        s"$ds: one snapshot job, the dimension log append among its " +
          "sinks, per tick")
      assert(!all.exists(_.startsWith(s"store: overwrite $ds/dim")), all)
    }
    assert(!all.exists(_.startsWith("store: probe")), all)
    val sd = e.datasource("powa_statements").asInstanceOf[StatementsDatasource]
    assert(sd.readDim(e.store, srvid).collect().map(r =>
      (r.getAs[Long]("queryid"), r.getAs[Timestamp]("last_present_ts"))).toSet
      === Set(1L, 2L).map(_ -> Timestamp.valueOf("2024-01-01 00:04:30")))
    val qd = e.datasource("powa_qualstats").asInstanceOf[QualstatsDatasource]
    assert(qd.readDim(e.store, srvid).count() === 2)
  }

  test("a steady-state plain tick launches exactly one Spark job per " +
      "staged datasource") {
    val e = mkEngine()
    // phase (seq + 10) % 100 stays plain for every tick below
    val srvid = e.registry.registerServer(ServerConfig(id = 310,
      hostname = "h", powaCoalesce = 100, retentionSec = 86400))
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        labels.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")); ()
      }
    }
    val staged = Seq("powa_statements", "powa_qualstats", "powa_stat_bgwriter")
    def tick(k: Int): Unit = {
      val ts = Timestamp.valueOf(f"2024-01-01 00:0$k:00")
      e.ingest("powa_statements", statementsAt(srvid, ts,
        Seq(1L -> "SELECT 1", 2L -> "SELECT 2")))
      e.ingest("powa_qualstats", qualstatsAt(srvid, ts, Seq(7L -> 200L, 8L -> 201L)))
      e.ingest("powa_stat_bgwriter", bgwriterAt(srvid, ts, k.toLong))
      assert(e.takeSnapshot(srvid, new Timestamp(ts.getTime + 30000L)) === 0)
    }
    tick(1)
    spark.sparkContext.addSparkListener(listener)
    try {
      (2 to 4).foreach(tick)
      Thread.sleep(1500) // listener bus delivery is async
    } finally spark.sparkContext.removeSparkListener(listener)
    // the ingests before each tick are the only other jobs
    val tickJobs = labels.asScala.toSeq.filterNot(_.startsWith("store: append "))
    assert(tickJobs.size === 3 * staged.size, tickJobs)
    staged.foreach { ds =>
      assert(tickJobs.count(_.startsWith(s"store: snapshot $ds ")) === 3,
        s"$ds: one job per tick: $tickJobs")
    }
    assert(tierCount(e, "powa_stat_bgwriter", GenericDatasource.Current) === 4)
  }

  test("a snapshot commit promotes only the files its tasks reported") {
    val root = java.nio.file.Files.createTempDirectory("graft_stray").toString
    val store = new Store(spark, root)
    val (ds, srvid) = ("stray", 1)
    val stage = java.nio.file.Paths.get(root, ds, "current",
      s".snapstage_srvid=$srvid")
    // evaluated in the write's task: a file the task does not report
    val stageDir = stage.toString
    val plant = udf { (v: Long) =>
      val d = java.nio.file.Paths.get(stageDir)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve("stray.parquet"), "junk")
      v
    }
    val batch = spark.range(0, 5, 1, 1).toDF("v").withColumn("srvid", lit(srvid))
    store.append(ds, "staging", batch)
    store.snapshotCommit(ds, "staging", srvid,
      Seq("current" -> batch.select(plant(col("v")).as("v"), col("srvid"))))
    val live = AtomicSwap.liveTarget(
      java.nio.file.Paths.get(root, ds, "current"), s"srvid=$srvid").get
    val files = {
      val s = java.nio.file.Files.walk(live)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      finally s.close()
    }
    assert(files.map(_.getFileName.toString) match {
      case Seq(f) => f.startsWith("part-")
      case _ => false
    }, s"one reported file, no stray: $files")
    assert(!java.nio.file.Files.exists(stage))
    assert(store.read(ds, "current", batch.schema).collect()
      .map(_.getAs[Long]("v")).sorted.toSeq === (0L until 5L))
    assert(!store.hasPartition(ds, "staging", srvid))
  }

  test("a snapshot commit whose write task fails promotes nothing; the " +
      "retry commits once") {
    val root = java.nio.file.Files.createTempDirectory("graft_taskfail").toString
    val store = new Store(spark, root)
    val (ds, srvid) = ("taskfail", 1)
    def stage(tier: String) = java.nio.file.Paths.get(root, ds, tier,
      s".snapstage_srvid=$srvid")
    // a closed parquet file in `d`; a function value, as the UDF uses it
    val complete: java.nio.file.Path => Boolean = d =>
      java.nio.file.Files.isDirectory(d) && {
        val s = java.nio.file.Files.list(d)
        try s.iterator().asScala.exists { f =>
          val n = f.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith(".") && {
            val b = java.nio.file.Files.readAllBytes(f)
            b.length > 8 && new String(b.takeRight(4), "US-ASCII") == "PAR1"
          }
        } finally s.close()
      }
    // evaluated in the `other` sink's task while `arm` exists: it fails
    // once the `current` sink's task, in the same job, closed its file
    val arm = java.nio.file.Paths.get(root, "arm")
    val (armPath, currentStage) = (arm.toString, stage("current").toString)
    val failOnce = udf { (v: Long) =>
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(armPath))) {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!complete(java.nio.file.Paths.get(currentStage)) &&
          System.nanoTime() < deadline) Thread.sleep(5)
        throw new IllegalStateException("injected task failure")
      }
      v
    }
    val batch = spark.range(0, 5, 1, 1).toDF("v").withColumn("srvid", lit(srvid))
    store.append(ds, "staging", batch)
    val sinks = Seq("current" -> batch,
      "other" -> batch.select(failOnce(col("v")).as("v"), col("srvid")))
    java.nio.file.Files.createFile(arm)
    val err = intercept[Exception](store.snapshotCommit(ds, "staging", srvid, sinks))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("injected task failure"))), err)
    assert(complete(stage("current")), "the sibling task's file is left staged")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, ds, s".snapcommit_srvid=$srvid")), "no marker")
    assert(store.hasPartition(ds, "staging", srvid), "staging intact")
    assert(store.readStaged(ds, "staging", Seq(srvid), batch.schema).count() === 5)
    Seq("current", "other").foreach { tier =>
      assert(AtomicSwap.liveTarget(java.nio.file.Paths.get(root, ds, tier),
        s"srvid=$srvid").isEmpty, s"$tier: no row promoted")
    }

    java.nio.file.Files.delete(arm)
    store.snapshotCommit(ds, "staging", srvid, sinks)
    Seq("current", "other").foreach { tier =>
      assert(store.read(ds, tier, batch.schema).collect()
        .map(_.getAs[Long]("v")).sorted.toSeq === (0L until 5L), s"$tier: once")
      assert(!java.nio.file.Files.exists(stage(tier)))
    }
    assert(!store.hasPartition(ds, "staging", srvid))
  }

  test("a tick that fails after its dimension log sink is written leaves " +
      "no dimension row; the retry stamps its own now") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 311,
      hostname = "h", powaCoalesce = 100, retentionSec = 86400))
    val sd = e.datasource("powa_statements").asInstanceOf[StatementsDatasource]
    def dim(): Set[(Long, String, Timestamp)] =
      sd.readDim(e.store, srvid).collect().map(r => (r.getAs[Long]("queryid"),
        r.getAs[String]("query"), r.getAs[Timestamp]("last_present_ts"))).toSet
    val t1 = Timestamp.valueOf("2024-01-01 00:01:00")
    e.ingest("powa_statements", statementsAt(srvid, t1, Seq(1L -> "SELECT 1")))
    assert(e.takeSnapshot(srvid, t1) === 0)

    val t2 = Timestamp.valueOf("2024-01-01 00:02:00")
    e.ingest("powa_statements", statementsAt(srvid, t2,
      Seq(1L -> "SELECT 1", 2L -> "SELECT 2")))
    // the commit fails after the write job, before its marker
    val errs = failingCommit(e, srvid)(e.takeSnapshot(srvid, t2))
    assert(errs === 1)
    // the recorded error is the failed marker creation on the planted file
    val marker = java.nio.file.Paths.get(e.store.root, "powa_statements",
      s".snapcommit_srvid=$srvid")
    assert(e.registry.meta(srvid).errors.last ===
      s"powa_statements_snapshot: $marker")
    assert(dimSinkWritten(e, srvid)(), "the dimension sink had been written")
    assert(dim() === Set((1L, "SELECT 1", t1)), "no dimension row from the failed tick")
    assert(e.store.hasPartition("powa_statements", GenericDatasource.Staging, srvid))

    val t3 = Timestamp.valueOf("2024-01-01 00:03:00")
    assert(e.takeSnapshot(srvid, t3) === 0)
    assert(!dimSinkWritten(e, srvid)(), "the rolled-back stage dir is swept")
    assert(dim() === Set((1L, "SELECT 1", t3), (2L, "SELECT 2", t3)))
    assert(tierCount(e, "powa_statements", GenericDatasource.Current) === 3)
  }

  test("a tick whose now steps back behind the previous tick's stamps " +
      "the earlier now, as an overwrite does") {
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(id = 312,
      hostname = "h", powaCoalesce = 100, retentionSec = 86400))
    val sd = e.datasource("powa_statements").asInstanceOf[StatementsDatasource]
    val (t1, t2) = (Timestamp.valueOf("2024-01-01 00:01:00"),
      Timestamp.valueOf("2024-01-01 00:02:00"))
    Seq(t2, t1).foreach { now =>
      e.ingest("powa_statements", statementsAt(srvid, now, Seq(1L -> "SELECT 1")))
      assert(e.takeSnapshot(srvid, now) === 0)
    }
    assert(sd.readDim(e.store, srvid).collect().map(
      _.getAs[Timestamp]("last_present_ts")).toSeq === Seq(t1))
    // and so does the folded log
    sd.aggregate(e.store, srvid)
    assert(e.store.batchCount("powa_statements", GenericDatasource.Dim, srvid) === 0)
    assert(sd.readDim(e.store, srvid).collect().map(
      _.getAs[Timestamp]("last_present_ts")).toSeq === Seq(t1))
  }

  test("readDim equals the per-tick dimension rewrite after every step " +
      "of a cycle: new and repeated keys, aggregate, purge, crash") {
    val e = mkEngine()
    // coalesce 5, srvid % 20 == 1: ticks 1-3 plain, 4 aggregates, 5
    // purges, 6 plain
    val srvid = e.registry.registerServer(ServerConfig(id = 301,
      hostname = "h", powaCoalesce = 5, retentionSec = 3600))
    val sd = e.datasource("powa_statements").asInstanceOf[StatementsDatasource]
    val qd = e.datasource("powa_qualstats").asInstanceOf[QualstatsDatasource]
    type SKey = (Long, Long, Long)
    type QKey = (Long, Long, Long, Long)
    // the dimension the old per-tick rewrite kept: syncDimension's MRU
    // touch of seen keys plus its min(query) insert of missing ones, and
    // the quals anti-join insert of the first appearance
    var stmts = Map.empty[SKey, (String, Timestamp)]
    var quals = Map.empty[QKey, Long]
    def rewrite(staged: Seq[(Long, String)], q: Seq[(Long, Long)],
        now: Timestamp): Unit = {
      val byKey = staged.groupBy { case (id, _) => (id, 100L + id % 2, 10L) }
      stmts = stmts.map { case (k, (text, ts)) =>
          k -> (text, if (byKey.contains(k)) now else ts) } ++
        byKey.collect { case (k, rows) if !stmts.contains(k) =>
          k -> (rows.map(_._2).min, now) }
      q.foreach { case (qualid, relid) =>
        val k = (qualid, qualid % 3, 100L, 10L)
        if (!quals.contains(k)) quals += k -> relid
      }
    }
    def check(step: String): Unit = {
      assert(sd.readDim(e.store, srvid).collect().map(r =>
        (r.getAs[Long]("queryid"), r.getAs[Long]("dbid"),
          r.getAs[Long]("userid")) -> (r.getAs[String]("query"),
          r.getAs[Timestamp]("last_present_ts"))).toMap === stmts,
        s"statements dimension after $step")
      assert(qd.readDim(e.store, srvid).collect().map(r =>
        (r.getAs[Long]("qualid"), r.getAs[Long]("queryid"),
          r.getAs[Long]("dbid"), r.getAs[Long]("userid")) ->
          r.getAs[Seq[org.apache.spark.sql.Row]]("quals").head
            .getAs[Long]("relid")).toMap === quals,
        s"quals dimension after $step")
    }
    def stage(now: Timestamp, staged: Seq[(Long, String)],
        q: Seq[(Long, Long)]): Unit = {
      e.ingest("powa_statements", statementsAt(srvid, now, staged))
      e.ingest("powa_qualstats", qualstatsAt(srvid, now, q))
    }
    def tick(at: String, staged: Seq[(Long, String)], q: Seq[(Long, Long)],
        purgedBefore: Option[String] = None): Unit = {
      val now = Timestamp.valueOf(at)
      stage(now, staged, q)
      assert(e.takeSnapshot(srvid, now) === 0)
      rewrite(staged, q, now)
      purgedBefore.foreach(c => stmts = stmts.filter { case (_, (_, ts)) =>
        !ts.before(Timestamp.valueOf(c)) })
      check(s"the tick at $at")
    }
    // 1: new keys; key 1 twice in one tick, min(query) wins
    tick("2024-01-01 00:00:00",
      Seq(1L -> "SELECT b", 1L -> "SELECT a", 2L -> "SELECT 2"),
      Seq(7L -> 200L, 8L -> 201L))
    // 2: repeated keys (a new text for key 1 is not taken) and new ones;
    // quals first seen keep their shape
    tick("2024-01-01 00:05:00", Seq(1L -> "SELECT 0", 3L -> "SELECT 3"),
      Seq(7L -> 299L, 9L -> 202L))
    // 3: crash after the dimension log sinks are written, before the
    // statements marker: its dimension is unchanged; qualstats commits
    val t3 = Timestamp.valueOf("2024-01-01 00:10:00")
    stage(t3, Seq(1L -> "SELECT 1", 4L -> "SELECT 4"), Seq(10L -> 203L))
    assert(failingCommit(e, srvid)(e.takeSnapshot(srvid, t3)) === 1)
    rewrite(Nil, Seq(10L -> 203L), t3)
    check("the crashed tick")
    // 4: the retry drains the same staged rows on the aggregate tick,
    // which folds both logs
    val t4 = Timestamp.valueOf("2024-01-01 00:11:00")
    assert(e.takeSnapshot(srvid, t4) === 0)
    assert(e.registry.meta(srvid).aggts === Some(t4))
    rewrite(Seq(1L -> "SELECT 1", 4L -> "SELECT 4"), Nil, t4)
    check("the aggregate")
    Seq("powa_statements", "powa_qualstats").foreach(ds =>
      assert(e.store.batchCount(ds, GenericDatasource.Dim, srvid) === 0,
        s"$ds: the aggregate folds the log"))
    // 5: the purge ages out keys last seen before its cutoff, 00:08
    tick("2024-01-01 01:08:00", Seq(5L -> "SELECT 5"), Seq(7L -> 200L),
      purgedBefore = Some("2024-01-01 00:08:00"))
    assert(e.registry.meta(srvid).purgets ===
      Some(Timestamp.valueOf("2024-01-01 01:08:00")))
    assert(stmts.keySet.map(_._1) === Set(1L, 4L, 5L))
    // 6: a purged key comes back as new, with its new text
    tick("2024-01-01 01:13:00", Seq(2L -> "SELECT two"), Seq(8L -> 201L))
  }
}
