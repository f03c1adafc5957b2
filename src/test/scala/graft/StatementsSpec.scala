package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.sources.StatementsSource
import graft.spec.Specs

class StatementsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A raw pgss-1.11-shaped frame (full column set). */
  private def raw111(): DataFrame = {
    import spark.implicits._
    val zeros = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    Seq(
      (10L, 100L, true, 1L, "SELECT 1", "alice", 5L, 1.5),
      (10L, 100L, true, 2L, "  DEALLOCATE foo", "alice", 1L, 0.1),
      (10L, 100L, true, 3L, "SELECT 3", "ignored_bot", 2L, 0.2))
      .toDF("userid", "dbid", "toplevel", "queryid", "query", "rolname",
        "calls", "total_exec_time")
      .withColumn("rows", lit(10L))
      .withColumn("shared_blks_hit", lit(1L))
      .withColumn("shared_blks_read", lit(2L))
      .withColumn("shared_blks_dirtied", lit(0L))
      .withColumn("shared_blks_written", lit(0L))
      .withColumn("local_blks_hit", lit(0L))
      .withColumn("local_blks_read", lit(0L))
      .withColumn("local_blks_dirtied", lit(0L))
      .withColumn("local_blks_written", lit(0L))
      .withColumn("temp_blks_read", lit(0L))
      .withColumn("temp_blks_written", lit(0L))
      .withColumn("shared_blk_read_time", lit(0.5))
      .withColumn("shared_blk_write_time", lit(0.0))
      .withColumn("local_blk_read_time", lit(0.0))
      .withColumn("local_blk_write_time", lit(0.0))
      .withColumn("temp_blk_read_time", lit(0.0))
      .withColumn("temp_blk_write_time", lit(0.0))
      .withColumn("plans", lit(1L))
      .withColumn("total_plan_time", lit(0.3))
      .withColumn("wal_records", lit(4L))
      .withColumn("wal_fpi", lit(0L))
      .withColumn("wal_bytes", lit(128L).cast(DecimalType(38, 0)))
      .withColumn("jit_functions", lit(0L))
      .withColumn("jit_generation_time", lit(0.0))
      .withColumn("jit_inlining_count", lit(0L))
      .withColumn("jit_inlining_time", lit(0.0))
      .withColumn("jit_optimization_count", lit(0L))
      .withColumn("jit_optimization_time", lit(0.0))
      .withColumn("jit_emission_count", lit(0L))
      .withColumn("jit_emission_time", lit(0.0))
      .withColumn("jit_deform_count", lit(0L))
      .withColumn("jit_deform_time", lit(0.0))
  }

  /** The same statements as an old (pre-1.8) view: total_time, combined
    * blk times, none of the newer columns. */
  private def rawOld(): DataFrame = {
    import spark.implicits._
    Seq((10L, 100L, 1L, "SELECT 1", "alice", 5L, 1.5, 0.5, 0.0))
      .toDF("userid", "dbid", "queryid", "query", "rolname",
        "calls", "total_time", "blk_read_time", "blk_write_time")
      .withColumn("rows", lit(10L))
      .withColumn("shared_blks_hit", lit(1L))
      .withColumn("shared_blks_read", lit(2L))
      .withColumn("shared_blks_dirtied", lit(0L))
      .withColumn("shared_blks_written", lit(0L))
      .withColumn("local_blks_hit", lit(0L))
      .withColumn("local_blks_read", lit(0L))
      .withColumn("local_blks_dirtied", lit(0L))
      .withColumn("local_blks_written", lit(0L))
      .withColumn("temp_blks_read", lit(0L))
      .withColumn("temp_blks_written", lit(0L))
  }

  val t0 = lit(Timestamp.valueOf("2024-01-01 00:00:00"))

  test("capture filters utility statements and ignored users") {
    val out = StatementsSource.capture(raw111(), 111, Seq("ignored_bot"), t0)
    val ids = out.select("queryid").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L)) // DEALLOCATE and ignored_bot rows dropped
  }

  test("version ladder normalizes every version to the 1.11 shape") {
    val v111 = StatementsSource.capture(raw111(), 111, Nil, t0)
    val vOld = StatementsSource.capture(rawOld(), 105, Nil, t0)
    assert(v111.columns.toSeq === vOld.columns.toSeq)
    // old total_time lands in total_exec_time; missing cols default
    val r = vOld.filter(col("queryid") === 1L).head()
    assert(r.getAs[Double]("total_exec_time") === 1.5)
    assert(r.getAs[Double]("shared_blk_read_time") === 0.5)
    assert(r.getAs[Long]("plans") === 0L)
    assert(r.getAs[Boolean]("toplevel"))
    // picking an unsupported low bound still resolves (floor of ladder)
    assert(StatementsSource.capture(rawOld(), 0, Nil, t0).count() === 1)
  }

  test("statements snapshot chain: dim MRU + missing insert + two sinks") {
    val root = java.nio.file.Files.createTempDirectory("graft_stmt").toString
    val store = new Store(spark, root)
    val dimLog = new StatementsDatasource().dimLog

    val name = Specs.statements.name
    val cap1 = StatementsSource.capture(raw111(), 111, Seq("ignored_bot"), t0)
    val (rows1, sinks1) = StatementsPipeline.snapshot(cap1, 1, t0)
    store.snapshotCommit(name, GenericDatasource.Staging, 1,
      sinks1 :+ dimLog.sink(store, 1, rows1))
    val dim1 = dimLog.read(store, 1)
    assert(dim1.count() === 1) // one new statement inserted
    assert(dim1.head().getAs[Timestamp]("last_present_ts") ===
      Timestamp.valueOf("2024-01-01 00:00:00"))

    // second tick: same statement seen again at t1 → MRU touch, no dup
    val t1 = lit(Timestamp.valueOf("2024-01-01 00:05:00"))
    val cap2 = StatementsSource.capture(raw111(), 111, Seq("ignored_bot"), t1)
    val (rows2, sinks2) = StatementsPipeline.snapshot(cap2, 1, t1)
    store.snapshotCommit(name, GenericDatasource.Staging, 1,
      sinks2 :+ dimLog.sink(store, 1, rows2))
    val dim2 = dimLog.read(store, 1)
    assert(dim2.count() === 1)
    assert(dim2.head().getAs[Timestamp]("last_present_ts") ===
      Timestamp.valueOf("2024-01-01 00:05:00"))

    // two sinks populated: per-query current and per-db rollup
    val cur = store.read(Specs.statements.name, GenericDatasource.Current,
      GenericDatasource.currentNoSrvid(Specs.statements))
    assert(cur.count() === 2) // one row per tick
    val db = store.read(Specs.statements.name, GenericDatasource.CurrentDb,
      GenericDatasource.currentNoSrvid(
        new GenericDatasource(Specs.statements).dbSpec.get))
    assert(db.count() === 2)
    assert(db.filter(col("record.calls") === 5L).count() === 2)
  }
}
