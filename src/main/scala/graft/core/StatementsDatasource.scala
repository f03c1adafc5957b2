package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.spec.Specs

/** The `powa_statements` datasource with its query-text dimension — the
  * one datasource whose snapshot is more than a generic append: the
  * staging rows carry the statement text (src_tmp layout,
  * powa--5.2.0.sql:1980-2022) and the snapshot maintains the
  * `powa_statements` MRU dimension besides the two record sinks
  * (:4006-4108). The dimension is an append-only log ([[DimLog]]):
  * each tick appends its seen rows as a third sink, the aggregate folds
  * the log back into one file, and the purge folds and filters it.
  * Reset also clears the dimension partition (generic reset).
  */
final class StatementsDatasource extends GenericDatasource(Specs.statements) {
  import GenericDatasource._

  /** staging = generic staging + the query text column. */
  val stagingWithQuery: StructType =
    StructType(spec.stagingSchema.fields :+ StructField("query", StringType))

  val dimSchema: StructType = StructType(Seq(
    StructField("queryid", LongType), StructField("dbid", LongType),
    StructField("userid", LongType), StructField("query", StringType),
    StructField("last_present_ts", TimestampType)))

  /** `query` is the `min` of the key's first tick (the anti-join insert,
    * :4032-4044), `last_present_ts` the stamp of its last (the MRU
    * update, :4025-4031). */
  val dimLog = new DimLog(name, dimSchema, StatementsPipeline.identityKeys,
    first = Seq("query"), last = Seq("last_present_ts"))

  def readDim(store: Store, srvid: Int): DataFrame = dimLog.read(store, srvid)

  override def snapshot(store: Store, srvid: Int,
      now: java.sql.Timestamp): Long = {
    recoverPending(store, srvid)
    withStaged(store, srvid, stagingWithQuery) { staged =>
      val (dimRows, sinks) = StatementsPipeline.snapshot(staged, srvid, lit(now))
      store.snapshotCommit(name, Staging, srvid,
        sinks :+ dimLog.sink(store, srvid, dimRows))
    }
  }

  /** The generic aggregate, then the dimension log folds into one file
    * on the same cadence. */
  override def aggregate(store: Store, srvid: Int): Unit = {
    super.aggregate(store, srvid)
    dimLog.compact(store, srvid)
  }

  /** `powa_statements_purge` (powa--5.2.0.sql:5850-5905): the generic
    * history purge PLUS dropping dimension rows not seen since the
    * retention cutoff (`last_present_ts < now - retention`, :5881-5888)
    * — without this the query-text dimension grows without bound.
    * Statements of a dropped database stop being MRU-touched, so they
    * age out here one retention after the drop; the databases dimension
    * row outlives them thanks to its 1.2 grace
    * (DatabasesDatasource.purgeCutoff) — same end state as the
    * reference's FK-cascade ordering. */
  override def purge(store: Store, srvid: Int,
      cutoff: java.sql.Timestamp): Unit = {
    super.purge(store, srvid, cutoff)
    dimLog.rewrite(store, srvid, col("last_present_ts") >= lit(cutoff))
  }
}
