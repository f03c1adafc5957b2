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
  * (:4006-4108). Aggregate/purge/reset stay generic; reset also clears
  * the dimension partition.
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

  def readDim(store: Store, srvid: Int): DataFrame =
    store.readPartition(name, Dim, srvid, dimSchema).drop("srvid")

  override def snapshot(store: Store, srvid: Int,
      now: java.sql.Timestamp): Long = {
    recoverPending(store, srvid)
    withStaged(store, srvid, stagingWithQuery) { staged =>
      val (newDim, sinks) = StatementsPipeline.snapshot(
        readDim(store, srvid), staged, srvid, lit(now))
      // dim overwrite stays OUTSIDE the commit marker (Store's
      // snapshot-commit scaladoc: re-derived on a rolled-back retry,
      // reference-equivalent); it must complete BEFORE the drain —
      // its plan reads the staging partition — which `alongside`
      // guarantees (every unit joins before the marker), while
      // letting its planning overlap the sink stage writes
      store.snapshotCommit(name, Staging, srvid, sinks,
        alongside = Seq(() =>
          store.overwritePartition(name, Dim, srvid,
            newDim.withColumn("srvid", lit(srvid)))))
    }
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
    if (store.hasPartition(name, Dim, srvid)) {
      val dim = readDim(store, srvid)
      store.overwritePartition(name, Dim, srvid,
        dim.filter(col("last_present_ts") >= lit(cutoff))
          .withColumn("srvid", lit(srvid)))
    }
  }
}
