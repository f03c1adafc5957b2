package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.DiffSync
import graft.spec.{ColSpec, DatasourceSpec}

/** The `powa_databases` dimension datasource — the per-tick database
  * list maintenance the reference runs FIRST in every snapshot pass
  * (`powa_databases_snapshot`, powa--5.2.0.sql:3731-3796, registered at
  * priority −3, :170). It has no metric tiers: snapshot is a diff-sync
  * of the staged `powa_databases_src` scan (oid, datname) into the
  * (oid, datname, dropped) dimension, and purge is the dropped-database
  * grace delete of `powa_databases_purge` (:5805-5845) — rows whose
  * `dropped` stamp is older than retention × 1.2. The 0.2 grace keeps
  * the dimension row alive one extra purge cycle so dependents
  * (statements, kcache …) age out their rows first via their own
  * retention; the reference gets the same effect from FK cascades
  * firing after the dependents' purges.
  */
final class DatabasesDatasource extends GenericDatasource(DatasourceSpec(
    name = "powa_databases",
    keyCols = Seq(ColSpec("oid", LongType), ColSpec("datname", StringType)),
    counterCols = Seq.empty,
    needOperators = false,
    priority = -3)) {
  import GenericDatasource._

  /** `powa_databases_src` staging shape (:3712-3729), minus srvid. */
  val srcSchema: StructType = StructType(Seq(
    StructField("oid", LongType), StructField("datname", StringType)))

  /** `powa_databases` (:146-152), coalesced to one row per oid with a
    * dropped stamp instead of delete-plus-reinsert. */
  val dimSchema: StructType = StructType(Seq(
    StructField("oid", LongType), StructField("datname", StringType),
    StructField("dropped", TimestampType)))

  def readDim(store: Store, srvid: Int): DataFrame =
    store.readPartition(name, Dim, srvid, dimSchema).drop("srvid")

  /** Diff-sync missing/renamed/dropped (:3746-3786) then drain the
    * staging partition (:3792-3794). A tick with no staged scan is a
    * no-op — same as every other datasource's empty-staging tick. */
  override def snapshot(store: Store, srvid: Int,
      now: java.sql.Timestamp): Long =
    withStaged(store, srvid, srcSchema) { staged =>
      val synced = DiffSync.sync(readDim(store, srvid),
        staged.select(col("oid"), col("datname")),
        Seq("oid"), "datname", "dropped", lit(now))
      store.overwritePartition(name, Dim, srvid,
        synced.withColumn("srvid", lit(srvid)))
      store.dropPartition(name, Staging, srvid)
    }

  /** Dimension-only: nothing to coalesce. */
  override def aggregate(store: Store, srvid: Int): Unit = ()

  /** retention × 1.2 (:5835) — see class doc for why the grace exists. */
  override def purgeCutoff(now: java.sql.Timestamp,
      retentionSec: Long): java.sql.Timestamp =
    new java.sql.Timestamp(now.getTime - retentionSec * 1200L)

  /** Drop rows whose dropped stamp predates the grace cutoff. */
  override def purge(store: Store, srvid: Int,
      cutoff: java.sql.Timestamp): Unit =
    if (store.hasPartition(name, Dim, srvid)) {
      val dim = readDim(store, srvid)
      store.overwritePartition(name, Dim, srvid,
        dim.filter(col("dropped").isNull || col("dropped") >= lit(cutoff))
          .withColumn("srvid", lit(srvid)))
  }

  override def reset(store: Store, srvid: Int): Unit =
    Seq(Staging, Dim).foreach(t => store.dropPartition(name, t, srvid))
}
