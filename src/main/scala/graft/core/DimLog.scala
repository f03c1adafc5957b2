package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** An append-only dimension kept as a log in one datasource's `dim` tier
  * — the store's own log-and-fold pattern (current → coalesced history,
  * PAPER.md §1.1) applied to a dimension table, the way Dremel appends
  * nested records and assembles them at read time.
  *
  * Layout: `<root>/<ds>/dim/srvid=N/` holds the folded file (one row per
  * key, `seq` = 0) plus one `.batch_*` directory per tick since the last
  * fold. Each tick appends its staged rows as an ordinary sink of
  * [[Store.snapshotCommit]], stamped with the batch's append ordinal
  * `seq`, so the append lands inside the commit marker and drains
  * atomically with staging. [[read]] folds the log per key: every
  * `first` column from the key's first-appended batch, every `last`
  * column from its last-appended batch ([[fold]]). [[compact]] and
  * [[rewrite]] fold the log back into one file with one partition swap.
  *
  * The ordinal, not a timestamp, orders the batches, so a tick whose
  * `now` steps back behind the previous tick's still wins, as the
  * reference's `UPDATE … SET last_present_ts = now()` does. SQL on the
  * tier (`StoreCatalog`'s `<ds>.dim`) reads the unfolded log between
  * folds; [[read]] is the folded view.
  */
final class DimLog(ds: String, schema: StructType, keys: Seq[String],
    first: Seq[String], last: Seq[String]) {
  import GenericDatasource.Dim

  /** The append ordinal column of a log row. */
  private val SeqCol = "seq"
  private val logSchema = StructType(schema.fields :+ StructField(SeqCol, LongType))

  /** The folded dimension of one server, in [[schema]]'s columns. */
  def read(store: Store, srvid: Int): DataFrame =
    fold(store.readPartition(ds, Dim, srvid, logSchema))

  /** The log rows of `rows` (carrying srvid and [[schema]]'s columns)
    * as one snapshot sink, stamped with the next append ordinal. The
    * caller holds the server's snapshot lock, so no other batch takes
    * the same ordinal; a rolled-back batch was never promoted, so its
    * retry takes it again. */
  def sink(store: Store, srvid: Int, rows: DataFrame): (String, DataFrame) =
    Dim -> rows.withColumn(SeqCol, lit(store.batchCount(ds, Dim, srvid) + 1L))

  /** Fold the log into one file when ticks appended to it since the
    * last fold. A directory listing, and no Spark job, when none did. */
  def compact(store: Store, srvid: Int): Unit =
    if (store.batchCount(ds, Dim, srvid) > 0) rewrite(store, srvid, lit(true))

  /** Fold the log into one file, keeping the folded rows that satisfy
    * `keep` (the retention filter of a purge). Keeps code generation,
    * like the aggregate and the purge that call it: the log grows with
    * the ticks since the last fold, up to a whole coalesce cycle. */
  def rewrite(store: Store, srvid: Int, keep: Column): Unit =
    if (store.hasPartition(ds, Dim, srvid))
      store.overwritePartition(ds, Dim, srvid,
        read(store, srvid).filter(keep)
          .withColumn(SeqCol, lit(0L)).withColumn("srvid", lit(srvid)))

  /** One row per key: each `first` column is its minimum non-null value
    * in the key's first-appended batch (the insert arm's `min(query)`),
    * each `last` column its value in the key's last-appended batch: one
    * aggregate over structs led by the ordinal, in ONE task — a server's
    * log is small, and a single partition needs no shuffle, so the fold
    * is one job and its output one file. The folded file's rows carry
    * ordinal 0, and rows of a dimension written before the log, which
    * have none, rank as 0 too. */
  private def fold(log: DataFrame): DataFrame = {
    val seq = coalesce(col(SeqCol), lit(0L))
    val aggs =
      first.map(c => min(struct(seq, col(c).isNull, col(c).as("v"))).as(c)) ++
      last.map(c => max(struct(seq, col(c).as("v"))).as(c))
    log.coalesce(1).groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(schema.fieldNames.toSeq.map(c =>
        if (keys.contains(c)) col(c) else col(s"$c.v").as(c)): _*)
  }
}
