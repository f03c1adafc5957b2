package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.TopK
import graft.spec.Specs

/** The `powa_qualstats` datasource with its quals dimension. The staging
  * rows are the *normalized* per-qual output of
  * `graft.sources.QualstatsSource.normalize` (remote collectors run the
  * normalization query source on the monitored side, powa--5.2.0.sql:
  * 3102-3117): per (qualid, queryid, dbid, userid) metric sums plus the
  * `quals` shape array and ordered `constvalues`.
  *
  * Snapshot maintains two extra structures besides the generic metric
  * records (:7104-7207):
  *   - the quals dimension (`powa_qualstats_quals`, :3139-3147), an
  *     append-only log ([[DimLog]]): each tick appends its staged
  *     (qualid, queryid, dbid, userid, quals[]) rows, and the fold keeps
  *     each key's quals from its first appearance — the anti-join insert
  *     of missing quals (:7126-7143) — and runs at the aggregate;
  *   - per-qual constvalues rows (`powa_qualstats_constvalues_history_
  *     current`, :3160-3178) — kept in a `constvalues` tier, the input
  *     to the top-K ranking operator (TopK.multiTopK).
  */
final class QualstatsDatasource extends GenericDatasource(Specs.qualstats) {
  import GenericDatasource._

  val Constvalues = "constvalues"
  val ConstvaluesHistory = "constvalues_history"

  private val qualStruct = ArrayType(StructType(Seq(
    StructField("relid", LongType), StructField("attnum", IntegerType),
    StructField("opno", LongType), StructField("eval_type", StringType))))

  /** staging = generic staging + quals shape + ordered constvalues. */
  val stagingFull: StructType = StructType(spec.stagingSchema.fields ++ Seq(
    StructField("quals", qualStruct),
    StructField("constvalues", ArrayType(StringType))))

  val dimSchema: StructType = StructType(Seq(
    StructField("qualid", LongType), StructField("queryid", LongType),
    StructField("dbid", LongType), StructField("userid", LongType),
    StructField("quals", qualStruct)))

  val dimLog = new DimLog(name, dimSchema,
    Seq("qualid", "queryid", "dbid", "userid"), first = Seq("quals"),
    last = Nil)

  def readDim(store: Store, srvid: Int): DataFrame = dimLog.read(store, srvid)

  override protected def recoverPending(store: Store, srvid: Int): Unit = {
    super.recoverPending(store, srvid)
    store.recoverAggregate(name, Constvalues, ConstvaluesHistory, srvid)
  }

  override def snapshot(store: Store, srvid: Int,
      now: java.sql.Timestamp): Long = {
    recoverPending(store, srvid)
    withStaged(store, srvid, stagingFull) { staged =>
      // per-qual metric records, constvalues rows and the quals log's
      // batch land atomically with the staging drain (Store snapshot
      // commit protocol)
      store.snapshotCommit(name, Staging, srvid, Seq(
        Current -> staged.select(
          col("srvid") +: spec.keyNames.map(col) :+
            struct(col("ts") +: spec.counterCols.map(c => col(c.name)): _*)
              .as("record"): _*),
        Constvalues -> staged.select(
          col("srvid"), col("qualid"), col("queryid"), col("dbid"),
          col("userid"), col("ts"), col("constvalues"),
          col("occurences"), col("execution_count"), col("nbfiltered"),
          col("mean_err_estimate_ratio"), col("mean_err_estimate_num")),
        dimLog.sink(store, srvid, staged.select(col("srvid"), col("qualid"),
          col("queryid"), col("dbid"), col("userid"), col("quals")))))
    }
  }

  /** The constvalues tier schema (powa_qualstats_constvalues_history_
    * current, powa--5.2.0.sql:3178-3193), minus srvid (partition col). */
  val constvaluesSchema: StructType = StructType(Seq(
    StructField("qualid", LongType), StructField("queryid", LongType),
    StructField("dbid", LongType), StructField("userid", LongType),
    StructField("ts", TimestampType),
    StructField("constvalues", ArrayType(StringType)),
    StructField("occurences", LongType),
    StructField("execution_count", LongType),
    StructField("nbfiltered", LongType),
    StructField("mean_err_estimate_ratio", DoubleType),
    StructField("mean_err_estimate_num", DoubleType)))

  /** `qual_values` composite (powa--5.2.0.sql:3124-3131). */
  private val qualValues = StructType(Seq(
    StructField("constvalues", ArrayType(StringType)),
    StructField("occurences", LongType),
    StructField("execution_count", LongType),
    StructField("nbfiltered", LongType),
    StructField("mean_err_estimate_ratio", DoubleType),
    StructField("mean_err_estimate_num", DoubleType)))

  /** Packed tier schema (powa_qualstats_constvalues_history,
    * :3166-3177), coalesce_range flattened to range_start/range_end. */
  val constvaluesHistorySchema: StructType = StructType(Seq(
    StructField("qualid", LongType), StructField("queryid", LongType),
    StructField("dbid", LongType), StructField("userid", LongType),
    StructField("range_start", TimestampType),
    StructField("range_end", TimestampType)) ++
    Seq("most_used", "most_filtering", "least_filtering", "most_executed",
      "most_errestim_ratio", "most_errestim_num")
      .map(n => StructField(n, ArrayType(qualValues))))

  /** The constvalues packing operator —
    * `powa_qualstats_aggregate_constvalues_current`
    * (powa--5.2.0.sql:6925-6982): per distinct (qual key, constvalues)
    * sum/avg the metrics, rank six ways inside the qual key, pack the
    * top/bottom 20 of each ranking as rank-ordered qual_values arrays.
    * `constvalues` is appended to every ordering as a deterministic
    * tiebreaker (the reference's bare `ORDER BY metric DESC` leaves ties
    * to chance; stricter is safe for an equally-arbitrary-but-stable
    * pick). One window shuffle + one hash agg, both on the qual key.
    */
  def aggregateConstvalues(cv: DataFrame, k: Int = 20): DataFrame = {
    val qualKeys = Seq("srvid", "qualid", "queryid", "dbid", "userid")
    val grouped = cv
      .groupBy((qualKeys :+ "constvalues").map(col): _*)
      .agg(
        min(col("ts")).as("mints"), max(col("ts")).as("maxts"),
        sum(col("occurences")).as("occurences"),
        sum(col("execution_count")).as("execution_count"),
        sum(col("nbfiltered")).as("nbfiltered"),
        avg(col("mean_err_estimate_ratio")).as("mean_err_estimate_ratio"),
        avg(col("mean_err_estimate_num")).as("mean_err_estimate_num"))
    // filtered selectivity with the zero-execution guard (:6962)
    val filteredRatio = when(col("execution_count") === 0, lit(0.0))
      .otherwise(col("nbfiltered").cast("double") / col("execution_count"))
    val tie = col("constvalues").asc
    TopK.multiTopKPacked(
      grouped,
      qualKeys.map(col),
      Seq(
        ("most_used", Seq(col("occurences").desc, tie), false),
        ("most_filtering", Seq(filteredRatio.desc, tie), false),
        ("least_filtering", Seq(filteredRatio.desc, tie), true),
        ("most_executed", Seq(col("execution_count").desc, tie), false),
        ("most_errestim_ratio", Seq(col("mean_err_estimate_ratio").desc, tie), false),
        ("most_errestim_num", Seq(col("mean_err_estimate_num").desc, tie), false)),
      payload = struct(
        col("constvalues"), col("occurences"), col("execution_count"),
        col("nbfiltered"), col("mean_err_estimate_ratio"),
        col("mean_err_estimate_num")),
      k = k,
      extraAggs = Seq(
        min(col("mints")).as("range_start"),
        max(col("maxts")).as("range_end")))
  }

  /** `powa_qualstats_aggregate` (powa--5.2.0.sql:7191-7228): the generic
    * current→history coalesce (quals_history) PLUS the constvalues
    * packing into its own month-bucketed history tier, then both current
    * tiers drain; the quals log folds into one file on the same
    * cadence. */
  override def aggregate(store: Store, srvid: Int): Unit = {
    super.aggregate(store, srvid)
    if (store.hasPartition(name, Constvalues, srvid)) // dir => rows
      store.aggregateCycle(name, Constvalues, ConstvaluesHistory, srvid,
        constvaluesSchema)(aggregateConstvalues(_))
    dimLog.compact(store, srvid)
  }

  override def recover(store: Store): Unit = {
    super.recover(store)
    store.inflightSrvids(name, ConstvaluesHistory).foreach(id =>
      store.recoverAggregate(name, Constvalues, ConstvaluesHistory, id))
  }

  /** `powa_qualstats_purge` (powa--5.2.0.sql:7236-7260) drops coalesced
    * rows of BOTH history tiers past retention
    * (`upper(coalesce_range) < now() - retention`). */
  override def purge(store: Store, srvid: Int,
      cutoff: java.sql.Timestamp): Unit = {
    super.purge(store, srvid, cutoff)
    purgeBucketedTier(store, srvid, cutoff, ConstvaluesHistory,
      constvaluesHistorySchema)
  }

  override def compact(store: Store, srvid: Int, minFiles: Int): Unit = {
    super.compact(store, srvid, minFiles)
    store.compactPartition(name, ConstvaluesHistory, srvid,
      constvaluesHistorySchema, minFiles = minFiles, bucketed = true)
  }

  def readConstvaluesHistory(store: Store, srvid: Int): DataFrame =
    store.readPartition(name, ConstvaluesHistory, srvid,
      constvaluesHistorySchema)

  override def reset(store: Store, srvid: Int): Unit = {
    super.reset(store, srvid)
    store.dropPartition(name, Constvalues, srvid)
    store.dropPartition(name, ConstvaluesHistory, srvid)
  }
}
