package graft.queries

import scala.collection.immutable.TreeMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{EventsSource, Tables}
import graft.operators._
import graft.sources.{ModuleSources, SourceAdapter}

/** SURVEY.md §2 operator inventory expressed over the driver testdata,
  * each with a DuckDB oracle. Query naming: q{NN}_{operator}. */
object PowaQueries {

  private val D18_2 = DecimalType(18, 2)
  private def ts(s: String) = lit(java.sql.Timestamp.valueOf(s))

  // ---- §2.4: per-db rollup aggregation (powa--5.2.0.sql:4070-4094).
  //      Sums are carried as integer cents (scale-4 fixed point for the
  //      discounted price) so both engines hash identical int64 values —
  //      wide-decimal output canonicalizes differently across engines.
  private def q01(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(D18_2) * 100).cast("long").as("sum_qty_cents"),
        sum(col("l_extendedprice").cast(D18_2) * 100).cast("long").as("sum_base_price_cents"),
        sum(col("l_extendedprice").cast(D18_2) *
          (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(4, 2))) * 10000)
          .cast("long").as("sum_disc_price_e4"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ---- §2.4/§2.5: top-K-per-group (powa--5.2.0.sql:6924-6982)
  private def q02(s: SparkSession, d: String): DataFrame =
    TopK.topKPerGroup(
        Tables.orders(s, d),
        groupKeys = Seq(col("o_orderpriority")),
        orderBy = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        k = 10)
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rank"))

  // ---- §2.8: generated delta / per-second rate operators
  private def q03(s: SparkSession, d: String): DataFrame =
    DeltaRate.withRates(EventsSource.current(s, d), EventsSource.spec)
      .select(
        col("user_id"), col("event_type"),
        col("record.ts").as("ts"), col("record.value").as("value"),
        col("intvl_sec"), col("value_delta"), col("value_per_sec"))
      .orderBy(col("user_id"), col("event_type"), col("ts"))

  // ---- §2.4: coalesce aggregation round-trip (pack → unnest)
  private def q04(s: SparkSession, d: String): DataFrame =
    Coalesce.aggregate(EventsSource.current(s, d), EventsSource.spec)
      .select(
        col("srvid"), col("user_id"), col("event_type"),
        explode(col("records")).as("record"))
      .select(
        col("srvid"), col("user_id"), col("event_type"),
        col("record.ts").as("ts"), col("record.value").as("value"))
      .orderBy(col("user_id"), col("event_type"), col("ts"), col("value"))

  // ---- §2.4: coalesce min/max summary records + tstzrange bounds
  private def q05(s: SparkSession, d: String): DataFrame =
    Coalesce.aggregate(EventsSource.current(s, d), EventsSource.spec)
      .select(
        col("srvid"), col("user_id"), col("event_type"),
        col("range_start"), col("range_end"),
        size(col("records")).cast("long").as("n_records"),
        col("mins_in_range.value").as("min_value"),
        col("maxs_in_range.value").as("max_value"))
      .orderBy(col("user_id"), col("event_type"))

  // ---- §2.12: readback = current ∪ unnest(history) range overlap
  private def q06(s: SparkSession, d: String): DataFrame = {
    val cur = EventsSource.current(s, d)
    val split = ts("2024-01-15 00:00:00")
    val hist = Coalesce.aggregate(cur.filter(col("record.ts") < split), EventsSource.spec)
    Readback.series(
        cur.filter(col("record.ts") >= split), hist, EventsSource.spec,
        ts("2024-01-10 00:00:00"), ts("2024-01-20 00:00:00"))
      .select(
        col("srvid"), col("user_id"), col("event_type"),
        col("record.ts").as("ts"), col("record.value").as("value"))
      .orderBy(col("user_id"), col("event_type"), col("ts"), col("value"))
  }

  // ---- §2.11: retention purge over coalesced ranges
  private def q07(s: SparkSession, d: String): DataFrame = {
    val cur = EventsSource.current(s, d)
      .withColumn("batch", date_trunc("week", col("record.ts")))
    val hist = Coalesce.aggregate(
      cur, EventsSource.spec.copy(keyCols =
        EventsSource.spec.keyCols :+ graft.spec.ColSpec("batch", TimestampType)))
    Coalesce.purge(hist, java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      .select(
        col("srvid"), col("user_id"), col("event_type"), col("batch"),
        col("range_start"), col("range_end"),
        size(col("records")).cast("long").as("n_records"))
      .orderBy(col("user_id"), col("event_type"), col("batch"))
  }

  // ---- §2.3: missing-entity detection (anti-join, :3746-3753)
  private def q08(s: SparkSession, d: String): DataFrame =
    DiffSync.missing(
        Tables.customer(s, d),
        Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"))
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  // ---- §2.3: semi-join (qualstats → known statements, :7119-7124)
  private def q09(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_totalprice") > 200000.0)
          .select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_semi")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // ---- §2.3/§1.1: dimension diff-sync (missing/renamed/dropped,
  //      powa--5.2.0.sql:3731-3796), full merge semantics
  private def q10(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val split = ts("2024-01-15 00:00:00")
    val dim = ev.filter(col("ts") < split)
      .groupBy(col("user_id")).agg(min(col("event_type")).as("datname"))
      .withColumn("dropped", lit(null).cast("timestamp"))
    val src = ev.filter(col("ts") >= split)
      .groupBy(col("user_id")).agg(min(col("event_type")).as("datname"))
    DiffSync.sync(dim, src, Seq("user_id"), "datname", "dropped",
        ts("2024-02-01 00:00:00"))
      .orderBy(col("user_id"))
  }

  // ---- §2.1: version-dispatched source projection
  //      (powa_statements_src branches, :3798-4004; ladder pick :686-697)
  private def q11(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def base(v: Int): Seq[Column] = Seq(
      col("event_id"), lit(v).as("version"), col("event_type"), col("value"))
    val ladder = TreeMap[Int, Seq[Column]](
      1 -> (base(1) :+ lit(null).cast("long").as("prop_k")),
      2 -> (base(2) :+
        get_json_object(col("props"), "$.k").cast("long").as("prop_k")))
    // servers 0,1 run version 1 (missing column → NULL literal);
    // servers 2,3 run version 2 (real column)
    val v1 = SourceAdapter.project(ev.filter(col("user_id") % 4 < 2), ladder, 1)
    val v2 = SourceAdapter.project(ev.filter(col("user_id") % 4 >= 2), ladder, 5)
    v1.unionByName(v2).orderBy(col("event_id"))
  }

  // ---- §2.2: regex + membership predicates (utility-statement filter
  //      :3879, ignored_users :3880-3882)
  private def q12(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(!col("text").rlike("^\\s*(key|batch|window)\\b"))
      .filter(!col("source").isin("src0", "src9"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  // ---- §2.7: UNION dedup (pgss ∪ powa_statements, :7075-7080)
  private def q13(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_custkey").as("custkey"))
      .union(
        Tables.customer(s, d).filter(col("c_acctbal") > 5000.0)
          .select(col("c_custkey").as("custkey")))
      .distinct()
      .orderBy(col("custkey"))

  // ---- §2.5: unordered window min/max/count (W AS PARTITION BY …,
  //      :6953-6977)
  private def q14(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
    Tables.orders(s, d)
      .select(
        col("o_orderpriority"),
        count(lit(1)).over(w).as("nb_lines"),
        min(col("o_totalprice")).over(w).as("min_price"),
        max(col("o_totalprice")).over(w).as("max_price"))
      .distinct()
      .orderBy(col("o_orderpriority"))
  }

  // ---- §2.9: JSON handling (powa_configure_server json_each_text, :2768)
  private def q15(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n"))
      .orderBy(col("event_type"))

  // ---- §2.6: packed top-K (array_agg ORDER BY rank FILTER rank<=k,
  //      :6945-6950), verified by re-exploding the packed array
  private def q16(s: SparkSession, d: String): DataFrame =
    TopK.topKPacked(
        Tables.orders(s, d),
        groupKeys = Seq(col("o_orderpriority")),
        orderBy = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        payload = struct(col("o_orderkey"), col("o_totalprice")),
        k = 5, outName = "top")
      .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(
        col("o_orderpriority"), (col("pos") + 1).cast("long").as("rank"),
        col("p.o_orderkey").as("o_orderkey"),
        col("p.o_totalprice").as("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rank"))

  // ---- §2.6: ordered array_agg (ORDER BY constant_position, :7035),
  //      verified by re-exploding
  private def q17(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(array_sort(collect_list(struct(col("o_orderdate"), col("o_orderkey"))))
        .as("seq"))
      .select(col("o_orderpriority"), posexplode(col("seq")).as(Seq("pos", "p")))
      .select(col("o_orderpriority"), col("pos").cast("long").as("pos"),
        col("p.o_orderkey").as("o_orderkey"))
      .orderBy(col("o_orderpriority"), col("pos"))

  // ---- §1.1: per-db rollup tier (`*_db` tables — keys dropped, SUM
  //      GROUP BY dbid, ts; powa--5.2.0.sql:2125-2138)
  private def q18(s: SparkSession, d: String): DataFrame =
    EventsSource.current(s, d)
      .select(col("srvid"), date_trunc("day", col("record.ts")).as("day"),
        col("record.value").cast(D18_2).as("v"))
      .groupBy(col("srvid"), col("day"))
      .agg(sum(col("v") * 100).cast("long").as("sum_value_cents"),
        count(lit(1)).as("n"))
      .orderBy(col("srvid"), col("day"))

  // ---- §2.7: EXCEPT / array difference (dbnames algebra, :2540-2547)
  private def q19(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(collect_set(col("event_type")).as("types"))
      .select(col("user_id"),
        explode(array_sort(array_except(col("types"),
          array(lit("click"), lit("view"))))).as("event_type"))
      .orderBy(col("user_id"), col("event_type"))

  // ---- §2.3: MRU touch (UPDATE … last_present_ts, :4025-4031)
  private def q20(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val dim = ev.filter(col("ts") < ts("2024-01-15 00:00:00"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("last_present_ts"))
    val seen = ev.filter(col("ts") >= ts("2024-01-20 00:00:00"))
    DiffSync.mruTouch(dim, seen, Seq("user_id"), "last_present_ts",
        ts("2024-02-01 00:00:00"))
      .orderBy(col("user_id"))
  }

  // ---- §2.10: count-based coalesce batching (every powa.coalesce=5
  //      snapshots → one history row; powa--5.2.0.sql:3550, 01_general.sql:83)
  private def q21(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("srvid"), col("user_id"), col("event_type"))
      .orderBy(col("record.ts"))
    val batched = EventsSource.current(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("batch", expr("(rn - 1) DIV 5"))
      .drop("rn")
    Coalesce.aggregate(batched,
        EventsSource.spec.copy(keyCols =
          EventsSource.spec.keyCols :+ graft.spec.ColSpec("batch", LongType)))
      .select(
        col("srvid"), col("user_id"), col("event_type"), col("batch"),
        col("range_start"), col("range_end"),
        size(col("records")).cast("long").as("n_records"),
        col("mins_in_range.value").as("min_value"),
        col("maxs_in_range.value").as("max_value"))
      .orderBy(col("user_id"), col("event_type"), col("batch"))
  }

  // ---- §2.4: the full qualstats constvalues operator — five rankings
  //      over one pre-aggregated frame (powa--5.2.0.sql:6924-6982):
  //      most_used / most_filtering / least_filtering / most_executed /
  //      most_errestim, with the filtered-ratio zero guard (:6945-6950).
  //      events-as-quals mapping: qual = event_type, constvalue = user_id.
  private def q22(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(
        count(lit(1)).as("occurences"),
        sum(get_json_object(col("props"), "$.k").cast("long"))
          .as("execution_count"),
        sum(col("value").cast(D18_2) * 100).cast("long").as("filtered_cents"))
      // ratio guard: sum_execution_count = 0 → 0 (:6945-6950); integer
      // DIV keeps it exact in both engines
      .withColumn("ratio_ppm",
        when(col("execution_count") === 0, lit(0L))
          .otherwise(expr("(filtered_cents * 1000000) DIV execution_count")))
    TopK.multiTopK(base, Seq(col("event_type")),
        Seq(
          ("most_used", Seq(col("occurences").desc, col("user_id").asc), false),
          ("most_executed", Seq(col("execution_count").desc, col("user_id").asc), false),
          ("most_filtering", Seq(col("filtered_cents").desc, col("user_id").asc), false),
          ("least_filtering", Seq(col("filtered_cents").desc, col("user_id").asc), true),
          ("most_errestim", Seq(col("ratio_ppm").desc, col("user_id").asc), false)),
        k = 5)
      .select(col("event_type"), col("ranking"), col("rank"), col("user_id"),
        col("occurences"), col("execution_count"), col("filtered_cents"),
        col("ratio_ppm"))
      .orderBy(col("event_type"), col("ranking"), col("rank"))
  }

  // ---- §3.3: the canonical dashboard query — readback (current ∪
  //      history) followed by per-second rates, end to end (this is
  //      SparkEntry.entry with an oracle).
  private def q23(s: SparkSession, d: String): DataFrame = {
    val cur = EventsSource.current(s, d)
    val split = ts("2024-01-15 00:00:00")
    val hist = Coalesce.aggregate(cur.filter(col("record.ts") < split), EventsSource.spec)
    val series = Readback.series(
      cur.filter(col("record.ts") >= split), hist, EventsSource.spec,
      ts("2024-01-10 00:00:00"), ts("2024-01-20 00:00:00"))
    DeltaRate.withRates(series, EventsSource.spec)
      .select(
        col("user_id"), col("event_type"),
        col("record.ts").as("ts"), col("record.value").as("value"),
        col("intvl_sec"), col("value_delta"), col("value_per_sec"))
      .orderBy(col("user_id"), col("event_type"), col("ts"))
  }

  // ---- §2.4/§2.11: the packed constvalues lifecycle operator
  //      (powa_qualstats_aggregate_constvalues_current,
  //      powa--5.2.0.sql:6925-6982) — events mapped onto the constvalues
  //      tier shape (qual = user_id, constvalue = event_type), packed via
  //      QualstatsDatasource.aggregateConstvalues with k=3, then the six
  //      rank-ordered qual_values arrays re-flattened for the oracle.
  //      Doubles stay hash-safe: every double is integer-valued (cents),
  //      so partial sums are exact in any order and AVG divides the same
  //      exact sum by the same count in both engines.
  private def q24(s: SparkSession, d: String): DataFrame = {
    val cents = (col("value").cast(D18_2) * 100).cast("long")
    val cv = Tables.events(s, d).select(
      (col("user_id") % 4).cast("int").as("srvid"),
      col("user_id").as("qualid"),
      lit(0L).as("queryid"), lit(0L).as("dbid"), lit(0L).as("userid"),
      col("ts"),
      array(col("event_type")).as("constvalues"),
      lit(1L).as("occurences"),
      coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(0L))
        .as("execution_count"),
      cents.as("nbfiltered"),
      cents.cast("double").as("mean_err_estimate_ratio"),
      (cents % 7).cast("double").as("mean_err_estimate_num"))
    val packed = new graft.core.QualstatsDatasource()
      .aggregateConstvalues(cv, k = 3)
    val rankingNames = Seq("most_used", "most_filtering", "least_filtering",
      "most_executed", "most_errestim_ratio", "most_errestim_num")
    // one pass: per-ranking (ranking, rank, qual_values) entries, flattened
    val entries = flatten(array(rankingNames.map(n =>
      transform(col(n), (x, i) => struct(
        lit(n).as("ranking"), (i + 1).cast("int").as("rank"),
        x.as("v")))): _*))
    packed
      .select(col("srvid"), col("qualid"), explode(entries).as("e"))
      .select(col("srvid"), col("qualid"),
        col("e.ranking").as("ranking"), col("e.rank").as("rank"),
        col("e.v.constvalues").getItem(0).as("constvalue"),
        col("e.v.occurences").as("occurences"),
        col("e.v.execution_count").as("execution_count"),
        col("e.v.nbfiltered").as("nbfiltered"),
        col("e.v.mean_err_estimate_ratio").as("mean_err_estimate_ratio"),
        col("e.v.mean_err_estimate_num").as("mean_err_estimate_num"))
      .orderBy(col("srvid"), col("qualid"), col("ranking"), col("rank"))
  }

  // ---- shared deterministic event-derived columns for q25-q27
  private def evCents: Column = (col("value").cast(D18_2) * 100).cast("long")
  private def evK: Column =
    coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(0L))

  // ---- §2.1: the kcache version ladder (powa--5.2.0.sql:6567-6666) —
  //      pre-2.2 exec-only view (plan_* → NULL) vs 2.2+ split counters,
  //      with the dropped-db anti-join and ignored-users filter. events
  //      map: queryid=event_id, dbid=user_id%50, rolname=event_type.
  private def q25(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val base = ev.select(
      col("event_id").as("queryid"), lit(true).as("top"),
      col("user_id").as("userid"), (col("user_id") % 50).as("dbid"),
      col("event_type").as("rolname"), col("user_id"),
      evCents.as("c"), evK.as("k"))
    // the 12 kcache counters, derived deterministically from (c, k, ids)
    def counters(prefix: String, shift: Column): DataFrame => DataFrame =
      df => {
        val vals = Seq(
          "reads" -> (col("c") + shift), "writes" -> (col("k") + shift),
          "user_time" -> (col("k") + shift).cast("double"),
          "system_time" -> (col("c") + shift).cast("double"),
          "minflts" -> (col("queryid") + shift),
          "majflts" -> (col("userid") + shift),
          "nswaps" -> (col("c") % 3 + shift), "msgsnds" -> (col("k") % 5 + shift),
          "msgrcvs" -> (col("queryid") % 7 + shift),
          "nsignals" -> (col("userid") % 11 + shift),
          "nvcsws" -> (col("c") % 13 + shift), "nivcsws" -> (col("k") % 17 + shift))
        vals.foldLeft(df) { case (acc, (n, v)) => acc.withColumn(prefix + n, v) }
      }
    val rawV0 = counters("", lit(0L))(base.filter(col("user_id") % 2 === 0))
    val rawV202 = counters("exec_", lit(0L))(
      counters("plan_", lit(1000L))(base.filter(col("user_id") % 2 =!= 0)))
    val databases = ev.select((col("user_id") % 50).as("oid")).distinct()
      .withColumn("dropped",
        when(col("oid") % 7 === 0, ts("2024-01-01 00:00:00"))
          .otherwise(lit(null).cast("timestamp")))
    val t = ts("2024-06-01 00:00:00")
    val v0 = ModuleSources.kcacheCapture(rawV0, 201, databases, Seq("click"), t)
      .withColumn("version", lit(201))
    val v202 = ModuleSources.kcacheCapture(rawV202, 202, databases, Seq("click"), t)
      .withColumn("version", lit(202))
    v0.unionByName(v202)
      .select(col("queryid"), col("version"), col("dbid"), col("userid"),
        col("plan_reads"), col("plan_user_time"),
        col("exec_reads"), col("exec_writes"), col("exec_user_time"),
        col("exec_nivcsws"))
      .orderBy(col("queryid"))
  }

  // ---- §2.1/§2.3: wait-sampling capture (powa--5.2.0.sql:7289-7343) —
  //      left join to dedup'd pgss (queryid, dbid) pairs, COALESCE(dbid,
  //      0) for unmatched, SUM(count) GROUP BY the full key.
  private def q26(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val profile = ev.select(
      (col("user_id") % 4).cast("int").as("srvid"),
      (col("event_id") % 100).as("queryid"),
      col("event_type"), upper(col("event_type")).as("event"),
      evK.as("count"), evCents.as("c"))
    val pgss = profile.filter(col("c") > 0)
      .select(col("queryid"), (col("queryid") % 10).as("dbid"))
    ModuleSources.waitSamplingCapture(
        profile.drop("c"), pgss, ts("2024-06-01 00:00:00"))
      .select(col("srvid"), col("dbid"), col("event_type"), col("event"),
        col("queryid"), col("count").as("wait_count"))
      .orderBy(col("srvid"), col("dbid"), col("event_type"), col("queryid"))
  }

  // ---- §2.1: bgwriter pg17+ reconstruction from pg_stat_io
  //      (powa--5.2.0.sql:4622-4665): sum(writes+extends)/sum(fsyncs)
  //      over client backends cross-joined onto the bgwriter row.
  private def q27(s: SparkSession, d: String): DataFrame = {
    val bgw = Tables.orders(s, d).agg(
      sum((col("o_totalprice").cast(D18_2) * 100).cast("long"))
        .as("buffers_clean"),
      count(lit(1)).as("maxwritten_clean"),
      max(col("o_orderkey")).as("buffers_alloc"))
    val statIo = Tables.events(s, d).select(
      when(col("user_id") % 3 === 0, lit("client backend"))
        .otherwise(lit("other")).as("backend_type"),
      evK.as("writes"), evCents.as("extends"),
      (col("user_id") % 2).as("fsyncs"))
    ModuleSources.bgwriterCapture(bgw, statIo, 170000,
      ts("2024-06-01 00:00:00"))
  }

  // ---- §2.1: checkpointer pre-17 emulation (powa--5.2.0.sql:4666-4701):
  //      the checkpoint_* columns of pg_stat_bgwriter renamed onto the
  //      pg_stat_checkpointer shape.
  private def q28(s: SparkSession, d: String): DataFrame = {
    val bgw = Tables.lineitem(s, d).agg(
      count(lit(1)).as("checkpoints_timed"),
      sum(col("l_linenumber").cast("long")).as("checkpoints_req"),
      sum((col("l_quantity").cast(D18_2) * 100).cast("long")).cast("double")
        .as("checkpoint_write_time"),
      sum((col("l_discount").cast(DecimalType(4, 2)) * 100).cast("long"))
        .cast("double").as("checkpoint_sync_time"),
      max(col("l_orderkey")).as("buffers_checkpoint"))
    ModuleSources.checkpointerCapture(bgw, bgw, 160000,
      ts("2024-06-01 00:00:00"))
  }

  // ---- §2.1: synthesize-at-least-one-row (powa--5.2.0.sql:4381-4382) —
  //      an empty source still emits one NULL record per snapshot.
  private def q29(s: SparkSession, d: String): DataFrame = {
    val empty = Tables.nation(s, d).filter(col("n_nationkey") < 0)
      .select(col("n_nationkey").as("k"), col("n_name").as("name"))
    val nonEmpty = Tables.region(s, d)
      .select(col("r_regionkey").as("k"), col("r_name").as("name"))
    ModuleSources.atLeastOneRow(s, empty, ts("2024-06-01 00:00:00"))
      .unionByName(
        ModuleSources.atLeastOneRow(s, nonEmpty, ts("2024-06-02 00:00:00")))
      .orderBy(col("ts"), col("k").asc_nulls_first)
  }

  // ---- §2.11: the databases dimension lifecycle — two chained
  //      diff-sync ticks (missing/renamed/dropped, powa--5.2.0.sql:
  //      3731-3796) followed by the dropped-grace purge arm
  //      (:5820-5845), exactly the DatabasesDatasource flow.
  private def q30(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def scan(pred: Column): DataFrame = ev.filter(pred)
      .groupBy(col("user_id").as("oid"))
      .agg(min(col("event_type")).as("datname"))
    val dim0 = scan(col("event_id") % 5 < 3)
      .withColumn("dropped", lit(null).cast("timestamp"))
    val src1 = scan(col("event_id") % 5 === 3 && col("user_id") % 11 =!= 0)
    val src2 = scan(col("event_id") % 5 === 4 && col("user_id") % 13 =!= 0)
    val s1 = DiffSync.sync(dim0, src1, Seq("oid"), "datname", "dropped",
      ts("2024-02-01 00:00:00"))
    val s2 = DiffSync.sync(s1, src2, Seq("oid"), "datname", "dropped",
      ts("2024-03-01 00:00:00"))
    s2.filter(col("dropped").isNull ||
        col("dropped") >= ts("2024-02-15 00:00:00"))
      .orderBy(col("oid"))
  }

  // ---- §2.10/§2.12: FULL ENGINE ROUND-TRIP under the driver gate —
  //      weekly event rollups staged as powa_stat_bgwriter batches,
  //      ticked through Engine.takeSnapshot (priority walk, coalesce
  //      cadence with aggregate at tick 5, staging drain), then read
  //      back via readSeriesWithRates (current ∪ history + generated
  //      rate operators). The oracle recomputes the same series
  //      directly from events — proving the snapshot→aggregate→
  //      readback lifecycle is value-preserving end to end.
  private def q31(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q31")
    try {
      val e = new graft.core.Engine(s, root.toString)
      val srvid = e.registry.registerServer(graft.core.ServerConfig(
        id = 20, hostname = "h", powaCoalesce = 5,
        retentionSec = 3650L * 86400)) // srvid%20==0: aggregate at tick 5
      val weekly = Tables.events(s, d).filter(col("user_id") % 4 === 0)
        .groupBy(date_trunc("week", col("ts")).as("ts"))
        .agg(
          sum(evCents).as("buffers_clean"),
          count(lit(1)).as("maxwritten_clean"),
          sum(evK).as("buffers_backend"),
          max(col("event_id")).as("buffers_backend_fsync"),
          min(col("event_id")).as("buffers_alloc"))
        .withColumn("srvid", lit(srvid))
        .localCheckpoint()
      val weeks = weekly.select(col("ts")).orderBy(col("ts"))
        .collect().map(_.getTimestamp(0)) // tick list: tiny by construction
      weeks.foreach { wts =>
        e.ingest("powa_stat_bgwriter", weekly.filter(col("ts") === wts))
        e.takeSnapshot(srvid,
          new java.sql.Timestamp(wts.getTime + 3L * 86400 * 1000))
      }
      e.readSeriesWithRates("powa_stat_bgwriter", srvid,
          java.sql.Timestamp.valueOf("2023-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))
        .select(col("record.ts").as("ts"),
          col("record.buffers_clean").as("buffers_clean"),
          col("record.maxwritten_clean").as("maxwritten_clean"),
          col("record.buffers_backend").as("buffers_backend"),
          col("record.buffers_backend_fsync").as("buffers_backend_fsync"),
          col("record.buffers_alloc").as("buffers_alloc"),
          col("intvl_sec"),
          col("buffers_clean_per_sec"), col("buffers_backend_per_sec"))
        .orderBy(col("ts"))
        .localCheckpoint() // pin the result before the store is swept
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.12/§2.13: no-operator datasource readback — pg_stat_activity
  //      has `_need_operators => false` (powa--5.2.0.sql:1694): its
  //      series reads back verbatim, no delta/rate columns. Same engine
  //      round-trip shape as q31 on the activity spec: daily batches of
  //      session rows, coalesce at tick 5, readback = raw records.
  private def q32(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q32")
    try {
      val e = new graft.core.Engine(s, root.toString)
      val srvid = e.registry.registerServer(graft.core.ServerConfig(
        id = 40, hostname = "h", powaCoalesce = 5,
        retentionSec = 3650L * 86400))
      val spec = graft.spec.Specs.byName("powa_stat_activity")
      val rows = Tables.events(s, d)
        .filter(col("user_id") % 4 === 1 &&
          col("ts") < ts("2024-01-07 00:00:00"))
        .select(
          lit(srvid).as("srvid"), col("ts"),
          (col("user_id") % 50).as("datid"),
          (col("event_id") % 1000).cast("int").as("pid"),
          col("event_type").as("application_name"),
          lit("active").as("state"),
          col("event_id").as("query_id"),
          lit("client backend").as("backend_type"),
          col("ts").as("clock_ts"),
          date_trunc("day", col("ts")).as("batch"))
        .select(col("*") +: spec.counterCols
          .filterNot(c => Set("datid", "pid", "application_name", "state",
            "query_id", "backend_type", "clock_ts").contains(c.name))
          .map(c => lit(null).cast(c.dt).as(c.name)): _*)
        .localCheckpoint()
      val days = rows.select(col("batch")).distinct().orderBy(col("batch"))
        .collect().map(_.getTimestamp(0))
      days.foreach { day =>
        e.ingest("powa_stat_activity",
          rows.filter(col("batch") === day).drop("batch"))
        e.takeSnapshot(srvid,
          new java.sql.Timestamp(day.getTime + 23L * 3600 * 1000))
      }
      // needOperators=false → readSeriesWithRates returns the raw series
      e.readSeriesWithRates("powa_stat_activity", srvid,
          java.sql.Timestamp.valueOf("2023-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))
        .select(col("record.ts").as("ts"),
          col("record.datid").as("datid"), col("record.pid").as("pid"),
          col("record.application_name").as("application_name"),
          col("record.state").as("state"),
          col("record.query_id").as("query_id"),
          col("record.backend_type").as("backend_type"))
        .orderBy(col("query_id"))
        .localCheckpoint()
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.4/§2.11: the qualstats constvalues lifecycle through the
  //      FULL engine — daily staged batches snapshot into the
  //      constvalues tier, the tick-5 aggregate packs them into the
  //      month-bucketed constvalues_history via the six rankings, and
  //      the packed arrays are read back and flattened. The oracle
  //      recomputes the packing from events over the aggregated window
  //      (everything staged before the tick-5 aggregate).
  private def q33(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q33")
    try {
      val e = new graft.core.Engine(s, root.toString)
      val srvid = e.registry.registerServer(graft.core.ServerConfig(
        id = 60, hostname = "h", powaCoalesce = 5,
        retentionSec = 3650L * 86400))
      val cents = (col("value").cast(D18_2) * 100).cast("long")
      val rows = Tables.events(s, d)
        .filter(col("user_id") % 4 === 2 &&
          col("ts") < ts("2024-01-06 00:00:00"))
        .select(
          lit(srvid).as("srvid"), col("ts"),
          col("user_id").as("qualid"), lit(1L).as("queryid"),
          lit(1L).as("dbid"), lit(1L).as("userid"),
          lit(1L).as("occurences"),
          coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(0L))
            .as("execution_count"),
          cents.as("nbfiltered"),
          cents.cast("double").as("mean_err_estimate_ratio"),
          (cents % 7).cast("double").as("mean_err_estimate_num"),
          date_trunc("day", col("ts")).as("batch"),
          col("event_type"))
        .withColumn("quals", array(struct(lit(1L).as("relid"),
          lit(1).as("attnum"), lit(96L).as("opno"), lit("f").as("eval_type"))))
        .withColumn("constvalues", array(col("event_type")))
        .drop("event_type")
        .localCheckpoint()
      val days = rows.select(col("batch")).distinct().orderBy(col("batch"))
        .collect().map(_.getTimestamp(0))
      days.foreach { day =>
        e.ingest("powa_qualstats", rows.filter(col("batch") === day).drop("batch"))
        e.takeSnapshot(srvid,
          new java.sql.Timestamp(day.getTime + 23L * 3600 * 1000))
      }
      val qd = e.datasource("powa_qualstats")
        .asInstanceOf[graft.core.QualstatsDatasource]
      val packed = qd.readConstvaluesHistory(e.store, srvid)
      val rankingNames = Seq("most_used", "most_filtering", "least_filtering",
        "most_executed", "most_errestim_ratio", "most_errestim_num")
      val entries = flatten(array(rankingNames.map(n =>
        transform(col(n), (x, i) => struct(
          lit(n).as("ranking"), (i + 1).cast("int").as("rank"),
          x.as("v")))): _*))
      packed
        .select(col("qualid"), col("range_start"), col("range_end"),
          explode(entries).as("e"))
        .select(col("qualid"), col("range_start"), col("range_end"),
          col("e.ranking").as("ranking"), col("e.rank").as("rank"),
          col("e.v.constvalues").getItem(0).as("constvalue"),
          col("e.v.occurences").as("occurences"),
          col("e.v.execution_count").as("execution_count"),
          col("e.v.nbfiltered").as("nbfiltered"))
        .orderBy(col("qualid"), col("ranking"), col("rank"))
        .localCheckpoint()
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.3/§2.11: the STATEMENTS datasource end-to-end — the flagship
  //      pipeline (powa--5.2.0.sql:4006-4108) through the full engine:
  //      daily staged batches with query text drive the MRU dimension
  //      (touch + missing-insert), the per-entity current tier, and the
  //      per-db rollup tier; tick 2 coalesces both tiers into history
  //      (3 multi-batch ticks at coalesce 2 — tick 3 stays current).
  //      Output joins the dimension with per-key readback sums and the
  //      per-db rollup readback — one frame proving dim, record, and
  //      rollup sinks all preserve values through snapshot→aggregate→
  //      readback. The oracle recomputes everything from events.
  private def q34(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q34")
    try {
      val e = new graft.core.Engine(s, root.toString)
      // srvid 23 de-phases the coalesce-5 cadence (phase = (seq + 23%20)
      // % 5 = 4, 0, 1) so the 3-tick multi-batch run still AGGREGATES
      // mid-stream: tick 2 coalesces groups 1-2 into history, tick 3's
      // group stays current → the readback spans a genuine
      // current/history mix, which is the point of the query
      val srvid = e.registry.registerServer(graft.core.ServerConfig(
        id = 23, hostname = "h", powaCoalesce = 5,
        retentionSec = 3650L * 86400))
      val spec = graft.spec.Specs.statements
      val filled = Set("calls", "total_exec_time", "rows")
      val rows = Tables.events(s, d)
        .filter(col("user_id") % 4 === 3 &&
          col("ts") < ts("2024-01-06 00:00:00"))
        .select(
          lit(srvid).as("srvid"), col("ts"),
          col("user_id").as("queryid"),
          (col("user_id") % 5).as("dbid"),
          lit(true).as("toplevel"),
          (col("user_id") % 3).as("userid"),
          lit(1L).as("calls"),
          evCents.cast("double").as("total_exec_time"),
          evK.as("rows"),
          date_trunc("day", col("ts")).as("batch"))
        .select(col("*") +: spec.counterCols
          .filterNot(c => filled.contains(c.name))
          .map(c => lit(0).cast(c.dt).as(c.name)): _*)
        .withColumn("query",
          concat(lit("SELECT "), col("queryid").cast("string")))
        .localCheckpoint()
      // MULTI-BATCH collector semantics (round-4 VERDICT item 5): two
      // daily landings per tick — the drain consumes every staged ts,
      // and the MRU dimension stamps tick time exactly like the
      // reference's now() at snapshot (powa--5.2.0.sql:4025-4031).
      // Group boundaries are LITERAL (the filtered events span exactly
      // 2024-01-01..05 at every sf — TESTDATA.md) so the oracle can
      // carry the same literal tick timestamps and check the stamped
      // values independently, instead of both sides deriving the
      // day → tick mapping from the data with the same logic.
      Seq(("2024-01-01", "2024-01-02"),
          ("2024-01-03", "2024-01-04"),
          ("2024-01-05", "2024-01-05")).foreach { case (d0, d1) =>
        e.ingest("powa_statements",
          rows.filter(col("batch").between(
            ts(s"$d0 00:00:00"), ts(s"$d1 00:00:00"))).drop("batch"))
        e.takeSnapshot(srvid, java.sql.Timestamp.valueOf(s"$d1 23:00:00"))
      }
      val ds = e.datasource("powa_statements")
        .asInstanceOf[graft.core.StatementsDatasource]
      val from = java.sql.Timestamp.valueOf("2023-01-01 00:00:00")
      val to = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
      val dim = ds.readDim(e.store, srvid)
      val perKey = ds.readSeries(e.store, srvid, from, to)
        .groupBy(col("queryid"), col("dbid"), col("userid"))
        .agg(
          sum(col("record.calls")).as("calls"),
          sum(col("record.total_exec_time")).as("runtime"),
          sum(col("record.rows")).as("rows_sum"))
      val perDb = ds.readSeriesDb(e.store, srvid, from, to)
        .groupBy(col("dbid"))
        .agg(sum(col("record.calls")).as("db_calls"),
          sum(col("record.total_exec_time")).as("db_runtime"))
      dim.join(perKey, Seq("queryid", "dbid", "userid"))
        .join(perDb, Seq("dbid"))
        .select(col("queryid"), col("dbid"), col("userid"), col("query"),
          col("last_present_ts"), col("calls"), col("runtime"),
          col("rows_sum"), col("db_calls"), col("db_runtime"))
        .orderBy(col("queryid"), col("dbid"), col("userid"))
        .localCheckpoint()
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.11: CATALOG MIRRORS through the engine tick — remote-server
  //      catalog staging imported by the per-tick catalog pass
  //      (powa--5.2.0.sql:3663-3694, :5714-5787): full replace per
  //      (srvid, dbid), freshness-filtered work list (a re-stage inside
  //      the refresh window is skipped AND drained), pg_class-last
  //      refresh stamping. Three phases over two dbids prove replace +
  //      skip + stale-refresh; the oracle recomputes the surviving
  //      mirror contents directly.
  private def q35(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q35")
    try {
      val e = new graft.core.Engine(s, root.toString)
      val srvid = e.registry.registerServer(graft.core.ServerConfig(
        id = 3, hostname = "remote", powaCoalesce = 5,
        catalogRefreshSec = 86400)) // 1-day freshness window
      val part = Tables.table(s, d, "part")
      def cls(m: Int) = part.filter(col("p_partkey") % 7 === m)
        .select(col("p_partkey").cast("long").as("oid"),
          col("p_name").as("name"))
      val region = Tables.table(s, d, "region")
        .select(col("r_regionkey").cast("long").as("oid"),
          col("r_name").as("name"))
      def t(x: String) = java.sql.Timestamp.valueOf(x)

      // T1: initial import for both dbids
      Seq(1L, 2L).foreach { dbid =>
        e.catalogs.stage("pg_namespace", srvid, dbid, region)
        e.catalogs.stage("pg_class", srvid, dbid, cls(0))
      }
      e.takeSnapshot(srvid, t("2024-01-01 00:00:00"))
      // T2 (1 h later, inside the window): re-stage both — must be
      // SKIPPED by the freshness filter and drained
      Seq(1L, 2L).foreach { dbid =>
        e.catalogs.stage("pg_class", srvid, dbid, cls(1))
      }
      e.takeSnapshot(srvid, t("2024-01-01 01:00:00"))
      // T3 (2 days later, stale): re-stage dbid 1 only → replaced;
      // dbid 2 keeps its T1 content
      e.catalogs.stage("pg_namespace", srvid, 1L,
        region.withColumn("name", upper(col("name"))))
      e.catalogs.stage("pg_class", srvid, 1L, cls(2))
      e.takeSnapshot(srvid, t("2024-01-03 00:00:00"))

      val frames = for {
        dbid <- Seq(1L, 2L); cat <- Seq("pg_class", "pg_namespace")
      } yield e.catalogs.read(cat, srvid, dbid).get
        .select(lit(dbid).as("dbid"), lit(cat).as("cat"),
          col("oid"), col("name"))
      frames.reduce(_ unionByName _)
        .orderBy(col("cat"), col("dbid"), col("oid"))
        .localCheckpoint()
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.10/§2.11: MULTI-SERVER FLEET isolation — three servers with
  //      different powa_coalesce settings ingest disjoint slices and
  //      tick through the same engine; the `srvid % 20` de-phasing puts
  //      them on different aggregate schedules, so at read time each
  //      server's data sits in a different current/history mix. The
  //      readback sums must still equal a direct recomputation of each
  //      server's own slice — value preservation AND tenant isolation
  //      in one oracle-checked frame.
  private def q36(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q36")
    try {
      val e = new graft.core.Engine(s, root.toString)
      // srvid%20 de-phasing chosen so the 3 multi-batch ticks leave
      // each server in a DIFFERENT current/history mix (the query's
      // point), with every coalesce legal (>= 5): srvid 42 (%20=2,
      // c=5) → phases 3,4,0: aggregates at the FINAL tick → pure
      // history; srvid 63 (%20=3, c=5) → phases 4,0,1: aggregates at
      // tick 2 → mixed; srvid 25 (%20=5, c=9) → phases 6,7,8: never
      // hits 0 → pure current
      val servers = Seq((42, 0, 5), (63, 1, 5), (25, 2, 9))
      servers.foreach { case (id, _, coal) =>
        e.registry.registerServer(graft.core.ServerConfig(
          id = id, hostname = s"h$id", powaCoalesce = coal,
          retentionSec = 3650L * 86400))
      }
      val base = Tables.events(s, d)
        .filter(col("ts") < ts("2024-01-08 00:00:00"))
        .select(col("ts"), col("user_id"), col("event_id"), evCents.as("cents"),
          date_trunc("day", col("ts")).as("batch"))
        .localCheckpoint()
      val days = base.select(col("batch")).distinct().orderBy(col("batch"))
        .collect().map(_.getTimestamp(0))
      // MULTI-BATCH staging drain (round-4 VERDICT item 5): the collector
      // lands THREE daily batches per server, then ONE tick drains them
      // all — the reference's staging semantics already read every staged
      // ts (powa--5.2.0.sql:3980-4001), so record values are identical to
      // per-day ticking while the fleet pays a third of the tick
      // orchestration (21 → 9 ticks across the 3 servers)
      days.grouped(3).foreach { group =>
        servers.foreach { case (id, m, _) =>
          val slice = base
            .filter(col("batch").isin(group.toSeq: _*) &&
              col("user_id") % 3 === m)
            .select(
              lit(id).as("srvid"), col("ts"),
              col("cents").as("buffers_clean"),
              lit(1L).as("maxwritten_clean"),
              col("event_id").as("buffers_backend"),
              lit(0L).as("buffers_backend_fsync"),
              lit(0L).as("buffers_alloc"))
          e.ingest("powa_stat_bgwriter", slice)
          e.takeSnapshot(id,
            new java.sql.Timestamp(group.last.getTime + 23L * 3600 * 1000))
        }
      }
      val from = java.sql.Timestamp.valueOf("2023-01-01 00:00:00")
      val to = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
      val ds = e.datasource("powa_stat_bgwriter")
      servers.map { case (id, _, _) =>
        ds.readSeries(e.store, id, from, to)
          .groupBy(col("srvid"))
          .agg(
            count(lit(1)).as("n_records"),
            sum(col("record.buffers_clean")).as("sum_cents"),
            sum(col("record.buffers_backend")).as("sum_event_id"))
      }.reduce(_ unionByName _)
        .orderBy(col("srvid"))
        .localCheckpoint()
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.10: STRUCTURED STREAMING front-end under the driver gate —
  //      the same daily-rollup math as q31 but fed through
  //      StreamIngest: each micro-batch lands in staging and drives one
  //      snapshot tick, the 5th tick fires the coalesce aggregate, and
  //      the readback (current ∪ history + rates) must equal the oracle
  //      recomputing directly from events. Proves the streaming path is
  //      value-identical to the batch path.
  private def q37(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q37")
    try {
      val e = new graft.core.Engine(s, root.toString)
      val srvid = e.registry.registerServer(graft.core.ServerConfig(
        id = 20, hostname = "h", powaCoalesce = 5,
        retentionSec = 3650L * 86400))
      val daily = Tables.events(s, d)
        .filter(col("user_id") % 4 === 1 &&
          col("ts") < ts("2024-01-06 00:00:00"))
        .groupBy(date_trunc("day", col("ts")).as("ts"))
        .agg(
          sum(evCents).as("buffers_clean"),
          count(lit(1)).as("maxwritten_clean"),
          sum(evK).as("buffers_backend"),
          max(col("event_id")).as("buffers_backend_fsync"),
          min(col("event_id")).as("buffers_alloc"))
        .orderBy(col("ts"))
        .collect() // 5 daily rows — the stream feeder, not the operator
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[StreamBgRow]
      val ticks = daily.map(r =>
        new java.sql.Timestamp(r.getTimestamp(0).getTime + 23L * 3600 * 1000))
          .iterator
      val q = graft.streaming.StreamIngest.attach(
          e, "powa_stat_bgwriter", mem.toDF(),
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
          tickNow = () => ticks.next())
        .start()
      try {
        daily.foreach { r =>
          mem.addData(StreamBgRow(srvid, r.getTimestamp(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
          q.processAllAvailable()
        }
      } finally q.stop()
      e.readSeriesWithRates("powa_stat_bgwriter", srvid,
          java.sql.Timestamp.valueOf("2023-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))
        .select(col("record.ts").as("ts"),
          col("record.buffers_clean").as("buffers_clean"),
          col("record.maxwritten_clean").as("maxwritten_clean"),
          col("record.buffers_backend").as("buffers_backend"),
          col("intvl_sec"), col("buffers_clean_per_sec"))
        .orderBy(col("ts"))
        .localCheckpoint()
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.11: PER-FEATURE RETENTION through the engine purge —
  //      powa_get_server_retention resolution (powa--5.2.0.sql:
  //      2942-2990): bgwriter carries a 30-day feature override while
  //      checkpointer inherits the 10-year server default. Both ingest
  //      the same five January days (packed into history at tick 5)
  //      plus a mid-March day; the tick-6 purge then drops ONLY
  //      bgwriter's January history. The readback sums prove the purge
  //      divergence and that the survivor is untouched.
  private def q38(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q38")
    try {
      val e = new graft.core.Engine(s, root.toString)
      val srvid = e.registry.registerServer(graft.core.ServerConfig(
        id = 20, hostname = "h", powaCoalesce = 5,
        retentionSec = 3650L * 86400,
        featureRetention = Map("powa_stat_bgwriter" -> 30L * 86400)))
      val base = Tables.events(s, d)
        .filter(col("ts") < ts("2024-01-07 00:00:00"))
        .select(col("ts"), col("user_id"), evCents.as("cents"), evK.as("k"))
        // day 6 plays the "recent" batch: shift it to mid-March so the
        // 30-day cutoff falls between it and the January history
        .withColumn("ts", when(col("ts") >= ts("2024-01-06 00:00:00"),
            col("ts") + expr("INTERVAL 70 DAYS")).otherwise(col("ts")))
        .withColumn("batch", date_trunc("day", col("ts")))
        .localCheckpoint()
      val days = base.select(col("batch")).distinct().orderBy(col("batch"))
        .collect().map(_.getTimestamp(0))
      days.foreach { day =>
        val slice = base.filter(col("batch") === day)
        e.ingest("powa_stat_bgwriter", slice
          .filter(col("user_id") % 4 === 2)
          .select(lit(srvid).as("srvid"), col("ts"),
            col("cents").as("buffers_clean"),
            lit(1L).as("maxwritten_clean"), col("k").as("buffers_backend"),
            lit(0L).as("buffers_backend_fsync"), lit(0L).as("buffers_alloc")))
        e.ingest("powa_stat_checkpointer", slice
          .filter(col("user_id") % 4 === 3)
          .select(lit(srvid).as("srvid"), col("ts"),
            col("k").as("num_timed"), lit(1L).as("num_requested"),
            col("cents").cast("double").as("write_time"),
            lit(0.0d).as("sync_time"), col("cents").as("buffers_written")))
        e.takeSnapshot(srvid,
          new java.sql.Timestamp(day.getTime + 23L * 3600 * 1000))
      }
      val from = java.sql.Timestamp.valueOf("2023-01-01 00:00:00")
      val to = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
      val bg = e.datasource("powa_stat_bgwriter")
        .readSeries(e.store, srvid, from, to)
        .agg(count(lit(1)).as("n_records"),
          sum(col("record.buffers_clean")).as("sum_c"))
        .select(lit("bgwriter").as("ds"), col("n_records"), col("sum_c"))
      val cp = e.datasource("powa_stat_checkpointer")
        .readSeries(e.store, srvid, from, to)
        .agg(count(lit(1)).as("n_records"),
          sum(col("record.num_timed")).as("sum_c"))
        .select(lit("checkpointer").as("ds"), col("n_records"), col("sum_c"))
      bg.unionByName(cp).orderBy(col("ds")).localCheckpoint()
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.1/§2.3: kcache capture filters — dropped-database anti-join
  //      against the databases dimension (powa--5.2.0.sql:6616-6618)
  //      and ignored-users membership (:6612-6615), through the real
  //      kcacheCapture adapter at kcache 2.2 (split plan/exec ladder).
  private def q39(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.table(s, d, "nation")
      .select(col("n_nationkey").cast("long").as("oid"),
        when(col("n_nationkey") % 5 === 0, ts("2024-01-01 00:00:00"))
          .otherwise(lit(null).cast("timestamp")).as("dropped"))
    val raw = Tables.events(s, d)
      .filter(col("ts") < ts("2024-01-03 00:00:00"))
      .select(
        (col("user_id") % 25).as("dbid"), col("event_id").as("queryid"),
        lit(true).as("top"), col("user_id").as("userid"),
        col("event_type").as("rolname"),
        evCents.as("exec_reads_src"), evK.as("exec_writes_src"))
    val withCounters = ModuleSources.kcacheCounters.foldLeft(raw) {
      case (df, c) => df
        .withColumn(s"plan_$c",
          lit(if (c.endsWith("time")) null else null)
            .cast(if (c.endsWith("time")) "double" else "long"))
        .withColumn(s"exec_$c", c match {
          case "reads" => col("exec_reads_src")
          case "writes" => col("exec_writes_src")
          case _ if c.endsWith("time") => lit(0.0d)
          case _ => lit(0L)
        })
    }
    ModuleSources.kcacheCapture(withCounters, version = 202, databases = dim,
        ignoredUsers = Seq("click"), ts = ts("2024-02-01 00:00:00"))
      .select(col("dbid"), col("queryid"), col("userid"),
        col("exec_reads"), col("exec_writes"))
      .orderBy(col("queryid"))
  }

  // ---- §2.11 (round-3): REGISTRY/METAS PERSISTENCE under the gate —
  //      the q31 weekly bgwriter lifecycle, but the tick sequence is
  //      split across TWO Engine instances on one store root (a
  //      mid-cadence process restart). The second engine loads
  //      powa_servers + powa_snapshot_metas back from the _registry/
  //      parquet tables (powa--5.2.0.sql:120-136, :908-918) and resumes
  //      at coalesce_seq = 3, so the aggregate keeps firing on global
  //      ticks 5k — the in_history column proves which weeks were
  //      coalesced. A restart that reset coalesce_seq (the round-2
  //      durability gap) would shift every aggregate boundary and
  //      hash-mismatch against the oracle's floor(n/5)*5 split.
  private def q40(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q40")
    try {
      val weekly = Tables.events(s, d).filter(col("user_id") % 4 === 3)
        .groupBy(date_trunc("week", col("ts")).as("ts"))
        .agg(
          sum(evCents).as("buffers_clean"),
          count(lit(1)).as("maxwritten_clean"),
          sum(evK).as("buffers_backend"),
          max(col("event_id")).as("buffers_backend_fsync"),
          min(col("event_id")).as("buffers_alloc"))
        .withColumn("srvid", lit(80))
        .localCheckpoint()
      val weeks = weekly.select(col("ts")).orderBy(col("ts"))
        .collect().map(_.getTimestamp(0)) // tick list: tiny by construction
      def run(e: graft.core.Engine, ws: Seq[java.sql.Timestamp]): Unit =
        ws.foreach { wts =>
          e.ingest("powa_stat_bgwriter", weekly.filter(col("ts") === wts))
          e.takeSnapshot(80,
            new java.sql.Timestamp(wts.getTime + 3L * 86400 * 1000))
        }
      val (beforeRestart, afterRestart) = weeks.toSeq.splitAt(3)
      val a = new graft.core.Engine(s, root.toString)
      a.registry.registerServer(graft.core.ServerConfig(
        id = 80, hostname = "h", powaCoalesce = 5,
        retentionSec = 3650L * 86400)) // srvid%20==0: aggregate at tick 5k
      run(a, beforeRestart)
      // process restart: a fresh Engine re-loads servers + cadence phase
      val b = new graft.core.Engine(s, root.toString)
      run(b, afterRestart)
      val spec = graft.spec.Specs.byName("powa_stat_bgwriter")
      val histTs = b.store.read("powa_stat_bgwriter",
          graft.core.GenericDatasource.History,
          graft.core.GenericDatasource.historyNoSrvid(spec))
        .select(explode(col("records.ts")).as("ts"),
          lit(true).as("in_hist"))
      b.readSeriesWithRates("powa_stat_bgwriter", 80,
          java.sql.Timestamp.valueOf("2023-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))
        .select(col("record.ts").as("ts"),
          col("record.buffers_clean").as("buffers_clean"),
          col("record.maxwritten_clean").as("maxwritten_clean"),
          col("record.buffers_backend").as("buffers_backend"),
          col("record.buffers_backend_fsync").as("buffers_backend_fsync"),
          col("record.buffers_alloc").as("buffers_alloc"))
        .join(histTs, Seq("ts"), "left")
        .withColumn("in_history", coalesce(col("in_hist"), lit(false)))
        .drop("in_hist")
        .orderBy(col("ts"))
        .localCheckpoint() // pin the result before the store is swept
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.11 (round-3): the db-module dbnames ALGEBRA under the gate
  //      (powa_{activate,deactivate}_db_module, powa--5.2.0.sql:
  //      2397-2567): activation REPLACES the name list, specific
  //      deactivation EXCEPTs names out (disabled when emptied), global
  //      deactivation keeps a disabled row. Applied through a PERSISTENT
  //      registry and read back from a second Registry instance on the
  //      same root, so the stored db_module_config parquet — not the
  //      in-memory state — is what's hashed. The oracle recomputes the
  //      final membership set-algebraically from the nation table.
  private def q41(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q41")
    try {
      val nations = Tables.table(s, d, "nation")
        .select(col("n_nationkey").cast("int").as("k"), col("n_name").as("name"))
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)
      def names(pred: Int => Boolean) =
        nations.filter(t => pred(t._1)).map(_._2)
      val pa = new graft.core.RegistryStore(root.toString)
      val ra = new graft.core.Registry(Some(pa))
      // EXCEPT arm: activate a list, then deactivate a sub-list
      ra.activateDbModule(1, "pg_stat_all_tables", Some(names(_ % 3 == 0)))
      ra.deactivateDbModule(1, "pg_stat_all_tables", Some(names(_ % 6 == 0)))
      // all-databases arm (dbnames NULL)
      ra.activateDbModule(1, "pg_stat_all_indexes", None)
      // global deactivation keeps a disabled row
      ra.activateDbModule(1, "pg_stat_user_functions", Some(names(_ % 4 == 0)))
      ra.deactivateDbModule(1, "pg_stat_user_functions", None)
      // re-activation REPLACES the previous list (:2443-2446 — no merge)
      ra.activateDbModule(1, "pg_stat_user_indexes", Some(names(_ % 5 == 0)))
      ra.activateDbModule(1, "pg_stat_user_indexes", Some(names(_ % 2 == 0)))
      // hash the PERSISTED state: a second registry on the same root
      val rb = new graft.core.Registry(
        Some(new graft.core.RegistryStore(root.toString)))
      val modules = Seq("pg_stat_all_tables", "pg_stat_all_indexes",
        "pg_stat_user_functions", "pg_stat_user_indexes")
      import s.implicits._
      modules.flatMap(m => nations.map { case (_, n) =>
        (m, n, rb.isDbModuleEnabled(1, m, n))
      }).toDF("module", "dbname", "enabled")
        .orderBy(col("module"), col("dbname"))
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.11 (round-3): powa_configure_server's field-whitelisted
  //      JSON patch (powa--5.2.0.sql:2768-2783) under the gate: patches
  //      derived from the region table are applied to five registered
  //      servers (an invalid-field patch on even servers must be
  //      REJECTED whole, like the reference's "invalid field" error),
  //      then the persisted powa_servers parquet is read back through a
  //      fresh Registry and hashed against the oracle's recomputation.
  private def q42(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q42")
    try {
      val regions = Tables.table(s, d, "region")
        .select(col("r_regionkey").cast("int").as("k"), col("r_name").as("name"))
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)
      val ra = new graft.core.Registry(
        Some(new graft.core.RegistryStore(root.toString)))
      val rejected = regions.map { case (k, name) =>
        val srvid = ra.registerServer(graft.core.ServerConfig(
          id = 100 + k, hostname = s"host$k"))
        ra.configureServerJson(srvid, Map(
          "alias" -> name,
          "frequency" -> (600 + k * 10).toString,
          "retention" -> (86400L * (k + 1)).toString,
          "powa_coalesce" -> (100 + 5 * k).toString))
        val bad = k % 2 == 0 &&
          (try {
            // whole patch must be rejected: valid fields ride along
            ra.configureServerJson(srvid, Map(
              "frequency" -> "9999", "not_a_field" -> "x"))
            false
          } catch { case _: IllegalArgumentException => true })
        (srvid, bad)
      }.toMap
      val rb = new graft.core.Registry(
        Some(new graft.core.RegistryStore(root.toString)))
      import s.implicits._
      regions.map { case (k, _) =>
        val c = rb.server(100 + k)
        (c.id, c.hostname, c.alias.getOrElse(""), c.frequencySec,
          c.retentionSec, c.powaCoalesce, c.versionNum,
          rejected(100 + k))
      }.toDF("srvid", "hostname", "alias", "frequency", "retention",
        "powa_coalesce", "version", "rejected")
        .orderBy(col("srvid"))
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- DSv2 readback: the manifest store read through the Spark
  //      DataSource V2 table (format "graft-store", StoreV2). The
  //      WHERE srvid = 2 prunes partitions at SCAN PLANNING — servers
  //      1 and 3 are never manifest-read, the 100-TB/1000-server
  //      shape of a per-server readback (StoreV2 scaladoc).
  private def q43(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q43")
    try {
      val store = new graft.core.Store(s, root.toString)
      val ev = Tables.events(s, d).select(
          (col("user_id") % 3 + 1).cast("int").as("srvid"),
          col("user_id"), col("event_type"),
          evCents.as("cents"))
        .localCheckpoint() // three partition filters scan it
      (1 to 3).foreach { n =>
        store.appendPartition("evt", "current", n,
          ev.filter(col("srvid") === n))
      }
      val schema = StructType(Seq(
        StructField("srvid", IntegerType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("cents", LongType)))
      store.readV2("evt", "current", schema)
        .filter(col("srvid") === 2)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("sum_cents"),
          max(col("user_id")).as("max_user"))
        .orderBy(col("event_type"))
        .localCheckpoint() // pin before the store is swept
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- DSv2 write: the store as a Spark write target. The append
  //      lands every server's rows through the executor-side demux
  //      writers + driver AtomicSwap commit; the overwrite then
  //      REPLACES every partition with the filtered set — if a single
  //      appended file leaked past the swap, the sums would double.
  private def q44(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q44")
    try {
      val ev = Tables.events(s, d).select(
          (col("user_id") % 3 + 1).cast("int").as("srvid"),
          col("user_id"), col("event_type"),
          evCents.as("cents"))
        .localCheckpoint() // written twice (append + overwrite)
      def write(df: DataFrame, mode: String): Unit =
        df.write.format("graft-store")
          .option("root", root.toString).option("ds", "evt")
          .option("tier", "current").mode(mode).save()
      write(ev, "append")
      write(ev.filter(col("event_type") =!= "click"), "overwrite")
      val schema = StructType(Seq(
        StructField("srvid", IntegerType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("cents", LongType)))
      new graft.core.Store(s, root.toString)
        .readV2("evt", "current", schema)
        .groupBy(col("srvid"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("sum_cents"))
        .orderBy(col("srvid"), col("event_type"))
        .localCheckpoint() // pin before the store is swept
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.11: the predefined-role ACL matrix (powa--5.2.0.sql:13-118
  //      setup_powa_roles, :7533-7655 powa_grant) — the role mapping is
  //      set up through the persistent AccessControl (create mode, then
  //      re-opened from disk to prove the mapping is restart-safe, like
  //      q40 does for cadence), and the result is the full computed
  //      GRANT matrix over the store's object inventory. The oracle
  //      re-derives the same matrix from powa_grant's rules written
  //      independently as SQL CASE arms over the same inventory (shared
  //      literal constants, independently-expressed logic — the q40
  //      convention).
  private def q45(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q45")
    try {
      val acl = new graft.core.AccessControl(Some(root.toString))
      acl.setupRoles() // create mode, default role names
      // restart: a fresh instance on the same root must see the mapping
      val reopened = new graft.core.AccessControl(Some(root.toString))
      require(reopened.roleFor(graft.core.AccessControl.PowaAdmin)
        .contains("powa_admin"), "ACL mapping did not survive reopen")
      // spot-check enforcement through the reopened instance: a metrics
      // reader may read history but never the constvalues tables
      require(reopened.check("powa_read_all_metrics", "SELECT",
        "powa_statements_history"), "metrics reader lost history SELECT")
      require(!reopened.check("powa_read_all_metrics", "SELECT",
        "powa_qualstats_constvalues_history"),
        "metrics reader must not see constvalues")
      import s.implicits._
      graft.core.AccessControl.grants()
        .map(g => (g.obj, g.role, g.privilege))
        .toDF("obj", "powa_role", "privilege")
        .orderBy(col("obj"), col("powa_role"), col("privilege"))
        .localCheckpoint() // pin before the temp root is swept
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.11: powa_delete_and_purge_server incl. the autonomous-
  //      extension sweep (powa--5.2.0.sql:2842-2888) — two servers live
  //      in one store plus a track_settings-style extension table laid
  //      out as srvid partitions OUTSIDE the datasource registry;
  //      deleting server 91 must purge its datasource tiers, its
  //      registry rows AND its extension partitions, leaving server 92
  //      untouched everywhere. The oracle recomputes server 92's
  //      remaining rows directly from events.
  private def q46(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q46")
    try {
      val e = new graft.core.Engine(s, root.toString)
      Seq(91, 92).foreach(id => e.registry.registerServer(
        graft.core.ServerConfig(id = id, hostname = s"h$id",
          powaCoalesce = 5, retentionSec = 3650L * 86400)))
      def weekly(userMod: Int, srvid: Int): DataFrame =
        Tables.events(s, d).filter(col("user_id") % 4 === userMod)
          .groupBy(date_trunc("week", col("ts")).as("ts"))
          .agg(
            sum(evCents).as("buffers_clean"),
            count(lit(1)).as("maxwritten_clean"),
            sum(evK).as("buffers_backend"),
            max(col("event_id")).as("buffers_backend_fsync"),
            min(col("event_id")).as("buffers_alloc"))
          .withColumn("srvid", lit(srvid))
      val tick = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
      Seq(0 -> 91, 1 -> 92).foreach { case (m, id) =>
        e.ingest("powa_stat_bgwriter", weekly(m, id))
        e.takeSnapshot(id, tick)
      }
      // the autonomous extension's own table: srvid partitions in the
      // same warehouse, invisible to the datasource registry
      Tables.events(s, d).filter(col("event_id") % 7 === 0)
        .select((col("user_id") % 2 + 91).cast("int").as("srvid"),
          col("event_type").as("name"), evCents.as("setting_cents"))
        .write.partitionBy("srvid")
        .parquet(root.resolve("pg_track_settings_history").toString)
      e.registerExternalSweep("pg_track_settings")(
        e.sweepSrvidPartitions(Seq("pg_track_settings_history")))

      e.deleteServer(91)

      val spec = graft.spec.Specs.byName("powa_stat_bgwriter")
      val store = e.store
      val storeLeft = store.read("powa_stat_bgwriter",
          graft.core.GenericDatasource.Current, spec.currentSchema)
        .groupBy(col("srvid").cast("string").as("k"))
        .agg(count(lit(1)).as("n"),
          sum(col("record.buffers_clean")).as("cents"))
        .withColumn("section", lit("store"))
      val extLeft = s.read.parquet(
          root.resolve("pg_track_settings_history").toString)
        .groupBy(col("name").as("k"))
        .agg(count(lit(1)).as("n"), sum(col("setting_cents")).as("cents"))
        .withColumn("section", lit("ext"))
      // registry rows re-opened from disk: 91's config must be gone
      val reopened = new graft.core.Engine(s, root.toString)
      import s.implicits._
      val regLeft = reopened.registry.serverIds.sorted
        .map(id => (id.toString, 1L, 0L)).toDF("k", "n", "cents")
        .withColumn("section", lit("registry"))
      storeLeft.unionByName(extLeft).unionByName(regLeft)
        .select(col("section"), col("k"), col("n"), col("cents"))
        .orderBy(col("section"), col("k"))
        .localCheckpoint() // pin before the store is swept
    } finally {
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  // ---- §2.12: the store's tiers as PLAIN SQL TABLES through the DSv2
  //      TableCatalog (sources.v2.StoreCatalog): engine ingests + ticks,
  //      then the readback is spark.sql() text against
  //      <catalog>.<datasource>.<tier> — srvid pruning, manifest-pinned
  //      listing and the columnar scan all riding the same StoreTable
  //      the graft-store format uses. The reference's analogue is its
  //      tables being directly queryable by any SQL client.
  private val catSeq = new java.util.concurrent.atomic.AtomicInteger()
  private def q47(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.scoped("graft_q47")
    // a catalog instance is cached per name once referenced — unique
    // name per run so the root option is never stale
    val cat = s"graftcat${catSeq.incrementAndGet()}"
    try {
      val e = new graft.core.Engine(s, root.toString)
      val srvid = e.registry.registerServer(graft.core.ServerConfig(
        id = 60, hostname = "h", powaCoalesce = 5,
        retentionSec = 3650L * 86400))
      val weekly = Tables.events(s, d).filter(col("user_id") % 4 === 2)
        .groupBy(date_trunc("week", col("ts")).as("ts"))
        .agg(
          sum(evCents).as("buffers_clean"),
          count(lit(1)).as("maxwritten_clean"),
          sum(evK).as("buffers_backend"),
          max(col("event_id")).as("buffers_backend_fsync"),
          min(col("event_id")).as("buffers_alloc"))
        .withColumn("srvid", lit(srvid))
      e.ingest("powa_stat_bgwriter", weekly)
      e.takeSnapshot(srvid,
        java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.StoreCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
      s.sql(
        s"""SELECT record.ts AS ts,
                   record.buffers_clean AS buffers_clean,
                   record.maxwritten_clean AS maxwritten_clean,
                   record.buffers_alloc AS buffers_alloc
            FROM $cat.powa_stat_bgwriter.current
            WHERE srvid = $srvid
            ORDER BY ts""")
        .localCheckpoint() // pin before the store is swept
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_db_rollup" -> (q01 _),
    "q02_topk_per_group" -> (q02 _),
    "q03_delta_rate" -> (q03 _),
    "q04_coalesce_roundtrip" -> (q04 _),
    "q05_coalesce_minmax" -> (q05 _),
    "q06_readback_union" -> (q06 _),
    "q07_purge_retention" -> (q07 _),
    "q08_missing_anti_join" -> (q08 _),
    "q09_semi_join" -> (q09 _),
    "q10_diff_sync" -> (q10 _),
    "q11_version_projection" -> (q11 _),
    "q12_regex_filter" -> (q12 _),
    "q13_union_dedup" -> (q13 _),
    "q14_window_minmax" -> (q14 _),
    "q15_json_extract" -> (q15 _),
    "q16_topk_packed" -> (q16 _),
    "q17_sorted_collect" -> (q17 _),
    "q18_db_rollup_tier" -> (q18 _),
    "q19_array_except" -> (q19 _),
    "q20_mru_touch" -> (q20 _),
    "q21_coalesce_batches" -> (q21 _),
    "q22_constvalues_rankings" -> (q22 _),
    "q23_readback_rates" -> (q23 _),
    "q24_constvalues_lifecycle" -> (q24 _),
    "q25_kcache_ladder" -> (q25 _),
    "q26_wait_sampling" -> (q26 _),
    "q27_bgwriter_pg17" -> (q27 _),
    "q28_checkpointer_pre17" -> (q28 _),
    "q29_at_least_one_row" -> (q29 _),
    "q30_db_dimension_lifecycle" -> (q30 _),
    "q31_engine_roundtrip" -> (q31 _),
    "q32_activity_readback" -> (q32 _),
    "q33_qualstats_roundtrip" -> (q33 _),
    "q34_statements_roundtrip" -> (q34 _),
    "q35_catalog_mirror" -> (q35 _),
    "q36_fleet_isolation" -> (q36 _),
    "q37_stream_roundtrip" -> (q37 _),
    "q38_feature_retention" -> (q38 _),
    "q39_kcache_filters" -> (q39 _),
    "q40_restart_cadence" -> (q40 _),
    "q41_db_module_algebra" -> (q41 _),
    "q42_config_patch" -> (q42 _),
    "q43_dsv2_readback" -> (q43 _),
    "q44_dsv2_write" -> (q44 _),
    "q45_acl_grants" -> (q45 _),
    "q46_delete_sweep" -> (q46 _),
    "q47_sql_catalog" -> (q47 _))

  /** The ACL object inventory as a DuckDB VALUES literal — shared
    * constants between the q45 Spark side and its oracle, same as q40's
    * literal tick list; the grant RULES are what each side expresses
    * independently. */
  private def aclInventoryValues: String =
    graft.core.AccessControl.inventory(graft.spec.Specs.all)
      .map(o => s"('${o.name}', '${o.kind.code}')")
      .mkString(",\n           ")

  val oracleSql: Map[String, String] = Map(
    "q01_db_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT) AS sum_qty_cents,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS sum_base_price_cents,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * 10000) AS BIGINT) AS sum_disc_price_e4,
         COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_topk_per_group" ->
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
           FROM orders) WHERE rank <= 10
         ORDER BY o_orderpriority, rank""",
    "q03_delta_rate" ->
      """SELECT user_id, event_type, ts, value, intvl_sec, value_delta,
                value_delta / (CASE WHEN intvl_sec = 0 THEN 1.0 ELSE intvl_sec END) AS value_per_sec
         FROM (
           SELECT user_id, event_type, ts, value,
             CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS DOUBLE) / 1000000.0 AS intvl_sec,
             value - LAG(value) OVER w AS value_delta
           FROM events
           WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts))
         ORDER BY user_id, event_type, ts""",
    "q04_coalesce_roundtrip" ->
      """SELECT CAST(user_id % 4 AS INTEGER) AS srvid, user_id, event_type, ts, value
         FROM events ORDER BY user_id, event_type, ts, value""",
    "q05_coalesce_minmax" ->
      """SELECT CAST(user_id % 4 AS INTEGER) AS srvid, user_id, event_type,
                MIN(ts) AS range_start, MAX(ts) AS range_end,
                COUNT(*) AS n_records,
                MIN(value) AS min_value, MAX(value) AS max_value
         FROM events GROUP BY 1, 2, 3 ORDER BY user_id, event_type""",
    "q06_readback_union" ->
      """SELECT CAST(user_id % 4 AS INTEGER) AS srvid, user_id, event_type, ts, value
         FROM events
         WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
         ORDER BY user_id, event_type, ts, value""",
    "q07_purge_retention" ->
      """SELECT CAST(user_id % 4 AS INTEGER) AS srvid, user_id, event_type,
                DATE_TRUNC('week', ts) AS batch,
                MIN(ts) AS range_start, MAX(ts) AS range_end,
                COUNT(*) AS n_records
         FROM events GROUP BY 1, 2, 3, 4
         HAVING MAX(ts) >= TIMESTAMP '2024-01-15 00:00:00'
         ORDER BY user_id, event_type, batch""",
    "q08_missing_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "q09_semi_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_orderkey = l_orderkey AND o_totalprice > 200000.0)
         ORDER BY l_orderkey, l_linenumber""",
    "q10_diff_sync" ->
      """WITH dim AS (SELECT user_id, MIN(event_type) AS datname FROM events
                      WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id),
              src AS (SELECT user_id, MIN(event_type) AS datname FROM events
                      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id)
         SELECT COALESCE(d.user_id, s.user_id) AS user_id,
                COALESCE(s.datname, d.datname) AS datname,
                CASE WHEN s.user_id IS NULL THEN TIMESTAMP '2024-02-01 00:00:00' END AS dropped
         FROM dim d FULL OUTER JOIN src s ON d.user_id = s.user_id
         ORDER BY user_id""",
    "q11_version_projection" ->
      """SELECT event_id,
                CASE WHEN user_id % 4 < 2 THEN 1 ELSE 2 END AS version,
                event_type, value,
                CASE WHEN user_id % 4 < 2 THEN NULL
                     ELSE CAST(props->>'$.k' AS BIGINT) END AS prop_k
         FROM events ORDER BY event_id""",
    "q12_regex_filter" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE NOT regexp_matches(text, '^\s*(key|batch|window)\b')
           AND source NOT IN ('src0', 'src9')
         ORDER BY doc_id""",
    "q13_union_dedup" ->
      """SELECT o_custkey AS custkey FROM orders
         UNION
         SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000.0
         ORDER BY custkey""",
    "q14_window_minmax" ->
      """SELECT DISTINCT o_orderpriority,
                COUNT(*) OVER w AS nb_lines,
                MIN(o_totalprice) OVER w AS min_price,
                MAX(o_totalprice) OVER w AS max_price
         FROM orders WINDOW w AS (PARTITION BY o_orderpriority)
         ORDER BY o_orderpriority""",
    "q15_json_extract" ->
      """SELECT event_type, CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
                COUNT(props->>'$.k') AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q16_topk_packed" ->
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
           FROM orders) WHERE rank <= 5
         ORDER BY o_orderpriority, rank""",
    "q17_sorted_collect" ->
      """SELECT o_orderpriority,
                ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                  ORDER BY o_orderdate, o_orderkey) - 1 AS pos,
                o_orderkey
         FROM orders ORDER BY o_orderpriority, pos""",
    "q18_db_rollup_tier" ->
      """SELECT CAST(user_id % 4 AS INTEGER) AS srvid,
                DATE_TRUNC('day', ts) AS day,
                CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS sum_value_cents,
                COUNT(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY srvid, day""",
    "q19_array_except" ->
      """SELECT DISTINCT user_id, event_type FROM events
         WHERE event_type NOT IN ('click', 'view')
         ORDER BY user_id, event_type""",
    "q20_mru_touch" ->
      """WITH dim AS (SELECT user_id, MIN(ts) AS last_present_ts FROM events
                      WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id),
              seen AS (SELECT DISTINCT user_id FROM events
                       WHERE ts >= TIMESTAMP '2024-01-20 00:00:00')
         SELECT d.user_id,
                CASE WHEN s.user_id IS NOT NULL THEN TIMESTAMP '2024-02-01 00:00:00'
                     ELSE d.last_present_ts END AS last_present_ts
         FROM dim d LEFT JOIN seen s ON d.user_id = s.user_id
         ORDER BY d.user_id""",
    "q21_coalesce_batches" ->
      """WITH t AS (
           SELECT CAST(user_id % 4 AS INTEGER) AS srvid, user_id, event_type, ts, value,
                  (ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts) - 1) // 5 AS batch
           FROM events)
         SELECT srvid, user_id, event_type, batch,
                MIN(ts) AS range_start, MAX(ts) AS range_end,
                COUNT(*) AS n_records,
                MIN(value) AS min_value, MAX(value) AS max_value
         FROM t GROUP BY 1, 2, 3, 4
         ORDER BY user_id, event_type, batch""",
    "q22_constvalues_rankings" -> {
      val cols = "user_id, occurences, execution_count, filtered_cents, ratio_ppm"
      s"""WITH base AS (
            SELECT event_type, user_id,
                   COUNT(*) AS occurences,
                   CAST(SUM(CAST(props->>'$$.k' AS BIGINT)) AS BIGINT) AS execution_count,
                   CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS filtered_cents
            FROM events GROUP BY 1, 2),
          m1 AS (
            SELECT *, CASE WHEN execution_count = 0 THEN 0
                           ELSE (filtered_cents * 1000000) // execution_count
                      END AS ratio_ppm
            FROM base),
          m AS (
            SELECT *,
              COUNT(*) OVER (PARTITION BY event_type) AS nb,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY occurences DESC, user_id ASC) AS r_used,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY execution_count DESC, user_id ASC) AS r_exec,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY filtered_cents DESC, user_id ASC) AS r_filt,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ratio_ppm DESC, user_id ASC) AS r_ratio
            FROM m1)
          SELECT event_type, 'most_used' AS ranking, CAST(r_used AS INT) AS rank, $cols FROM m WHERE r_used <= 5
          UNION ALL
          SELECT event_type, 'most_executed', CAST(r_exec AS INT), $cols FROM m WHERE r_exec <= 5
          UNION ALL
          SELECT event_type, 'most_filtering', CAST(r_filt AS INT), $cols FROM m WHERE r_filt <= 5
          UNION ALL
          SELECT event_type, 'least_filtering', CAST(nb - r_filt + 1 AS INT), $cols FROM m WHERE r_filt >= nb - 5
          UNION ALL
          SELECT event_type, 'most_errestim', CAST(r_ratio AS INT), $cols FROM m WHERE r_ratio <= 5
          ORDER BY event_type, ranking, rank"""
    },
    "q24_constvalues_lifecycle" -> {
      val cols = "constvalue, occurences, execution_count, nbfiltered, " +
        "mean_err_estimate_ratio, mean_err_estimate_num"
      s"""WITH cv AS (
            SELECT CAST(user_id % 4 AS INTEGER) AS srvid, user_id AS qualid,
                   event_type AS constvalue,
                   COALESCE(CAST(props->>'$$.k' AS BIGINT), 0) AS exec_cnt,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
            FROM events),
          g AS (
            SELECT srvid, qualid, constvalue,
                   CAST(COUNT(*) AS BIGINT) AS occurences,
                   CAST(SUM(exec_cnt) AS BIGINT) AS execution_count,
                   CAST(SUM(cents) AS BIGINT) AS nbfiltered,
                   AVG(CAST(cents AS DOUBLE)) AS mean_err_estimate_ratio,
                   AVG(CAST(cents % 7 AS DOUBLE)) AS mean_err_estimate_num
            FROM cv GROUP BY 1, 2, 3),
          r AS (
            SELECT *, COUNT(*) OVER W AS nb,
              ROW_NUMBER() OVER (W ORDER BY occurences DESC, constvalue ASC) AS r_used,
              ROW_NUMBER() OVER (W ORDER BY (CASE WHEN execution_count = 0 THEN 0
                ELSE CAST(nbfiltered AS DOUBLE) / execution_count END) DESC,
                constvalue ASC) AS r_filt,
              ROW_NUMBER() OVER (W ORDER BY execution_count DESC, constvalue ASC) AS r_exec,
              ROW_NUMBER() OVER (W ORDER BY mean_err_estimate_ratio DESC, constvalue ASC) AS r_ratio,
              ROW_NUMBER() OVER (W ORDER BY mean_err_estimate_num DESC, constvalue ASC) AS r_num
            FROM g WINDOW W AS (PARTITION BY srvid, qualid))
          SELECT srvid, qualid, 'most_used' AS ranking, CAST(r_used AS INT) AS rank, $cols FROM r WHERE r_used <= 3
          UNION ALL
          SELECT srvid, qualid, 'most_filtering', CAST(r_filt AS INT), $cols FROM r WHERE r_filt <= 3
          UNION ALL
          SELECT srvid, qualid, 'least_filtering', CAST(nb - r_filt + 1 AS INT), $cols FROM r WHERE r_filt >= nb - 3
          UNION ALL
          SELECT srvid, qualid, 'most_executed', CAST(r_exec AS INT), $cols FROM r WHERE r_exec <= 3
          UNION ALL
          SELECT srvid, qualid, 'most_errestim_ratio', CAST(r_ratio AS INT), $cols FROM r WHERE r_ratio <= 3
          UNION ALL
          SELECT srvid, qualid, 'most_errestim_num', CAST(r_num AS INT), $cols FROM r WHERE r_num <= 3
          ORDER BY srvid, qualid, ranking, rank"""
    },
    "q25_kcache_ladder" ->
      """WITH ev AS (
           SELECT event_id AS queryid, user_id, event_type,
                  user_id % 50 AS dbid, user_id AS userid,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
                  COALESCE(CAST(props->>'$.k' AS BIGINT), 0) AS k
           FROM events),
         f AS (SELECT * FROM ev
               WHERE dbid % 7 <> 0 AND event_type <> 'click')
         SELECT queryid,
                CASE WHEN user_id % 2 = 0 THEN 201 ELSE 202 END AS version,
                dbid, userid,
                CASE WHEN user_id % 2 = 0 THEN NULL ELSE c + 1000 END AS plan_reads,
                CASE WHEN user_id % 2 = 0 THEN NULL
                     ELSE CAST(k + 1000 AS DOUBLE) END AS plan_user_time,
                c AS exec_reads, k AS exec_writes,
                CAST(k AS DOUBLE) AS exec_user_time,
                k % 17 AS exec_nivcsws
         FROM f ORDER BY queryid""",
    "q26_wait_sampling" ->
      """WITH p AS (
           SELECT CAST(user_id % 4 AS INTEGER) AS srvid,
                  event_id % 100 AS queryid, event_type,
                  upper(event_type) AS event,
                  COALESCE(CAST(props->>'$.k' AS BIGINT), 0) AS cnt,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           FROM events),
         pgss AS (SELECT DISTINCT queryid, queryid % 10 AS dbid
                  FROM p WHERE c > 0),
         j AS (SELECT p.srvid, COALESCE(g.dbid, 0) AS dbid, p.event_type,
                      p.event, p.queryid, p.cnt
               FROM p LEFT JOIN pgss g ON p.queryid = g.queryid)
         SELECT srvid, dbid, event_type, event, queryid,
                CAST(SUM(cnt) AS BIGINT) AS wait_count
         FROM j GROUP BY 1, 2, 3, 4, 5
         ORDER BY srvid, dbid, event_type, queryid""",
    "q27_bgwriter_pg17" ->
      """WITH ev AS (
           SELECT user_id,
                  COALESCE(CAST(props->>'$.k' AS BIGINT), 0) AS k,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           FROM events)
         SELECT TIMESTAMP '2024-06-01 00:00:00' AS ts,
           (SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
            FROM orders) AS buffers_clean,
           (SELECT COUNT(*) FROM orders) AS maxwritten_clean,
           (SELECT CAST(SUM(k + c) AS BIGINT) FROM ev WHERE user_id % 3 = 0)
             AS buffers_backend,
           (SELECT CAST(SUM(user_id % 2) AS BIGINT) FROM ev WHERE user_id % 3 = 0)
             AS buffers_backend_fsync,
           (SELECT MAX(o_orderkey) FROM orders) AS buffers_alloc""",
    "q28_checkpointer_pre17" ->
      """SELECT TIMESTAMP '2024-06-01 00:00:00' AS ts,
                COUNT(*) AS num_timed,
                CAST(SUM(l_linenumber) AS BIGINT) AS num_requested,
                CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) AS write_time,
                CAST(SUM(CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)) AS DOUBLE) AS sync_time,
                MAX(l_orderkey) AS buffers_written
         FROM lineitem""",
    "q29_at_least_one_row" ->
      """SELECT TIMESTAMP '2024-06-01 00:00:00' AS ts,
                CAST(NULL AS BIGINT) AS k, CAST(NULL AS VARCHAR) AS name
         UNION ALL
         SELECT TIMESTAMP '2024-06-02 00:00:00' AS ts, r_regionkey, r_name
         FROM region
         ORDER BY ts, k NULLS FIRST""",
    "q30_db_dimension_lifecycle" ->
      """WITH dim0 AS (
           SELECT user_id AS oid, MIN(event_type) AS datname,
                  CAST(NULL AS TIMESTAMP) AS dropped
           FROM events WHERE event_id % 5 < 3 GROUP BY 1),
         src1 AS (SELECT user_id AS oid, MIN(event_type) AS datname
                  FROM events WHERE event_id % 5 = 3 AND user_id % 11 <> 0
                  GROUP BY 1),
         s1 AS (SELECT COALESCE(d.oid, s.oid) AS oid,
                       COALESCE(s.datname, d.datname) AS datname,
                       CASE WHEN s.oid IS NOT NULL THEN NULL
                            ELSE COALESCE(d.dropped, TIMESTAMP '2024-02-01 00:00:00')
                       END AS dropped
                FROM dim0 d FULL OUTER JOIN src1 s ON d.oid = s.oid),
         src2 AS (SELECT user_id AS oid, MIN(event_type) AS datname
                  FROM events WHERE event_id % 5 = 4 AND user_id % 13 <> 0
                  GROUP BY 1),
         s2 AS (SELECT COALESCE(d.oid, s.oid) AS oid,
                       COALESCE(s.datname, d.datname) AS datname,
                       CASE WHEN s.oid IS NOT NULL THEN NULL
                            ELSE COALESCE(d.dropped, TIMESTAMP '2024-03-01 00:00:00')
                       END AS dropped
                FROM s1 d FULL OUTER JOIN src2 s ON d.oid = s.oid)
         SELECT oid, datname, dropped FROM s2
         WHERE dropped IS NULL OR dropped >= TIMESTAMP '2024-02-15 00:00:00'
         ORDER BY oid""",
    "q31_engine_roundtrip" ->
      """WITH ev AS (
           SELECT event_id, ts,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                  COALESCE(CAST(props->>'$.k' AS BIGINT), 0) AS k
           FROM events WHERE user_id % 4 = 0),
         w AS (SELECT DATE_TRUNC('week', ts) AS wts,
                      CAST(SUM(cents) AS BIGINT) AS buffers_clean,
                      COUNT(*) AS maxwritten_clean,
                      CAST(SUM(k) AS BIGINT) AS buffers_backend,
                      MAX(event_id) AS buffers_backend_fsync,
                      MIN(event_id) AS buffers_alloc
               FROM ev GROUP BY 1),
         r AS (SELECT wts, buffers_clean, maxwritten_clean, buffers_backend,
                      buffers_backend_fsync, buffers_alloc,
                      CAST(epoch_us(wts) - epoch_us(LAG(wts) OVER w2) AS DOUBLE)
                        / 1000000.0 AS intvl_sec,
                      buffers_clean - LAG(buffers_clean) OVER w2 AS d_clean,
                      buffers_backend - LAG(buffers_backend) OVER w2 AS d_backend
               FROM w WINDOW w2 AS (ORDER BY wts))
         SELECT wts AS ts, buffers_clean, maxwritten_clean, buffers_backend,
                buffers_backend_fsync, buffers_alloc, intvl_sec,
                CAST(d_clean AS DOUBLE) /
                  (CASE WHEN intvl_sec = 0 THEN 1.0 ELSE intvl_sec END)
                  AS buffers_clean_per_sec,
                CAST(d_backend AS DOUBLE) /
                  (CASE WHEN intvl_sec = 0 THEN 1.0 ELSE intvl_sec END)
                  AS buffers_backend_per_sec
         FROM r ORDER BY ts""",
    "q32_activity_readback" ->
      """SELECT ts, user_id % 50 AS datid,
                CAST(event_id % 1000 AS INTEGER) AS pid,
                event_type AS application_name,
                'active' AS state, event_id AS query_id,
                'client backend' AS backend_type
         FROM events
         WHERE user_id % 4 = 1 AND ts < TIMESTAMP '2024-01-07 00:00:00'
         ORDER BY query_id""",
    "q33_qualstats_roundtrip" -> {
      val cols = "constvalue, occurences, execution_count, nbfiltered"
      s"""WITH cv AS (
            SELECT user_id AS qualid, event_type AS constvalue, ts,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                   COALESCE(CAST(props->>'$$.k' AS BIGINT), 0) AS k
            FROM events
            WHERE user_id % 4 = 2 AND ts < TIMESTAMP '2024-01-06 00:00:00'),
          g AS (
            SELECT qualid, constvalue, MIN(ts) AS mints, MAX(ts) AS maxts,
                   CAST(COUNT(*) AS BIGINT) AS occurences,
                   CAST(SUM(k) AS BIGINT) AS execution_count,
                   CAST(SUM(cents) AS BIGINT) AS nbfiltered,
                   AVG(CAST(cents AS DOUBLE)) AS ratio,
                   AVG(CAST(cents % 7 AS DOUBLE)) AS num
            FROM cv GROUP BY 1, 2),
          r AS (
            SELECT *, COUNT(*) OVER W AS nb,
              MIN(mints) OVER W AS range_start, MAX(maxts) OVER W AS range_end,
              ROW_NUMBER() OVER (W ORDER BY occurences DESC, constvalue ASC) AS r_used,
              ROW_NUMBER() OVER (W ORDER BY (CASE WHEN execution_count = 0 THEN 0
                ELSE CAST(nbfiltered AS DOUBLE) / execution_count END) DESC,
                constvalue ASC) AS r_filt,
              ROW_NUMBER() OVER (W ORDER BY execution_count DESC, constvalue ASC) AS r_exec,
              ROW_NUMBER() OVER (W ORDER BY ratio DESC, constvalue ASC) AS r_ratio,
              ROW_NUMBER() OVER (W ORDER BY num DESC, constvalue ASC) AS r_num
            FROM g WINDOW W AS (PARTITION BY qualid))
          SELECT qualid, range_start, range_end, 'most_used' AS ranking, CAST(r_used AS INT) AS rank, $cols FROM r WHERE r_used <= 20
          UNION ALL
          SELECT qualid, range_start, range_end, 'most_filtering', CAST(r_filt AS INT), $cols FROM r WHERE r_filt <= 20
          UNION ALL
          SELECT qualid, range_start, range_end, 'least_filtering', CAST(nb - r_filt + 1 AS INT), $cols FROM r WHERE r_filt >= nb - 20
          UNION ALL
          SELECT qualid, range_start, range_end, 'most_executed', CAST(r_exec AS INT), $cols FROM r WHERE r_exec <= 20
          UNION ALL
          SELECT qualid, range_start, range_end, 'most_errestim_ratio', CAST(r_ratio AS INT), $cols FROM r WHERE r_ratio <= 20
          UNION ALL
          SELECT qualid, range_start, range_end, 'most_errestim_num', CAST(r_num AS INT), $cols FROM r WHERE r_num <= 20
          ORDER BY qualid, ranking, rank"""
    },
    "q34_statements_roundtrip" ->
      """WITH ev AS (
           SELECT user_id AS queryid, user_id % 5 AS dbid,
                  user_id % 3 AS userid, ts,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                  COALESCE(CAST(props->>'$.k' AS BIGINT), 0) AS k
           FROM events
           WHERE user_id % 4 = 3 AND ts < TIMESTAMP '2024-01-06 00:00:00'),
         per_key AS (
           SELECT queryid, dbid, userid,
                  CAST(COUNT(*) AS BIGINT) AS calls,
                  SUM(CAST(cents AS DOUBLE)) AS runtime,
                  CAST(SUM(k) AS BIGINT) AS rows_sum,
                  MAX(ts) AS last_ts
           FROM ev GROUP BY 1, 2, 3),
         -- LITERAL group-tick boundaries (same constants as the Spark
         -- harness): a key last seen in a group is MRU-stamped at that
         -- group's snapshot tick time, per reference now() semantics
         per_key_t AS (
           SELECT k.*, CASE
             WHEN last_ts < TIMESTAMP '2024-01-03 00:00:00'
               THEN TIMESTAMP '2024-01-02 23:00:00'
             WHEN last_ts < TIMESTAMP '2024-01-05 00:00:00'
               THEN TIMESTAMP '2024-01-04 23:00:00'
             ELSE TIMESTAMP '2024-01-05 23:00:00' END AS last_present_ts
           FROM per_key k),
         per_db AS (
           SELECT dbid, CAST(COUNT(*) AS BIGINT) AS db_calls,
                  SUM(CAST(cents AS DOUBLE)) AS db_runtime
           FROM ev GROUP BY 1)
         SELECT k.queryid, k.dbid, k.userid,
                'SELECT ' || CAST(k.queryid AS VARCHAR) AS query,
                k.last_present_ts, k.calls, k.runtime, k.rows_sum,
                d.db_calls, d.db_runtime
         FROM per_key_t k JOIN per_db d USING (dbid)
         ORDER BY queryid, dbid, userid""",
    "q35_catalog_mirror" ->
      """SELECT 1 AS dbid, 'pg_class' AS cat, p_partkey AS oid, p_name AS name
         FROM part WHERE p_partkey % 7 = 2
         UNION ALL
         SELECT 2, 'pg_class', p_partkey, p_name
         FROM part WHERE p_partkey % 7 = 0
         UNION ALL
         SELECT 1, 'pg_namespace', CAST(r_regionkey AS BIGINT), upper(r_name)
         FROM region
         UNION ALL
         SELECT 2, 'pg_namespace', CAST(r_regionkey AS BIGINT), r_name
         FROM region
         ORDER BY cat, dbid, oid""",
    "q36_fleet_isolation" ->
      """SELECT CASE user_id % 3 WHEN 0 THEN 42 WHEN 1 THEN 63 ELSE 25 END
                  AS srvid,
                CAST(COUNT(*) AS BIGINT) AS n_records,
                CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS sum_cents,
                CAST(SUM(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
         GROUP BY 1 ORDER BY srvid""",
    "q37_stream_roundtrip" ->
      """WITH ev AS (
           SELECT event_id, ts,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                  COALESCE(CAST(props->>'$.k' AS BIGINT), 0) AS k
           FROM events
           WHERE user_id % 4 = 1 AND ts < TIMESTAMP '2024-01-06 00:00:00'),
         w AS (SELECT DATE_TRUNC('day', ts) AS dts,
                      CAST(SUM(cents) AS BIGINT) AS buffers_clean,
                      COUNT(*) AS maxwritten_clean,
                      CAST(SUM(k) AS BIGINT) AS buffers_backend
               FROM ev GROUP BY 1),
         r AS (SELECT dts, buffers_clean, maxwritten_clean, buffers_backend,
                      CAST(epoch_us(dts) - epoch_us(LAG(dts) OVER w2) AS DOUBLE)
                        / 1000000.0 AS intvl_sec,
                      buffers_clean - LAG(buffers_clean) OVER w2 AS d_clean
               FROM w WINDOW w2 AS (ORDER BY dts))
         SELECT dts AS ts, buffers_clean, maxwritten_clean, buffers_backend,
                intvl_sec,
                CAST(d_clean AS DOUBLE) /
                  (CASE WHEN intvl_sec = 0 THEN 1.0 ELSE intvl_sec END)
                  AS buffers_clean_per_sec
         FROM r ORDER BY ts""",
    "q38_feature_retention" ->
      """WITH ev AS (
           SELECT ts, user_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                  COALESCE(CAST(props->>'$.k' AS BIGINT), 0) AS k
           FROM events WHERE ts < TIMESTAMP '2024-01-07 00:00:00'),
         bg AS (SELECT 'bgwriter' AS ds, CAST(COUNT(*) AS BIGINT) AS n_records,
                       CAST(SUM(cents) AS BIGINT) AS sum_c
                FROM ev WHERE user_id % 4 = 2
                  AND ts >= TIMESTAMP '2024-01-06 00:00:00'),
         cp AS (SELECT 'checkpointer' AS ds, CAST(COUNT(*) AS BIGINT),
                       CAST(SUM(k) AS BIGINT)
                FROM ev WHERE user_id % 4 = 3)
         SELECT * FROM bg UNION ALL SELECT * FROM cp ORDER BY ds""",
    "q39_kcache_filters" ->
      """SELECT user_id % 25 AS dbid, event_id AS queryid,
                user_id AS userid,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS exec_reads,
                COALESCE(CAST(props->>'$.k' AS BIGINT), 0) AS exec_writes
         FROM events
         WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
           AND user_id % 25 NOT IN
             (SELECT n_nationkey FROM nation WHERE n_nationkey % 5 = 0)
           AND event_type <> 'click'
         ORDER BY queryid""",
    "q40_restart_cadence" ->
      """WITH ev AS (
           SELECT event_id, ts,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                  COALESCE(CAST(props->>'$.k' AS BIGINT), 0) AS k
           FROM events WHERE user_id % 4 = 3),
         w AS (SELECT DATE_TRUNC('week', ts) AS wts,
                      CAST(SUM(cents) AS BIGINT) AS buffers_clean,
                      COUNT(*) AS maxwritten_clean,
                      CAST(SUM(k) AS BIGINT) AS buffers_backend,
                      MAX(event_id) AS buffers_backend_fsync,
                      MIN(event_id) AS buffers_alloc
               FROM ev GROUP BY 1)
         SELECT wts AS ts, buffers_clean, maxwritten_clean, buffers_backend,
                buffers_backend_fsync, buffers_alloc,
                ROW_NUMBER() OVER (ORDER BY wts) <=
                  (COUNT(*) OVER () // 5) * 5 AS in_history
         FROM w ORDER BY ts""",
    "q41_db_module_algebra" ->
      """WITH n AS (SELECT n_nationkey AS k, n_name AS name FROM nation)
         SELECT module, dbname, enabled FROM (
           SELECT 'pg_stat_all_tables' AS module, name AS dbname,
                  (k % 6 = 3) AS enabled FROM n
           UNION ALL
           SELECT 'pg_stat_all_indexes', name, TRUE FROM n
           UNION ALL
           SELECT 'pg_stat_user_functions', name, FALSE FROM n
           UNION ALL
           SELECT 'pg_stat_user_indexes', name, (k % 2 = 0) FROM n)
         ORDER BY module, dbname""",
    "q42_config_patch" ->
      """SELECT 100 + r_regionkey AS srvid,
                'host' || r_regionkey AS hostname,
                r_name AS alias,
                600 + r_regionkey * 10 AS frequency,
                CAST(86400 * (r_regionkey + 1) AS BIGINT) AS retention,
                100 + 5 * r_regionkey AS powa_coalesce,
                170000 AS version,
                (r_regionkey % 2 = 0) AS rejected
         FROM region ORDER BY srvid""",
    "q23_readback_rates" ->
      """SELECT user_id, event_type, ts, value, intvl_sec, value_delta,
                value_delta / (CASE WHEN intvl_sec = 0 THEN 1.0 ELSE intvl_sec END) AS value_per_sec
         FROM (
           SELECT user_id, event_type, ts, value,
             CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS DOUBLE) / 1000000.0 AS intvl_sec,
             value - LAG(value) OVER w AS value_delta
           FROM events
           WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
           WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts))
         ORDER BY user_id, event_type, ts""",
    "q43_dsv2_readback" ->
      """SELECT event_type,
                CAST(COUNT(*) AS BIGINT) AS n_events,
                CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
                CAST(MAX(user_id) AS BIGINT) AS max_user
         FROM events
         WHERE user_id % 3 + 1 = 2
         GROUP BY event_type
         ORDER BY event_type""",
    "q44_dsv2_write" ->
      """SELECT CAST(user_id % 3 + 1 AS INTEGER) AS srvid, event_type,
                CAST(COUNT(*) AS BIGINT) AS n_events,
                CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
         FROM events
         WHERE event_type <> 'click'
         GROUP BY srvid, event_type
         ORDER BY srvid, event_type""",
    "q45_acl_grants" ->
      s"""WITH inv(obj, kind) AS (VALUES
           $aclInventoryValues),
         roles(powa_role) AS (VALUES
           ('powa_admin'), ('powa_read_all_data'), ('powa_read_all_metrics'),
           ('powa_write_all_data'), ('powa_snapshot'), ('powa_signal_backend')),
         cfg(obj) AS (VALUES
           ('powa_roles'), ('powa_servers'), ('powa_extensions'),
           ('powa_extension_functions'), ('powa_extension_config'),
           ('powa_modules'), ('powa_module_config'), ('powa_module_functions'),
           ('powa_db_modules'), ('powa_db_module_config'),
           ('powa_db_module_functions'), ('powa_db_module_src_queries'),
           ('powa_catalogs'), ('powa_catalog_src_queries')),
         m AS (
           SELECT i.obj, r.powa_role,
             CASE
               WHEN r.powa_role = 'powa_admin' THEN
                 CASE WHEN i.kind = 'S' THEN ['USAGE','SELECT','UPDATE']
                      ELSE ['SELECT','INSERT','UPDATE','DELETE','TRUNCATE',
                            'REFERENCES','TRIGGER'] END
               WHEN r.powa_role = 'powa_write_all_data' THEN
                 CASE WHEN i.kind = 'S' THEN ['USAGE','SELECT','UPDATE']
                      ELSE ['SELECT','INSERT','UPDATE','DELETE','TRUNCATE'] END
               WHEN r.powa_role = 'powa_snapshot' THEN
                 CASE WHEN i.kind = 'S' THEN []
                      WHEN i.kind = 'v'
                        OR i.obj IN (SELECT obj FROM cfg) THEN ['SELECT']
                      ELSE ['SELECT','INSERT','UPDATE','DELETE','TRUNCATE'] END
               WHEN r.powa_role = 'powa_read_all_data' THEN
                 CASE WHEN i.kind = 'S'
                        OR i.obj LIKE '%\\_src\\_tmp' ESCAPE '\\' THEN []
                      ELSE ['SELECT'] END
               WHEN r.powa_role = 'powa_read_all_metrics' THEN
                 CASE WHEN i.kind = 'S'
                        OR i.obj LIKE '%\\_src\\_tmp' ESCAPE '\\'
                        OR i.obj LIKE '%qualstats\\_constvalues%' ESCAPE '\\'
                        THEN []
                      ELSE ['SELECT'] END
               ELSE []
             END AS privs
           FROM inv i CROSS JOIN roles r)
         SELECT obj, powa_role, unnest(privs) AS privilege FROM m
         ORDER BY obj, powa_role, privilege""",
    "q46_delete_sweep" ->
      """WITH w92 AS (
           SELECT date_trunc('week', ts) AS wts,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
           FROM events WHERE user_id % 4 = 1 GROUP BY 1),
         ext AS (
           SELECT event_type AS k, COUNT(*) AS n,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
           FROM events
           WHERE event_id % 7 = 0 AND user_id % 2 + 91 = 92
           GROUP BY event_type)
         SELECT * FROM (
           SELECT 'store' AS section, '92' AS k,
                  (SELECT COUNT(*) FROM w92) AS n,
                  (SELECT CAST(SUM(cents) AS BIGINT) FROM w92) AS cents
           UNION ALL
           SELECT 'ext', k, n, cents FROM ext
           UNION ALL
           SELECT 'registry', '0', 1, 0  -- the auto-registered local server
           UNION ALL
           SELECT 'registry', '92', 1, 0)
         ORDER BY section, k""",
    "q47_sql_catalog" ->
      """SELECT date_trunc('week', ts) AS ts,
                CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS buffers_clean,
                COUNT(*) AS maxwritten_clean,
                CAST(MIN(event_id) AS BIGINT) AS buffers_alloc
         FROM events
         WHERE user_id % 4 = 2
         GROUP BY 1
         ORDER BY ts""")
}

/** Staging-row shape for the q37 streaming source. Top-level rather than
  * nested `private` in the object: a private nested case class makes the
  * Janino-generated encoder unable to call the accessors
  * (`CompileException: ...StreamBgRow.srvid()`), forcing Spark to fall
  * back to interpreted encoding on every micro-batch of the hot ingest
  * path. `private[queries]` erases to public bytecode, so codegen works.
  */
private[queries] case class StreamBgRow(srvid: Int, ts: java.sql.Timestamp,
  buffers_clean: Long, maxwritten_clean: Long, buffers_backend: Long,
  buffers_backend_fsync: Long, buffers_alloc: Long)
