package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.spec.Specs

/** Streaming staging → engine state machine (SURVEY.md §2.10): each
  * micro-batch is one snapshot tick; the count-based coalesce cadence
  * fires through the streaming path exactly as through the batch path. */
class StreamIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  case class BgRow(srvid: Int, ts: Timestamp, buffers_clean: Long,
    maxwritten_clean: Long, buffers_backend: Long,
    buffers_backend_fsync: Long, buffers_alloc: Long)

  test("micro-batches drive snapshot ticks and the coalesce cadence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val engine = new Engine(spark, root)
    val srvid = engine.registry.registerServer(ServerConfig(
      id = 20, hostname = "h", powaCoalesce = 5))

    val mem = MemoryStream[BgRow]
    var tick = 0
    val q = streaming.StreamIngest.attach(
      engine, "powa_stat_bgwriter", mem.toDF(),
      trigger = Trigger.ProcessingTime(0),
      tickNow = () => { tick += 1
        Timestamp.valueOf(f"2024-01-01 00:0$tick%02d:30") })
      .start()

    (1 to 5).foreach { t =>
      mem.addData(BgRow(srvid, Timestamp.valueOf(f"2024-01-01 00:0$t%02d:00"),
        100L * t, 10L * t, 5L * t, 2L * t, 1L * t))
      q.processAllAvailable() // one micro-batch per staged tick
    }
    q.stop()

    // 5 micro-batches → aggregate fired on the 5th: history=1, current=0
    val ds = "powa_stat_bgwriter"
    val hist = engine.store.read(ds, GenericDatasource.History,
      GenericDatasource.historyNoSrvid(Specs.byName(ds)))
    assert(hist.count() === 1)
    assert(hist.select(size(col("records"))).head().getInt(0) === 5)
    val cur = engine.store.read(ds, GenericDatasource.Current,
      GenericDatasource.currentNoSrvid(Specs.byName(ds)))
    assert(cur.count() === 0)
    assert(engine.registry.meta(srvid).coalesceSeq === 5)

    // the dashboard read API spans the aggregate boundary and adds rates
    val series = engine.readSeriesWithRates(ds, srvid,
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-01-01 01:00:00"))
    assert(series.count() === 5)
    assert(series.columns.contains("buffers_clean_per_sec"))
  }

  test("watermarked windowed rollup emits per-window aggregates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = streaming.EventRollup.rollup(df, Seq(col("event_type")),
        windowLen = "1 hour", watermark = "30 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("rollup_out").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 00:10:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 00:40:00"), "click", 3.0),
      (Timestamp.valueOf("2024-01-01 01:10:00"), "view", 5.0))
    q.processAllAvailable()
    val out = spark.table("rollup_out").orderBy("range_start", "event_type").collect()
    q.stop()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("n") === 2 && out(0).getAs[Double]("sum_value") === 5.0)
    assert(out(0).getAs[Timestamp]("range_start") === Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(out(1).getAs[String]("event_type") === "view")
  }

  test("stateful streaming dedup: first wins; event-time TTL re-admits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, String)]
    val df = mem.toDF().toDF("ts", "content_hash", "payload")
    val q = streaming.StreamDedup.firstSeen(df, "content_hash", "ts",
        ttlMs = 3600 * 1000L) // 1 h of EVENT time
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    def t(x: String) = Timestamp.valueOf(x)
    // batch 1: a twice (in-batch dup) + b
    mem.addData((t("2024-01-01 00:00:00"), "a", "a1"),
      (t("2024-01-01 00:00:01"), "a", "a2"),
      (t("2024-01-01 00:00:02"), "b", "b1"))
    q.processAllAvailable()
    // batch 2: b again (cross-batch dup, inside TTL) + c
    mem.addData((t("2024-01-01 00:30:00"), "b", "b2"),
      (t("2024-01-01 00:30:01"), "c", "c1"))
    q.processAllAvailable()
    // batch 3: event time jumps 3 h -> watermark passes every TTL; the
    // next sighting of a is NEW again (dedup windows, not forever)
    mem.addData((t("2024-01-01 03:30:00"), "z", "z1"))
    q.processAllAvailable() // advances the watermark, expires a/b/c
    mem.addData((t("2024-01-01 03:30:05"), "a", "a3"))
    q.processAllAvailable()
    val out = spark.table("dedup_out")
      .orderBy("ts").collect().map(r => (r.getString(1), r.getString(2)))
    q.stop()
    assert(out.toSeq ===
      Seq("a" -> "a1", "b" -> "b1", "c" -> "c1", "z" -> "z1", "a" -> "a3"))
  }

  test("session_window streaming: merges within AND at exactly gap, " +
      "merges across micro-batches, splits past gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = streaming.StreamSessions.sessionStats(df, col("user_id"), "ts",
        gap = "30 minutes", watermark = "10 minutes",
        extraAggs = Seq(max(col("ts")).as("last_ts")))
      .writeStream.outputMode("complete").format("memory")
      .queryName("sess_out").start()
    def t(x: String) = Timestamp.valueOf(x)
    // user 1: chained within-gap events; user 3: exactly the gap apart
    // (boundary-inclusive: still ONE session) then well past the gap
    mem.addData((t("2024-01-01 00:00:00"), 1L, "view"),
      (t("2024-01-01 00:29:59"), 1L, "click"),
      (t("2024-01-01 00:59:58"), 1L, "view"),
      (t("2024-01-01 00:00:00"), 3L, "view"),
      (t("2024-01-01 00:30:00"), 3L, "view"),
      (t("2024-01-01 02:00:01"), 3L, "view"))
    q.processAllAvailable()
    // second micro-batch: still within user 1's open session -> must
    // merge with state from the first batch
    mem.addData((t("2024-01-01 01:20:00"), 1L, "purchase"))
    q.processAllAvailable()
    val out = spark.table("sess_out")
      .select(col("user_id"), col("session_window.start").as("st"),
        col("last_ts"), col("n_events"))
      .orderBy("user_id", "st").collect()
    q.stop()
    assert(out.length === 3)
    assert(out(0).getLong(0) === 1L &&
      out(0).getTimestamp(1) === t("2024-01-01 00:00:00") &&
      out(0).getTimestamp(2) === t("2024-01-01 01:20:00") &&
      out(0).getLong(3) === 4L)
    assert(out(1).getLong(0) === 3L && out(1).getLong(3) === 2L &&
      out(1).getTimestamp(2) === t("2024-01-01 00:30:00"))
    assert(out(2).getLong(0) === 3L && out(2).getLong(3) === 1L &&
      out(2).getTimestamp(1) === t("2024-01-01 02:00:01"))
  }

  test("stream-stream interval join: matches emit exactly once, " +
      "including across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vm = MemoryStream[(Timestamp, Long, Long)]
    val pm = MemoryStream[(Timestamp, Long, Long)]
    val views = vm.toDF().toDF("v_ts", "v_user", "view_id")
      .withWatermark("v_ts", "1 hour")
    val purchases = pm.toDF().toDF("p_ts", "p_user", "purchase_id")
      .withWatermark("p_ts", "1 hour")
    val j = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("view_id"))
    val q = j.writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").start()
    def t(x: String) = Timestamp.valueOf(x)
    // batch 1: a view, and a purchase 30 min later -> one match
    vm.addData((t("2024-01-01 00:00:00"), 1L, 100L))
    pm.addData((t("2024-01-01 00:30:00"), 1L, 200L))
    q.processAllAvailable()
    // batch 2: a later purchase still within 1 h of the SAME view
    // (cross-batch state) and one past the hour (no match)
    pm.addData((t("2024-01-01 00:59:00"), 1L, 201L),
      (t("2024-01-01 01:30:00"), 1L, 202L))
    q.processAllAvailable()
    val out = spark.table("ssj_out").orderBy("purchase_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    assert(out.toSeq === Seq(200L -> 100L, 201L -> 100L))
  }

  test("streaming as-of equals the batch as-of join under random batch cuts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 2) {
      // random tagged events with UNIQUE timestamps (the batch operator
      // is tie-ambiguous on duplicate quote ts by documented contract),
      // delivered in EVENT-TIME order across RANDOM micro-batch cuts —
      // in-order delivery is the 0 ms-watermark contract; the cuts
      // exercise cross-batch state and finalization timing
      val offs = rnd.shuffle((1 to 5000).toList).take(150)
      val events = offs.zipWithIndex.map { case (off, i) =>
        (rnd.nextInt(4).toLong,
          new Timestamp(1700000000000L + off * 1000L),
          if (rnd.nextBoolean()) "p" else "q",
          1000L + i, rnd.nextInt(100).toLong)
      }.sortBy(_._2.getTime)
      val mem = MemoryStream[(Long, Timestamp, String, Long, Long)]
      val df = mem.toDF().toDF("k", "ts", "side", "id", "v")
      val sink = s"asof_prop_$trial"
      val q = streaming.StreamAsof
        .backwardEnrich(df, "k", "ts", "side", "id", "v")
        .writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      // random batch boundaries over the ordered stream
      var rest = events
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(40)
        mem.addData(rest.take(n))
        q.processAllAvailable()
        rest = rest.drop(n)
      }
      // two watermark sweeps on an unused key flush every pending probe
      val far = new Timestamp(4102444800000L)
      mem.addData((9L, far, "q", 0L, 0L)); q.processAllAvailable()
      mem.addData((9L, new Timestamp(far.getTime + 1000L), "q", 0L, 0L))
      q.processAllAvailable()
      val got = spark.table(sink).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).sorted
      q.stop()
      val probes = events.filter(_._3 == "p")
        .map(e => (e._1, e._2, e._4)).toDF("k", "ts", "id")
      val quotes = events.filter(_._3 == "q")
        .map(e => (e._1, e._2, e._5)).toDF("k", "ts", "v")
      val want = graft.operators.AsofJoin
        .backward(probes, quotes, Seq("k"), "ts", Seq("v"))
        .collect().map(r => (r.getLong(r.fieldIndex("k")),
          r.getTimestamp(r.fieldIndex("ts")), r.getLong(r.fieldIndex("id")),
          if (r.isNullAt(r.fieldIndex("v"))) -1L
          else r.getLong(r.fieldIndex("v")))).sorted
      assert(got.toSeq === want.toSeq,
        s"trial $trial: stream != batch as-of")
    }
  }

  test("streaming funnel equals the batch funnel under random batch " +
      "cuts; same-instant later steps never count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 2) {
      val types = Vector("view", "click", "purchase", "error", "signup")
      val offs = rnd.shuffle((1 to 5000).toList).take(200)
      val base = offs.zipWithIndex.map { case (off, i) =>
        (rnd.nextInt(6).toLong,
          new Timestamp(1700000000000L + off * 1000L),
          1000L + i, types(rnd.nextInt(types.size)))
      }
      // the tie rule: user 50's click lands at the SAME instant as its
      // first view — strict > means it must NOT advance the funnel
      val tieTs = new Timestamp(1700000000000L + 6000 * 1000L)
      val ties = Seq(
        (50L, tieTs, 9001L, "view"), (50L, tieTs, 9002L, "click"),
        (50L, new Timestamp(tieTs.getTime + 1000L), 9003L, "click"))
      val events = (base ++ ties).sortBy(e => (e._2.getTime, e._3))
      val mem = MemoryStream[(Long, Timestamp, Long, String)]
      val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
      val steps = Seq("view", "click", "purchase")
      val stepCol = steps.zipWithIndex.foldLeft(lit(-1)) {
        case (acc, (t, i)) => when(col("event_type") === t, lit(i))
          .otherwise(acc) }
      val st = df.withWatermark("ts", "0 seconds")
        .select(col("user_id"), col("ts"), col("event_id"),
          stepCol.as("step"))
        .as[graft.streaming.FunnelEvent]
      val sink = s"funnel_prop_$trial"
      val q = graft.streaming.StateFunnel.funnel(st, 3).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      var rest = events
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(40)
        mem.addData(rest.take(n))
        q.processAllAvailable()
        rest = rest.drop(n)
      }
      // two watermark sweeps on an unused key finalize + time out all
      val far = new Timestamp(4102444800000L)
      mem.addData((99L, far, 0L, "x")); q.processAllAvailable()
      mem.addData((99L, new Timestamp(far.getTime + 1000L), 0L, "x"))
      q.processAllAvailable()
      // a key may emit at several quiescent points (stages monotone,
      // ts_first/span fixed once set) — the final answer is the
      // max-stages row per key
      val got = spark.table(sink).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2),
          r.getLong(3)))
        .groupBy(_._1).map(_._2.maxBy(_._2)).toSeq.sortBy(_._1)
      q.stop()
      val want = graft.pipeline.Sessions.funnel(
          events.toDF("user_id", "ts", "event_id", "event_type"),
          "user_id", "ts", "event_type", steps)
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getTimestamp(2), r.getLong(3))).toSeq.sortBy(_._1)
      assert(got === want, s"trial $trial: stream != batch funnel")
      // the tie is exercised: user 50's chain reached click via the
      // +1s event, not the same-instant one
      assert(want.exists(w => w._1 == 50L && w._2 >= 2))
    }
  }

  test("streaming funnel: a row landing exactly ON the watermark is " +
      "late (engine's inclusive bound) — dropped, no emission, no leak") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
    val steps = Seq("view", "click", "purchase")
    val stepCol = steps.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (t, i)) => when(col("event_type") === t, lit(i))
        .otherwise(acc) }
    val st = df.withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"), col("event_id"),
        stepCol.as("step"))
      .as[graft.streaming.FunnelEvent]
    val q = graft.streaming.StateFunnel.funnel(st, 3).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_boundary").start()
    // batch 1 drives the watermark to t0+10s
    mem.addData((1L, new Timestamp(t0 + 10000L), 1L, "view"))
    q.processAllAvailable()
    // batch 2: user 2's ONLY view lands at exactly the watermark.
    // MEASURED ENGINE FACT this test pins: FlatMapGroupsWithState's
    // late-row filter is INCLUSIVE (ts <= watermark is dropped), so
    // the row never reaches the operator — no funnel for user 2, and
    // no state entry either. The operator additionally defends in
    // depth (StateFunnel never stores state without a live timer), so
    // even if the engine's bound were exclusive the row could not
    // leak a timer-less entry.
    mem.addData((2L, new Timestamp(t0 + 10000L), 2L, "view"))
    q.processAllAvailable()
    // ...while one microsecond later is NOT late and must emit
    mem.addData((3L, new Timestamp(t0 + 10001L), 3L, "view"))
    q.processAllAvailable()
    val far = new Timestamp(4102444800000L)
    mem.addData((99L, far, 0L, "x")); q.processAllAvailable()
    mem.addData((99L, new Timestamp(far.getTime + 1000L), 0L, "x"))
    q.processAllAvailable()
    val users = spark.table("funnel_boundary").collect()
      .map(_.getLong(0)).toSet
    q.stop()
    assert(users === Set(1L, 3L),
      s"inclusive late bound: 2 dropped, 3 emitted; got $users")
  }

  test("streaming SCD-2 equals the batch validity intervals under " +
      "random batch cuts (closed-wins reconstruction)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 2) {
      val values = Vector("red", "green", "blue")
      // unique timestamps per user (the batch operator's tie contract
      // is handled by the pre-dedup; here the cleaner fixture)
      val offs = rnd.shuffle((1 to 5000).toList).take(180)
      val events = offs.zipWithIndex.map { case (off, i) =>
        (rnd.nextInt(5).toLong,
          new Timestamp(1700000000000L + off * 1000L),
          1000L + i, values(rnd.nextInt(values.size)))
      }.sortBy(_._2.getTime)
      val mem = MemoryStream[(Long, Timestamp, Long, String)]
      val df = mem.toDF().toDF("user_id", "ts", "event_id", "value")
      val st = df.withWatermark("ts", "0 seconds")
        .as[graft.streaming.ScdEvent]
      val sink = s"scd_prop_$trial"
      val q = graft.streaming.StateScd.intervals(st).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      var rest = events
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(40)
        mem.addData(rest.take(n))
        q.processAllAvailable()
        rest = rest.drop(n)
      }
      val far = new Timestamp(4102444800000L)
      mem.addData((99L, far, 0L, "x")); q.processAllAvailable()
      mem.addData((99L, new Timestamp(far.getTime + 1000L), 0L, "x"))
      q.processAllAvailable()
      // a key may emit an open row at a mid-stream quiescence and the
      // closing row later — closed (non-null valid_to) wins per
      // (user, valid_from), n_obs is the max observed
      val got = spark.table(sink).filter(col("user_id") =!= 99L)
        .groupBy(col("user_id"), col("value"), col("valid_from"))
        .agg(max(col("valid_to")).as("valid_to"),
          max(col("n_obs")).as("n_obs"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
          Option(r.getTimestamp(3)), r.getLong(4))).toSet
      q.stop()
      val want = graft.pipeline.Sessions.validityIntervals(
          events.toDF("user_id", "ts", "event_id", "value")
            .select(col("user_id"), col("ts"), col("value")),
          "user_id", "ts", "value")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
          Option(r.getTimestamp(3)), r.getLong(4))).toSet
      assert(got === want, s"trial $trial: stream != batch SCD")
    }
  }

  test("streaming funnel horizon: an expired chain is emitted and " +
      "dropped; steps after the horizon start a NEW funnel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def ev(userId: Long, offSec: Long, id: Long, tpe: String) =
      (userId, new Timestamp(t0 + offSec * 1000L), id, tpe)
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
    val steps = Seq("view", "click", "purchase")
    val stepCol = steps.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (t, i)) => when(col("event_type") === t, lit(i))
        .otherwise(acc) }
    val st = df.withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"), col("event_id"),
        stepCol.as("step"))
      .as[graft.streaming.FunnelEvent]
    // horizon 100 s: user 1's view at t=0 expires before its click at
    // t=200 arrives — the click must open a FRESH chain (stage 0
    // unset), not extend the expired one
    val q = graft.streaming.StateFunnel.funnel(st, 3, horizonSec = 100L)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("funnel_horizon").start()
    mem.addData(ev(1L, 0L, 1L, "view")); q.processAllAvailable()
    // quiesce past the horizon: sweep key advances the watermark so
    // user 1 times out with wm > ts_first + 100 s → emit + drop state
    mem.addData(ev(9L, 150L, 2L, "signup")); q.processAllAvailable()
    mem.addData(ev(9L, 151L, 3L, "signup")); q.processAllAvailable()
    // post-horizon click: with the chain dropped this cannot claim
    // stage 1 (no stage 0) — and with a later view it starts over
    mem.addData(ev(1L, 200L, 4L, "click")); q.processAllAvailable()
    mem.addData(ev(1L, 210L, 5L, "view")); q.processAllAvailable()
    mem.addData(ev(9L, 400L, 6L, "signup")); q.processAllAvailable()
    mem.addData(ev(9L, 401L, 7L, "signup")); q.processAllAvailable()
    val rows = spark.table("funnel_horizon").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2),
        r.getLong(3))).filter(_._1 == 1L).sortBy(_._3.getTime)
    q.stop()
    // two emissions for user 1: the expired 1-stage chain anchored at
    // t=0, then the fresh 1-stage chain anchored at t=210 (the t=200
    // click claimed nothing)
    assert(rows.map(r => (r._2, r._3.getTime, r._4)).toSeq ===
      Seq((1, t0, -1L), (1, t0 + 210000L, -1L)), rows.mkString(", "))
  }

  test("streaming SCD-2 horizon: a retired key's run is emitted and " +
      "dropped; a post-horizon return starts a NEW run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def ev(userId: Long, offSec: Long, id: Long, v: String) =
      (userId, new Timestamp(t0 + offSec * 1000L), id, v)
    def run(horizon: Long, sink: String)
        : Seq[(String, Long, Option[Long], Long)] = {
      val mem = MemoryStream[(Long, Timestamp, Long, String)]
      val st = mem.toDF().toDF("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.ScdEvent]
      val q = graft.streaming.StateScd.intervals(st, horizonSec = horizon)
        .toDF().writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      mem.addData(ev(1L, 0L, 1L, "red")); q.processAllAvailable()
      // sweep key: two batches so the watermark passes user 1's
      // quiescence timer, then (with horizon 100 s) the retirement
      mem.addData(ev(9L, 300L, 2L, "x")); q.processAllAvailable()
      mem.addData(ev(9L, 301L, 3L, "x")); q.processAllAvailable()
      // user 1 returns AFTER the horizon with the SAME value
      mem.addData(ev(1L, 400L, 4L, "red")); q.processAllAvailable()
      mem.addData(ev(9L, 800L, 5L, "x")); q.processAllAvailable()
      mem.addData(ev(9L, 801L, 6L, "x")); q.processAllAvailable()
      // RAW rows, no dedup: an open row must be emitted once per
      // CONTENT — the horizon-retirement fire on an unchanged run must
      // not duplicate it (a raw append consumer would double-count)
      val raw = spark.table(sink).filter(col("user_id") === 1L)
        .collect()
        .map(r => (r.getString(1), r.getTimestamp(2).getTime,
          Option(r.getTimestamp(3)).map(_.getTime), r.getLong(4)))
        .toSeq
      assert(raw.size === raw.distinct.size,
        s"duplicate emissions in raw output: $raw")
      val rows = raw.groupBy(r => (r._1, r._2)).map { case (_, g) =>
        (g.head._1, g.head._2, g.flatMap(_._3).lastOption,
          g.map(_._4).max)
      }.toSeq.sortBy(_._2)
      q.stop()
      rows
    }
    // horizon 100 s: the t=0 run retires at the t=300 quiescence
    // (open row emitted, state dropped), so the t=400 return opens a
    // FRESH run — two open rows, n_obs 1 each
    assert(run(100L, "scd_horizon") ===
      Seq(("red", t0, None, 1L), ("red", t0 + 400000L, None, 1L)))
    // default ∞ keeps batch parity: the same observations extend ONE
    // run (n_obs 2, anchored at t=0)
    assert(run(Long.MaxValue, "scd_nohorizon") ===
      Seq(("red", t0, None, 2L)))
  }

  test("state-schema fence: resuming a checkpoint with a changed state " +
      "shape fails loudly (the engine-side guard our state evolution " +
      "leans on)") {
    // StateScd/StateFunnel state case classes gained fields this round
    // (openFromUs/openN). A NEW stream is unaffected; the question is
    // what happens to an EXISTING checkpoint: this pins that Spark's
    // state-store schema check rejects the resume loudly (an operator
    // silently misreading old state bytes would be the silent-wrong
    // path). The production upgrade story is therefore: drain the old
    // stream to quiescence, then start fresh — same contract as a
    // shuffle-partition change.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = graft.TempDirs.scoped("graft_state_fence").toString
    val out = graft.TempDirs.scoped("graft_state_fence_out").toString
    def runWith[S <: Product : org.apache.spark.sql.Encoder](
        mk: Long => S, get: S => Long, batches: Int): Unit = {
      val mem = MemoryStream[(Long, Timestamp)]
      val q = mem.toDF().toDF("k", "ts")
        .withWatermark("ts", "0 seconds")
        .as[(Long, Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[S, Long](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
          (k, evs, st: org.apache.spark.sql.streaming.GroupState[S]) =>
            val n = st.getOption.map(get).getOrElse(0L) + evs.size
            st.update(mk(n))
            Iterator.single(n)
        }
        .toDF("n")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      // a resumed checkpoint replays this source's committed offsets
      // as no-ops (fresh MemoryStream, same positions), so a resume
      // must enqueue PAST them for its last batch to be genuinely new
      try {
        (1 to batches).foreach { b =>
          mem.addData((1L, new Timestamp(1700000000000L + b * 1000L)))
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    def msgs(x: Throwable): String =
      if (x == null) "" else x.toString + "\n" + msgs(x.getCause)
    runWith[(Long, Long)](n => (n, n), _._1, batches = 1) // v1 state
    // BOTH a widened state (field added) and a type change are
    // rejected with STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE before
    // any old state byte is misread — measured engine fact on
    // Spark 4.1 (this is the fence; there is no silent-read path)
    val widened = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      runWith[(Long, Long, Long)](n => (n, n, n), _._1, batches = 2)
    }
    assert(msgs(widened).contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
      msgs(widened).take(500))
    val typed = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      runWith[(Long, String)](n => (n, "x"), _._1, batches = 3)
    }
    assert(msgs(typed).contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
      msgs(typed).take(500))
    // and the v1 output row is intact — nothing was corrupted
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).toSeq
      === Seq(1L))
  }

  test("state-shape upgrade, the blessed path: drain to a quiescent " +
      "watermark (residual state emits), restart with the new shape " +
      "on a fresh checkpoint — no loss, no dup across the seam") {
    // The fence test above pins that RESUMING a checkpoint with a
    // changed state shape fails loudly. This walks the path operators
    // must take instead (the production upgrade story the fence's
    // scaladoc promises): (1) stop feeding, advance the watermark past
    // every key's timeout so ALL residual state emits and clears —
    // the stream is quiescent, its state store logically empty;
    // (2) start the NEW state shape on a FRESH checkpoint and keep
    // feeding. The seam invariant: every event is counted in exactly
    // one run's emissions — drained finals in run 1, post-restart
    // events in run 2 — so the union has no loss and no dup.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckptV1 = graft.TempDirs.scoped("graft_drain_v1").toString
    val ckptV2 = graft.TempDirs.scoped("graft_drain_v2").toString
    val gapMs = 10000L
    // per-key event counts finalized by EVENT-TIME TIMEOUT (emit +
    // clear once the watermark passes last-seen + gap): the state shape
    // every drain must flush. S is the state type under upgrade.
    def runCounts[S <: Product : org.apache.spark.sql.Encoder](
        mkState: (Long, Long) => S, count: S => Long, last: S => Long,
        ckpt: String, sink: String,
        feed: (MemoryStream[(Long, Timestamp)],
          org.apache.spark.sql.streaming.StreamingQuery) => Unit): String = {
      val outDir = graft.TempDirs.scoped(s"graft_drain_out_$sink").toString
      val mem = MemoryStream[(Long, Timestamp)]
      val q = mem.toDF().toDF("k", "ts")
        .withWatermark("ts", "0 seconds")
        .as[(Long, Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[S, (Long, Long)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout
            .EventTimeTimeout()) {
          (k, evs, st: org.apache.spark.sql.streaming.GroupState[S]) =>
            if (st.hasTimedOut) {
              val s = st.get; st.remove()
              Iterator.single((k, count(s))) // finalize + clear
            } else {
              val es = evs.toSeq
              val n = st.getOption.map(count).getOrElse(0L) + es.size
              val lastTs = math.max(
                st.getOption.map(last).getOrElse(0L),
                es.map(_._2.getTime).max)
              st.update(mkState(n, lastTs))
              st.setTimeoutTimestamp(lastTs + gapMs)
              Iterator.empty
            }
        }
        .toDF("k", "n")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .start()
      try feed(mem, q) finally q.stop()
      outDir
    }
    def readSink(outDir: String): Seq[(Long, Long)] =
      spark.read.parquet(outDir).filter(col("k") =!= 99L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val t0 = 1700000000000L
    def drain(mem: MemoryStream[(Long, Timestamp)],
        q: org.apache.spark.sql.streaming.StreamingQuery,
        from: Long): Unit = {
      // two sweep batches: the first advances the watermark past every
      // timeout, the second triggers the timed-out groups' emission
      mem.addData((99L, new Timestamp(from))); q.processAllAvailable()
      mem.addData((99L, new Timestamp(from + 1000L)))
      q.processAllAvailable()
    }
    // RUN 1 — v1 state (count, last): keys 1 and 2, then drain
    val out1 = runCounts[(Long, Long)]((n, l) => (n, l), _._1, _._2,
      ckptV1, "drain_run1", { (mem, q) =>
        mem.addData((1L, new Timestamp(t0 + 1000L)),
          (1L, new Timestamp(t0 + 2000L)), (2L, new Timestamp(t0 + 1500L)))
        q.processAllAvailable()
        mem.addData((1L, new Timestamp(t0 + 3000L)),
          (2L, new Timestamp(t0 + 2500L)))
        q.processAllAvailable()
        drain(mem, q, t0 + 3600000L)
      })
    val run1 = readSink(out1)
    assert(run1.sorted === Seq((1L, 3L), (2L, 2L)),
      s"drain must flush every key's residual state exactly once: $run1")
    // the WRONG path — resuming the v1 checkpoint with the v2 shape —
    // is what the fence rejects (loudly, before any state byte is read)
    def msgs(x: Throwable): String =
      if (x == null) "" else x.toString + "\n" + msgs(x.getCause)
    val wrong = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      runCounts[(Long, Long, Long)]((n, l) => (n, l, 0L), _._1, _._2,
        ckptV1, "drain_wrong", { (mem, q) =>
          // the resume replays run 1's committed offsets as no-ops
          // against this fresh MemoryStream — enqueue PAST them so a
          // genuinely new stateful batch executes (the fence test's
          // documented gotcha)
          (1 to 10).foreach { b =>
            mem.addData((1L, new Timestamp(t0 + 7200000L + b * 1000L)))
            q.processAllAvailable()
          }
        })
    }
    assert(msgs(wrong).contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
      msgs(wrong).take(400))
    // RUN 2 — v2 state (count, last, extra) on a FRESH checkpoint:
    // key 1 continues, key 3 is new, then drain again
    val out2 = runCounts[(Long, Long, Long)]((n, l) => (n, l, 7L), _._1, _._2,
      ckptV2, "drain_run2", { (mem, q) =>
        mem.addData((1L, new Timestamp(t0 + 1000L)),
          (1L, new Timestamp(t0 + 2000L)), (3L, new Timestamp(t0 + 1500L)))
        q.processAllAvailable()
        drain(mem, q, t0 + 3600000L)
      })
    val run2 = readSink(out2)
    assert(run2.sorted === Seq((1L, 2L), (3L, 1L)),
      s"post-upgrade run must count only post-seam events: $run2")
    // the seam invariant, stated over the union: per-key totals equal
    // the full event feed — nothing lost at the drain, nothing
    // double-counted by the restart
    val totals = (run1 ++ run2).groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    assert(totals === Map(1L -> 5L, 2L -> 2L, 3L -> 1L), totals.toString)
  }

  test("streaming as-of: watermark-finalized backward match, however-old " +
      "quotes, left nulls, exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // one tagged stream: (k, ts, side, id, v)
    val mem = MemoryStream[(Long, Timestamp, String, Long, Long)]
    val df = mem.toDF().toDF("k", "ts", "side", "id", "v")
    val q = streaming.StreamAsof.backwardEnrich(df, "k", "ts", "side", "id", "v")
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_out").start()
    def t(x: String) = Timestamp.valueOf(x)
    // batch 1: key 1 gets a quote then probes around it; key 2 a probe
    // with NO quote ever (left-null case). Nothing can emit yet — the
    // watermark is still at zero during this batch.
    mem.addData(
      (1L, t("2024-01-01 00:00:00"), "q", 0L, 10L),
      (1L, t("2024-01-01 00:10:00"), "p", 101L, 0L),
      (1L, t("2024-01-01 00:00:00"), "p", 100L, 0L), // == quote ts: matches
      (2L, t("2024-01-01 00:05:00"), "p", 200L, 0L))
    q.processAllAvailable()
    // batch 2: a fresher quote for key 1, then a probe AFTER it, plus a
    // far probe that advances the watermark past everything earlier.
    // The batch-1 probes finalize here (watermark = 00:10 after batch 1).
    mem.addData(
      (1L, t("2024-01-01 02:00:00"), "q", 0L, 20L),
      (1L, t("2024-01-01 05:00:00"), "p", 102L, 0L), // hours-old quote: 20
      (3L, t("2024-01-02 00:00:00"), "p", 300L, 0L))
    q.processAllAvailable()
    // batch 3: watermark sweep (a quote on the unused key 9) flushes the
    // stragglers via event-time timeouts — including keys with no new data
    mem.addData((9L, t("2024-01-03 00:00:00"), "q", 0L, 0L))
    q.processAllAvailable()
    mem.addData((9L, t("2024-01-04 00:00:00"), "q", 0L, 0L))
    q.processAllAvailable()
    val out = spark.table("asof_out").orderBy("id")
      .collect().map(r => (r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    q.stop()
    assert(out.toSeq === Seq(
      100L -> 10L,  // probe at the quote's exact ts: inclusive match
      101L -> 10L,  // probe after the quote
      102L -> 20L,  // fresher quote wins, however old it is by then
      200L -> -1L,  // key with no quotes: left-null emission
      300L -> -1L), // key born after all quotes of other keys: null
      s"got ${out.toSeq}")
    // exactly once: no duplicates across the flush batches
    assert(out.map(_._1).distinct.length === out.length)
  }

  test("streaming CC: foreachBatch fold over file batches equals the " +
      "batch run over the union") {
    import spark.implicits._
    def t(x: String) = java.sql.Timestamp.valueOf(x)
    // two chains that MERGE only when the second batch lands (4-5 joins
    // 3-4 and 5-6), plus an isolated pair — the cross-batch case the
    // incremental fold must get right
    val batch1 = Seq((1L, 2L), (3L, 4L), (10L, 11L))
    val batch2 = Seq((2L, 3L), (4L, 5L), (5L, 6L))
    val dir = java.nio.file.Files.createTempDirectory("graft_scc")
    Seq(batch1, batch2).zipWithIndex.foreach { case (edges, i) =>
      val part = java.nio.file.Files.createTempDirectory(s"graft_scc_p$i")
      edges.toDF("i", "j").coalesce(1).write.mode("overwrite")
        .parquet(part.toString)
      val f = java.nio.file.Files.list(part).filter(p =>
        p.getFileName.toString.startsWith("part-")).findFirst().get()
      java.nio.file.Files.copy(f, dir.resolve(s"b$i.parquet"))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.LongType)))
    val st = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val streamed = graft.streaming.StreamCc.run(spark, st)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = (batch1 ++ batch2).toDF("i", "j")
    val nodes = all.select(col("i").as("id"))
      .union(all.select(col("j"))).distinct()
    val batch = graft.pipeline.Dedup.connectedComponents(all, nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed(6L) === 1L && streamed(11L) === 10L,
      s"chains must merge across batches: $streamed")
  }
}
