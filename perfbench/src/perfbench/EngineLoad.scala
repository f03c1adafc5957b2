package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Engine, QualstatsDatasource, ServerConfig}
import graft.operators.TopK

/** The reference cadence of one server, replayed in the benchmark so the
  * retained samples after any number of ticks are known: every tick bumps
  * `coalesce_seq`; phase `(seq + srvid % 20) % coalesce` 0 aggregates
  * current into one history range, phase 1 purges ranges that ended
  * before `now - retention`. */
final class Cadence(srvid: Int, coalesce: Int, retentionMs: Long, gen: Gen) {
  private var seq = 0L
  private var current = Vector.empty[Int]
  var groups: Vector[Vector[Int]] = Vector.empty

  /** Record one tick over samples `ks`; returns its phase. */
  def tick(ks: Seq[Int], nowMs: Long): Long = {
    seq += 1
    current ++= ks
    val phase = (seq + srvid % 20) % coalesce
    if (phase == 0) { groups :+= current; current = Vector.empty }
    if (phase == 1)
      groups = groups.filter(g => gen.ts(g.max).getTime >= nowMs - retentionMs)
    phase
  }

  def retained: Seq[Int] = groups.flatten ++ current
}

/** Dashboard requests against one server: the server overview (per-db
  * rollup with rates), top queries per database (TopK), query detail
  * (one queryid with rates) and the qualstats constvalues ranges, each
  * over the server's retained samples `ks` and fully materialized with a
  * `noop` write. Responses are checked against the generator's closed
  * forms. */
final class Dashboard(eng: Engine, gen: Gen, srvid: Int, tr: Tracer,
    checks: Checks, seed: Long) {
  import Dashboard._
  private val rnd = new java.util.Random(seed * 31 + 7)
  private val qd = eng.datasource(Gen.Qualstats).asInstanceOf[QualstatsDatasource]

  /** The DataFrame of one request; `q` picks the query for query detail. */
  def request(kind: String, from: Timestamp, to: Timestamp, q: Int): DataFrame =
    kind match {
      case "overview" =>
        eng.readSeriesDbWithRates(Gen.Statements, srvid, from, to)
      case "top_queries" =>
        val per = eng.readSeriesWithRates(Gen.Statements, srvid, from, to)
          .groupBy(col("dbid"), col("queryid"))
          .agg(sum(col("total_exec_time_delta")).as("exec_ms"),
            sum(col("calls_delta")).as("calls"))
        TopK.topKPerGroup(per, Seq(col("dbid")),
          Seq(col("exec_ms").desc, col("queryid").asc), TopN)
      case "query_detail" =>
        eng.readSeriesWithRates(Gen.Statements, srvid, from, to)
          .filter(col("queryid") === gen.queryid(q))
      case "constvalues" =>
        qd.readConstvaluesHistory(eng.store, srvid)
          .filter(col("range_end") >= lit(from) && col("range_start") <= lit(to))
    }

  /** Rows the request must return when `ks` are the retained samples, of
    * which `ranges` history ranges were aggregated. */
  def expectedRows(kind: String, ks: Seq[Int], ranges: Int): Long = kind match {
    case "overview" | "query_detail" => gen.shape.dbs.toLong * ks.size
    case "top_queries" => gen.shape.dbs.toLong * math.min(TopN, gen.shape.queries)
    case "constvalues" => gen.shape.quals.toLong * ranges
  }

  /** Compare a response with the generator's closed form: row counts,
    * sums of the per-entity deltas, and the exact top-N ranking. */
  def check(kind: String, ks: Seq[Int], ranges: Int, q: Int, df: DataFrame): Unit = {
    val steps = ks.size - 1L
    val callsFi = Gen.counterIndex(Gen.Statements, "calls")
    val execFi = Gen.counterIndex(Gen.Statements, "total_exec_time")
    val ents = 0 until gen.entities(Gen.Statements)
    def stepSum(es: Seq[Int]) =
      es.map(e => gen.step(Gen.Statements, srvid, e, callsFi)).sum * steps
    val want = expectedRows(kind, ks, ranges)
    kind match {
      case "overview" | "query_detail" =>
        val r = df.agg(count(lit(1)), sum(col("calls_delta"))).head()
        val es = if (kind == "overview") ents else ents.filter(gen.queryOf(_) == q)
        val got = (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
        checks.expect(got == ((want, stepSum(es).toDouble)),
          s"$kind over ${ks.size} samples: got $got want ${(want, stepSum(es))}")
      case "top_queries" =>
        val got = df.select(col("dbid"), col("queryid"), col("rank"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
        val top = if (steps == 0) Nil else (0 until gen.shape.dbs).flatMap { d =>
          ents.filter(gen.dbOf(_) == d)
            .map(e => (-gen.step(Gen.Statements, srvid, e, execFi), gen.queryOf(e)))
            .sorted.take(TopN).zipWithIndex
            .map { case ((_, qq), i) => (gen.dbid(d), gen.queryid(qq), i + 1) }
        }.sorted
        checks.expect(steps == 0 && got.size == want || got == top,
          s"top_queries: got ${got.take(4)} want ${top.take(4)}")
      case "constvalues" =>
        val r = df.agg(count(lit(1)),
          coalesce(min(size(col("most_used"))), lit(gen.shape.variants))).head()
        checks.expect((r.getLong(0), r.getInt(1)) == ((want, gen.shape.variants)),
          s"constvalues: got (${r.getLong(0)}, ${r.getInt(1)}) want ($want, ${gen.shape.variants})")
    }
  }

  /** One request over the retained samples `ks` (a contiguous run), timed
    * from building the DataFrame to the end of its `noop` write; with
    * `verify` the response is checked afterwards, outside the timing. */
  def serve(kind: String, ks: Seq[Int], ranges: Int, verify: Boolean,
      out: Samples): Unit = {
    val q = rnd.nextInt(gen.shape.queries)
    val rows = expectedRows(kind, ks, ranges)
    checks.attempt()
    try {
      val t0 = System.nanoTime()
      val df = tr.span("read", "operators", Map("rows_expected" -> rows.toDouble)) {
        val d = request(kind, gen.ts(ks.min), gen.ts(ks.max), q)
        d.write.format("noop").mode("overwrite").save()
        d
      }
      val ms = Stats.ms(System.nanoTime() - t0)
      out.add("read_ms", ms)
      out.add(s"read.${kind}_ms", ms)
      Stats.log(f"read $kind: $ms%.0f ms")
      if (verify) check(kind, ks, ranges, q, df)
    } catch { case e: Exception =>
      checks.fail(s"request $kind threw ${e.getMessage}") }
  }
}

object Dashboard {
  val Kinds: Seq[String] = Seq("overview", "top_queries", "query_detail", "constvalues")
  val TopN = 5
}

/** The collector and its dashboard on one engine, one client thread.
  * Each round stages one sample of every datasource (`Engine.ingest`)
  * and ticks the server (`Engine.takeSnapshot`). Simulated time advances
  * by the server frequency per round; nothing sleeps. */
final class Collector(spark: SparkSession, val eng: Engine, gen: Gen,
    srvid: Int, tr: Tracer, checks: Checks, seed: Long) {
  import EngineLoad._
  private val cadence = new Cadence(srvid, Coalesce, RetentionSec * 1000L, gen)
  private val dash = new Dashboard(eng, gen, srvid, tr, checks, seed)
  var round = 0

  eng.registry.registerServer(ServerConfig(id = srvid,
    hostname = s"collector-$srvid", frequencySec = gen.freqSec.toInt,
    retentionSec = RetentionSec, powaCoalesce = Coalesce))

  def nowOf(k: Int): Timestamp = new Timestamp(gen.ts(k).getTime + 1000L)

  /** One round: stage, then tick. */
  def runRound(out: Samples): Unit = {
    round += 1
    val k = round
    val batches = gen.batches(spark, srvid, Seq(k))
    val now = nowOf(k)
    val t0 = System.nanoTime()
    batches.foreach { case (ds, df, n) =>
      val i0 = System.nanoTime()
      tr.span("ingest", "core.Store", Map("rows" -> n.toDouble)) {
        eng.ingest(ds, df)
      }
      out.add("ingest_ms", Stats.ms(System.nanoTime() - i0))
      out.count("staged_rows", n)
    }
    val t1 = System.nanoTime()
    checks.attempt()
    val errs =
      try tr.span("tick", "core.Engine") { eng.takeSnapshot(srvid, now) }
      catch { case e: Exception => checks.fail(s"tick $k threw ${e.getMessage}"); 1 }
    val t2 = System.nanoTime()
    checks.expect(errs == 0,
      s"takeSnapshot(tick $k) reported $errs errors: ${eng.registry.meta(srvid).errors.takeRight(2).mkString("; ")}")
    val phase = cadence.tick(Seq(k), now.getTime)
    val meta = eng.registry.meta(srvid)
    val agg = meta.aggts.contains(now)
    val purge = meta.purgets.contains(now)
    checks.expect(agg == (phase == 0) && purge == (phase == 1),
      s"tick $k: aggts/purgets disagree with cadence phase $phase")
    val tickMs = Stats.ms(t2 - t1)
    out.add("tick_ms", tickMs)
    out.add(if (agg) "agg_tick_ms" else if (purge) "purge_tick_ms" else "snap_tick_ms", tickMs)
    out.count("busy_ns", (t2 - t0).toDouble)
    out.count("ticks")
    Stats.log(f"tick k=$k phase=$phase ingest=${Stats.ms(t1 - t0)}%.0f ms tick=$tickMs%.0f ms")
  }

  /** One untimed round, which takes the cold start of a run: the
    * server's first tick falls on the aggregate phase. */
  def warmUp(out: Samples): Unit = {
    runRound(out)
    checks.expect(out.get("agg_tick_ms").nonEmpty,
      "warm-up did not reach the aggregate phase")
  }

  /** One cadence cycle: `Coalesce` rounds, so the server aggregates and
    * purges once; the store size is recorded at the end of the first
    * cycle measured, when every run has done the same work. */
  def cycle(out: Samples): Unit = {
    (1 to Coalesce).foreach(_ => runRound(out))
    if (!out.counts.contains("store_bytes"))
      out.counts("store_bytes") = Stats.dirBytes(java.nio.file.Paths.get(eng.store.root))
  }

  /** One dashboard request of each kind over everything the server
    * retains, each checked. */
  def dashboard(out: Samples): Unit = Dashboard.Kinds.foreach(kind =>
    dash.serve(kind, cadence.retained, cadence.groups.size, verify = true, out))

  /** Readback of every staged datasource over the whole simulated span
    * must return exactly the retained samples of the generator. */
  def verify(): Unit = {
    val ks = cadence.retained
    Gen.Staged.foreach { ds =>
      val fi = firstLongCounter(ds)
      val f = graft.spec.Specs.byName(ds).counterCols(fi).name
      checks.attempt()
      try {
        val r = eng.readSeriesWithRates(ds, srvid, gen.ts(0), nowOf(round + 1))
          .agg(count(lit(1)), sum(col(s"record.$f"))).head()
        val wantN = ks.size.toLong * gen.entities(ds)
        val wantSum = gen.counterSum(ds, srvid, fi, ks)
        checks.expect(r.getLong(0) == wantN && r.getLong(1) == wantSum,
          s"readback $ds: got (${r.getLong(0)}, ${r.get(1)}) want ($wantN, $wantSum)")
      } catch { case e: Exception =>
        checks.fail(s"readback $ds threw ${e.getMessage}") }
    }
  }
}

object EngineLoad {
  val Coalesce = 5
  /** One sample: each purge drops the range aggregated at the tick before
    * it, so the purge of every measured cycle drops rows. */
  val RetentionSec = 300L
  val FreqSec = 300L
  /** srvid % 20 == 4: the first tick aggregates, the second purges. */
  val Srvid = 24

  def firstLongCounter(ds: String): Int =
    graft.spec.Specs.byName(ds).counterCols.indexWhere(_.dt == org.apache.spark.sql.types.LongType)
}
