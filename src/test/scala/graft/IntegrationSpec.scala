package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.spec.Specs

/** Multi-server, multi-datasource engine run: two servers with different
  * phase offsets (srvid % 20) ticking together, several datasource kinds
  * active at once, readback via the public API. Mirrors the shape of the
  * reference's remote fleet (sql/02_remote_api.sql) at miniature scale.
  */
class IntegrationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def bg(srvid: Int, t: Int): DataFrame = {
    import spark.implicits._
    Seq((srvid, Timestamp.valueOf(f"2024-01-01 00:$t%02d:00"),
      100L * t, 10L * t, 5L * t, 2L * t, 1L * t))
      .toDF("srvid", "ts", "buffers_clean", "maxwritten_clean",
        "buffers_backend", "buffers_backend_fsync", "buffers_alloc")
  }

  private def db(srvid: Int, t: Int): DataFrame = {
    import spark.implicits._
    Seq((srvid, Timestamp.valueOf(f"2024-01-01 00:$t%02d:00"), 100L,
      3, 10L * t, 1L * t))
      .toDF("srvid", "ts", "datid", "numbackends", "xact_commit", "xact_rollback")
      .select(col("*") +: Specs.statDatabase.counterCols
        .filterNot(c => Set("numbackends", "xact_commit", "xact_rollback")
          .contains(c.name))
        .map(c => lit(null).cast(c.dt).as(c.name)): _*)
  }

  test("two servers, phase-shifted cadence, multiple sources, readback") {
    val e = mkEngine()
    // srvid 20 → phase 0; srvid 23 → phase 3: their aggregate ticks are
    // de-phased by srvid % 20 (powa--5.2.0.sql:3550)
    val a = e.registry.registerServer(ServerConfig(
      id = 20, hostname = "a", powaCoalesce = 5))
    val b = e.registry.registerServer(ServerConfig(
      id = 23, hostname = "b", powaCoalesce = 5))

    (1 to 5).foreach { t =>
      Seq(a, b).foreach { s =>
        e.ingest("powa_stat_bgwriter", bg(s, t))
        e.ingest("powa_stat_database", db(s, t))
        e.takeSnapshot(s, Timestamp.valueOf(f"2024-01-01 00:$t%02d:30"))
      }
    }

    def histCount(srvid: Int, ds: String): Long =
      e.store.read(ds, GenericDatasource.History,
          GenericDatasource.historyNoSrvid(Specs.byName(ds)))
        .filter(col("srvid") === srvid).count()
    def curCount(srvid: Int, ds: String): Long =
      e.store.read(ds, GenericDatasource.Current,
          GenericDatasource.currentNoSrvid(Specs.byName(ds)))
        .filter(col("srvid") === srvid).count()

    // server 20 (phase 0): tick 5 hit (5+0)%5==0 → all 5 coalesced
    assert(histCount(a, "powa_stat_bgwriter") === 1)
    assert(curCount(a, "powa_stat_bgwriter") === 0)
    // server 23 (phase 3): its aggregate fired at tick 2 ((2+3)%5==0),
    // coalescing ticks 1-2; ticks 3-5 still in current — the fleet never
    // aggregates in lockstep (powa--5.2.0.sql:3550)
    assert(histCount(b, "powa_stat_bgwriter") === 1)
    assert(curCount(b, "powa_stat_bgwriter") === 3)
    val bHist = e.store.read("powa_stat_bgwriter",
        GenericDatasource.History,
        GenericDatasource.historyNoSrvid(Specs.byName("powa_stat_bgwriter")))
      .filter(col("srvid") === b)
    assert(bHist.select(size(col("records"))).head().getInt(0) === 2)

    // per-db rollup flowed for pg_stat_database (datid key)
    val dbs = e.datasource("powa_stat_database")
    assert(curCount(a, "powa_stat_database") === 0 ||
      histCount(a, "powa_stat_database") >= 1)

    // readback with rates across tiers for server 20
    val series = e.readSeriesWithRates("powa_stat_bgwriter", a,
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-01-01 01:00:00"))
    assert(series.count() === 5)
    val rates = series.orderBy(col("record.ts"))
      .select(col("buffers_clean_per_sec")).collect()
    assert(rates.head.isNullAt(0))
    // 100 more buffers per 60s tick → 100/60 per second
    assert(math.abs(rates(1).getDouble(0) - 100.0 / 60.0) < 1e-12)

    // deleting server b sweeps its partitions and registry rows
    e.deleteServer(b)
    assert(curCount(b, "powa_stat_bgwriter") === 0)
    assert(!e.registry.serverIds.contains(b))
    assert(e.registry.serverIds.contains(a))
  }

  test("catalog import runs inside the remote tick, stamps after pg_class") {
    import spark.implicits._
    val e = mkEngine()
    val srvid = e.registry.registerServer(ServerConfig(
      id = 60, hostname = "remote", catalogRefreshSec = 3600))
    val dbid = 5L
    def cat(rows: (Long, String)*): DataFrame =
      rows.toSeq.toDF("oid", "name")

    // tick 1: only pg_database staged — imported, but NO refresh stamp
    // (the stamp means "family complete" and only pg_class sets it)
    e.catalogs.stage("pg_database", srvid, dbid, cat(1L -> "db1"))
    assert(e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:00:00")) === 0)
    assert(e.catalogs.read("pg_database", srvid, dbid).get.count() === 1)
    assert(e.catalogs.lastRefresh(srvid, dbid).isEmpty)
    assert(e.catalogs.stagedDbids("pg_database", srvid).isEmpty) // drained

    // tick 2: pg_class staged — the pass stamps last_refresh = tick ts
    e.catalogs.stage("pg_class", srvid, dbid, cat(7L -> "t1", 8L -> "t2"))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:01:00"))
    assert(e.catalogs.lastRefresh(srvid, dbid) ===
      Some(Timestamp.valueOf("2024-01-01 00:01:00")))
    assert(e.catalogs.read("pg_class", srvid, dbid).get.count() === 2)

    // tick 3: fresh mirror → staged update SKIPPED and drained (:725-745)
    e.catalogs.stage("pg_class", srvid, dbid, cat(9L -> "t3"))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 00:02:00"))
    assert(e.catalogs.read("pg_class", srvid, dbid).get.count() === 2)
    assert(e.catalogs.stagedDbids("pg_class", srvid).isEmpty)

    // tick 4: past the refresh interval → imported again
    e.catalogs.stage("pg_class", srvid, dbid, cat(9L -> "t3"))
    e.takeSnapshot(srvid, Timestamp.valueOf("2024-01-01 02:00:00"))
    assert(e.catalogs.read("pg_class", srvid, dbid).get.count() === 1)
    assert(e.catalogs.lastRefresh(srvid, dbid) ===
      Some(Timestamp.valueOf("2024-01-01 02:00:00")))

    // local server (srvid 0) never runs the catalog pass (:3663-3665)
    e.catalogs.stage("pg_class", 0, dbid, cat(1L -> "x"))
    e.takeSnapshot(0, Timestamp.valueOf("2024-01-01 02:01:00"))
    assert(e.catalogs.read("pg_class", 0, dbid).isEmpty)

    e.reset(srvid)
    assert(e.catalogs.read("pg_class", srvid, dbid).isEmpty)
    assert(e.catalogs.lastRefresh(srvid, dbid).isEmpty)
  }

  private def mkEngine(): Engine = {
    val root = java.nio.file.Files.createTempDirectory("graft_integ").toString
    new Engine(spark, root)
  }

  test("curation pipeline composes: quality -> chunk-dedup rewrite -> " +
      "split -> pack, deterministically") {
    import org.apache.spark.sql.functions._
    import graft.pipeline._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // 1. quality gate (loose bounds: keep most, reject degenerate)
    val kept = TextOps.gopherQuality(docs, "text",
        minWords = 5, maxWords = 10000, minMeanWordLenPpm = 1000000L,
        maxMeanWordLenPpm = 20000000L, minStopwordPpm = 0L)
      .filter(col("keep"))
      .select(col("doc_id"), col("source"), col("text"))
    assert(kept.count() > 0)
    // 2. sub-document dedup: rewrite from corpus-unique chunks
    val rewritten = Chunking.dedupRewrite(kept, "doc_id", "text", 4, 8)
      .join(kept.select(col("doc_id"), col("source")), "doc_id")
    val nRewritten = rewritten.count()
    assert(nRewritten > 0 && nRewritten <= kept.count())
    // 3. deterministic split
    val split = Sampling.splitAssign(rewritten, "doc_id", 900000L, 50000L)
    // 4. pack the train split into fixed token bins per source
    val packed = TextOps.packSequences(
      split.filter(col("split") === "train")
        .withColumnRenamed("text_deduped", "text"),
      "doc_id", "source", "text", binTokens = 256L)
    assert(packed.count() > 0)
    assert(packed.select(col("bin")).distinct().count() > 0)
    // determinism: the whole composed pipeline re-runs to the same rows
    val again = TextOps.packSequences(
      Sampling.splitAssign(
        Chunking.dedupRewrite(kept, "doc_id", "text", 4, 8)
          .join(kept.select(col("doc_id"), col("source")), "doc_id"),
        "doc_id", 900000L, 50000L)
        .filter(col("split") === "train")
        .withColumnRenamed("text_deduped", "text"),
      "doc_id", "source", "text", binTokens = 256L)
    assert(packed.except(again).isEmpty && again.except(packed).isEmpty)
  }

  test("round-5 ops compose into the curation pipeline: containment " +
      "removal -> weighted sample -> histogram profile -> negatives") {
    import graft.pipeline._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // 1. drop the contained (partial-copy) side of every chunk-level
    //    containment pair above 50% — keep the larger doc (min id ties)
    val pairs = Chunking.chunkContainment(docs, "doc_id", "text",
      w = 4, div = 8, dfCap = 10, minPpm = 500000L)
    val losers = pairs.select(
      when(col("containment_i_ppm") >= col("containment_j_ppm"), col("i"))
        .otherwise(col("j")).as("doc_id")).distinct()
    val surviving = docs.join(losers, Seq("doc_id"), "left_anti")
    assert(surviving.count() > 0 && surviving.count() <= docs.count())
    // 2. quality-weighted downsample of the survivors
    val sampled = Sampling.weightedPpm(surviving, "doc_id",
      col("n_chars") * 5000L)
    assert(sampled.count() > 0 && sampled.count() <= surviving.count())
    // 3. histogram profile of what survived (mergeable, per source)
    val prof = Sketches.histQuantiles(
      Sketches.histogram(sampled, "source", col("n_chars"), 50L),
      "source", 50L)
    assert(prof.count() > 0)
    // 4. contrastive negatives over the final corpus
    val negs = Sampling.negativePairs(sampled, "doc_id", k = 2, buckets = 16)
    assert(negs.count() > 0)
    // the whole composition is hash-deterministic end to end
    val again = Sampling.negativePairs(
      Sampling.weightedPpm(
        docs.join(losers, Seq("doc_id"), "left_anti"), "doc_id",
        col("n_chars") * 5000L),
      "doc_id", k = 2, buckets = 16)
    assert(negs.except(again).isEmpty && again.except(negs).isEmpty)
  }
}
