package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Registry, ServerConfig}
import graft.operators.{Coalesce, DeltaRate}

/** Property tests from the SURVEY.md §5 plan: coalesce round-trip and
  * min/max invariants over generated series, diff/rate algebra guards,
  * and the dbnames activation algebra. Uses seeded ScalaCheck generators
  * directly (the scalatest bridge isn't on the offline classpath).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def forAllSeeded[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(fail(s"generator failed for seed $i")))
    }

  private val seriesGen: Gen[List[(Int, Long, String, Long, Double)]] =
    Gen.nonEmptyListOf(for {
      srvid <- Gen.choose(0, 2)
      user <- Gen.choose(0L, 5L)
      et <- Gen.oneOf("a", "b")
      tsOff <- Gen.choose(0L, 1000000L)
      v <- Gen.choose(-1000.0, 1000.0)
    } yield (srvid, user, et, tsOff, v))

  private def toCurrent(rows: List[(Int, Long, String, Long, Double)]) = {
    import spark.implicits._
    rows.toDF("srvid", "user_id", "event_type", "off", "value")
      .withColumn("ts", timestamp_micros(lit(1700000000000000L) + col("off") * 1000000L))
      .select(col("srvid"), col("user_id"), col("event_type"),
        struct(col("ts"), col("value")).as("record"))
  }

  test("coalesce: explode(collect) == identity and min/max invariants hold") {
    forAllSeeded(seriesGen, 5) { rows =>
      val cur = toCurrent(rows)
      val hist = Coalesce.aggregate(cur, EventsSource.spec).cache()
      val back = hist.select(col("srvid"), col("user_id"), col("event_type"),
        explode(col("records")).as("record"))
      assert(back.count() === cur.count())
      assert(back.except(cur).isEmpty && cur.except(back).isEmpty)
      val bad = hist.filter(
        col("mins_in_range.value") =!= array_min(col("records.value")) ||
        col("maxs_in_range.value") =!= array_max(col("records.value")) ||
        col("range_start") > col("range_end"))
      assert(bad.isEmpty)
      hist.unpersist()
    }
  }

  test("delta/rate: delta/sec algebra with the zero-interval guard") {
    forAllSeeded(seriesGen, 5) { rows =>
      val out = DeltaRate.withRates(toCurrent(rows), EventsSource.spec)
        .select("intvl_sec", "value_delta", "value_per_sec").collect()
      out.foreach { r =>
        if (!r.isNullAt(0)) {
          val (sec, delta, rate) =
            (r.getDouble(0), r.getDouble(1), r.getDouble(2))
          assert(sec >= 0.0)
          val div = if (sec == 0.0) 1.0 else sec
          assert(rate === delta / div)
        }
      }
    }
  }

  test("configure-server json patch: whitelist + constraint enforcement") {
    val r = new Registry
    val s = r.registerServer(ServerConfig(id = 9, hostname = "h"))
    r.configureServerJson(s, Map("frequency" -> "600", "retention" -> "7200"))
    assert(r.server(s).frequencySec === 600)
    assert(r.server(s).retentionSec === 7200L)
    // unknown field raises (02_remote_api.sql json-patch errors)
    intercept[IllegalArgumentException](
      r.configureServerJson(s, Map("nope" -> "1")))
    // CHECK constraints still apply through the patch path
    intercept[IllegalArgumentException](
      r.configureServerJson(s, Map("frequency" -> "3")))
    intercept[IllegalArgumentException](
      r.configureServerJson(s, Map("powa_coalesce" -> "2")))
  }

  test("dbnames algebra: the sql/03_db_module.sql transition script") {
    val r = new Registry
    val s = r.registerServer(ServerConfig(id = 7, hostname = "h"))
    val m = "pg_stat_user_functions"
    import r.{DbAll, DbNames, DbDisabled}

    // default all-db config
    r.activateDbModule(s, m)
    assert(r.dbModuleState(s, m) === Some(DbAll))
    // can't deactivate a specific db on an "all databases" config
    intercept[IllegalStateException](
      r.deactivateDbModule(s, m, Some(Seq("test"))))
    // activating a specific db on an all-db config switches to that db only
    r.activateDbModule(s, m, Some(Seq("d1")))
    assert(r.dbModuleState(s, m) === Some(DbNames(Vector("d1"))))
    // activating a specific db on a specific-db config REPLACES it (:2443)
    r.activateDbModule(s, m, Some(Seq("d2")))
    assert(r.dbModuleState(s, m) === Some(DbNames(Vector("d2"))))
    // deactivating without a list switches back to all-db, disabled
    r.deactivateDbModule(s, m)
    assert(r.dbModuleState(s, m) === Some(DbDisabled))
    assert(!r.isDbModuleEnabled(s, m, "d2"))
    // activating with multiple dbs re-enables with exactly those
    r.activateDbModule(s, m, Some(Seq("d1", "d3", "d4")))
    assert(r.dbModuleState(s, m) === Some(DbNames(Vector("d1", "d3", "d4"))))
    // deactivating a specific db just removes it (EXCEPT, :2540-2545)
    r.deactivateDbModule(s, m, Some(Seq("d3")))
    assert(r.dbModuleState(s, m) === Some(DbNames(Vector("d1", "d4"))))
    // can't deactivate a db that isn't activated
    intercept[IllegalStateException](
      r.deactivateDbModule(s, m, Some(Seq("d3"))))
    // deactivating all remaining dbs flips to disabled
    r.deactivateDbModule(s, m, Some(Seq("d1", "d4")))
    assert(r.dbModuleState(s, m) === Some(DbDisabled))
    // deactivating a deactivated module is a noop
    r.deactivateDbModule(s, m, Some(Seq("d1", "d4")))
    assert(r.dbModuleState(s, m) === Some(DbDisabled))
    // deactivating an unconfigured module isn't supported
    intercept[IllegalStateException](
      r.deactivateDbModule(s, "pg_stat_all_indexes"))
  }

  // ---------- round-4 operator properties ----------

  // distinct tokens per doc → no chunk can repeat inside a document
  // (the rewrite is first-occurrence-wins GLOBALLY, so only then is
  // identity the expected outcome; intra-doc repeats trim — C4
  // semantics, caught by an earlier version of this property)
  private val tokensGen: Gen[Seq[String]] =
    Gen.pick(40, 1 to 400).map(_.toList.map(i => s"w$i"))

  test("cdc rewrite is the identity on unique docs with unique chunks") {
    import spark.implicits._
    forAllSeeded(Gen.listOfN(5, tokensGen), 4) { docs =>
      val distinctDocs = docs.map(_.mkString(" ")).distinct
        .filter(_.nonEmpty)
      val df = distinctDocs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = graft.pipeline.Chunking
        .dedupRewrite(df, "doc_id", "text", w = 4, div = 8)
        .orderBy("doc_id").collect()
      assert(out.map(_.getAs[String]("text_deduped")).toSeq ===
        distinctDocs, "chunk split + reassembly must invert on unique docs")
    }
  }

  test("salted join == plain join on random skew, any salts, any hot set") {
    import spark.implicits._
    val gen = for {
      hotRows <- Gen.choose(50, 300)
      salts <- Gen.choose(2, 16)
      cold <- Gen.listOfN(30, Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 999L)))
      rrows <- Gen.listOfN(25, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 999L)))
    } yield (hotRows, salts, cold, rrows)
    forAllSeeded(gen, 4) { case (hotRows, salts, cold, rrows) =>
      val left = ((1 to hotRows).map(i => (3L, 5000L + i)) ++ cold)
        .toDF("k", "lid")
      val right = rrows.toDF("k", "rid")
      val hot = graft.operators.SkewJoin.hotKeys(left, "k", minCount = 40)
      val salted = graft.operators.SkewJoin.saltedInner(
        left, right, "k", saltBy = col("lid"), salts = salts, hot = hot)
      val plain = left.join(right, Seq("k"))
      assert(salted.count() === plain.count())
      assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    }
  }

  test("kmv merge is associative and order-insensitive across shards") {
    import spark.implicits._
    forAllSeeded(Gen.listOfN(200, Gen.choose(0L, 500L)), 3) { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => ("g", s"v$v") }
        .toDF("g", "v")
      import graft.pipeline.{Sketches, Hashing}
      def shard(m: Long) = df.filter(Hashing.h60(col("v")) % 3 === m)
      val parts = (0L to 2L).map(m => Sketches.kmvMinima(shard(m), "g", col("v"), 8))
      val ab_c = Sketches.merge(Sketches.merge(parts(0), parts(1), "g", 8),
        parts(2), "g", 8).collect()
      val c_ab = Sketches.merge(parts(2),
        Sketches.merge(parts(1), parts(0), "g", 8), "g", 8).collect()
      val whole = Sketches.kmvMinima(df, "g", col("v"), 8).collect()
      def m(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(m(ab_c) === m(whole) && m(c_ab) === m(whole))
    }
  }

  test("as-of join equals the naive per-row backward match on random frames") {
    import spark.implicits._
    val gen = for {
      lrows <- Gen.listOfN(40, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 100L)))
      rrows <- Gen.listOfN(25, for {
        k <- Gen.choose(0L, 5L); t <- Gen.choose(0L, 100L)
        v <- Gen.choose(1L, 999L)
      } yield (k, t, v))
    } yield (lrows.distinct, rrows)
    forAllSeeded(gen, 5) { case (lrows, rrows0) =>
      // unique (k, ts) on the right: keep the max value (p31's tie rule)
      val rrows = rrows0.groupBy(r => (r._1, r._2))
        .map { case ((k, t), g) => (k, t, g.map(_._3).max) }.toList
      def ts(off: Long) = new Timestamp(1700000000000L + off * 1000L)
      val left = lrows.map { case (k, t) => (k, ts(t)) }.toDF("k", "ts")
      val right = rrows.map { case (k, t, v) => (k, ts(t), v) }
        .toDF("k", "ts", "v")
      val got = graft.operators.AsofJoin
        .backward(left, right, Seq("k"), "ts", Seq("v"))
        .select(col("k"), col("ts"), col("v")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sorted
      val want = lrows.map { case (k, t) =>
        val cand = rrows.filter(r => r._1 == k && r._2 <= t)
        val v = if (cand.isEmpty) -1L else cand.maxBy(_._2)._3
        (k, ts(t), v)
      }.sorted
      assert(got.toSeq === want.toSeq)
      // FORWARD: earliest right row at or after, same frames
      val gotF = graft.operators.AsofJoin
        .forward(left, right, Seq("k"), "ts", Seq("v"))
        .select(col("k"), col("ts"), col("v")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sorted
      val wantF = lrows.map { case (k, t) =>
        val cand = rrows.filter(r => r._1 == k && r._2 >= t)
        val v = if (cand.isEmpty) -1L else cand.minBy(_._2)._3
        (k, ts(t), v)
      }.sorted
      assert(gotF.toSeq === wantF.toSeq)
    }
  }

  test("bloom prune: no false negatives, pruned join == plain join") {
    import spark.implicits._
    import graft.operators.BloomPrune
    val gen = for {
      nLarge <- Gen.choose(100, 400)
      smallKeys <- Gen.listOfN(12, Gen.choose(0L, 500L))
      mExp <- Gen.oneOf(64, 256, 1024) // deliberately tiny → real FPs
      k <- Gen.choose(1, 4)
    } yield (nLarge, smallKeys.distinct, mExp, k)
    forAllSeeded(gen, 5) { case (nLarge, smallKeys, m, k) =>
      val large = (1 to nLarge).map(i => (i.toLong % 500L, i.toLong))
        .toDF("key", "payload").localCheckpoint()
      val small = smallKeys.map(kk => (kk, s"dim$kk")).toDF("key", "attr")
      val words = BloomPrune.bloomWords(small, col("key"), m, k)
      // NO FALSE NEGATIVES: every build key passes its own filter
      val misses = small.filter(
        !BloomPrune.mightContain(col("key"), words, m, k)).count()
      assert(misses === 0L, "a build key failed its own bloom filter")
      // and the pruned joins are SET-IDENTICAL to the plain ones —
      // false positives (guaranteed at m=64) die in the real join
      val pj = BloomPrune.prunedJoin(large, small, "key", m, k)
      val plain = large.join(small, Seq("key"))
      assert(pj.count() === plain.count())
      assert(pj.except(plain).isEmpty && plain.except(pj).isEmpty)
      val ps = BloomPrune.prunedSemiJoin(large, small, "key", m, k)
      val semi = large.join(small.select(col("key")).distinct(),
        Seq("key"), "left_semi")
      assert(ps.except(semi).isEmpty && semi.except(ps).isEmpty)
    }
  }

  test("bloom prune: cross-family keys (int vs decimal) stay set-identical") {
    import spark.implicits._
    import graft.operators.BloomPrune
    // round-5 ADVICE: int 5 hashed "5" while a decimal build key hashed
    // "5.00" — a silent false negative. The common-hash-type cast must
    // make the mixed-family join equal the plain (coercing) join.
    val large = (1 to 300).map(i => (i % 50, i.toLong)).toDF("key", "payload")
    val small = Seq(7, 13, 42).map(k => (BigDecimal(k).setScale(2), s"d$k"))
      .toDF("key", "attr")
    val plain = large.join(small, Seq("key"))
    assert(plain.count() > 0, "fixture must produce matches")
    val pj = BloomPrune.prunedJoin(large, small, "key", 256, 3)
    assert(pj.count() === plain.count())
    assert(pj.except(plain).isEmpty && plain.except(pj).isEmpty)
    // no hash-safe family (int vs string) → loud refusal, never a
    // silently-dropped row
    val strSmall = Seq(("7", "x")).toDF("key", "attr")
    intercept[IllegalArgumentException] {
      BloomPrune.prunedJoin(large, strSmall, "key")
    }
  }

  test("histogram merge is lossless and associative across shards") {
    import spark.implicits._
    import graft.pipeline.Sketches
    val gen = Gen.listOfN(120,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0L, 400L)))
    forAllSeeded(gen, 3) { rows =>
      val df = rows.toDF("g", "v").localCheckpoint()
      def shard(m: Long) = df.filter(col("v") % 3 === m)
      def hist(d: org.apache.spark.sql.DataFrame) =
        Sketches.histogram(d, "g", col("v"), binWidth = 25L)
      val whole = hist(df)
      val left = Sketches.histMerge(
        Sketches.histMerge(hist(shard(0)), hist(shard(1)), "g"),
        hist(shard(2)), "g")
      val right = Sketches.histMerge(hist(shard(0)),
        Sketches.histMerge(hist(shard(1)), hist(shard(2)), "g"), "g")
      for (m <- Seq(left, right)) {
        assert(m.except(whole).isEmpty && whole.except(m).isEmpty,
          "merged shard histograms must equal the whole-data histogram")
      }
      // and the quantiles drawn from merged sketches match the whole's
      val qa = Sketches.histQuantiles(left, "g", 25L).collect()
        .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val qb = Sketches.histQuantiles(whole, "g", 25L).collect()
        .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(qa === qb)
    }
  }

  test("connected components: star alternation is O(log n) rounds on a 1024-chain") {
    import spark.implicits._
    val n = 1024
    // path graph 0-1-2-…-1023: diameter n-1 — min-label propagation
    // would need ~n rounds; the star algorithm must stay logarithmic
    val edges = (0L until n - 1L).map(i => (i, i + 1)).toDF("i", "j")
    val nodes = (0L until n.toLong).toDF("doc_id")
    val (labels, rounds) = graft.pipeline.Dedup
      .ccStarsWithRounds(edges, nodes, "doc_id")
    assert(labels.filter(col("lbl") =!= 0L).isEmpty,
      "every chain node must label to the component minimum 0")
    assert(labels.count() === n.toLong)
    assert(rounds <= 16,
      s"chain of $n needs O(log n) star rounds, got $rounds (diameter ${n - 1})")
    // the public operator escalates from the min-label fast path to the
    // same star loop and must produce identical clusters
    val cc = graft.pipeline.Dedup
      .connectedComponents(edges, nodes, "doc_id", fastRounds = 2)
    assert(cc.filter(col("cluster") =!= 0L).isEmpty)
    assert(cc.filter(col("is_keeper")).count() === 1L)
  }

  test("connected components: random graphs match a driver-side union-find") {
    import spark.implicits._
    val gen = for {
      nNodes <- Gen.choose(5, 60)
      edges <- Gen.listOfN(40,
        Gen.zip(Gen.choose(0L, 59L), Gen.choose(0L, 59L)))
    } yield (nNodes.toLong,
      edges.filter { case (a, b) => a != b && a < nNodes && b < nNodes })
    forAllSeeded(gen, 5) { case (nNodes, edgeList) =>
      val nodes = (0L until nNodes).toDF("doc_id")
      val edges =
        if (edgeList.isEmpty) Seq.empty[(Long, Long)].toDF("i", "j")
        else edgeList.toDF("i", "j")
      // driver-side union-find oracle
      val parent = Array.tabulate(nNodes.toInt)(identity)
      def find(x: Int): Int = if (parent(x) == x) x
        else { parent(x) = find(parent(x)); parent(x) }
      edgeList.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until nNodes.toInt)
        .map(i => i.toLong -> {
          // component minimum = root under min-union
          var r = find(i); (0 until nNodes.toInt)
            .filter(j => find(j) == r).min.toLong
        }).toMap
      // both regimes must agree with the oracle
      for (fastRounds <- Seq(0, 50)) {
        val got = graft.pipeline.Dedup
          .connectedComponents(edges, nodes, "doc_id", fastRounds = fastRounds)
          .select(col("doc_id"), col("cluster")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === want, s"fastRounds=$fastRounds")
      }
    }
  }

  test("incremental connected components == batch on random edge splits") {
    import spark.implicits._
    val gen = for {
      nNodes <- Gen.choose(8, 60)
      edges <- Gen.listOfN(40,
        Gen.zip(Gen.choose(0L, 59L), Gen.choose(0L, 59L)))
      splitAt <- Gen.choose(0, 40)
    } yield (nNodes.toLong,
      edges.filter { case (a, b) => a != b && a < nNodes && b < nNodes },
      splitAt)
    forAllSeeded(gen, 5) { case (nNodes, edgeList, splitAt) =>
      val nodes = (0L until nNodes).toDF("doc_id")
      def df(es: Seq[(Long, Long)]) =
        if (es.isEmpty) Seq.empty[(Long, Long)].toDF("i", "j")
        else es.toDF("i", "j")
      val (first, second) = edgeList.splitAt(math.min(splitAt, edgeList.size))
      // batch truth over ALL edges vs: resolve the first batch, then
      // fold the second batch in incrementally
      val batch = graft.pipeline.Dedup
        .connectedComponents(df(edgeList), nodes, "doc_id")
        .select(col("doc_id"), col("cluster"), col("is_keeper")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val prior = graft.pipeline.Dedup
        .connectedComponents(df(first), nodes, "doc_id")
      val incr = graft.pipeline.Dedup
        .ccIncremental(prior, df(second), "doc_id")
        .select(col("doc_id"), col("cluster"), col("is_keeper")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(incr === batch)
    }
  }

  test("salted LEFT join == plain left join (unmatched probes survive once)") {
    import spark.implicits._
    val gen = for {
      hotRows <- Gen.choose(50, 300)
      salts <- Gen.choose(2, 16)
      cold <- Gen.listOfN(30, Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 999L)))
      // right side misses keys 5+ → genuine null-extension cases
      rrows <- Gen.listOfN(25, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 999L)))
    } yield (hotRows, salts, cold, rrows)
    forAllSeeded(gen, 4) { case (hotRows, salts, cold, rrows) =>
      val left = ((1 to hotRows).map(i => (3L, 5000L + i)) ++
        cold ++ Seq((8L, 1L), (9L, 2L))) // guaranteed unmatched keys
        .toDF("k", "lid")
      val right = rrows.toDF("k", "rid")
      val hot = graft.operators.SkewJoin.hotKeys(left, "k", minCount = 40)
      val salted = graft.operators.SkewJoin.saltedLeft(
        left, right, "k", saltBy = col("lid"), salts = salts, hot = hot)
      val plain = left.join(right, Seq("k"), "left")
      assert(salted.count() === plain.count())
      assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    }
  }

  test("sampled hot-key detection: scaled threshold finds true hot keys; join stays exact") {
    import spark.implicits._
    val gen = for {
      hotRows <- Gen.choose(200, 400)
      cold <- Gen.listOfN(40, Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 999L)))
      rrows <- Gen.listOfN(25, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 999L)))
    } yield (hotRows, cold, rrows)
    forAllSeeded(gen, 4) { case (hotRows, cold, rrows) =>
      val left = ((1 to hotRows).map(i => (3L, 5000L + i)) ++ cold)
        .toDF("k", "lid").localCheckpoint()
      val right = rrows.toDF("k", "rid")
      // the in-code prescription (SkewJoin.hotKeys doc): detect on a
      // deterministic Bernoulli sample with minCount scaled by the rate
      val ppm = 500000L
      val sample = graft.pipeline.Sampling
        .bernoulliPpm(left, "lid", ppm)
      val scaledMin = 40L * ppm / 1000000L
      val sampledHot = graft.operators.SkewJoin
        .hotKeys(sample, "k", minCount = scaledMin)
      val hotSet = sampledHot.collect().map(_.getLong(0)).toSet
      // a 200+-row key sampled at 50% concentrates far above 20: the
      // true hot key survives any of the seeded draws
      assert(hotSet.contains(3L),
        s"true hot key (count >= $hotRows) missing from sampled set $hotSet")
      // and whatever set the sample produced, the join stays exact —
      // the hot set is a performance hint, never a correctness input
      val salted = graft.operators.SkewJoin.saltedInner(
        left, right, "k", saltBy = col("lid"), salts = 8, hot = sampledHot)
      val plain = left.join(right, Seq("k"))
      assert(salted.count() === plain.count())
      assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    }
  }

  test("ivf-pq recall: full-cell budget recovers brute-force top-k " +
      "when true neighbors share the query's cell") {
    import spark.implicits._
    // clustered corpus by construction: ids 0-7 are the cluster centers
    // AND the sampled IVF codebook (ivfPqTopK samples ids < nCentroids),
    // members are tiny jitters of their center, so every vector's true
    // nearest neighbors live in its own cluster = its own IVF cell.
    // With candidates >= cell size the ADC shortlist cannot drop an
    // in-cell candidate, and the exact re-rank makes the composed
    // result EQUAL brute force — recall 1.0, scores included. This pins
    // the composition plumbing (cell restriction, shortlist, re-rank);
    // SCALE.md's round-6 IVF-PQ axis measured the lossy-budget regime.
    val dim = 16
    val nClusters = 8
    def center(c: Int): Array[Float] =
      Array.tabulate(dim)(j => if (j == 2 * c) 1.0f else 0.05f)
    val rows: Seq[(Long, Array[Float])] =
      (0 until nClusters).map(c => (c.toLong, center(c))) ++
        (8 until 104).map { id =>
          val c = id % nClusters
          val v = center(c).clone()
          // deterministic member jitter on the cluster's odd position
          v(2 * c + 1) = v(2 * c + 1) + ((id * 37) % 11).toFloat / 1000f
          (id.toLong, v)
        }
    val emb = rows.toDF("vec_id", "embedding").localCheckpoint()
    val queryId = 50L // cluster 2
    val k = 5
    val brute = graft.pipeline.Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", queryId, k)
      .select(col("vec_id"), graft.pipeline.TextOps.ppm(col("cos")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val composed = graft.pipeline.Similarity
      .ivfPqTopK(emb, "vec_id", "embedding", queryId, dim = dim,
        nCentroids = nClusters, m = 4, k = 4, iters = 1,
        candidates = 1000, topK = k)
      .select(col("vec_id"), graft.pipeline.TextOps.ppm(col("cos")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // sanity: the true neighbors really are in-cluster (else the test
    // would vacuously pass on a degenerate construction)
    assert(brute.forall { case (id, _) => id % nClusters == 2 || id == 2 },
      s"construction broken: brute top-k left the cluster: $brute")
    assert(composed === brute,
      s"composed $composed != brute $brute")
  }

  test("oph densification invariants on random shingle sets: dense, " +
      "set-determined, natural bins untouched, borrowed bins offset") {
    import spark.implicits._
    val m = graft.pipeline.Dedup.MinhashMod
    val k = 8
    val setGen = Gen.nonEmptyListOf(Gen.choose(0L, m - 1)).map(_.distinct)
    forAllSeeded(Gen.listOfN(12, setGen), 8) { sets =>
      val hsh = sets.zipWithIndex
        .map { case (sh, i) => (i.toLong, sh) }.toDF("doc", "sh")
      val sig = graft.pipeline.Dedup.ophSignaturesFromHashed(hsh, k)
        .orderBy("doc").collect().map(_.getSeq[Long](1))
      sets.zip(sig).foreach { case (sh, s) =>
        assert(s.length === k && s.forall(_ != null), "signature not dense")
        // replay the reference densification in plain Scala
        val bins = (0 until k).map(b =>
          sh.filter(h => h % k == b) match {
            case Nil => None; case xs => Some(xs.min)
          })
        val expected = (0 until k).map { b =>
          val off = (0 until k).find(o => bins((b + o) % k).isDefined).get
          bins((b + off) % k).get + off * m
        }
        assert(s === expected, s"sh=$sh")
      }
      // permutation-invariance: signatures depend on the SET only
      val shuffled = sets.zipWithIndex
        .map { case (sh, i) => (i.toLong, sh.reverse) }.toDF("doc", "sh")
      val sig2 = graft.pipeline.Dedup.ophSignaturesFromHashed(shuffled, k)
        .orderBy("doc").collect().map(_.getSeq[Long](1))
      assert(sig.map(_.toList).toSeq === sig2.map(_.toList).toSeq)
    }
  }

  test("incremental dedup partitions the pair set: batch splits compose " +
      "to the full pair list, probe-side restriction loses nothing") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val full = graft.pipeline.Dedup
      .minhashPairs(docs, "doc_id", "text", 3, 16, 4, 0.8)
      .select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (hsh, banded) = graft.pipeline.Dedup
      .signatureIndex(docs, "doc_id", "text", 3, 16, 4)
    // ANY split of the corpus into arrival batches unions to the full
    // pair set (each pair surfaces when its second member arrives)
    forAllSeeded(Gen.choose(2, 5), 3) { parts =>
      val probes = (0 until parts).map(p =>
        docs.filter(pmod(col("doc_id"), lit(parts)) === p).select("doc_id"))
      val unioned = probes.flatMap(p =>
        graft.pipeline.Dedup.probeIndex(hsh, banded, p, "doc_id", 0.8)
          .select("i", "j").collect()
          .map(r => (r.getLong(0), r.getLong(1))))
        .toSet
      assert(unioned === full, s"parts=$parts lost or invented pairs")
    }
  }

  test("rrfFusion gate+count == corpus-window reference on random " +
      "scores with ties, any k/topN/signal count") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 120)
      nSig <- Gen.choose(1, 3)
      k <- Gen.oneOf(0, 1, 60)
      topN <- Gen.oneOf(1, 5, 40, 200)
      // small value domain → heavy score ties, the tie-break hot path
      rows <- Gen.listOfN(n, Gen.listOfN(nSig, Gen.choose(-5L, 5L)))
    } yield (nSig, k, topN, rows.zipWithIndex.map { case (ss, i) =>
      (i.toLong, ss.padTo(3, 0L)) })
    forAllSeeded(gen, 8) { case (nSig, k, topN, rows) =>
      val df = rows.map { case (id, ss) => (id, ss(0), ss(1), ss(2)) }
        .toDF("id", "s0", "s1", "s2")
      val sigs = (0 until nSig).map(i => col(s"s$i"))
      val got = graft.pipeline.Sampling
        .rrfFusion(df, "id", sigs, k, topN)
        .collect().map(_.toSeq).toSeq
      val want = graft.pipeline.Sampling
        .rrfFusionWindowed(df, "id", sigs, k, topN)
        .collect().map(_.toSeq).toSeq
      assert(got === want,
        s"nSig=$nSig k=$k topN=$topN n=${rows.size}")
    }
  }

  test("prefixFilterPairs (PPJoin length+positional filters) == exact " +
      "inverted-index join on random hot-shingle corpora") {
    import spark.implicits._
    // tiny vocab → every shingle hot, heavy sharing and length spread:
    // the regime where an unsound length/positional prune would show
    val words = Vector("a", "b", "c", "d", "e")
    val gen = for {
      nDocs <- Gen.choose(4, 24)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(3, 14)
        ws <- Gen.listOfN(len, Gen.oneOf(words))
      } yield ws.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    forAllSeeded(gen, 6) { docs =>
      val df = docs.toDF("doc_id", "text")
      Seq(0.5, 0.8).foreach { t =>
        val exact = graft.pipeline.Dedup
          .jaccardPairs(df, "doc_id", "text", 2, t)
          .select("i", "j").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val pf = graft.pipeline.Dedup
          .prefixFilterPairs(df, "doc_id", "text", 2, t)
          .select("i", "j").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(pf === exact, s"t=$t docs=$docs")
      }
    }
  }

  test("verifyJaccardPairs size-ratio pre-filter is invisible: every " +
      "candidate pair scores exactly as the unfiltered formula, " +
      "including containment and boundary-ratio pairs") {
    import spark.implicits._
    // sets built to straddle the bound: heavy containment (inter=min,
    // where bound == jaccard EXACTLY — the equality edge the filter's
    // soundness argument leans on), near-threshold size ratios, empty
    // sets, identical sets
    val gen = for {
      nDocs <- Gen.choose(3, 14)
      sets <- Gen.listOfN(nDocs, for {
        base <- Gen.choose(0, 3)           // overlapping value pools
        len <- Gen.choose(0, 12)           // 0 => empty-set edge
        contain <- Gen.oneOf(true, false)  // containment chains
      } yield (0 until len).map(v =>
        if (contain) v.toLong else (base * 7 + v).toLong).toSeq)
    } yield sets.zipWithIndex.map { case (sh, i) => (i.toLong, sh.distinct) }
    forAllSeeded(gen, 8) { docs =>
      val hsh = docs.toDF("doc", "sh")
      val ids = docs.map(_._1)
      val cands = ids.flatMap(i => ids.filter(_ > i).map(j => (i, j)))
        .toDF("i", "j")
      Seq(0.5, 0.8).foreach { t =>
        val got = graft.pipeline.Dedup.verifyJaccardPairs(hsh, cands, t)
          .select("i", "j", "jaccard_ppm").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        // reference: floor-ppm jaccard per pair, no pre-filter
        val bySet = docs.toMap
        val want = ids.flatMap(i => ids.filter(_ > i).map { j =>
          val (a, b) = (bySet(i).toSet, bySet(j).toSet)
          val inter = (a & b).size.toLong
          val uni = a.size.toLong + b.size.toLong - inter
          val ppm =
            if (uni == 0L) None // NaN -> null -> filtered, both forms
            else Some(math.floor(
              inter.toDouble / uni.toDouble * 1000000.0d).toLong)
          (i, j, ppm)
        }).collect { case (i, j, Some(p)) if p >= (t * 1e6).toLong =>
          (i, j, p) }.toSet
        assert(got === want, s"t=$t docs=$docs")
      }
    }
  }

  test("rrfFusion: large-ish topN stays within the candidate bound; " +
      "a pathological topN fails loudly, not as a giant broadcast") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, i % 7, (i * 31) % 11))
      .toDF("id", "s0", "s1")
    val sigs = Seq(col("s0"), col("s1"))
    // topN=5000 with S=2, k=60: gate width M ≈ 10k, bound ≈ 25k — fine
    val got = graft.pipeline.Sampling
      .rrfFusion(df, "id", sigs, 60, 5000).collect().map(_.toSeq).toSeq
    val want = graft.pipeline.Sampling
      .rrfFusionWindowed(df, "id", sigs, 60, 5000)
      .collect().map(_.toSeq).toSeq
    assert(got === want)
    // topN=200000: S·M+topN ≈ 1.2e6 — the counting pass would
    // broadcast a million candidates; must fail loudly up front
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Sampling.rrfFusion(df, "id", sigs, 60, 200000)
    }
    assert(e.getMessage.contains("candidate bound"))
  }

  test("vocabCoverage distributed rank == single-window reference " +
      "on random token streams") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val gen = for {
      n <- Gen.choose(1, 60)
      cutoff <- Gen.oneOf(1L, 500000L, 900000L, 1000000L)
      docs <- Gen.listOfN(n,
        Gen.listOfN(8, Gen.oneOf("a", "b", "c", "dd", "e", "f", "gg"))
          .map(_.mkString(" ")))
    } yield (cutoff, docs.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    forAllSeeded(gen, 6) { case (cutoff, rows) =>
      val df = rows.toDF("doc_id", "text")
      val got = graft.pipeline.TextOps.vocabCoverage(df, "text", cutoff)
        .orderBy("rank").collect().map(_.toSeq).toSeq
      val freq = df
        .select(explode(graft.pipeline.TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("tf"))
      val w = Window.orderBy(col("tf").desc, col("token").asc)
      val want = freq
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("tf")).over(w))
        .withColumn("total", sum(col("tf")).over(Window.partitionBy()))
        .withColumn("cum_ppm", expr("cum * 1000000 DIV total"))
        .withColumn("prev_ppm", expr("(cum - tf) * 1000000 DIV total"))
        .filter(col("prev_ppm") < cutoff)
        .select(col("rank"), col("token"), col("tf"), col("cum_ppm"))
        .orderBy("rank").collect().map(_.toSeq).toSeq
      assert(got === want, s"cutoff=$cutoff n=${rows.size}")
    }
  }
}
