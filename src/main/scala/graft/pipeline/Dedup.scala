package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Hashing.h60

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact (hash groupBy), n-gram Jaccard (shingle
  * inverted-index join), MinHash + LSH banding (the scale path), and
  * SimHash (hamming-distance near-dup).
  *
  * Scale notes (the design target is ~10^9 documents):
  *   - signatures (shingle sets, MinHash arrays, SimHash words) are
  *     computed per-row with array expressions — no explode, no shuffle,
  *     codegen-friendly;
  *   - candidate generation shuffles only (key, doc_id) pairs: by shingle
  *     for exact Jaccard (quadratic in bucket size — use only below ~10^6
  *     docs), by LSH band signature for MinHash (bounded buckets, the
  *     100 TB path);
  *   - verification joins back on candidate pairs only, never all-pairs.
  */
object Dedup {

  /** Exact dedup: group identical payloads, keep the smallest doc_id.
    * One hash-shuffle on the content hash. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Corpus snapshot diff — the incremental-crawl audit: classify every
    * doc id across two snapshots as `added` (new id), `removed` (id
    * gone), `changed` (id present in both, content hash differs) or
    * `unchanged`. One full outer join on the id (hash-partitioned both
    * sides, the only exchange); content equality is by md5 so the diff
    * never carries document bodies through the shuffle — at 100 TB the
    * join rows are (id, 16-byte hash) pairs. The downstream contract:
    * `added ∪ changed` is exactly the work list an incremental pipeline
    * must reprocess. */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def hashed(df: DataFrame, as: String) =
      df.select(col(idCol), md5(col(textCol)).as(as))
    hashed(prev, "h_prev").join(hashed(cur, "h_cur"), Seq(idCol), "full")
      .select(col(idCol),
        when(col("h_prev").isNull, "added")
          .when(col("h_cur").isNull, "removed")
          .when(col("h_prev") === col("h_cur"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Distinct word n-gram shingles per document, as one array column —
    * `transform(sequence)` + `slice`, no explode. Documents shorter than
    * `n` tokens yield an empty set. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>")))
  }

  /** Exact n-gram Jaccard near-dup pairs (i < j, jaccard >= threshold).
    * Inverted-index self-join on shingle, then count intersections per
    * pair; |A∪B| = |A| + |B| − |A∩B|.
    *
    * SCALE HONESTY: this is the ORACLE BASELINE, not the production
    * dedup — the inverted-index join emits df² pair-rows for a shingle
    * appearing in df documents, so one hot shingle (boilerplate, a
    * common phrase) is a quadratic hazard at corpus scale. The
    * production path is MinHash+LSH (`minhashPairs`, p06), whose bucket
    * sizes are bounded by collision probability. `dfCap > 0` drops
    * postings for shingles with document frequency above the cap
    * (the p30/p47/p48 capped-postings rule): intersections then
    * UNDERCOUNT on pairs that share dropped shingles, making the
    * reported jaccard a lower bound — near-verbatim pairs still surface
    * because they share plenty of cold shingles. dfCap=0 keeps exact
    * oracle parity. Measured cost of each regime: SCALE.md "hot-shingle
    * stress". */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, dfCap: Long = 0L): DataFrame = {
    // materialize the shingle sets once (spread across cores first — the
    // source is often a single parquet partition): both sides of the
    // self-join and the pair-count aggregation reuse them
    val withSh = Partitioning.spread(df)
      .select(col(idCol).as("doc"), shingles(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))
      .localCheckpoint()
    // join on the 60-bit shingle hash, not the string — a quarter of the
    // shuffle bytes and a long-vs-long equality in the probe loop; the
    // oracle hashes identically, so results stay comparable
    val explodedAll = withSh
      .select(col("doc"), col("n_sh"), explode(col("sh")).as("s"))
      .select(col("doc"), col("n_sh"), h60(col("s")).as("shingle"))
    // optional hot-posting drop: one hash agg on the shingle key, then an
    // anti-join back. Both the agg and the anti-join shuffle on the SAME
    // key as the pair join below, and the hot set is at most
    // total-postings/dfCap rows — let AQE broadcast it when it is tiny
    // (the common case) rather than forcing a driver-side collect.
    val exploded =
      if (dfCap <= 0L) explodedAll
      else {
        val hot = explodedAll.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df")).filter(col("df") > dfCap)
          .select(col("shingle"))
        explodedAll.join(hot, Seq("shingle"), "left_anti")
      }
    // join via the USING-column form on distinctly-aliased sides — the
    // attribute-reference form (a("shingle") === b("shingle")) trips
    // Spark's trivially-true self-join ambiguity detection
    val a = exploded.select(col("doc").as("i"), col("n_sh").as("na"), col("shingle"))
    val b = exploded.select(col("doc").as("j"), col("n_sh").as("nb"), col("shingle"))
    a.join(b, Seq("shingle")).filter(col("i") < col("j"))
      // size-ratio pre-filter BEFORE the pair aggregation (guide §2.3 —
      // aggregate fewer rows): jaccard <= min(na,nb)/max(na,nb) (inter
      // <= min, uni >= max), so a pair whose size-ratio ppm is already
      // below the threshold can never pass the final filter — dropping
      // its posting rows here removes whole (i,j) groups, never splits
      // one. Same floor-ppm rounding as the final filter, so the bound
      // is conservative (see sizeRatioBound).
      .filter(sizeRatioBound(col("na"), col("nb")) >= (threshold * 1e6).toLong)
      .groupBy(col("i"), col("j"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard_ppm", TextOps.ppm(
        col("inter").cast("double") / col("uni").cast("double")))
      .filter(col("jaccard_ppm") >= (threshold * 1e6).toLong)
  }

  /** Mersenne-prime modulus for the universal hash families. */
  val MinhashMod: Long = 2147483647L

  /** Deterministic per-family multipliers/offsets (odd, < 2^31), shared
    * with the oracle-SQL generator. */
  def minhashA(i: Int): Long = 1103515245L * (i + 1) % MinhashMod | 1L
  def minhashB(i: Int): Long = 12345L * (2 * i + 1) % MinhashMod

  /** THE shared minhash frame: one row per doc with its hashed shingle
    * set `(doc, sh: array<long>)`, materialized once. Signatures AND
    * candidate verification both derive from it — hashing each shingle
    * exactly once (md5 is the expensive step) and shuffling long arrays
    * instead of string arrays (~4× fewer bytes). The hash runs in the
    * codegen'd explode→project path, NOT inside a higher-order function
    * (interpreted, an order of magnitude slower); the groupBy re-shuffle
    * on doc is one exchange of (doc, long) pairs. */
  def hashedShingles(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // spread docs across cores first: a single-file parquet source would
    // otherwise run the whole shingle+hash stage as one task
    Partitioning.spread(df)
      .select(col(idCol).as("doc"), explode(shingles(col(textCol), n)).as("s"))
      .select(col("doc"), (h60(col("s")) % MinhashMod).as("h"))
      .groupBy(col("doc")).agg(collect_set(col("h")).as("sh"))
      .localCheckpoint()
  }

  /** MinHash signatures m0..m{k-1} from a hashed-shingle frame: derive
    * the k family values with universal hashing `(base*a_i + b_i) mod p`
    * — integer-only math, exact in both engines. The explode→groupBy
    * round-trips on the same key the frame is already partitioned by, so
    * no second exchange. */
  def signaturesFromHashed(hsh: DataFrame, k: Int): DataFrame = {
    val exploded = hsh.select(col("doc"), explode(col("sh")).as("hbase"))
    val mins = (0 until k).map(i =>
      min((col("hbase") * minhashA(i) + minhashB(i)) % MinhashMod).as(s"m$i"))
    exploded.groupBy(col("doc")).agg(mins.head, mins.tail: _*)
  }

  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame =
    signaturesFromHashed(hashedShingles(df, idCol, textCol, n), k)

  /** MinHash+LSH candidate pairs (i < j), deduplicated across bands.
    * Band signature = h60 over `rowsPerBand` signature components. The
    * shuffle key is (band, signature) — bucket sizes are bounded by
    * collision probability, so this is the join that survives 10^9 docs.
    */
  def candidatesFromSignatures(
      sig: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    val bandStructs = array((0 until nBands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"m${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), h60(concat_ws(",", parts: _*)).as("sig"))
    }: _*)
    val banded = sig.select(col("doc"), explode(bandStructs).as("b"))
      .select(col("doc"), col("b.band").as("band"), col("b.sig").as("bsig"))
      .localCheckpoint() // reused by both sides of the bucket self-join
    val l = banded.select(col("doc").as("i"), col("band"), col("bsig"))
    val r = banded.select(col("doc").as("j"), col("band"), col("bsig"))
    l.join(r, Seq("band", "bsig")).filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
  }

  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int): DataFrame =
    candidatesFromSignatures(
      minhashSignatures(df, idCol, textCol, n, k), k, rowsPerBand)

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification of the
    * candidates only. Verification intersects the hashed long arrays
    * from the SAME materialized frame the signatures came from — nothing
    * is shingled or md5'd twice, and candidate rows carry long arrays,
    * not strings. */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val hsh = hashedShingles(df, idCol, textCol, n)
    val cands = candidatesFromSignatures(
      signaturesFromHashed(hsh, k), k, rowsPerBand)
    verifyJaccardPairs(hsh, cands, threshold)
  }

  /** Upper bound of a pair's jaccard_ppm from the two set sizes alone,
    * in the SAME floor-ppm rounding as the final filter:
    * J = inter/uni <= min(na,nb)/max(na,nb), because inter <= min and
    * uni = na+nb-inter >= max; the ratios are equal only when the
    * operands coincide (inter = min forces uni = max), so the two
    * floor(x*1e6) computations see the identical double there and the
    * bound can never under-report a passing pair. Used to skip the
    * O(|sh|) array intersect / the pair aggregation for candidates
    * whose sizes already rule them out. */
  def sizeRatioBound(na: Column, nb: Column): Column =
    TextOps.ppm(least(na, nb).cast("double") /
      greatest(na, nb).cast("double"))

  /** Exact-Jaccard verification of a candidate (i, j) frame against
    * the hashed-shingle frame — the shared tail of every LSH pair
    * pipeline (k-family, OPH, index probes; SCALE.md "LSH band/row
    * tuning grid" verified each grid cell's candidate frame through
    * it). Two doc-keyed joins to attach shingle sets, a size-ratio
    * pre-filter (guide §2.3 — do the cheap necessary test first; at
    * 0.8 it skips ~a third of candidate pairs), then the in-row
    * intersection ratio for the survivors. */
  def verifyJaccardPairs(hsh: DataFrame, cands: DataFrame,
      threshold: Double): DataFrame = {
    val withA = cands.join(
      hsh.select(col("doc").as("i"), col("sh").as("sha")), Seq("i"))
    val withB = withA.join(
      hsh.select(col("doc").as("j"), col("sh").as("shb")), Seq("j"))
    withB
      .withColumn("na", size(col("sha")).cast("long"))
      .withColumn("nb", size(col("shb")).cast("long"))
      // conservative by construction (sizeRatioBound): only pairs whose
      // jaccard_ppm could still reach the threshold pay the intersect
      .filter(sizeRatioBound(col("na"), col("nb")) >= (threshold * 1e6).toLong)
      .select(col("i"), col("j"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
        col("na"), col("nb"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard_ppm", TextOps.ppm(
        col("inter").cast("double") / col("uni").cast("double")))
      .filter(col("jaccard_ppm") >= (threshold * 1e6).toLong)
  }

  /** Near-dup-aware (leakage-safe) train/val/test split: hash the
    * CLUSTER label, not the document id, so every member of a near-dup
    * family lands in the same split. Splitting by doc id leaks — a
    * test document's near-verbatim twin trains the model on the test
    * set in all but name; this is the standard decontamination-by-
    * construction move, and the property a reviewer checks (all
    * members same split) is structural here, not statistical. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      trainPpm: Long, valPpm: Long, seed: Int = 0): DataFrame = {
    val labels = connectedComponents(pairs.select(col("i"), col("j")),
      docs.select(col(idCol)), idCol)
    Sampling.splitAssign(
      docs.join(labels.select(col(idCol), col("cluster")), Seq(idCol)),
      "cluster", trainPpm, valPpm, seed)
  }

  /** Prefix-filtering set-similarity join (AllPairs/PPJoin family,
    * Xiao et al.): EXACT Jaccard pairs without the full inverted-index
    * join — order every document's shingle set by global document
    * frequency (rarest first; any shared total order works, df-order
    * minimizes candidate fan-out), and emit only each set's
    * `s − ⌈t·s⌉ + 1`-prefix into the index. The prefix lemma
    * guarantees any pair with J ≥ t shares a prefix element, so
    * unlike MinHash-LSH this is LOSSLESS — same result as
    * [[jaccardPairs]] — while a hot boilerplate shingle (by
    * definition high-df, hence sorted last) almost never lands in a
    * prefix: the quadratic hazard of the naive index join is gone
    * without a recall tradeoff.
    *
    * Scale shape: the df table keys on the shingle hash
    * (vocab-bounded, map-side combined); the per-doc sort is an
    * in-row array sort; the candidate join shuffles only prefix
    * postings (a ~(1−t) fraction of the full index). No global rank
    * window — the (df, hash) struct IS the order, so nothing
    * single-partition touches the corpus.
    *
    * On top of the prefix lemma, the candidate join applies PPJoin's
    * two sound prunes (Xiao et al. §3): the LENGTH filter (J ≥ t
    * forces t·|x| ≤ |y| ≤ |x|/t — cross-size pairs never qualify) and
    * the POSITIONAL filter (a match at 1-based prefix positions
    * (p_x, p_y) caps the reachable overlap at 1 + min(|x|−p_x,
    * |y|−p_y), which must still reach α = ⌈t/(1+t)·(|x|+|y|)⌉). Both
    * prune only pairs that provably cannot reach the threshold, so
    * the output stays identical to [[jaccardPairs]] (PipelineSpec
    * pins set equality) — but for equal-size near-dups the positional
    * filter roughly halves the effective prefix (matches past
    * ~s/(1+1/t) positions cannot reach α), which halves the
    * pre-distinct candidate stream on exactly the verbatim-copy
    * corpora where every prefix token is hot (SCALE.md, round-10
    * prefix axis). Sizes are DISTINCT set sizes (the postings frame
    * dedups (doc, h) first) — inflated multiset sizes would make the
    * length filter unsound. */
  def prefixFilterPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold < 1)
    val ex = Partitioning.spread(df)
      .select(col(idCol).as("doc"), explode(shingles(col(textCol), n)).as("s"))
      .select(col("doc"), h60(col("s")).as("h"))
      .localCheckpoint() // df agg + set build + verification reuse it
    val dfc = ex.groupBy(col("h")).agg(count(lit(1)).as("hdf"))
    // in-row array_distinct: shingles() is already distinct per doc,
    // but an h60 collision could duplicate a hash — and the length
    // filter below is only sound on exact DISTINCT set sizes
    // (collision twins share (hdf, h), so the in-row dedup suffices;
    // no extra exchange)
    val sets = ex.join(dfc, Seq("h"))
      .groupBy(col("doc"))
      .agg(array_distinct(sort_array(
        collect_list(struct(col("hdf"), col("h"))))).as("rs"))
      .withColumn("s", size(col("rs")).cast("long"))
      .localCheckpoint() // prefix explode + both verify sides
    // prefix length s − ⌈t·s⌉ + 1, with ⌈t·s⌉ in exact integer math
    // for the rational thresholds the pipeline uses (t = num/den)
    val (num, den) = {
      val d = 10L; (math.round(threshold * d), d)
    }
    require(num.toDouble / den == threshold,
      s"threshold must be a multiple of 0.1, got $threshold")
    val pref = sets
      .withColumn("p",
        expr(s"int(s - ($num * s + $den - 1) DIV $den + 1)"))
      .select(col("doc"), col("s"),
        posexplode(expr("slice(rs, 1, p)")).as(Seq("pos0", "e")))
      .select(col("doc"), col("s"), (col("pos0") + 1).as("pos"),
        col("e.h").as("h"))
    val a = pref.select(col("doc").as("i"), col("h"),
      col("s").as("si"), col("pos").as("pi"))
    val b = pref.select(col("doc").as("j"), col("h"),
      col("s").as("sj"), col("pos").as("pj"))
    val cands = a.join(b, Seq("h")).filter(col("i") < col("j"))
      // length filter: t·si ≤ sj ∧ t·sj ≤ si (integer-exact)
      .filter(expr(s"$num * si <= $den * sj AND $num * sj <= $den * si"))
      // positional filter: reachable overlap ≥ α = ⌈t/(1+t)·(si+sj)⌉
      .filter(expr(
        s"1 + least(si - pi, sj - pj) >= " +
          s"($num * (si + sj) + ${num + den} - 1) DIV ${num + den}"))
      .select(col("i"), col("j")).distinct()
    val hs = sets.select(col("doc"),
      transform(col("rs"), x => x("h")).as("hset"))
    val withA = cands.join(
      hs.select(col("doc").as("i"), col("hset").as("sha")), Seq("i"))
    val withB = withA.join(
      hs.select(col("doc").as("j"), col("hset").as("shb")), Seq("j"))
    withB.select(col("i"), col("j"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
        size(col("sha")).cast("long").as("na"),
        size(col("shb")).cast("long").as("nb"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard_ppm", TextOps.ppm(
        col("inter").cast("double") / col("uni").cast("double")))
      .filter(col("jaccard_ppm") >= (threshold * 1e6).toLong)
  }

  /** Incremental (new-batch-vs-corpus) MinHash near-dup pairs — the
    * daily-ingest shape: only `newDocs` ids probe the LSH buckets, the
    * standing corpus contributes its banded signatures without being
    * re-paired against itself. A full [[minhashPairs]] on corpus+batch
    * re-verifies every historical pair on every ingest (O(corpus²)
    * candidate work per day); this form's candidate join is
    * batch-sized on the probe side, which is what makes per-batch
    * dedup affordable at a 100 TB standing corpus — in production the
    * corpus-side signature frame is the persisted artifact, computed
    * once per doc ever.
    *
    * Output is normalized to i < j over pairs touching at least one
    * new doc (new-new pairs once, new-old pairs once), verified with
    * exact Jaccard on the shared hashed-shingle frame like every other
    * pair operator here. */
  def minhashPairsIncremental(df: DataFrame, idCol: String,
      textCol: String, newDocs: DataFrame, n: Int, k: Int,
      rowsPerBand: Int, threshold: Double): DataFrame = {
    val (hsh, banded) = signatureIndex(df, idCol, textCol, n, k, rowsPerBand)
    probeIndex(hsh, banded, newDocs, idCol, threshold)
  }

  /** The standing corpus's signature index — the once-ever artifact the
    * incremental and streaming dedup forms probe: the hashed-shingle
    * frame (doc, sh) for exact-Jaccard verification, and the banded LSH
    * frame (doc, band, bsig) for candidate generation. Both are
    * materialized (`localCheckpoint`); in production they'd be
    * persisted tables keyed by doc, appended as docs are admitted. */
  def signatureIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int): (DataFrame, DataFrame) = {
    val hsh = hashedShingles(df, idCol, textCol, n)
    val sig = signaturesFromHashed(hsh, k)
    val nBands = k / rowsPerBand
    val bandStructs = array((0 until nBands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"m${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), h60(concat_ws(",", parts: _*)).as("sig"))
    }: _*)
    val banded = sig.select(col("doc"), explode(bandStructs).as("b"))
      .select(col("doc"), col("b.band").as("band"), col("b.sig").as("bsig"))
      .localCheckpoint() // probe side filters it, build side keeps it all
    (hsh, banded)
  }

  /** Persist a [[signatureIndex]] as bucketed tables — the durable
    * form the daily-ingest pipeline actually keeps: the hashed-shingle
    * frame bucketed by `doc` (the verification joins key on doc ids)
    * and the banded frame bucketed by `bsig` (the candidate join keys
    * on (band, bsig); a partitioning on the bsig subset satisfies the
    * join's clustering requirement). With this layout a probe NEVER
    * reshuffles the index: the candidate join reads co-bucketed
    * parquet and only the batch-sized probe/candidate frames move —
    * at a 100 TB standing corpus, that is the entire point.
    * PipelineSpec pins both the loaded-probe equality and the
    * no-index-exchange plan shape. */
  def saveSignatureIndex(hsh: DataFrame, banded: DataFrame,
      name: String, buckets: Int = 8): Unit = {
    val spark = hsh.sparkSession
    // drop locations too: DROP alone is not rerun-safe across JVMs
    // (a fresh in-memory catalog doesn't know the prior run's table,
    // the orphaned dir survives, saveAsTable fails loudly)
    Seq(s"${name}_sh", s"${name}_bands")
      .foreach(t => Similarity.dropManagedTable(spark, t))
    hsh.write.bucketBy(buckets, "doc").sortBy("doc")
      .format("parquet").saveAsTable(s"${name}_sh")
    banded.write.bucketBy(buckets, "bsig").sortBy("bsig")
      .format("parquet").saveAsTable(s"${name}_bands")
  }

  /** Reload a persisted signature index for [[probeIndex]]. */
  def loadSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): (DataFrame, DataFrame) =
    (spark.table(s"${name}_sh"), spark.table(s"${name}_bands"))

  private val shSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sh",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType)),
    org.apache.spark.sql.types.StructField("srvid",
      org.apache.spark.sql.types.IntegerType)))
  private val bandsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("bsig",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("srvid",
      org.apache.spark.sql.types.IntegerType)))

  private val sigParamsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("rows_per_band",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("srvid",
      org.apache.spark.sql.types.IntegerType)))

  /** Persist a signature index THROUGH THE GOVERNED STORE (datasource
    * `powa_index_<name>`, tiers `sh` + `bands` + `params`) — the
    * governed sibling of [[saveSignatureIndex]]: AtomicSwap-committed
    * per-srvid replacement, manifest-pinned reads, srvid tenancy, and
    * the powa_grant ACL at the catalog surface
    * (`AccessControl.isIndexObject`; the reference grants every
    * extension-owned relation, powa--5.2.0.sql:7533-7655). The index
    * GEOMETRY (n, k, rowsPerBand) is persisted in the `params` tier —
    * it is a property of the index, not of the ingest job, and
    * [[appendSignatureIndexStore]] reads it back so a drifting caller
    * cannot silently append incomparable signatures (the codebook
    * rule of the IVF sibling). The store has no bucketed layout, so
    * [[probeIndexStore]] replaces the co-bucketed join with a
    * broadcast of the batch-bounded probe side — the index is SCANNED
    * once and never shuffled, the same no-index-exchange bound by a
    * different mechanism. */
  def saveSignatureIndexStore(docs: DataFrame, idCol: String,
      textCol: String, n: Int, k: Int, rowsPerBand: Int,
      root: String, name: String, srvid: Int): Unit = {
    Similarity.requireIndexName(name)
    val spark = docs.sparkSession
    val (hsh, banded) = signatureIndex(docs, idCol, textCol,
      n, k, rowsPerBand)
    val store = new graft.core.Store(spark, root)
    val ds = s"powa_index_$name"
    // single-mutator fence — see graft.core.MutationLock: every index
    // mutation entry point serializes per (index, srvid)
    graft.core.MutationLock.withPartitionLock(root, ds, srvid) {
      store.overwritePartition(ds, "sh", srvid,
        hsh.select(col("doc").cast("long").as("doc"), col("sh")))
      store.overwritePartition(ds, "bands", srvid,
        banded.select(col("doc").cast("long").as("doc"),
          col("band").cast("int").as("band"), col("bsig")))
      import spark.implicits._
      store.overwritePartition(ds, "params", srvid,
        Seq((n, k, rowsPerBand)).toDF("n", "k", "rows_per_band"))
    }
  }

  /** ADMIT a new document batch into a standing store-resident
    * signature index — the daily-ingest form the [[signatureIndex]]
    * scaladoc promises ("appended as docs are admitted"): the batch's
    * hashed-shingle and banded frames are computed with the index's
    * PERSISTED (n, k, rowsPerBand) geometry (a different banding would
    * make old and new signatures silently incomparable — the
    * parameters are read from the `params` tier, never trusted from
    * the caller) and committed through the store's batch-append
    * protocol (atomic rename + manifest republish: concurrent probes
    * see the complete pre- or post-batch index). Cost is batch-sized;
    * nothing existing is rewritten. */
  def appendSignatureIndexStore(newDocs: DataFrame, idCol: String,
      textCol: String, root: String, name: String, srvid: Int): Unit = {
    Similarity.requireIndexName(name)
    val spark = newDocs.sparkSession
    // the whole admission — params read through batch commit — holds
    // the index's mutation lock (lost-batch race: MutationLock scaladoc)
    graft.core.MutationLock.withPartitionLock(
        root, s"powa_index_$name", srvid) {
      val store = new graft.core.Store(spark, root)
      val ds = s"powa_index_$name"
      val params = store.readV2(ds, "params", sigParamsSchema)
        .filter(col("srvid") === srvid).collect()
      require(params.nonEmpty,
        s"appendSignatureIndexStore: no params for index '$name' srvid " +
          s"$srvid — build with saveSignatureIndexStore first")
      val p = params.head
      val (hsh, banded) = signatureIndex(newDocs, idCol, textCol,
        p.getAs[Int]("n"), p.getAs[Int]("k"), p.getAs[Int]("rows_per_band"))
      store.appendPartition(ds, "sh", srvid,
        hsh.select(col("doc").cast("long").as("doc"), col("sh")))
      store.appendPartition(ds, "bands", srvid,
        banded.select(col("doc").cast("long").as("doc"),
          col("band").cast("int").as("band"), col("bsig")))
    }
  }

  /** Compact a store-resident signature index partition: repeated
    * admissions ([[appendSignatureIndexStore]]) leave one small file
    * per (append × tier); fold each tier back to
    * ceil(rows / targetRowsPerFile) range-partitioned files with ONE
    * atomic swap per tier — rows unchanged, probes see the complete
    * old or new generation. The doc/bsig range layout keeps each
    * file's key range tight for future skip indexes; sizing by rows
    * (one count per tier, admin-path) approximates the
    * one-file-per-~128 MB rule. */
  def compactSignatureIndexStore(
      spark: org.apache.spark.sql.SparkSession, root: String,
      name: String, srvid: Int,
      targetRowsPerFile: Long = 4000000L): Unit = {
    require(targetRowsPerFile >= 1, "targetRowsPerFile must be >= 1")
    Similarity.requireIndexName(name) // before the name-derived lock path
    // lock BEFORE the pinned read — the fold and its swap are one
    // critical section (MutationLock scaladoc)
    graft.core.MutationLock.withPartitionLock(
        root, s"powa_index_$name", srvid) {
      val (hsh, banded) = loadSignatureIndexStore(spark, root, name, srvid)
      val store = new graft.core.Store(spark, root)
      val ds = s"powa_index_$name"
      def parts(n: Long): Int =
        math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      store.overwritePartition(ds, "sh", srvid,
        hsh.repartitionByRange(parts(hsh.count()), col("doc")))
      store.overwritePartition(ds, "bands", srvid,
        banded.repartitionByRange(parts(banded.count()), col("bsig")))
    }
  }

  /** Reload a store-resident signature index ([[saveSignatureIndexStore]])
    * for [[probeIndexStore]]: both tiers come through the DSv2 scan —
    * manifest-pinned listing, srvid pruned at planning time. */
  def loadSignatureIndexStore(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int): (DataFrame, DataFrame) = {
    Similarity.requireIndexName(name)
    val store = new graft.core.Store(spark, root)
    val ds = s"powa_index_$name"
    (store.readV2(ds, "sh", shSchema)
       .filter(col("srvid") === srvid).select(col("doc"), col("sh")),
     store.readV2(ds, "bands", bandsSchema)
       .filter(col("srvid") === srvid)
       .select(col("doc"), col("band"), col("bsig")))
  }

  /** LSH bucket-skew HEALTH report for a store-resident signature
    * index — the family's [[graft.pipeline.Similarity.ivfIndexHealth]]
    * counterpart: per band, the row count, bucket count, and the
    * LARGEST bucket. A probe's candidate cost in bucket B is |B|, so
    * `max_bucket / (n_docs / n_buckets)` is the banding-skew factor:
    * a boilerplate-heavy corpus collapses into a few giant buckets
    * and probes degrade toward corpus scans. Unlike the IVF family
    * there is deliberately NO rebalance-in-place: banding is
    * content-hash-keyed, so admission cannot drift it — only the
    * corpus itself can; the fixes are different banding geometry (a
    * rebuild) or upstream boilerplate stripping ([[graft.pipeline
    * .TextOps.stripBoilerplate]]). One bands-tier aggregate
    * (map-side combined), band-count-bounded result. */
  def signatureIndexHealth(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int): DataFrame = {
    Similarity.requireIndexName(name)
    val store = new graft.core.Store(spark, root)
    // a missing/mistyped index must fail loudly like the IVF/PQ health
    // reports do, not return a silently empty (= "healthy") report:
    // probe the params tier first — it exists iff the index was built
    require(store.readV2(s"powa_index_$name", "params", sigParamsSchema)
        .filter(col("srvid") === srvid).limit(1).count() > 0,
      s"signatureIndexHealth: no params for index '$name' srvid $srvid " +
        "— build with saveSignatureIndexStore first")
    store.readV2(s"powa_index_$name", "bands", bandsSchema)
      .filter(col("srvid") === srvid)
      .groupBy(col("band"), col("bsig")).agg(count(lit(1)).as("sz"))
      .groupBy(col("band").cast("long").as("band"))
      .agg(sum(col("sz")).as("n_docs"),
        count(lit(1)).as("n_buckets"),
        max(col("sz")).as("max_bucket"))
      .orderBy(col("band"))
  }

  /** Probe a STORE-RESIDENT signature index with a batch of arriving
    * doc ids — [[probeIndex]]'s semantics with the unbucketed store
    * layout's scale shape: the probe side (the batch's own bucket
    * rows) and the candidate pair set are batch-bounded, so both are
    * BROADCAST and the corpus-sized index frames are scanned exactly
    * once each with zero exchanges — at a 100 TB standing corpus the
    * per-ingest cost is one index scan + batch-sized joins, matching
    * the bucketed variant's no-index-shuffle bound. */
  def probeIndexStore(hsh: DataFrame, banded: DataFrame,
      newDocs: DataFrame, idCol: String, threshold: Double): DataFrame = {
    val probe = banded.join(
        broadcast(newDocs.select(col(idCol).cast("long").as("doc"))),
        Seq("doc"), "left_semi")
      .select(col("doc").as("a"), col("band"), col("bsig"))
      .localCheckpoint() // batch-bounded by contract
    val build = banded.select(col("doc").as("b"), col("band"), col("bsig"))
    val cands = build.join(broadcast(probe), Seq("band", "bsig"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("i"),
        greatest(col("a"), col("b")).as("j"))
      .distinct()
      .localCheckpoint() // candidate pairs: batch-bounded
    // verification touches only candidate docs: semi-join the shingle
    // frame down to them (broadcast — candidate-bounded) so the
    // corpus-sized sh tier is scanned once, never shuffled
    val candDocs = cands.select(col("i").as("doc"))
      .union(cands.select(col("j").as("doc"))).distinct()
    val hshSmall = hsh.join(broadcast(candDocs), Seq("doc"), "left_semi")
    verifyJaccardPairs(hshSmall, cands, threshold)
  }

  /** Probe a [[signatureIndex]] with a batch of arriving doc ids:
    * LSH-bucket candidates touching the batch, verified with exact
    * Jaccard — the per-ingest step of incremental dedup. The probe
    * side is batch-sized (semi-join on the broadcast id set); the
    * index contributes its buckets without being re-paired against
    * itself. */
  def probeIndex(hsh: DataFrame, banded: DataFrame, newDocs: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    val probe = banded.join(
      broadcast(newDocs.select(col(idCol).as("doc"))), Seq("doc"), "left_semi")
      .select(col("doc").as("a"), col("band"), col("bsig"))
    val build = banded.select(col("doc").as("b"), col("band"), col("bsig"))
    val cands = probe.join(build, Seq("band", "bsig"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("i"),
        greatest(col("a"), col("b")).as("j"))
      .distinct()
    verifyJaccardPairs(hsh, cands, threshold)
  }

  /** Exact-substring duplicate pairs — the distributed shape of
    * suffix-array training-data dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": find documents
    * sharing a verbatim run of ≥ k tokens). A suffix array is a
    * single-node structure; the scalable equivalent is positional
    * k-token windows joined on their 60-bit hash:
    *
    *   - every document emits (pos, hash(window)) pairs — one
    *     projection + posexplode, no pre-shuffle;
    *   - the inverted-index self-join on the hash yields matched
    *     position pairs (i, j, pa, pb);
    *   - matches on one diagonal (pa − pb constant) with CONSECUTIVE
    *     positions are one shared run: grouping by the island key
    *     `pa − row_number()` (per (i,j,diagonal), ordered by pa)
    *     collapses each run, and `max(run) + k − 1` is exactly the
    *     longest common token substring (when ≥ k).
    *
    * Cost: the join shuffles (hash, doc, pos) triples; the island
    * window shuffles matched pairs only. Like [[jaccardPairs]]' shingle
    * join, a window hash occurring in d documents fans out O(d²) —
    * `maxDf` drops boilerplate windows above that document frequency
    * (the standard inverted-index skew guard; dropped windows can only
    * lose pairs whose every shared run is boilerplate). */
  def substringPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      maxDf: Option[Int] = None): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val wins = Partitioning.spread(df)
      .select(col(idCol).as("doc"),
        posexplode(when(size(toks) >= k,
          transform(sequence(lit(0), size(toks) - k),
            i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
          .otherwise(array().cast("array<string>"))))
      .select(col("doc"), col("pos"), h60(col("col")).as("h"))
    val filtered = maxDf match {
      case Some(m) => wins.join(
        wins.groupBy(col("h")).agg(count_distinct(col("doc")).as("df"))
          .filter(col("df") > m).select(col("h")),
        Seq("h"), "left_anti")
      case None => wins
    }
    val a = filtered.select(col("doc").as("i"), col("pos").as("pa"), col("h"))
    val b = filtered.select(col("doc").as("j"), col("pos").as("pb"), col("h"))
    // the island window partitions by (i, j) ONLY — diag rides in the
    // ORDER — so both downstream groupBys (keys ⊇ (i, j)) reuse its
    // exchange; a (i, j, diag)-partitioned window would force the final
    // per-pair aggregate to re-shuffle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("i"), col("j")).orderBy(col("diag"), col("pa"))
    val prevDiag = lag(col("diag"), 1).over(w)
    val prevPa = lag(col("pa"), 1).over(w)
    val isNew = when(prevDiag.isNull || prevDiag =!= col("diag") ||
      prevPa =!= col("pa") - 1, 1L).otherwise(0L)
    a.join(b, Seq("h")).filter(col("i") < col("j"))
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("island", sum(isNew).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("i"), col("j"), col("island"))
      .agg(count(lit(1)).as("run_win"))
      .groupBy(col("i"), col("j"))
      .agg((max(col("run_win")) + lit(k - 1).cast("long")).as("longest_run"),
        sum(col("run_win")).as("shared_windows"))
  }

  /** Resolve near-dup PAIRS into dedup DECISIONS: connected components
    * over the pair graph, labeling every document with the minimum doc
    * id of its component (the canonical keeper).
    *
    * Two regimes, auto-selected in one loop:
    *   - FAST PATH (min-label propagation): each round every node takes
    *     the smallest label among itself and its neighbors; converges in
    *     graph-diameter rounds, each round one join + one min-aggregate.
    *     Near-dup components are dense and shallow (diameter ~2-3), so
    *     this usually finishes in `fastRounds`.
    *   - DEEP-GRAPH PATH (large-star / small-star alternation, Kiveris
    *     et al. 2014 "Connected Components in MapReduce and Beyond"):
    *     if min-label has not converged after `fastRounds`, the loop
    *     escalates to the O(log n)-round star algorithm — the shape that
    *     survives adversarial containment/template CHAINS, where
    *     diameter ≈ component size and min-label would take linearly
    *     many rounds. The star phase is seeded with the label links the
    *     fast path already learned (lbl(v) is always in v's component,
    *     so adding (v, lbl(v)) edges preserves components and banks the
    *     progress).
    * Driver only ever sees converged flags and round counts, never data.
    */
  def connectedComponents(
      edges: DataFrame, nodes: DataFrame, idCol: String,
      fastRounds: Int = 3): DataFrame = {
    val sym = edges.select(col("i").as("a"), col("j").as("b"))
      .union(edges.select(col("j").as("a"), col("i").as("b")))
      .localCheckpoint()
    var labels = nodes.select(col(idCol).as("id"), col(idCol).as("lbl"))
      .localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < fastRounds) {
      val prop = sym
        .join(labels.select(col("id").as("a"), col("lbl").as("albl")), Seq("a"))
        .groupBy(col("b").as("id")).agg(min(col("albl")).as("nlbl"))
      val next = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      changed = next
        .join(labels.select(col("id"), col("lbl").as("old")), Seq("id"))
        .filter(col("lbl") =!= col("old")).count()
      labels = next
      round += 1
    }
    val resolved = if (changed == 0) labels else {
      // deep graph: escalate to star alternation over the original edges
      // plus the shortcut links min-label already established
      val seed = edges.select(col("i"), col("j")).union(
        labels.filter(col("id") =!= col("lbl"))
          .select(col("id").as("i"), col("lbl").as("j")))
      ccStarsWithRounds(seed, nodes, idCol)._1
    }
    resolved.select(col("id").as(idCol), col("lbl").as("cluster"),
      (col("id") === col("lbl")).as("is_keeper"))
  }

  /** One large-star round: every node connects its strictly LARGER
    * neighbors to the minimum of its closed neighborhood. Shrinks long
    * tails toward minima; preserves connectivity (Kiveris et al.,
    * Lemma 1). One symmetrize-union, one min-aggregate, one join. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(mins, Seq("u")).filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round: every node connects itself and its SMALLER
    * neighbors to the minimum among them. Flattens the two-level trees
    * large-star leaves behind into stars. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
    dir.join(mins, Seq("u"))
      .select(explode(array(
        struct(col("v").as("a"), col("m").as("b")),
        struct(col("u").as("a"), col("m").as("b")))).as("e"))
      .select(col("e.a").as("u"), col("e.b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Large-star/small-star alternation to convergence: returns every
    * node's component-minimum label plus the number of alternation
    * rounds taken — O(log n) rounds even on a path graph of length n,
    * vs the diameter-many rounds of min-label propagation (PropertySpec
    * drives a 1024-node chain through it and counts the rounds). At
    * convergence the edge set is a star forest rooted at each
    * component's minimum id. */
  /** (edge count, order-independent edge checksum) in ONE cheap job
    * over a materialized edge set — the convergence fast path's
    * fingerprint. Inequality PROVES the sets differ; equality only
    * licenses running the authoritative set compare. */
  private def edgeFingerprint(e: DataFrame): (Long, Long) = {
    // XOR-fold, not SUM: order-independent like sum but cannot hit the
    // ANSI long-overflow error; duplicate-pair cancellation is moot on
    // a distinct()'d edge set
    val r = e.agg(count(lit(1)).as("n"),
      coalesce(call_function("bit_xor", xxhash64(col("u"), col("v"))),
        lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  private[graft] def ccStarsWithRounds(edges: DataFrame, nodes: DataFrame,
      idCol: String): (DataFrame, Int) = {
    var e = edges.select(col("i").as("u"), col("j").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var rounds = 0
    var done = e.isEmpty
    var fp = if (done) (0L, 0L) else edgeFingerprint(e)
    while (!done) {
      // ONE materialization per round: the composed small(large(e)) plan
      // references largeStar's output twice (self-join), but those are
      // identical subplans — exchange reuse computes it once, so fusing
      // saves a whole checkpoint job per round. At corpus scale the
      // rounds are shuffle-bound and this is neutral; at the per-batch
      // incremental-fold scale (StreamCc: label frames of 10^3..10^4
      // rows) each round is JOB-SCHEDULING-bound and dropping the job
      // is a measured win (SCALE.md "the p69 streaming-CC floor,
      // decomposed", round 12: the 4-trigger stream 9.8→7.1 s, 4 bare
      // folds 6.6→5.8 s, union fold 2.5→2.0 s; the remaining floor is
      // the seed/fingerprint/label jobs per fold — see NOTES r12).
      val next = smallStar(largeStar(e)).localCheckpoint()
      rounds += 1
      // convergence fast path (r6 VERDICT item 7): in the common
      // shrinking case the (count, checksum) fingerprint differs and
      // the round costs ONE tiny aggregate on the already-materialized
      // set instead of two full exceptAll compares. Only a fingerprint
      // MATCH — typically the single final round — pays for the
      // authoritative set-equality check, so a hash collision can
      // never declare a false convergence.
      val nfp = edgeFingerprint(next)
      done = fp == nfp &&
        next.exceptAll(e).isEmpty && e.exceptAll(next).isEmpty
      fp = nfp
      e = next
    }
    val labels = nodes.select(col(idCol).as("id"))
      .join(e.groupBy(col("u").as("id")).agg(min(col("v")).as("root")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("lbl"))
    (labels, rounds)
  }

  /** Incremental connected components — the batch-append/streaming
    * regime (r6 VERDICT item 6): a pipeline that already resolved its
    * corpus into components gets NEW near-dup edges (a fresh ingest
    * batch) and must not re-run CC from the raw pair list. The existing
    * labeling IS a star forest (every node links its component
    * minimum), so seeding the alternation with those label links plus
    * the new edges banks all prior convergence work: merging stars is
    * depth-≤2 tree flattening, and the round count is O(log merged
    * component size) — independent of how many rounds the original
    * corpus took (SCALE.md's round-6 axes measure it; PropertySpec pins
    * incremental == batch on random edge splits).
    *
    * `labels` is [[connectedComponents]] output (idCol, cluster, …);
    * `newEdges` is an (i, j) pair list that may introduce unseen ids.
    * Returns the same (idCol, cluster, is_keeper) shape over the union
    * of labeled nodes and new endpoints. */
  def ccIncremental(labels: DataFrame, newEdges: DataFrame,
      idCol: String): DataFrame = {
    val prior = labels.select(col(idCol).as("id"), col("cluster").as("lbl"))
    val seed = prior.filter(col("id") =!= col("lbl"))
      .select(col("id").as("i"), col("lbl").as("j"))
      .union(newEdges.select(col("i"), col("j")))
    val nodes = prior.select(col("id"))
      .union(newEdges.select(col("i").as("id")))
      .union(newEdges.select(col("j").as("id")))
      .distinct()
    ccStarsWithRounds(seed, nodes, "id")._1
      .select(col("id").as(idCol), col("lbl").as("cluster"),
        (col("id") === col("lbl")).as("is_keeper"))
  }

  /** Near-dup removal end-to-end — the operation a training pipeline
    * actually ships: resolve the near-dup pair list into clusters
    * ([[connectedComponents]]), keep the min-id canonical document per
    * cluster, and return the surviving rows of `docs` (every singleton
    * is its own keeper). The final step is a left-semi join on the id —
    * broadcastable whenever the keeper set of *clustered* docs is small
    * relative to the corpus, which is the common case. */
  def removeNearDups(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val keepers = connectedComponents(pairs.select(col("i"), col("j")),
        docs, idCol)
      .filter(col("is_keeper"))
    docs.join(keepers.select(col(idCol)), Seq(idCol), "left_semi")
  }

  /** Near-dup removal keeping the BEST row of each cluster instead of
    * the minimum id — the form curation actually wants ("keep the
    * longest / cleanest / highest-classifier copy of each near-dup
    * family"). `priority` is evaluated on `docs` and ranked DESCENDING
    * with the id as the deterministic tiebreak, so the keeper is
    * argmax(priority, min id on ties) per component. Cost over
    * [[removeNearDups]]: one extra rank window keyed on the cluster
    * label (components are near-dup families — small and numerous, a
    * well-spread window key). */
  def removeNearDupsBy(docs: DataFrame, idCol: String,
      pairs: DataFrame, priority: Column): DataFrame = {
    val labels = connectedComponents(pairs.select(col("i"), col("j")),
      docs.select(col(idCol)), idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(priority.desc, col(idCol).asc)
    docs.join(labels.select(col(idCol), col("cluster")), Seq(idCol))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk", "cluster")
  }

  /** Provenance record per near-dup family — the audit artifact a
    * curation run keeps AFTER [[removeNearDups]] throws rows away: for
    * every multi-member cluster, the keeper, the full sorted member
    * list, and the distinct sources the family drew from. This is what
    * answers "why is doc X gone" and "which crawls feed duplicate
    * families" months later, so it must be produced in the same pass
    * that dedups, not reconstructed.
    *
    * Shape: the CC labeling ([[connectedComponents]]) plus ONE
    * aggregate keyed on the cluster label. Clusters are near-dup
    * families — small and numerous — so collect_list is bounded by the
    * family size, never the corpus; the singleton majority is filtered
    * out BEFORE the collect by the n_members≥2 having-clause pushed
    * into a count-only pre-aggregate on the same key (no wide rows for
    * the 95% of docs that are their own cluster). */
  def clusterProvenance(docs: DataFrame, idCol: String,
      sourceCol: String, pairs: DataFrame): DataFrame = {
    val labels = connectedComponents(pairs.select(col("i"), col("j")),
      docs.select(col(idCol)), idCol)
    val labeled = docs.select(col(idCol), col(sourceCol))
      .join(labels.select(col(idCol), col("cluster")), Seq(idCol))
    // families only: count-first on the same key, then semi-join — the
    // collect_list below never materializes singleton arrays
    val families = labeled.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    labeled.join(families, Seq("cluster"))
      .groupBy(col("cluster"), col("n_members"))
      .agg(min(col(idCol)).as("keeper"),
        sort_array(collect_list(col(idCol))).as("members"),
        sort_array(array_distinct(collect_list(col(sourceCol))))
          .as("sources"))
      .select(col("cluster"), col("keeper"), col("n_members"),
        col("members"), col("sources"))
  }

  /** One-permutation-hashing MinHash signature (Li, Owen, Zhang 2012;
    * rotation densification per Shrivastava & Li 2014): instead of k
    * independent hash families each scanning every shingle (k·|doc| hash
    * evaluations — [[signaturesFromHashed]]), partition the SINGLE
    * 60-bit hash universe into k bins by `h mod k` and take the min
    * within each bin — one pass, k× less hashing, the dominant cost of
    * MinHash at corpus scale. Empty bins (short docs) densify by
    * borrowing the first filled bin to the right (circular), offset by
    * `off · MinhashMod` so borrowed values can never collide with
    * natural ones from a different distance.
    *
    * Per-row array expressions only — no explode, no shuffle beyond the
    * hashed-shingle frame's own groupBy; the k² worst-case densification
    * probe is on a k-length in-memory array, not data rows. Returns
    * (doc, sig: array<long>) with sig fully dense unless the doc had no
    * shingles at all (such docs never reach here — explode drops them).
    */
  def ophSignaturesFromHashed(hsh: DataFrame, k: Int): DataFrame = {
    // k is a plan-time constant: unroll both constant-length
    // `transform(sequence(...))` folds into static expression trees
    // (optimization guide §4 — HOF lambdas are CodegenFallback,
    // interpreted per element). The bin array is a k-entry CreateArray
    // of array_min(filter(...)) terms (the data-dependent inner filter
    // over `sh` stays a HOF — its length is per-row); the
    // densification becomes a COALESCE over the k rotations in borrow
    // order: `element_at(vals, pos) + off·Mod` is NULL exactly when
    // the bin is empty, so coalesce picks the FIRST filled bin to the
    // right — identical to the filtered-sequence probe it replaces,
    // term for term, including the all-empty → NULL edge.
    val bins = hsh.withColumn("vals",
      array((0 until k).map(b =>
        array_min(filter(col("sh"), h => h % k === lit(b)))): _*))
    bins.select(col("doc"),
      array((0 until k).map { b =>
        coalesce((0 until k).map { off =>
          element_at(col("vals"), (b + off) % k + 1) +
            lit(off.toLong * MinhashMod)
        }: _*)
      }: _*).as("sig"))
  }

  /** OPH near-dup pairs: band the densified OPH signature exactly like
    * [[candidatesFromSignatures]] (band sig = h60 over rowsPerBand
    * components), bucket-join, then verify candidates with exact
    * Jaccard on the SAME hashed-shingle frame. The 100-TB story is
    * [[minhashPairs]]' with the signature stage k× cheaper — the only
    * tradeoff is slightly correlated bins (shared permutation), the
    * standard OPH accuracy bargain. */
  def ophPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val hsh = hashedShingles(df, idCol, textCol, n)
    val sig = ophSignaturesFromHashed(hsh, k)
    val nBands = k / rowsPerBand
    val bandStructs = array((0 until nBands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => element_at(col("sig"), b * rowsPerBand + r + 1).cast("string"))
      struct(lit(b).as("band"), h60(concat_ws(",", parts: _*)).as("sig"))
    }: _*)
    val banded = sig.select(col("doc"), explode(bandStructs).as("b"))
      .select(col("doc"), col("b.band").as("band"), col("b.sig").as("bsig"))
      .localCheckpoint() // reused by both sides of the bucket self-join
    val l = banded.select(col("doc").as("i"), col("band"), col("bsig"))
    val r = banded.select(col("doc").as("j"), col("band"), col("bsig"))
    val cands = l.join(r, Seq("band", "bsig")).filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    verifyJaccardPairs(hsh, cands, threshold)
  }

  /** SimHash over distinct tokens: `bits`-wide (≤ 48 so the value and all
    * shifts stay positive in both engines). Per-row fold over the token
    * array — a weighted bit-vote per token, assembled into one long. */
  def simhash(text: Column, bits: Int): Column = {
    require(bits <= 48, "keep simhash in the positive 48-bit range")
    val toks = array_distinct(TextOps.tokens(text))
    val votes = aggregate(
      toks,
      array_repeat(lit(0), bits),
      (acc, t) => {
        val h = h60(t)
        zip_with(acc, sequence(lit(0), lit(bits - 1)),
          (a, j) => a + when(
            call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L, 1)
            .otherwise(-1))
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(bits - 1)),
        (v, j) => when(v > 0, call_function("shiftleft", lit(1L), j))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Bit-band boundaries: `nBands` contiguous slices covering `bits`. */
  def simhashBandRanges(bits: Int, nBands: Int): Seq[(Int, Int)] = {
    val base = bits / nBands; val extra = bits % nBands
    val lens = Seq.tabulate(nBands)(b => base + (if (b < extra) 1 else 0))
    lens.scanLeft(0)(_ + _).zip(lens).take(nBands)
  }

  /** SimHash near-dup pairs (i < j, hamming <= maxHamming) WITHOUT the
    * all-pairs nested-loop join: pigeonhole banding. Split the simhash
    * into `maxHamming + 1` bit-bands — any pair within `maxHamming`
    * differing bits must agree exactly on at least one band — then
    * self-join on (band, band-value) and verify hamming on the candidate
    * pairs only. Exact (same result set as brute force), and the join key
    * is hash-partitionable, which is what survives 10^9 documents.
    */
  def simhashPairs(
      sh: DataFrame, idCol: String, simhashCol: String,
      bits: Int, maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    val bandCol = array(simhashBandRanges(bits, nBands).zipWithIndex.map {
      case ((off, len), b) =>
        struct(lit(b).as("band"),
          call_function("shiftright", col(simhashCol), lit(off))
            .bitwiseAND(lit((1L << len) - 1)).as("v"))
    }: _*)
    val banded = sh.select(col(idCol).as("doc"), col(simhashCol).as("s"),
        explode(bandCol).as("b"))
      .select(col("doc"), col("s"), col("b.band").as("band"), col("b.v").as("v"))
    val l = banded.select(col("doc").as("i"), col("s").as("si"), col("band"), col("v"))
    val r = banded.select(col("doc").as("j"), col("s").as("sj"), col("band"), col("v"))
    l.join(r, Seq("band", "v")).filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        hamming(col("si"), col("sj")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
