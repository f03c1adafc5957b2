package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions

/** Approximate-nearest-neighbor operators over an embedding column
  * (`Array[Float]`).
  *
  *   - Brute-force cosine top-k: broadcast the query vector, score every
  *     row with the codegen'd native dot product
  *     (graft.functions.DotProduct), `TakeOrdered` for the top-k. The
  *     correctness baseline; linear scan, embarrassingly parallel, no
  *     shuffle.
  *   - Random-hyperplane LSH buckets: 60-bit-hash-derived pseudo-random
  *     weights give `planes` sign bits per vector; the bucket id
  *     becomes the shuffle/partition key, so at 100 TB the query only
  *     scans its bucket (expected fraction 2^-planes of the data).
  *     The same bucket id also serves as a coarse IVF cell id.
  *
  * All float math is widened to double first (exact) and reported as
  * floor-ppm, keeping Spark and the DuckDB oracle bit-comparable.
  */
object Similarity {

  /** Cast a float embedding to double element-wise (exact widening). */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Codegen'd dot product (graft.functions.DotProduct); left-to-right
    * accumulation, bit-identical to the HOF fold and the oracle. */
  def dot(a: Column, b: Column): Column = NativeFunctions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against the vector with id `queryId`. */
  def bruteForceTopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    NativeFunctions.register(embeddings.sparkSession)
    val e = embeddings.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val q = e.filter(col(idCol) === queryId).select(col("v").as("qv"))
    e.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), cosine(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batched kNN join — the PRODUCTION shape of similarity search
    * ("top-k corpus neighbors for EACH of Q query vectors"): the query
    * block broadcasts (the standard batched-query assumption — Q·dim
    * doubles), the corpus streams through ONCE scoring all Q queries
    * per row (vs Q separate scans), and the per-query top-k is one rank
    * window keyed on the query id. Self-matches (same id) are excluded,
    * ties break on corpus id — identical ranking to
    * [[bruteForceTopK]] per query (PipelineSpec pins the equivalence).
    *
    * Scale shape: one broadcast + one scan + ONE shuffle (the per-query
    * rank window; its key space is Q, and each group is corpus-sized
    * only logically — map-side the window input is already scored
    * rows, k·Q of which survive per partition under AQE's window
    * group-limit pushdown). For corpus-scale Q, swap the broadcast for
    * the LSH/IVF cell-join forms above; this operator is the exact
    * baseline they are measured against. */
  def knnJoin(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    NativeFunctions.register(corpus.sparkSession)
    val e = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val scored = e.join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        cosine(col("v"), col("qv")).as("cos"))
    graft.operators.TopK.topKPerGroup(scored,
      groupKeys = Seq(col("query_id")),
      orderBy = Seq(col("cos").desc, col(idCol).asc), k = k)
  }

  /** Pseudo-random hyperplane weights for one plane: uniform in [-1, 1]
    * with 1/1000 resolution, derived from the portable 60-bit hash. The
    * weights are row-independent, so they're computed driver-side and
    * shipped as literal arrays (the oracle reproduces them from the same
    * md5 formula in SQL). */
  def planeWeights(plane: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      ((Hashing.h60Scala(s"$plane:$i") % 2001L) - 1000L).toDouble / 1000.0d
    }

  /** Sign-bit bucket id from `planes` random hyperplanes — one codegen'd
    * dot per plane against a constant weight vector. */
  def lshBucket(v: Column, dim: Int, planes: Int): Column =
    (0 until planes).map { p =>
      when(dot(v, typedLit(planeWeights(p, dim).toSeq)) > 0.0d, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed ANN: score only the vectors in the query's bucket.
    * Returns the top-k of that bucket (a subset of the brute-force
    * result when the bucket is pure; the scale/recall trade-off knob is
    * `planes`). */
  def lshTopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, planes: Int, dim: Int): DataFrame = {
    NativeFunctions.register(embeddings.sparkSession)
    val e = embeddings.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", lshBucket(col("v"), dim, planes))
    val q = e.filter(col(idCol) === queryId)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    e.filter(col(idCol) =!= queryId)
      .join(broadcast(q), col("bucket") === col("qbucket"))
      .select(col(idCol), cosine(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-style ANN: coarse quantization by nearest centroid. Centroids
    * here are a deterministic sample of the collection (the first
    * `nCentroids` ids — a k-means step would slot in identically); every
    * vector is assigned to its max-cosine centroid (tie → lowest
    * centroid id) and the query scans only its cell. The cell id is the
    * physical partition key at scale, exactly like the LSH bucket;
    * recall/cost trades off with `nCentroids`.
    *
    * The IVF codebook is driver-resident by construction (coarse
    * codebooks are 2^10..2^20 vectors — the same assumption every IVF
    * index makes), so the assignment is a pure PROJECTION against the
    * literal centroid matrix: per row, `array_max` over
    * (cosine, −cid) structs picks the max-cosine / lowest-id cell with
    * zero exchanges — no crossJoin, no per-row window shuffle (the r1
    * formulation shuffled the whole collection on vec_id just to run a
    * row_number argmax). */
  def ivfTopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nCentroids: Int): DataFrame = {
    val e = embeddings.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val cents: Array[(Long, Seq[Double])] = e
      .filter(col(idCol) < nCentroids)
      .select(col(idCol).cast("long"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    ivfTopKWith(embeddings, idCol, vecCol, queryId, k, cents.toSeq)
  }

  /** IVF-cell ANN against an explicit (driver-resident) codebook —
    * shared by the sampled-codebook [[ivfTopK]] and the k-means-trained
    * path ([[kmeansCentroidsInt]] → [[kmeansCodebook]]). */
  def ivfTopKWith(
      embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, codebook: Seq[(Long, Seq[Double])]): DataFrame = {
    NativeFunctions.register(embeddings.sparkSession)
    val e = embeddings.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val best = array_max(array(codebook.map { case (cid, cv) =>
      struct(cosine(col("v"), typedLit(cv)).as("ccos"),
        lit(-cid).as("ncid"))
    }: _*))
    val assigned = e.withColumn("cell", -best.getField("ncid"))
    val q = assigned.filter(col(idCol) === queryId)
      .select(col("v").as("qv"), col("cell").as("qcell"))
    assigned.filter(col(idCol) =!= queryId)
      .join(broadcast(q), col("cell") === col("qcell"))
      .select(col(idCol), cosine(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Persist an IVF index as a CELL-PARTITIONED table (plus the tiny
    * codebook table) — the durable form of [[ivfTopKWith]]'s
    * assignment, mirroring [[Dedup.saveSignatureIndex]]'s claim for
    * the other index family: with the corpus laid out by cell, a
    * probe reads ONLY its cells' partitions (Spark partition pruning
    * at scan planning), so at a 100 TB standing corpus the per-query
    * I/O is cell-sized, never corpus-sized. */
  def saveIvfIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      codebook: Seq[(Long, Seq[Double])], name: String): Unit = {
    // an empty codebook would null every cell (null-partition writes,
    // garbage probes) instead of failing — guard loudly
    require(codebook.nonEmpty, "saveIvfIndex: codebook must be non-empty")
    val spark = embeddings.sparkSession
    NativeFunctions.register(spark)
    val best = array_max(array(codebook.map { case (cid, cv) =>
      struct(cosine(col("v"), typedLit(cv)).as("ccos"),
        lit(-cid).as("ncid")) }: _*))
    Seq(s"${name}_cells", s"${name}_codebook")
      .foreach(t => dropManagedTable(spark, t))
    embeddings.select(col(idCol).as("vec_id"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("cell", -best.getField("ncid"))
      .write.partitionBy("cell").format("parquet")
      .saveAsTable(s"${name}_cells")
    import spark.implicits._
    codebook.toDF("cell", "cv").write.format("parquet")
      .saveAsTable(s"${name}_codebook")
  }

  /** Drop a managed table AND its warehouse location: `DROP TABLE IF
    * EXISTS` alone is not rerun-safe across JVMs — a fresh session's
    * in-memory catalog does not know the previous run's table, so the
    * orphaned location survives the drop and the next `saveAsTable`
    * fails with LOCATION_ALREADY_EXISTS. */
  private[pipeline] def dropManagedTable(
      spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    // the location arithmetic below only holds for unqualified
    // default-database names (<warehouse>/<name>); a db-qualified name
    // lives at <warehouse>/<db>.db/<name> and would silently keep its
    // orphan — refuse rather than half-clean
    require(!table.contains("."),
      s"dropManagedTable handles unqualified default-db names only, got $table")
    val cat = spark.sessionState.catalog
    val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (cat.tableExists(id)) {
      // registered table: resolve its REAL type before touching disk —
      // a same-named EXTERNAL (or custom-location) table is someone
      // else's data; deleting the warehouse-arithmetic path for it
      // would remove an unrelated directory (round-10 ADVICE). Managed
      // tables delete their own location through DROP TABLE.
      val meta = cat.getTableMetadata(id)
      require(meta.tableType ==
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED,
        s"dropManagedTable: $table is ${meta.tableType.name}, not " +
          "MANAGED — refusing to drop another table's data")
      spark.sql(s"DROP TABLE $table")
    } else {
      // not in this session's catalog: the orphaned-location case (a
      // PREVIOUS JVM's managed table whose dir survived its in-memory
      // catalog) — the warehouse-arithmetic sweep is exactly right here
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      loc.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(loc, true)
    }
  }

  /** Reload a persisted IVF index for [[probeIvfIndex]]. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): (DataFrame, Seq[(Long, Seq[Double])]) = {
    val cb = spark.table(s"${name}_codebook").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    (spark.table(s"${name}_cells"), cb)
  }

  /** Index names are interpolated into the datasource name
    * (`powa_index_<name>`) and therefore into the governed store's
    * directory layout and the ACL namespace — an unvalidated name
    * containing '/', '..', or a leading '_'/'.' would write outside
    * the layout or create tiers the per-server delete sweep and the
    * `powa_index_*` ACL guard silently skip. Fail loudly instead
    * (round-11 ADVICE). Shared with [[Dedup]]'s signature index. */
  private[pipeline] def requireIndexName(name: String): Unit =
    require(name.matches("[A-Za-z0-9][A-Za-z0-9_]*"),
      s"index name must match [A-Za-z0-9][A-Za-z0-9_]*, got '$name'")

  private val ivfCellsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("srvid",
      org.apache.spark.sql.types.IntegerType)))
  private val ivfCodebookSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cv",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.types.StructField("srvid",
      org.apache.spark.sql.types.IntegerType)))

  private val ivfParamsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("dim",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("nprobe_default",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("metric",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("srvid",
      org.apache.spark.sql.types.IntegerType)))

  /** The geometry an IVF index was BUILT with — persisted in the
    * `params` tier alongside the codebook (the signature index's
    * `params` rule applied to this family): `k` centroids over `dim`
    * dimensions, the default probe width, and the metric the codebook
    * ranks by. Probes read these from the store, never from call
    * sites, so probing with drifted geometry is impossible rather than
    * discouraged. Reference analogue: versioned config-as-data,
    * powa--5.2.0.sql:328-400. */
  final case class IvfParams(k: Int, dim: Int, nprobeDefault: Int,
      metric: String)

  /** Persist an IVF index THROUGH THE GOVERNED STORE — the index as a
    * first-class store relation (datasource `powa_index_<name>`, tiers
    * `cells` + `codebook`), so everything the engine's history tiers
    * get applies to index data too: AtomicSwap-committed per-srvid
    * replacement (concurrent probes see the complete old or complete
    * new index, never a mix), manifest-pinned listing, srvid tenancy
    * (planning-time partition pruning per server), and the powa_grant
    * ACL at the SQL catalog surface (`AccessControl.isIndexObject` —
    * the reference's grants cover EVERY extension-owned relation via
    * the pg_depend walk, powa--5.2.0.sql:7533-7655; an index relation
    * created after install is still extension-owned).
    *
    * Cell pruning survives the move: the session-catalog variant
    * ([[saveIvfIndex]]) used hive-style `cell=` partitions; here the
    * cells frame is `repartitionByRange`d on `cell` before the write
    * (≈ one cell per file) and the manifest publishes per-file `cell`
    * min/max ([[graft.core.AtomicSwap.statCols]]), so a probe's
    * `cell IN (...)` skips every non-probed file at PLANNING time
    * (StoreScanBuilder's In-filter skip) — the same cell-sized probe
    * I/O, now inside the governed store. */
  def saveIvfIndexStore(embeddings: DataFrame, idCol: String,
      vecCol: String, codebook: Seq[(Long, Seq[Double])], root: String,
      name: String, srvid: Int, nprobeDefault: Int = 1): Unit = {
    requireIndexName(name)
    require(codebook.nonEmpty, "saveIvfIndexStore: codebook must be non-empty")
    val dims = codebook.map(_._2.size).distinct
    require(dims.size == 1 && dims.head > 0,
      s"saveIvfIndexStore: centroids must share one non-zero dim, got $dims")
    require(nprobeDefault >= 1 && nprobeDefault <= codebook.size,
      s"saveIvfIndexStore: nprobeDefault must be in [1, ${codebook.size}]," +
        s" got $nprobeDefault")
    val spark = embeddings.sparkSession
    val store = new graft.core.Store(spark, root)
    val ds = s"powa_index_$name"
    val corpus = embeddings.select(col(idCol).cast("long").as("vec_id"),
      asDouble(col(vecCol)).as("v"))
    // single-mutator fence: every index mutation entry point
    // serializes on the per-(index, srvid) lock — see MutationLock for
    // the lost-batch race a build/append/compact interleaving opens
    graft.core.MutationLock.withPartitionLock(root, ds, srvid) {
      writeIvfIndexTiers(store, ds, srvid, corpus, codebook, nprobeDefault)
    }
  }

  /** The cosine assignment + all three tier writes of an IVF index —
    * ONE body shared by [[saveIvfIndexStore]] (fresh build) and
    * [[rebalanceIvfIndexStore]] (retrain-in-place), so the rebalanced
    * index is BY CONSTRUCTION exactly what a fresh build with the
    * retrained codebook would write; the two paths cannot drift.
    * Callers hold the index mutation lock; `corpus` is `(vec_id, v)`
    * with `v` already double. */
  private def writeIvfIndexTiers(store: graft.core.Store, ds: String,
      srvid: Int, corpus: DataFrame, codebook: Seq[(Long, Seq[Double])],
      nprobeDefault: Int): IvfParams = {
    val spark = store.spark
    NativeFunctions.register(spark)
    val dims = codebook.map(_._2.size).distinct
    // validate BEFORE the first tier write: a rejected codebook must
    // leave the index intact, not half-overwritten with params stale
    // relative to the new tiers (which would read as geometry drift
    // and brick the index until a rebuild)
    require(dims.size == 1 && dims.head > 0,
      s"$ds: centroids must share one non-zero dim, got $dims")
    require(nprobeDefault >= 1 && nprobeDefault <= codebook.size,
      s"$ds: nprobeDefault must be in [1, ${codebook.size}]," +
        s" got $nprobeDefault")
    val best = array_max(array(codebook.map { case (cid, cv) =>
      struct(cosine(col("v"), typedLit(cv)).as("ccos"),
        lit(-cid).as("ncid")) }: _*))
    val cells = corpus
      .withColumn("cell", -best.getField("ncid"))
      .repartitionByRange(math.max(codebook.size, 1), col("cell"))
    store.overwritePartition(ds, "cells", srvid, cells)
    import spark.implicits._
    store.overwritePartition(ds, "codebook", srvid,
      codebook.toDF("cell", "cv"))
    // geometry is a property of the INDEX, not of the build call —
    // persist it so every later probe/append reads it from the store
    writeIvfParams(store, ds, srvid, codebook.size, dims, nprobeDefault)
  }

  /** REBALANCE a store-resident IVF index: retrain the codebook from
    * the index's CURRENT corpus and reassign every vector — the
    * maintenance operation the rest of the lifecycle eventually needs.
    * [[appendIvfIndexStore]] deliberately assigns new batches with the
    * BUILD-time codebook (geometry is fixed at build), so under
    * drifting ingest the cells skew: hot cells grow unbounded (probe
    * I/O on a popular cell approaches a corpus scan) and dead
    * centroids waste probe width. [[compactIvfIndexStore]] folds FILES
    * but keeps the assignment, so it cannot fix skew —
    * [[ivfIndexHealth]] measures it, this repairs it.
    *
    * Semantics: retrain = [[kmeansCentroidsInt]] on the corpus read
    * back from the `cells` tier (k from the index's own params tier,
    * seeds = the k lowest vec_ids — the training rule is a property of
    * the engine, deterministic in any execution order), then the SAME
    * assignment + tier writes as a fresh build ([[writeIvfIndexTiers]])
    * — so rebalance(build + appends) ≡ saveIvfIndexStore(full corpus,
    * trained codebook), which is what the p164 oracle replays. The
    * persisted `nprobe_default` survives, clamped to the retrained
    * codebook size (Lloyd can lose an emptied centroid).
    *
    * Cost shape: iters+1 corpus projections against a driver-resident
    * codebook (zero exchanges) + one k×dim hash aggregate per
    * iteration + one corpus rewrite — O(corpus), like compaction, and
    * like compaction it is an OCCASIONAL operation triggered by a
    * health check, not a per-batch one. The corpus is localCheckpoint-
    * pinned first: training scans it iters+1 times, and the cells
    * overwrite must not read the very tier it is replacing.
    *
    * Concurrency: the whole retrain-to-rewrite holds the index
    * mutation lock (no admission can land between the corpus read and
    * the rewrite — it would be silently dropped by the overwrite).
    * Unlocked PROBES racing the three per-tier atomic swaps can see a
    * new-cells/old-codebook mix, same as a rebuild over a live index:
    * for IVF this perturbs cell PRUNING only — cells carry raw
    * vectors and the probe re-ranks with exact cosine, so a torn read
    * degrades recall for that probe, never returns wrong distances
    * (contrast pq_meta's generation fence, which exists because PQ
    * codes are meaningless under the wrong codebook). One sharper
    * transient: if retraining CHANGES k (Lloyd lost a centroid), a
    * racing load can catch new-codebook/old-params and REFUSE with
    * the geometry-drift error until the params swap lands — a loud
    * retryable refusal, never a wrong result (churn-spec pinned). A
    * crash between the tier swaps leaves the same advisory-pruning
    * state permanently; re-running rebalance converges (it reads only
    * the cells tier, which is always complete). */
  def rebalanceIvfIndexStore(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int, iters: Int): IvfParams = {
    requireIndexName(name) // before the name-derived lock path
    require(iters >= 1, s"rebalanceIvfIndexStore: iters must be >= 1, got $iters")
    val ds = s"powa_index_$name"
    graft.core.MutationLock.withPartitionLock(root, ds, srvid) {
      val (cells, _, p) = loadIvfIndexStoreP(spark, root, name, srvid)
      val corpus = cells.select(col("vec_id"), col("v")).localCheckpoint()
      val cb = kmeansCodebook(
        kmeansCentroidsInt(corpus, "vec_id", "v", p.k, iters))
      require(cb.nonEmpty,
        s"rebalanceIvfIndexStore: retraining index '$name' srvid $srvid " +
          "produced an empty codebook — empty corpus?")
      val store = new graft.core.Store(spark, root)
      writeIvfIndexTiers(store, ds, srvid, corpus, cb,
        math.min(p.nprobeDefault, cb.size))
    }
  }

  /** Cell-balance HEALTH REPORT for a store-resident IVF index — the
    * "when to rebalance" signal: one row per CODEBOOK cell (a dead
    * centroid shows n = 0 — cells-tier grouping alone would hide it)
    * with its population and corpus share in ppm. Skew factor =
    * max(share_ppm) · k / 10⁶; probe cost on the hottest cell scales
    * with its share, so a skew factor ≫ 1 means probes on popular
    * cells approach corpus scans and [[rebalanceIvfIndexStore]] is
    * due. One cells-tier aggregate (map-side combined, k-bounded
    * result) + a broadcast-sized codebook join — never corpus-wide
    * data movement. FULL outer join by design: a cell id present in
    * the tier but absent from the codebook (corruption, a foreign
    * writer) SURFACES as its own row in the report rather than being
    * silently dropped from the counts. */
  def ivfIndexHealth(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int): DataFrame = {
    val (cells, cb) = loadIvfIndexStore(spark, root, name, srvid)
    import spark.implicits._
    val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .localCheckpoint() // k-bounded; feeds both the total and the rows
    val total = counts.agg(sum(col("n")).as("total"))
    cb.map(_._1).toDF("cell").join(counts, Seq("cell"), "full")
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n"))
      .crossJoin(broadcast(total)) // one scalar row against k rows
      // integer DIV, not float-divide-and-floor: exact at any corpus
      // size (n·10⁶ overflows double's 2⁵³ mantissa near 10¹⁰ rows)
      .withColumn("share_ppm",
        when(col("total") > 0, expr("n * 1000000 DIV total"))
          .otherwise(lit(0L)))
      .drop("total")
      .orderBy(col("cell"))
  }

  /** ONE writer for the params row (save + backfill): validates the
    * geometry invariants (uniform non-zero dim, nprobe within the
    * codebook) and writes the row — a schema or invariant change made
    * in one path but not the other would produce params rows the
    * drift checks reject at probe time (round-12 review). */
  private def writeIvfParams(store: graft.core.Store, ds: String,
      srvid: Int, k: Int, dims: Seq[Int], nprobeDefault: Int): IvfParams = {
    require(dims.size == 1 && dims.head > 0,
      s"$ds: centroids must share one non-zero dim, got $dims")
    require(nprobeDefault >= 1 && nprobeDefault <= k,
      s"$ds: nprobeDefault must be in [1, $k], got $nprobeDefault")
    val spark = store.spark
    import spark.implicits._
    store.overwritePartition(ds, "params", srvid,
      Seq((k, dims.head, nprobeDefault, "cosine"))
        .toDF("k", "dim", "nprobe_default", "metric"))
    IvfParams(k, dims.head, nprobeDefault, "cosine")
  }

  /** Read back an IVF index's persisted build geometry
    * ([[IvfParams]]) — one bounded `params`-tier read. Fails loudly
    * for a pre-params-era or foreign store: geometry must come from
    * the index itself, never a caller's memory of the build. */
  def loadIvfParams(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int): IvfParams = {
    requireIndexName(name)
    val store = new graft.core.Store(spark, root)
    val rows = store.readV2(s"powa_index_$name", "params", ivfParamsSchema)
      .filter(col("srvid") === srvid).collect()
    require(rows.nonEmpty,
      s"loadIvfParams: no params tier for index '$name' srvid $srvid" +
        " — build with saveIvfIndexStore first")
    require(rows.length == 1,
      s"loadIvfParams: ${rows.length} params rows for index '$name' " +
        s"srvid $srvid — corrupt params tier")
    val r = rows.head
    val p = IvfParams(r.getAs[Int]("k"), r.getAs[Int]("dim"),
      r.getAs[Int]("nprobe_default"), r.getAs[String]("metric"))
    // the metric is geometry too, and unlike k/dim it needs no
    // codebook to validate — so EVERY params reader refuses a metric
    // the probe doesn't rank by (a hand-edited or future-writer row
    // claiming 'l2' would otherwise silently rank by cosine anyway)
    require(p.metric == "cosine",
      s"loadIvfParams: index '$name' srvid $srvid params claim " +
        s"metric='${p.metric}' but this engine probes cosine only — " +
        "geometry drift, refusing to probe")
    p
  }

  /** ADMIT a new vector batch into a standing store-resident IVF index
    * — the daily-ingest form: the batch is assigned with the index's
    * OWN persisted codebook (an index's geometry is fixed at build
    * time; re-training would silently re-shape every existing cell),
    * laid out by cell range like the build, and committed through the
    * store's batch-append protocol (AtomicSwap.appendInto: one atomic
    * rename + manifest republish — concurrent probes see the complete
    * pre-batch or complete post-batch index, never a torn one). The
    * appended files carry their own `cell` min/max in the manifest, so
    * probe file-skipping keeps working across generations; cost is
    * batch-sized, never index-sized — nothing is rewritten. */
  def appendIvfIndexStore(embeddings: DataFrame, idCol: String,
      vecCol: String, root: String, name: String, srvid: Int): Unit = {
    requireIndexName(name) // BEFORE the lock — the lock file path
    // embeds the name, so a hostile name must die with the designed
    // error, not a NoSuchFileException from _locks/, and must not
    // leave a stray lock file behind (round-12 review)
    val spark = embeddings.sparkSession
    // the WHOLE admission — codebook read through batch commit — holds
    // the index's mutation lock: an unlocked append racing a compact
    // is the lost-batch window (MutationLock scaladoc), and the
    // codebook read must pin the same generation the commit lands in
    graft.core.MutationLock.withPartitionLock(
        root, s"powa_index_$name", srvid) {
      val (_, codebook) = loadIvfIndexStore(spark, root, name, srvid)
      require(codebook.nonEmpty,
        s"appendIvfIndexStore: no codebook for index '$name' srvid $srvid" +
          " — build with saveIvfIndexStore first")
      NativeFunctions.register(spark)
      val best = array_max(array(codebook.map { case (cid, cv) =>
        struct(cosine(col("v"), typedLit(cv)).as("ccos"),
          lit(-cid).as("ncid")) }: _*))
      val store = new graft.core.Store(spark, root)
      val batch = embeddings.select(col(idCol).cast("long").as("vec_id"),
          asDouble(col(vecCol)).as("v"))
        .withColumn("cell", -best.getField("ncid"))
        .repartitionByRange(math.max(codebook.size, 1), col("cell"))
      store.appendPartition(s"powa_index_$name", "cells", srvid, batch)
    }
  }

  /** Reload a store-resident IVF index ([[saveIvfIndexStore]]) for
    * [[probeIvfIndex]]: the cells frame comes through the DSv2 scan
    * (manifest-pinned, srvid partition-pruned at planning; the probe's
    * later `cell IN` filter file-skips against the manifest stats),
    * the codebook is a cells-count-bounded driver collect. */
  def loadIvfIndexStore(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String,
      srvid: Int): (DataFrame, Seq[(Long, Seq[Double])]) = {
    val (cells, cb, _) = loadIvfIndexStoreP(spark, root, name, srvid)
    (cells, cb)
  }

  /** [[loadIvfIndexStore]] plus the validated [[IvfParams]] — one
    * params read serves both the geometry cross-check and the caller
    * (probeIvfIndexStore reads the probe width from it). */
  private def loadIvfIndexStoreP(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int)
      : (DataFrame, Seq[(Long, Seq[Double])], IvfParams) = {
    requireIndexName(name)
    val store = new graft.core.Store(spark, root)
    val ds = s"powa_index_$name"
    val cb = store.readV2(ds, "codebook", ivfCodebookSchema)
      .filter(col("srvid") === srvid)
      .collect() // ≤ codebook size — index-parameter-bounded, never corpus
      .map(r => (r.getAs[Long]("cell"),
        r.getSeq[Double](r.fieldIndex("cv")).toVector: Seq[Double]))
      .sortBy(_._1).toSeq
    // cross-check the codebook against the persisted geometry: a
    // params/codebook mismatch means the store was hand-edited or a
    // writer drifted — every probe on it would be silently wrong
    val p = loadIvfParams(spark, root, name, srvid)
    require(cb.size == p.k,
      s"loadIvfIndexStore: index '$name' srvid $srvid params claim " +
        s"k=${p.k} but the codebook has ${cb.size} centroids — " +
        "geometry drift, refusing to probe")
    val cbDims = cb.map(_._2.size).distinct
    require(cbDims == Seq(p.dim),
      s"loadIvfIndexStore: index '$name' srvid $srvid params claim " +
        s"dim=${p.dim} but the codebook has dims $cbDims — " +
        "geometry drift, refusing to probe")
    // (metric drift is refused inside loadIvfParams — it needs no
    // codebook, so it guards EVERY params reader, not just this one)
    val cells = store.readV2(ds, "cells", ivfCellsSchema)
      .filter(col("srvid") === srvid)
      .select(col("vec_id"), col("v"), col("cell"))
    (cells, cb, p)
  }

  /** Migration path for a PRE-PARAMS-ERA index (built before the
    * `params` tier existed): derive (k, dim) from the persisted
    * codebook — the one artifact the build geometry is fully encoded
    * in — and write the missing params row, after which every load /
    * append / compact / probe works again. Refuses to touch an index
    * that already has params (overwriting live geometry is exactly the
    * drift the tier exists to prevent; a deliberate re-shape is a
    * rebuild). Admin-path, one bounded read + one row write, under the
    * index mutation lock. */
  def backfillIvfParams(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int,
      nprobeDefault: Int = 1): IvfParams = {
    requireIndexName(name)
    val store = new graft.core.Store(spark, root)
    val ds = s"powa_index_$name"
    graft.core.MutationLock.withPartitionLock(root, ds, srvid) {
      val existing = store.readV2(ds, "params", ivfParamsSchema)
        .filter(col("srvid") === srvid).collect()
      require(existing.isEmpty,
        s"backfillIvfParams: index '$name' srvid $srvid already has a " +
          "params tier — refusing to overwrite live geometry (re-shape " +
          "= rebuild)")
      val cb = store.readV2(ds, "codebook", ivfCodebookSchema)
        .filter(col("srvid") === srvid).collect()
        .map(r => r.getSeq[Double](r.fieldIndex("cv")).size)
      require(cb.nonEmpty,
        s"backfillIvfParams: no codebook for index '$name' srvid $srvid")
      writeIvfParams(store, ds, srvid, cb.length, cb.distinct.toSeq,
        nprobeDefault)
    }
  }

  // ---------- persisted product-quantization index ----------

  private val pqCodesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("codes",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType)),
    org.apache.spark.sql.types.StructField("gen",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("srvid",
      org.apache.spark.sql.types.IntegerType)))
  private val pqMetaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("m",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("dim",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("metric",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("gen",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("subs",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType)),
    org.apache.spark.sql.types.StructField("cids",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType)),
    org.apache.spark.sql.types.StructField("cvs",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))),
    org.apache.spark.sql.types.StructField("srvid",
      org.apache.spark.sql.types.IntegerType)))

  /** PQ build geometry plus the generation tag that binds codes to
    * the codebooks they were encoded against. */
  final case class PqParams(m: Int, k: Int, dim: Int, metric: String,
      gen: Long)

  /** Per-subspace code columns for one e4-quantized vector column
    * against driver-resident codebooks: the argmin POSITION into each
    * subspace's cid-ascending codebook (the same native-argmin + tie
    * rule as [[pqCodebook]]'s assignment). The leading size fence
    * rejects a vector whose length differs from the index dim — a
    * LONGER vector would otherwise be encoded from its prefix
    * silently (slice never over-reads), a drift the family's rules
    * forbid (round-12 review). */
  private def pqEncodeCols(cents: Map[Int, Seq[(Long, Seq[Long])]],
      m: Int, subDim: Int): Column = {
    val enc = array((0 until m).map { s =>
      NativeFunctions.argminDist2(
        slice(col("qv"), s * subDim + 1, subDim),
        typedLit(cents(s).map(_._2)))
    }: _*)
    when(size(col("qv")) === m * subDim, enc)
      .otherwise(raise_error(concat(
        lit(s"pq encode: vector dim != ${m * subDim}, got "),
        coalesce(size(col("qv")).cast("string"), lit("null")))))
  }

  /** Persist a PQ index THROUGH THE GOVERNED STORE — the production
    * form of [[pqTopK]], which trains and re-encodes the corpus per
    * CALL: here the per-subspace integer codebooks train ONCE
    * ([[pqCodebook]]), the corpus is encoded once into a `pq_codes`
    * tier (m small ints per vector — the 4-32× PQ compression), and
    * every later probe touches ONLY codes and the meta row, never raw
    * vectors.
    *
    * Two tiers, by design: `pq_meta` holds ALL driver-resident state
    * in ONE row — geometry (m, k, dim, metric), the full codebooks
    * (m × ≤k integer centroids, index-parameter-bounded), and a
    * build GENERATION tag — so geometry and codebooks can never be
    * read torn relative to each other (one atomic tier swap covers
    * both). `pq_codes` rows carry the generation they were encoded
    * under, and every read filters `gen = meta.gen`: PQ codes are
    * argmin POSITIONS relative to their generation's codebooks, so a
    * probe racing a REBUILD must never mix generations — with the
    * tag it degrades to fewer/zero rows (fail-safe) instead of
    * silently wrong distances (round-12 review). Same governed-
    * citizen properties as the IVF/signature indexes: AtomicSwap
    * commits, srvid tenancy, powa_index_* ACL, per-server delete
    * sweep, per-(index, srvid) mutation lock. */
  def savePqIndexStore(embeddings: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, k: Int, iters: Int,
      root: String, name: String, srvid: Int): Unit = {
    requireIndexName(name)
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val spark = embeddings.sparkSession
    NativeFunctions.register(spark)
    // ONE e4 projection of the corpus feeds both training and the
    // encode pass (pqCodebookFrom reuses the checkpointed frame — a
    // second full corpus read at 10^9 vectors is real money)
    val q = embeddings.select(qvE4(idCol, vecCol): _*).localCheckpoint()
    val cents = pqCodebookFrom(q, dim, m, k, iters)
    val subDim = dim / m
    val gen = System.nanoTime()
    val store = new graft.core.Store(spark, root)
    val ds = s"powa_index_$name"
    val codes = q.select(col("id").as("vec_id"), col("qv"))
      .withColumn("codes", pqEncodeCols(cents, m, subDim))
      .select(col("vec_id"), col("codes"), lit(gen).as("gen"))
    val flat = cents.toSeq.sortBy(_._1).flatMap { case (s, cb) =>
      cb.map { case (cid, cv) => (s, cid, cv) } }
    graft.core.MutationLock.withPartitionLock(root, ds, srvid) {
      import spark.implicits._
      // codes commit FIRST (the slow corpus-sized write), the one-row
      // meta LAST: concurrent probes resolve the OLD meta throughout
      // the encode+write — gen-filtering them onto the complete OLD
      // codes — and flip to the complete new index at the meta swap;
      // the probe-visible empty window is only the milliseconds
      // between the two swaps. (Meta-first would serve an EMPTY index
      // for the entire rebuild — fifth-pass review.) Crash between
      // the commits is SYMMETRIC under the generation filter: either
      // order leaves old-gen meta over new-gen codes (or vice versa),
      // probes see an empty-but-consistent index, and later appends
      // encode+stamp with whichever meta survived — a small but
      // internally correct single-generation index, never
      // cross-generation math. Recovery from a crashed rebuild is the
      // admin norm: re-run it.
      // file count from DATA VOLUME (rows ÷ rows-per-file), not core
      // count: defaultParallelism wrote 32 near-empty files for a small
      // corpus (32 footer reads per manifest publish, 32 scan tasks per
      // probe) and would UNDER-split a 10⁹-vector corpus on a small
      // driver — the signature store's rule (compactSignatureIndexStore),
      // applied to codes rows (~16+m bytes each). The count is one
      // cheap job over the already-checkpointed projection.
      store.overwritePartition(ds, "pq_codes", srvid,
        codes.repartitionByRange(pqCodesFileCount(q.count()),
          col("vec_id")))
      store.overwritePartition(ds, "pq_meta", srvid,
        Seq((m, k, dim, "l2_e4", gen, flat.map(_._1), flat.map(_._2),
          flat.map(_._3)))
          .toDF("m", "k", "dim", "metric", "gen", "subs", "cids", "cvs"))
    }
  }

  /** Persisted PQ geometry — every reader validates the metric tag
    * (this engine's ADC is integer-e4 squared-L2 only). */
  def loadPqParams(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int): PqParams =
    loadPqMeta(spark, root, name, srvid)._1

  private def loadPqMeta(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int)
      : (PqParams, Map[Int, Seq[(Long, Seq[Long])]]) = {
    requireIndexName(name)
    val store = new graft.core.Store(spark, root)
    val rows = store.readV2(s"powa_index_$name", "pq_meta", pqMetaSchema)
      .filter(col("srvid") === srvid).collect()
    require(rows.nonEmpty,
      s"loadPqParams: no pq_meta tier for index '$name' srvid $srvid" +
        " — build with savePqIndexStore first")
    require(rows.length == 1,
      s"loadPqParams: ${rows.length} meta rows for '$name' srvid $srvid")
    val r = rows.head
    val p = PqParams(r.getAs[Int]("m"), r.getAs[Int]("k"),
      r.getAs[Int]("dim"), r.getAs[String]("metric"), r.getAs[Long]("gen"))
    require(p.metric == "l2_e4",
      s"loadPqParams: index '$name' srvid $srvid claims metric " +
        s"'${p.metric}' but this engine probes integer-e4 L2 only — " +
        "geometry drift, refusing to probe")
    require(p.m > 0 && p.dim % p.m == 0,
      s"loadPqParams: corrupt geometry m=${p.m} dim=${p.dim}")
    val subs = r.getSeq[Int](r.fieldIndex("subs"))
    val cids = r.getSeq[Long](r.fieldIndex("cids"))
    val cvs = r.getSeq[scala.collection.Seq[Long]](r.fieldIndex("cvs"))
      .map(_.toVector)
    val cents: Map[Int, Seq[(Long, Seq[Long])]] =
      subs.indices.groupBy(subs(_)).map { case (sub, idxs) =>
        sub -> idxs.map(i => (cids(i), cvs(i): Seq[Long]))
          .sortBy(_._1).toSeq
      }
    require(cents.keySet == (0 until p.m).toSet,
      s"loadPqParams: index '$name' srvid $srvid params claim " +
        s"m=${p.m} but codebooks cover subs ${cents.keySet.toSeq.sorted}" +
        " — geometry drift, refusing to probe")
    val subDim = p.dim / p.m
    cents.foreach { case (sub, cb) =>
      require(cb.nonEmpty && cb.size <= p.k &&
        cb.forall(_._2.size == subDim),
        s"loadPqParams: sub $sub codebook violates geometry " +
          s"(k<=${p.k}, subDim=$subDim) — drift, refusing to probe")
    }
    (p, cents)
  }

  /** Load the persisted PQ index: the validated meta (geometry +
    * codebooks, one atomic row) and the codes frame FILTERED to the
    * meta row's generation — a rebuild racing this read yields zero
    * rows from the stale generation, never cross-generation
    * distances. The codes frame keeps its `gen` column so layout
    * maintenance (compact / the p163 re-point) round-trips it. */
  def loadPqIndexStore(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int)
      : (DataFrame, Map[Int, Seq[(Long, Seq[Long])]], PqParams) = {
    val (p, cents) = loadPqMeta(spark, root, name, srvid)
    val store = new graft.core.Store(spark, root)
    val codes = store.readV2(s"powa_index_$name", "pq_codes", pqCodesSchema)
      .filter(col("srvid") === srvid)
      .filter(col("gen") === p.gen)
      .select(col("vec_id"), col("codes"), col("gen"))
    (codes, cents, p)
  }

  /** Generation HEALTH report for a store-resident PQ index: codes-row
    * counts per generation, flagged against the meta row's current
    * generation. Probes filter `gen = meta.gen`, so non-current rows
    * (a torn rebuild's codes — the crash window the pq_meta design
    * accepts, see [[savePqIndexStore]]) are invisible to the math but
    * still occupy files until the next rebuild replaces the tier; and
    * a CURRENT count of zero right after a rebuild means the rebuild
    * crashed between the codes and meta commits — re-run it. That
    * zero-current diagnosis is an EXPLICIT `(n_codes = 0,
    * is_current = true)` row (full join from the meta's generation),
    * never an absence the reader must notice. The `gen` value itself
    * is a build timestamp (nondeterministic), so report consumers key
    * on `is_current`, not the raw tag. One codes-tier aggregate,
    * generation-count-bounded. */
  def pqIndexHealth(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int): DataFrame = {
    val (p, _) = loadPqMeta(spark, root, name, srvid)
    val store = new graft.core.Store(spark, root)
    import spark.implicits._
    val counts = store
      .readV2(s"powa_index_$name", "pq_codes", pqCodesSchema)
      .filter(col("srvid") === srvid)
      .groupBy(col("gen"))
      .agg(count(lit(1)).as("n_codes"))
    Seq(p.gen).toDF("gen").join(counts, Seq("gen"), "full")
      .select(col("gen"), coalesce(col("n_codes"), lit(0L)).as("n_codes"),
        (col("gen") === p.gen).as("is_current"))
      .orderBy(col("gen"))
  }

  /** ADMIT a new vector batch into a standing PQ index: encode with
    * the index's OWN persisted codebooks (re-training would silently
    * re-code nothing and drift everything — the IVF admission rule),
    * stamp the index's current generation, and append through the
    * store's batch commit. Batch-sized cost. */
  def appendPqIndexStore(embeddings: DataFrame, idCol: String,
      vecCol: String, root: String, name: String, srvid: Int): Unit = {
    requireIndexName(name)
    val spark = embeddings.sparkSession
    NativeFunctions.register(spark)
    graft.core.MutationLock.withPartitionLock(
        root, s"powa_index_$name", srvid) {
      val (p, cents) = loadPqMeta(spark, root, name, srvid)
      val subDim = p.dim / p.m
      val store = new graft.core.Store(spark, root)
      store.appendPartition(s"powa_index_$name", "pq_codes", srvid,
        embeddings.select(qvE4(idCol, vecCol): _*)
          .select(col("id").as("vec_id"), col("qv"))
          .withColumn("codes", pqEncodeCols(cents, p.m, subDim))
          .select(col("vec_id"), col("codes"), lit(p.gen).as("gen")))
    }
  }

  /** Probe a persisted PQ index by asymmetric distance: the query's
    * per-(sub, position) distance table is driver-side (m·≤k longs),
    * and the scan touches ONLY the codes tier — m small ints per
    * corpus vector, the memory-bandwidth PQ probe, with the raw
    * vectors never read. Zero caller-supplied build constants: m, k,
    * dim and the codebooks all come from the index's meta row.
    * Identical ranking to [[pqTopK]] at the same build parameters
    * (integer arithmetic end-to-end; ties (adc, vec_id) — the p39
    * oracle applies verbatim). Every code is RANGE-checked against
    * its subspace's codebook before the lookup: an isNull fence is
    * NOT sufficient here — non-ANSI element_at reads a negative
    * index from the END of the distance table, so a corrupt negative
    * code would return a valid-looking distance, and an over-range
    * code would null out and sort FIRST under the ascending orderBy
    * (round-12 review). Out-of-range dies on a named error.
    * `queryVec` is the raw query vector — query-time DATA, not
    * geometry. */
  def probePqIndexStore(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int, queryVec: Seq[Double],
      excludeId: Option[Long], topK: Int): DataFrame = {
    val (codes, cents, p) = loadPqIndexStore(spark, root, name, srvid)
    require(queryVec.size == p.dim,
      s"probePqIndexStore: query dim ${queryVec.size} != index dim ${p.dim}")
    val adc = pqAdcCol(cents, p.m, p.dim / p.m, queryVec.map(e4Floor))
    excludeId.map(id => codes.filter(col("vec_id") =!= id))
      .getOrElse(codes)
      .select(col("vec_id"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** ONE query's fenced ADC column over the `codes` column — shared by
    * the single-query probe and the batched kNN join so the two ranks
    * cannot drift. The explicit RANGE fence is not an isNull check:
    * non-ANSI element_at reads a negative index from the END of the
    * distance table, so a corrupt code of -2 would return a
    * valid-looking distance (and only >= k or very negative would
    * null out and sort FIRST under the ascending order) — every code
    * must be a real position into its subspace's codebook or the
    * probe dies loudly (round-12 review, fourth pass). */
  private def pqAdcCol(cents: Map[Int, Seq[(Long, Seq[Long])]], m: Int,
      subDim: Int, qe4: Seq[Long]): Column = {
    val adcRaw = (0 until m).map { s =>
      val qs = qe4.slice(s * subDim, (s + 1) * subDim)
      val qds: Seq[Long] = cents(s).map { case (_, cv) => d2Long(qs, cv) }
      element_at(typedLit(qds), element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    val codesOk = (0 until m).map { s =>
      element_at(col("codes"), s + 1).between(0, cents(s).size - 1)
    }.reduce(_ && _)
    when(codesOk, adcRaw)
      .otherwise(raise_error(lit(
        "pq probe: code out of codebook range — corrupt pq_codes tier")))
  }

  /** Batched PQ kNN JOIN over the persisted index — [[knnJoin]]'s
    * contract ("top-k corpus neighbors for EACH of Q query vectors")
    * at PQ cost: ONE scan of the codes tier scores all Q queries per
    * row (m small ints per corpus vector — raw vectors never read),
    * so a bulk similarity export over a 10⁹-vector index is one
    * memory-bandwidth pass instead of Q probes or an exact
    * corpus×corpus join. Per-query distance tables are driver math
    * (Q·m·≤k longs — the same batched-query assumption knnJoin makes
    * for its broadcast block), stacked per row and exploded to
    * (qid, adc); the per-query top-k is one rank window keyed on qid.
    * Self-matches excluded; ties (adc, vec_id) — each query ranks
    * exactly as its single [[probePqIndexStore]] call ([[pqAdcCol]]
    * is the shared body; spec-pinned). Zero caller-supplied build
    * constants. */
  def pqKnnJoinStore(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int, queries: DataFrame,
      idCol: String, vecCol: String, topK: Int,
      maxChunk: Int = 256): DataFrame = {
    require(maxChunk >= 1, s"maxChunk must be >= 1, got $maxChunk")
    val (codes, cents, p) = loadPqIndexStore(spark, root, name, srvid)
    val subDim = p.dim / p.m
    val qs = queries
      .select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq: Seq[Double]))
      .sortBy(_._1)
    require(qs.nonEmpty, "pqKnnJoinStore: empty query batch")
    // a duplicated query id would duplicate every candidate row under
    // the rank window (each corpus row explodes once per struct) —
    // silently wrong top-k, so refuse loudly
    require(qs.map(_._1).distinct.size == qs.size,
      "pqKnnJoinStore: duplicate query ids in the batch")
    qs.foreach { case (qid, v) =>
      require(v.size == p.dim,
        s"pqKnnJoinStore: query $qid dim ${v.size} != index dim ${p.dim}")
    }
    // The per-query distance tables are inlined into the plan as
    // literal arrays (Q·m·|codebook| longs inside one exploded struct
    // array); an unbounded Q fails via Catalyst plan-size/codegen
    // blowup instead of degrading. Chunk the batch: each chunk's plan
    // is bounded, chunks union — per-query top-k is independent of the
    // other queries, so the union is exactly the one-batch result. A
    // chunk re-scans the codes tier, which is the graceful degradation
    // (Q/256 memory-bandwidth passes, never a broken plan).
    val parts = qs.grouped(maxChunk).map { chunk =>
      val stacked = explode(array(chunk.map { case (qid, v) =>
        struct(lit(qid).as("qid"),
          pqAdcCol(cents, p.m, subDim, v.map(e4Floor)).as("adc_dist"))
      }: _*))
      val scored = codes.select(col("vec_id"), stacked.as("s"))
        .select(col("s.qid").as("qid"), col("vec_id"),
          col("s.adc_dist").as("adc_dist"))
        .filter(col("vec_id") =!= col("qid"))
      graft.operators.TopK.topKPerGroup(scored,
        groupKeys = Seq(col("qid")),
        orderBy = Seq(col("adc_dist").asc, col("vec_id").asc), k = topK)
    }.toSeq
    parts.reduce(_ unionAll _)
  }

  /** Compact a PQ index's codes partition after repeated admissions —
    * the layout fold of the IVF sibling, one atomic swap, rows
    * unchanged (and stale-generation rows, already invisible to every
    * reader, are physically aged out by the fold). */
  def compactPqIndexStore(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int): Unit = {
    requireIndexName(name)
    graft.core.MutationLock.withPartitionLock(
        root, s"powa_index_$name", srvid) {
      val (codes, _, _) = loadPqIndexStore(spark, root, name, srvid)
      val store = new graft.core.Store(spark, root)
      // same data-volume file rule as the build (savePqIndexStore);
      // the count is one codes-tier scan — the tier this op rewrites
      // anyway
      store.overwritePartition(s"powa_index_$name", "pq_codes", srvid,
        codes.repartitionByRange(pqCodesFileCount(codes.count()),
          col("vec_id")))
    }
  }

  /** Parquet file count for a PQ codes tier: rows ÷ rows-per-file,
    * min 1 — the one-file-per-~128 MB rule (optimization guide §6) for
    * ~16+m-byte rows. 4M rows/file ≈ 64-190 MB at m = 8-32; derived
    * from data volume so a small index is ONE file (one footer read
    * per manifest publish, one scan task per probe) and a 10⁹-vector
    * index still splits into ~250 files. */
  private def pqCodesFileCount(rows: Long,
      targetRowsPerFile: Long = 4000000L): Int =
    math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt

  /** Probe a store-resident IVF index with ZERO caller-supplied build
    * constants: the codebook, the cell layout, AND the probe width all
    * come from the index's own persisted tiers
    * ([[loadIvfIndexStore]] + the `params` tier's `nprobe_default`) —
    * the operational probe entry point. A caller can widen recall per
    * query batch via `nprobe`; it can never re-shape the geometry. */
  def probeIvfIndexStore(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nprobe: Option[Int] = None): DataFrame = {
    val (cells, cb, params) = loadIvfIndexStoreP(spark, root, name, srvid)
    probeIvfIndex(cells, cb, queries, idCol, vecCol, k,
      nprobe.getOrElse(params.nprobeDefault))
  }

  /** Probe a persisted IVF index with a query batch: each query is
    * assigned to its `nprobe` BEST cells by the same broadcast-codebook
    * ranking the build's argmax used (ties prefer the lower cell id,
    * identical to the build rule; nprobe = 1 is exactly the original
    * single-cell probe), the DISTINCT probed cells (≤ nprobe·batch —
    * bounded) become an `IN` partition filter on the cells table — the
    * scan opens only those partitions/files — and the in-cell
    * candidates re-rank by exact cosine, top-k per query. Cells
    * partition the corpus, so multi-probe candidates are disjoint
    * across a query's probed cells — no dedup stage needed. `nprobe`
    * is the standard IVF recall/IO dial: each +1 opens one more
    * cell's files per query. Only batch-sized frames ever move. */
  def probeIvfIndex(cells: DataFrame, codebook: Seq[(Long, Seq[Double])],
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 1): DataFrame = {
    require(codebook.nonEmpty, "probeIvfIndex: codebook must be non-empty")
    require(nprobe >= 1 && nprobe <= codebook.size,
      s"nprobe must be in [1, ${codebook.size}], got $nprobe")
    NativeFunctions.register(cells.sparkSession)
    val ranked = array(codebook.map { case (cid, cv) =>
      struct(cosine(col("qv"), typedLit(cv)).as("ccos"),
        lit(-cid).as("ncid")) }: _*)
    // sort asc then reverse → (ccos desc, ncid desc) = ties to the
    // LOWER cell id, the argmax rule generalized to a ranking
    val probed = transform(
      slice(reverse(array_sort(ranked)), 1, nprobe),
      x => -x.getField("ncid"))
    val q = queries.select(col(idCol).as("qid"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qcell", explode(probed))
      .localCheckpoint() // batch-sized by contract (nprobe·batch rows)
    val qCells = q.select(col("qcell")).distinct().collect()
      .map(_.getLong(0)) // <= nprobe·|batch| cells — bounded collect
    graft.operators.TopK.topKPerGroup(
      cells.filter(col("cell").isin(qCells.toIndexedSeq: _*))
        .join(broadcast(q),
          col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          cosine(col("v"), col("qv")).as("cos")),
      groupKeys = Seq(col("qid")),
      orderBy = Seq(col("cos").desc, col("vec_id").asc),
      k = k)
  }

  /** Compact a store-resident IVF index partition: repeated batch
    * admissions ([[appendIvfIndexStore]]) leave one file per
    * (append × cell-range), degrading probe file-skipping toward
    * opening O(appends) small files per cell. This folds the partition
    * back to ~one file per cell with ONE atomic swap — rows unchanged
    * (a pure layout fold; the index sibling of the engine's history
    * compaction), probes see the complete old or complete new
    * generation, and the predecessor is retained one cycle for pinned
    * readers. Run on the admission cadence, like the engine's
    * purge-phase compaction. */
  def compactIvfIndexStore(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, srvid: Int): Unit = {
    requireIndexName(name) // before the name-derived lock path
    // lock BEFORE the pinned read: the fold's input manifest and its
    // replacing swap must be one critical section, or a batch admitted
    // between them is rebuilt away (MutationLock scaladoc)
    graft.core.MutationLock.withPartitionLock(
        root, s"powa_index_$name", srvid) {
      val (cells, cb) = loadIvfIndexStore(spark, root, name, srvid)
      val store = new graft.core.Store(spark, root)
      store.overwritePartition(s"powa_index_$name", "cells", srvid,
        cells.repartitionByRange(math.max(cb.size, 1), col("cell")))
    }
  }

  /** Squared L2 distance between an integer vector column and a literal
    * integer centroid — the native codegen'd expression
    * (graft.functions.Dist2): integer sums are associative and exact,
    * so it is value-identical to the interpreted
    * `aggregate(zip_with(...))` form it replaced, and it keeps the
    * k-distances-per-row assignment loop inside whole-stage codegen at
    * fleet-size codebooks (the caveat [[assignCellsDot]] existed for).
    * Callers register via [[NativeFunctions.register]]. */
  private def dist2Int(v: Column, cv: Seq[Long]): Column =
    NativeFunctions.dist2(v, typedLit(cv))

  /** INTEGER-QUANTIZED Lloyd iterations — k-means training for the IVF
    * codebook that is safe to verify across engines: float-mean k-means
    * is order-dependent (a parallel sum of doubles re-associates), so
    * instead the vectors are quantized to e4 fixed point
    * (`floor(x·10⁴)` per element, exact in IEEE double) and every step
    * is integer arithmetic — squared-L2 assignment (min dist, tie →
    * lowest centroid id) and integer-division means (`DIV`, matching
    * DuckDB `//`). Deterministic in any execution order, any engine.
    *
    * Scale shape: each iteration is one PROJECTION of the corpus
    * against the literal codebook (zero exchanges — same argmax-as-
    * array_max trick as [[ivfTopK]]) plus one k×dim-key hash aggregate;
    * the only driver traffic is the k×dim codebook per iteration — the
    * standard driver-resident-codebook assumption of every IVF build.
    * Seeds are the k lowest-id vectors; a centroid that loses all its
    * members drops out (both engines reproduce the drop).
    */
  def kmeansCentroidsInt(
      embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    NativeFunctions.register(embeddings.sparkSession)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = embeddings.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * 10000).cast("long")).as("qv"))
      .localCheckpoint() // scanned every iteration — pin it once
    // seeds = the k LOWEST ids (orderBy + limit, not `id < k`, so the
    // rule holds for non-contiguous / non-zero-based id spaces too)
    var cents: Seq[(Long, Seq[Long])] = q.orderBy(col("id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .toSeq.sortBy(_._1)
    require(cents.nonEmpty,
      "kmeansCentroidsInt: empty corpus yields no seed centroids")
    for (_ <- 1 to iters) {
      // native argmin loop + id lookup (see pqCodebook's cellCol note:
      // the struct-argmax form's generated code exceeded JIT limits at
      // larger k; identical tie rule — centroids sorted ascending)
      val cell = element_at(typedLit(cents.map(_._1)),
        NativeFunctions.argminDist2(col("qv"),
          typedLit(cents.map(_._2))) + 1)
      val sums = q.withColumn("cell", cell)
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "val")))
        .groupBy(col("cell"), col("pos"))
        .agg(expr("sum(val) DIV count(1)").as("cval"))
        .collect()
      cents = sums.groupBy(_.getLong(0)).toSeq.map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
      }.sortBy(_._1)
    }
    cents.flatMap { case (cid, cv) =>
      cv.zipWithIndex.map { case (v, pos) => (cid, pos.toLong, v) }
    }.toDF("centroid", "pos", "value")
  }

  /** Trained integer centroids frame → (cid, e4 vector) rows for
    * [[assignCellsInt]] — the same bounded k×dim driver-resident
    * collect as [[kmeansCodebook]], kept in integer space. */
  def intCodebook(centroids: DataFrame): Seq[(Long, Seq[Long])] =
    centroids.collect()
      .groupBy(_.getLong(0)).toSeq.map { case (cid, rows) =>
        (cid, rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq)
      }.sortBy(_._1)

  /** Nearest-centroid cell assignment in the SAME e4 integer space the
    * codebook was trained in — squared-L2 argmin, tie → lowest
    * centroid id, so the assignment is engine-exact and agrees with
    * the training iterations' own assignment step. Adds a `cell`
    * column; every input column passes through. Zero exchanges: one
    * projection of the corpus against the literal codebook (the
    * array_max-as-argmax trick of [[ivfTopKWith]]) — the IVF
    * list-assignment pass, scan speed at any corpus size. */
  def assignCellsInt(embeddings: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Long])]): DataFrame = {
    require(cents.nonEmpty, "assignCellsInt: codebook must be non-empty")
    NativeFunctions.register(embeddings.sparkSession)
    // native argmin loop + id lookup (pqCodebook's cellCol note).
    // The argmin's first-minimum rule realizes the documented
    // tie -> lowest-id contract only over an id-ASCENDING codebook, so
    // sort here rather than assume the caller did (the old
    // array_max(struct(-d,-id)) form was order-independent)
    val sorted = cents.sortBy(_._1)
    val cell = element_at(typedLit(sorted.map(_._1)),
      NativeFunctions.argminDist2(col("qv"),
        typedLit(sorted.map(_._2))) + 1)
    embeddings
      .withColumn("qv", transform(col(vecCol),
        x => floor(x.cast("double") * 10000).cast("long")))
      .withColumn("cell", cell)
      .drop("qv")
  }

  /** Scale-path cell assignment: argmin ‖x−c‖² rewritten as
    * argmax (2·x·c − ‖c‖²), evaluated as k CODEGEN'D native dot
    * products per row ([[dot]]) — the form that stays on whole-stage
    * codegen at fleet-size codebooks, where [[assignCellsInt]]'s
    * interpreted HOF distance would become the per-row hot loop the
    * NOTES rule forbids. Double space: a near-equidistant boundary
    * point can land in a different cell than the integer path (which
    * is why the ORACLE queries pin assignCellsInt at small k and this
    * is the production path). Tie → lowest centroid id. Zero
    * exchanges, same pass-through contract. */
  def assignCellsDot(embeddings: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    NativeFunctions.register(embeddings.sparkSession)
    val best = array_max(array(cents.map { case (cid, cv) =>
      val c2 = cv.map(x => x * x).sum
      struct((dot(col("qv"), typedLit(cv)) * 2 - lit(c2)).as("score"),
        lit(-cid).as("ncid"))
    }: _*))
    embeddings
      .withColumn("qv", asDouble(col(vecCol)))
      .withColumn("cell", -best.getField("ncid"))
      .drop("qv")
  }

  /** SemDeDup-style semantic dedup: pairwise cosine ONLY within a
    * cluster cell (from [[assignCellsInt]]), drop every vector that has
    * a lower-id near-dup (cos ≥ threshold) in its cell; survivors keep
    * their cell. The min-id keeper is the deterministic stand-in for
    * SemDeDup's keep-one-per-group rule.
    *
    * This is the at-scale form of [[cosineDupPairs]]: the self-join is
    * keyed on the cell, so the pairwise cost is Σ|cell|² instead of
    * N² (or bucket-collision luck) — the whole point of clustering
    * before dedup. A skewed mega-cell means the codebook k is too
    * small; raise k (cells shrink quadratically in value). One
    * shuffle on cell for the join, one on id for the drop anti-join.
    */
  def semanticDedup(assigned: DataFrame, idCol: String, vecCol: String,
      cellCol: String, thresholdPpm: Long): DataFrame = {
    NativeFunctions.register(assigned.sparkSession)
    val e = assigned.select(col(idCol).as("id"),
        asDouble(col(vecCol)).as("v"), col(cellCol).as("cell"))
      .localCheckpoint() // both sides of the self-join scan it
    val l = e.select(col("id").as("i"), col("v").as("vi"), col("cell"))
    val r = e.select(col("id").as("j"), col("v").as("vj"), col("cell"))
    val dropped = l.join(r, Seq("cell")).filter(col("i") < col("j"))
      .filter(TextOps.ppm(cosine(col("vi"), col("vj"))) >= thresholdPpm)
      .select(col("j").as("id")).distinct()
    e.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cell"))
  }

  /** Trained integer centroids → double codebook for [[ivfTopKWith]]. */
  def kmeansCodebook(centroids: DataFrame): Seq[(Long, Seq[Double])] =
    centroids.collect()
      .groupBy(_.getLong(0)).toSeq.map { case (cid, rows) =>
        (cid, rows.sortBy(_.getLong(1)).map(_.getLong(2).toDouble / 10000.0d).toSeq)
      }.sortBy(_._1)

  /** How many hyperplanes `cosineDupPairs` needs at a given corpus size:
    * the expected bucket population is n / 2^planes, and the self-join
    * cost is quadratic IN THE BUCKET, so planes must GROW with the
    * corpus — planes = ceil(log2(n / targetBucket)). A fixed small
    * plane count (like the 2-plane / 4-bucket test configuration) is a
    * correctness fixture, NOT the 100 TB setting: at n = 10^9 and a
    * 1024-vector target bucket this returns ~20 planes, keeping
    * per-bucket work ~10^6 comparisons. Recall drops as planes grow
    * (a near-dup pair straddling any plane is missed) — the standard
    * answer is several independent hash tables (seeded plane families),
    * each at this planes count. */
  def planesForCorpus(n: Long, targetBucket: Long = 1024L): Int = {
    require(n > 0 && targetBucket > 0)
    math.max(1, math.ceil(
      math.log(n.toDouble / targetBucket.toDouble) / math.log(2.0)).toInt)
  }

  /** Per-table seeded plane weights — independent hyperplane families
    * for multi-table LSH (seed prefix `t<table>:`). */
  def planeWeights(table: Int, plane: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      ((Hashing.h60Scala(s"t$table:$plane:$i") % 2001L) - 1000L).toDouble / 1000.0d
    }

  /** Sign-bit bucket for one seeded table. */
  def lshBucketSeeded(v: Column, dim: Int, planes: Int, table: Int): Column =
    (0 until planes).map { p =>
      when(dot(v, typedLit(planeWeights(table, p, dim).toSeq)) > 0.0d,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Multi-table LSH near-dup pairs: candidates are pairs sharing a
    * bucket in ANY of `tables` independently-seeded hyperplane
    * families, verified by exact cosine once. This is the standard
    * recall repair for the planes-vs-bucket-size tension that
    * [[planesForCorpus]] quantifies: per-table recall for similarity r
    * is ~r^planes, overall ~1-(1-r^planes)^tables, while each table
    * keeps its buckets small enough to self-join. The shuffle key is
    * (table, bucket); vectors are joined back from the single
    * materialized frame only for surviving candidates. */
  def cosineDupPairsMulti(
      embeddings: DataFrame, idCol: String, vecCol: String,
      planes: Int, dim: Int, thresholdPpm: Long, tables: Int): DataFrame = {
    NativeFunctions.register(embeddings.sparkSession)
    val e = Partitioning.spread(embeddings)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("buckets", array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          lshBucketSeeded(col("v"), dim, planes, t).as("b"))): _*))
      .localCheckpoint()
    // candidates shuffle only (id, table, bucket) — no vectors
    val banded = e.select(col("id"), explode(col("buckets")).as("tb"))
      .select(col("id"), col("tb.t").as("t"), col("tb.b").as("b"))
    val l = banded.select(col("id").as("i"), col("t"), col("b"))
    val r = banded.select(col("id").as("j"), col("t"), col("b"))
    val cands = l.join(r, Seq("t", "b")).filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    cands
      .join(e.select(col("id").as("i"), col("v").as("vi")), Seq("i"))
      .join(e.select(col("id").as("j"), col("v").as("vj")), Seq("j"))
      .select(col("i"), col("j"),
        TextOps.ppm(cosine(col("vi"), col("vj"))).as("cos_ppm"))
      .filter(col("cos_ppm") >= thresholdPpm)
  }

  /** Embedding-cosine near-duplicate pairs (i < j, cosine >= threshold):
    * LSH-bucket candidate generation (pairs must share the full sign
    * bucket) followed by exact cosine verification of candidates only —
    * the same candidates-then-verify shape as MinHash dedup, with the
    * bucket id as the shuffle key. Approximate by construction (a
    * near-dup straddling a hyperplane is missed; more planes ↔ fewer
    * candidates, lower recall — [[cosineDupPairsMulti]] repairs recall
    * with independent tables). */
  def cosineDupPairs(
      embeddings: DataFrame, idCol: String, vecCol: String,
      planes: Int, dim: Int, thresholdPpm: Long): DataFrame = {
    NativeFunctions.register(embeddings.sparkSession)
    val e = Partitioning.spread(embeddings)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", lshBucket(col("v"), dim, planes))
      .localCheckpoint()
    val l = e.select(col("id").as("i"), col("v").as("vi"), col("bucket"))
    val r = e.select(col("id").as("j"), col("v").as("vj"), col("bucket"))
    l.join(r, Seq("bucket")).filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        TextOps.ppm(cosine(col("vi"), col("vj"))).as("cos_ppm"))
      .filter(col("cos_ppm") >= thresholdPpm)
  }

  /** Semantic decontamination against a reference set: flag every
    * corpus vector whose cosine to ANY reference vector (the eval/
    * benchmark embeddings) reaches `thresholdPpm` — the embedding-
    * space counterpart of n-gram decontamination (TextOps
    * .decontaminate catches verbatim leakage; this catches paraphrase
    * and translation leakage that shares no n-gram). Reports the
    * best-matching reference id and score per flagged vector.
    *
    * Scale shape: the reference set is eval-sized (thousands), so it
    * broadcasts and the corpus streams through one scan scoring
    * |ref| dots per row — linear, zero shuffle before the final
    * argmax projection (array_max over the per-row score structs, no
    * per-row explode). The corpus side never joins itself. */
  def semanticContamination(corpus: DataFrame, refs: DataFrame,
      idCol: String, vecCol: String, thresholdPpm: Long): DataFrame = {
    NativeFunctions.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    // eval-sized driver collect, same bound as every codebook here;
    // each ref becomes ONE literal struct in the scoring expression, so
    // the plan grows linearly with |refs| — thousands of refs is the
    // design point (an eval suite), not a second corpus
    val refVecs = refs.select(col(idCol).cast("long"),
        asDouble(col(vecCol)))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    // array() of zero literal structs would fail at analysis time
    // inside array_max — reject the empty eval set loudly instead
    require(refVecs.nonEmpty,
      "semanticContamination: reference set is empty")
    val scored = array(refVecs.map { case (rid, rv) =>
      struct(TextOps.ppm(cosine(col("v"), typedLit(rv))).as("cos_ppm"),
        lit(-rid).as("nrid"))
    }: _*)
    corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("best", array_max(scored))
      .select(col(idCol),
        col("best.cos_ppm").as("cos_ppm"),
        (-col("best.nrid")).as("ref_id"))
      .filter(col("cos_ppm") >= thresholdPpm)
  }

  /** Multi-probe LSH ANN (Lv et al. 2007): probe the query's bucket
    * AND every single-bit-flip neighbor bucket — the planes+1 buckets
    * a near-miss vector most likely fell into. The standard recall
    * repair that does NOT grow the index (multi-TABLE LSH multiplies
    * index size by `tables`; multi-probe multiplies only query-time
    * bucket reads), which at a 100 TB index is the difference between
    * a config change and a rebuild. In-plan probe predicate (bucket
    * XOR against the broadcast query bucket) — no driver collect, and
    * the bucket filter stays pushable ahead of the cosine. */
  def lshTopKMultiProbe(embeddings: DataFrame, idCol: String,
      vecCol: String, queryId: Long, k: Int, planes: Int,
      dim: Int): DataFrame = {
    NativeFunctions.register(embeddings.sparkSession)
    val e = embeddings.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", lshBucket(col("v"), dim, planes))
    val q = e.filter(col(idCol) === queryId)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    val probeHit = (0 until planes)
      .map(p => col("bucket") === col("qbucket").bitwiseXOR(lit(1L << p)))
      .foldLeft(col("bucket") === col("qbucket"))(_ || _)
    e.filter(col(idCol) =!= queryId)
      .join(broadcast(q), probeHit)
      .select(col(idCol), cosine(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Maximal-marginal-relevance selection — the diversity-aware
    * retrieval/curation pick (Carbonell & Goldstein 1998): greedily
    * choose k vectors maximizing `λ·relevance − (1−λ)·max-similarity to
    * the already-chosen`, in the integer squared-L2 form
    * `argmax (1e6−λppm)·min_s d2(c,s) − λppm·d2(c,q)` — close to the
    * query BUT far from each other, which is what a representative
    * context window or a diverse fine-tuning subset needs (plain top-k
    * returns k near-duplicates when the corpus has them).
    *
    * Deterministic: e4 fixed point, native codegen'd integer Dist2,
    * ties → lowest id. Driver-iterative like [[kmeansCentroidsInt]] —
    * k corpus scans, each a zero-exchange projection against ≤ k
    * driver-resident selected vectors (bounded state, the standard MMR
    * shape) followed by a one-row max aggregate; nothing corpus-sized
    * ever reaches the driver. */
  def mmrSelect(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, lambdaPpm: Long = 700000L): DataFrame = {
    require(k >= 1 && lambdaPpm >= 0 && lambdaPpm <= 1000000L)
    NativeFunctions.register(embeddings.sparkSession)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = embeddings.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * 10000).cast("long")).as("qv"))
      .localCheckpoint() // scanned once per pick — pin it
    val qVec = q.filter(col("id") === queryId).select(col("qv"))
      .collect() match {
        case Array(r) => r.getSeq[Long](0).toSeq
        case _ => throw new IllegalArgumentException(s"no vector $queryId")
      }
    val withDq = q.filter(col("id") =!= queryId)
      .withColumn("dq", dist2Int(col("qv"), qVec))
    var selected = Vector.empty[(Long, Seq[Long], Long, Long)]
    for (t <- 1 to k) {
      // no exclusion on the first pick — a sentinel id would silently
      // ban a legitimate vector carrying that id from every pick
      val remaining =
        if (selected.isEmpty) withDq
        else withDq.filter(!col("id").isInCollection(selected.map(_._1)))
      val minSel =
        if (selected.isEmpty) lit(0L)
        else array_min(array(selected.map { case (_, sv, _, _) =>
          dist2Int(col("qv"), sv) }: _*))
      val scored = remaining.withColumn("score",
        minSel * lit(1000000L - lambdaPpm) - col("dq") * lit(lambdaPpm))
      // one-pass argmax: ties resolve to the LOWEST id via -id in the
      // struct ordering (no global sort, no TakeOrdered needed)
      val best = scored
        .agg(max(struct(col("score"), (-col("id")).as("nid"))).as("b"))
        .select(col("b.score"), (-col("b.nid")).as("id"))
        .collect()(0)
      val bestId = best.getLong(1)
      val bestVec = q.filter(col("id") === bestId)
        .collect()(0).getSeq[Long](1).toSeq
      selected :+= ((bestId, bestVec, t.toLong, best.getLong(0)))
    }
    selected.map { case (id, _, ord, score) => (ord, id, score) }
      .toDF("pick", idCol, "score")
  }

  /** Embedding-space drift between corpus slices: the e4-integer
    * centroid of every `labelCol` slice (same fixed-point + integer-DIV
    * mean as [[kmeansCentroidsInt]] — deterministic in any execution
    * order and engine), then pairwise squared-L2 between slice
    * centroids. The monitoring question this answers: "did source/crawl
    * X move away from the rest of the corpus in embedding space" —
    * cheap enough to run per ingest batch, sensitive to topic and
    * duplication shifts that length histograms miss.
    *
    * Scale shape: one posexplode projection of the corpus + one hash
    * aggregate keyed on (label, pos) — at most labels×dim rows out, so
    * map-side combine collapses each task; the pairwise stage operates
    * on that labels×dim frame only (corpus-size-independent) and its
    * pos equi-join broadcasts. Nothing downstream of the first
    * aggregate ever scales with the corpus. */
  def labelCentroidDrift(embeddings: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val c = embeddings.select(col(labelCol).as("label"),
        transform(col(vecCol),
          x => floor(x.cast("double") * 10000).cast("long")).as("qv"))
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "val")))
      .groupBy(col("label"), col("pos"))
      .agg(expr("sum(val) DIV count(1)").as("cval"))
    val a = c.select(col("label").as("label_a"), col("pos"),
      col("cval").as("ca"))
    val b = c.select(col("label").as("label_b"), col("pos"),
      col("cval").as("cb"))
    a.join(broadcast(b), Seq("pos"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))
        .as("dist2"))
  }

  /** Int8 scalar quantization of an embedding column: per-vector scale
    * 127/max|x|, elements floor(x·scale) ∈ [−127, 127]. The standard 4×
    * footprint cut before ANN indexing at scale. Pure projection — no
    * shuffle, no join; at 100 TB it is scan-bound, so the interpreted
    * higher-order functions are acceptable here (unlike in join keys,
    * where the hot path demands codegen — see NativeFunctions). All
    * math is float→double widening (exact) plus one double divide and
    * multiply, reproduced bit-for-bit by the oracle. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val xd = (x: Column) => x.cast("double")
    df.select(col(idCol), col(vecCol))
      .withColumn("mx", array_max(transform(col(vecCol), x => abs(xd(x)))))
      .withColumn("scale",
        when(col("mx") === 0d, lit(1.0)).otherwise(lit(127.0) / col("mx")))
      .select(col(idCol), col("scale"),
        transform(col(vecCol), x => floor(xd(x) * col("scale")).cast("int"))
          .as("qvec"))
  }

  // ---------- product quantization (PQ) ----------

  /** e4 fixed-point quantization of one double — THE scale constant of
    * the integer-exact family, single-sourced (column form: [[qvE4]]). */
  private def e4Floor(x: Double): Long = math.floor(x * 10000).toLong

  /** Integer squared-L2 on driver-side vectors — the scalar twin of
    * the native Dist2 expression, shared by every ADC table builder. */
  private def d2Long(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  private def qvE4(idCol: String, vecCol: String) = Seq(
    col(idCol).cast("long").as("id"),
    transform(col(vecCol),
      x => floor(x.cast("double") * 10000).cast("long")).as("qv"))

  /** Product-quantization codebook: the vector splits into `m`
    * contiguous subspaces of `dim/m`, each with its own integer-e4
    * Lloyd codebook (same determinism argument as
    * [[kmeansCentroidsInt]]: e4 fixed point, integer-DIV means,
    * assignment tie → lowest centroid id; seeds = the k lowest ids'
    * subvectors; a centroid losing all members drops out). Returns the
    * driver-resident codebook `sub → [(cid, subvector)]`.
    *
    * Scale shape: each Lloyd pass is ONE projection of the corpus
    * (m·k literal-codebook subspace distances, zero exchanges) + ONE
    * hash aggregate keyed (sub, cell, pos); driver traffic is the
    * k·dim-integer codebook per pass — the standard PQ training
    * assumption. */
  def pqCodebook(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int): Map[Int, Seq[(Long, Seq[Long])]] = {
    NativeFunctions.register(embeddings.sparkSession)
    pqCodebookFrom(
      embeddings.select(qvE4(idCol, vecCol): _*).localCheckpoint(),
      dim, m, k, iters)
  }

  /** [[pqCodebook]] over an ALREADY-materialized e4 frame (id, qv) —
    * lets savePqIndexStore feed ONE corpus projection to both the
    * training passes and the encode pass instead of re-reading the
    * raw embeddings (round-12 review). */
  private[pipeline] def pqCodebookFrom(q: DataFrame,
      dim: Int, m: Int, k: Int, iters: Int): Map[Int, Seq[(Long, Seq[Long])]] = {
    NativeFunctions.register(q.sparkSession)
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val subDim = dim / m
    def sub(s: Int): Column = slice(col("qv"), s * subDim + 1, subDim)
    var cents: Map[Int, Seq[(Long, Seq[Long])]] = {
      // k lowest ids by ORDER — valid for arbitrary id spaces (an empty
      // or sparse low range would otherwise under-seed the codebook)
      val seeds = q.orderBy(col("id")).limit(k).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq.sortBy(_._1)
      require(seeds.nonEmpty,
        "pqCodebook: empty corpus yields no seed centroids")
      (0 until m).map(s => s -> seeds.map { case (id, v) =>
        (id, v.slice(s * subDim, (s + 1) * subDim)) }).toMap
    }
    // The per-subspace assignment is ONE native argmin loop
    // (graft.functions.ArgminDist2) mapped to the centroid id via
    // element_at over the parallel id literal. The composed
    // array_max-of-structs form generated method-sized code per
    // assignment: inside the Generate's consume it overflowed Janino's
    // 64 KB limit (interpreted fallback, round-10 NOTES), and hoisted
    // into a projection it compiled but blew the JIT's ~8 KB bytecode
    // threshold — measured 2× SLOWER than the fallback (SCALE.md "the
    // PQ assignment argmin", round 11). The compact loop JITs and runs
    // at scan speed; ties break to the lowest centroid id exactly like
    // the struct rule (centroids are sorted ascending). PlanSpec pins
    // the no-codegen-fallback shape.
    def cellCol(s: Int): Column =
      element_at(typedLit(cents(s).map(_._1)),
        NativeFunctions.argminDist2(sub(s),
          typedLit(cents(s).map(_._2))) + 1)
    for (_ <- 1 to iters) {
      val sums = q
        .select(explode(array((0 until m).map(s => struct(
          lit(s).as("sub"), cellCol(s).as("cell"), sub(s).as("sv"))): _*))
          .as("x"))
        .select(col("x.sub"), col("x.cell"),
          posexplode(col("x.sv")).as(Seq("pos", "val")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg(expr("sum(val) DIV count(1)").as("cval"))
        .collect()
      cents = sums.toSeq.groupBy(_.getInt(0)).map { case (s, rs) =>
        s -> rs.groupBy(_.getLong(1)).toSeq.map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq)
        }.sortBy(_._1)
      }
    }
    cents
  }

  /** PQ asymmetric-distance (ADC) top-k: every vector is encoded into
    * its per-subspace cells as a pure projection against the literal
    * codebook, the query's (sub, cell) distance table is driver-side
    * (m·k integers), and the approximate distance is the table lookup
    * summed over subspaces — the winning struct carries its
    * query-distance, so encode+lookup fuse into one argmax expression.
    * Zero exchanges end-to-end; top-k is TakeOrdered (PlanSpec pins
    * both). At 10^9 vectors this is the textbook single-scan
    * memory-bandwidth PQ probe (~m·k multiply-adds per row).
    *
    * ADC(x) = Σ_s d²(q_s, centroid(cell_s(x))) ≥ Σ_s min_c d²(q_s, c),
    * with equality for an exact copy of the query — a duplicate always
    * ranks first (PipelineSpec pins it). All integer arithmetic:
    * engine-exact. */
  def pqTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, dim: Int, m: Int, k: Int, iters: Int,
      topK: Int): DataFrame = {
    NativeFunctions.register(embeddings.sparkSession)
    val subDim = dim / m
    val cents = pqCodebook(embeddings, idCol, vecCol, dim, m, k, iters)
    val q = embeddings.select(qvE4(idCol, vecCol): _*)
    val qv = q.filter(col("id") === queryId).collect()(0)
      .getSeq[Long](1).toSeq
    def sub(s: Int): Column = slice(col("qv"), s * subDim + 1, subDim)
    // encode+lookup still fuse into one projection, now as the native
    // argmin + an element_at over the query's per-cell distance table
    // (same tie rule — see pqCodebook's cellCol note)
    val adc = (0 until m).map { s =>
      val qs = qv.slice(s * subDim, (s + 1) * subDim)
      val qds: Seq[Long] = cents(s).map { case (_, cv) => d2Long(qs, cv) }
      element_at(typedLit(qds),
        NativeFunctions.argminDist2(sub(s),
          typedLit(cents(s).map(_._2))) + 1)
    }.reduce(_ + _)
    q.filter(col("id") =!= queryId)
      .select(col("id").as("vec_id"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** IVF-PQ composed index — the production ANN layout at corpus scale
    * (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search"): a coarse IVF cell prunes the corpus to the query's cell,
    * the in-cell candidates are scored by the PQ asymmetric-distance
    * table, and the ADC top `candidates` get an EXACT cosine re-rank —
    * which is what makes the final ranking oracle-verifiable (the
    * approximate stages only select a deterministic candidate set; the
    * scores that order the output are exact).
    *
    * All three stages keep the established scale shapes: the IVF
    * codebook and the PQ codebooks are driver-resident literals
    * (bounded by index parameters, never by corpus size), cell
    * assignment and ADC fuse into pure projections on ONE corpus scan,
    * and the two rank stages are TakeOrdered over `candidates` ≪
    * corpus rows. At 10^9 vectors the cell id doubles as the physical
    * partition key, so the probe reads one partition, scores it at
    * memory bandwidth, and exactly re-ranks a constant-size tail —
    * nothing in the plan grows with corpus size except the pruned
    * scan. Determinism: integer-e4 PQ distances and `(adc, id)` /
    * `(cos desc, id)` tie-breaks at both rank stages.
    *
    * `candidates` trades recall for re-rank cost exactly like nprobe
    * in a production IVF-PQ; PropertySpec pins that a full-cell budget
    * recovers brute-force top-k whenever the true neighbors share the
    * query's cell. */
  def ivfPqTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, dim: Int, nCentroids: Int, m: Int, k: Int,
      iters: Int, candidates: Int, topK: Int): DataFrame = {
    NativeFunctions.register(embeddings.sparkSession)
    val subDim = dim / m
    // coarse stage: sampled IVF codebook (ids < nCentroids), max-cosine
    // cell as a zero-exchange projection — same form as ivfTopKWith
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v"))
    val coarse: Seq[(Long, Seq[Double])] = e
      .filter(col("id") < nCentroids)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val cellOf = -array_max(array(coarse.map { case (cid, cv) =>
      struct(cosine(col("v"), typedLit(cv)).as("ccos"), lit(-cid).as("ncid"))
    }: _*)).getField("ncid")
    // PQ stage: corpus-trained integer codebooks, ADC against the
    // query's distance table — same form as pqTopK, over the cell only
    val cents = pqCodebook(embeddings, idCol, vecCol, dim, m, k, iters)
    val qRow = e.filter(col("id") === queryId)
      .withColumn("cell", cellOf)
      .select(col("v"), col("cell")).collect()(0)
    val qv = qRow.getSeq[Double](0).toSeq
    val qcell = qRow.getLong(1)
    val qvE4v: Seq[Long] = qv.map(e4Floor)
    def subCol(s: Int): Column = slice(col("qv"), s * subDim + 1, subDim)
    val adc = (0 until m).map { s =>
      val qs = qvE4v.slice(s * subDim, (s + 1) * subDim)
      val qds: Seq[Long] = cents(s).map { case (_, cv) => d2Long(qs, cv) }
      element_at(typedLit(qds),
        NativeFunctions.argminDist2(subCol(s),
          typedLit(cents(s).map(_._2))) + 1)
    }.reduce(_ + _)
    val inCell = e.filter(col("id") =!= queryId)
      .withColumn("cell", cellOf).filter(col("cell") === qcell)
      .withColumn("qv", transform(col("v"),
        x => floor(x * 10000).cast("long")))
    val shortlist = inCell
      .select(col("id"), col("v"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("id"))
      .limit(candidates)
    // exact stage: cosine against the literal query vector, re-ranked
    shortlist
      .select(col("id").as("vec_id"), col("adc_dist"),
        cosine(col("v"), typedLit(qv)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(topK)
  }
}
