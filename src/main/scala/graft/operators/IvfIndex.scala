package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecDot
import graft.functions.VectorFunctions.{dot, l2Norm}

/** IVF (inverted-file) approximate nearest neighbor: partition the corpus
  * into `nCells` Voronoi cells around k-means centroids; queries probe only
  * the `nProbe` nearest cells and re-rank exactly inside them.
  *
  * Everything is DataFrame-native and deterministic:
  *  - init: the k vectors with smallest xxhash64(id) (a seeded, order-free
  *    pseudo-random sample — no RNG state, same result on any cluster);
  *  - Lloyd iterations: assign = shuffle-free narrow argmin over the
  *    broadcast centroid array (all nCells distances in one projection);
  *    update = posexplode to (cell, dim) → mean → rebuild arrays via sorted
  *    collect_list — the only shuffles, and they carry O(rows × dims);
  *  - search: probe selection is the same narrow pattern (array_sort of the
  *    per-cell distances, take nProbe) — no window exchange on either side.
  *
  * Compared to [[Similarity.lshTopK]]: IVF adapts to the data distribution
  * (cells follow density) where hyperplane LSH is data-oblivious; the cost
  * is the index-build pass. Both cut the scanned fraction to ~nProbe/nCells.
  */
object IvfIndex {

  /** Driver-local DataFrame over collected rows — a LocalRelation, so
    * downstream reads are literal rows (no cluster job, no lineage).
    * Only for tables BOUNDED by contract (≤ nCells centroid rows). */
  private def localDf(spark: org.apache.spark.sql.SparkSession,
                      rows: Array[org.apache.spark.sql.Row],
                      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Deterministic k-means centroids as (cell_id, centroid: array<double>).
    *
    * Cell count is PRESERVED across Lloyd iterations: a plain mean-update
    * silently omits any cell that attracted zero vectors (the groupBy has
    * no row for it), so on clustered data `nCells` shrinks invisibly and
    * probes select from fewer cells than requested — an ANN recall
    * degradation with no error anywhere. Every empty cell is therefore
    * re-seeded with the point FARTHEST from its assigned centroid (the
    * standard k-means repair; it splits the widest cell). Selection is
    * deterministic: ties order by (distance desc, xxhash64(id), id), and
    * missing cell ids are refilled in ascending order. The driver-side
    * work is bounded by nCells rows (the missing-id anti-join and the
    * farthest-point `limit(nMissing)` — never corpus-sized). If the
    * corpus has fewer distinct points than cells (e.g. all-identical
    * vectors), the re-seed duplicates a point and the duplicate cell
    * simply stays empty — count is still preserved. */
  def centroids(corpus: DataFrame, idCol: String, vecCol: String,
                nCells: Int, iters: Int = 2): DataFrame = {
    val asDouble = transform(col(vecCol), x => x.cast("double"))
    val spark = corpus.sparkSession
    // The ≤ nCells centroid rows are DRIVER-LOCAL by contract (every
    // consumer broadcasts them), so each Lloyd step ends in ONE collect
    // into a LocalRelation instead of a localCheckpoint job + a separate
    // cell-id collect job: same physical aggregate, same doubles
    // bit-for-bit (the values are computed by the identical plan and
    // merely collected rather than cached), half the Lloyd jobs, and —
    // because the next assignment broadcasts literal rows — NO lineage
    // growth across iterations to truncate (r17, guide §5: bounded scalar
    // collects in place of cluster-side round-trips).
    def toLocal(rows: Array[org.apache.spark.sql.Row],
                schema: org.apache.spark.sql.types.StructType): DataFrame =
      localDf(spark, rows, schema)
    // the numbering window runs over ≤ nCells rows (post-limit), so the
    // single partition is intentional; the constant partitionBy key only
    // suppresses Spark's "no partition defined for window" warning, which
    // would otherwise bury real single-partition regressions in the logs.
    val init = corpus
      .select(col(idCol).as("cid"), asDouble.as("centroid"))
      .withColumn("_h", xxhash64(col("cid")))
      .orderBy("_h").limit(nCells)
      .select((row_number().over(Window.partitionBy(lit(0)).orderBy("_h")) - 1).as("cell_id"),
        col("centroid"))
    var centRows = init.collect()
    var cents = toLocal(centRows, init.schema)
    val vecs = corpus.select(col(idCol).as("vid"), asDouble.as("v"))
    // ids are 0..nActual-1 by construction (row_number-1 above) and the
    // re-seed refills exactly the missing ids, so the expected id set is
    // fixed for the whole build — known from the init collect, no count job
    val nActual = centRows.length
    (1 to iters).foreach { _ =>
      val assigned = assignCellsDist(vecs, cents, "v")
      // The mean is ONE elementwise-sum aggregate (VecSumAgg) — the
      // posexplode→avg→collect_list rebuild this replaces shuffled
      // rows×dims exploded rows AND re-ran the interpreted argmin
      // projection once per dimension (transform/array_min are
      // CodegenFallback and collapse past the explode): measured ~2 s of
      // q71's per-pass cost on 2k×64-dim vectors, ~64× redundant work.
      val updated = assigned
        .groupBy("cell_id")
        .agg(graft.functions.VecSum.vecSum(col("v")).as("_s"),
          count(lit(1)).as("_n"))
        .select(col("cell_id"),
          transform(col("_s"), x => x / col("_n")).as("centroid"))
      // ONE job per Lloyd round: the collect below both materializes the
      // round's centroids and serves the empty-cell check driver-side.
      // The farthest-point repair job only runs when a cell emptied.
      val upRows = updated.collect()
      val present = upRows.map(_.getInt(0)).toSet
      val missing = (0 until nActual).filterNot(present).toArray
      centRows =
        if (missing.isEmpty) upRows
        else {
          // operational breadcrumb: the repair sort below re-executes the
          // assignment subplan, so a busy log here explains a slow build
          System.err.println(
            s"[graft.ivf] re-seeding ${missing.length} empty cell(s)")
          val far = assigned
            .select(col("v"), col("_d2"), xxhash64(col("vid")).as("_h"), col("vid"))
            .orderBy(col("_d2").desc, col("_h"), col("vid"))
            .limit(missing.length).collect()
          upRows ++ missing.toSeq.zip(far.toSeq).map { case (cid, r) =>
            org.apache.spark.sql.Row(cid, r.getSeq[Double](0))
          }
        }
      cents = toLocal(centRows, updated.schema)
    }
    cents
  }

  /** All centroids packed into a single-row array column — broadcast-sized
    * (nCells × dims doubles), so cell assignment can happen narrowly per row
    * instead of shuffling a rows×nCells cross product through a window.
    * Centroid norms ride along so per-cell distance is one dot product. */
  private def cellsAsArray(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cell_id"), col("centroid"),
      VecDot.dot(col("centroid"), col("centroid")).as("cn2"))).as("_cells"))

  /** Per-cell (squared-distance, cell_id) structs for one vector, via
    * ‖v‖²+‖c‖²−2·v·c with ‖v‖² precomputed per row (`vn2`) — inside the
    * lambda only VecDot's primitive loop runs per cell, no intermediate
    * array. Squared distance is monotonic in true distance, so the
    * lexicographic struct order still reproduces the argmin with ties
    * broken on cell_id, matching a `ORDER BY dist, cell_id` window. */
  private def distPairs(vec: Column, vn2: Column): Column =
    transform(col("_cells"), c => struct(
      (vn2 + c.getField("cn2") - lit(2.0) * VecDot.dot(vec, c.getField("centroid"))).as("d"),
      c.getField("cell_id").as("id")))

  /** [[assignCells]] plus `_d2` = squared distance to the winning centroid
    * (already computed inside the argmin — keeping it is free). */
  private def assignCellsDist(df: DataFrame, cents: DataFrame, vecCol: String): DataFrame =
    df.crossJoin(broadcast(cellsAsArray(cents)))
      .withColumn("_vn2", VecDot.dot(col(vecCol), col(vecCol)))
      .withColumn("_best", array_min(distPairs(col(vecCol), col("_vn2"))))
      .withColumn("cell_id", col("_best").getField("id"))
      .withColumn("_d2", col("_best").getField("d"))
      .drop("_cells", "_vn2", "_best")

  /** Attach `cell_id` = argmin centroid distance (ties break on cell_id).
    * Shuffle-free: one broadcast of the packed centroid array, one narrow
    * projection computing all nCells distances per row. */
  private def assignCells(df: DataFrame, cents: DataFrame, vecCol: String): DataFrame =
    assignCellsDist(df, cents, vecCol).drop("_d2")

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023): k-means
    * the embedding space into `nCells` Voronoi cells, compare pairs only
    * WITHIN a cell, connect pairs whose exact cosine meets `threshold`,
    * and map every document to the minimum id of its semantic-duplicate
    * component. Returns (id, keep_id) for EVERY corpus row — `keep_id ==
    * id` marks the retained representative (or a semantically unique row),
    * so `filter(col("id") === col("keep_id"))` is the dedup and the rest
    * is the drop list.
    *
    * Scale shape: cell assignment is the shuffle-free broadcast-centroid
    * argmin ([[assignCells]]); the assigned table is materialized ONCE
    * (lazy localCheckpoint) so the within-cell self-join reads cached
    * blocks instead of re-running assignment per side (the q73 lesson);
    * components run driver-state-free through [[DupClusters.components]].
    * The within-cell pair space is O((n/nCells)²·nCells) — SemDeDup's
    * inherent trade: size `nCells` with the corpus (the paper uses
    * ~√n-scale cluster counts) so cells stay bounded, and remember the
    * approximation this buys: a true near-dup pair split across two cells
    * is not compared, exactly like the paper. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nCells: Int = 16, iters: Int = 2): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold ($threshold) must be in (0, 1]")
    val cents = centroids(corpus, idCol, vecCol, nCells, iters)
    val assigned = assignCells(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        l2Norm(col(vecCol)).as("norm")), cents, "vec")
      .localCheckpoint(false)
    val pairs = assigned.select(col("cell_id"), col("id").as("id_a"),
        col("vec").as("vec_a"), col("norm").as("norm_a"))
      .join(assigned.select(col("cell_id"), col("id").as("id_b"),
        col("vec").as("vec_b"), col("norm").as("norm_b")), Seq("cell_id"))
      .filter(col("id_a") < col("id_b") &&
        (dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b"))) >= threshold)
      .select("id_a", "id_b")
    corpus.select(col(idCol).as("id"))
      .join(DupClusters.components(pairs), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("keep_id"))
  }

  /** ANN top-k: probe the `nProbe` nearest cells per query, exact cosine
    * re-rank within them. Output schema matches the other top-k operators.
    * For a query-many-times corpus, build once with [[buildIndex]] /
    * [[saveIndex]] and serve with [[topKFromIndex]] — this one-shot form
    * is build + serve fused. */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
           queries: DataFrame, k: Int, nCells: Int = 16, nProbe: Int = 4,
           iters: Int = 2): DataFrame = {
    val (cents, indexed) = buildIndex(corpus, idCol, vecCol, nCells, iters)
    topKFromIndex(cents, indexed, queries, k, nProbe)
  }

  /** Build the two IVF index tables: `(centroids, postings)` —
    * `centroids(cell_id, centroid)` and
    * `postings(neighbor_id, c_vec, c_norm, cell_id)`, the cell-keyed
    * inverted file. Both are plain DataFrames: persist them with
    * [[saveIndex]] (postings partitioned BY CELL, so serving reads only
    * the probed cells' files) and serve with [[topKFromIndex]]. */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 nCells: Int = 16, iters: Int = 2): (DataFrame, DataFrame) = {
    val cents = centroids(corpus, idCol, vecCol, nCells, iters)
    val indexed = assignCells(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        l2Norm(col(vecCol)).as("c_norm")), cents, "c_vec")
    (cents, indexed)
  }

  /** Persist an index built by [[buildIndex]]: centroids at
    * `<path>/centroids`, postings at `<path>/postings` partitioned by
    * `cell_id` — a query's `nProbe` cells then prune to `nProbe`
    * directories at read time (partition pruning does the inverted-file
    * seek). Doubles round-trip parquet bit-exactly, so a reloaded index
    * serves IDENTICAL results ([[IvfIndexSpec]] pins it). */
  def saveIndex(cents: DataFrame, indexed: DataFrame, path: String): Unit = {
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    indexed.write.mode("overwrite")
      .partitionBy("cell_id")
      .parquet(s"$path/postings")
  }

  /** Incrementally upsert `vectors` into a persisted [[saveIndex]] index
    * — the daily-ingest shape a 100 TB pipeline actually runs, instead
    * of a full rebuild per batch: assign each new vector to its nearest
    * EXISTING centroid (the centroid table is broadcast-sized and
    * unchanged — an IVF index's cells are fixed between re-trainings),
    * then [[MergeByKey.merge]] the assignments into the cell-partitioned
    * postings. Only the touched cells' partitions are read and
    * rewritten; untouched cells are never opened. A re-ingested id
    * REPLACES its previous posting (last-writer-wins; same-cell
    * replacement — an id whose new embedding lands in a DIFFERENT cell
    * would leave a stale twin behind, [[MergeByKey]]'s documented
    * one-partition-per-key constraint; detect that regime with
    * [[cellLoad]] and repair with [[splitCell]]/[[buildIndex]]).
    *
    * Serving afterwards needs no special handling: [[loadIndex]] +
    * [[topKFromIndex]] see one postings row per id, so a full-probe
    * serve equals a brute-force scan over base ∪ batch exactly.
    *
    * @return number of cell partitions rewritten */
  def upsertIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  vectors: DataFrame, idCol: String,
                  vecCol: String): Long = {
    val cents = spark.read.parquet(s"$path/centroids")
    val updates = assignCells(
      vectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        l2Norm(col(vecCol)).as("c_norm")), cents, "c_vec")
    MergeByKey.merge(spark, s"$path/postings", updates,
      Seq("neighbor_id"), Seq("cell_id"), versionCol = "")
  }

  /** Per-cell occupancy audit of a persisted index — the re-train
    * trigger for [[upsertIndex]]'s ingest loop. The scan is pruned to
    * the partition column alone — no vector bytes are read.
    * `rebuild_hint` marks cells holding more than `maxLoadFactor`× the
    * mean — once ingest drift concentrates that much mass in one cell,
    * probing it costs ~`maxLoadFactor`× a balanced cell; split the hot
    * cell in place ([[splitCell]], touched partition only) or re-train
    * the whole quantizer ([[buildIndex]]) on the grown corpus.
    * Output: `(cell_id, n, share, rebuild_hint)`. */
  def cellLoad(spark: org.apache.spark.sql.SparkSession, path: String,
               maxLoadFactor: Double = 4.0): DataFrame = {
    require(maxLoadFactor > 1.0, s"maxLoadFactor ($maxLoadFactor) must be > 1")
    val counts = spark.read.parquet(s"$path/postings")
      .groupBy(col("cell_id").cast("int").as("cell_id"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("_tot"),
      count(lit(1)).as("_cells"))
    counts.crossJoin(broadcast(tot))
      .select(col("cell_id"), col("n"),
        (col("n").cast("double") / col("_tot").cast("double")).as("share"),
        (col("n").cast("double") * col("_cells").cast("double") >
          lit(maxLoadFactor) * col("_tot").cast("double"))
          .as("rebuild_hint"))
  }

  /** Act on [[cellLoad]]'s `rebuild_hint` WITHOUT a full re-train: split
    * one hot cell into `kSub` sub-cells, touching only that cell's
    * postings partition — the incremental-maintenance step a daily
    * [[upsertIndex]] ingest loop runs when drift concentrates mass into
    * a cell (probing a `maxLoadFactor`× cell costs `maxLoadFactor`× a
    * balanced one; a full [[buildIndex]] re-train re-reads the whole
    * corpus).
    *
    * Mechanics: the hot cell's postings (a partition-pruned read — no
    * other cell's vector bytes are opened) re-seed `kSub` sub-centroids
    * through the same deterministic [[centroids]] machinery, postings
    * re-assign to the nearest sub-centroid, and the sub-cells PUBLISH
    * under FRESH ids (max existing id + 1…kSub) while the hot id
    * RETIRES — reusing it would leave a stale partition directory
    * behind if its sub-cell came back empty. Write order is
    * crash-considered: new partitions land first (staged swap), the old
    * directory is deleted second, the centroid table swaps last — until
    * the final swap, serving still probes the OLD centroid set, so the
    * one transiently-wrong window is the deleted-dir gap closed by the
    * atomic centroid publish. Like [[upsertIndex]], this is a
    * single-writer maintenance op by contract.
    *
    * A full-probe serve over the split index equals the pre-split one
    * exactly (same postings, finer partition); at fixed nProbe the
    * split cell's region now gets `kSub`-resolution probes — recall can
    * only improve there (IvfIndexSpec pins both).
    *
    * @return the fresh cell ids, ascending */
  def splitCell(spark: org.apache.spark.sql.SparkSession, path: String,
                cellId: Int, kSub: Int, iters: Int = 2): Seq[Int] = {
    require(kSub >= 2, s"kSub ($kSub) must be >= 2 — a 1-way split is a rename")
    // ONE collect of the ≤ nCells centroid table into a LocalRelation
    // serves the membership check, maxId, AND every downstream read
    // (re-assign broadcast, the centroid-table swap) — replaces the
    // checkpoint job + id-collect job pair, and is safe to read after the
    // directory is atomically replaced below (rows live on the driver)
    val centQ = spark.read.parquet(s"$path/centroids")
      .select(col("cell_id").cast("int").as("cell_id"), col("centroid"))
    val centRows = centQ.collect()
    val cents = localDf(spark, centRows, centQ.schema)
    val centIds = centRows.map(_.getInt(0))
    require(centIds.count(_ == cellId) == 1,
      s"cell $cellId is not in the centroid table at $path")
    val maxId = centIds.max
    // partition-pruned: only the hot cell's files are opened; eager
    // checkpoint because its directory is deleted before the re-write
    val hot = spark.read.parquet(s"$path/postings")
      .filter(col("cell_id").cast("int") === cellId)
      .select("neighbor_id", "c_vec", "c_norm")
      .localCheckpoint(true)
    val hotN = hot.count()
    require(hotN >= kSub,
      s"cell $cellId has $hotN postings < kSub=$kSub — a split cannot seed" +
        " that many sub-cells; lower kSub or leave the cell alone")
    // centroids() is LocalRelation-backed, and the id-shift select folds
    // into it (ConvertToLocalRelation) — both consumers (re-assign,
    // centroid swap) read literal rows, and the id collect is job-free
    val sub = centroids(hot, "neighbor_id", "c_vec", kSub, iters)
      .select((col("cell_id") + lit(maxId + 1)).cast("int").as("cell_id"),
        col("centroid"))
    // The ids actually PUBLISHED: centroids() can return fewer than kSub
    // cells (duplicate vectors collapse seeds; a Lloyd round can empty a
    // cell) — the contract is ids == the new centroid rows, never an
    // assumed arithmetic range that could disagree with the table.
    val newIds = sub.select("cell_id").collect().map(_.getInt(0)).sorted.toSeq
    val reassigned = assignCells(hot, sub, "c_vec")
      .select(col("neighbor_id"), col("c_vec"), col("c_norm"),
        col("cell_id"))
    graft.sources.ParquetLake.overwritePartitions(reassigned,
      s"$path/postings", Seq("cell_id"))
    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(
      new org.apache.hadoop.fs.Path(s"$path/postings/cell_id=$cellId"), true)
    graft.sources.ParquetLake.overwritePartitions(
      cents.filter(col("cell_id") =!= cellId).unionByName(sub),
      s"$path/centroids", Nil)
    newIds
  }

  /** The SHRINK counterpart of [[splitCell]]: merge every cell holding
    * less than `minLoadFactor`× the mean posting count into its nearest
    * SURVIVING centroid. [[splitCell]] is one-way-finer (each split
    * retires one id and publishes fresh ones), so a long-running
    * [[upsertIndex]] ingest loop monotonically grows the centroid table
    * and accumulates cold, tiny cells — every one of which still costs a
    * probe-selection slot and a partition directory. This is the
    * periodic compaction that loop runs.
    *
    * Scale shape: only the LIGHT cells' postings are read
    * (partition-pruned), re-assigned via the broadcast survivor-centroid
    * argmin, and only the RECEIVING cells' partitions are rewritten
    * (existing ∪ received, staged swap); untouched cells are never
    * opened. Write order is [[splitCell]]'s crash-considered sequence:
    * enlarged receiver partitions land first (staged swap), light
    * directories are deleted second, the SHRUNK centroid table publishes
    * last — until the final publish, serving still probes the old
    * centroid set, and the transient light-dir/receiver-dir duplication
    * window closes with the directory deletes. Single-writer maintenance
    * op by contract, like the rest of the index-mutation family.
    *
    * A full-probe serve over the merged index equals the pre-merge one
    * exactly (same postings, coarser partition); at fixed nProbe the
    * merged regions now resolve through their receivers — recall there
    * follows the receiver geometry (IvfIndexSpec pins the exact full-
    * probe equality and the untouched-partition byte-stability).
    *
    * @return the retired (merged-away) cell ids, ascending */
  def mergeCells(spark: org.apache.spark.sql.SparkSession, path: String,
                 minLoadFactor: Double = 0.25): Seq[Int] = {
    require(minLoadFactor > 0.0 && minLoadFactor < 1.0,
      s"minLoadFactor ($minLoadFactor) must be in (0, 1) — a fraction of" +
        " the mean cell load")
    // ONE collect of the ≤ nCells centroid table into a LocalRelation
    // (replaces the checkpoint + id-collect job pair; rows live on the
    // driver, so reading them after the directory swap below is safe)
    val centQ = spark.read.parquet(s"$path/centroids")
      .select(col("cell_id").cast("int").as("cell_id"), col("centroid"))
    val centRows = centQ.collect()
    val cents = localDf(spark, centRows, centQ.schema)
    // ≤ nCells rows each, driver-side by design (cellLoad's own contract);
    // a centroid with NO postings at all (a split sub-cell that won no
    // rows) is absent from the load table and trivially below any floor
    val loadRows = cellLoad(spark, path)
      .select(col("cell_id"), col("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val centIds = centRows.map(_.getInt(0))
    val mean = loadRows.values.sum.toDouble / math.max(centIds.length, 1)
    val lightIds = centIds
      .filter(id => loadRows.getOrElse(id, 0L) < minLoadFactor * mean)
      .sorted.toSeq
    if (lightIds.isEmpty) return Seq.empty
    // survivor existence is decidable from the ALREADY-collected id set —
    // no extra scan job (the centroid table is ≤ nCells rows by contract)
    require(centIds.exists(id => !lightIds.contains(id)),
      s"mergeCells($path, $minLoadFactor): every cell is below the floor —" +
        " nothing would survive to receive the postings; re-train with" +
        " buildIndex instead")
    // LocalRelation filter folds at optimize time — no checkpoint needed
    val survivors = cents.filter(!col("cell_id").isin(lightIds.map(Integer.valueOf): _*))
    // partition-pruned: only the light cells' files are opened; eager
    // checkpoint because their directories are deleted before the publish
    val lightPostings = spark.read.parquet(s"$path/postings")
      .filter(col("cell_id").cast("int").isin(lightIds.map(Integer.valueOf): _*))
      .select("neighbor_id", "c_vec", "c_norm")
      .localCheckpoint(true)
    val received = assignCells(lightPostings, survivors, "c_vec")
      .select(col("neighbor_id"), col("c_vec"), col("c_norm"), col("cell_id"))
      .localCheckpoint(true)
    val targetIds = received.select("cell_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    // receivers rewrite as existing ∪ received — again partition-pruned
    val existing = spark.read.parquet(s"$path/postings")
      .filter(col("cell_id").cast("int").isin(targetIds.map(Integer.valueOf): _*))
      .select(col("neighbor_id"), col("c_vec"), col("c_norm"),
        col("cell_id").cast("int").as("cell_id"))
    graft.sources.ParquetLake.overwritePartitions(
      existing.unionByName(received), s"$path/postings", Seq("cell_id"))
    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    lightIds.foreach { id =>
      hfs.delete(
        new org.apache.hadoop.fs.Path(s"$path/postings/cell_id=$id"), true)
    }
    graft.sources.ParquetLake.overwritePartitions(
      cents.filter(!col("cell_id").isin(lightIds.map(Integer.valueOf): _*)),
      s"$path/centroids", Nil)
    lightIds
  }

  /** One MAINTENANCE SWEEP of a persisted index — the policy an ingest
    * loop actually runs between [[upsertIndex]] batches, composing the
    * two repair primitives off a single [[cellLoad]] audit snapshot:
    * every cell flagged `rebuild_hint` (> `maxLoadFactor`× the mean)
    * SPLITS `kSub`-way, heaviest first ([[splitCell]] — each split
    * touches only its own partition, so acting on a stale snapshot is
    * safe: other cells' loads are unchanged by it); then every cell
    * below `minLoadFactor`× the mean MERGES into its nearest survivor
    * ([[mergeCells]], which re-audits after the splits). Hot cells with
    * fewer than `kSub` postings are left alone (nothing to split).
    * Run repeatedly until it returns empty for a fixpoint — one sweep
    * per ingest batch is the intended cadence.
    *
    * @return (split hot ids, merged-away light ids) */
  def maintain(spark: org.apache.spark.sql.SparkSession, path: String,
               maxLoadFactor: Double = 4.0, minLoadFactor: Double = 0.25,
               kSub: Int = 4): (Seq[Int], Seq[Int]) = {
    val hinted = cellLoad(spark, path, maxLoadFactor)
      .filter(col("rebuild_hint"))
      .orderBy(col("n").desc, col("cell_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val splitIds = hinted.filter(_._2 >= kSub).map(_._1).toSeq
    splitIds.foreach(id => splitCell(spark, path, id, kSub))
    val merged = mergeCells(spark, path, minLoadFactor)
    (splitIds, merged)
  }

  /** Reload a [[saveIndex]] index as `(centroids, postings)`. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): (DataFrame, DataFrame) = {
    (spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/postings")
        .withColumn("cell_id", col("cell_id").cast("int")))
  }

  /** Each query's `nProbe` nearest cells as `(query_id, query_vec,
    * q_norm, cell_id)` — the probe-selection half every IVF server
    * shares ([[topKFromIndex]], [[topKQuantized]], [[Pq.topKFromIvf]]).
    * Shuffle-free: one broadcast of the packed centroid array, one
    * narrow argsort per query (ties break on cell_id, the
    * [[distPairs]] struct order). */
  private[operators] def probeCells(queries: DataFrame, cents: DataFrame,
                                    nProbe: Int): DataFrame =
    queries
      .select(col("query_id"), col("query_vec"), l2Norm(col("query_vec")).as("q_norm"))
      .crossJoin(broadcast(cellsAsArray(cents)))
      .withColumn("_vn2", VecDot.dot(col("query_vec"), col("query_vec")))
      .withColumn("_probe",
        explode(slice(array_sort(distPairs(col("query_vec"), col("_vn2"))), 1, nProbe)))
      .select(col("query_id"), col("query_vec"), col("q_norm"),
        col("_probe.id").as("cell_id"))

  /** Serve ANN top-k from prebuilt index tables (the output — schema,
    * scores, tie-breaks — is exactly [[topK]]'s). Queries broadcast
    * against the centroid array to pick their `nProbe` cells; the
    * postings join is cell-keyed, so a partitioned on-disk index scans
    * only the probed cells. */
  def topKFromIndex(cents: DataFrame, indexed: DataFrame,
                    queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    val probes = probeCells(queries, cents, nProbe)
    val scored = indexed.join(probes, Seq("cell_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("c_vec"), col("query_vec")) / (col("c_norm") * col("q_norm"))).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** ANN top-k over an int8-QUANTIZED index with exact re-rank — the
    * memory-bound production shape: the in-memory index holds 4×-smaller
    * quantized vectors (see [[graft.functions.VectorFunctions.quantizeInt8]]),
    * candidate scoring runs against dequantized values (asymmetric: float
    * query × dequantized corpus), and only the per-query shortlist
    * (`shortlistFactor`·k rows) joins back to the full-precision corpus
    * for the exact final ranking. Output schema and tie-breaks match
    * [[topK]], and the exact re-rank means quantization can only affect
    * WHICH candidates surface, never their reported scores. */
  def topKQuantized(corpus: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, k: Int, nCells: Int = 16,
                    nProbe: Int = 4, iters: Int = 2,
                    shortlistFactor: Int = 4): DataFrame = {
    require(shortlistFactor >= 1, s"shortlistFactor must be >= 1")
    import graft.functions.VectorFunctions.{dequantInt8, quantizeInt8}
    val qz = corpus
      .select(col(idCol).as("neighbor_id"), quantizeInt8(col(vecCol)).as("_s"))
      .select(col("neighbor_id"),
        dequantInt8(col("_s.q"), col("_s.scale")).as("c_vec"))
    val cents = centroids(qz, "neighbor_id", "c_vec", nCells, iters)
    val indexed = assignCells(
      qz.withColumn("c_norm", l2Norm(col("c_vec"))), cents, "c_vec")
    val probes = probeCells(queries, cents, nProbe)
    val approx = indexed.join(probes, Seq("cell_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("c_vec"), col("query_vec")) / (col("c_norm") * col("q_norm")))
          .as("_ascore"))
    val aw = Window.partitionBy("query_id").orderBy(col("_ascore").desc, col("neighbor_id"))
    val shortlist = approx.withColumn("_ar", row_number().over(aw))
      .filter(col("_ar") <= k * shortlistFactor)
      .select("query_id", "neighbor_id")
    val exact = shortlist
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
        l2Norm(col(vecCol)).as("_cn")), Seq("neighbor_id"))
      .join(queries.select(col("query_id"), col("query_vec"),
        l2Norm(col("query_vec")).as("_qn")), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("_cv"), col("query_vec")) / (col("_cn") * col("_qn"))).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }
}
