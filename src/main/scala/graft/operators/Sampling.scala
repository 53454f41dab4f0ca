package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Splits must be stable across runs, engines and cluster layouts — `rand()`
  * is none of those. The split key is the first 8 hex chars of md5(key),
  * compared lexicographically against a threshold derived from the
  * fraction: pure string ops available in every SQL dialect, so the exact
  * same assignment is reproducible in DuckDB (q44's oracle), Spark, or a
  * shell pipeline. Adding documents never reshuffles existing assignments
  * (unlike modulo-on-row-number schemes).
  */
object Sampling {

  /** Hex threshold covering `frac` of the uniform md5 space. */
  private[graft] def hexThreshold(frac: Double): String = {
    require(frac >= 0.0 && frac <= 1.0, s"fraction out of range: $frac")
    val cut = math.min((frac * 4294967296.0).toLong, 4294967295L)
    f"$cut%08x"
  }

  /** First 8 hex chars of md5(`key:domain`) — THE determinism contract:
    * mirrored verbatim by the q44/q52 DuckDB oracles, so every hash-ordered
    * or hash-thresholded operation must build its key through this one
    * helper (a second copy could silently diverge from the oracles). */
  private def hashHex(key: Column, domain: String): Column =
    substring(md5(concat(key.cast("string"), lit(":" + domain))), 1, 8)

  /** frac-of-hash predicate with DOMAIN SEPARATION: the hash covers
    * `key:domain`, so different operations over the same key column are
    * independent. Without it, subsample-then-split compose pathologically
    * (a 10% sample is a strict subset of the 80% train region → empty val
    * set). frac endpoints short-circuit so 1.0 is exactly the identity. */
  private def hashBelow(key: Column, frac: Double, domain: String): Column =
    if (frac >= 1.0) lit(true)
    else if (frac <= 0.0) lit(false)
    else hashHex(key, domain) < lit(hexThreshold(frac))

  /** 'train' / 'val' tag per row, stable in the key. */
  def splitTag(key: Column, trainFrac: Double, domain: String = "split"): Column =
    when(hashBelow(key, trainFrac, domain), "train").otherwise("val")

  /** N-way split tag, stable in the key: `splits` maps label → fraction
    * (must sum to 1 within 1e-9). One hash, compared against the
    * cumulative thresholds in the given label order — so
    * `("train" → .8, "val" → .1, "test" → .1)` carves the SAME hash line
    * as [[splitTag]] would at 0.8, making a 2-way split upgradeable to
    * 3-way without reassigning existing train rows (same domain ⇒ same
    * hash ⇒ the first 80% of the line is still train). Per-row predicate,
    * zero shuffle. */
  def splitTagN(key: Column, splits: Seq[(String, Double)],
                domain: String = "split"): Column = {
    require(splits.size >= 2, "splitTagN needs at least 2 labels")
    splits.foreach { case (l, f) =>
      require(f > 0.0 && f <= 1.0, s"fraction for '$l' out of range: $f") }
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${splits.map(_._2).sum}")
    val h = hashHex(key, domain)
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    // last label is the otherwise-branch: no threshold compare can lose a
    // row to accumulated floating error in the final cumulative sum
    splits.init.zip(cum.init).foldLeft(Option.empty[Column]) {
      case (acc, ((label, _), c)) =>
        val cond = h < lit(hexThreshold(c))
        Some(acc.fold(when(cond, label))(_.when(cond, label)))
    }.get.otherwise(splits.last._1)
  }

  /** [[splitTagN]] as a projected column with the md5 HOISTED into its own
    * projection: nested CASE WHEN branches get no common-subexpression
    * elimination in codegen, so the Column form re-hashes per tested
    * branch; here the hash is one column and the ladder compares literals
    * (the q292 fix). Values are identical to
    * `df.withColumn(outCol, splitTagN(key, splits, domain))`. */
  def withSplitTagN(df: DataFrame, outCol: String, keyCol: String,
                    splits: Seq[(String, Double)],
                    domain: String = "split"): DataFrame = {
    require(splits.size >= 2, "splitTagN needs at least 2 labels")
    splits.foreach { case (l, f) =>
      require(f > 0.0 && f <= 1.0, s"fraction for '$l' out of range: $f") }
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${splits.map(_._2).sum}")
    require(!df.columns.contains("_split_h"),
      "input must not contain the reserved column _split_h")
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    val ladder = splits.init.zip(cum.init).foldLeft(Option.empty[Column]) {
      case (acc, ((label, _), c)) =>
        val cond = col("_split_h") < lit(hexThreshold(c))
        Some(acc.fold(when(cond, label))(_.when(cond, label)))
    }.get.otherwise(splits.last._1)
    df.withColumn("_split_h", hashHex(col(keyCol), domain))
      .withColumn(outCol, ladder)
      .drop("_split_h")
  }

  /** Deterministic subsample: keep ~`frac` of rows, stable in the key. */
  def sampleByHash(df: DataFrame, keyCol: String, frac: Double,
                   domain: String = "sample"): DataFrame =
    df.filter(hashBelow(col(keyCol), frac, domain))

  /** At most `n` rows per stratum, the EXACT n smallest by hash-of-key order
    * (≡ a uniform deterministic pick; ties impossible for distinct keys, and
    * broken on the key anyway). Downsampling over-represented classes — cap
    * `lang='en'` at N docs — is the canonical use.
    *
    * Scale shape: a bare `row_number` per stratum sorts a hot stratum's
    * entire row set in one task. Instead rank within `salt` hash-derived
    * sub-partitions first (parallel, each task sees ~1/salt of the stratum):
    * any row in the true top-n of its stratum is in the top-n of its
    * sub-partition, so filtering sub-rank ≤ n keeps ≤ salt·n survivors per
    * stratum, and the exact rank re-runs on that bounded set. Identical
    * output to the single-window formulation (q52's oracle), never a
    * whole-stratum sort.
    */
  def stratifiedCap(df: DataFrame, strataCols: Seq[String], keyCol: String,
                    n: Int, salt: Int = 32, domain: String = "cap"): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    require(salt > 0, s"salt must be positive, got $salt")
    require(!Seq("_h", "_sr", "_r").exists(df.columns.contains),
      "input must not contain the reserved columns _h/_sr/_r")
    val strata = strataCols.map(col)
    val hash = hashHex(col(keyCol), domain)
    val subKey = pmod(conv(col("_h"), 16, 10).cast("long"), lit(salt))
    val subW = Window.partitionBy(strata :+ subKey: _*).orderBy(col("_h"), col(keyCol))
    val finW = Window.partitionBy(strata: _*).orderBy(col("_h"), col(keyCol))
    df.withColumn("_h", hash)
      .withColumn("_sr", row_number().over(subW))
      .filter(col("_sr") <= n)
      .withColumn("_r", row_number().over(finW))
      .filter(col("_r") <= n)
      .drop("_h", "_sr", "_r")
  }

  /** Mixture sampling: per-group keep rates — the "data mixing" knob that
    * re-weights sources (upsample curated text, downsample crawl) in one
    * deterministic pass. A row is kept iff its hash falls below its
    * group's threshold; groups absent from `rates` use `defaultFrac`.
    * Stable in the key (same guarantees as [[sampleByHash]]); purely a
    * per-row predicate, so it fuses into the scan — zero shuffle. */
  def mixtureByHash(df: DataFrame, keyCol: String, groupCol: String,
                    rates: Map[String, Double], defaultFrac: Double = 0.0,
                    domain: String = "mix"): DataFrame = {
    (rates.values ++ Seq(defaultFrac)).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fraction out of range: $f"))
    // NOTE on the q292 md5-hoist: tried here and reverted — filter
    // pushdown substitutes a hoisted hash column straight back into the
    // predicate (plan byte-identical), and the group-equality gate means
    // each row evaluates exactly ONE branch's md5 anyway. epochMixture's
    // hoist survives because its ladder sits inside a Generate.
    val pred = rates.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
      case (acc, (g, f)) =>
        val cond = hashBelow(col(keyCol), f, domain)
        Some(acc.fold(when(col(groupCol) === g, cond))(_.when(col(groupCol) === g, cond)))
    }.fold(hashBelow(col(keyCol), defaultFrac, domain))(
      _.otherwise(hashBelow(col(keyCol), defaultFrac, domain)))
    df.filter(pred)
  }

  /** Epoch-weighted mixture materialization — the UPSAMPLING side of the
    * data-mixing knob ([[mixtureByHash]] only downsamples). Each group's
    * weight `e` emits `floor(e)` full copies of every row plus a
    * hash-selected `e - floor(e)` fraction for one extra epoch — the
    * "N epochs of curated text vs 0.3 epochs of crawl" recipe stated by
    * public training-mix reports (e.g. the Llama/Gopher data tables).
    *
    * Output adds an `epoch` column (0-based copy index) so downstream
    * packing/shuffling can interleave epochs instead of concatenating
    * them. Deterministic: the fractional pick rides [[hashBelow]] under
    * its own domain, so it is stable in the key and independent of any
    * other hash decision; a row's epoch set never changes as neighbors
    * are added. Groups absent from `epochs` use `defaultEpochs`.
    *
    * Scale shape: pure per-row `explode(sequence(...))` — zero shuffle,
    * output size = Σ group_rows·⌈weight⌉ (the CALLER's mixture budget),
    * task memory O(1). Weights are capped at 64 epochs: a larger weight
    * is a config error amplifying one source 64×, not a sampling need. */
  def epochMixture(df: DataFrame, keyCol: String, groupCol: String,
                   epochs: Map[String, Double], defaultEpochs: Double = 1.0,
                   domain: String = "epoch"): DataFrame = {
    (epochs.values ++ Seq(defaultEpochs)).foreach(e =>
      require(e >= 0.0 && e <= 64.0, s"epoch weight out of range [0, 64]: $e"))
    require(!df.columns.contains("epoch"), "input must not contain reserved column epoch")
    def pick[T](f: Double => T): Column = {
      val dflt = f(defaultEpochs)
      epochs.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
        case (acc, (g, e)) =>
          val v = f(e)
          Some(acc.fold(when(col(groupCol) === g, v))(_.when(col(groupCol) === g, v)))
      }.fold(lit(dflt): Column)(_.otherwise(dflt))
    }
    // full copies: epoch ids [0, floor(e)); Spark's sequence(0, -1) counts
    // DOWN (the Pack lesson), so the zero-copy case needs the empty guard
    val whole = pick(e => math.floor(e).toLong)
    val fullCopies = when(whole >= 1L,
      sequence(lit(0L), whole - 1L)).otherwise(array().cast("array<bigint>"))
    // fractional epoch: per-group hash predicate (when-chain, like pick —
    // but over threshold compares against ONE hoisted hash column: the
    // branches share the same md5 and conditional branches get no CSE in
    // codegen, so the Column form would re-hash per tested branch)
    require(!df.columns.contains("_epoch_h"),
      "input must not contain the reserved column _epoch_h")
    def cmp(e: Double): Column = {
      val f = e - math.floor(e)
      if (f <= 0.0) lit(false)
      else col("_epoch_h") < lit(hexThreshold(f))
    }
    val fracKept = epochs.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
      case (acc, (g, e)) =>
        val cond = cmp(e)
        Some(acc.fold(when(col(groupCol) === g, cond))(_.when(col(groupCol) === g, cond)))
    }.fold(cmp(defaultEpochs))(_.otherwise(cmp(defaultEpochs)))
    val epochIds = when(fracKept, concat(fullCopies, array(whole)))
      .otherwise(fullCopies)
    df.withColumn("_epoch_h", hashHex(col(keyCol), domain))
      .withColumn("epoch", explode(epochIds))
      .drop("_epoch_h")
  }

  /** Probability-proportional-to-size (PPS) systematic sample: per stratum,
    * k selection points spaced `total_weight / k` apart sweep the
    * hash-ordered cumulative-weight line; a row is kept iff its weight
    * interval `(cum - w, cum]` contains a selection point. Inclusion
    * probability is ∝ weight (exact for weights below the step), the
    * canonical "sample documents proportional to token count" primitive.
    *
    * Why systematic-PPS and not exponential-key (A-ES) reservoir: A-ES
    * ranks by `-ln(u)/w` — a transcendental on doubles, which `ln` library
    * differences can flip at rank boundaries across engines. This repo's
    * determinism contract (see the object scaladoc) requires the exact
    * assignment to reproduce in ANY engine, so the selection rule here is
    * pure int64 arithmetic over md5-hash order: row selected iff
    * `(cum·k) div total > ((cum-w)·k) div total`. Bit-identical
    * everywhere ints are ints. Yields ≤ k rows (= k unless one row's
    * weight spans multiple selection points); rows with null or
    * non-positive weight are excluded. Requires `total_weight · k < 2^63`
    * per stratum (at 10^14 total tokens and k = 10^4 that is still 10^18
    * — at the edge; shard the stratum before sampling beyond it).
    *
    * Scale shape: identical to [[tokenBudgetCap]] — the hash's leading 16
    * bits range-bucket each stratum into order-preserving slices, bucket
    * sums aggregate in parallel, a window over the tiny strata×buckets
    * table yields per-bucket starting offsets and stratum totals, and the
    * broadcast join lets each bucket compute its running sums
    * independently. Never a whole-stratum sort. */
  def ppsSample(df: DataFrame, strataCols: Seq[String], keyCol: String,
                weightCol: String, k: Int, buckets: Int = 256,
                domain: String = "pps"): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets ($buckets) must be in [1, 65536]")
    require(!Seq("_h", "_b", "_off", "_tot", "_cum").exists(df.columns.contains),
      "input must not contain the reserved columns _h/_b/_off/_tot/_cum")
    val strata = strataCols.map(col)
    val w = col(weightCol).cast("long")
    val withH = df
      .filter(w.isNotNull && w > 0)
      .withColumn("_h", hashHex(col(keyCol), domain))
      .withColumn("_b",
        floor(conv(substring(col("_h"), 1, 4), 16, 10).cast("long") * buckets
          / lit(65536.0)).cast("long"))
    // NOTE on the WindowExec "No Partition Defined" warning this emits when
    // strataCols is empty: that global window runs over the strata×buckets
    // OFFSETS table (≤ `buckets` rows per stratum, post-aggregation), never
    // the data — benign at any corpus scale.
    val offsets = withH
      .groupBy(strata :+ col("_b"): _*).agg(sum(w).as("_bs"))
      .withColumn("_off", coalesce(
        sum("_bs").over(Window.partitionBy(strata: _*).orderBy("_b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_tot", sum("_bs").over(Window.partitionBy(strata: _*)))
      .drop("_bs")
    val inBucket = Window.partitionBy(strata :+ col("_b"): _*)
      .orderBy(col("_h"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withH
      .join(broadcast(offsets), strataCols :+ "_b")
      .withColumn("_cum", col("_off") + sum(w).over(inBucket))
      // int64 floor-division selection rule — the determinism contract
      .filter(expr(s"(_cum * $k) div _tot") > expr(s"((_cum - ${weightCol}) * $k) div _tot"))
      .select(df.columns.map(col): _*)
  }

  /** Token-budget cap: per stratum, keep documents in hash order until the
    * cumulative token count reaches `budget` — mixing to a TOKEN target
    * rather than a row target (what a training-mix spec actually states).
    * A document is kept iff the tokens of strictly-preceding documents
    * (hash order, ties on key) are still under budget, so the first
    * boundary-crossing document is included and every stratum lands within
    * one document of its budget.
    *
    * Scale shape: the naive formulation is one running-sum window per
    * stratum — a hot stratum's entire row set sorts in ONE task. Instead
    * the hash's leading 16 bits range-bucket each stratum into `buckets`
    * ORDER-PRESERVING slices (bucket id is monotone in the hash, so
    * bucket-major order IS hash order): per-bucket token sums aggregate in
    * parallel into a strata×buckets table, a window over that tiny table
    * turns them into per-bucket starting offsets, and the broadcast
    * offsets join back so each bucket computes its running sum
    * independently — per-task work is a 1/`buckets` slice of a stratum.
    * Identical output to the single-window formulation (SamplingSpec
    * asserts equality; q68's oracle is the single-window SQL). */
  def tokenBudgetCap(df: DataFrame, strataCols: Seq[String], keyCol: String,
                     tokCol: String, budget: Long, buckets: Int = 256,
                     domain: String = "budget"): DataFrame = {
    require(budget >= 0, s"budget ($budget) must be >= 0")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets ($buckets) must be in [1, 65536]")
    require(!Seq("_h", "_b", "_off", "_prior").exists(df.columns.contains),
      "input must not contain the reserved columns _h/_b/_off/_prior")
    val strata = strataCols.map(col)
    val withH = df
      .withColumn("_h", hashHex(col(keyCol), domain))
      .withColumn("_b",
        // Column./ is double division; the product (< 2^32) and the
        // power-of-two divisor keep the double path exact, so floor is the
        // true integer quotient
        floor(conv(substring(col("_h"), 1, 4), 16, 10).cast("long") * buckets
          / lit(65536.0)).cast("long"))
    // same benign-global-window shape as ppsSample: the window input is the
    // ≤ `buckets`-row offsets aggregate, not the corpus
    val offsets = withH
      .groupBy(strata :+ col("_b"): _*).agg(sum(col(tokCol)).as("_bs"))
      .withColumn("_off", coalesce(
        sum("_bs").over(Window.partitionBy(strata: _*).orderBy("_b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_bs")
    val inBucket = Window.partitionBy(strata :+ col("_b"): _*)
      .orderBy(col("_h"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    withH
      .join(broadcast(offsets), strataCols :+ "_b")
      .withColumn("_prior",
        col("_off") + coalesce(sum(col(tokCol)).over(inBucket), lit(0L)))
      .filter(col("_prior") < budget)
      // the name-based join moved its keys to the front — restore the
      // caller's column order so output schema == input schema
      .select(df.columns.map(col): _*)
  }

  /** Temperature-balanced mixture sampling (the multilingual α-sampling of
    * public multilingual pretraining recipes, e.g. mT5 / XLM-R: sample
    * group g with probability ∝ n_g^α, α < 1 flattening the distribution
    * toward low-resource groups). Given a row budget, each group's keep
    * rate is `budget · w_g / (Σw · n_g)` with `w_g = n_g^α`, capped at 1 —
    * so the EXPECTED output is `budget` rows distributed ∝ n_g^α (exactly
    * proportional when no group saturates; a saturated group contributes
    * all its rows — upsampling beyond 1 epoch is [[epochMixture]]'s job).
    *
    * Unlike [[mixtureByHash]] (rates stated by the caller), the rates here
    * are DERIVED from the observed group sizes — the knob is one scalar α.
    *
    * Determinism contract: the keep decision is `md5-hash < per-group
    * threshold` with the threshold an 8-hex-char string derived in-plan
    * from the rate. Cross-engine bit-identity of the rate needs every step
    * to be IEEE-exact-or-identically-rounded: `sqrt` is correctly rounded
    * by IEEE 754 (so α = 0.5, the published default, is exact); integer
    * counts cast exactly; Σw folds in GROUP-NAME order (both engines replay
    * the identical (0+w₁)+w₂+… sequence); the rate and `floor(rate·2³²)`
    * are fixed-order double ops. Arbitrary α routes through `pow`, whose
    * last-ulp rounding is NOT pinned across libm implementations — callers
    * needing cross-engine exactness stay on α ∈ {0.5, 1.0}.
    *
    * Scale shape: one vocabulary-sized aggregation (distinct groups), a
    * one-row fixed-order fold over it, and a broadcast join of the
    * group→threshold table back to the corpus — the keep test itself is a
    * per-row map predicate that fuses into the scan. Zero corpus-scale
    * shuffles. */
  def temperatureMixture(df: DataFrame, keyCol: String, groupCol: String,
                         budget: Long, alpha: Double = 0.5,
                         domain: String = "temp"): DataFrame = {
    require(budget > 0, s"budget ($budget) must be positive")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha ($alpha) must be in (0, 1]")
    require(!Seq("_n", "_w", "_tot", "_rate", "_thr").exists(df.columns.contains),
      "input must not contain the reserved columns _n/_w/_tot/_rate/_thr")
    val nD = col("_n").cast("double")
    val weights = df.groupBy(groupCol).agg(count(lit(1)).as("_n"))
      .withColumn("_w",
        if (alpha == 0.5) sqrt(nD)
        else if (alpha == 1.0) nD
        else pow(nD, lit(alpha)))
    // fixed-order Σw: fold the (tiny) group table in group-name order so
    // both engines produce the identical double
    val tot = weights.agg(
      aggregate(sort_array(collect_list(struct(col(groupCol), col("_w")))),
        lit(0.0), (acc, s) => acc + s("_w")).as("_tot"))
    val thresholds = weights.crossJoin(broadcast(tot))
      .withColumn("_rate", lit(budget.toDouble) * col("_w") / (col("_tot") * nD))
      // a saturated group keeps everything: NULL threshold short-circuits
      // the hash compare (no "ffffffff"-boundary row loss)
      .select(col(groupCol),
        when(col("_rate") >= 1.0, lit(null).cast("string"))
          .otherwise(format_string("%08x",
            floor(col("_rate") * lit(4294967296.0)).cast("long"))).as("_thr"))
    df.join(broadcast(thresholds), Seq(groupCol))
      .filter(col("_thr").isNull || hashHex(col(keyCol), domain) < col("_thr"))
      .select(df.columns.map(col): _*)
  }

  /** A 13-hex-char window of an md5 hex string as an exact 52-bit long —
    * the ordering carrier for bottom-k-by-hash operations (TopK needs a
    * (double, long) key and 52 bits are exact in a double; chars 1-13 and
    * 14-26 give two independent carriers, tied only on a 104-bit md5
    * prefix collision). Shared with [[SetSketch]] so the exactness
    * argument lives in one place. */
  private[operators] def hex52(hexCol: Column, offset: Int): Column =
    conv(substring(hexCol, offset, 13), 16, 10).cast("long")

  /** Deterministic `k`-row uniform sample per group — the "show me k
    * example rows per slice" inspection primitive, as ONE bounded-state
    * aggregation: keep the `k` smallest `md5(key:domain)` values per
    * group (bottom-k of a uniform hash order IS a uniform sample, and the
    * SAME k rows on every run/engine/layout — `hashHex`'s contract
    * extended to ordering). State is the O(k) [[graft.functions.TopK]]
    * heap with map-side partials: never a per-group sort, never a
    * corpus-wide window — at 100 TB the exchange carries at most
    * `k × partitions` candidate rows per group. Groups with fewer than
    * `k` rows return all their rows.
    *
    * Determinism detail: TopK orders by an exact (double, long) pair, so
    * the 128-bit hex order is split into its first 52 bits (negated —
    * smallest hash ranks first) and next 52 bits (ascending tie) — both
    * exact integers in their carriers; a tie would need a 104-bit md5
    * prefix collision. The cross-engine oracle replays the identical
    * order as a plain `ORDER BY md5(key || ':' || domain)`.
    *
    * Output: the group columns + `(rank, keyCol)`, `rank` 1-based in
    * hash order. Pass `groupCols = Nil` for one global sample. Rows with
    * a NULL key hash to NULL and are excluded from the sample (the TopK
    * null-ord convention) — `keyCol` is expected to be a non-null key. */
  def sampleKPerGroup(df: DataFrame, groupCols: Seq[String], keyCol: String,
                      k: Int, domain: String = "samplek"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(!df.columns.contains("_t"),
      "input must not contain the reserved column _t")
    val hex = md5(concat(col(keyCol).cast("string"), lit(":" + domain)))
    val h1 = hex52(hex, 1)
    val h2 = hex52(hex, 14)
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopK.topK(k, -h1.cast("double"), h2,
        col(keyCol)).as("_t"))
      .select(groupCols.map(col) :+ posexplode(col("_t")): _*)
      .select(groupCols.map(col) ++ Seq(
        (col("pos") + 1).cast("int").as("rank"),
        col("col.payload").as(keyCol)): _*)
  }

  /** Deterministic global shuffle into training shards: the LAST step of a
    * curation pipeline, fixing the order examples are consumed in. Every
    * row gets `(shard, pos)` — `shard` from equal-width ranges of the
    * md5 hash space (the [[splitTagN]] cumulative-threshold scheme, so the
    * oracle replays it as literal string compares) and `pos` = the row's
    * rank within its shard by `(hash, key)`. The full order is a pure
    * function of the key set: reruns, layout changes, and engines all
    * agree, and appending new documents never reorders existing shards'
    * relative order (hash order is stable under insertion, unlike
    * row_number-over-everything schemes).
    *
    * Scale shape: one exchange keyed by shard; each shard materializes its
    * order with one in-partition sort (spillable — a shard does NOT need
    * to fit in memory, but size `nShards` so a shard is a sane output
    * unit, e.g. corpus / desired shard file size). The threshold CASE
    * chain is O(nShards) per row map-side — keep nShards ≤ 4096. */
  def shuffleOrder(df: DataFrame, keyCol: String, nShards: Int,
                   domain: String = "shuffle"): DataFrame = {
    require(nShards >= 1 && nShards <= 4096,
      s"nShards ($nShards) must be in [1, 4096]")
    require(!df.columns.exists(Set("_h", "shard", "pos")),
      "input must not contain the reserved columns _h/shard/pos")
    val thresholds = (1 until nShards).map(i => hexThreshold(i.toDouble / nShards))
    val shard = thresholds.foldLeft(lit(0)) { (acc, t) =>
      acc + when(col("_h") >= lit(t), 1).otherwise(0)
    }
    val w = Window.partitionBy("shard").orderBy(col("_h"), col(keyCol))
    df.withColumn("_h", hashHex(col(keyCol), domain))
      .withColumn("shard", shard)
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("_h")
  }

  /** Token-balanced curriculum bins: order the corpus by `(scoreCol,
    * keyCol)` — score = difficulty (perplexity, quality, length…) — and cut
    * it into `k` stages of ~equal TOKEN mass (a curriculum schedule states
    * "first third of training tokens", not "first third of documents").
    * Row → bin: `bin = min(k−1, (prior·k) div total)` where `prior` is the
    * token sum of strictly-preceding rows in score order — pure int64
    * floor-division (the [[ppsSample]] determinism contract), so every
    * engine cuts at the same document. Every bin lands within one document
    * of `total/k` tokens. Requires `total·k < 2^63` (at 10^14 corpus
    * tokens and k = 100 that is 10^16 — fine).
    *
    * Scale shape: the running sum is the [[tokenBudgetCap]] two-phase
    * scheme, except buckets come from the SCORE AXIS (hash buckets would
    * scramble the order being accumulated): `[gridLo, gridHi)` splits into
    * `buckets` equal score ranges — the affine floor map is monotone in
    * score, so bucket-major order IS score order and per-bucket sums +
    * broadcast offsets reproduce the global running sum with per-task work
    * bounded by one bucket's slice. Grid skew (many docs in one score
    * range) only fattens that bucket's slice — results are identical for
    * ANY grid; pick one from a score profile when the distribution is
    * lumpy. Scores must be finite; rows with null score are rejected up
    * front (a silent null would sort into one engine's null-first and
    * another's null-last region). */
  def curriculumBins(df: DataFrame, keyCol: String, scoreCol: String,
                     tokCol: String, k: Int, gridLo: Double, gridHi: Double,
                     buckets: Int = 256): DataFrame = {
    require(k >= 1 && k <= 4096, s"k ($k) must be in [1, 4096]")
    require(gridHi > gridLo, s"need gridLo < gridHi, got [$gridLo, $gridHi]")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets ($buckets) must be in [1, 65536]")
    require(!Seq("_b", "_off", "_tot", "_prior", "bin").exists(df.columns.contains),
      "input must not contain the reserved columns _b/_off/_tot/_prior/bin")
    val s = col(scoreCol).cast("double")
    val withB = df
      .withColumn("_b", least(lit(buckets - 1L), greatest(lit(0L),
        floor((s - gridLo) * buckets / lit(gridHi - gridLo)).cast("long"))))
    val offsets = withB
      .groupBy(col("_b")).agg(sum(col(tokCol)).as("_bs"))
      // ≤ `buckets` rows — the ppsSample benign-global-window shape
      .withColumn("_off", coalesce(
        sum("_bs").over(Window.orderBy("_b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_tot", greatest(sum("_bs").over(), lit(1L)))
      .drop("_bs")
    val inBucket = Window.partitionBy(col("_b"))
      .orderBy(s, col(keyCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    withB
      .join(broadcast(offsets), Seq("_b"))
      .withColumn("_prior",
        col("_off") + coalesce(sum(col(tokCol)).over(inBucket), lit(0L)))
      .withColumn("bin",
        least(lit(k - 1L), expr(s"(_prior * $k) div _tot")).cast("int"))
      .select(df.columns.map(col) :+ col("bin"): _*)
  }

  /** Low-discrepancy proportional interleave: a deterministic global
    * training order in which EVERY contiguous prefix carries each group's
    * corpus proportion to within `1/2 + (G/2)·(n_g/N)` documents (G =
    * group count) — the "fixed mixing schedule" ordering
    * ([[shuffleOrder]] gives proportionality only in expectation, with
    * √-scale sampling noise; this gives an O(1) bound by construction).
    * Each row gets
    *  - `pos_in_group`: 1-based rank within its group by `(md5 hash, key)`
    *    — stable under appends, layout-invariant;
    *  - `progress`: `(2·pos_in_group − 1) / (2·n_group)` — the group's
    *    stratified low-discrepancy position in (0, 1), integer-derived
    *    with ONE double division (bit-identical cross-engine).
    * The global order is `(progress, groupCol, keyCol)` — materialize it
    * with `repartitionByRange(n, progress).sortWithinPartitions(progress)`
    * (range partition + in-file sort: no single global sort task).
    *
    * Scale shape: one exchange keyed by group for the in-group rank (the
    * [[shuffleOrder]] argument: spillable sort, a group need not fit in
    * memory), plus a group-count-sized aggregate broadcast back. */
  def interleaveOrder(df: DataFrame, keyCol: String, groupCol: String,
                      domain: String = "interleave"): DataFrame = {
    require(!df.columns.exists(Set("_h", "_n", "pos_in_group", "progress")),
      "input must not contain the reserved columns _h/_n/pos_in_group/progress")
    val wg = Window.partitionBy(col(groupCol)).orderBy(col("_h"), col(keyCol))
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
    df.withColumn("_h", hashHex(col(keyCol), domain))
      .join(broadcast(sizes), Seq(groupCol))
      .withColumn("pos_in_group", row_number().over(wg).cast("long"))
      .withColumn("progress",
        (col("pos_in_group") * 2L - 1L).cast("double") /
          (col("_n") * 2L).cast("double"))
      .select(df.columns.map(col) ++ Seq(col("pos_in_group"), col("progress")): _*)
  }

  /** Weighted sampling WITHOUT replacement, k per stratum (Efraimidis &
    * Spirakis, "Weighted random sampling with a reservoir", IPL 2006):
    * each row draws `u` from its key's hash and keeps key
    * `ln(u) / w` — the top-k by that key is EXACTLY a weighted
    * without-replacement sample (the paper's u^(1/w) order,
    * log-transformed so the arithmetic stays in safe double range).
    * The deterministic-hash u makes the sample stable across runs,
    * engines and layouts, and independent of other hash decisions via
    * the domain salt ([[sampleByHash]]'s contract).
    *
    * vs [[ppsSample]]: PPS selects each slot proportional-to-weight WITH
    * the possibility of repeats across slots; this draws k DISTINCT rows
    * where heavier rows enter earlier — the "pick k exemplar documents,
    * longer ones more likely, no duplicates" primitive.
    *
    * Determinism: u = (hex52 + 1)/(2⁵² + 1) ∈ (0, 1) exactly as
    * [[rendezvousAssign]]; `ln` evaluates on identical doubles in both
    * engines; ties (a 104-bit md5 prefix collision) break on the second
    * hash window. Null or non-positive weights are excluded.
    *
    * CONTRACT: `keyCol` must be UNIQUE within each stratum (a primary
    * key, e.g. doc_id). Both u and the tie-break derive solely from
    * `keyCol`, so two rows sharing a key value carry identical
    * (order, tie) keys and can occupy multiple top-k slots — "k
    * distinct rows" above means k distinct KEYS only under this
    * contract. Pre-aggregate duplicate keys (and their weights) before
    * sampling if the input is not key-unique.
    *
    * Scale shape: ONE bounded-state [[graft.functions.TopK]] aggregation
    * per stratum — O(k) state, map-side partials, never a per-stratum
    * sort. Output: `(strataCols…, rank, keyCol)`. */
  def weightedSampleK(df: DataFrame, strataCols: Seq[String], keyCol: String,
                      weightCol: String, k: Int,
                      domain: String = "wsk"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(!df.columns.contains("_t"),
      "input must not contain the reserved column _t")
    val w = col(weightCol).cast("double")
    val hex = md5(concat(col(keyCol).cast("string"), lit(":" + domain)))
    val u = (hex52(hex, 1) + lit(1L)).cast("double") / lit(4503599627370497.0)
    df.filter(w.isNotNull && w > 0.0)
      .groupBy(strataCols.map(col): _*)
      .agg(graft.functions.TopK.topK(k, log(u) / w, hex52(hex, 14),
        col(keyCol)).as("_t"))
      .select(strataCols.map(col) :+ posexplode(col("_t")): _*)
      .select(strataCols.map(col) ++ Seq(
        (col("pos") + 1).cast("int").as("rank"),
        col("col.payload").as(keyCol)): _*)
  }

  /** Weighted rendezvous (highest-random-weight) assignment: route every
    * row to one of `nodes` with probability proportional to the node's
    * weight, such that adding/removing/reweighting a node only moves the
    * MINIMAL set of keys (Thaler & Ravishankar, IEEE ToN 1998; the
    * weighted score of Rendezvous/HRW as used by Ceph CRUSH et al.) —
    * the right primitive for sharding a 100 TB corpus across
    * heterogeneous writers, where mod-N hashing would reshuffle
    * everything on any topology change.
    *
    * Score: `u = (hex52(md5(key:node:domain)) + 1) / (2⁵² + 1)` ∈ (0,1),
    * `score = −w / ln(u)`; the row goes to the max score, ties (a 2⁻⁵²
    * event) to the FIRST node in name order — the fold visits nodes
    * name-ascending and replaces only on strict improvement, and the
    * oracle's `ORDER BY score DESC, node` replays the same rule. E[share]
    * ∝ w exactly (the u are independent uniforms per node). `ln` is the
    * one transcendental: both engines evaluate it on the identical
    * double, so a flipped assignment needs the two top scores within an
    * ulp of each other — (q120's argument) vanishing, and confined to
    * single boundary keys if it ever occurs.
    *
    * Map-only: per-row hash + a `nodes`-length fold, zero shuffle.
    * Output: the input columns + `node`. */
  def rendezvousAssign(df: DataFrame, keyCol: String,
                       nodes: Seq[(String, Double)],
                       domain: String = "hrw"): DataFrame = {
    require(!df.columns.contains("node"),
      "input must not contain the reserved column node")
    df.withColumn("node", rendezvousBest(keyCol, nodes, domain))
  }

  /** The winning node of the weighted rendezvous fold — the shared
    * kernel of [[rendezvousAssign]] and [[rendezvousRebalance]]. */
  private def rendezvousBest(keyCol: String, nodes: Seq[(String, Double)],
                             domain: String): Column = {
    require(nodes.nonEmpty, "at least one node is required")
    require(nodes.forall(_._2 > 0.0), s"node weights must be positive: $nodes")
    require(nodes.map(_._1).distinct.size == nodes.size,
      s"duplicate node names: $nodes")
    def score(node: String, w: Double): Column = {
      val h = hex52(md5(concat(col(keyCol).cast("string"),
        lit(":" + node + ":" + domain))), 1)
      val u = (h + lit(1L)).cast("double") / lit(4503599627370497.0) // 2^52+1
      -lit(w) / log(u)
    }
    val ordered = nodes.sortBy(_._1)
    if (ordered.size == 1) return lit(ordered.head._1)
    // the strict-improvement fold as a higher-order aggregate(): the
    // accumulator is a LAMBDA VARIABLE, referenced (not inlined) by the
    // when/otherwise — a Column-level foldLeft would nest the whole
    // accumulator tree twice per node, a 2^k expression blow-up that
    // measured 16 s for 9 nodes over 50k rows (vs <1 s linear)
    aggregate(
      array(ordered.tail.map { case (name, w) =>
        struct(score(name, w).as("s"), lit(name).as("n"))
      }: _*),
      struct(score(ordered.head._1, ordered.head._2).as("s"),
        lit(ordered.head._1).as("n")),
      (acc, x) => when(x("s") > acc("s"), x).otherwise(acc)
    ).getField("n")
  }

  /** Topology-change audit for [[rendezvousAssign]]: the assignment
    * under the `before` and `after` node lists side by side with a
    * `moved` flag — the HRW minimal-disruption guarantee in auditable
    * form. Adding a node moves ONLY keys the new node wins (expected
    * share ∝ its weight) and never shuffles keys between surviving
    * nodes (a key's old winner still out-scores every other old node);
    * reweighting moves only boundary keys. Map-only like the
    * assignment itself. Output: `(keyCol, node_before, node_after,
    * moved)`. */
  def rendezvousRebalance(df: DataFrame, keyCol: String,
                          before: Seq[(String, Double)],
                          after: Seq[(String, Double)],
                          domain: String = "hrw"): DataFrame = {
    val b = rendezvousBest(keyCol, before, domain)
    val a = rendezvousBest(keyCol, after, domain)
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol), b.as("node_before"), a.as("node_after"),
        (b =!= a).as("moved"))
  }

  /** UniMax budget allocation (Chung et al., ICLR'23): per-group token
    * quotas under a total `budget` and a per-group `epochCap` (no group may
    * be repeated more than `epochCap` epochs). The paper's greedy — visit
    * groups ascending by size, give each `min(cap_i, remaining/left)` — has
    * a closed form because once a group declines its cap every later
    * (larger) group does too: the capped set is a PREFIX of the ascending
    * size order, and all uncapped groups share the constant
    * `(budget − Σ capped caps) / #uncapped`. That prefix is found with one
    * cumulative window over the group table, no iteration.
    *
    * Exactness: sizes are exact long sums; `cap = floor(size · epochCap)`
    * is a long; every cumulative sum and the prefix condition
    * `cap·(groups left) ≤ budget − Σ previous caps` stay in integer
    * arithmetic, so the only doubles are the two final divisions (share and
    * epochs) — single correctly-rounded ops that replay bit-identically in
    * the q139 oracle.
    *
    * Scale shape: ONE corpus aggregation (map-side partial sums keyed by
    * `groupCol`), then windows over the GROUP table only — vocabulary-sized
    * (#groups rows), so the unpartitioned `WindowExec` warning it emits is
    * the same benign ≤-groups-row pattern as [[ppsSample]]'s offset table,
    * not a corpus-scale sort.
    *
    * Output per group: `(groupCol, size, cap, capped, quota, epochs)`,
    * `epochs = quota/size`. */
  def unimaxQuotas(df: DataFrame, groupCol: String, weightCol: String,
                   budget: Long, epochCap: Double): DataFrame = {
    require(budget > 0, s"budget ($budget) must be positive")
    require(epochCap > 0.0, s"epochCap ($epochCap) must be positive")
    val sizes = df.groupBy(groupCol)
      .agg(sum(col(weightCol)).cast("long").as("size"))
      .withColumn("cap",
        floor(col("size").cast("double") * lit(epochCap)).cast("long"))
    val ord = Window.orderBy(col("size"), col(groupCol))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing).orderBy(col("size"), col(groupCol))
    val w = sizes
      .withColumn("_i", row_number().over(ord).cast("long"))
      .withColumn("_n", count(lit(1)).over(all))
      .withColumn("_cum_prev", coalesce(
        sum(col("cap")).over(ord.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      // cond assumes every earlier group took its full cap; the prefix-AND
      // below makes that assumption self-consistent (see scaladoc)
      // cap·(remaining groups) in decimal(38,0): a ~1e14-token cap times
      // ~1e5 groups wraps Long silently in non-ANSI mode; the budget side
      // widens to decimal for a same-type exact comparison
      .withColumn("_cond",
        when(col("cap").cast("decimal(19,0)") *
          (col("_n") - col("_i") + 1L).cast("decimal(19,0)") <=
          (lit(budget) - col("_cum_prev")).cast("decimal(38,0)"), 1L)
          .otherwise(0L))
      .withColumn("_capped",
        min(col("_cond")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_p", sum(col("_capped")).over(all))
      .withColumn("_cumcap", sum(when(col("_capped") === 1L, col("cap"))
        .otherwise(0L)).over(all))
    w.select(col(groupCol), col("size"), col("cap"),
        (col("_capped") === 1L).as("capped"),
        when(col("_capped") === 1L, col("cap").cast("double"))
          .otherwise((lit(budget) - col("_cumcap")).cast("double") /
            (col("_n") - col("_p")).cast("double")).as("quota"))
      .withColumn("epochs", col("quota") / col("size").cast("double"))
  }

  /** Temperature-scaled corpus mixing quotas — the multilingual
    * data-balancing schedule (public: Devlin et al. 2019 exponentiated
    * sampling for mBERT; Conneau et al. 2020 §3 "temperature" for
    * XLM-R; Chung et al. 2023 UniMax positions itself against it):
    * group i gets share ∝ nᵢ^(1/T), flattening head groups and lifting
    * tail groups relative to proportional sampling. Integer token
    * quotas come from HAMILTON (largest-remainder) rounding, so
    * Σ quota = budget EXACTLY — floors first, then one extra token to
    * the largest remainders (ties → group order).
    *
    * `temperature` is restricted to {1, 2, 4}: 1/T ∈ {1, ½, ¼} keeps
    * every weight inside IEEE-exact operations (sqrt is CORRECTLY
    * ROUNDED by IEEE 754, so nᵢ^(1/2) and nᵢ^(1/4) = sqrt(sqrt(n)) are
    * bit-identical cross-engine; a general n^(1/T) = e^(ln(n)/T) would
    * hang determinism on two libm calls). For capped allocation use
    * [[unimaxQuotas]] — this estimator deliberately allows quota > nᵢ
    * (multi-epoch tail groups, the published behavior).
    *
    * Determinism: sizes are exact integers; W = Σ wᵢ folds in GROUP
    * order over a sorted collect (group-vocabulary terms); each raw
    * quota is one multiply + divide; floors/remainder ranks are exact
    * on the resulting doubles.
    *
    * Scale shape: one map-side-combined size aggregation, then
    * group-vocabulary-sized windows. Output: `(groupCol, size, weight,
    * share, quota)` with Σ quota = budget. */
  def temperatureQuotas(df: DataFrame, groupCol: String, weightCol: String,
                        budget: Long, temperature: Int): DataFrame = {
    require(budget > 0, s"budget ($budget) must be positive")
    require(Set(1, 2, 4).contains(temperature),
      s"temperature ($temperature) must be 1, 2 or 4 — see scaladoc")
    val sizes = df.groupBy(groupCol)
      .agg(sum(col(weightCol)).cast("long").as("size"))
      .filter(col("size") > 0L)
    val wExpr = temperature match {
      case 1 => col("size").cast("double")
      case 2 => sqrt(col("size").cast("double"))
      case 4 => sqrt(sqrt(col("size").cast("double")))
    }
    val withW = sizes.withColumn("weight", wExpr)
    // W folded in group order: parallel double sums are order-dependent
    val tot = withW
      .agg(aggregate(sort_array(collect_list(struct(col(groupCol),
        col("weight").as("w")))), lit(0.0), (a, t) => a + t("w")).as("_W"))
    val raw = withW.crossJoin(broadcast(tot))
      .withColumn("share", col("weight") / col("_W"))
      .withColumn("_q", lit(budget.toDouble) * col("weight") / col("_W"))
      .withColumn("_base", floor(col("_q")).cast("long"))
      .withColumn("_rem", col("_q") - floor(col("_q")))
    val all = Window.orderBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rankW = Window.orderBy(col("_rem").desc, col(groupCol))
    raw
      .withColumn("_left", lit(budget) - sum(col("_base")).over(all))
      .withColumn("_rk", row_number().over(rankW).cast("long"))
      .select(col(groupCol), col("size"), col("weight"), col("share"),
        (col("_base") + when(col("_rk") <= col("_left"), 1L).otherwise(0L))
          .as("quota"))
  }

}
