package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Sketches, TopK, VecDot, VectorFunctions}
import graft.operators.{AsOf, Audit, BloomJoin, Bpe, Chunk, Classifier, Coreset, Dedup, DupClusters, Experiment, Features, Graph, Importance, IncrementalDedup, Intervals, IvfIndex, Keywords, LanguageModel, Layout, Linkage, Multimodal, Novelty, Pack, Phrases, Pq, Preference, Profile, Quantiles, RangeJoin, Ranks, Resample, Retention, Retrieval, Rfm, Sampling, Scd, Scrub, Sessionize, SetSketch, Similarity, SkewJoin, Snapshot, Spatial, TextAnalysis, Trend, Unigram}
import graft.sources.Tables


/** Mechanically split from SparkEntry (round 16, verdict item 8): the
  * single 12.8k-line file was the incremental-compile bottleneck — every
  * query edit recompiled the whole registry. Entries are UNCHANGED and
  * byte-identical to their pre-split form; [[SparkEntry]] composes the
  * parts. New entries go in the LAST part (or a new part when it grows
  * past ~100 entries). */
private[graft] trait QueriesPart3 { this: SparkEntry.type =>
  protected def queriesPart3: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Lead-lag screen: cross-correlation of daily views vs purchases
    // at lags -7..7 — exact sufficient sums per lag, gaps drop pairs.
    "q230_cross_correlation" -> ((s, dir) => {
      val piv = Tables(s, dir).events
        .filter(col("ts").isNotNull)
        .groupBy(floor(unix_micros(col("ts")).cast("double") /
          lit(86400.0e6)).cast("long").as("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("double").as("views"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast("double").as("purchases"))
      Trend.crossCorrelation(piv, "day", "views", "purchases",
          maxLag = 7)
        .orderBy("lag")
    }),
    // Change-point by binary segmentation on the daily volume series:
    // exact prefix sums, fixed-order SSE costs, earliest-split ties.
    "q228_change_point" -> ((s, dir) => {
      val daily = Tables(s, dir).events
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"),
          floor(unix_micros(col("ts")).cast("double") / lit(86400.0e6))
            .cast("long").as("day"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      Trend.changePoint(daily, Seq("event_type"), "day", "n_events")
        .orderBy("event_type")
    }),
    // GloVe-style co-occurrence matrix head: harmonic 1/d window
    // weights as exact lcm-scaled integers (12/6/4/3), canonical
    // unordered pairs, TopK heap selection.
    "q227_glove_cooc" -> ((s, dir) => {
      Phrases.gloveCooc(Tables(s, dir).documentsSpread, "text", window = 4,
          k = 100)
        .orderBy("rank")
    }),
    // k-anonymity/l-diversity release audit on customer quasi-ids
    // (nation, segment, account-balance hundreds): exact class sizes,
    // null-as-value diversity.
    "q226_k_anonymity" -> ((s, dir) => {
      val c = Tables(s, dir).customer
        .withColumn("bal_bucket",
          floor(col("c_acctbal").cast("double") / lit(100.0))
            .cast("long"))
      Scrub.kAnonymity(c, Seq("c_nationkey", "c_mktsegment", "bal_bucket"),
        "c_custkey", k = 5L, l = 2L)
    }),
    // Cohort LTV curves over epoch-week cohorts: exact micro-unit
    // revenue cells, cohort-partitioned cumulative, per-user LTV.
    "q225_ltv_curve" -> ((s, dir) => {
      val ev = Tables(s, dir).events
        .filter(col("ts").isNotNull)
        .withColumn("week",
          floor(unix_micros(col("ts")).cast("double") / lit(86400e6 * 7))
            .cast("long"))
      Retention.ltvCurve(ev, "user_id", "week", "value")
        .orderBy("cohort", "age")
    }),
    // Bot-regularity screen: planted clockwork users (60s grid via
    // per-user row_number) must flag; the CV threshold is decided on
    // exact integers, never a double.
    "q224_bot_regularity" -> ((s, dir) => {
      val ev = Tables(s, dir).events
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val planted = ev.withColumn("_rn", row_number().over(w))
        .select(col("user_id"), col("event_id"),
          when(col("user_id") % 37 === 0,
            timestamp_micros(col("_rn") * lit(60000000L)))
            .otherwise(col("ts")).as("ts2"))
      Sessionize.botRegularity(planted, "user_id", "ts2",
          minGaps = 5L, cvPct = 10L, tieBreak = Seq("event_id"))
        .orderBy("user")
    }),
    // Rare-transition anomaly screen: a planted ~1% state makes some
    // transitions genuinely rare; flags decided on exact integers
    // (n*k < total), never a double.
    "q223_rare_transitions" -> ((s, dir) => {
      val ev = Tables(s, dir).events
        .filter(col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_id") % 97 === 0, lit("rare_evt"))
            .otherwise(col("event_type")).as("state"))
      Sessionize.rareTransitions(ev, "user_id", "ts", "state", k = 50L,
          tieBreak = Seq("event_id"))
        .orderBy("user")
    }),
    // Time-decay multi-touch attribution: exact dyadic half-life
    // weights (scaled 2^(62-k) integers, decimal(38,0) sums) — no
    // window, no ordering, one channel aggregation.
    "q222_time_decay" -> ((s, dir) => {
      Sessionize.timeDecayAttribution(Tables(s, dir).events, "user_id",
          "ts", "event_type", "purchase", halfLifeDays = 7)
        .orderBy("channel")
    }),
    // RFM customer-value grid: recency/frequency/monetary quintiles by
    // deterministic rank cuts (user-id tiebreaks), exact metrics,
    // segment-sized output.
    "q221_rfm_segments" -> ((s, dir) => {
      Rfm.rfmSegments(Tables(s, dir).events, "user_id", "ts", "value",
          nBuckets = 5)
        .orderBy("r_score", "f_score", "m_score")
    }),
    // Functional-dependency audit over lineitem: which "X determines Y"
    // rules actually hold — exact per-key distinct-value counts, null
    // dependents counted as values.
    "q220_fd_violations" -> ((s, dir) => {
      Audit.fdViolations(Tables(s, dir).lineitem,
          Seq("l_orderkey" -> "l_returnflag",
            "l_orderkey" -> "l_linestatus",
            "l_partkey" -> "l_suppkey",
            "l_suppkey" -> "l_returnflag"))
        .orderBy("determinant", "dependent")
    }),
    // DAU/WAU stickiness: exact trailing-7-day distinct actives via the
    // fan-out equi-join (never a sliding DISTINCT window), spine-clipped.
    "q219_stickiness" -> ((s, dir) => {
      val ev = Tables(s, dir).events
        .filter(col("ts").isNotNull)
        .withColumn("day",
          floor(unix_micros(col("ts")).cast("double") / lit(86400.0e6))
            .cast("long"))
      Retention.stickiness(ev, "user_id", "day", windowDays = 7)
        .orderBy("day")
    }),
    // MAU growth accounting over epoch-week buckets: every active user
    // is new/retained/resurrected exactly once per period, churn lands
    // in the period the user went silent, quick ratio from exact counts.
    "q210_growth_accounting" -> ((s, dir) => {
      val ev = Tables(s, dir).events
        .filter(col("ts").isNotNull)
        .withColumn("week",
          floor(unix_micros(col("ts")).cast("double") / lit(86400e6 * 7))
            .cast("long"))
      Retention.growthAccounting(ev, "user_id", "week")
        .orderBy("period")
    }),
    // Geo radius join WITHOUT the cross product: md5-derived planar
    // micro-degree coordinates, cell-size-R grid buckets (right side
    // replicated 3x3), exact integer distance filter; the brute-force
    // oracle proves the bucketing loses nothing.
    // k=3 nearest suppliers within R per customer (bounded spatial kNN):
    // the q209 grid candidates ranked by exact integer (dist_sq, r_id).
    // The oracle is again the brute-force cross — the grid AND the cut
    // must lose nothing.
    "q244_knn_within_radius" -> ((s, dir) => {
      val t = Tables(s, dir)
      def coord(key: Column, tag: String) =
        conv(substring(md5(concat(key.cast("string"), lit(tag))), 1, 6),
          16, 10).cast("long") % 10000000L
      val cust = t.customer.filter(col("c_nationkey") === 3)
        .select(col("c_custkey"),
          coord(col("c_custkey"), ":cx").as("x"),
          coord(col("c_custkey"), ":cy").as("y"))
      val supp = t.supplier
        .select(col("s_suppkey"),
          coord(col("s_suppkey"), ":sx").as("x"),
          coord(col("s_suppkey"), ":sy").as("y"))
      Spatial.knnWithinRadius(
          cust.withColumnRenamed("c_custkey", "pid"),
          supp.withColumnRenamed("s_suppkey", "pid"),
          "pid", "x", "y", radius = 1000000L, k = 3)
        .orderBy("l_id", "rank")
    }),
    // Matryoshka truncation eval (Kusupati et al. 2022): recall@10 of
    // the 16-dim prefix ranking against the full-dim exact ranking —
    // both sides the q27 cosine chain, so the oracle replays everything.
    "q259_matryoshka_recall" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val full = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      val te = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val tq = q.select(col("query_id"),
        slice(col("query_vec"), 1, 16).as("query_vec"))
      val trunc = Similarity.bruteForceTopK(te, "vec_id", "embedding", tq, 10)
      Similarity.recallAtK(trunc, full).orderBy("query_id")
    }),
    // Modularity of the q249 label-propagation partition: exact
    // Q * 4m^2 integer numerator, community-ordered fold — the quality
    // score that says whether LPA found real structure.
    "q269_modularity" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = li.select(col("ok"), col("sk").as("a"))
        .join(li.select(col("ok"), col("sk").as("b")), "ok")
        .filter(col("a") =!= col("b"))
        .select("a", "b")
      val labels = Graph.labelPropagation(edges, "a", "b", iters = 3)
      Graph.modularity(edges, "a", "b", labels, "node", "label")
    }),
    // sf1.0 heavy-tail s-variants (the q182s/q217s/q237s convention):
    // q286/q287/q292 price at 10.8/14.3/16.6 s on the sf1.0 decade, so
    // each gets an md5-sampled twin the driver's gate can run instead —
    // 25%, except q286s at 50% ("80"): wedges are quadratic in the
    // sample, and 25% left sf0.001 with zero cn >= 2 pairs (see
    // linkPredictionOracleSql's note)
    "q286s_link_prediction_sampled" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0 &&
          oracleSampleAt(col("l_orderkey"), "80"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .select("a", "b")
      Graph.linkPrediction(edges, "a", "b", maxCenterDegree = 256,
        minCommon = 2L).orderBy("u", "w")
    }),
    "q287s_nb_multiclass_sampled" -> ((s, dir) => {
      val d = Tables(s, dir).documents
        .filter(oracleSampleAt(col("doc_id"), "40"))
      val seed = d.filter(col("doc_id") % 4 =!= 0)
        .select(col("lang"), col("text"))
      Classifier.nbMulticlassScore(d, "doc_id", "text",
          Classifier.nbMulticlassTrain(seed, "text", "lang"))
        .orderBy("doc_id")
    }),
    "q292s_poisson_bootstrap_sampled" -> ((s, dir) => {
      // sample-below-spread ordering is the OPTIMIZER's job here and it
      // does it: the row-local sample predicate is pushed below the
      // repartition exchange (plan verified byte-identical to a manual
      // filter-first rewrite), so the spread only ever moves survivors
      val ev = Tables(s, dir).eventsSpread.filter(col("event_type").isNotNull &&
        oracleSampleAt(col("event_id"), "40"))
      Experiment.poissonBootstrapMean(ev, Seq("event_type"), "event_id",
        "value", reps = 64, loIdx = 2, hiIdx = 63).orderBy("event_type")
    }),
    // Cohen's d / Hedges' g standardized effect size between the q176 md5
    // arms on per-user exact-decimal value sums — every output one fixed
    // IEEE chain over six exact sums, no rounding anywhere.
    "q298_cohens_d" -> ((s, dir) => {
      val units = Tables(s, dir).events
        .filter(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(sum(coalesce(col("value").cast("decimal(18,6)"),
          lit(0L).cast("decimal(18,6)"))).as("y"))
        .select(when(substring(md5(concat(col("user_id").cast("string"),
          lit(":ab"))), 1, 1) >= "8", "treat").otherwise("ctrl").as("arm"),
          col("y"))
      Experiment.cohensD(units, "arm", "y", "treat", "ctrl")
    }),
    // Mantel-Haenszel pooled odds ratio over nation strata: unit = user,
    // treated = the q176 md5 arm, outcome = any event value > 50 (exact
    // decimal max), stratum = the user's nation — does treatment
    // associate with the outcome once geography is held fixed?
    "q297_mantel_haenszel" -> ((s, dir) => {
      val t = Tables(s, dir)
      val units = t.events
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .groupBy("user_id")
        .agg(max(col("value").cast("decimal(18,6)")).as("_mx"))
        .select(col("user_id"),
          (substring(md5(concat(col("user_id").cast("string"), lit(":ab"))),
            1, 1) >= "8").as("treated"),
          (col("_mx") > lit(50L).cast("decimal(18,6)")).as("outcome"))
        .join(t.customer.select(col("c_custkey").as("user_id"),
          col("c_nationkey")), Seq("user_id"))
      Experiment.mantelHaenszel(units, "c_nationkey", "treated", "outcome")
    }),
    // American Soundex phonetic keys (census / Knuth rules) over each
    // document's first token — the classic linkage blocking key, own
    // integer-state-fold implementation so the oracle replays the exact
    // specification (Spark's builtin soundex would need its H/W edge
    // cases reverse-engineered).
    "q296_soundex_keys" -> ((s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"),
          TextAnalysis.soundex(
            element_at(split(col("text"), " "), 1)).as("sx"))
        .orderBy("doc_id")
    }),
    // Fellegi-Sunter per-field match weights (1969): u estimated EXACTLY
    // from the value histogram (sum n_v^2 / N^2, nulls as values), m an
    // explicit 1e-6-unit prior, both logs 6dp floor-rounded.
    "q294_fs_weights" -> ((s, dir) => {
      val c = Tables(s, dir).customer.select(col("c_mktsegment"),
        col("c_nationkey"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)" +
          " DIV 100000").as("bal_bucket"))
      Linkage.fellegiSunterWeights(c,
        Seq("c_mktsegment", "c_nationkey", "bal_bucket")).orderBy("field")
    }),
    // The composed probabilistic-linkage chain: sorted-neighborhood
    // candidates over c_name, scored with the q294 weights — agree adds
    // ln(m/u), disagree adds ln((1-m)/(1-u)), declared field order,
    // 4dp floor round.
    "q295_fs_scored_pairs" -> ((s, dir) => {
      val c = Tables(s, dir).customer.select(col("c_custkey"),
        col("c_name"), col("c_mktsegment"), col("c_nationkey"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)" +
          " DIV 100000").as("bal_bucket"))
      val fields = Seq("c_mktsegment", "c_nationkey", "bal_bucket")
      val w = Linkage.fellegiSunterWeights(c, fields)
      val pairs = Linkage.sortedNeighborhoodPairs(c, "c_custkey", "c_name",
        window = 3)
      Linkage.fsScorePairs(pairs.select("id_a", "id_b"), c, "c_custkey",
        fields, w).orderBy("id_a", "id_b")
    }),
    // Platt scaling over the q115 NB quality scores: the textbook
    // raw-margin -> probability chain (Platt 1999), fit by 4 integer
    // fixed-point Newton steps whose full trajectory is the gated output
    // (every step verified, not just a fixed point).
    "q293_platt_scaling" -> ((s, dir) => {
      val d = Tables(s, dir).documents
      val seed = d.filter(col("doc_id") % 3 === 0)
        .select((col("lang") === "en").as("y"), col("text"))
      val scored = Classifier.nbScore(d, "doc_id", "text",
          Classifier.nbTrain(seed, "text", "y"))
        .join(d.select(col("doc_id"), (col("lang") === "en").as("y")),
          Seq("doc_id"))
      Classifier.plattScale(scored, "score", "y", iters = 4).orderBy("iter")
    }),
    // Poisson bootstrap CI (Chamandy et al. 2012) for the per-event-type
    // value mean: 64 deterministic md5-weighted replicates (weights =
    // inverse Poisson(1) CDF over planted 12-hex thresholds), exact
    // micro-unit replicate sums, pure order-statistics CI — the one
    // bootstrap that runs in a single pass over sharded data.
    "q292_poisson_bootstrap" -> ((s, dir) => {
      // eventsSpread: the 64-way replicate explode + md5 weights run over a
      // single-row-group scan (one core) without it; all downstream sums
      // are exact integers, so the spread is order-invariant
      val ev = Tables(s, dir).eventsSpread.filter(col("event_type").isNotNull)
      Experiment.poissonBootstrapMean(ev, Seq("event_type"), "event_id",
        "value", reps = 64, loIdx = 2, hiIdx = 63).orderBy("event_type")
    }),
    // Landmark betweenness (Brandes 2001 accumulation over a Brandes-Pich
    // 2007 pivot set) on the parts-bought-together graph: exact integer
    // shortest-path counts forward, node-id-ordered dependency folds
    // backward, landmark-id-ordered cross-landmark sum — all landmarks in
    // ONE batched (landmark, node)-keyed pass, hop-bounded at 3.
    "q291_betweenness" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .select("a", "b")
      Graph.betweennessFromLandmarks(edges, "a", "b", Seq(2L, 3L, 5L, 8L),
        maxHops = 3).orderBy("node")
    }),
    // Neighborhood-overlap link prediction over the parts-bought-together
    // graph (sparse at every SF, so predicted links are meaningful):
    // non-edge pairs scored by common neighbors, integral-DIV Jaccard,
    // and exact resource allocation — celebrity centers (deg > 256)
    // dropped whole per the cap discipline.
    "q286_link_prediction" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .select("a", "b")
      Graph.linkPrediction(edges, "a", "b", maxCenterDegree = 256,
        minCommon = 2L).orderBy("u", "w")
    }),
    // Two-level Louvain (Blondel et al. 2008: deterministic synchronous
    // local moves with exact-integer gains and the Lu et al. 2015
    // singleton guard, then coarsen and move again on the community
    // graph) over the parts-bought-together graph — sparse at every SF,
    // so there is real community structure for the ascent to find
    // (the q249/q269 co-supplier graph is a 100-node near-clique where
    // the honest answer is "no structure", Q = 0).
    "q271_louvain" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
      Graph.louvain(edges, "a", "b", levels = 2, rounds = 3)
        .orderBy("node")
    }),
    // Modularity of the q271 Louvain partition — the Q-optimizer
    // contrast q269 positioned its exact-Q metric to gate (on the
    // co-supplier graph LPA scores Q = 0: one giant community).
    "q272_louvain_modularity" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
        // louvain AND modularity both consume the co-purchase self-join:
        // one materialization instead of two executions
        .localCheckpoint(false)
      val labels = Graph.louvain(edges, "a", "b", levels = 2, rounds = 3)
      Graph.modularity(edges, "a", "b", labels, "node", "label")
    }),
    // 25% md5-sampled Louvain twins (the q182s/q217s/q237s s-variant
    // convention): q271/q272 are the two most expensive battery rows at
    // sf0.1 (~9-11 s; q272 re-runs the full ascent before scoring Q) and
    // cost rounds × edges — the quarter-sampled order set bounds what an
    // sf1.0 bench can be dominated by.
    "q271s_louvain_sampled" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0 &&
          oracleSampleAt(col("l_orderkey"), "40"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
      Graph.louvain(edges, "a", "b", levels = 2, rounds = 3)
        .orderBy("node")
    }),
    "q272s_louvain_modularity_sampled" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0 &&
          oracleSampleAt(col("l_orderkey"), "40"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
        // louvain AND modularity both consume the co-purchase self-join:
        // one materialization instead of two executions
        .localCheckpoint(false)
      val labels = Graph.louvain(edges, "a", "b", levels = 2, rounds = 3)
      Graph.modularity(edges, "a", "b", labels, "node", "label")
    }),
    // WEIGHTED Louvain over the same co-purchase graph, edges weighted
    // by how many orders bought the pair together — the wCol regime
    // q271 leaves unexercised end to end (its level 1 is all-unit
    // weights; only the coarsened level 2 ran weighted before). Gains
    // stay exact decimal(38,0) integers; the oracle's e0 carries the
    // count and coarsens by sum(w).
    "q300_louvain_weighted" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
      Graph.louvain(edges, "a", "b", levels = 2, rounds = 3,
          wCol = Some("w"))
        .orderBy("node")
    }),
    // 25% md5-sampled twins of the weighted pair (q300 23.3 s / q305
    // 31.4 s on the sf1.0 decade — the q271s/q272s convention)
    "q300s_louvain_weighted_sampled" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0 &&
          oracleSampleAt(col("l_orderkey"), "40"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
      Graph.louvain(edges, "a", "b", levels = 2, rounds = 3,
          wCol = Some("w"))
        .orderBy("node")
    }),
    "q305s_louvain_weighted_modularity_sampled" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0 &&
          oracleSampleAt(col("l_orderkey"), "40"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
        // louvain AND modularityWeighted share the weighted self-join:
        // one materialization instead of two executions
        .localCheckpoint(false)
      val labels = Graph.louvain(edges, "a", "b", levels = 2, rounds = 3,
        wCol = Some("w"))
      Graph.modularityWeighted(edges, "a", "b", "w", labels, "node",
        "label")
    }),
    // WEIGHTED modularity of the q300 partition — the weighted-Q metric
    // that scores what the weighted ascent optimized (q272 scores the
    // unit-weight form): Q·4W² = Σ_c [4W·w_c − S_c²] in exact integers,
    // W the summed co-purchase counts, S_c the weighted degrees.
    "q305_louvain_weighted_modularity" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
        // louvain AND modularityWeighted share the weighted self-join:
        // one materialization instead of two executions
        .localCheckpoint(false)
      val labels = Graph.louvain(edges, "a", "b", levels = 2, rounds = 3,
        wCol = Some("w"))
      Graph.modularityWeighted(edges, "a", "b", "w", labels, "node",
        "label")
    }),
    // Product quantization ANN (Jégou et al. 2011): 64-dim floats to
    // 4 codes of 4 bits (m=4 blocks, 16 cells), ADC lookup-table
    // scoring, exact cosine re-rank. The gate runs the whole-corpus
    // shortlist regime, so the result must equal brute force VERBATIM
    // (q41's oracle) — quantization may only reorder a shortlist that
    // contains everything; partial-shortlist recall is spec territory.
    "q283_ann_pq" -> ((s, dir) => {
      val t = Tables(s, dir)
      val q = t.embeddings.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Pq.topK(t.embeddings, "vec_id", "embedding", q, k = 10, dim = 64,
          m = 4, kCells = 16, iters = 2, shortlistFactor = 1000000)
        .orderBy("query_id", "rank")
    }),
    // IVFADC serving composition (Jégou et al. 2011 §IV): IVF coarse
    // cells → residual PQ codes → ADC over the PROBED cells' postings
    // only → exact re-rank — the deployment shape at 10⁹ vectors (q283
    // alone is the whole-corpus ADC regime). Gated at full probe +
    // corpus-covering shortlist, where the composition must reproduce
    // brute force VERBATIM (q41's oracle); the nProbe < nCells recall
    // trade is PqSpec's recall@10 row.
    "q299_ann_ivfpq" -> ((s, dir) => {
      val t = Tables(s, dir)
      val q = t.embeddings.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Pq.topKFromIvf(t.embeddings, "vec_id", "embedding", q, k = 10,
          dim = 64, m = 4, kCells = 16, nCells = 16, nProbe = 16,
          iters = 2, shortlistFactor = 1000000)
        .orderBy("query_id", "rank")
    }),
    // PERSISTED IVFADC (q299's on-disk serving shape, the q171 recipe
    // for PQ): centroids + residual codebooks + cell-partitioned code
    // table on disk, probed cells collected (≤ nCells ids) and pushed
    // as a static partition filter so the serve opens only the probed
    // cells' code directories. Doubles round-trip parquet bit-exactly,
    // so the full-probe serve must STILL equal brute force verbatim.
    "q304_ann_ivfpq_persisted" -> ((s, dir) => {
      val t = Tables(s, dir)
      val q = t.embeddings.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val path = s"target/qtmp/ivfpq_q304_${Integer.toHexString(dir.hashCode)}"
      Pq.saveIvfPqIndex(path, t.embeddings, "vec_id", "embedding",
        dim = 64, m = 4, kCells = 16, nCells = 16, iters = 2)
      Pq.topKFromIvfPqIndex(s, path, t.embeddings, "vec_id", "embedding",
          q, k = 10, nProbe = 16, shortlistFactor = 1000000)
        .orderBy("query_id", "rank")
    }),
    // Z-order layout audit (Morton interleave, the OPTIMIZE ZORDER
    // technique): events keyed by (user bucket, hour bucket) in 10-bit
    // space, 16 closed-form z-ranges — per-range min/max spans of BOTH
    // dimensions prove the layout clusters both (≈ 1/4 each, vs 1/16
    // and ~1 for a single-column sort). Pair with repartitionByRange(n, z)
    // .sortWithinPartitions(z) for the actual write; the audit is the
    // adopt/don't evidence.
    "q281_zorder_audit" -> ((s, dir) => {
      val ev = Tables(s, dir).events
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(pmod(col("user_id"), lit(1024L)).as("x"),
          pmod(expr("unix_micros(ts) div 3600000000"), lit(1024L)).as("y"))
      Layout.zOrderAudit(ev, "x", "y", bits = 10, nFiles = 16)
        .orderBy("bucket")
    }),
    // Temperature-scaled mixing quotas (XLM-R style, T = 2 so the
    // exponent is one IEEE-exact sqrt): per-lang share ∝ sqrt(chars),
    // Hamilton largest-remainder rounding so the integer quotas sum to
    // the budget EXACTLY.
    "q282_temperature_mix" -> ((s, dir) => {
      Sampling.temperatureQuotas(
        Tables(s, dir).documents.filter(col("lang").isNotNull),
        "lang", "n_chars", budget = 1000000L, temperature = 2)
        .orderBy("lang")
    }),
    // LSH banding advisor (MMDS §3.4.3): exact token-set Jaccard over a
    // replayable pair sample (adjacent-in-lang at lead 1/2 = background
    // mass, self-pairs = the planted jaccard-1 dup regime the plan must
    // protect), 20-bin histogram, S-curve FP/FN for every (b, r) with
    // b*r = 16 via UNROLLED multiplication chains (no pow), min-error
    // plan marked. The measured pre-flight for minhashCandidatePairs.
    "q279_lsh_parameter_plan" -> ((s, dir) => {
      val docs = Tables(s, dir).documentsSpread
        .filter(col("lang").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          array_distinct(split(col("text"), " ")).as("tk"))
      val w = Window.partitionBy("lang").orderBy("doc_id")
      val adj = Seq(1, 2).map(o => docs
        .withColumn("tk2", lead(col("tk"), o).over(w))
        .filter(col("tk2").isNotNull)
        .select("tk", "tk2")).reduce(_.unionByName(_))
      val dup = docs.select(col("tk"), col("tk").as("tk2"))
      val pairs = adj.unionByName(dup)
        .filter(size(array_union(col("tk"), col("tk2"))) > 0)
        .select((size(array_intersect(col("tk"), col("tk2"))).cast("double")
          / size(array_union(col("tk"), col("tk2"))).cast("double"))
          .as("sim"))
      Dedup.lshParameterPlan(pairs, "sim", nHashes = 16, threshold = 0.7)
        .orderBy("b")
    }),
    // Split-conformal interval calibration (Papadopoulos 2002 / Lei
    // 2018): predictor = per-lang mean n_chars on the even-doc_id
    // calibration half, EXACT in micro-units (integer div, no double
    // mean); q-hat = the ceil((n+1)*0.9)-th smallest |y - pred| order
    // statistic (distributed selection, no single-partition window);
    // empirical coverage measured on the odd half. Finite-sample
    // coverage >= 0.9 by the conformal guarantee — the abstention-
    // threshold calibration a production quality filter runs.
    "q278_conformal_coverage" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
      val pm = docs.filter(col("doc_id") % 2 === 0)
        .groupBy("lang")
        .agg(expr("(CAST(sum(n_chars) AS DECIMAL(38,0)) * 1000000)" +
          " div count(*)").as("_pmic"))
        .select(col("lang"),
          (col("_pmic").cast("decimal(25,0)") / lit(1000000L))
            .cast("decimal(18,6)").as("pred"))
      val cal = docs.filter(col("doc_id") % 2 === 0).join(pm, "lang")
      val tst = docs.filter(col("doc_id") % 2 === 1).join(pm, "lang")
      Classifier.splitConformal(cal, tst, "n_chars", "pred", alpha = 0.1)
    }),
    // Benjamini-Hochberg FDR (1995) over 25 per-nation two-proportion
    // tests (md5 arm split, conversion = customer placed >= 11 orders, ~42% base rate at every SF).
    // The per-segment p is the TRANSCENDENTAL-FREE Chebyshev bound
    // min(1, 1/z^2) on the pooled z — a valid conservative p-value that
    // keeps the whole chain exact-integer + fixed double ops, so the
    // ranks, q-values and reject decisions replay bit-for-bit.
    "q276_bh_fdr" -> ((s, dir) => {
      val t = Tables(s, dir)
      val units = t.orders
        .join(t.customer.select(col("c_custkey").as("o_custkey"),
          col("c_nationkey")), Seq("o_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          col("o_custkey").as("cust"),
          (substring(md5(concat(col("o_custkey").cast("string"),
            lit(":ab"))), 1, 1) >= lit("8")).as("arm"))
        .agg((count(lit(1)) >= 11).as("conv"))
      val cells = units.groupBy("nation", "arm")
        .agg(count(lit(1)).as("n"),
          sum(when(col("conv"), 1L).otherwise(0L)).as("k"))
      val seg = cells.groupBy("nation").agg(
        sum(when(col("arm"), col("n"))).as("n1"),
        sum(when(col("arm"), col("k"))).as("k1"),
        sum(when(!col("arm"), col("n"))).as("n0"),
        sum(when(!col("arm"), col("k"))).as("k0"))
        .filter(col("n1").isNotNull && col("n0").isNotNull)
      def dbl(c: Column): Column = c.cast("double")
      val p1 = dbl(col("k1")) / dbl(col("n1"))
      val p0 = dbl(col("k0")) / dbl(col("n0"))
      val pb = (dbl(col("k1")) + dbl(col("k0"))) /
        (dbl(col("n1")) + dbl(col("n0")))
      val se = sqrt(pb * (lit(1.0) - pb) *
        (lit(1.0) / dbl(col("n1")) + lit(1.0) / dbl(col("n0"))))
      val z = (p1 - p0) / se
      val withP = seg.select(col("nation"),
        when(se > 0.0,
          // z = 0 (identical rates) -> Chebyshev bound 1/0 is +inf,
          // clamp to p = 1 explicitly (ANSI errors on double div-by-0)
          when(p1 - p0 === 0.0, lit(1.0))
            .otherwise(least(lit(1.0), lit(1.0) / (z * z))))
          .otherwise(lit(null)).as("p"))
      Experiment.benjaminiHochberg(withP, "nation", "p", alpha = 0.2)
        .orderBy("rank")
    }),
    // Propensity-stratified ATE (Rosenbaum & Rubin 1984): unit = user,
    // outcome = exact micro-unit value sum, strata = activity buckets
    // (n_events div 10 capped at 5) — the cell-constant-propensity IPW
    // estimator with both-arm strata only, dropped mass reported.
    "q277_stratified_ate" -> ((s, dir) => {
      val units = Tables(s, dir).events
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"),
          sum(coalesce(col("value").cast("decimal(18,6)"),
            lit(0L).cast("decimal(18,6)"))).as("y"))
        .select(
          (substring(md5(concat(col("user_id").cast("string"),
            lit(":ab"))), 1, 1) >= lit("8")).as("treated"),
          col("y"), // exact decimal — the op's micro-unit cast stays exact
          least(floor(col("n_ev") / 10L), lit(5L)).as("bucket"))
      Experiment.stratifiedAte(units, "treated", "y", Seq("bucket"))
    }),
    // EXACT Shapley attribution over {view, click, signup} coalitions
    // (conversion = first purchase): v(S) counts, factorial-weighted
    // integer credit — phi * 3! is an exact long both engines replay.
    "q268_shapley_attribution" -> ((s, dir) => {
      Sessionize.shapleyAttribution(Tables(s, dir).events, "user_id",
          "ts", "event_type", "purchase", Seq("view", "click", "signup"))
        .orderBy("channel")
    }),
    // SAMPLED Shapley (Castro et al. 2009) in the n > 16 regime the
    // exact 2^n table can't reach: 20 channels (event_type × 5h-of-day
    // buckets), 64 deterministic md5-lane permutations; every marginal
    // is an integer so shapley_e is an exact long the oracle replays
    // permutation-for-permutation.
    "q275_shapley_sampled" -> ((s, dir) => {
      val ev = Tables(s, dir).events
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("chan",
          when(col("event_type") === "purchase", lit("purchase"))
            .otherwise(concat(col("event_type"), lit("_"),
              pmod(hour(col("ts")), lit(5)).cast("string"))))
      val channels = for (t <- Seq("click", "error", "signup", "view");
                          b <- 0 until 5) yield s"${t}_$b"
      Sessionize.shapleySampledAttribution(ev, "user_id", "ts", "chan",
          "purchase", channels, nSamples = 64)
        .orderBy("channel")
    }),
    // Annotator consensus (Dawid-Skene-lite): 5 planted annotators with
    // DIFFERENT md5 noise rates (10%..50%) vote on each doc's lang;
    // majority, accuracy-vs-majority, accuracy-weighted re-vote.
    "q267_annotator_consensus" -> ((s, dir) => {
      val votes = Tables(s, dir).documents
        .filter(col("lang").isNotNull)
        .select(col("doc_id"), explode(array((0 until 5).map { k =>
          struct(lit(s"a$k").as("annotator"),
            when(conv(substring(md5(concat(col("doc_id").cast("string"),
                lit(s":an$k"))), 1, 5), 16, 10).cast("long") % 1000000L
                < (k + 1) * 100000L,
              concat(lit("x_"), col("lang"))).otherwise(col("lang"))
              .as("label"))
        }: _*)).as("v"))
        .select(col("doc_id"), col("v.annotator").as("annotator"),
          col("v.label").as("label"))
      Classifier.annotatorConsensus(votes, "doc_id", "annotator", "label")
        .orderBy("doc_id")
    }),
    // Bradley-Terry strengths over SKU "matches" (adjacent line items
    // in an order; higher quantity wins, ties to the smaller SKU):
    // 3 MM rounds, opponent-ordered folds, sum-normalized scale.
    "q266_bradley_terry" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          (col("l_partkey") % 20).as("p"), col("l_quantity").as("q"))
      val m = li.select(col("ok"), col("ln"), col("p").as("pa"),
          col("q").as("qa"))
        .join(li.select(col("ok"), (col("ln") - 1).as("ln"),
          col("p").as("pb"), col("q").as("qb")), Seq("ok", "ln"))
        .select(
          when(col("qa") > col("qb"), col("pa"))
            .when(col("qb") > col("qa"), col("pb"))
            .otherwise(least(col("pa"), col("pb"))).as("winner"),
          when(col("qa") > col("qb"), col("pb"))
            .when(col("qb") > col("qa"), col("pa"))
            .otherwise(greatest(col("pa"), col("pb"))).as("loser"))
      Preference.bradleyTerry(m, "winner", "loser", iters = 3)
        .orderBy("item")
    }),
    // Empirical-Bayes return-rate shrinkage per SKU bucket: beta-
    // binomial prior by method of moments across items, posterior-mean
    // rates — small-n SKUs shrink toward the global rate.
    "q265_eb_shrinkage" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .select((col("l_partkey") % 500).as("sku"),
          (col("l_returnflag") === "R").as("returned"))
      Experiment.ebShrinkRates(li, "sku", "returned")
        .orderBy("sku")
    }),
    // Log-rank test between the q176 arms: per-user time-to-first-
    // purchase (censored at last activity), pooled event-time grid,
    // hypergeometric variance, t-ordered E/V folds.
    "q264_log_rank" -> ((s, dir) => {
      val per = Tables(s, dir).events
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("first_us"),
          min(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("purch_us"),
          max(unix_micros(col("ts"))).as("last_us"))
        .select(
          when(substring(md5(concat(col("user_id").cast("string"),
            lit(":ab"))), 1, 1) < "8", lit("control"))
            .otherwise(lit("treatment")).as("arm"),
          expr("(coalesce(purch_us, last_us) - first_us) div 86400000000")
            .as("dur_days"),
          col("purch_us").isNotNull.as("event"))
      Retention.logRankTest(per, "arm", "dur_days", "event",
        "control", "treatment")
    }),
    // Holt-Winters additive seasonal smoothing (period 7) on the q212
    // daily series: q212's integer fold plus a learned 7-slot seasonal
    // state, one row per (series, slot).
    "q263_holt_winters" -> ((s, dir) => {
      val daily = Tables(s, dir).events
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("v"))
      Trend.holtWinters(daily, Seq("event_type"), "day", "v", period = 7)
        .orderBy("event_type", "slot")
    }),
    // Efraimidis-Spirakis weighted k-sample per source (weight =
    // n_chars): top-k by ln(u)/w with hash-derived u — a deterministic
    // weighted WITHOUT-replacement draw, O(k) aggregation state.
    "q262_weighted_sample" -> ((s, dir) => {
      Sampling.weightedSampleK(Tables(s, dir).documents, Seq("source"),
          "doc_id", "n_chars", k = 5)
        .orderBy("source", "rank")
    }),
    // TextRank keywords (Mihalcea & Tarau, EMNLP 2004) as a pure
    // composition: adjacency co-occurrence edges (symmetrized) from the
    // canonical tokens -> q190's exact integer PageRank -> top 20 by
    // the exact (rank_e12, word) order.
    "q261_textrank_keywords" -> ((s, dir) => {
      val toks = Tables(s, dir).documents.filter(col("doc_id") % 5 === 0)
        .select(filter(split(TextAnalysis.normalized(col("text")), " "),
          c => c =!= "").as("tk"))
      val pairs = toks.filter(size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tk) - 1)," +
            " i -> struct(tk[i-1] AS a, tk[i] AS b))")).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .filter(col("a") =!= col("b"))
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      Graph.pageRank(edges, "src", "dst", iters = 2)
        .orderBy(col("rank_e12").desc, col("node")).limit(20)
    }),
    // Int8 symmetric quantization eval: per-dim max-abs scales (exact
    // order-free max), deterministic rounding, EXACT integer dot-product
    // ranking (no float accumulation at all), recall@10 vs the full
    // float cosine ranking.
    "q260_int8_recall" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val full = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      val scales = emb
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("pos").agg(max(abs(col("v").cast("double"))).as("m"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("sc"))
      def quant(vec: String) = expr(
        s"""transform($vec, (x, i) -> CASE WHEN sc[i] = 0.0D THEN 0L
           |  ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0D / sc[i] + 0.5D)
           |    AS BIGINT) END)""".stripMargin)
      val qc = emb.crossJoin(broadcast(scales))
        .select(col("vec_id").as("neighbor_id"), quant("embedding").as("qv"))
      val qq = q.crossJoin(broadcast(scales))
        .select(col("query_id"), quant("query_vec").as("qq"))
      val scored = qc.crossJoin(broadcast(qq))
        .select(col("query_id"), col("neighbor_id"),
          aggregate(zip_with(col("qv"), col("qq"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("idot"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("idot").desc, col("neighbor_id"))
      val int8Top = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
      Similarity.recallAtK(int8Top, full).orderBy("query_id")
    }),
    // Rendezvous-hash sharding + the rebalance audit: 8 -> 9 shards
    // moves only keys the new shard wins (~1/9), never between
    // survivors — the guarantee emitted row-by-row for the oracle.
    "q258_rendezvous_shards" -> ((s, dir) => {
      val before = (0 until 8).map(i => s"s$i" -> 1.0)
      Sampling.rendezvousRebalance(Tables(s, dir).documents, "doc_id",
          before, before :+ ("s8" -> 1.0))
        .orderBy("doc_id")
    }),
    // Brier score + Murphy decomposition on q180's scored corpus:
    // exact micro-unit squared errors, bin-ordered REL/RES folds.
    "q257_brier_decomposition" -> ((s, dir) => {
      def h6(tag: String) =
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(s":$tag"))), 1, 5), 16, 10).cast("long") % 1000000L
      val scored = Tables(s, dir).documents.select(
        (h6("cal").cast("double") / lit(1.0e6)).as("score"),
        (h6("lbl") < h6("cal")).as("label"))
      Classifier.brierDecomposition(scored, "score", "label", nBins = 10)
    }),
    // Count-min sketch: 4x64 table over bucketed user keys, point
    // estimates (min over depths) side-by-side with exact counts —
    // the one-sided bound is visible AND replayed integer-for-integer.
    "q256_count_min" -> ((s, dir) => {
      val ev = Tables(s, dir).events.filter(col("user_id").isNotNull)
        .select((col("user_id") % 1000).as("key_id"))
      val cms = SetSketch.cmsTable(ev, "key_id", depth = 4, width = 64)
      val small = ev.filter(col("key_id") < 20)
      val est = SetSketch.cmsEstimate(cms, small, "key_id", 4, 64)
      small.groupBy("key_id").agg(count(lit(1)).as("exact_cnt"))
        .join(est, Seq("key_id"))
        .orderBy("key_id")
    }),
    // Harmonic centrality for a 4-landmark set over the co-supplier
    // graph: bounded per-landmark BFS, score folds cnt/h in ascending
    // hop order (order-pinned double chain).
    "q255_harmonic_centrality" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = li.select(col("ok"), col("sk").as("src"))
        .join(li.select(col("ok"), col("sk").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst")
      Graph.harmonicCentrality(edges, "src", "dst", Seq(2L, 3L, 5L, 8L),
          maxHops = 4)
        .orderBy("landmark")
    }),
    // 2-D skyline ("cheapest and earliest" Pareto front of orders):
    // exact integer cents and epoch days, bucketed strict-prefix-min
    // sweep — never one global sort window. Oracle is the brute-force
    // NOT EXISTS dominance check, so a pass proves the sweep exact.
    "q254_skyline" -> ((s, dir) => {
      val pts = Tables(s, dir).orders
        .filter(col("o_custkey") % 29 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("price_cents"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
            .as("order_day"))
      Ranks.skyline2d(pts, "o_orderkey", "price_cents", "order_day")
        .orderBy("o_orderkey")
    }),
    // Dominant principal direction of the embedding corpus: 3 power-
    // iteration rounds on XtX in exact integer fixed-point (quantized
    // elements, decimal matvecs, sign-split max-norm renormalization).
    "q252_power_iteration" -> ((s, dir) => {
      Similarity.powerIterationTop(Tables(s, dir).embeddings,
          "vec_id", "embedding", iters = 3)
        .orderBy("pos")
    }),
    // Embedding drift matrix: pairwise cosine between per-label
    // centroids — q64's quantized means, folded in position order (a
    // parallel double sum would be order-dependent; the sorted fold
    // is not).
    "q250_centroid_drift" -> ((s, dir) => {
      Similarity.centroidCosineMatrix(Tables(s, dir).embeddings,
          "label", "embedding")
        .orderBy("key_a", "key_b")
    }),
    // Grid-bucketed DBSCAN on the hashed customer cloud: exact integer
    // neighborhoods, large-star/small-star components over core-core
    // pairs, min-pinned border assignment. The oracle is the brute-force
    // cross + a recursive-CTE reachability closure — a pass proves the
    // grid AND the CC lose nothing.
    "q251_dbscan" -> ((s, dir) => {
      def coord(key: Column, tag: String) =
        conv(substring(md5(concat(key.cast("string"), lit(tag))), 1, 6),
          16, 10).cast("long") % 10000000L
      val pts = Tables(s, dir).customer.filter(col("c_nationkey") === 3)
        .select(col("c_custkey").as("pid"),
          coord(col("c_custkey"), ":cx").as("x"),
          coord(col("c_custkey"), ":cy").as("y"))
      Spatial.dbscan(pts, "pid", "x", "y", eps = 500000L, minPts = 5)
        .orderBy("id")
    }),
    // HITS hubs/authorities over the bipartite buyer->supplier graph
    // (supplier ids offset by 1e9 so the two key spaces cannot collide).
    // Exact integer fixed-point with L1 renormalization; 2 rounds.
    "q248_hits" -> ((s, dir) => {
      val t = Tables(s, dir)
      val edges = t.orders.filter(col("o_custkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t.lineitem.select(col("l_orderkey").as("o_orderkey"),
          (col("l_suppkey") + 1000000000L).as("supp")), Seq("o_orderkey"))
        .select(col("o_custkey").as("src"), col("supp").as("dst"))
      Graph.hits(edges, "src", "dst", iters = 2).orderBy("node")
    }),
    // Deterministic synchronous label propagation on the co-supplier
    // graph: own-id init, most-frequent-neighbor-label updates with
    // min-label ties, 3 fixed rounds — replayed round-for-round.
    "q249_label_propagation" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = li.select(col("ok"), col("sk").as("a"))
        .join(li.select(col("ok"), col("sk").as("b")), "ok")
        .filter(col("a") =!= col("b"))
        .select("a", "b")
      Graph.labelPropagation(edges, "a", "b", iters = 3).orderBy("node")
    }),
    // Difference-in-differences on the q176 arm split: unit = (user,
    // period), period cut at Jan 15, metric = exact decimal value sum.
    // The 2x2 cell means, the Card-Krueger estimator, and the unpooled
    // SE all derive from exact micro-unit sums in one fixed double chain.
    "q245_diff_in_diff" -> ((s, dir) => {
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val units = Tables(s, dir).events
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"), (col("ts") >= cut).as("is_post"))
        .agg(sum(coalesce(col("value").cast("decimal(18,6)"),
          lit(0L).cast("decimal(18,6)"))).as("y"))
        .withColumn("is_treated",
          substring(md5(concat(col("user_id").cast("string"), lit(":ab"))),
            1, 1) >= "8")
      Experiment.diffInDiff(units, "is_treated", "is_post", "y")
        .orderBy("is_treated", "is_post")
    }),
    // Flesch readability: three exact integer counts (sentences off the
    // raw text, words/syllables off the engine's canonical tokens) and
    // the two classic scores as one fixed double chain over them.
    "q246_readability" -> ((s, dir) => {
      TextAnalysis.readability(Tables(s, dir).documents, "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Market-basket association rules over bucketed SKUs: per ordered
    // pair support/confidence/lift from exact counts, q217's whole-
    // basket skew cap, quoted denominators for auditability.
    "q247_association_rules" -> ((s, dir) => {
      val t = Tables(s, dir)
      val inter = t.orders.filter(col("o_custkey") % 7 === 1)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t.lineitem.select(col("l_orderkey").as("o_orderkey"),
          (col("l_partkey") % 50).as("sku")), Seq("o_orderkey"))
        .select(col("o_custkey"), col("sku"))
      Similarity.associationRules(inter, "o_custkey", "sku", minCo = 3L)
        .orderBy("antecedent", "consequent")
    }),
    "q209_radius_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      def coord(key: Column, tag: String) =
        conv(substring(md5(concat(key.cast("string"), lit(tag))), 1, 6),
          16, 10).cast("long") % 10000000L
      val cust = t.customer.filter(col("c_nationkey") === 3)
        .select(col("c_custkey"),
          coord(col("c_custkey"), ":cx").as("x"),
          coord(col("c_custkey"), ":cy").as("y"))
      val supp = t.supplier
        .select(col("s_suppkey"),
          coord(col("s_suppkey"), ":sx").as("x"),
          coord(col("s_suppkey"), ":sy").as("y"))
      Spatial.radiusJoin(
          cust.withColumnRenamed("c_custkey", "pid"),
          supp.withColumnRenamed("s_suppkey", "pid"),
          "pid", "x", "y", radius = 1000000L)
        .orderBy("l_id", "r_id")
    }),
    // Covered-time union per user: event spans (1s..3600s from the id)
    // merged by the gaps-and-islands sweep — overlaps counted once,
    // exact epoch-microsecond arithmetic.
    "q208_interval_union" -> ((s, dir) => {
      val iv = Tables(s, dir).events
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            (col("event_id") % 3600L + lit(1L)) * lit(1000000L)).as("e_us"))
      Intervals.unionLength(iv, Seq("user_id"), "s_us", "e_us")
        .orderBy("user_id")
    }),
    // Non-parametric trend test on the daily event-volume series: exact
    // integer S over within-group day pairs, tie-corrected variance,
    // continuity-corrected z, Kendall tau_b.
    "q207_mann_kendall" -> ((s, dir) => {
      val daily = Tables(s, dir).events
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      Trend.mannKendall(daily, Seq("event_type"), "day", "n_events")
        .orderBy("event_type")
    }),
    // Data-driven channel attribution: first-order Markov chain over
    // pre-purchase journeys, absorbing conv/null, removal effect per
    // channel via exact integer fixed-point (the q190 arithmetic),
    // shares from the channel-ordered fold.
    "q206_markov_attribution" -> ((s, dir) => {
      Sessionize.markovRemovalEffects(Tables(s, dir).events, "user_id",
          "ts", "event_type", "purchase", tieBreak = Seq("event_id"),
          iters = 8)
        .orderBy("channel")
    }),
    // Monotone probability calibration: PAV's isotonic fit over the
    // q180 reliability bins via the closed-form minimax (max over
    // i≤b of min over j≥b of pooled rate) — relational, loop-free,
    // non-decreasing by construction.
    "q205_isotonic_fit" -> ((s, dir) => {
      def h6(tag: String) =
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(s":$tag"))), 1, 5), 16, 10).cast("long") % 1000000L
      val scored = Tables(s, dir).documents.select(
        (h6("cal").cast("double") / lit(1.0e6)).as("score"),
        (h6("lbl") < h6("cal")).as("label"))
      val bins = Classifier.calibrationBins(scored, "score", "label",
        nBins = 10)
      Classifier.isotonicCalibrate(bins, "bin", "n", "n_pos")
        .orderBy("bin")
    }),
    // How often is 9am not like 9am? Seasonal anomaly counts per
    // (event_type, hour-of-day): q184's exact cell baseline composed
    // back onto the rows, |v − mean| > 3σ verdicts on bit-identical
    // doubles, map-side-combined counts.
    "q204_seasonal_anomalies" -> ((s, dir) => {
      val d = Tables(s, dir).events.withColumn("_hour", hour(col("ts")))
        .filter(col("ts").isNotNull)
      Trend.seasonalAnomalies(d, Seq("event_type"), "_hour", "value")
        .withColumnRenamed("_hour", "hour_of_day")
        .orderBy("event_type", "hour_of_day")
    }),
    // Has the event-value distribution shifted since mid-January? PSI
    // per event type between the pre/post-cutoff samples (the q178
    // period split): 10 equal-width micro-unit bins over [-1000, 1000),
    // Laplace-smoothed, bin-ordered fold, ExactRound at 6.
    "q203_psi_drift" -> ((s, dir) => {
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val d = Tables(s, dir).events
        .filter(col("ts").isNotNull)
        .withColumn("_is_ref", col("ts") < cut)
      Profile.psiDrift(d, Seq("event_type"), "_is_ref", "value")
        .orderBy("event_type")
    }),
    // How clique-ish is each supplier's co-supplier neighborhood?
    // Watts-Strogatz local clustering coefficient: 2T/(d(d-1)), every
    // node reported, degree-1 nodes at the stated 0.0 convention.
    "q202_clustering_coeff" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = li.select(col("ok"), col("sk").as("a"))
        .join(li.select(col("ok"), col("sk").as("b")), "ok")
        .filter(col("a") < col("b"))
        .select("a", "b")
      Graph.clusteringCoefficient(edges, "a", "b").orderBy("node")
    }),
    // AP@10 of the exact cosine ranking against binary relevance from
    // the dot-product top-15 (the q179 fixture, binary-collapsed):
    // TP_i/rank_i folded in rank order, min(R, k) normalizer.
    "q201_average_precision" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val ranked = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      val scored = emb.crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.functions.VectorFunctions.dot(col("embedding"),
            col("query_vec")).as("_s"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("_s").desc, col("neighbor_id"))
      val rels = scored.withColumn("_r", row_number().over(w))
        .filter(col("_r") <= 15)
        .select(col("query_id"), col("neighbor_id"), lit(1.0).as("rel"))
      Retrieval.averagePrecisionAtK(ranked, "query_id", "neighbor_id",
          "rank", rels, "rel", 10)
        .orderBy("query_id")
    }),
    // Reciprocal rank @10 (the MRR building block) on the q201 fixture:
    // exact integer first-hit rank, one double division, judged-but-
    // missed queries at 0.0.
    "q240_reciprocal_rank" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val ranked = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      val scored = emb.crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.functions.VectorFunctions.dot(col("embedding"),
            col("query_vec")).as("_s"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("_s").desc, col("neighbor_id"))
      val rels = scored.withColumn("_r", row_number().over(w))
        .filter(col("_r") <= 15)
        .select(col("query_id"), col("neighbor_id"), lit(1.0).as("rel"))
      Retrieval.reciprocalRankAtK(ranked, "query_id", "neighbor_id",
          "rank", rels, "rel", 10)
        .orderBy("query_id")
    }),
    // Graded string similarity for linkage scoring: native codegen'd
    // Jaro/Jaro-Winkler over md5-derived pairs sharing a 4-char prefix
    // (every fifth identical) — a DIFFERENTIAL gate: DuckDB's builtin
    // replays every pair, so the window walk, integer transposition
    // rule, 0.7 boost threshold, and double op order are all pinned
    // bit-for-bit across tens of thousands of strings.
    "q200_jaro_winkler" -> ((s, dir) => {
      val pfx = substring(md5(concat(col("doc_id").cast("string"),
        lit(":jwp"))), 1, 4)
      val sa = concat(pfx, substring(md5(concat(col("doc_id").cast("string"),
        lit(":jwa"))), 1, 8))
      val sb = when(col("doc_id") % 5 === 0, sa)
        .otherwise(concat(pfx, substring(md5(concat(
          col("doc_id").cast("string"), lit(":jwb"))), 1, 8)))
      Tables(s, dir).documents
        .select(col("doc_id"), sa.as("_a"), sb.as("_b"))
        .select(col("doc_id"),
          graft.functions.JaroWinkler.jaro(col("_a"), col("_b")).as("jaro"),
          graft.functions.JaroWinkler.similarity(col("_a"), col("_b"))
            .as("jw"))
        .orderBy("doc_id")
    }),
    // How much does a document's source tell you about its language?
    // Mutual information + marginal entropies + NMI — exact cell
    // counts, sorted folds, ExactRound over the ln terms.
    "q199_mutual_information" -> ((s, dir) => {
      Profile.mutualInformation(Tables(s, dir).documents, "lang", "source")
    }),
    // Sample-ratio-mismatch health check on the q176 experiment: the md5
    // split declares exactly 50/50 (8 of 16 first-hex values), the
    // chi-square verdict says whether observed arm sizes are consistent.
    "q188_srm_check" -> ((s, dir) => {
      val arm = when(substring(md5(concat(col("user_id").cast("string"),
        lit(":ab"))), 1, 1) < "8", lit("control")).otherwise(lit("treatment"))
      Experiment.srmCheck(
          Tables(s, dir).events.select(col("user_id"), arm.as("arm")),
          "arm", "user_id", Seq("control" -> 0.5, "treatment" -> 0.5))
        .orderBy("arm")
    }),
    // Mann-Whitney U on the q176 experiment's per-user revenue (exact
    // DECIMAL metric so both engines rank identical value groups):
    // midranks on doubled integers, full tie correction, one result row.
    "q187_mann_whitney" -> ((s, dir) => {
      val arm = when(substring(md5(concat(col("user_id").cast("string"),
        lit(":ab"))), 1, 1) < "8", lit("control")).otherwise(lit("treatment"))
      val units = Tables(s, dir).events
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(coalesce(col("value").cast("decimal(18,6)"),
          lit(0L).cast("decimal(18,6)"))).as("y"))
        .withColumn("arm", arm)
      Experiment.mannWhitney(units, "arm", "y", "control", "treatment")
    }),
    // Kaplan-Meier churn curves per event type: subject = (type, user),
    // duration = last-activity day, churned iff the last day precedes the
    // observation edge (Jan 26) — later users are CENSORED, feeding the
    // at-risk counts but never the event counts, which is the entire
    // point of KM over naive churn rates.
    "q186_kaplan_meier" -> ((s, dir) => {
      val d = Tables(s, dir).events.filter(col("user_id").isNotNull)
        .withColumn("_day",
          floor(unix_micros(col("ts")).cast("double") / lit(86400.0e6))
            .cast("long"))
      val subjects = d.groupBy(col("event_type"), col("user_id"))
        .agg(max(col("_day")).as("dur"))
        .withColumn("churned", col("dur") < 19748L) // day of 2024-01-26
      Retention.kaplanMeier(subjects, Seq("event_type"), "dur", "churned")
        .orderBy("event_type", "t")
    }),
  )
}
