"""Empirical scaling probe: replicate the sf0.1 facts 10x (disjoint key
ranges) into .tmp/, then time the core operator shapes at 1x and 10x.
Near-linear wall-time growth on local[32] is the evidence that the plans
have no accidental O(n²) or driver-side bottleneck. Appends nothing; run
manually and paste results into SCALING.md.

    python scripts/scale_probe.py          # DEFAULT_NAMES + hand-written shapes
    python scripts/scale_probe.py --r12    # one round of ROUNDS (or --r15-dials)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from shippinglanes_spark.io import event_time, table
from shippinglanes_spark.registry import all_queries
from shippinglanes_spark.session import get_spark

SF = "/root/testdata/sf0.1"
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "scale10")
COPIES = 10


def build(spark):
    if os.path.exists(os.path.join(SCRATCH, "events", "_SUCCESS")):
        return
    ev = table(spark, SF, "events")
    li = table(spark, SF, "lineitem")
    o = table(spark, SF, "orders")
    copies = F.explode(F.sequence(F.lit(0), F.lit(COPIES - 1))).alias("c")
    # disjoint key spaces per copy so cardinalities scale linearly
    ev10 = ev.select("*", copies).withColumn(
        "user_id", F.col("user_id") + F.col("c") * 1_000_000
    ).withColumn("event_id", F.col("event_id") + F.col("c") * 100_000_000).drop("c")
    li10 = li.select("*", copies).withColumn(
        "l_orderkey", F.col("l_orderkey") + F.col("c") * 100_000_000
    ).drop("c")
    o10 = o.select("*", copies).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.col("c") * 100_000_000
    ).withColumn("o_custkey", F.col("o_custkey") + F.col("c") * 1_000_000).drop("c")
    ev10.write.mode("overwrite").parquet(f"{SCRATCH}/events")
    li10.write.mode("overwrite").parquet(f"{SCRATCH}/lineitem")
    o10.write.mode("overwrite").parquet(f"{SCRATCH}/orders")


def shapes(spark, ev, li, o):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = ev.select("user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
    sess = e.withColumn(
        "sid",
        F.sum(
            F.when(F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000, 1).otherwise(0)
        ).over(wrun),
    )
    return {
        "agg_groupby": lambda: li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.count(F.lit(1)))
        .collect(),
        "join_fact": lambda: li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)))
        .collect(),
        "sessionize": lambda: sess.groupBy().agg(F.max("sid")).collect(),
        "topk": lambda: li.orderBy(F.desc("l_extendedprice")).limit(10).collect(),
    }


def build_docs(spark):
    """10x documents with per-copy token salting: every token gets a
    _c<i> suffix, so shingle spaces are fully disjoint across copies
    (no cross-copy near-dup pairs) while the within-copy near-dup
    structure is preserved — candidate/pair counts scale linearly."""
    if os.path.exists(os.path.join(SCRATCH, "documents", "_SUCCESS")):
        return
    d = table(spark, SF, "documents")
    parts = []
    for c in range(COPIES):
        parts.append(
            d.select(
                (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
                F.regexp_replace("text", r"(\S+)", rf"$1_c{c}").alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{SCRATCH}/documents")


def round2_shapes(spark, docs, orders):
    """The operator shapes rewritten in round 2: single-pass LSH banding,
    connected components, two-pass global rank, binned range join is
    events-shaped (covered via sessionize events probe)."""
    from shippinglanes_spark.functions.minhash import minhash_candidates
    from shippinglanes_spark.functions.text import connected_components
    from shippinglanes_spark.operators.windows import bucketed_global_rank

    def rank():
        ranked, n = bucketed_global_rank(
            orders.select("o_orderkey", "o_totalprice"), "o_totalprice", "o_orderkey"
        )
        ranked.groupBy().agg(F.max("rn")).collect()

    cand = minhash_candidates(docs)
    return {
        "minhash_candidates": lambda: cand.count(),
        "neardup_clusters": lambda: connected_components(cand).count(),
        "global_rank_2pass": rank,
    }


def round3_shapes(spark, docs, ev):
    """Round-3 shapes: cross-doc boilerplate (distinct + 2 hash aggs +
    shingle join), rolling distinct-users window (per-day set rollup +
    bounded global frame), linear-interp resample (merge-sorted grid +
    one window pass)."""
    from shippinglanes_spark.core import fan_out
    from shippinglanes_spark.functions.text import shingles

    def boilerplate():
        # fan_out like the declared query: the 1x fixture is one parquet
        # split, which would serialize the explode onto a single task
        sh = (
            fan_out(docs.select("doc_id", "text"))
            .select("doc_id", F.explode(shingles(F.col("text"))).alias("shingle"))
            .where(F.col("shingle") != "")
            .distinct()
        )
        dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("nd"))
        (
            sh.join(dfc, "shingle")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_sh"),
                F.count(F.when(F.col("nd") >= 5, 1)).alias("n_bp"),
            )
            .groupBy()
            .agg(F.sum("n_bp"))
            .collect()
        )

    def wau():
        from pyspark.sql import Window

        daily = ev.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        ).agg(F.collect_set("user_id").alias("users"))
        idx = F.datediff(F.col("day"), F.lit("1995-01-01").cast("date"))
        w = Window.orderBy(idx).rangeBetween(-6, Window.currentRow)
        daily.select(
            F.size(F.array_distinct(F.flatten(F.collect_list("users").over(w))))
        ).collect()

    def interp():
        from pyspark.sql import Window

        sub = ev.where(F.col("user_id") % 1_000_000 < 50)
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
        e = sub.groupBy("user_id", ts_us.alias("ts_us")).agg(
            F.min_by("value", "event_id").alias("v")
        )
        bounds = sub.groupBy("user_id").agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        grid = bounds.select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
        ).select("user_id", F.unix_micros(F.col("hr").cast("timestamp")).alias("ts_us"))
        u = e.select("user_id", "ts_us", "v", F.lit(0).alias("g")).unionByName(
            grid.select("user_id", "ts_us", F.lit(None).cast("double").alias("v"), F.lit(1).alias("g"))
        )
        wp = Window.partitionBy("user_id").orderBy("ts_us", "g").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        u.select(
            F.last(F.when(F.col("g") == 0, F.col("v")), ignorenulls=True).over(wp)
        ).where(F.col("g") == 1).groupBy().count().collect()

    return {"boilerplate": boilerplate, "rolling_wau": wau, "resample_interp": interp}


def build_sfdir(spark):
    """A synthetic 10x sf-DIRECTORY (events.parquet/, embeddings.parquet/)
    so REGISTERED query functions can be probed unmodified via their own
    (spark, sf_dir) signature. Copies get disjoint key spaces AND a
    35-day time shift per copy: without the shift, co-located copies
    multiply spatio-temporal bucket populations and pair counts grow
    quadratically — which would measure the fixture's degeneracy, not
    the operator's scaling."""
    sfdir = os.path.join(SCRATCH, "sfdir10")
    if os.path.exists(os.path.join(sfdir, "part.parquet", "_SUCCESS")):
        return sfdir
    ev = table(spark, SF, "events")
    copies = F.explode(F.sequence(F.lit(0), F.lit(COPIES - 1))).alias("c")
    shift_us = F.col("c").cast("long") * F.lit(35 * 86_400_000_000)
    ev10 = (
        ev.select("*", copies)
        .withColumn("user_id", F.col("user_id") + F.col("c") * 1_000_000)
        .withColumn("event_id", F.col("event_id") + F.col("c") * 100_000_000)
        .withColumn(
            "ts",
            F.timestamp_micros(
                F.unix_micros(F.col("ts").cast("timestamp")) + shift_us
            ),
        )
        .drop("c")
    )
    # 32 splits: a real 10x table has 10x the row groups; a single-file
    # scratch would serialize every downstream map stage onto one task
    # and measure the fixture's pathology, not the operator's scaling
    ev10.repartition(32).write.mode("overwrite").parquet(
        f"{sfdir}/events.parquet"
    )
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb10 = (
        emb.select("*", copies)
        .withColumn("vec_id", F.col("vec_id") + F.col("c") * 10_000_000)
        .drop("c")
    )
    emb10.repartition(32).write.mode("overwrite").parquet(
        f"{sfdir}/embeddings.parquet"
    )
    # documents: token-salted like build_docs (disjoint shingle spaces per
    # copy) so shingle-join cardinalities scale linearly, not quadratically
    d = table(spark, SF, "documents")
    dparts = []
    for c in range(COPIES):
        dparts.append(
            d.select(
                (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
                "lang",
                "source",
                "n_chars",
                F.regexp_replace("text", r"(\S+)", rf"$1_c{c}").alias("text"),
            )
        )
    d10 = dparts[0]
    for p in dparts[1:]:
        d10 = d10.unionByName(p)
    d10.repartition(32).write.mode("overwrite").parquet(
        f"{sfdir}/documents.parquet"
    )
    # fact + dim tables for the lineitem/orders-reading shapes: facts get
    # disjoint key spaces per copy; dims stay 1x (a 10x lake has 10x the
    # facts, not 10x the vocabulary), so the derived graphs/joins keep
    # their real shape and only the data-sized stages grow
    li = table(spark, SF, "lineitem")
    li10 = (
        li.select("*", copies)
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("c") * 100_000_000)
        .drop("c")
    )
    li10.repartition(32).write.mode("overwrite").parquet(
        f"{sfdir}/lineitem.parquet"
    )
    o = table(spark, SF, "orders")
    o10 = (
        o.select("*", copies)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("c") * 100_000_000)
        .withColumn("o_custkey", F.col("o_custkey") + F.col("c") * 1_000_000)
        .drop("c")
    )
    o10.repartition(32).write.mode("overwrite").parquet(
        f"{sfdir}/orders.parquet"
    )
    c1 = table(spark, SF, "customer")
    c10 = (
        c1.select("*", copies)
        .withColumn("c_custkey", F.col("c_custkey") + F.col("c") * 1_000_000)
        .drop("c")
    )
    c10.repartition(8).write.mode("overwrite").parquet(
        f"{sfdir}/customer.parquet"
    )
    for dim in ("supplier", "nation", "region", "part"):
        table(spark, SF, dim).write.mode("overwrite").parquet(
            f"{sfdir}/{dim}.parquet"
        )
    return sfdir


def build_sfdir100(spark):
    """A synthetic 100x sf-DIRECTORY for the isolated-tail probes
    (VERDICT r6 item 4). Same construction as build_sfdir (disjoint key
    spaces, 35-day time shift per copy, token-salted documents, dims
    1x) at COPIES=100. Builds documents, events, embeddings, customer
    + the 1x dims here, then _ensure_orders100 adds 100x orders AND
    lineitem (round-8 pack probes + register_views-based surfaces read
    them); scratch ~2 GB."""
    sfdir = os.path.join(SCRATCH, "sfdir100")
    if os.path.exists(os.path.join(sfdir, "customer.parquet", "_SUCCESS")):
        _ensure_orders100(spark, sfdir)
        return sfdir
    n = 100
    copies = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("c")
    shift_us = F.col("c").cast("long") * F.lit(35 * 86_400_000_000)
    ev = table(spark, SF, "events")
    ev100 = (
        ev.select("*", copies)
        .withColumn("user_id", F.col("user_id") + F.col("c").cast("long") * 1_000_000)
        .withColumn("event_id", F.col("event_id") + F.col("c").cast("long") * 100_000_000)
        .withColumn(
            "ts",
            F.timestamp_micros(
                F.unix_micros(F.col("ts").cast("timestamp")) + shift_us
            ),
        )
        .drop("c")
    )
    ev100.repartition(64).write.mode("overwrite").parquet(
        f"{sfdir}/events.parquet"
    )
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb100 = (
        emb.select("*", copies)
        .withColumn("vec_id", F.col("vec_id") + F.col("c").cast("long") * 10_000_000)
        .drop("c")
    )
    emb100.repartition(64).write.mode("overwrite").parquet(
        f"{sfdir}/embeddings.parquet"
    )
    # token-salted documents: disjoint shingle spaces per copy keep
    # pair/candidate counts corpus-linear (the build_docs rationale);
    # the per-row replacement column suffixes every token with _s<copy>
    d = table(spark, SF, "documents")
    d100 = d.select("*", copies).select(
        (F.col("doc_id") + F.col("c").cast("long") * 10_000_000).alias("doc_id"),
        "lang",
        "source",
        "n_chars",
        F.regexp_replace(
            F.col("text"),
            F.lit(r"(\S+)"),
            F.concat(F.lit(r"$1_s"), F.col("c").cast("string")),
        ).alias("text"),
    )
    d100.repartition(64).write.mode("overwrite").parquet(
        f"{sfdir}/documents.parquet"
    )
    c1 = table(spark, SF, "customer")
    c100 = (
        c1.select("*", copies)
        .withColumn("c_custkey", F.col("c_custkey") + F.col("c").cast("long") * 1_000_000)
        .drop("c")
    )
    c100.repartition(16).write.mode("overwrite").parquet(
        f"{sfdir}/customer.parquet"
    )
    for dim in ("supplier", "nation", "region", "part"):
        table(spark, SF, dim).write.mode("overwrite").parquet(
            f"{sfdir}/{dim}.parquet"
        )
    _ensure_orders100(spark, sfdir)
    return sfdir


def _ensure_orders100(spark, sfdir):
    """orders + lineitem at 100x (round-8 pack probes read them);
    separate memo so a scratch built before orders was needed upgrades
    in place. BOTH _SUCCESS markers are checked: orders is written
    first, so a run killed between the two writes leaves orders
    complete but lineitem absent — checking lineitem alone would only
    prove completeness by write-order accident."""
    if os.path.exists(
        os.path.join(sfdir, "orders.parquet", "_SUCCESS")
    ) and os.path.exists(
        os.path.join(sfdir, "lineitem.parquet", "_SUCCESS")
    ):
        return
    n = 100
    copies = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("c")
    shift_us = F.col("c").cast("long") * F.lit(35 * 86_400_000_000)
    o = table(spark, SF, "orders")
    o100 = (
        o.select("*", copies)
        .withColumn(
            "o_orderkey",
            F.col("o_orderkey") + F.col("c").cast("long") * 100_000_000,
        )
        .withColumn(
            "o_custkey",
            F.col("o_custkey") + F.col("c").cast("long") * 1_000_000,
        )
        # shift the calendar like events: pre/post-cut pairing keeps a
        # real mix instead of 100 co-located copies of the same dates
        .withColumn(
            "o_orderdate",
            F.timestamp_micros(
                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                + shift_us
            ),
        )
        .drop("c")
    )
    o100.repartition(64).write.mode("overwrite").parquet(
        f"{sfdir}/orders.parquet"
    )
    # lineitem too: register_views-based surfaces (sql_pipe_surface)
    # register every fixture table, so the directory must be complete
    li = table(spark, SF, "lineitem")
    li100 = (
        li.select("*", copies)
        .withColumn(
            "l_orderkey",
            F.col("l_orderkey") + F.col("c").cast("long") * 100_000_000,
        )
        .drop("c")
    )
    li100.repartition(64).write.mode("overwrite").parquet(
        f"{sfdir}/lineitem.parquet"
    )


# Registered-query rounds: flag -> (scales, registry names). Every round
# runs through _time_registered: per scale, per name, one warm build and
# then one timed build into the noop sink. A round whose scales include
# "100x" builds the 100-copy scratch first.
X10 = ("1x", "10x")
X100 = ("1x", "10x", "100x")

# No flag: judge-requested round-3 shapes through their REGISTERED entry
# points: geo_encounters (space-time grid join), emb_top_pc (single-pass
# Gram + driver eigensolve), win_distinct_sliding (per-day set rollup +
# bounded range frame), ts_concurrency (decomposed sweep-line).
DEFAULT_NAMES = [
    "geo_encounters",
    "emb_top_pc",
    "win_distinct_sliding",
    "ts_concurrency",
]

# Round-8 pack: rankings are nation-partition-local windows over one
# customer/orders rollup; HHI/Lorenz/trimmed-mean are keyed aggregates
# plus metadata-sized tails; Page-Hinkley is one daily rollup. Expect
# FLAT to mildly growing (the fact rollups). --r17-100x (VERDICT r8 item
# 3, the r16/r18 rigor) names the exponents of the two shuffle-linear
# shapes flagged at 10x: agg_trimmed_mean's per-priority rank pass and
# evt_seq_support's one-day user-keyed self-join.
_R17 = [
    "rank_ndcg",
    "rank_mrr",
    "agg_hhi",
    "agg_lorenz",
    "agg_trimmed_mean",
    "ts_page_hinkley",
    "evt_seq_support",
    "graph_connected_components",
    "pipeline_tokenizer_fertility",
    "text_marker_dominance",
]

# Round-8 pack 2: Wilcoxon/MAP/effect-size are one or two keyed fact
# rollups + nation/region-local windows; Kalman is a per-type
# calendar-bounded fold; MaxSim is a FIXED query workload (bounded id
# range) against a growing candidate corpus, so its cost is queries x
# corpus — linear in data. Expect FLAT to mildly growing.
_R18 = [
    "agg_wilcoxon_signed_rank",
    "rank_map",
    "agg_effect_size",
    "ts_kalman_level",
    "sim_maxsim",
    "agg_friedman",
    "agg_tost_equivalence",
    "rank_rbo",
    "pipeline_topp_sources",
]

ROUNDS = {
    # Round-4 session additions: OHLC resampling + adaptive
    # sessionization (keyed event windows), n-gram novelty (shingle
    # join), incremental fingerprint dedup (fp-keyed join), span
    # corruption (zero-shuffle per-row HOFs).
    "--r5": (X10, [
        "ts_resample_ohlc",
        "evt_sessionize_adaptive",
        "text_ngram_novelty",
        "pipeline_incremental_dedup",
        "pipeline_span_corrupt",
    ]),
    # Round-4 session-2 additions: one-pass moment analytics, A-Res
    # top-k, basket rules, RFM bucketing, paragraph dedup, shard
    # manifest, bounded Bellman-Ford.
    "--r6": (X10, [
        "agg_corr_matrix",
        "agg_ols",
        "sample_weighted",
        "evt_assoc_rules",
        "evt_rfm_scores",
        "text_dedup_paragraph",
        "pipeline_shard_manifest",
        "graph_weighted_path",
    ]),
    # Round-5 probe set (judge-requested r4 joins): PPJoin set-similarity
    # self-join, growth accounting (MAU deltas via keyed month windows),
    # end-to-end LSH dedup pipeline, and the rewritten over-cap-safe
    # text MinHash candidates.
    "--r7": (X10, [
        "join_set_similarity",
        "evt_growth_accounting",
        "pipeline_dedup_end2end",
        "text_minhash_dedup",
    ]),
    # Round-5 additions: KM survival + log-rank (keyed agg + bounded
    # day-table folds), GROUPS-frame emulation (stacked windows, one
    # sort), winsorized mean (quantile broadcast), track interpolation
    # (union-grid windows).
    "--r8": (X10, [
        "evt_survival_km",
        "evt_logrank",
        "win_groups_frame",
        "agg_winsorized_mean",
        "geo_track_interp",
    ]),
    # Round-5 session-2 additions: hamming retrieval (map-side XOR +
    # two-phase top-k), rolling correlation (one keyed frame, six moment
    # sums), RRF fusion (two TakeOrdered shortlists), Holt smoothing
    # (in-group fold), DP histogram (keyed distinct + per-row noise),
    # link prediction (graph-sized after first groupBy — included to
    # confirm the data-sized stage dominates and scales linearly).
    "--r9": (X10, [
        "emb_hamming_topk",
        "win_rolling_corr",
        "sim_rrf_fusion",
        "ts_holt",
        "pipeline_dp_histogram",
        "graph_link_prediction",
        "agg_hll_intersection",
    ]),
    # Round-5 session-3 additions: the iterative trio (Markov power
    # iteration, k-core peeling, closeness BFS — all graph-sized after
    # one data-sized aggregation, probed to confirm that stage
    # dominates), Poisson bootstrap (40x map-side fanout, 40-key
    # shuffle), log-odds (word-count shape), bloom-prefilter join
    # (probe-side bit test before the join shuffle), chi-square + DiD
    # (bounded-cell folds), Theil-Sen (corpus -> calendar grid), and
    # quantized k-means (k x corpus distance aggregation).
    "--r10": (X10, [
        "evt_markov_stationary",
        "graph_kcore",
        "graph_closeness",
        "agg_bootstrap_poisson",
        "text_logodds",
        "join_bloom_prefilter",
        "agg_chisq_independence",
        "evt_did",
        "ts_theil_sen",
        "emb_kmeans_iters",
    ]),
    # Round-5 session-3 batches 4-8: CDC log compaction (keyed window +
    # left join), interval coalescing (two stacked keyed windows),
    # tolerance as-of (union-window carry), stickiness (7x grid
    # explosion + two distinct counts), multiset ops, Bollinger/CUSUM/
    # peaks (grid windows after one corpus agg), modularity +
    # assortativity (graph-sized after edge agg), langid eval (map pass
    # + class-sized confusion reduce), simhash (60 wide conditional
    # sums, one pass).
    "--r11": (X10, [
        "etl_cdc_apply",
        "evt_interval_merge",
        "join_asof_tolerance",
        "evt_stickiness",
        "set_intersect_all",
        "ts_bollinger",
        "ts_cusum",
        "ts_peaks",
        "graph_modularity",
        "graph_assortativity",
        "pipeline_langid_eval",
        "text_simhash",
        "agg_ratio_delta_ci",
    ]),
    # Round-5 session-4 additions: runs test + power-law MLE (corpus ->
    # grid/histogram, then constant-size math), containment join
    # (prefix-probe vs full inverted index — THE shape to watch: the
    # host side is corpus-linear by design, candidates track shared
    # shingles), dup-span mining (one window explode + map-side-combined
    # span counts).
    "--r12": (X10, [
        "agg_runs_test",
        "agg_powerlaw_fit",
        "join_set_containment",
        "text_dup_spans",
    ]),
    # Round-5 session-5 additions: geohash (map-side integer encode + one
    # cell-keyed agg), random walks / node2vec pairs (one corpus edge
    # pass, then graph-sized iterations — expect FLAT), Kendall tau
    # (corpus -> daily grid -> calendar-bounded pairs), Kruskal-Wallis /
    # Levene (corpus -> distinct-value table, checkpointed single pass),
    # McNemar (two stacked keyed aggregates), PACF (corpus -> daily
    # grid -> one 18-sum aggregate).
    "--r13": (X10, [
        "geo_geohash",
        "graph_random_walks",
        "graph_node2vec_pairs",
        "agg_kendall_tau",
        "agg_kruskal_wallis",
        "agg_mcnemar",
        "agg_levene",
        "ts_pacf",
        "evt_propensity_matching",
        "graph_betweenness",
        "pipeline_cohen_kappa",
        "graph_eccentricity",
        "ts_permutation_entropy",
        "emb_isotropy",
        "agg_hurst",
        "agg_power_analysis",
        "text_burstiness",
        "graph_rich_club",
        "text_js_divergence",
        "evt_ab_srm",
        "graph_bridges",
        "ts_seasonal_strength",
        "graph_transitivity",
        "geo_heading_rose",
        "evt_burstiness",
    ]),
    # Round-6 additions: one-pass moment/tail stats over the daily grid
    # (expect FLAT — corpus work is one keyed rollup), iterative graph
    # ops (node-sized rank tables — FLAT), DSIR (two corpus passes +
    # 1024-row broadcast), CKA (mapInPandas int64 Gram partials),
    # per-vessel track ops (one keyed window each).
    "--r14": (X10, [
        "agg_jarque_bera", "agg_theil", "agg_bh_fdr", "agg_eb_shrinkage",
        "agg_fisher_exact", "agg_extreme_value", "agg_ipf_raking",
        "agg_tail_dependence", "profile_k_anonymity",
        "ts_xcorr_lags", "ts_granger", "ts_sax", "ts_interrupted",
        "ts_adf", "ts_cointegration", "ts_fourier_profile",
        "ts_control_chart", "graph_conductance", "evt_markov_entropy",
        "graph_hits", "graph_label_propagation",
        "pipeline_dsir", "emb_cka", "emb_mmd",
        "geo_route_deviation", "geo_point_in_polygon",
        "geo_line_crossings", "evt_attribution_shapley",
    ]),
    # VERDICT r6 item 4: the isolated-slowest tail probed to 100x
    # through the registered entries. Expected exponent ~linear: salted
    # shingle spaces, disjoint keys and 35-day shifts keep the collision
    # structure per-copy. pipeline_semdedup is cluster-quadratic at its
    # fixture k by design; its dial row is --r15-dials.
    "--r15": (X100, [
        "join_set_similarity",
        "join_set_containment",
        "join_containment_lsh",
        "geo_convoys",
        "stream_join_outer",
    ]),
    # Round-7 additions: the four aggregates are one keyed daily/user
    # rollup plus a calendar- or decile-bounded tail — expect FLAT.
    "--r16": (X10, [
        "agg_calibration_bins",
        "agg_capture_recapture",
        "agg_sprt",
        "ts_wma_crossover",
        "join_entity_resolution",
    ]),
    # VERDICT r7 item 4: the round-7 additions pushed to 100x. All are
    # events-driven; at 100x the calendar spans ~9.6 years (100 copies x
    # 35-day shift), so the calendar-bounded shapes (matrix profile,
    # DTW) get their honest long-calendar test. ts_dtw_banded rides
    # along as the round-8 dial demonstration: the band makes DTW
    # calendar-LINEAR (days*w), so it runs at 100x where exact ts_dtw
    # (days^2: ~12M cells/pair at 3.5k days) is run at 10x only.
    "--r16-100x": (X100, [
        "agg_calibration_bins",
        "agg_capture_recapture",
        "agg_sprt",
        "ts_wma_crossover",
        "geo_cpa",
        "ts_matrix_profile",
        "ts_dtw_banded",
    ]),
    "--r17": (X10, _R17),
    "--r17-100x": (X100, _R17),
    "--r18": (X10, _R18),
    # The round-8 session pack pushed to 100x (the r15/r16 rigor): the
    # customer/orders rollup shapes and the calendar-bounded folds should
    # stay sub-linear; sim_maxsim's pinned query workload makes its cost
    # queries x corpus (linear).
    "--r18-100x": (X100, _R18 + [
        "ts_holt_winters",
        "agg_brier_decomposition",
        "sql_pipe_surface",
        "ts_croston",
        "text_heaps_law",
    ]),
    # Round-9 pack: BT and the reliability/whiteness tests are one daily
    # rollup + single-row or calendar-sized folds; ERR is a customer
    # rollup + nation-local top-10 folds; the trend test is a
    # zero-shuffle moment pass; self-BLEU is trigram-explode map work +
    # (lang, trigram)-keyed aggregation — the only corpus-shaped shuffle
    # in the pack.
    "--r19-100x": (X100, [
        "rank_bradley_terry",
        "rank_err",
        "ts_ljung_box",
        "agg_cronbach_alpha",
        "agg_cochran_armitage",
        "text_self_bleu",
        "agg_isotonic_calibration",
        "pipeline_preference_pairs",
    ]),
    # Round-10 packs. AD and SampEn pin their analysis window (first 30
    # days / 720 hours — the production monitoring semantics), so even
    # though the 100x fixture's 35-day-shifted copies stretch the
    # CALENDAR ~100x, their grid/self-join work stays constant and only
    # the keyed rollup grows (unwindowed, AD's exact terms overflowed
    # BIGINT at the 3500-day pooled N and SampEn's spine self-join went
    # calendar-quadratic — the windowing is the fix, not a cosmetic).
    # VR / turning points / CIF do calendar-LINEAR tail work and run
    # unwindowed; VIF / Deming / partial corr are zero-shuffle moment
    # passes; MATTR is corpus-linear fan-out; exposure a TakeOrdered
    # top-100; VARIANT scan-shaped; listagg dim-sized; the SQL
    # session-state chain a plain aggregate.
    "--r20-100x": (X100, [
        "agg_anderson_darling",
        "agg_vif",
        "agg_deming",
        "ts_sample_entropy",
        "text_mattr",
        "rank_exposure",
        "fn_variant_nested",
        "agg_listagg",
        "ts_variance_ratio",
        "ts_turning_points",
        "agg_partial_correlation",
        "text_entropy_rate",
        "evt_cumulative_incidence",
        "sql_variables_exec",
        "agg_hodges_lehmann",
        "text_chao1",
        "emb_jl_projection",
        "pipeline_pair_rouge",
        "ts_ses_select",
        "profile_key_candidates",
    ]),
    # Round-10 session-2 rewrites re-probed (the plans changed, so the
    # committed exponents must be re-earned): text_heaps_law's tokenize-
    # first + fan_out form (fan_out is a no-op on the multi-row-group
    # scratch — only the single-row-group fixture needed it),
    # agg_spearman's fused dual-rank form, and the eager
    # sql_scripting_surface threshold search (expected ~flat: the
    # iteration count tracks the price spread, not the row count).
    # pipeline_semdedup is deliberately NOT here: at the FIXTURE k=8 it
    # is cluster-quadratic by the paper's own design (100x corpus, k
    # fixed -> ~75k-vector clusters -> 1e10+ pair dots), and its 100x
    # story is the k dial, measured by --r15-dials (k scaled with the
    # corpus). This round's change to it was action-count only.
    "--r21-100x": (X100, [
        "text_heaps_law",
        "agg_spearman",
        "sql_scripting_surface",
    ]),
    # Round-11 changes: text_mattr's last-occurrence lead() rewrite (the
    # plan changed — the committed exponent must be re-earned; expect
    # corpus-linear, it is the declared linear member) and
    # sql_recursive_walk (expect ~linear: iteration count is the max
    # walk length, which is orders-per-customer-bounded and
    # copy-invariant on the disjoint-custkey scratch — only the
    # per-iteration join width grows). source_python_stream is
    # deliberately absent: its input is a synthetic in-process feed,
    # corpus-independent by construction.
    "--r22-100x": (X100, ["text_mattr", "sql_recursive_walk"]),
}

# The one round that calls the library with a dial instead of timing
# registered entries (round15_dials_100x).
DIALS_FLAG = "--r15-dials"


def _time_registered(spark, scales, names):
    """Per (label, sf_dir) in `scales`, per registered query in `names`:
    one warm build, then one timed build, both into the noop sink."""
    Q = all_queries()
    for label, sfdir in scales:
        for name in names:
            fn = Q[name].fn
            fn(spark, sfdir).write.format("noop").mode("overwrite").save()
            t0 = time.perf_counter()
            fn(spark, sfdir).write.format("noop").mode("overwrite").save()
            print(f"{label} {name}: {time.perf_counter() - t0:.3f}s", flush=True)


def round15_dials_100x(spark, sfdir_1x, sfdir_100x):
    """The two tail entries whose fixture configuration is intentionally
    NOT scale-linear, re-probed at 100x WITH their documented dials."""
    from shippinglanes_spark.functions.pipeline import semdedup_pipeline
    from shippinglanes_spark.io import table as tbl

    out = {}
    # SemDeDup: k scales with the corpus (mean cluster size constant)
    for label, sfdir, k in (("1x", sfdir_1x, 4), ("100x", sfdir_100x, 400)):
        t0 = time.perf_counter()
        semdedup_pipeline(spark, sfdir, k=k).write.format("noop").mode(
            "overwrite"
        ).save()
        out[f"{label} semdedup(k={k})"] = time.perf_counter() - t0
        print(
            f"{label} semdedup(k={k}): {out[f'{label} semdedup(k={k})']:.3f}s",
            flush=True,
        )
    return out


def main() -> None:
    spark = get_spark(app_name="scale-probe", shuffle_partitions=32)
    build(spark)
    build_docs(spark)
    sfdir10 = build_sfdir(spark)
    if DIALS_FLAG in sys.argv:
        round15_dials_100x(spark, SF, build_sfdir100(spark))
        return
    flag = next((f for f in ROUNDS if f in sys.argv), None)
    if flag is not None:
        scales, names = ROUNDS[flag]
        dirs = {"1x": SF, "10x": sfdir10}
        if "100x" in scales:
            dirs["100x"] = build_sfdir100(spark)
        _time_registered(spark, [(s, dirs[s]) for s in scales], names)
        return
    _time_registered(spark, [("1x", SF), ("10x", sfdir10)], DEFAULT_NAMES)
    one = {
        "ev": table(spark, SF, "events"),
        "li": table(spark, SF, "lineitem"),
        "o": table(spark, SF, "orders"),
    }
    ten = {
        "ev": event_time(spark.read.parquet(f"{SCRATCH}/events")),
        "li": spark.read.parquet(f"{SCRATCH}/lineitem"),
        "o": spark.read.parquet(f"{SCRATCH}/orders"),
    }
    one["docs"] = table(spark, SF, "documents")
    ten["docs"] = spark.read.parquet(f"{SCRATCH}/documents")
    for label, t in (("1x", one), ("10x", ten)):
        fns = shapes(spark, t["ev"], t["li"], t["o"])
        fns.update(round2_shapes(spark, t["docs"], t["o"]))
        fns.update(round3_shapes(spark, t["docs"], t["ev"]))
        for name, fn in fns.items():
            fn()  # warm
            t0 = time.perf_counter()
            fn()
            print(f"{label} {name}: {time.perf_counter() - t0:.3f}s")


if __name__ == "__main__":
    main()
