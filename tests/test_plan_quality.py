"""Plan-quality guards (SURVEY §4): assert the *shape* of physical
plans, not just results — pushdown reaching scans, dims broadcasting,
and above all no row-at-a-time Python creeping into JVM-only operators.

These are regression tests for the properties that matter at 100 TB:
a query that silently gains a BatchEvalPython node or loses a
broadcast still returns correct rows at sf0.001, so only a plan
assertion catches the scale defect.
"""

from __future__ import annotations

import pytest

from dfx_indicators_etl_spark.plans import QUERIES

# Queries allowed to run Python at all (Arrow-batched by design:
# BLAS scoring, stub codecs, stateful sessionization). Everything
# else must stay whole-stage-codegen JVM.
ARROW_OK = {
    "sim_bruteforce_topk",
    "sim_ivf_ann",
    "sim_lsh_ann",  # r5: bucketize + scoring moved to Arrow/BLAS
    "dedup_embedding_cosine",
    "mm_decode_stub",
    "mm_resize_stub",
    "mm_frame_sample",
    "stream_sessionize",
}

# Batch, SQL-expressible, JVM-only queries — a representative sweep
# (streaming drains and sink round-trips execute eagerly, so they are
# exercised elsewhere; plan text for them reflects the memory sink).
JVM_ONLY = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q8_market_share",
    "q9_nation_profit",
    "q16_supplier_count",
    "q19_disjunctive_revenue",
    "q21_waiting_suppliers",
    "q_window_topk",
    "q_asof_join",
    "q_percentile",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_shared_spans",
    "dedup_span_excise",
    "mm_phash_dedup",
    "dedup_ngram_jaccard",
    "text_tokens",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_scrub_pii",
    "text_repetition",
    "text_word_vocab",
    "sample_stratified",
    "sample_train_test",
    "emb_l2_norm",
    "emb_label_centroids",
    "ind_standardize",
    "ind_star_observation",
    # round-7 late additions — all pure JVM codegen
    "ind_interpolate_years",
    "ind_rebase_index",
    "q_winsorize",
    "q_scd2_intervals",
    "dedup_fuzzy_levenshtein",
    "sample_priority",
    "ind_outlier_flags",
    "q_snapshot_diff",
    "q_incremental_agg",
    "ind_forecast_trend",
    "q_abc_analysis",
    "ind_panel_balance",
    "q_rfm_segmentation",
    "ind_series_export",
    "q_event_transitions",
    "ind_changepoint_cusum",
    # round-8 additions — codegen AV analytics, CDC, interval join
    "mm_scene_cuts",
    "mm_audio_match",
    "mm_video_dedup",
    "q_interval_overlap",
    "text_cdc_chunks",
    "dedup_cdc_chunks",
    "q_market_basket",
    "ind_seasonal_index",
    "dedup_cdc_excise",
]


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", JVM_ONLY)
def test_no_row_at_a_time_python(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, f"{name} gained a Python UDF hot path"
    # Arrow-batched Python is reserved for the ARROW_OK set.
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, (
        f"{name} unexpectedly runs Python (Arrow) — move it to ARROW_OK "
        "only if the Python is genuinely required"
    )


def test_q6_predicates_reach_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:400]


def test_q8_star_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q8_market_share")
    # part/customer-region/supplier-nation all broadcast; the only
    # sort-merge-eligible join is the fact-fact lineitem⋈orders.
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1


def test_runtime_bloom_filter_injects_on_fact_fact_join(spark, sf_dir):
    """Runtime bloom-filter pruning (the 100 TB shuffle-join saver): a
    selective dimension-side filter must inject a bloom_filter_agg /
    BloomFilterMightContain pair onto the fact scan side of a shuffle
    join. The default thresholds (10 GB application-side scan) are
    sized for real clusters, so the test lowers them to prove the
    session's optimizer config keeps the rule live — at production
    scale it fires with stock thresholds."""
    from dfx_indicators_etl_spark.sources import read_tables
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li, o = read_tables(spark, sf_dir, "lineitem", "orders")
        sel = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
        j = li.join(sel, li["l_orderkey"] == sel["o_orderkey"]).groupBy().count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan or "BloomFilterMightContain" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_q2_q11_single_partsupp_derivation(spark, sf_dir):
    """q2's per-part minimum is a window over the SAME relation the
    filter reads — since the window rewrite (round 6) the plan has one
    consumer per input, so every table scans exactly once and no
    sort-merge join remains (the groupBy-then-self-join form carried
    PLANS.md's only SMJ). q11's derived partsupp still feeds two
    consumers; its eager localCheckpoint pins one derivation (no file
    scan at all in the final plan — was 6 pre-pin)."""
    q2 = _plan(spark, sf_dir, "q2_min_cost_supplier")
    assert q2.count("Scan parquet") == 5  # 5 tables, each exactly once
    assert "SortMergeJoin" not in q2
    assert _plan(spark, sf_dir, "q11_important_stock").count("Scan parquet") == 0


def test_sample_train_test_no_shuffle_split(spark, sf_dir):
    # The split itself is a pure map; the only exchange belongs to the
    # summarizing groupBy, never to assigning rows to splits.
    plan = _plan(spark, sf_dir, "sample_train_test")
    assert plan.count("Exchange") <= 2  # partial->final agg only


def test_exact_dedup_two_phase_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_exact")
    assert plan.count("HashAggregate") >= 2  # partial + final (map-side combine)


def test_minhash_all_jvm_single_agg_pass(spark, sf_dir):
    # The portable family hashes with md5/conv (engine-parity with
    # DuckDB) — still pure JVM codegen, no Python evaluation. The
    # registered query hides the signature subtree behind a
    # localCheckpoint, so the hash family is asserted on the signature
    # plan itself and the pair plan is checked for Python nodes only.
    from dfx_indicators_etl_spark.operators import dedup
    from dfx_indicators_etl_spark.sources import read_table

    sig_plan = (
        dedup.minhash_signatures_portable(read_table(spark, sf_dir, "documents"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .lower()
    )
    assert "md5" in sig_plan and "conv" in sig_plan
    assert "batchevalpython" not in sig_plan
    assert "BatchEvalPython" not in _plan(spark, sf_dir, "dedup_minhash")


def _star_obs(spark, rows):
    """Canonical observations over (provider, indicator_name, dimension)
    triples, spread over several partitions."""
    return spark.createDataFrame(
        [(p, name, "FRA", 2020, dim, 1.0) for p, name, dim in rows],
        "provider string, indicator_name string, country_code string, "
        "year int, dimension string, value double",
    ).repartition(4)


def _star_country(spark):
    return spark.createDataFrame(
        [(250, "FR", "FRA", "France")], "id int, iso_2 string, iso_3 string, name string"
    )


def test_star_dims_no_unpartitioned_window(spark, sf_dir):
    """Surrogate ids never plan as a global (unpartitioned) Window,
    which funnels every distinct dim value through one task: the dims
    are local relations numbered on the driver, so their plans hold no
    Window and no Exchange at all, and the series fact neither ranks
    nor sorts globally."""
    import re

    from dfx_indicators_etl_spark import database

    star = database.build_star_schema(
        _star_obs(spark, [("p", "b", "Total"), ("p", "a", "Female")]), _star_country(spark)
    )
    for name in ("indicator", "dimension"):
        plan = star[name]._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan and "Exchange" not in plan, (name, plan)
        assert "LocalTableScan" in plan, (name, plan)

    plan = _plan(spark, sf_dir, "ind_star_series")
    assert "Window" not in plan
    # A global Sort prints as `Sort [...], true` (global=true).
    assert not re.search(r"\bSort \[.*\], true,", plan)


def test_star_ids_match_global_dense_rank(spark):
    """Dim ids equal DENSE_RANK() OVER (ORDER BY name) — the contract the
    SQL oracles rely on — on a multi-partition input whose names are
    non-ASCII, differ only by case, or order differently in UTF-16 than
    in code points (U+FF5E against an astral emoji)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dfx_indicators_etl_spark import database

    special = ["Éclair", "éclair", "eclair", "Eclair", "zebra", "Zebra", "ß", "ss",
               "日本", "\uff5e", "\U0001f600", "a b", "a", "A"]
    names = special + [f"name_{i:04d}" for i in range(300)]
    dims = ["Total", "total", "Female", "Ñ", "\U0001f600", "\uff5e", "15-24"]
    obs = _star_obs(spark, [("p", n, dims[i % len(dims)]) for i, n in enumerate(names)])
    star = database.build_star_schema(obs, _star_country(spark))

    def ranks(column):
        distinct = obs.select(F.col(column).alias("name")).distinct()
        return {
            r["name"]: r["id"]
            for r in distinct.select(
                F.dense_rank().over(Window.orderBy("name")).alias("id"), "name"
            ).collect()
        }

    for dim, column in (("indicator", "indicator_name"), ("dimension", "dimension")):
        got = {r["name"]: r["id"] for r in star[dim].collect()}
        assert got == ranks(column), dim


def test_star_indicator_takes_least_provider(spark):
    """A name reported by several providers gets the least of them, on
    any partitioning; null providers count only when no other exists."""
    from dfx_indicators_etl_spark import database

    rows = [("wb", "gdp", "Total"), ("imf", "gdp", "Female"), ("un", "gdp", "Total"),
            (None, "pop", "Total"), ("who", "pop", "Total"), (None, "hiv", "Total")]
    star = database.build_star_schema(_star_obs(spark, rows), _star_country(spark))
    got = {r["name"]: (r["id"], r["provider"]) for r in star["indicator"].collect()}
    assert got == {"gdp": (1, "imf"), "hiv": (2, None), "pop": (3, "who")}


def test_partitioned_write_static_pruning(spark, sf_dir, tmp_path):
    """A filter on the partition column must become PartitionFilters
    (directory pruning), not a data filter over all files."""
    from dfx_indicators_etl_spark.sources import read_table, sinks
    from pyspark.sql import functions as F

    path = str(tmp_path / "events_by_type")
    sinks.write_partitioned(
        read_table(spark, sf_dir, "events"), path, ("event_type",)
    )
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    frag = plan.split("PartitionFilters", 1)[1][:200]
    assert "event_type" in frag


def test_dynamic_partition_pruning_on_dim_filter(spark, sf_dir, tmp_path):
    """Joining a partitioned fact to a filtered dim must inject a
    dynamic pruning subquery on the partition column — the 100 TB
    pattern where the dim filter decides which fact directories are
    read at runtime."""
    from dfx_indicators_etl_spark.sources import read_table, sinks
    from pyspark.sql import functions as F

    path = str(tmp_path / "events_dpp")
    sinks.write_partitioned(
        read_table(spark, sf_dir, "events"), path, ("event_type",)
    )
    fact = spark.read.parquet(path)
    dim = (
        read_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .filter(F.col("event_type").isin("click", "view"))
    )
    # Disable broadcast so the planner must rely on DPP, not a
    # broadcast-join-side filter, to prune the scan.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = fact.join(dim, "event_type").groupBy("event_type").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        assert joined.count() == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_knn_graph_plan_shape(spark, sf_dir):
    """The mutual-kNN reduction is a fact-fact join over n·k directed
    edges — a shuffle (sort-merge) join is the INTENDED plan (neither
    side is broadcastable at corpus scale); the blocked expansion must
    broadcast only the tiny block-pair table."""
    plan = _plan(spark, sf_dir, "emb_knn_graph")
    assert plan.count("SortMergeJoin") <= 1
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 1
    assert "BatchEvalPython" not in plan


def test_streaming_drain_batch_faces_plan_shapes(spark, sf_dir):
    """Batch faces of the streaming drains (VERDICT r8 #9 — the
    PLANS.md '—' rows): the same transformations applied to the batch
    events table must keep their scale shapes — dims broadcast, the
    interval join keyed on the user equi-column (never a nested
    loop), dedup as a two-phase partial aggregate, and no Python
    anywhere. Streaming execution reuses these exact expressions per
    micro-batch."""
    from pyspark.sql import functions as F

    from dfx_indicators_etl_spark.sources import read_table, read_tables

    events, nation, region = read_tables(
        spark, sf_dir, "events", "nation", "region"
    )

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # stream_static_enrich face: broadcast dims + windowed count
    dims = F.broadcast(
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select("n_nationkey", F.col("r_name").alias("region_name"))
    )
    enrich = (
        events.join(dims, events["user_id"] % 25 == dims["n_nationkey"])
        .groupBy(F.window("ts", "1 hour").alias("w"), "region_name")
        .agg(F.count("*").alias("n_events"))
    )
    p = plan_of(enrich)
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "SortMergeJoin" not in p

    # stream_stream_join face: user-keyed equi join with the time
    # residual as a join condition — never BroadcastNestedLoopJoin
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id",
        F.col("ts").alias("view_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    joined = views.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
    )
    p = plan_of(joined)
    assert "BroadcastNestedLoopJoin" not in p
    assert "user_id" in p.split("Join")[1][:400]  # equi key survived
    assert "BatchEvalPython" not in p

    # stream_dedup face: dropDuplicates on the key columns is a
    # partial+final aggregate (map-side combine), one shuffle
    dedup = events.select("event_id", "user_id").dropDuplicates(
        ["event_id"]
    )
    p = plan_of(dedup)
    assert "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1

    # windowed-counts face (stream_events_windowed/upsert drains):
    # one hash shuffle to (window, key), partial agg before it
    windowed = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    p = plan_of(windowed)
    assert "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_count" in p or "HashAggregate" in p


# ---------------------------------------------------------------------------
# Registry-wide exact-path guard (VERDICT r9 #3): a docstring may
# explain a scale swap only if the code performs it. Any registered
# plan that carries an exact-percentile aggregate or an unpartitioned
# window (its input chain forced through Exchange SinglePartition)
# must be here, either because the hazard IS an adaptive picker's
# small path (the named picker must exist, and its forced-large path
# is pinned hazard-free in a dedicated test) or because the windowed
# frame is bounded by construction (calendar days/weeks, LIMIT top-k,
# fixed decile count) — never by data volume. A new key that trips a
# hazard without an entry fails at registration time, which is the
# rule the three r9 prose-only swaps needed.

# key -> dotted path of the runtime-adaptive picker whose SMALL path
# produces the hazard at test SF (forced-large twins are pinned in
# the named tests' modules).
ADAPTIVE_EXACT = {
    "q_winsorize": "plans.analytics_ext._winsorize_stats",
    "q_abc_analysis": "plans.analytics_ext._abc_classify",
    "q_rfm_segmentation": "plans.analytics_ext._rfm_tiers",
    "q_skyline": "plans.analytics_ext._skyline_from_pts",
    "q_time_to_convert": "plans.analytics_ext._time_to_convert_stats",
    "ind_outlier_mad": "plans.indicator_queries._mad_flags",
    "q_percentile": "plans.analytics._event_percentiles",
    "q_gini": "operators.scale.global_running_sum",
    "q_ks_drift": "operators.scale.global_running_sum",
    "q_gains_lift": "operators.scale.global_ntile",
    "q_lorenz": "operators.scale.global_ntile",
    "q_peak_concurrency": "operators.scale.global_running_sum",
    "q_percent_rank": "operators.scale.global_running_sum",
}

# key -> why the windowed frame cannot grow with data volume.
BOUNDED_EXACT = {
    "q_cumulative_distinct": "running sum over one row per calendar DAY",
    "q_growth_accounting": "lag over one row per calendar WEEK",
    "q_gains_lift": "cumulative windows over exactly 10 decile rows",
    "q_lorenz": "cumulative windows over exactly 10 decile rows",
}

# Third hazard class (r12, VERDICT r11 #2): QUADRATIC PAIR EXPANSION —
# a plan whose compute is O(n²) across block pairs (the
# _expand_block_pairs signature: pb_a/pb_b block columns) or a true
# CartesianProduct. Allowed only when the key routes through a
# runtime-adaptive picker whose SMALL path is the exact quadratic plan
# (the banded large path is pinned in tests/test_round12_ops.py).
ADAPTIVE_QUADRATIC = {
    "dedup_embedding_cosine": "operators.similarity.embedding_cosine_pairs",
    # emb_cosine_clusters consumes the SAME routed pair generator, but
    # connected_components' edge checkpoint hides the upstream plan
    # from this sweep — its pair generation is covered by the
    # dedup_embedding_cosine entry above (same call site).
    "emb_knn_graph": "operators.similarity.knn_graph",
}


def _quadratic_pair_expansion(plan: str) -> bool:
    """True iff the plan carries the blocked all-pairs expansion
    (pb_a/pb_b block-pair columns) or a CartesianProduct node —
    O(n²) compute across pair groups, the class the r11 verdict
    flagged as the last prose-only scale swap."""
    return "pb_a" in plan or "CartesianProduct" in plan

_PASS_NODES = ("Sort", "Window", "WindowGroupLimit", "InputAdapter")


def _node_name(line: str) -> str:
    import re

    m = re.search(r"[A-Za-z][\w]*", line.replace("*", " "))
    return m.group(0) if m else ""


def _window_over_singlepartition(plan: str) -> bool:
    """True iff some Window/WindowGroupLimit's unary input chain
    (through Sort / further window nodes only) reaches an Exchange
    SinglePartition — i.e. the window itself demanded a single-task
    global sort, not some unrelated scalar aggregate deeper down."""
    import re

    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if not re.search(r"\b(Window|WindowGroupLimit)\b", ln):
            continue
        indent = re.search(r"[A-Za-z]", ln).start()
        for nxt in lines[i + 1:]:
            a = re.search(r"[A-Za-z]", nxt)
            if not a:
                continue
            if a.start() <= indent:
                break  # left this window's subtree
            name = _node_name(nxt)
            if name == "Exchange":
                if "SinglePartition" in nxt:
                    return True
                break  # partitioned exchange: window input is fine
            if name in _PASS_NODES:
                continue
            break  # partition-preserving input node
    return False


def test_registry_wide_exact_path_hazards_are_allowlisted(spark, sf_dir):
    """Sweep EVERY registered batch plan for the two exact-path scale
    hazards and require the offender set to equal the documented
    allowlist exactly — new hazards fail registration, and stale
    allowlist entries (a picker now defaulting large, a dropped key)
    fail too, keeping the table honest in both directions."""
    import re

    pct = re.compile(r"(?<![\w_])percentile\(")
    offenders = {}
    for name, fn in QUERIES.items():
        # streaming drains and sink round-trips execute eagerly and
        # return checkpointed results (their plan is the memory/file
        # scan); their batch faces are plan-asserted above.
        if name.startswith(("stream_", "sink_")) or name == "dedup_incremental":
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        tags = []
        if pct.search(plan):
            tags.append("exact-percentile")
        if _window_over_singlepartition(plan):
            tags.append("window-singlepartition")
        if _quadratic_pair_expansion(plan):
            tags.append("quadratic-pair-expansion")
        if tags:
            offenders[name] = tags
    allowed = set(ADAPTIVE_EXACT) | set(BOUNDED_EXACT) | set(ADAPTIVE_QUADRATIC)
    unexpected = {k: v for k, v in offenders.items() if k not in allowed}
    assert not unexpected, (
        "unallowlisted exact-path hazard(s) — add a runtime-adaptive "
        f"picker (operators.scale) or a boundedness proof: {unexpected}"
    )
    stale = allowed - set(offenders)
    assert not stale, (
        "allowlist entries whose plan no longer shows the hazard at "
        f"test SF — prune them: {sorted(stale)}"
    )


def test_adaptive_exact_pickers_exist():
    """Every ADAPTIVE_EXACT entry must name a real callable — the
    in-code swap the allowlisting is conditional on."""
    import importlib

    for key, dotted in {**ADAPTIVE_EXACT, **ADAPTIVE_QUADRATIC}.items():
        mod_path, attr = dotted.rsplit(".", 1)
        mod = importlib.import_module(f"dfx_indicators_etl_spark.{mod_path}")
        assert callable(getattr(mod, attr)), f"{key}: {dotted} missing"


# ---------------------------------------------------------------------------
# Streaming-face exact-path guard (VERDICT r10 #2): the batch sweep
# above skips stream_*/sink_* keys because their registered callables
# execute drains eagerly and expose only the result scan. Their
# ACTUAL per-micro-batch expressions, foreachBatch folds, and state-log
# reader folds live in plans.stream_faces.BATCH_FACES — built from the
# same shipped functions wherever the streaming path shares a pure
# DataFrame transform. The same two-direction allowlist discipline
# applies: every hazard must be justified here, and every entry must
# still show its hazard.

# face key -> why the unpartitioned window is acceptable.
STREAM_BOUNDED_EXACT = {
    "stream_late_data": (
        "staging HARNESS only: the ntile arrival-order sort simulates "
        "out-of-order delivery at test scale; a real deployment's "
        "arrival order is the ingest stream itself and the audited "
        "accounting operator never sorts the stream"
    ),
}

STREAM_ADAPTIVE_EXACT: dict[str, str] = {}


def test_stream_faces_cover_every_streaming_key():
    """Completeness direction: every registered stream_*/sink_* key
    (plus dedup_incremental) must carry a batch face, and no face may
    name a key that is no longer registered."""
    from dfx_indicators_etl_spark.plans.stream_faces import BATCH_FACES

    streaming_keys = {
        k
        for k in QUERIES
        if k.startswith(("stream_", "sink_")) or k == "dedup_incremental"
    }
    missing = streaming_keys - set(BATCH_FACES)
    orphaned = set(BATCH_FACES) - streaming_keys
    assert not missing, f"streaming keys without a batch face: {sorted(missing)}"
    assert not orphaned, f"faces for unregistered keys: {sorted(orphaned)}"


def test_stream_faces_exact_path_hazards_are_allowlisted(spark, sf_dir):
    """Hazard direction: sweep every face plan for exact-percentile
    aggregates and unpartitioned windows; offenders == allowlist in
    both directions, exactly like the batch sweep."""
    import re

    from dfx_indicators_etl_spark.plans.stream_faces import BATCH_FACES

    pct = re.compile(r"(?<![\w_])percentile\(")
    offenders = {}
    for name, builder in BATCH_FACES.items():
        tags = []
        for df in builder(spark, sf_dir):
            plan = df._jdf.queryExecution().executedPlan().toString()
            if pct.search(plan):
                tags.append("exact-percentile")
            if _window_over_singlepartition(plan):
                tags.append("window-singlepartition")
            # the faces are the JVM-expressible drains/folds — none
            # may carry row-at-a-time Python (the stateful Python ops
            # keep their folds in applyInPandasWithState, which the
            # faces represent by their input frames)
            if "BatchEvalPython" in plan:
                tags.append("python-row-udf")
        if tags:
            offenders[name] = sorted(set(tags))
    allowed = set(STREAM_ADAPTIVE_EXACT) | set(STREAM_BOUNDED_EXACT)
    unexpected = {k: v for k, v in offenders.items() if k not in allowed}
    assert not unexpected, (
        "unallowlisted exact-path hazard(s) in a streaming face: "
        f"{unexpected}"
    )
    stale = allowed - set(offenders)
    assert not stale, (
        "stream allowlist entries whose face no longer shows the "
        f"hazard — prune them: {sorted(stale)}"
    )
