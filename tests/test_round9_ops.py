"""Round-9 additions: bitmap distinct rollup, cumulative distinct,
exact KS drift — hand-checkable math + distributed == exact pins."""

from __future__ import annotations

from pyspark.sql import functions as F

from dfx_indicators_etl_spark.plans import QUERIES
from dfx_indicators_etl_spark.sources import read_table


def test_bitmap_distinct_equals_count_distinct(spark, sf_dir):
    """The bitmap rollup's weekly pops must equal literal
    COUNT(DISTINCT) at both grains, and merged-weekly <= sum-of-daily
    (the whole point: re-aggregation dedups repeat users)."""
    out = {r["week"]: r for r in QUERIES["q_bitmap_distinct"](spark, sf_dir).collect()}
    e = read_table(spark, sf_dir, "events").select(
        F.date_trunc("week", "ts").cast("date").alias("week"), "user_id"
    )
    exact = {
        r["week"]: r["d"]
        for r in e.groupBy("week")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(out) == set(exact)
    for wk, row in out.items():
        assert row["weekly_distinct"] == exact[wk]
        assert row["weekly_distinct"] <= row["sum_daily_distinct"]


def test_bitmap_distinct_hand_case(spark):
    """3 users on 2 days, one returning: daily 2+2=4, merged 3."""
    rows = [("2024-01-01", 0), ("2024-01-01", 65), ("2024-01-02", 65), ("2024-01-02", 130)]
    df = spark.createDataFrame(rows, "day string, user_id long").select(
        F.col("day").cast("date").alias("day"), "user_id"
    )
    words = df.groupBy(
        "day", F.shiftright("user_id", 6).alias("bkt")
    ).agg(F.expr("bit_or(shiftleft(1L, CAST(user_id % 64 AS INT)))").alias("word"))
    daily = words.groupBy("day").agg(F.sum(F.bit_count("word")).alias("d"))
    assert sorted(r["d"] for r in daily.collect()) == [2, 2]
    merged = (
        words.groupBy("bkt")
        .agg(F.expr("bit_or(word)").alias("word"))
        .agg(F.sum(F.bit_count("word")).alias("m"))
    )
    assert merged.collect()[0]["m"] == 3


def test_cumulative_distinct_monotone_and_total(spark, sf_dir):
    rows = QUERIES["q_cumulative_distinct"](spark, sf_dir).orderBy("day").collect()
    total = (
        read_table(spark, sf_dir, "events")
        .select(F.countDistinct("user_id"))
        .collect()[0][0]
    )
    assert rows[-1]["cum_users"] == total
    cum = 0
    for r in rows:
        assert r["n_new"] >= 1
        cum += r["n_new"]
        assert r["cum_users"] == cum


def test_ks_drift_matches_python_model(spark, sf_dir):
    """Exact integer KS numerator equals a brute-force two-sample KS
    computed in Python over the collected values."""
    [row] = QUERIES["q_ks_drift"](spark, sf_dir).collect()
    e = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select("event_type", "value")
        .collect()
    )
    a = sorted(r["value"] for r in e if r["event_type"] == "purchase")
    b = sorted(r["value"] for r in e if r["event_type"] == "click")
    n_a, n_b = len(a), len(b)
    assert (row["n_a"], row["n_b"]) == (n_a, n_b)
    support = sorted(set(a) | set(b))
    import bisect

    d_num = max(
        abs(bisect.bisect_right(a, x) * n_b - bisect.bisect_right(b, x) * n_a)
        for x in support
    )
    assert row["d_num"] == d_num
    assert abs(row["ks_stat"] - d_num / (n_a * n_b)) < 1e-6


def test_ks_drift_identical_distributions_zero(spark):
    """KS of a distribution against itself is 0 (sanity anchor)."""
    from dfx_indicators_etl_spark.operators.scale import global_running_sum

    rows = [(float(i % 7), 1, 1) for i in range(50)]
    g = (
        spark.createDataFrame(rows, "value double, a_cnt long, b_cnt long")
        .groupBy("value")
        .agg(F.sum("a_cnt").alias("a_cnt"), F.sum("b_cnt").alias("b_cnt"))
    )
    c = global_running_sum(g, "a_cnt", [F.col("value")], "ca", n_rows=7)
    c = global_running_sum(c, "b_cnt", [F.col("value")], "cb", n_rows=7)
    d = c.select(F.max(F.abs(F.col("ca") - F.col("cb"))).alias("d")).collect()
    assert d[0]["d"] == 0


def _cc_labels(spark, edges, **kw):
    from dfx_indicators_etl_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        (r.doc_id, r.cluster_id)
        for r in connected_components(df, **kw).collect()
    }


def test_cc_star_equals_label_prop_on_random_graphs(spark):
    """The driver union-find path and the distributed pointer-jumping
    loop (``small_graph_edges=0``) of connected_components must agree,
    and equal the component minimum from a plain BFS, on every graph
    shape the retired star-contraction twin was checked on: random
    sparse graphs, a long chain, and two cliques bridged by one edge."""
    import random

    def component_min(edges):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        labels = set()
        seen = set()
        for start in adj:
            if start not in seen:
                comp, todo = {start}, [start]
                while todo:
                    for nb in adj[todo.pop()] - comp:
                        comp.add(nb)
                        todo.append(nb)
                seen |= comp
                labels |= {(node, min(comp)) for node in comp}
        return labels

    rng = random.Random(9)
    cases = []
    # random sparse graphs
    for n, m in [(30, 20), (50, 60)]:
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        )
    # a 40-node chain (a deep component)
    cases.append([(i, i + 1) for i in range(40)])
    # two cliques bridged by one edge
    k = list(range(100, 106))
    cases.append(
        [(a, b) for a in k for b in k if a < b]
        + [(200 + a, 200 + b) for a in range(5) for b in range(5) if a < b]
        + [(105, 200)]
    )
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        want = component_min(edges)
        small = _cc_labels(spark, edges)
        dist = _cc_labels(spark, edges, small_graph_edges=0)
        assert small == want, (sorted(small - want), sorted(want - small))
        assert dist == want, (sorted(dist - want), sorted(want - dist))


def test_cc_star_single_edge_and_self_loop(spark):
    # The 3-7 pair labels both with min=3; a node whose only pair is
    # itself stays as its own one-node cluster, on both paths.
    edges = [(7, 3), (5, 5)]
    want = {(3, 3), (7, 3), (5, 5)}
    assert _cc_labels(spark, edges) == want
    assert _cc_labels(spark, edges, small_graph_edges=0) == want


def test_ewma_matches_python_recurrence(spark, sf_dir):
    """The in-plan fold equals the literal s_t = 0.25 v_t + 0.75 s_{t-1}
    recurrence computed in Python over the same series."""
    from dfx_indicators_etl_spark.plans import QUERIES
    from dfx_indicators_etl_spark.plans.indicator_queries import _series

    out = {
        (r["indicator_name"], r["country_code"]): r
        for r in QUERIES["ind_ewma"](spark, sf_dir).collect()
    }
    series = {}
    for r in (
        _series(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .orderBy("year")
        .collect()
    ):
        series.setdefault(
            (r["indicator_name"], r["country_code"]), []
        ).append(r["value"])
    assert set(out) == set(series)
    for k, vals in series.items():
        s = vals[0]
        for v in vals[1:]:
            s = 0.25 * v + 0.75 * s
        assert out[k]["ewma"] == round(s, 6), (k, out[k]["ewma"], s)
        assert out[k]["n_years"] == len(vals)


def test_ewma_single_point_is_identity(spark):
    """A one-observation series: EWMA == the value (fold seed only)."""
    from pyspark.sql import functions as F2

    df = spark.createDataFrame([(2020, 3.5)], "year int, value double")
    vs = F2.transform(
        F2.array_sort(F2.collect_list(F2.struct("year", "value"))),
        lambda x: x["value"],
    )
    ewma = F2.aggregate(
        F2.slice(vs, 2, F2.greatest(F2.size(vs) - 1, F2.lit(0))),
        F2.element_at(vs, 1),
        lambda acc, v: F2.lit(0.25) * v + F2.lit(0.75) * acc,
    )
    [r] = df.agg(ewma.alias("e")).collect()
    assert r["e"] == 3.5


def test_benford_shares_sum_to_one_and_synthetic_benford(spark, sf_dir):
    """Digit shares sum to 1; a synthetic exactly-Benford-weighted
    sample lands each digit's count on its expected share."""
    from dfx_indicators_etl_spark.plans import QUERIES
    from dfx_indicators_etl_spark.plans.indicator_queries import _BENFORD_P

    rows = QUERIES["ind_benford"](spark, sf_dir).collect()
    assert sorted(r["digit"] for r in rows) == list(range(1, 10))
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(_BENFORD_P.values()) - 1.0) < 1e-9

    # synthetic: 10000 values with digit d appearing round(P(d)*10000)x
    import itertools

    vals = list(
        itertools.chain.from_iterable(
            [float(d)] * round(p * 10000) for d, p in _BENFORD_P.items()
        )
    )
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    from pyspark.sql import functions as F2

    digit = F2.regexp_extract(
        F2.col("value").cast("decimal(18,4)").cast("string"), "[1-9]", 0
    ).cast("int")
    counts = {
        r["digit"]: r["n"]
        for r in df.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F2.count(F2.lit(1)).alias("n"))
        .collect()
    }
    for d, p in _BENFORD_P.items():
        assert counts[d] == round(p * 10000)


def test_attribution_matches_python_model(spark, sf_dir):
    """Last-touch attribution vs a literal Python replay of the same
    rule (latest prior click/view within 7 days, else direct)."""
    from dfx_indicators_etl_spark.plans import QUERIES

    out = {
        r["touch"]: (r["n_purchases"], r["attributed_value"])
        for r in QUERIES["q_attribution"](spark, sf_dir).collect()
    }
    rows = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click", "view"))
        .select("user_id", "event_type", "value", "ts", "event_id")
        .collect()
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    from collections import defaultdict
    from decimal import Decimal

    model = defaultdict(lambda: [0, Decimal(0)])
    for evs in by_user.values():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        last = None
        for r in evs:
            if r["event_type"] in ("click", "view"):
                last = r
            elif r["event_type"] == "purchase":
                if (
                    last is not None
                    and (r["ts"] - last["ts"]).total_seconds() <= 7 * 86400
                ):
                    t = last["event_type"]
                else:
                    t = "direct"
                model[t][0] += 1
                model[t][1] += Decimal(str(round(r["value"], 4)))
    assert set(out) == set(model)
    for t, (n, v) in model.items():
        assert out[t][0] == n
        assert abs(out[t][1] - float(v)) < 1e-6


def test_growth_accounting_identity(spark, sf_dir):
    """active[w] == new + retained + resurrected for every week, and
    churned[w] == active[w-1] - retained[w]."""
    from dfx_indicators_etl_spark.plans import QUERIES

    rows = sorted(
        QUERIES["q_growth_accounting"](spark, sf_dir).collect(),
        key=lambda r: r["week"],
    )
    prev_active = 0
    for r in rows:
        assert r["n_active"] == r["n_new"] + r["n_retained"] + r["n_resurrected"]
        assert r["n_churned"] == prev_active - r["n_retained"]
        prev_active = r["n_active"]
    assert rows[0]["n_new"] == rows[0]["n_active"]  # week 1: all new


def test_gini_hand_cases(spark):
    """Gini of a uniform distribution is 0; of [1,3] it is 0.25; of a
    single near-total-concentration vector it approaches (n-1)/n."""
    from decimal import Decimal

    from dfx_indicators_etl_spark.operators.scale import global_running_sum

    def gini(vals):
        df = spark.createDataFrame(
            [(f"e{i:03d}", Decimal(str(v))) for i, v in enumerate(vals)],
            "s_name string, r decimal(18,4)",
        )
        c = global_running_sum(
            df, "r", [F.col("r"), F.col("s_name")], "cum", n_rows=len(vals)
        )
        [row] = c.agg(
            (
                (
                    (F.count(F.lit(1)) + 1).cast("double")
                    * F.sum("r").cast("double")
                    - 2.0 * F.sum("cum").cast("double")
                )
                / (
                    F.count(F.lit(1)).cast("double")
                    * F.sum("r").cast("double")
                )
            ).alias("g")
        ).collect()
        return row["g"]

    assert abs(gini([5, 5, 5, 5])) < 1e-12
    assert abs(gini([1, 3]) - 0.25) < 1e-12
    assert abs(gini([0.0001] * 9 + [10000]) - 0.9) < 1e-3


def test_mips_augmentation_preserves_dot_order(spark, sf_dir):
    """The Bachrach norm-augmentation reduction: cosine ranking in the
    augmented space equals exact dot-product ranking — so MIPS can
    ride any cosine ANN index."""
    from dfx_indicators_etl_spark.operators.similarity import (
        brute_force_mips_topk,
        brute_force_topk,
        mips_augment,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_mips_topk(emb, queries, k=5).collect()
    }
    aug_corpus, m = mips_augment(emb)
    assert m > 0
    # queries augmented with a literal 0 extra dim
    aug_q = queries.withColumn(
        "aug",
        F.concat(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            F.array(F.lit(0.0)),
        ),
    )
    via_cos = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(
            aug_corpus.select("vec_id", F.col("aug").alias("embedding")),
            aug_q.select("vec_id", F.col("aug").alias("embedding")),
            k=5,
            decimals=9,
        ).collect()
    }
    assert via_cos == exact


def test_mips_rewards_magnitude_where_cosine_does_not(spark):
    """The semantic difference MIPS exists for: a longer, slightly
    less aligned vector outranks a perfectly aligned short one."""
    from dfx_indicators_etl_spark.operators.similarity import (
        brute_force_mips_topk,
        brute_force_topk,
    )

    rows = [
        (0, [1.0, 0.0]),        # query
        (1, [0.5, 0.0]),        # perfectly aligned, short
        (2, [10.0, 3.0]),       # long, slightly off-axis
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 0)
    mips1 = brute_force_mips_topk(df, q, k=1).collect()[0]["neighbor_id"]
    cos1 = brute_force_topk(df, q, k=1).collect()[0]["neighbor_id"]
    assert mips1 == 2 and cos1 == 1


def test_mad_outlier_robust_where_zscore_hides(spark):
    """The property MAD exists for: one wild point inflates σ enough
    to hide itself from a 3σ rule, but cannot move the median/MAD."""
    import statistics

    vals = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 1000.0]
    mean = statistics.mean(vals)
    sd = statistics.pstdev(vals)
    z_flags = [abs(v - mean) / sd > 3 for v in vals]
    assert not any(z_flags)  # z-score misses the 1000.0

    med = statistics.median(vals)
    mad = statistics.median([abs(v - med) for v in vals])
    mad_flags = [abs(v - med) > 3 * 1.4826 * mad for v in vals]
    assert mad_flags == [False] * 8 + [True]  # MAD catches it

    # and the Spark expression agrees with the Python model
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    [r] = df.agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    ).collect()
    assert r["med"] == round(med, 6)


def test_mad_outlier_zero_mad_never_flags(spark, sf_dir):
    """Degenerate groups (constant series -> MAD 0) flag nothing."""
    from dfx_indicators_etl_spark.plans import QUERIES

    rows = QUERIES["ind_outlier_mad"](spark, sf_dir).collect()
    for r in rows:
        if r["mad"] == 0:
            assert r["is_outlier"] is False


def test_skyline_sweep_equals_naive_dominance(spark):
    """The sort-sweep skyline equals the O(n²) dominance definition on
    hand-built point sets including exact ties and duplicates."""
    from pyspark.sql import Window

    cases = [
        # (rev, ord) points; maximize both
        [(10, 1), (9, 2), (8, 3), (7, 1), (10, 0)],
        [(5, 5), (5, 5), (4, 6), (5, 4)],   # exact duplicates survive
        [(1, 1)],
        [(3, 3), (3, 2), (2, 3), (2, 4)],
    ]
    for pts in cases:
        naive = {
            p
            for p in pts
            if not any(
                q[0] >= p[0]
                and q[1] >= p[1]
                and (q[0] > p[0] or q[1] > p[1])
                for q in pts
            )
        }
        df = spark.createDataFrame(
            [(i, r, o) for i, (r, o) in enumerate(pts)],
            "id long, rev long, n_orders long",
        )
        per_rev = df.groupBy("rev").agg(F.max("n_orders").alias("mo"))
        w = Window.orderBy(F.col("rev").desc()).rowsBetween(
            Window.unboundedPreceding, -1
        )
        per_rev = per_rev.withColumn("prev_max", F.max("mo").over(w))
        sky = {
            (r["rev"], r["n_orders"])
            for r in df.join(per_rev, "rev")
            .filter(
                (F.col("n_orders") == F.col("mo"))
                & (
                    F.col("prev_max").isNull()
                    | (F.col("n_orders") > F.col("prev_max"))
                )
            )
            .collect()
        }
        assert sky == naive, (pts, sky, naive)


def test_deseasonalize_flattens_pure_seasonality(spark, sf_dir):
    """Deseasonalized means of a perfectly periodic synthetic series
    are constant (the index absorbs all dow structure); and on real
    data each day's deseasonalized value equals day_mean/index."""
    from dfx_indicators_etl_spark.plans import QUERIES

    rows = QUERIES["ind_deseasonalize"](spark, sf_dir).collect()
    for r in rows:
        # day_mean in the OUTPUT is rounded to 6dp; deseasonalized
        # divides the unrounded mean — so compare with 1-ulp slack
        assert (
            abs(r["deseasonalized"] - r["day_mean"] / r["seasonal_index"])
            < 2e-6
        )

    # synthetic: value = dow level, repeated over 4 weeks
    import datetime

    data = []
    base = datetime.datetime(2024, 1, 1)  # a Monday
    for d in range(28):
        ts = base + datetime.timedelta(days=d)
        data.append(("ind", ts, float(ts.isoweekday()) * 10.0))
    df = spark.createDataFrame(data, "indicator_name string, ts timestamp, value double")
    obs = df.select(
        "indicator_name",
        F.col("ts").cast("date").alias("day"),
        (F.weekday("ts") + 1).alias("dow"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    per_dow = obs.groupBy("indicator_name", "dow").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("d_mean")
    )
    grand = obs.groupBy("indicator_name").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("g_mean")
    )
    idx = per_dow.join(grand, "indicator_name").select(
        "dow", F.round(F.col("d_mean") / F.col("g_mean"), 6).alias("si")
    )
    daily = obs.groupBy("day", "dow").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("day_mean")
    )
    out = daily.join(idx, "dow").select(
        F.round(F.col("day_mean") / F.col("si"), 6).alias("des")
    )
    vals = {r["des"] for r in out.collect()}
    # all deseasonalized values collapse to the grand mean (40.0)
    assert len(vals) == 1 and abs(vals.pop() - 40.0) < 1e-3


def test_gains_lift_invariants(spark, sf_dir):
    """Gains-table invariants: capture is monotone to 1.0 at decile
    10, decile-1 lift >= 1 when the score has ANY signal, and user/
    buyer totals reconcile with the raw fact."""
    from dfx_indicators_etl_spark.plans import QUERIES

    rows = sorted(
        QUERIES["q_gains_lift"](spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    caps = [r["cum_capture"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(caps, caps[1:]))
    assert abs(caps[-1] - 1.0) < 1e-9
    e = read_table(spark, sf_dir, "events")
    total_users = e.select(F.countDistinct("user_id")).collect()[0][0]
    buyers = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.countDistinct("user_id"))
        .collect()[0][0]
    )
    assert sum(r["n_users"] for r in rows) == total_users
    assert sum(r["n_buyers"] for r in rows) == buyers
    # final cumulative lift is exactly 1 by construction
    assert abs(rows[-1]["cum_lift"] - 1.0) < 1e-9


def test_time_to_convert_matches_python_model(spark, sf_dir):
    """Latency stats vs a literal Python replay: first view, first
    purchase at-or-after it, exact integer seconds."""
    from dfx_indicators_etl_spark.plans import QUERIES

    [row] = QUERIES["q_time_to_convert"](spark, sf_dir).collect()
    evs = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("user_id", "event_type", "ts")
        .collect()
    )
    import datetime

    origin = datetime.datetime(2024, 1, 1)
    first_view, first_buy = {}, {}
    for r in evs:
        sec = int((r["ts"] - origin).total_seconds())
        if r["event_type"] == "view":
            first_view[r["user_id"]] = min(
                first_view.get(r["user_id"], sec), sec
            )
    for r in evs:
        if r["event_type"] != "purchase":
            continue
        u = r["user_id"]
        if u not in first_view:
            continue
        sec = int((r["ts"] - origin).total_seconds())
        if sec >= first_view[u]:
            first_buy[u] = min(first_buy.get(u, sec), sec)
    lats = sorted(first_buy[u] - first_view[u] for u in first_buy)
    assert row["n_viewers"] == len(first_view)
    assert row["n_converted"] == len(lats)

    def q_cont(xs, q):
        if len(xs) == 1:
            return float(xs[0])
        pos = q * (len(xs) - 1)
        lo = int(pos)
        frac = pos - lo
        hi = min(lo + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * frac

    assert abs(row["p50_latency_s"] - round(q_cont(lats, 0.5), 6)) < 1e-6
    assert abs(row["p90_latency_s"] - round(q_cont(lats, 0.9), 6)) < 1e-6
