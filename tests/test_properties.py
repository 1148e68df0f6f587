"""Property-style tests (SURVEY §5): Spark operators vs direct Python
models of the reference's pandas semantics on generated inputs."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st

from dfx_indicators_etl_spark.operators import indicator as ops
from dfx_indicators_etl_spark import validation

# --- reference models (reimplemented from the reference, not imported) ---


def ref_resolve_dimensions(mapping: dict[str, str | None]) -> str:
    """utils.py:191-220 `_resolve_dimensions` on a plain dict."""
    present = {
        name.replace("_", " "): value
        for name, value in mapping.items()
        if value is not None
    }
    values = [
        value if value.lower() != "total" else f"All {name}"
        for name, value in present.items()
    ]
    if not values:
        return "Total"
    return "; ".join(values)


DIM_VALUES = st.one_of(
    st.none(),
    st.sampled_from(["Total", "total", "TOTAL", "", "Female", "15-24", "x y"]),
)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(DIM_VALUES, DIM_VALUES, DIM_VALUES), min_size=1, max_size=8))
def test_combine_dimensions_matches_reference(spark, rows):
    df = spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(rows)],
        "id int, dimension_sex string, dimension_age_group string, dimension_x string",
    )
    got = {
        r["id"]: r["dimension"]
        for r in ops.combine_dimensions(df, prefix="dimension_").collect()
    }
    for i, (a, b, c) in enumerate(rows):
        want = ref_resolve_dimensions(
            {"sex": a, "age_group": b, "x": c}
        )
        assert got[i] == want, (i, a, b, c)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # key
            st.integers(0, 5),  # order col
            st.floats(allow_nan=False, allow_infinity=False, width=32),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_dedup_first_matches_reference(spark, rows):
    """who_gho_api.py:183-190: sort by (key, order, value) then keep the
    first row per key — modelled directly with sorted()."""
    df = spark.createDataFrame(rows, "k int, o int, v double")
    got = {
        (r["k"]): (r["o"], r["v"])
        for r in ops.dedup_first(df, ["k"], ["o", "v"]).collect()
    }
    want = {}
    for k, o, v in sorted(rows, key=lambda t: (t[0], t[1], t[2])):
        want.setdefault(k, (o, v))
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    st.dictionaries(st.integers(0, 6), st.integers(0, 100), max_size=8),
    st.lists(st.tuples(st.integers(0, 6), st.integers(0, 100)), max_size=12),
)
def test_upsert_and_insert_ignore_match_reference(spark, existing, incoming):
    """database/__init__.py:92-127 merge semantics on a unique-keyed
    (key → value) state and an incoming batch that may repeat keys:
    a repeated key resolves to its first row under the order column
    (the least value), then the merge rule applies."""
    e_df = spark.createDataFrame(list(existing.items()) or [], "k int, v int")
    i_df = spark.createDataFrame(incoming or [], "k int, v int")
    first = {}
    for k, v in sorted(incoming):
        first.setdefault(k, v)

    rows = ops.upsert(e_df, i_df, ["k"], ["v"]).collect()
    assert len(rows) == len({*existing, *first})  # one row per key
    assert {r["k"]: r["v"] for r in rows} == {**existing, **first}  # incoming wins

    rows = ops.insert_ignore(e_df, i_df, ["k"], ["v"]).collect()
    assert len(rows) == len({*existing, *first})
    assert {r["k"]: r["v"] for r in rows} == {**first, **existing}  # existing wins


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(alphabet="ABCdef ", min_size=0, max_size=5)),  # country_code
            st.integers(1500, 2500),  # year
            st.one_of(st.none(), st.floats(allow_nan=False, width=32)),  # value
        ),
        min_size=1,
        max_size=15,
    )
)
def test_validate_split_partition_is_exact(spark, rows):
    """valid + quarantine partition the input; rules match the Python
    model of DataSchema (validation.py:64-97)."""
    df = spark.createDataFrame(
        [("events", "indicator one", c, y, "Total", v, None) for c, y, v in rows],
        "provider string, indicator_name string, country_code string, "
        "year int, dimension string, value double, source string",
    )
    valid, quarantine = validation.validate_split(df)
    n_valid, n_quar = valid.count(), quarantine.count()
    assert n_valid + n_quar == len(rows)

    def ok(c, y, v):
        import re

        return (
            c is not None
            and re.fullmatch(r"[A-Z]{3}", c) is not None
            and 1900 <= y <= 2100
            and v is not None
        )

    assert n_valid == sum(1 for c, y, v in rows if ok(c, y, v))


def test_combine_dimensions_empty_string_edge(spark):
    """A present-but-empty dimension is NOT 'Total' (utils.py:213-219
    tests list emptiness, not string emptiness)."""
    df = spark.createDataFrame(
        [(1, ""), (2, None)], "id int, dimension_sex string"
    )
    got = {
        r["id"]: r["dimension"]
        for r in ops.combine_dimensions(df, prefix="dimension_").collect()
    }
    assert got == {1: "", 2: "Total"}


# --- XLSX round-trip: arbitrary rectangular cell grids survive -----------

CELL = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(
        alphabet=st.characters(
            codec="utf-8", categories=("L", "N", "P", "Zs"), max_codepoint=0x2FFF
        ),
        max_size=20,
    ),
)


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=6),  # width
    st.lists(st.lists(CELL, min_size=0, max_size=6), min_size=1, max_size=8),
)
def test_xlsx_roundtrip_property(tmp_path_factory, width, grid):
    from dfx_indicators_etl_spark.sources import xlsx

    rows = [row[:width] for row in grid]
    path = str(tmp_path_factory.mktemp("xlsx_prop") / "t.xlsx")
    xlsx.write_xlsx(path, {"S": rows})
    back = xlsx.read_xlsx(path, "S")
    # Reader pads to the widest *populated* cell; compare cell-wise on
    # the written prefix, treating missing as None.
    for ri, row in enumerate(rows):
        for ci, value in enumerate(row):
            got = back[ri][ci] if ri < len(back) and ci < len(back[ri]) else None
            if isinstance(value, float):
                assert got is not None and math.isclose(got, value, rel_tol=1e-15)
            elif isinstance(value, str) and value == "":
                assert got in ("", None)
            else:
                assert got == value, (ri, ci, value, got)


def test_to_snake_case_reference_fixtures():
    # The reference's documented examples (utils.py:158-188 docstring):
    # strip ALL whitespace, lower, collapse runs to one underscore,
    # then prefix/suffix.
    assert ops.to_snake_case("Time Period") == "time_period"
    assert (
        ops.to_snake_case(" Time\n\n\nPeriod  ", prefix="dim", suffix="years")
        == "dim_time_period_years"
    )
    assert ops.to_snake_case("AgeGroup") == "agegroup"  # no camel splits
    assert ops.to_snake_case("\tA  B\r\n") == "a_b"


@settings(max_examples=10, deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from(list("aB c\t\n\r-_.")), min_size=0, max_size=12
    )
)
def test_snake_column_expression_matches_driver_side(spark, value):
    # The WHO-GHO column-expression form must agree byte-for-byte with
    # the driver-side reference port for any whitespace mix.
    from dfx_indicators_etl_spark.pipelines.who_gho_api import _snake

    got = (
        spark.createDataFrame([(value,)], "v string")
        .select(_snake(ops.F.col("v")).alias("s"))
        .first()["s"]
    )
    assert got == ops.to_snake_case(value)


# --- round-5 operators: chunking / packing invariants --------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=900), min_size=1, max_size=12),
    st.integers(min_value=50, max_value=400),
    st.integers(min_value=30, max_value=400),
)
def test_chunk_documents_covers_every_char_once_per_stride(spark, lens, chunk, stride):
    """Invariants for any (chunk, stride ≤ chunk): chunk count is
    ceil(len/stride) for non-empty docs, starts advance by exactly
    stride, only the final chunk may be short, and chunks cover the
    document (last start < len ≤ last start + chunk)."""
    from dfx_indicators_etl_spark.operators import text as T

    stride = min(stride, chunk)
    docs = spark.createDataFrame(
        [(i, "x" * n) for i, n in enumerate(lens)], "doc_id long, text string"
    )
    rows = T.chunk_documents(docs, chunk_chars=chunk, stride=stride).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, n in enumerate(lens):
        if n == 0:
            assert i not in by_doc
            continue
        cs = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
        assert len(cs) == (n - 1) // stride + 1
        assert [r["chunk_start"] for r in cs] == [j * stride for j in range(len(cs))]
        # every chunk is the window intersected with the document
        assert all(
            r["chunk_len"] == min(chunk, n - r["chunk_start"]) for r in cs
        )
        last = cs[-1]
        assert last["chunk_start"] < n <= last["chunk_start"] + chunk


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=15),
    st.integers(min_value=8, max_value=300),
)
def test_pack_spans_matches_sequential_model(spark, token_counts, capacity):
    """pack_spans must equal the direct concat-and-chunk model for any
    token distribution and capacity."""
    from dfx_indicators_etl_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(token_counts)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["start_bin"], r["n_bins_spanned"])
        for r in T.pack_spans(docs, capacity=capacity).collect()
    }
    cum = 0
    for i, n in enumerate(token_counts):
        start = cum // capacity
        cum += n
        spanned = 0 if n == 0 else (cum - 1) // capacity - start + 1
        assert got[i] == (n, start, spanned), (i, n, capacity)


# --- round-6 operator invariants ----------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=5,
        max_size=40,
        unique=True,
    ),
    st.floats(min_value=0.1, max_value=0.9),
)
def test_weighted_sample_monotone_in_rate(spark, ids, rate):
    """Survivor sets are NESTED in the acceptance rate: raising a
    group's rate only ever adds rows (the uniform per id is fixed), so
    a pipeline can tighten/loosen its mix without reshuffling history."""
    from dfx_indicators_etl_spark.operators import sampling

    df = spark.createDataFrame([(i, "g") for i in ids], "doc_id long, lang string")
    lo = {
        r["doc_id"]
        for r in sampling.weighted_sample(df, {"g": rate}, "lang", "doc_id").collect()
    }
    hi = {
        r["doc_id"]
        for r in sampling.weighted_sample(
            df, {"g": min(rate + 0.3, 1.0)}, "lang", "doc_id"
        ).collect()
    }
    assert lo <= hi
    full = {
        r["doc_id"]
        for r in sampling.weighted_sample(df, {"g": 1.0}, "lang", "doc_id").collect()
    }
    assert full == set(ids)


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_containment_bounds_and_dominates_jaccard(spark, data):
    """0 < containment ≤ 1, and max-containment ≥ Jaccard on every
    emitted pair (containment divides by one set, Jaccard by the
    union)."""
    from dfx_indicators_etl_spark.operators import dedup

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    docs = []
    for doc_id in range(4):
        n = data.draw(st.integers(min_value=3, max_value=8))
        toks = data.draw(
            st.lists(st.sampled_from(words), min_size=n, max_size=n)
        )
        docs.append((doc_id, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cont = {
        (r["doc_a"], r["doc_b"]): (r["containment_a"], r["containment_b"])
        for r in dedup.containment_pairs(
            df, threshold=0.0, max_shingle_freq=None
        ).collect()
    }
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=0.0, max_shingle_freq=None
        ).collect()
    }
    assert set(cont) == set(jac)
    for pair, (ca, cb) in cont.items():
        assert 0 < ca <= 1 and 0 < cb <= 1
        assert max(ca, cb) >= jac[pair] - 1e-12


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd ", min_size=1, max_size=40).filter(str.strip),
        min_size=1,
        max_size=8,
    )
)
def test_char_entropy_bounds(spark, texts):
    """0 ≤ H ≤ log2(n_distinct); H = 0 iff one distinct char; the
    Spark value matches a direct Python model to the 6dp rounding."""
    import collections

    from dfx_indicators_etl_spark.operators import text as T

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in T.char_entropy(docs).collect()}
    for i, s in enumerate(texts):
        c = collections.Counter(s)
        n = len(s)
        model = -sum(
            round((k / n) * math.log(k / n), 12) for k in c.values()
        ) / math.log(2.0)
        r = out[i]
        assert r["n_distinct"] == len(c) and r["n_chars"] == n
        # 6dp output rounding can sit half a step above the bound
        assert -1e-9 <= r["entropy_bits"] <= math.log2(len(c)) + 5e-7
        assert abs(r["entropy_bits"] - round(model, 6)) < 1e-9
        if len(c) == 1:
            assert r["entropy_bits"] == 0.0


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["en", "fr", "de", "es"]),
        st.integers(min_value=1, max_value=60),
        min_size=2,
        max_size=4,
    ),
    st.sampled_from([1.5, 2.0, 4.0]),
)
def test_temperature_sample_rate_properties(spark, group_sizes, temperature):
    """Rates are 1.0 for the rarest group, anti-monotone in group size,
    and equal-count groups get equal rates."""
    from dfx_indicators_etl_spark.operators import sampling

    rows = [
        (g_i * 1000 + i, lang)
        for g_i, (lang, n) in enumerate(sorted(group_sizes.items()))
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.temperature_sample(
        docs, "lang", "doc_id", temperature=temperature
    )
    rates = {
        r["lang"]: r["rate"] for r in out.select("lang", "rate").distinct().collect()
    }
    # every group with at least one survivor exposes its rate; the
    # rarest group's rate is exactly 1.0 so it always survives whole
    cmin = min(group_sizes.values())
    for lang, n in group_sizes.items():
        if n == cmin:
            assert rates.get(lang) == 1.0
    seen = [(group_sizes[lang], rate) for lang, rate in rates.items()]
    for (na, ra), (nb, rb) in zip(seen, seen[1:]):
        if na == nb:
            assert ra == rb
    for na, ra in seen:
        for nb, rb in seen:
            if na < nb:
                assert ra >= rb


def _round_half_up(x: float, places: int = 6) -> float:
    """Spark's round() on DoubleType: HALF_UP on the SHORTEST decimal
    representation (BigDecimal.valueOf goes through Double.toString),
    modeled via Decimal(repr(x)). Python's built-in round is
    half-to-even on the binary value — hypothesis finds dyadic ties
    like 0.7265625 where the two differ."""
    import decimal

    q = decimal.Decimal(repr(x)).quantize(
        decimal.Decimal(1).scaleb(-places), rounding=decimal.ROUND_HALF_UP
    )
    return float(q)


def ref_interpolate(series: list[tuple[int, float]]) -> dict[int, tuple[float, bool]]:
    """Pure-Python model of linear year gap-fill (sorted (year, value))."""
    out: dict[int, tuple[float, bool]] = {}
    series = sorted(series)
    for i, (y1, v1) in enumerate(series):
        out[y1] = (_round_half_up(v1), False)
        if i + 1 < len(series):
            y2, v2 = series[i + 1]
            for y in range(y1 + 1, y2):
                out[y] = (
                    _round_half_up(v1 + (v2 - v1) * (y - y1) / (y2 - y1)),
                    True,
                )
    return out


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=1990, max_value=2030),
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=12,
    )
)
def test_interpolate_years_matches_python_model(spark, series_map):
    series = sorted(series_map.items())
    df = spark.createDataFrame(
        [("A", "X", y, v) for y, v in series], "ind string, cc string, year int, value double"
    )
    got = {
        r["year"]: (r["value"], r["filled"])
        for r in ops.interpolate_years(df, ["ind", "cc"]).collect()
    }
    want = ref_interpolate(series)
    assert got.keys() == want.keys()
    for y in want:
        assert got[y][1] == want[y][1]
        assert got[y][0] == want[y][0], (y, got[y], want[y])


def test_priority_sample_matches_python_model(spark):
    """The survivor set must equal the exact top-n of w/u computed from
    the same md5 stream in pure Python — full determinism, not just a
    distributional claim."""
    import hashlib

    from dfx_indicators_etl_spark.operators.sampling import priority_sample

    rows = [(i, f"g{i % 3}", 10 + (i * 37) % 990) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars int")

    def uniform(key: int) -> float:
        h = hashlib.md5(f"prio{key}".encode()).hexdigest()[:8]
        return max(int(h, 16) / 2**32, 2.0 ** -33)  # operator's u-floor

    want: dict[str, set[int]] = {}
    for g in {r[1] for r in rows}:
        members = [(r[2] / uniform(r[0]), -r[0]) for r in rows if r[1] == g]
        ids = [
            -neg_id
            for _, neg_id in sorted(members, reverse=True)[:7]
        ]
        want[g] = set(ids)
    got: dict[str, set[int]] = {}
    for r in priority_sample(
        df, weight_col="n_chars", key_col="doc_id", n=7, group_cols=["lang"]
    ).collect():
        got.setdefault(r["lang"], set()).add(r["doc_id"])
    assert got == want


def ref_levenshtein(a: str, b: str) -> int:
    """Textbook DP — the model for the operator's banded form."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abX ", min_size=0, max_size=40),
        min_size=2,
        max_size=8,
    )
)
def test_fuzzy_levenshtein_matches_python_model(spark, texts):
    """Every emitted pair's distance must equal the textbook DP on the
    same probes, and every same-block pair within the threshold must
    be emitted (no false drops from the banded/thresholded form)."""
    from dfx_indicators_etl_spark.operators.dedup import fuzzy_levenshtein_pairs

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    max_dist, prefix, cap = 5, 4, 20
    got = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in fuzzy_levenshtein_pairs(
            docs, max_dist=max_dist, prefix_len=prefix, probe_len=cap,
            max_block=None,
        ).collect()
    }
    want = {}
    for i, ta in enumerate(texts):
        for j, tb in enumerate(texts):
            if i < j and ta[:prefix] == tb[:prefix]:
                d = ref_levenshtein(ta[:cap], tb[:cap])
                if d <= max_dist:
                    want[(i, j)] = d
    assert got == want


# --- shared_spans vs a direct Python model ---------------------------


def ref_shared_spans(texts, n=3, min_span=4):
    """Direct model: all-pairs n-gram position matches grouped by
    diagonal, consecutive runs merged into maximal spans."""
    toks = {i: [t for t in tx.split(" ") if t] for i, tx in enumerate(texts)}
    out = set()
    for a in toks:
        for b in toks:
            if a >= b:
                continue
            wa, wb = toks[a], toks[b]
            by_delta = {}
            for pa in range(len(wa) - n + 1):
                for pb in range(len(wb) - n + 1):
                    if wa[pa:pa + n] == wb[pb:pb + n]:
                        by_delta.setdefault(pb - pa, []).append(pa)
            for delta, pas in by_delta.items():
                pas.sort()
                run_start, prev = pas[0], pas[0]
                for p in pas[1:] + [None]:
                    if p is not None and p == prev + 1:
                        prev = p
                        continue
                    span = prev - run_start + n
                    if span >= min_span:
                        out.add(
                            (a, b, run_start, run_start + delta, span)
                        )
                    if p is not None:
                        run_start = prev = p
    return out


def test_shared_spans_hand_built_plants(spark):
    """A planted common phrase inside otherwise-disjoint docs comes
    back as exactly ONE maximal span with the right offsets/length;
    a repeated plant yields one span per diagonal occurrence."""
    from dfx_indicators_etl_spark.operators.dedup import shared_spans

    plant = "alpha beta gamma delta epsilon"  # 5 tokens
    texts = [
        "a1 a2 a3 " + plant + " a4 a5",            # plant at pos 3
        "b1 " + plant + " b2 b3 b4 b5 b6",         # plant at pos 1
        "c1 c2 c3 c4 c5 c6 c7 c8 c9",              # no plant
        "d1 " + plant + " d2 " + plant + " d3",    # plant twice
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["span_tokens"])
        for r in shared_spans(
            docs, min_span_tokens=4, max_shingle_freq=None
        ).collect()
    }
    assert got == ref_shared_spans(texts, min_span=4)
    # spot-check the headline pair: docs 0 and 1 share exactly the plant
    assert (0, 1, 3, 1, 5) in got
    # doc 3 contains the plant twice -> two diagonals vs doc 0
    assert (0, 3, 3, 1, 5) in got and (0, 3, 3, 7, 5) in got


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z", "w"]), min_size=0, max_size=14
        ),
        min_size=2,
        max_size=5,
    )
)
def test_shared_spans_matches_reference(spark, token_lists):
    """Random small-alphabet docs (dense repeats, overlapping
    diagonals, degenerate runs): Spark == the direct Python model."""
    from dfx_indicators_etl_spark.operators.dedup import shared_spans

    texts = [" ".join(ts) for ts in token_lists]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["span_tokens"])
        for r in shared_spans(
            docs, min_span_tokens=4, max_shingle_freq=None
        ).collect()
    }
    assert got == ref_shared_spans(texts, min_span=4)


def test_excise_shared_spans_hand_built(spark):
    """Excision: the later doc loses exactly the planted span (first
    occurrence stays canonical); a fully-contained doc empties out."""
    from dfx_indicators_etl_spark.operators.dedup import excise_shared_spans

    plant = "alpha beta gamma delta epsilon"  # 5 tokens
    texts = {
        0: "a1 a2 a3 " + plant + " a4 a5",
        1: "b1 " + plant + " b2 b3",
        2: plant,                    # doc 2 IS the span -> empties
        3: "c1 c2 c3 c4 c5 c6 c7",   # untouched -> omitted
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in excise_shared_spans(
            docs, min_span_tokens=4, max_shingle_freq=None
        ).collect()
    }
    assert set(out) == {1, 2}  # doc 0 keeps the canonical copy
    assert out[1]["cleaned_text"] == "b1 b2 b3"
    assert out[1]["n_tokens"] == 8 and out[1]["n_removed"] == 5
    assert out[2]["cleaned_text"] == "" and out[2]["n_tokens"] == 5
    assert out[2]["n_removed"] == 5


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(0, 1 << 40), min_size=1, max_size=60, unique=True),
    st.lists(st.integers(0, 1 << 40), min_size=1, max_size=60, unique=True),
)
def test_bloom_never_false_negative(spark, members, probes):
    """Every member key passes its own Bloom filter, for ANY key set
    and ANY probe set, in both hash families — the property the oracle
    equality of q_bloom_prefilter_join rests on (false positives are
    allowed, false negatives never). An ``int`` build side probed by a
    ``bigint`` fact must agree too (``xxhash64`` hashes the two types
    differently; ``md5`` hashes their equal strings)."""
    from dfx_indicators_etl_spark.operators.scale import (
        bloom_prefilter,
        bloom_words,
    )

    int_members = sorted({k % (1 << 31) for k in members})
    for family, build_type, built in (
        ("md5", "long", members),
        ("xxhash64", "long", members),
        ("xxhash64", "int", int_members),
    ):
        keys = spark.createDataFrame([(k,) for k in built], f"k {build_type}")
        words = bloom_words(keys, "k", n_bits=1 << 12, n_hashes=3, family=family)
        fact = spark.createDataFrame(
            [(k,) for k in set(built) | set(probes)], "k long"
        )
        kept = {
            r["k"]
            for r in bloom_prefilter(
                fact, words, "k", n_bits=1 << 12, n_hashes=3, family=family
            ).collect()
        }
        assert set(built) <= kept, (family, build_type)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
def test_zorder_interleave_is_bijective(spark, pairs):
    """De-interleaving the Morton key recovers (a, b) exactly — the
    bit interleave loses nothing, for any 16-bit pair."""
    from dfx_indicators_etl_spark.operators.scale import zorder_value

    df = spark.createDataFrame(pairs, "a long, b long")
    rows = df.select("a", "b", zorder_value("a", "b").alias("z")).collect()
    for r in rows:
        a = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(16))
        b = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (a, b) == (r["a"], r["b"])
