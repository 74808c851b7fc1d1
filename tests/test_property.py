"""Property-based tests (hypothesis) — SURVEY §5.2.3.

Each example builds a small DataFrame, so examples are capped and the
deadline disabled; the properties themselves are the full contracts:

- sweep-line: total weight×length is conserved, output segments are
  non-overlapping and ordered per name, and every segment's weight equals
  a brute-force point count; the driver kernel gives the same segments as
  the Spark operator.
- MinHash LSH: every emitted pair really meets the threshold (soundness),
  and exact duplicates are always found (completeness for jaccard=1).
"""

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from vector_search_spark.operators.dedup import minhash_lsh_pairs
from vector_search_spark.operators.sweepline import sweep_overlap, sweep_segments

intervals_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=1, max_value=5),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(intervals_strategy)
@example([(1, 4, 2), (5, 4, 3)])  # touching [1,5] + [5,9] overlap at 5
def test_sweepline_properties(spark, raw):
    rows = [("n", s, s + ln, float(w)) for s, ln, w in raw]
    df = spark.createDataFrame(rows, "name string, start long, end long, w double")
    segs = sorted(
        (r.seg_start, r.seg_end, r.weight)
        for r in sweep_overlap(df, "name", "start", "end", "w").collect()
    )
    # the driver kernel is the same sweep, row for row
    _, starts, ends, ws = zip(*rows)
    assert list(zip(*(a.tolist() for a in sweep_segments(starts, ends, ws)))) == segs
    # non-overlapping + ordered
    for (s1, e1, _), (s2, _, _) in zip(segs, segs[1:]):
        assert e1 < s2 and s1 <= e1
    # per-point brute force: weight at any covered point matches
    lo = min(s for _, s, e, _ in rows)
    hi = max(e for _, s, e, _ in rows)
    cover = {}
    for seg_s, seg_e, w in segs:
        for p in range(seg_s, seg_e + 1):
            cover[p] = w
    for p in range(lo, hi + 1):
        want = sum(w for _, s, e, w in rows if s <= p <= e)
        got = cover.get(p, 0.0)
        assert abs(got - want) < 1e-9, (p, got, want)


words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
)
docs_strategy = st.lists(
    st.lists(words, min_size=3, max_size=12).map(" ".join),
    min_size=2,
    max_size=8,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs_strategy)
def test_minhash_lsh_sound_and_finds_exact_dups(spark, texts):
    # plant one exact duplicate pair
    texts = texts + [texts[0]]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(df, "text", "doc_id", 16, 4, 0.5).collect()
    }

    def jac(a, b):
        sa, sb = set(texts[a].split()), set(texts[b].split())
        return len(sa & sb) / len(sa | sb)

    # soundness: every emitted pair meets the threshold exactly
    for (a, b), j in pairs.items():
        assert abs(j - jac(a, b)) < 1e-9 and j >= 0.5
    # completeness for exact dups: identical docs always collide
    assert (0, len(texts) - 1) in pairs


def test_twa_constant_series_equals_value(spark, tmp_path):
    """Time-weighted average of a CONSTANT series equals that constant no
    matter how irregular the spacing — the property that separates TWA
    from a naive event-count average and from any duration-weighting bug.
    Runs the PRODUCTION registry fn over a hand-built series."""
    import datetime as dt

    from vector_search_spark.plans.queries import QUERIES

    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), 1, 7.25)
        for i, s in enumerate([0, 1, 10, 100, 86400, 86411])
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["w_time_weighted_avg"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["twa"] == 7.25
    assert out[0]["n_segments"] == 5
    assert out[0]["total_dur_us"] == 86_411_000_000


def test_gap_fill_hits_events_and_midpoints(spark, tmp_path):
    """Linear interpolation must return the event value exactly when a
    grid point lands ON an event — including the user's LAST event,
    where no strictly-after bracket exists — and the arithmetic midpoint
    halfway between two events. Runs the PRODUCTION registry fn over a
    hand-built two-event series (midnight day 2 and midnight day 4, so
    day 3's grid point is the exact midpoint)."""
    import datetime as dt

    from vector_search_spark.plans.queries import QUERIES

    base = dt.datetime(2024, 1, 2)  # midnight — ON the grid
    rows = [
        (1, base, 5, 100.0),
        (2, base + dt.timedelta(days=2), 5, 300.0),  # day 4 midnight
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["day"]: r["v_interp"]
        for r in QUERIES["w_gap_fill_interpolate"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {
        "2024-01-02": 100.0,  # grid ON the opening event: exact hit
        "2024-01-03": 200.0,  # exact midpoint
        "2024-01-04": 300.0,  # grid ON the LAST event: exact-hit branch
    }


def test_attribution_shares_conserve_pennies(spark, sf_dir):
    """Per purchase, attributed shares must sum EXACTLY to the purchase's
    cent value — the conservation law the remainder-to-earliest rule
    exists for (a float split loses or invents pennies under division)."""
    from pyspark.sql import functions as F

    from vector_search_spark.plans.queries import QUERIES
    from vector_search_spark.sources.catalog import load_table

    res = QUERIES["j_attribution_split"].fn(spark, sf_dir)
    sums = res.groupBy("purchase_id").agg(F.sum("share_c").alias("total_c"))
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.round(F.col("value") * 100).cast("bigint").alias("v100"),
        )
    )
    bad = sums.join(p, "purchase_id").filter(
        F.col("total_c") != F.col("v100")
    )
    assert res.count() > 0
    assert bad.count() == 0


def test_attribution_conserves_negative_values(spark, tmp_path):
    """Refund/chargeback purchases (NEGATIVE value) must conserve pennies
    too: the remainder rule is signed by the dividend, so -100 cents over
    3 views splits -34/-33/-33, never -33/-33/-33 (which would invent a
    cent). Regression test for the sign-aware remainder fix."""
    import datetime as dt

    from pyspark.sql import functions as F

    from vector_search_spark.plans.queries import QUERIES

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "view", 0.0),
        (2, t0 + dt.timedelta(hours=1), 7, "view", 0.0),
        (3, t0 + dt.timedelta(hours=2), 7, "view", 0.0),
        (4, t0 + dt.timedelta(hours=3), 7, "purchase", -1.00),
        (5, t0 + dt.timedelta(hours=4), 7, "purchase", 1.00),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    res = QUERIES["j_attribution_split"].fn(spark, str(tmp_path))
    shares = {
        (r["purchase_id"], r["view_id"]): r["share_c"] for r in res.collect()
    }
    assert shares == {
        (4, 1): -34, (4, 2): -33, (4, 3): -33,
        (5, 1): 34, (5, 2): 33, (5, 3): 33,
    }


def test_quantile_sketch_error_bounded_by_bucket_width(spark, sf_dir):
    """The mergeable-histogram quantile estimate is the upper edge of the
    bucket holding rank ceil(q*n), so est - exact must land in
    [0, bucket_width) for EVERY quantile and week — the sketch's whole
    contract. (Parity checks the values; this pins the guarantee.)"""
    from vector_search_spark.plans.queries import QUERIES

    rows = QUERIES["a_quantile_sketch"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        for q in ("p50", "p90", "p99"):
            err = r[f"{q}_est"] - r[f"{q}_exact"]
            assert 0 <= err < 1000, (r["week"], q, err)
        assert r["err99"] == r["p99_est"] - r["p99_exact"]


def test_pagerank_ranks_bounded_and_ordered(spark, sf_dir):
    """Integer-space PageRank invariants on the top-20: ranks strictly
    positive, no node above total mass (1e9 ppb), ordering is
    (rank DESC, node ASC), and nodes are distinct. Truncating DIV only
    ever LOSES mass, so no rank can exceed the initial total."""
    from vector_search_spark.plans.queries import QUERIES

    rows = QUERIES["a_graph_pagerank"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    assert len({r["node"] for r in rows}) == 20
    for prev, cur in zip(rows, rows[1:]):
        assert (prev["rank_ppb"], cur["node"]) > (cur["rank_ppb"], prev["node"])
    for r in rows:
        assert 0 < r["rank_ppb"] < 10**9


def test_floordiv_identity_matches_python_floor_division(spark):
    """The integer floor-div identity used by a_quantile_sketch and
    pipe_zorder_skipping (`a DIV b - IF(a % b < 0, 1, 0)`, b > 0) must
    equal Python's // (= DuckDB's //) across the sign boundary — Spark's
    bare DIV truncates toward zero and diverges on negative dividends,
    which is exactly the latent-parity class the fix closed."""
    from pyspark.sql import functions as F

    vals = list(range(-2005, 2006, 7)) + [-1000, -999, -1, 0, 1, 999, 1000]
    df = spark.createDataFrame([(v,) for v in vals], "a BIGINT")
    got = {
        r["a"]: r["fd"]
        for r in df.select(
            "a",
            F.expr("a DIV 1000 - IF(a % 1000 < 0, 1, 0)").alias("fd"),
        ).collect()
    }
    for v in vals:
        assert got[v] == v // 1000, (v, got[v], v // 1000)


def test_cusum_telescopes_to_zero(spark, sf_dir):
    """The CUSUM invariant: deviations s_d*N - n_d*S sum over ALL days to
    S*N - N*S = 0 exactly — any nonzero final cumsum means the moments
    and the window disagree about the data (the canary for a partial
    scan, a lost day, or overflow)."""
    from vector_search_spark.plans.queries import QUERIES

    rows = QUERIES["w_cusum_changepoint"].fn(spark, sf_dir).collect()
    assert rows
    last = max(rows, key=lambda r: r["day"])
    assert last["cusum"] == 0, last
    assert sum(r["is_peak"] for r in rows) == 1


def test_welch_ttest_matches_independent_numpy(spark, sf_dir):
    """Recompute Welch's t from the raw fixture with numpy float64 and
    require agreement with the row's FLOOR-ppm output to 1 ulp of the
    flooring — an independent implementation check that the shared
    formula string actually encodes Welch and not something
    parity-consistent but wrong on both engines."""
    import numpy as np

    from vector_search_spark.plans.queries import QUERIES
    from vector_search_spark.sources.catalog import load_table

    (row,) = QUERIES["a_ab_welch_ttest"].fn(spark, sf_dir).collect()
    pdf = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "value")
        .toPandas()
    )
    c = np.floor(pdf["value"].to_numpy() * 100).astype(np.int64)
    v = (pdf["user_id"].to_numpy() % 2).astype(np.int64)
    a, b = c[v == 0], c[v == 1]
    va = a.var(ddof=1)
    vb = b.var(ddof=1)
    t = (a.mean() - b.mean()) / np.sqrt(va / len(a) + vb / len(b))
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert abs(row["t_ppm"] - np.floor(t * 1e6)) <= 1, (row["t_ppm"], t)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs_strategy)
def test_span_merge_maximal_matches_bruteforce(spark, texts):
    """span_merge_maximal == a per-doc brute-force reference: flag every
    n-gram start whose gram occurs in >= 2 distinct docs, merge adjacent
    starts into islands, region = [min_start, max_start + n - 1]. Also
    pins the structural invariants: regions within a doc are disjoint and
    sorted, n_grams == number of merged starts, n_tokens == span length."""
    from vector_search_spark.operators.dedup import span_merge_maximal

    n = 3
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_tokens, r.n_grams)
        for r in span_merge_maximal(df, "text", "doc_id", n=n).collect()
    )

    # brute force in python
    grams: dict[tuple, set] = {}
    toks = {i: t.split() for i, t in rows}
    for i, ws in toks.items():
        for p in range(len(ws) - n + 1):
            grams.setdefault(tuple(ws[p:p + n]), set()).add(i)
    want = []
    for i, ws in toks.items():
        dup_starts = [
            p + 1  # 1-based
            for p in range(len(ws) - n + 1)
            if len(grams[tuple(ws[p:p + n])]) >= 2
        ]
        run: list[int] = []
        for p in dup_starts + [None]:
            if run and (p is None or p != run[-1] + 1):
                s, e = run[0], run[-1] + n - 1
                want.append((i, s, e, e - s + 1, len(run)))
                run = []
            if p is not None:
                run.append(p)
    assert got == sorted(want)
    # islands' gram-START runs are disjoint with a gap (>= 2 apart);
    # token REGIONS may still abut/overlap by up to n-2 tokens when a
    # single non-duplicated gram separates two duplicated runs — that
    # is correct ExactSubstr semantics, so no token-disjointness pin.
    by_doc: dict[int, list] = {}
    for d, s, e, ntok, ngr in got:
        assert e == s + ntok - 1 and ngr == ntok - n + 1
        by_doc.setdefault(d, []).append((s, e))
    for spans in by_doc.values():
        for (s1, _), (s2, _) in zip(spans, spans[1:]):
            assert s2 >= s1 + 2  # a merged run would otherwise join them
