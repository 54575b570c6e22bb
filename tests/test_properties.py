"""Property tests (SURVEY.md §5.4): null-propagation laws of the X6
conditionals, map-pivot/window-lag equivalence, and full-outer-merge
idempotence. Hypothesis generates the micro-frames; example counts kept low
(Spark round-trips per example)."""

from __future__ import annotations

from datetime import date

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

maybe_double = st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False).map(lambda x: round(x, 3)))


@given(a=maybe_double, b=maybe_double)
@_settings
def test_null_safe_delta_propagation(spark, a, b):
    """delta(a,b) is NULL iff a or b is NULL, else a-b
    (m_cocacola_score_channel.clj:58-60)."""
    from etl_cascalog_spark.functions.conditionals import null_safe_delta

    df = spark.createDataFrame([(a, b)], "a double, b double")
    out = df.select(null_safe_delta(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    if a is None or b is None:
        assert out is None
    else:
        assert out is not None and abs(out - (a - b)) < 1e-9


@given(a=maybe_double, b=maybe_double)
@_settings
def test_c_gt_null_safe(spark, a, b):
    from etl_cascalog_spark.functions.conditionals import c_gt

    df = spark.createDataFrame([(a, b)], "a double, b double")
    out = df.select(c_gt(F.col("a"), F.col("b")).alias("g")).collect()[0].g
    if a is None or b is None:
        assert out is None
    else:
        assert out == (a > b)


@given(
    months=st.lists(
        st.tuples(st.integers(0, 23), st.floats(0, 100, allow_nan=False).map(lambda x: round(x, 2))),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
@_settings
def test_calendar_lag_equals_self_join_formulation(spark, months):
    """The map-probe pivot (reference formulation) must equal the relational
    self-join-on-lag-key formulation for arbitrary gappy month sets."""
    from etl_cascalog_spark.operators.periods import with_period_comparisons

    def month_end(i: int) -> date:
        y, m = 2022 + i // 12, i % 12 + 1
        nxt = date(y + (m == 12), (m % 12) + 1, 1)
        return nxt.fromordinal(nxt.toordinal() - 1)

    rows = [("g", month_end(i), v) for i, v in months]
    df = spark.createDataFrame(rows, "dim string, dt date, v double")
    got = {
        r.dw_dt: (r.value, r.pp_value, r.yoy_value)
        for r in with_period_comparisons(
            spark, df, ["dim"], "dt", "v", "2022-01-01", "2024-12-31"
        ).collect()
    }
    # oracle: dict lookups by calendar key
    by_dt = {month_end(i): v for i, v in months}
    for i, v in months:
        d = month_end(i)
        pp = by_dt.get(month_end(i - 1)) if i >= 1 else None
        yoy = by_dt.get(month_end(i - 12)) if i >= 12 else None
        assert got[d] == (v, pp, yoy)
    assert len(got) == len(months)


@given(
    left_keys=st.sets(st.integers(0, 8), max_size=6),
    right_keys=st.sets(st.integers(0, 8), max_size=6),
)
@_settings
def test_full_outer_merge_laws(spark, left_keys, right_keys):
    """J3 laws: key coverage = union; left value wins on intersection;
    merging a frame with itself is identity on keys+values."""
    from etl_cascalog_spark.operators.joins import full_outer_coalesce

    l = spark.createDataFrame([(k, f"L{k}") for k in left_keys] or [], "id int, v string")
    r = spark.createDataFrame([(k, f"R{k}") for k in right_keys] or [], "id int, v string")
    out = {row.id: row.v for row in full_outer_coalesce(l, r, ["id"]).collect()}
    assert set(out) == left_keys | right_keys
    for k in left_keys:
        assert out[k] == f"L{k}"
    for k in right_keys - left_keys:
        assert out[k] == f"R{k}"
    # idempotence
    out2 = {row.id: row.v for row in full_outer_coalesce(l, l, ["id"]).collect()}
    assert out2 == {k: f"L{k}" for k in left_keys}


_events = st.lists(
    st.tuples(
        st.integers(1, 3),            # key
        st.integers(0, 50),           # time (small ints: collisions likely)
        st.integers(0, 1000),         # value/tiebreak id
    ),
    min_size=1,
    max_size=14,
)


@given(left=_events, right=_events)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_equals_naive_theta_join(spark, left, right):
    """asof_join (union+window composition) ≡ the naive per-left-row argmax
    over {r : r.key = l.key, r.ts <= l.ts}, max by (ts, rid) — on random
    micro-frames with deliberate timestamp collisions."""
    from datetime import datetime, timedelta

    from etl_cascalog_spark.operators.joins import asof_join

    base = datetime(2024, 1, 1)
    l_rows = [(k, base + timedelta(minutes=t), i) for i, (k, t, _v) in enumerate(left)]
    r_rows = [
        (k, base + timedelta(minutes=t), float(v), 10_000 + i)
        for i, (k, t, v) in enumerate(right)
    ]
    ldf = spark.createDataFrame(l_rows, "k long, lts timestamp, lid long")
    rdf = spark.createDataFrame(r_rows, "k long, rts timestamp, v double, rid long")
    got = {
        r.lid: (r.v, r.rid)
        for r in asof_join(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
            value_cols=["v", "rid"], tiebreak="rid",
        ).collect()
    }
    want = {}
    for k, lts, lid in l_rows:
        cands = [(rts, rid, v) for rk, rts, v, rid in r_rows if rk == k and rts <= lts]
        if cands:
            _ts, rid, v = max(cands, key=lambda c: (c[0], c[1]))
            want[lid] = (v, rid)
        else:
            want[lid] = (None, None)
    assert got == want


@given(
    probes=st.lists(st.integers(0, 300), min_size=1, max_size=12),
    ivs=st.lists(st.tuples(st.integers(0, 300), st.integers(0, 120)), min_size=1, max_size=8),
    bucket=st.sampled_from([60, 3600, 7200]),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_range_join_bucketed_equals_naive(spark, probes, ivs, bucket):
    """Bucket-exploded range_join ≡ the quadratic BETWEEN predicate for any
    bucket size, including intervals spanning many/zero cells and boundary
    ties (minute-granularity random data)."""
    from datetime import datetime, timedelta

    from etl_cascalog_spark.operators.joins import range_join

    base = datetime(2024, 1, 1)
    p_rows = [(i, base + timedelta(minutes=t)) for i, t in enumerate(probes)]
    i_rows = [
        (100 + j, base + timedelta(minutes=s), base + timedelta(minutes=s + d))
        for j, (s, d) in enumerate(ivs)
    ]
    pdf = spark.createDataFrame(p_rows, "pid long, ts timestamp")
    idf = spark.createDataFrame(i_rows, "iid long, s timestamp, e timestamp")
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(pdf, "ts", idf, "s", "e", bucket_seconds=bucket)
        .select("pid", "iid")
        .collect()
    )
    want = sorted(
        (pid, iid)
        for pid, ts in p_rows
        for iid, s, e in i_rows
        if s <= ts <= e
    )
    assert got == want


@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(-1000, 1000),
        ),
        min_size=1,
        max_size=40,
    ),
    p=st.sampled_from([0.05, 0.25, 0.5, 0.75, 0.95, 1.0]),
    n_buckets=st.sampled_from([1, 2, 4, 16]),
)
@_settings
def test_exact_group_percentiles_equals_naive_rank(spark, data, p, n_buckets):
    """The range-bucket prefix-sum selection equals the naive
    rank = ceil(p·n) definition for any value multiset (duplicates, negative
    values, single-element groups) and any bucket count — including
    n_buckets=1 (degenerates to one local sort per group)."""
    from etl_cascalog_spark.operators.aggregates import exact_group_percentiles

    df = spark.createDataFrame(data, "grp string, v long")
    got = {
        r.grp: r.value
        for r in exact_group_percentiles(
            df, "grp", "v", [p], n_buckets=n_buckets
        ).collect()
    }
    import math

    want = {}
    for g in {g for g, _ in data}:
        vals = sorted(v for gg, v in data if gg == g)
        want[g] = vals[math.ceil(p * len(vals)) - 1]
    assert got == want


@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(-1000, 1000),
        ),
        min_size=1,
        max_size=40,
    ),
    ps=st.sampled_from([(0.05, 0.95), (0.1, 0.9), (0.5, 0.5), (0.25, 1.0)]),
)
# p_lo == p_hi with two values in the target bucket
@example(data=[("b", -731), ("b", 0), ("b", -732)], ps=(0.5, 0.5))
@_settings
def test_winsorized_hist_equals_two_pass(spark, data, ps):
    """The one-shuffle histogram winsorization (round 12) equals the
    range-bucket two-pass form for any integer multiset and any
    (p_lo, p_hi) — including p_lo == p_hi and p_hi == 1.0."""
    from etl_cascalog_spark.operators.aggregates import (
        winsorized_stats,
        winsorized_stats_hist,
    )

    p_lo, p_hi = ps
    df = spark.createDataFrame(data, "grp string, v long")
    cols = ["n_rows", "p_lo_val", "p_hi_val", "clipped_sum"]
    want = {
        r.grp: tuple(r[c] for c in cols)
        for r in winsorized_stats(df, "grp", "v", p_lo=p_lo, p_hi=p_hi).collect()
    }
    got = {
        r.grp: tuple(r[c] for c in cols)
        for r in winsorized_stats_hist(
            df, "grp", "v", p_lo=p_lo, p_hi=p_hi
        ).collect()
    }
    assert got == want


@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(-1000, 1000),
        ),
        min_size=1,
        max_size=40,
    ),
    k_mad=st.sampled_from([0, 1, 3]),
)
@_settings
def test_mad_outlier_hist_equals_naive(spark, data, k_mad):
    """The one-shuffle histogram median/MAD/outlier computation (round 12)
    equals the naive definition for any value multiset — duplicates,
    negatives, singleton groups, k_mad=0 (every non-median-distance row is
    an outlier) — because the histogram cumsum picks the same
    rank-ceil(0.5·n) value the sorted-row selection would."""
    import math

    from etl_cascalog_spark.operators.aggregates import mad_outlier_hist

    df = spark.createDataFrame(data, "grp string, v long")
    got = {
        r.grp: (r.n_rows, r.median_v, r.mad_v, r.n_outliers)
        for r in mad_outlier_hist(df, "grp", "v", k_mad=k_mad).collect()
    }
    want = {}
    for g in {g for g, _ in data}:
        vals = sorted(v for gg, v in data if gg == g)
        n = len(vals)
        med = vals[math.ceil(0.5 * n) - 1]
        devs = sorted(abs(v - med) for v in vals)
        mad = devs[math.ceil(0.5 * n) - 1]
        want[g] = (
            n, med, mad, sum(1 for v in vals if abs(v - med) > k_mad * mad)
        )
    assert got == want


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 50),
            st.lists(st.sampled_from(["aa bb", "cc dd", "ee ff", "gg hh", "ii jj"]), min_size=1, max_size=4),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    min_docs=st.integers(1, 4),
)
@_settings
def test_boilerplate_stats_equals_naive(spark, docs, min_docs):
    """boilerplate_sentence_stats equals a pure-Python recomputation for
    any doc set: sentence df counted over DISTINCT docs, per-doc counts
    over ALL (non-distinct) sentence occurrences."""
    from etl_cascalog_spark.operators.text import boilerplate_sentence_stats

    rows = [(i, ". ".join(sents)) for i, sents in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_sent, r.n_boiler)
        for r in boilerplate_sentence_stats(df, min_docs=min_docs).collect()
    }
    sent_docs: dict[str, set] = {}
    for i, sents in docs:
        for s in sents:
            sent_docs.setdefault(s, set()).add(i)
    want = {}
    for i, sents in docs:
        n = len(sents)
        b = sum(1 for s in sents if len(sent_docs[s]) >= min_docs)
        want[i] = (n, b)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.dates(date(1995, 1, 1), date(1999, 1, 1))),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
    half_life=st.sampled_from([30.0, 365.0]),
)
@_settings
def test_recency_sample_equals_naive(spark, rows, half_life):
    """recency_weighted_sample keeps exactly the rows whose md5 coin falls
    under the decayed rate — recomputed independently in Python."""
    import hashlib

    from etl_cascalog_spark.operators.sessions import recency_weighted_sample

    as_of = date(1998, 8, 1)
    df = spark.createDataFrame(rows, "id long, dt date")
    kept = {
        r.id
        for r in recency_weighted_sample(
            df, "id", "dt", as_of="1998-08-01", half_life_days=half_life
        ).collect()
    }
    want = set()
    for i, dt in rows:
        age = max((as_of - dt).days, 0)
        rate = max(0.05, 0.5 ** (age / half_life))
        bucket = int(hashlib.md5(f"{i}r1".encode()).hexdigest()[:8], 16) % 1_000_000
        if bucket < int(round(rate * 1_000_000)):
            want.add(i)
    assert kept == want


@given(
    base=st.text(alphabet="ab", min_size=6, max_size=12),
    subs=st.lists(st.tuples(st.integers(0, 11), st.sampled_from("cd")), min_size=0, max_size=2),
)
@_settings
def test_pigeonhole_recall_for_substitutions(spark, base, subs):
    """PassJoin contract: for SAME-LENGTH strings within substitution
    distance n_segments-1, uncapped pigeonhole blocking ALWAYS emits the
    pair (≥1 aligned segment untouched), with the exact levenshtein."""
    from etl_cascalog_spark.operators.dedup import pigeonhole_edit_pairs

    mutated = list(base)
    for pos, ch in subs:
        if pos < len(mutated):
            mutated[pos] = ch
    other = "".join(mutated)
    n_subs = sum(1 for x, y in zip(base, other) if x != y)
    df = spark.createDataFrame([(1, base), (2, other)], "id: long, s: string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in pigeonhole_edit_pairs(
            df, "id", "s", n_segments=3, max_dist=2, max_posting=None
        ).collect()
    }
    if 0 < n_subs <= 2:
        # levenshtein may be < hamming (shifts), never greater
        assert (1, 2) in got and got[(1, 2)] <= n_subs
    elif n_subs == 0:
        assert got.get((1, 2)) == 0 or (1, 2) in got


@given(
    vals=st.lists(st.integers(0, 10_000), min_size=1, max_size=6),
    gaps=st.lists(st.integers(1, 5), min_size=0, max_size=5),
)
@_settings
def test_resample_interpolate_equals_naive(spark, vals, gaps):
    """Interpolated values equal the naive Python recurrence
    prev + (next-prev)*offset // gap (trunc division) on every spine day."""
    from datetime import date, timedelta

    from etl_cascalog_spark.operators.timeseries import resample_interpolate_daily

    days, d = [], date(2024, 1, 1)
    for i, v in enumerate(vals):
        days.append((d, v))
        if i < len(gaps):
            d += timedelta(days=1 + gaps[i])
        else:
            d += timedelta(days=1)
    df = spark.createDataFrame(
        [("k", dd.isoformat(), vv) for dd, vv in days],
        "key: string, day: string, v: long",
    ).select("key", F.col("day").cast("date").alias("day"), "v")
    got = {
        r["day"]: (r["value"], r["src"])
        for r in resample_interpolate_daily(df, "key", "day", "v").collect()
    }
    known = dict(days)
    d0, d1 = days[0][0], days[-1][0]
    n_days = (d1 - d0).days + 1
    assert len(got) == n_days
    cur = d0
    while cur <= d1:
        if cur in known:
            assert got[cur] == (known[cur], "actual"), cur
        else:
            prev_d = max(dd for dd in known if dd < cur)
            next_d = min(dd for dd in known if dd > cur)
            pv, nv = known[prev_d], known[next_d]
            off, gap = (cur - prev_d).days, (next_d - prev_d).days
            # trunc-toward-zero semantics of Spark div on the delta product
            delta = (nv - pv) * off
            want = pv + (abs(delta) // gap) * (1 if delta >= 0 else -1)
            assert got[cur] == (want, "interp"), (cur, got[cur], want)
        cur += timedelta(days=1)


def _labelprop_cc(pairs, max_iter: int = 50):
    """Min-label-propagation connected components: the O(diameter)
    independent twin of ``dedup.connected_components`` (same contract:
    ``(node, label)``, label = smallest reachable id, self-loop-only nodes
    labeled with themselves). Every node starts labeled with itself; each
    round sends labels across both edge directions and keeps the min,
    until no label changes. Blocks are left to ``release_all_blocks``."""
    edges = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
    edges = (
        edges.unionByName(edges.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        msgs = edges.join(labels.withColumnRenamed("node", "s"), on="s").select(
            F.col("t").alias("node"), "label"
        )
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "__old"), on="node")
            .where(F.col("label") != F.col("__old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise AssertionError("label propagation did not converge")


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=25,
    )
)
# deep graphs, where an in-job fixpoint test could stop a round early
@example(edges=[(i, i + 1) for i in range(40)])
@example(edges=[(i + 1, i) for i in range(40)])
@example(edges=[((i * 17) % 41, ((i + 1) * 17) % 41) for i in range(40)])
@example(edges=[(i, i + 1) for i in range(12)] + [(100 + i, 101 + i) for i in range(12)])
@_settings
def test_star_cc_equals_label_propagation(spark, edges):
    """Alternating large-star/small-star CC produces EXACTLY the same
    (node -> component-min) labeling as min-label propagation on random
    graphs — chains, hubs, self-loops, parallel edges and all."""
    from etl_cascalog_spark.operators.dedup import connected_components
    from etl_cascalog_spark.session import release_all_blocks

    df = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    want = {(r.node, r.label) for r in _labelprop_cc(df).collect()}
    got = {(r.node, r.label) for r in connected_components(df).collect()}
    release_all_blocks(spark)
    # EXACT agreement, self-loop-only nodes included: star takes its node
    # universe from the raw pairs before dropping self-loops, so the two
    # algorithms label the identical node set
    assert got == want


def _build_jobs(spark, monkeypatch, build, rows, schema):
    """(Spark jobs, eager localCheckpoint calls) submitted while running
    ``build`` over a frame of ``rows``, AQE off so that each eager
    checkpoint is exactly one job."""
    from etl_cascalog_spark.plans.lint import count_build_jobs
    from etl_cascalog_spark.session import release_all_blocks

    df = spark.createDataFrame(rows, schema)
    checkpoints = []
    cls = type(df)
    orig = cls.localCheckpoint

    def counted(self, *args, **kwargs):
        checkpoints.append(1)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counted)
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, n_jobs = count_build_jobs(spark, lambda: build(df), "recurrence")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)
        release_all_blocks(spark)
    return n_jobs, len(checkpoints)


def _cc_build_jobs(spark, monkeypatch, edges):
    from etl_cascalog_spark.operators.dedup import connected_components

    return _build_jobs(
        spark, monkeypatch, connected_components, edges, "doc_a: long, doc_b: long"
    )


def test_star_cc_star_forest_converges_in_one_round(spark, monkeypatch):
    """A star forest centered on the component minima is the fixpoint:
    both rewire counts are 0 on round 1, so the build is the setup
    checkpoint plus ONE round checkpoint."""
    star_forest = [(1, 2), (1, 3), (4, 1), (10, 11), (10, 12), (20, 21)]
    assert _cc_build_jobs(spark, monkeypatch, star_forest) == (2, 2)


def test_star_cc_build_jobs_are_setup_and_round_checkpoints(spark, monkeypatch):
    """The build submits the setup checkpoint and one checkpoint per
    round, nothing else: convergence is read off the round job, with no
    probe job at the fixpoint. An empty edge set runs no round."""
    n_jobs, n_checkpoints = _cc_build_jobs(
        spark, monkeypatch, [(i, i + 1) for i in range(40)]
    )
    assert n_jobs == n_checkpoints > 2
    assert _cc_build_jobs(spark, monkeypatch, [(3, 3), (5, 5)]) == (1, 1)
    assert _cc_build_jobs(spark, monkeypatch, []) == (1, 1)


def test_pagerank_build_jobs_are_setup_and_round_checkpoints(spark, monkeypatch):
    """PageRank runs no probe job: the build submits the edge and
    initial-rank checkpoints, one checkpoint per round and the broadcast
    of the node count, nothing else. The fixpoint test rides on the round
    job (the 2-cycle stops after round 1), and an empty edge set runs no
    round."""
    from etl_cascalog_spark.operators.graph import pagerank_int

    for edges, rounds in (
        ([(i, i + 1) for i in range(10)], 3),
        ([(0, 1), (1, 0)], 1),
        ([], 0),
    ):
        stats: dict = {}
        n_jobs, n_checkpoints = _build_jobs(
            spark,
            monkeypatch,
            lambda df, stats=stats: pagerank_int(df, iters=3, stats=stats),
            edges,
            "src: long, dst: long",
        )
        assert stats["rounds_run"] == rounds
        assert n_checkpoints == 2 + rounds
        assert n_jobs == n_checkpoints + 1


@given(
    st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=40),
    st.integers(min_value=0, max_value=60),
)
@settings(deadline=None, max_examples=200)
def test_tpch_q17_cross_multiplied_predicate_is_exact(qtys, probe):
    """The TPC-H Q17 rewrite `5*qty*cnt < sum` must agree with the exact
    rational predicate `qty < 0.2 * avg(qty)` on EVERY input — including
    the boundary cases where a float avg would round the wrong way. Pure
    arithmetic property (no Spark): Fraction is the ground truth."""
    from fractions import Fraction

    cnt, s = len(qtys), sum(qtys)
    exact = Fraction(probe) < Fraction(1, 5) * Fraction(s, cnt)
    rewritten = 5 * probe * cnt < s
    assert rewritten == exact


@given(
    st.lists(st.integers(min_value=1, max_value=10**6), min_size=1, max_size=40),
    st.integers(min_value=0, max_value=10**6),
)
@settings(deadline=None, max_examples=200)
def test_tpch_q22_cross_multiplied_predicate_is_exact(bals, probe):
    """Q22's `bal * n > sum` ≡ `bal > avg(bal)` over exact rationals."""
    from fractions import Fraction

    n, s = len(bals), sum(bals)
    exact = Fraction(probe) > Fraction(s, n)
    rewritten = probe * n > s
    assert rewritten == exact


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # group
            st.integers(min_value=0, max_value=50),  # value (ties likely)
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=4),
)
@settings(deadline=None, max_examples=25, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_top_k_scaled_equals_single_window(spark, rows, k):
    """The salted two-phase top-k must equal the single-window form on
    every input, including heavy ties (the row id is the total
    tie-break both forms share)."""
    from pyspark.sql import Window

    from etl_cascalog_spark.operators.aggregates import top_k_per_group_scaled

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g int, v int, id int")
    order = [F.col("v").desc(), F.col("id")]
    got = {
        (r.g, r.v, r.id, r.rn)
        for r in top_k_per_group_scaled(df, ["g"], order, k, "id", salt_buckets=4).collect()
    }
    w = Window.partitionBy("g").orderBy(*order)
    want = {
        (r.g, r.v, r.id, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).collect()
    }
    assert got == want


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "aa", "xy"]),
            min_size=0,
            max_size=14,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    parts=st.integers(1, 5),
)
@_settings
def test_duplicate_token_spans_partition_invariant(spark, texts, parts):
    """duplicate_token_spans is a pure function of the corpus CONTENT:
    repartitioning the input must not move any span (the gram counting,
    hash join, and interval merge are all key-driven, never
    partition-order-driven)."""
    from etl_cascalog_spark.operators.text import duplicate_token_spans

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    base = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_token_spans(df, n=2).collect()
    }
    shuffled = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_token_spans(df.repartition(parts, "doc_id"), n=2).collect()
    }
    assert base == shuffled


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "fish", "cat", "dog", "run"]),
            min_size=3,
            max_size=10,
        ).map(" ".join),
        min_size=2,
        max_size=7,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_minhash_lsh_pairs_contract(spark, texts):
    """LSH output contract on random micro-corpora: every returned pair is
    an EXACT Jaccard >= threshold pair with the exactly-computed value
    (verification is exact, so no false positives ever), and identical
    documents are ALWAYS returned (identical signatures -> all bands
    collide — recall 1.0 at j=1 by construction)."""
    from etl_cascalog_spark.operators.dedup import minhash_lsh_pairs
    from etl_cascalog_spark.session import release_all_blocks

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(df, "doc_id", "text", n=3, threshold=0.7).collect()
    }
    release_all_blocks(spark)

    def shingles(t):
        w = t.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sh = {i: shingles(t) for i, t in enumerate(texts)}
    exact = {}
    for a in sh:
        for b in sh:
            if a < b and sh[a] and sh[b]:
                j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                if j >= 0.7:
                    exact[(a, b)] = round(j, 4)
    # no false positives, and values are the exact Jaccard
    for pair, j in got.items():
        assert pair in exact, (pair, j)
        assert abs(j - exact[pair]) < 1e-9
    # identical docs always recalled
    for (a, b), j in exact.items():
        if j == 1.0:
            assert (a, b) in got


def _kmeans_distributed(points, dim: int, k: int, iters: int):
    """The broadcast-join + groupBy-argmin Lloyd recurrence: the
    independent twin of ``semantic.kmeans_fit``, whose centroids are
    driver-resident plan constants. Per round it broadcast-joins the
    centroid FRAME (K rows), takes the min-by-struct argmin over a
    groupBy(id) (ties go to the lower cid) and checkpoints the round's
    assignment; the next round's centroids are the per-cluster ``sum div
    count`` means, with empty clusters vanishing. Returns (id, units,
    cluster, dist). Blocks are left to ``release_all_blocks``."""
    from pyspark.sql import Window

    from etl_cascalog_spark.operators.semantic import _sq_dist
    from etl_cascalog_spark.session import checkpoint_round

    def assign(pts, cents):
        best = (
            pts.join(F.broadcast(cents))
            .groupBy("id")
            .agg(
                F.first("units").alias("units"),
                F.min(
                    F.struct(
                        _sq_dist(F.col("units"), F.col("cunits")).alias("dist"),
                        F.col("cid").alias("cid"),
                    )
                ).alias("best"),
            )
        )
        return best.select(
            "id",
            "units",
            F.col("best.cid").alias("cluster"),
            F.col("best.dist").alias("dist"),
        )

    points, _ = checkpoint_round(points)
    centroids = (
        points.orderBy("id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("id")) - 1).alias("cid"),
            F.col("units").alias("cunits"),
        )
    )
    assigned, ids = checkpoint_round(assign(points, centroids))
    for _ in range(iters - 1):
        centroids = (
            assigned.groupBy(F.col("cluster").alias("cid"))
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.col("units")[i]).alias(f"s{i}") for i in range(dim)],
            )
            .select(
                "cid",
                F.array(
                    *[F.expr(f"s{i} div n").cast("long") for i in range(dim)]
                ).alias("cunits"),
            )
        )
        assigned, ids = checkpoint_round(assign(points, centroids), retire=ids)
    return assigned


@given(
    pts=st.lists(
        st.lists(
            st.integers(-3_000_000, 3_000_000), min_size=4, max_size=4
        ),
        min_size=1,
        max_size=24,
    ),
    k=st.integers(1, 5),
    iters=st.integers(1, 4),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kmeans_fused_equals_distributed(spark, pts, k, iters):
    """kmeans_fit (round-12 driver-resident centroid recurrence, fused
    assign+update rounds) is BIT-identical to _kmeans_distributed (the
    broadcast-join + groupBy-argmin + per-round-checkpoint twin) — same
    seeds, same truncating `div` centroid means (negative sums included),
    same lower-cid tie-break. Duplicate points exercise argmin ties."""
    from etl_cascalog_spark.operators.semantic import kmeans_fit
    from etl_cascalog_spark.session import release_all_blocks

    # duplicate every first point so ties are guaranteed present
    pts = pts + pts[:1]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(pts)], "id long, units array<bigint>"
    )
    fast = {
        (r.id, r.cluster, r.dist)
        for r in kmeans_fit(df, dim=4, k=k, iters=iters).collect()
    }
    release_all_blocks(spark)
    slow = {
        (r.id, r.cluster, r.dist)
        for r in _kmeans_distributed(df, dim=4, k=k, iters=iters).collect()
    }
    release_all_blocks(spark)
    assert fast == slow


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=8).map(" ".join),
        min_size=1,
        max_size=4,
    ),
    spans=st.lists(
        # (doc, span_start, span length - 1): spans may overlap, nest,
        # repeat, or run past the end of the doc
        st.tuples(st.integers(0, 3), st.integers(1, 9), st.integers(0, 4)),
        max_size=6,
    ),
)
@example(texts=["a b c d e f"], spans=[(0, 1, 2), (0, 2, 2)])
@_settings
def test_remove_duplicate_spans_overlapping_equals_anti_join(spark, texts, spans):
    """Overlapping spans cut each covered token once: the output equals
    the anti-join semantics (a token is kept iff its position lies in no
    span), with n_tokens counting each token once."""
    from etl_cascalog_spark.operators.text import remove_duplicate_spans

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    span_df = spark.createDataFrame(
        [(d, s, s + e) for d, s, e in spans],
        "doc_id long, span_start int, span_end int",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in remove_duplicate_spans(docs, span_df).collect()
    }
    want = {}
    for d, text in enumerate(texts):
        toks = [(p, t) for p, t in enumerate(text.lower().split(" "), 1) if t]
        if not toks:
            continue
        cut = {p for sd, s, e in spans if sd == d for p in range(s, s + e + 1)}
        kept = [t for p, t in toks if p not in cut]
        want[d] = (" ".join(kept), len(toks), len(toks) - len(kept))
    assert got == want
