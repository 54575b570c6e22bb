"""Operator unit tests on micro-datasets — the engine's replacement for the
reference's REPL ``(comment …)`` smoke blocks (SURVEY.md §5.1), e.g.
``model/d_bolome_order_show_debut.clj:101-109`` and ``trgx.clj:251-263``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_regex_guard_cjk(spark):
    """F6 regex-guard with CJK patterns (m_cocacola_score_overall.clj:68-70):
    bottlers matching the drop-patterns become NULL → dropped by ?var."""
    from etl_cascalog_spark.operators.filters import regex_guard, require_non_null

    df = spark.createDataFrame(
        [("China Total / 全国总体",), ("SBL Total / 全体",), ("辽宁区域",), ("湖南中可",)],
        ["bottler"],
    )
    out = df.select(regex_guard(F.col("bottler"), "全国总体|全体", "区域$").alias("b"))
    vals = [r.b for r in out.collect()]
    assert vals.count(None) == 3
    kept = require_non_null(out, "b").collect()
    assert [r.b for r in kept] == ["湖南中可"]


def test_or_tuple_full_outer_merge_micro(spark):
    """J3 micro-case shaped like ods/d_bolome_show.clj:42-50."""
    from etl_cascalog_spark.operators.joins import full_outer_coalesce

    stg = spark.createDataFrame([(1, "new-name"), (3, "only-stg")], ["id", "name"])
    ods = spark.createDataFrame([(1, "old-name"), (2, "only-ods")], ["id", "name"])
    out = {r.id: r.name for r in full_outer_coalesce(stg, ods, ["id"]).collect()}
    assert out == {1: "new-name", 2: "only-ods", 3: "only-stg"}


def test_convert_null_and_str_max(spark):
    """F9 + A3 (trgx.clj:20, 63-69)."""
    from etl_cascalog_spark.operators.aggregates import str_max, str_min

    df = spark.createDataFrame(
        [("a", "2020-01-01"), ("a", "null"), ("a", "2021-05-05"), ("b", "NULL")],
        ["k", "dt"],
    )
    out = {
        r.k: (r.mx, r.mn)
        for r in df.groupBy("k")
        .agg(str_max(F.col("dt")).alias("mx"), str_min(F.col("dt")).alias("mn"))
        .collect()
    }
    assert out["a"] == ("2021-05-05", "2020-01-01")
    assert out["b"] == (None, None)


def test_calendar_lag_null_on_missing_month(spark):
    """W1 semantics: calendar-keyed lag yields NULL for a missing month,
    never the previous row's value (SURVEY §2.6, gappy-input case)."""
    from etl_cascalog_spark.operators.periods import with_period_comparisons

    df = spark.createDataFrame(
        [("x", "2024-01-31", 10.0), ("x", "2024-03-31", 30.0)], ["dim", "dt", "v"]
    ).select("dim", F.col("dt").cast("date").alias("dt"), "v")
    out = {
        r.dw_dt.isoformat(): (r.value, r.pp_value)
        for r in with_period_comparisons(
            spark, df, ["dim"], "dt", "v", "2024-01-01", "2024-03-31"
        ).collect()
    }
    # March's prev-month probe hits Feb (absent) → NULL, not January's 10.0
    assert out["2024-03-31"] == (30.0, None)
    assert out["2024-01-31"] == (10.0, None)


def test_pad_array(spark):
    """X7 pad (trgx.clj:249-263)."""
    from etl_cascalog_spark.functions.maps import pad_array

    df = spark.createDataFrame([([1, 2],)], ["a"])
    out = df.select(pad_array(F.col("a"), 5, F.lit(0)).alias("p")).collect()[0].p
    assert out == [1, 2, 0, 0, 0]


def test_blas_topk_matches_fold(spark):
    """The vectorized BLAS scorer returns the same neighbors/ranks as the
    bit-portable fold baseline, with scores equal to ~1e-12 (summation
    order is the only difference)."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.similarity import cosine_topk, cosine_topk_blas
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in cosine_topk(queries, emb, k=5).collect()
    }
    blas = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in cosine_topk_blas(queries, emb, k=5).collect()
    }
    assert set(exact) == set(blas)
    for key, (nid, cos) in exact.items():
        bnid, bcos = blas[key]
        assert bnid == nid, key
        assert abs(bcos - cos) <= 1e-4  # rounded to 4dp; raw delta ~1e-15


def test_blas_topk_rejects_oversized_query_side(spark, monkeypatch):
    """The bounded-query contract is enforced: a query frame over the byte
    budget raises BEFORE the driver-side collect of the query rows,
    pointing at the corpus-vs-corpus operators for the unbounded case."""
    import pytest

    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators import similarity
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    # the budget is read at call time: shrink it to well under the fixture
    monkeypatch.setattr(similarity, "QUERY_BROADCAST_BUDGET_BYTES", 10_000)
    with pytest.raises(ValueError, match="driver-collect bytes.*embedding_neardup"):
        similarity.cosine_topk_blas(emb, emb, k=5)


def test_blas_topk_empty_query_set(spark):
    """An empty query set scores nothing: the BLAS scorer returns the
    empty top-k with the same columns as the fold scorer (it used to
    crash normalizing a 0-row query matrix)."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.similarity import cosine_topk, cosine_topk_blas
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    none = emb.where(F.lit(False))
    blas = cosine_topk_blas(none, emb, k=3)
    fold = cosine_topk(none, emb, k=3)
    assert blas.columns == fold.columns
    assert blas.count() == 0 and fold.count() == 0


def test_take_train_dts_and_shift_cut(spark):
    """take-train-dts window generation (mlvar/d_bolome_user_order_stat.clj
    :52-70) + shift-cut-trgx aggregation (:97-135): shifted y/x windows,
    bool-string metric coercion, per-product splits."""
    from etl_cascalog_spark.operators.sessions import (
        shift_cut_features,
        take_train_dts,
    )

    wins = take_train_dts(
        n=2, back_step=7,
        dm_range=("2024-02-01", "2024-02-10"),
        dw_range=("2023-11-01", "2024-03-01"),
        intervals=[10, 30],
    )
    # his_max = 2024-01-31 (dm_start − 1); dm span 9 days; x gap 10 days
    assert len(wins["train"]) == 2 and len(wins["test"]) == 1
    t0 = wins["train"][0]
    assert t0["y"] == ("2024-01-22", "2024-01-31")
    assert t0["xs"][10] == ("2024-01-11", "2024-01-21")
    assert t0["xs"][30] == ("2023-12-22", "2024-01-21")
    assert wins["train"][1]["y"][1] == "2024-01-24"  # back_step 7
    assert wins["test"][0]["y"] == ("2024-02-01", "2024-02-10")

    items = spark.createDataFrame(
        [
            # (user, dt, product, order, revenue, debut_flag)
            ("u1", "2024-01-15", 1125, "o1", 10.0, "true"),
            ("u1", "2024-01-15", 1125, "o1", 5.0, "false"),
            ("u1", "2024-01-20", 9, "o2", 7.0, "false"),
            ("u1", "2024-01-30", 9, "o3", 99.0, "true"),  # in y of t0, not x
            ("u2", "2023-12-25", 1125, "o4", 3.0, "true"),
        ],
        "user string, dt string, product int, ord string, revenue double,"
        " debut string",
    )
    out = {
        (r.user, r.kind, r.window_idx, r.x_interval): r
        for r in shift_cut_features(
            items, wins, "user", "dt", "product", "ord",
            ["revenue", "debut"], product_ids=(1125,),
        ).collect()
    }
    r = out[("u1", "train", 0, 10)]
    # two orders in x10; debut strings coerce true→1 false→0 (Σ=1);
    # per-product split keeps only the 1125 rows; y window hit by o3
    assert r.order_cnt == 2 and float(r.revenue) == 22.0
    assert float(r.debut) == 1.0 and float(r.debut_p1125) == 1.0
    assert float(r.revenue_p1125) == 15.0 and r.y_flag == 1
    # u2's December row only reaches the 30-day lookback
    assert ("u2", "train", 0, 10) not in out
    assert float(out[("u2", "train", 0, 30)].revenue) == 3.0


def test_kv_trgx_skeleton_attach(spark):
    """kv->trgx (trgx.clj:51-55): node-id extraction, latest-trgx-merge
    BRANCH flattening (trgx.clj:203-210), and the per-group COMPLETE
    attach — unmatched skeleton nodes survive with NULL metrics, exactly
    like the reference tree keeps data-less config nodes."""
    from etl_cascalog_spark.plans.trgx import (
        attach_kv,
        merge_branches,
        node_id,
        skeleton_df,
        skeleton_paths,
    )

    assert node_id("[C101]产品铺货") == "C101"
    assert node_id("GROUP-A") == "GROUP-A"
    assert node_id("[]root") == "root"

    skel = {
        "[R]root": {
            "DATA": {"c_total_score": 100.0},
            "BRANCH": {
                "b1": {"[A]alpha": {"DATA": {"c_weight": 0.6}}},
                "b2": {"[B]beta": {"DATA": {"c_weight": 0.4}}},
            },
        }
    }
    merged = merge_branches(skel, "[R]root")
    assert "BRANCH" not in merged["[R]root"]
    assert set(merged["[R]root"]["CHILDREN"]) == {"[A]alpha", "[B]beta"}
    assert skel["[R]root"].get("BRANCH")  # non-mutating
    paths = dict((tuple(p), d) for p, d in skeleton_paths(merged))
    assert paths[("[R]root", "[A]alpha")] == {"c_weight": 0.6}

    sf = skeleton_df(spark, merged)
    data = spark.createDataFrame(
        [("g1", "A", 10.0), ("g2", "B", 20.0)], ["grp", "code", "value"]
    )
    out = {
        (r.grp, tuple(r.path)): r.value
        for r in attach_kv(data, sf, "code", group_cols=["grp"]).collect()
    }
    # complete skeleton per group: 3 nodes × 2 groups
    assert len(out) == 6
    assert out[("g1", ("[R]root", "[A]alpha"))] == 10.0
    assert out[("g1", ("[R]root", "[B]beta"))] is None  # unmatched → NULL
    assert out[("g2", ("[R]root", "[B]beta"))] == 20.0


def test_nest_json_null_key_drops_only_its_entry(spark):
    """A NULL level key drops its own entry, as DuckDB's ``string_agg``
    (the oracles' form) does — not the whole group's tree; a group with no
    non-NULL key folds to NULL, like ``'{' || string_agg(...) || '}'``."""
    import duckdb

    from etl_cascalog_spark.plans.trgx import metrics_json, nest_json

    rows = [("g", "a", 1.0), ("g", None, 2.0), ("g", "b", 3.0), ("h", None, 4.0)]
    df = spark.createDataFrame(rows, "g string, k string, v double")
    leaf = metrics_json({"v": F.col("v").cast("decimal(18,2)")})
    got = {r.g: r.tree_json for r in nest_json(df, ["g"], ["k"], leaf).collect()}
    con = duckdb.connect()
    want = dict(
        con.execute(
            """
            SELECT g, '{' || string_agg('"' || k || '":{"v":' || CAST(CAST(v AS DECIMAL(18,2)) AS VARCHAR) || '}',
                                        ',' ORDER BY k) || '}'
            FROM (VALUES ('g', 'a', 1.0), ('g', NULL, 2.0), ('g', 'b', 3.0), ('h', NULL, 4.0)) t(g, k, v)
            GROUP BY g
            """
        ).fetchall()
    )
    assert got == want
    assert got == {"g": '{"a":{"v":1.00},"b":{"v":3.00}}', "h": None}


def test_report_json_escapes_strings(spark):
    """Every data string the report JSON embeds — json_object values,
    nest_json / nest_trgx_json keys, metric_leaf string metrics, conf_json
    string values — is escaped per RFC 8259: a value holding ``"``, ``\\``
    and a newline round-trips through ``json.loads``. Plain and CJK values
    keep their unescaped bytes."""
    import json

    from etl_cascalog_spark.plans.report import json_object, metric_leaf
    from etl_cascalog_spark.plans.trgx import (
        conf_json,
        nest_json,
        nest_trgx_json,
        skeleton_df,
    )

    nasty = 'q"x\\y\nz'
    df = spark.createDataFrame(
        [("g", nasty, nasty, 1.0)], "g string, k string, s string, v double"
    )
    sel = df.select(json_object({"lvl": F.col("s"), "cjk": F.lit("全体")}).alias("j"))
    assert json.loads(sel.first().j) == {"lvl": nasty, "cjk": "全体"}
    assert df.select(json_object({"cjk": F.lit("全体 / 渠道")}).alias("j")).first().j == (
        '{"cjk":"全体 / 渠道"}'
    )

    leaf = metric_leaf({"label": "s", "v": "v"}, string_metrics=("label",))
    tree = nest_json(df, ["g"], ["k"], leaf).first().tree_json
    assert json.loads(tree) == {nasty: {"label": nasty, "v": 1.0}}

    paths = df.select("g", F.array(F.col("k")).alias("path"), F.lit("{}").alias("data_json"))
    trgx = nest_trgx_json(paths, ["g"], 1).first().tree_json
    assert json.loads(trgx) == {nasty: {"DATA": {}, "CHILDREN": {}}}

    sdf = skeleton_df(spark, {"[A]a": {"DATA": {"w": 0.5, "abbr": nasty}}})
    body = sdf.select(conf_json(F.col("conf"), F.col("conf_str")).alias("c")).first().c
    assert json.loads("{" + body + "}") == {"w": 0.5, "abbr": nasty}


def test_prefix_filter_keeps_exact_threshold_pair(spark):
    """A pair whose Jaccard equals the threshold exactly survives the
    prefix and length filters. At t=0.56 the double product 25 · 0.56 is
    14.000000000000002, so a double ``ceil`` would shorten doc A's prefix
    and fail the length test against doc B's 14 shingles."""
    from etl_cascalog_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    words = [f"w{i}" for i in range(27)]  # 25 distinct word 3-grams
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(words[:16]))],  # 14 grams, all in A
        "doc_id long, text string",
    )

    def pairs(op):
        return [tuple(r) for r in op(docs, "doc_id", "text", threshold=0.56).collect()]

    assert pairs(jaccard_pairs) == [(1, 2, 0.56)]
    assert pairs(prefix_filter_jaccard_pairs) == [(1, 2, 0.56)]


def test_simhash_finds_near_dups(spark):
    """SimHash recall guarantee: pairs within the banded Hamming bound are
    always found. Micro-dataset with controlled edits (1 word changed →
    Hamming ≈ 0-2) + unrelated docs as negatives."""
    from etl_cascalog_spark.operators.dedup import simhash_pairs

    # long NON-repeating docs: many distinct shingles → stable vote margins
    base = " ".join(f"word{i}" for i in range(200))
    edited = base.replace("word100", "changed", 1)
    other = " ".join(f"other{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, base), (2, edited), (3, other), (4, other + " extra tail words here")],
        ["doc_id", "text"],
    )
    sim = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(docs, "doc_id", "text").collect()
    }
    assert (1, 2) in sim  # near-identical pair found
    assert (1, 3) not in sim and (2, 3) not in sim  # unrelated not paired


def test_multimodal_fake_decode_plumbing(spark):
    """Multimodal: mapInPandas plumbing with the deterministic fake codec —
    schema, batch iteration, and byte-derived features survive a
    repartition (stability under partitioning)."""
    from etl_cascalog_spark.operators.multimodal import (
        fake_decode_features,
        text_as_payload,
    )
    from etl_cascalog_spark.io import read_table

    docs = (
        read_table(spark, "/root/testdata/sf0.001", "documents")
        .limit(20)
        .select("doc_id", text_as_payload(F.col("text")).alias("payload"))
    )
    a = {r.doc_id: (r.width, r.height, r.mean_luma) for r in fake_decode_features(docs, "doc_id", "payload").collect()}
    b = {
        r.doc_id: (r.width, r.height, r.mean_luma)
        for r in fake_decode_features(docs.repartition(7), "doc_id", "payload").collect()
    }
    assert a == b and len(a) == 20
    assert all(1 <= w <= 640 and 1 <= h <= 480 and 0 <= l <= 1 for (w, h, l) in a.values())


def test_decode_image_ppm_round_trip(spark):
    """encode_ppm → decode_image round-trips exactly: dimensions, maxval,
    and the Rec.601 solid-color luma, stable under repartitioning."""
    from etl_cascalog_spark.operators.multimodal import decode_image, encode_ppm

    rows = [(i, (i * 37) % 256, (i * 59) % 256, (i * 83) % 256, 1 + i % 5, 1 + i % 3)
            for i in range(1, 25)]
    df = spark.createDataFrame(rows, "doc_id long, r int, g int, b int, w int, h int")
    imgs = encode_ppm(df, "doc_id", "r", "g", "b", "w", "h")
    got = {
        r.doc_id: (r.width, r.height, r.max_val, r.mean_luma)
        for r in decode_image(imgs.repartition(7), "doc_id", "payload").collect()
    }
    assert len(got) == 24
    for i, r, g, b, w, h in rows:
        gw, gh, gm, luma = got[i]
        assert (gw, gh, gm) == (w, h, 255)
        assert abs(luma - (0.299 * r + 0.587 * g + 0.114 * b) / 255.0) < 1e-12


def test_decode_image_parses_comments_and_rejects_non_ppm(spark):
    """Header comments/whitespace are handled per the PPM spec; non-PPM
    payloads fail loudly at the codec seam (no silent fake)."""
    from etl_cascalog_spark.operators.multimodal import _parse_ppm, decode_image

    w, h, mv, raster = _parse_ppm(
        b"P6 # trailing comment\n# full-line comment\n 2\t1 \n255\n"
        + bytes((10, 20, 30, 40, 50, 60))
    )
    assert (w, h, mv) == (2, 1, 255)
    assert raster.tolist() == [[[10, 20, 30], [40, 50, 60]]]

    docs = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG not a ppm"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception) as exc:
        decode_image(docs, "doc_id", "payload").collect()
    assert "unsupported image codec" in str(exc.value)


def test_lsh_cosine_matches_brute_force_in_bucket(spark):
    """LSH top-k returns a subset consistent with brute force when the true
    neighbors share the query's bucket (high-sim vectors do)."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.similarity import (
        cosine_topk,
        hyperplanes,
        lsh_cosine_topk,
    )

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") % 100 == 0)
    brute = cosine_topk(q, emb, k=1).collect()
    planes = hyperplanes(64, 8, 7)
    lsh = {
        (r.query_id, r.rank): r.neighbor_id
        for r in lsh_cosine_topk(q, emb, planes, k=1).collect()
    }
    # for each query where LSH found a rank-1 neighbor with cos ≥ 0.9 in
    # brute force, they agree (near-identical vectors share sign buckets)
    for r in brute:
        if r.cos_sim >= 0.9 and (r.query_id, 1) in lsh:
            assert lsh[(r.query_id, 1)] == r.neighbor_id


def test_assign_dense_ids_scaled_matches_window(spark):
    """A8 scale path: range-partitioned rank + offset rebase is bit-identical
    to the no-partition-window row_number for a total ordering, for any
    partition count (including more partitions than rows)."""
    from pyspark.sql import Window

    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.surrogate import assign_dense_ids_scaled

    df = read_table(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_nationkey"
    )
    # the reference: one no-partition window over the whole frame
    window = df.withColumn(
        "dw_id", F.row_number().over(Window.orderBy("c_custkey")) + F.lit(99)
    )
    want = {r.c_custkey: r.dw_id for r in window.collect()}
    for nparts in (None, 3, 10_000):
        got = {
            r.c_custkey: r.dw_id
            for r in assign_dense_ids_scaled(
                df, ["c_custkey"], start_at=100, num_partitions=nparts
            ).collect()
        }
        assert got == want


def test_assign_sparse_ids_unique(spark):
    """A8 scale path: zero-shuffle ids are unique and ≥ start."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.surrogate import assign_sparse_ids

    df = read_table(spark, "/root/testdata/sf0.001", "customer").repartition(8)
    ids = [r.dw_id for r in assign_sparse_ids(df, start_at=500).collect()]
    assert len(ids) == len(set(ids))
    assert min(ids) >= 500


def test_winnowing_guarantee(spark):
    """Winnowing (k=3, w=4): two docs sharing a >= k+w-1 = 6-token run must
    share at least one fingerprint; disjoint docs share none."""
    from etl_cascalog_spark.io import from_rows
    from etl_cascalog_spark.operators.text import winnow_fingerprint_rows

    shared = "alpha beta gamma delta epsilon zeta"
    docs = from_rows(
        spark,
        [
            (1, f"intro words here {shared} trailing stuff one"),
            (2, f"{shared} completely different ending tokens two"),
            (3, "nothing in common with the others at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    rows = winnow_fingerprint_rows(docs, "doc_id", "text").collect()
    fps = {}
    for r in rows:
        fps.setdefault(r.doc, set()).add(r.fp)
    assert fps[1] & fps[2], "docs sharing a 6-token run must share a fingerprint"
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])


def test_frame_sample_plan_offsets(spark):
    from etl_cascalog_spark.io import from_rows
    from etl_cascalog_spark.operators.multimodal import frame_sample_plan, with_payload_meta

    df = from_rows(spark, [(1, bytearray(b"x" * 100))], "id long, payload binary")
    with_meta = with_payload_meta(df, "payload", mime="video/mp4")
    plan = frame_sample_plan(with_meta, "payload_meta", every_n_bytes=30)
    offsets = sorted(r.frame_offset for r in plan.collect())
    assert offsets == [0, 30, 60, 90]


def test_salted_join_equals_plain_join(spark):
    """The skew-salted join must be result-identical to the plain join."""
    from etl_cascalog_spark.io import from_rows
    from etl_cascalog_spark.operators.joins import salted_join

    big = from_rows(
        spark,
        [(i, "hot" if i % 10 else "cold") for i in range(1000)],
        "id long, k string",
    )
    dim = from_rows(spark, [("hot", 1), ("cold", 2)], "k string, v long")
    got = sorted(
        (r.id, r.k, r.v) for r in salted_join(big, dim, on="k", salt=8).collect()
    )
    want = sorted((r.id, r.k, r.v) for r in big.join(dim, on="k").collect())
    assert got == want and len(got) == 1000


def test_score_overall_report_golden_cjk(spark):
    """Golden test of the flagship report shape (m_cocacola_score_overall
    .clj:60-74) on a FIXTURES.md §1-shaped CJK micro-fixture: channel
    equality (F1), code IS NULL (F3), bottler regex exclusion (F5/F6,
    CJK), empty payload dims, calendar pp-delta (W1), deterministic JSON."""
    from etl_cascalog_spark.io import from_rows
    from etl_cascalog_spark.operators.filters import regex_drop
    from etl_cascalog_spark.plans.reports_registry import ReferenceReport, build_sliding

    rows = [
        ("2017-01-31", "SBL", "SBL 辽宁", "Total / 所有渠道", None, 50.0),
        ("2017-02-28", "SBL", "SBL 辽宁", "Total / 所有渠道", None, 60.0),
        # excluded: total-rollup bottler (regex), non-Total channel, coded row
        ("2017-02-28", "SBL", "China Total / 全国总体", "Total / 所有渠道", None, 70.0),
        ("2017-02-28", "SBL", "SBL 辽宁", "HMKT / 大卖场", None, 80.0),
        ("2017-02-28", "SBL", "SBL 辽宁", "Total / 所有渠道", "G22", 90.0),
    ]
    df = from_rows(
        spark,
        rows,
        "dw_dt string, bg string, bottler string, channel string, code string, value double",
    )
    src = (
        df.where(F.col("channel") == "Total / 所有渠道")
        .where(F.col("code").isNull())
        .where(regex_drop(F.col("bottler"), "全国总体|Tier"))
    )
    monthly = src.select(F.col("dw_dt").cast("date").alias("dw_dt"), "bg", "bottler", "value")
    spec = ReferenceReport(
        lambda d: d, ["bg", "bottler"], [],
        "score", "m_cocacola_score_overall.clj:60-74",
        metrics=["value", "pp_delta"],
    )
    out = build_sliding(
        spark, spec, "m_score_overall", monthly, ("2017-01-01", "2017-02-28")
    ).collect()
    by_dt = {str(r.dw_dt): r for r in out}
    assert set(by_dt) == {"2017-01-31", "2017-02-28"}
    jan, feb = by_dt["2017-01-31"], by_dt["2017-02-28"]
    assert feb.selector == '{"bg":"SBL","bottler":"SBL 辽宁"}'
    assert feb.report == "m_score_overall" and feb.selector_desc == "SBL-SBL 辽宁"
    assert jan.dimension_metrics == '{"value":50.00,"pp_delta":null}'
    assert feb.dimension_metrics == '{"value":60.00,"pp_delta":10.00}'


def test_each_juxt_combinators(spark):
    from etl_cascalog_spark.functions.dates import prev_last_day, prev_same_month
    from etl_cascalog_spark.io import from_rows
    from etl_cascalog_spark.operators.projections import apply_each, apply_juxt

    df = from_rows(spark, [("2017-03-31", "2017-04-30")], "a string, b string")
    upper_both = df.select(
        *[c.alias(f"u{i}") for i, c in enumerate(apply_each(F.upper, F.col("a"), F.col("b")))]
    ).collect()[0]
    assert (upper_both.u0, upper_both.u1) == ("2017-03-31", "2017-04-30")

    lags = df.select(
        *[
            c.cast("string").alias(f"l{i}")
            for i, c in enumerate(
                apply_juxt(F.col("a").cast("date"), prev_last_day, prev_same_month)
            )
        ]
    ).collect()[0]
    assert (lags.l0, lags.l1) == ("2017-02-28", "2016-03-31")


def test_reference_report_registry(spark):
    """Registry shapes over a FIXTURES.md §1/§2 CJK micro-fixture: each
    distinct Appendix-A report shape builds and produces the reference's
    sink rows with the 7 score-metric JSON keys."""
    from etl_cascalog_spark.io import from_rows
    from etl_cascalog_spark.plans.reports_registry import REPORTS, build_reference_report

    score_rows = []
    for dt, val in [("2017-01-31", 40.0), ("2017-02-28", 44.0)]:
        for channel in ["Total / 所有渠道", "HMKT / 大卖场"]:
            for item, code in [("全体-x", None), ("产品铺货率-x", None), ("全体-x", "G22")]:
                score_rows.append((dt, "SBL", "SBL bottlerA", channel, code, item, val))
        score_rows.append((dt, "SBL", "SBL 辽宁", "Total / 所有渠道", None, "全体-x", 99.0))
    score = from_rows(
        spark,
        score_rows,
        "dw_dt string, bg string, bottler string, channel string, code string, item string, value double",
    )
    sku_rows = [
        ("2017-01-31", "SBL", "Total", "GT / 传统食杂", "6 SKU", 10.0),
        ("2017-02-28", "SBL", "Total", "GT / 传统食杂", "6 SKU", 12.0),
        ("2017-02-28", "SBL", "Total", "GT / 传统食杂", "20 SKU", 77.0),
        ("2017-02-28", "SBL", "BottlerB", "GT / 传统食杂", "6 SKU", 88.0),
    ]
    sku = from_rows(
        spark,
        sku_rows,
        "dw_dt string, bg string, bottler string, channel string, sku_type string, value double",
    )
    spine = ("2017-01-01", "2017-02-28")

    overall = build_reference_report(spark, "score_overall", score, spine).collect()
    assert {str(r.dw_dt) for r in overall} == {"2017-01-31", "2017-02-28"}
    feb = next(r for r in overall if str(r.dw_dt) == "2017-02-28")
    assert '"score":44.00' in feb.dimension_metrics
    assert '"vs_pp_score":4.00' in feb.dimension_metrics
    assert '"last_year_same_month_score":null' in feb.dimension_metrics
    assert feb.selector == '{"bg":"SBL","bottler":"SBL bottlerA"}'  # 辽宁 excluded

    channel = build_reference_report(spark, "score_channel", score, spine).collect()
    febc = next(r for r in channel if str(r.dw_dt) == "2017-02-28")
    assert febc.dimension_metrics.startswith('{"HMKT / 大卖场":{"score":44.00')

    kpi = build_reference_report(spark, "score_kpi", score, spine).collect()
    febk = next(r for r in kpi if str(r.dw_dt) == "2017-02-28")
    assert febk.dimension_metrics.startswith('{"产品铺货":{"score":44.00')

    sku6 = build_reference_report(spark, "sku6_bg", sku, spine).collect()
    febs = next(r for r in sku6 if str(r.dw_dt) == "2017-02-28")
    assert febs.selector == '{"channel":"GT / 传统食杂"}'
    assert febs.dimension_metrics == (
        '{"SBL":{"score":12.00,"pp_score":10.00,"vs_pp_score":2.00,'
        '"last_dec_score":null,"vs_last_dec_score":null,'
        '"last_year_same_month_score":null,"vs_last_year_same_month_score":null}}'
    )
    sovi_rows = [
        ("2017-01-31", "SBL", "BottlerA", "GT", "CityX", "KO", "juice", "Total", 55.0),
        ("2017-02-28", "SBL", "BottlerA", "GT", "CityX", "KO", "juice", "Total", 60.0),
        ("2017-02-28", "SBL", "BottlerA", "GT", "CityX", "PEPSI", "juice", "Total", 25.0),
        ("2017-02-28", "SBL", "BottlerA", "GT", "Tier1", "KO", "juice", "Total", 99.0),
        ("2017-02-28", "SBL", "BottlerA", "GT", "CityX", "TOTAL", "juice", "Total", 100.0),
    ]
    sovi = from_rows(
        spark,
        sovi_rows,
        "dw_dt string, bg string, bottler string, channel string, market string,"
        " brand string, juice_type string, sovi_type string, value double",
    )
    sb = build_reference_report(spark, "sovi_brand", sovi, spine).collect()
    febv = next(r for r in sb if str(r.dw_dt) == "2017-02-28")
    # reference order (sovi_brand.clj:45-46 then :72,:75): Others computed
    # per-market over the FULL brand map first — KO 60 + PEPSI 25 + TOTAL
    # 100 → Others = 100-185 = -85 — and only then are the Tier1 market
    # and the TOTAL brand dropped
    assert '"KO":' in febv.dimension_metrics and '"Others":' in febv.dimension_metrics
    assert '"score":-85.00' in febv.dimension_metrics.split('"Others"')[1]
    assert "Tier1" not in febv.dimension_metrics and '"TOTAL"' not in febv.dimension_metrics

    assert len(REPORTS) >= 38  # full Appendix-A coverage: test_reports_registry


def test_achievement_rate_static_report(spark):
    """Static FR report shape (no sliding): snapshot dw_dt, 2-level payload
    of raw metrics, bg-all variant unioned (O3)."""
    from etl_cascalog_spark.io import from_rows
    from etl_cascalog_spark.plans.reports_registry import build_reference_report

    rows = [
        ("2017-01-31", "SBL", "SBL", "GT", "kpiA", 80.0, 0.5, 40.0),
        ("2017-02-28", "SBL", "SBL", "GT", "kpiA", 90.0, 0.5, 45.0),
        ("2017-02-28", "SBL", "BottlerX", "GT", "kpiA", 70.0, 0.5, 35.0),
    ]
    df = from_rows(
        spark,
        rows,
        "period string, bg string, bottler string, channel string, kpi string,"
        " c_total_score double, c_weight double, value double",
    )
    out = build_reference_report(spark, "score_achievement_rate", df).unionByName(
        build_reference_report(spark, "score_achievement_rate_bg_all", df)
    ).collect()
    assert all(str(r.dw_dt) == "9999-12-31" for r in out)
    plain = [r for r in out if r.selector == '{"bg":"SBL","channel":"GT","kpi":"kpiA"}']
    assert len(plain) == 1
    tree = plain[0].dimension_metrics
    assert tree.startswith('{"BottlerX":{"2017-02-28":{"c_total_score":70.00')
    assert '"SBL":{"2017-01-31":{"c_total_score":80.00' in tree
    bg_all = [r for r in out if '"bg":"0.2_BGs"' in r.selector]
    assert len(bg_all) == 1 and '"BottlerX"' not in bg_all[0].dimension_metrics


def test_asof_join_tolerance_strict_and_no_match(spark):
    """asof_join edge paths: strict inequality, tolerance window, and a
    left row with no prior right row (stays NULL, left-outer)."""
    from datetime import datetime

    from etl_cascalog_spark.operators.joins import asof_join

    T = datetime
    left = spark.createDataFrame(
        [(1, T(2024, 1, 1, 10, 0, 0)),   # exact tie with right row
         (1, T(2024, 1, 1, 12, 0, 0)),   # 2h after latest right
         (2, T(2024, 1, 1, 9, 0, 0))],   # no right rows at all
        "k long, lts timestamp",
    )
    right = spark.createDataFrame(
        [(1, T(2024, 1, 1, 8, 0, 0), 10.0, 100),
         (1, T(2024, 1, 1, 10, 0, 0), 20.0, 200)],
        "k long, rts timestamp, v double, rid long",
    )

    def run(**kw):
        rows = asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            value_cols=["v", "rid"], tiebreak="rid", **kw,
        ).collect()
        return {(r.k, r.lts.hour): (r.v, r.rid) for r in rows}

    inclusive = run()
    assert inclusive[(1, 10)] == (20.0, 200)   # ties match when allow_exact
    assert inclusive[(1, 12)] == (20.0, 200)
    assert inclusive[(2, 9)] == (None, None)   # left-outer on empty key

    strict = run(allow_exact=False)
    assert strict[(1, 10)] == (10.0, 100)      # tie excluded → earlier row

    tol = run(tolerance_seconds=3600)          # 1h window
    assert tol[(1, 10)] == (20.0, 200)         # 0s old: in window
    assert tol[(1, 12)] == (None, None)        # 2h old: nulled out


def test_asof_join_struct_atomicity(spark):
    """Matched value columns must come from the SAME right row even when one
    of them is NULL on the latest match (the independent-last() trap)."""
    from datetime import datetime

    from etl_cascalog_spark.operators.joins import asof_join

    T = datetime
    left = spark.createDataFrame([(1, T(2024, 1, 2))], "k long, lts timestamp")
    right = spark.createDataFrame(
        [(1, T(2024, 1, 1, 1), 1.0, 100),
         (1, T(2024, 1, 1, 2), None, 200)],  # latest row has NULL v
        "k long, rts timestamp, v double, rid long",
    )
    row = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["v", "rid"], tiebreak="rid",
    ).collect()[0]
    assert (row.v, row.rid) == (None, 200)  # NOT (1.0, 200)


def test_range_join_bucketed_equals_broadcast(spark):
    """The bucket-exploded scale path returns exactly the pairs of the
    naive broadcast theta-join, including intervals spanning many cells
    and ties on the boundary."""
    from datetime import datetime

    from etl_cascalog_spark.operators.joins import range_join

    T = datetime
    probe = spark.createDataFrame(
        [(i, T(2024, 1, 1, h, m)) for i, (h, m) in enumerate(
            [(0, 0), (0, 30), (1, 0), (3, 59), (4, 0), (23, 59)]
        )],
        "pid long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [(0, T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 30)),    # boundary ties
         (1, T(2024, 1, 1, 0, 45), T(2024, 1, 1, 4, 0)),    # spans 5 cells
         (2, T(2024, 1, 1, 22, 0), T(2024, 1, 1, 23, 0))],  # empty
        "iid long, s timestamp, e timestamp",
    )

    def pairs(**kw):
        df = range_join(probe, "ts", intervals, "s", "e", **kw)
        return sorted((r.pid, r.iid) for r in df.select("pid", "iid").collect())

    bucketed = pairs(bucket_seconds=3600)
    naive = pairs(broadcast_intervals=True)
    assert bucketed == naive
    assert bucketed == [(0, 0), (1, 0), (2, 1), (3, 1), (4, 1)]


def test_range_join_extra_on_key(spark):
    """extra_on equi keys compose with the range predicate (per-user
    interval join)."""
    from datetime import datetime

    from etl_cascalog_spark.operators.joins import range_join

    T = datetime
    probe = spark.createDataFrame(
        [(1, "u1", T(2024, 1, 1, 0, 10)), (2, "u2", T(2024, 1, 1, 0, 10))],
        "pid long, user string, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [("u1", T(2024, 1, 1, 0, 0), T(2024, 1, 1, 1, 0))],
        "user string, s timestamp, e timestamp",
    )
    got = range_join(
        probe, "ts", intervals, "s", "e", extra_on=["user"], bucket_seconds=600
    ).select("pid").collect()
    assert [r.pid for r in got] == [1]  # u2's row matches time but not key


def test_hash_split_stable_and_proportional(spark):
    """hash_split: deterministic across reruns/ordering, ~weight-
    proportional, and re-saltable."""
    from etl_cascalog_spark.operators.sessions import hash_split

    ids = spark.range(0, 5000).withColumnRenamed("id", "k")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.k: r.split for r in hash_split(ids, "k", w, salt="s1").collect()}
    b = {r.k: r.split for r in
         hash_split(ids.orderBy(F.col("k").desc()), "k", w, salt="s1").collect()}
    assert a == b  # ordering-independent

    from collections import Counter
    frac = {s: n / 5000 for s, n in Counter(a.values()).items()}
    assert abs(frac["train"] - 0.8) < 0.03
    assert abs(frac["val"] - 0.1) < 0.02
    assert abs(frac["test"] - 0.1) < 0.02

    c = {r.k: r.split for r in hash_split(ids, "k", w, salt="s2").collect()}
    assert a != c  # salt versions the split


def test_train_ivf_centroids_feeds_cell_assignment(spark):
    """Trained k-means centroids plug into the same literal-broadcast cell
    assignment as the seeded baseline: every vector gets exactly one valid
    cell, the partition is non-degenerate, and same seed → same centroids."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.similarity import ivf_cell, train_ivf_centroids
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    c1 = train_ivf_centroids(emb, n_cells=4, max_iter=5)
    c2 = train_ivf_centroids(emb, n_cells=4, max_iter=5)
    assert c1 == c2  # seeded determinism
    assert len(c1) == 4 and len(c1[0]) == 64

    cells = emb.select(ivf_cell(F.col("embedding"), c1).alias("cell"))
    counts = {r.cell: r["count"] for r in cells.groupBy("cell").count().collect()}
    assert sum(counts.values()) == n          # total preserved
    assert set(counts) <= {0, 1, 2, 3}        # valid cell ids
    assert len(counts) > 1                    # non-degenerate partition


def test_funnel_ordering_semantics(spark):
    """Funnel counts only strictly-ordered progressions: a click BEFORE the
    first view never converts step 2, and equal timestamps don't count
    (strict >)."""
    from datetime import datetime

    from etl_cascalog_spark.operators.sessions import funnel_conversion

    T = datetime
    rows = [
        # u1: full ordered funnel
        (1, T(2024, 1, 1, 9), "view"), (1, T(2024, 1, 1, 10), "click"),
        (1, T(2024, 1, 1, 11), "purchase"),
        # u2: click precedes the only view -> stops at step 1
        (2, T(2024, 1, 1, 9), "click"), (2, T(2024, 1, 1, 10), "view"),
        # u3: click at the SAME instant as view -> strict > excludes it
        (3, T(2024, 1, 1, 9), "view"), (3, T(2024, 1, 1, 9), "click"),
        # u4: view+click ordered, purchase before click -> stops at step 2
        (4, T(2024, 1, 1, 8), "purchase"), (4, T(2024, 1, 1, 9), "view"),
        (4, T(2024, 1, 1, 10), "click"),
        # u5: never viewed -> not even step 1
        (5, T(2024, 1, 1, 9), "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r.step_name: (r.users, r.conv_rate)
        for r in funnel_conversion(
            ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
    }
    assert got["view"] == (4, 1.0)       # u1-u4
    assert got["click"] == (2, 0.5)      # u1, u4
    assert got["purchase"] == (1, 0.5)   # u1 only


def test_connected_components_chains_and_islands(spark):
    """Chains merge transitively into one component (the case pairwise
    drop-the-larger over-deletes); disjoint islands stay separate; a long
    path needs multiple propagation rounds."""
    from etl_cascalog_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),   # 6-node path
         (10, 11),                                  # island pair
         (20, 22), (21, 22)],                       # star
        "doc_a long, doc_b long",
    )
    got = {
        r.node: r.label
        for r in connected_components(pairs, max_iter=10).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token is covered; consecutive chunks overlap by exactly
    `overlap`; the final chunk may be short; reconstruction via stride
    concat round-trips the text."""
    from etl_cascalog_spark.operators.text import chunk_documents

    words = [f"w{i}" for i in range(50)]
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    rows = sorted(
        chunk_documents(docs, chunk_tokens=32, overlap=8).collect(),
        key=lambda r: r.chunk_id,
    )
    assert [r.chunk_len for r in rows] == [32, 26]
    c0, c1 = rows[0].chunk_text.split(" "), rows[1].chunk_text.split(" ")
    assert c0 == words[0:32]
    assert c1 == words[24:50]
    assert c0[24:32] == c1[0:8]  # exact overlap
    assert c0 + c1[8:] == words  # stride reconstruction


def test_validation_checks_fire_on_bad_data(spark):
    """Each check reports the exact violation count on a corrupt fixture
    (the sf tables are clean, so the catalog query only proves the
    all-green path)."""
    from etl_cascalog_spark.operators.validate import (
        expect_fk,
        expect_in_range,
        expect_no_nulls,
        expect_unique,
        validation_report,
    )

    fact = spark.createDataFrame(
        [(1, 10, 5.0), (1, 10, 6.0), (2, 99, -1.0), (3, None, 2.0)],
        "k long, fk long, v double",
    )
    dim = spark.createDataFrame([(10,), (11,)], "d long")
    rep = {
        r.check: (r.checked, r.violations, r.passed)
        for r in validation_report(
            [
                expect_unique(fact, ["k"]),
                expect_no_nulls(fact, ["fk"]),
                expect_fk(fact, "fk", dim, "d"),
                expect_in_range(fact, "v", lo=0.0, hi=10.0),
            ]
        ).collect()
    }
    assert rep["unique(k)"] == (4, 1, False)      # duplicate k=1
    assert rep["not_null(fk)"] == (4, 1, False)   # one NULL fk
    assert rep["fk(fk)"] == (4, 2, False)         # fk=99 and fk=NULL orphaned
    assert rep["range(v)"] == (4, 1, False)       # v=-1.0


def test_incremental_dedup_semantics(spark):
    """Crafted delta-vs-history fixture: exact hit in history, near-dup of
    history, within-batch duplicate, and a genuinely new doc."""
    from etl_cascalog_spark.operators.dedup import incremental_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"          # jaccard vs base well above 0.7
    hist = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),                       # exact digest in history -> drop
            (15, near),                       # near-dup of history -> drop
            (20, "unique words entirely fresh content here nothing shared"),
            (25, "unique words entirely fresh content here nothing shared"),
            # ^ batch-internal duplicate: 20 kept, 25 dropped
            (30, "another totally distinct document body with original tokens"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id
        for r in incremental_dedup(new, hist, "doc_id", "text").select("doc_id").collect()
    )
    assert kept == [20, 30]


def test_concurrent_query_execution(spark):
    """One SparkSession runs catalog queries from multiple threads — the
    scheduling model that replaces the reference's 38 serial Hadoop jobs
    (cascalog.sh). Results must equal the serial runs."""
    from concurrent.futures import ThreadPoolExecutor

    from etl_cascalog_spark.catalog import QUERIES
    from tests.conftest import SF_SMOKE

    names = ["pricing_summary", "star_join_revenue", "top_n_per_group", "set_ops"]

    def run(name):
        return name, QUERIES[name].build(spark, SF_SMOKE).count()

    with ThreadPoolExecutor(max_workers=4) as ex:
        concurrent = dict(ex.map(run, names))
    serial = {n: QUERIES[n].build(spark, SF_SMOKE).count() for n in names}
    assert concurrent == serial


def test_plan_audit_dedupes_cached_reprints():
    """audit_plan counts unique plan lines: the same Exchange reprinted
    inside an InMemoryRelation block is counted once; ReusedExchange and
    BroadcastExchange are never counted as shuffles."""
    from bench import audit_plan

    plan = """
    *(3) SortMergeJoin [a#1], [b#2], FullOuter
    :- Exchange hashpartitioning(a#1, 32), ENSURE_REQUIREMENTS, [plan_id=10]
    :  +- InMemoryTableScan [a#1]
    :     +- InMemoryRelation [a#1]
    :        +- Exchange hashpartitioning(a#1, 32), ENSURE_REQUIREMENTS, [plan_id=10]
    +- ReusedExchange [b#2], Exchange hashpartitioning(a#1, 32)
    +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=11]
    +- BroadcastHashJoin [c#3], [d#4], Inner, BuildRight
    +- FileScan parquet [a#1] PushedFilters: [IsNotNull(a)], ReadSchema: x
    """
    a = audit_plan(plan)
    assert a["smj"] == 1
    assert a["bhj"] == 1
    assert a["exch"] == 1      # duplicate line counted once; Reused/Broadcast excluded
    assert a["push"] == "yes"


def test_ivf_nprobe_recall_monotonic(spark):
    """Recall vs the exact brute-force top-k improves (weakly) with nprobe,
    and nprobe = n_cells recovers brute force exactly — the quantitative
    contract of the IVF recall dial, for the seeded centroids and for
    k-means-trained ones (the index is data: both feed the same scorer)."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.similarity import (
        cosine_topk,
        ivf_centroids,
        ivf_cosine_topk,
        train_ivf_centroids,
    )
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = pairs(cosine_topk(q, emb, k=5))

    for cents in (
        ivf_centroids(64, 8, 11),
        train_ivf_centroids(emb, n_cells=8, seed=11),
    ):
        def recall(nprobe):
            got = pairs(ivf_cosine_topk(q, emb, cents, k=5, nprobe=nprobe))
            return len(got & exact) / len(exact)

        r1, r2 = recall(1), recall(2)
        assert 0.0 < r1 <= r2 <= 1.0   # the dial is (weakly) monotone
        # all cells probed == exhaustive search
        assert pairs(ivf_cosine_topk(q, emb, cents, k=5, nprobe=8)) == exact


def test_ivf_nprobe_must_be_positive(spark):
    """nprobe < 1 probes no cell: refused at plan time instead of
    silently scoring nothing."""
    import pytest

    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.similarity import ivf_centroids, ivf_cosine_topk
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cents = ivf_centroids(64, 8, 11)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="nprobe must be >= 1"):
            ivf_cosine_topk(emb, emb, cents, k=1, nprobe=bad)
    # note: absolute recall at small nprobe is LOW here by design — the
    # synthetic embeddings are uniform (no cluster structure), the
    # hardest case for IVF; real corpora cluster and recall jumps


def test_decontaminate_flags_overlap_only(spark):
    """Planted contamination: one corpus doc shares exactly one 5-gram with
    the benchmark; a clean doc is not reported."""
    from etl_cascalog_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame([(0, "a b c d e f")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(10, "x a b c d e y"), (11, "p q r s t u")],
        "doc_id long, text string",
    )
    rows = decontaminate(corpus, bench, "doc_id", "text", n=5).collect()
    assert [(r.doc_id, r.n_overlap) for r in rows] == [(10, 1)]


def test_passage_dedup_global_first_occurrence(spark):
    """Duplicate passages drop everywhere except their globally first
    (doc_id, pos) occurrence; surviving text re-assembles in order."""
    from etl_cascalog_spark.operators.dedup import passage_dedup

    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6"),
            (2, "w1 w2 w3 z1 z2 z3"),   # first passage copies doc 1
            (3, "z1 z2 z3 z1 z2 z3"),   # both passages copy doc 2's tail
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_passages, r.n_kept, r.clean_text)
        for r in passage_dedup(docs, "doc_id", "text", passage_tokens=3).collect()
    }
    assert out[1] == (2, 2, "w1 w2 w3 w4 w5 w6")
    assert out[2] == (2, 1, "z1 z2 z3")
    assert out[3] == (2, 0, "")


def test_winsorized_stats_clips_outlier(spark):
    """1..10 + outlier 1000 at p10/p90: bounds are the rank-ceil(p*n)
    values (2 and 10) and the clipped sum replaces 1→2, 1000→10."""
    from etl_cascalog_spark.operators.aggregates import winsorized_stats

    rows = [("a", float(v), str(i)) for i, v in enumerate(list(range(1, 11)) + [1000])]
    df = spark.createDataFrame(rows, "grp string, v double, rid string")
    r = winsorized_stats(df, "grp", "v", "rid", p_lo=0.1, p_hi=0.9).collect()[0]
    assert (r.grp, r.n_rows, r.p_lo_val, r.p_hi_val, r.clipped_sum) == (
        "a", 11, 2.0, 10.0, 66.0
    )


def test_vocab_top_tokens_rank_and_coverage(spark):
    """Frequencies, ranks, and cumulative coverage on a 6-token corpus."""
    from etl_cascalog_spark.operators.text import vocab_top_tokens

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c")], "doc_id long, text string"
    )
    rows = sorted(
        vocab_top_tokens(docs, "text", k=2).collect(), key=lambda r: r.rank
    )
    assert [(r.token, r.freq, r.rank, r.cum_share) for r in rows] == [
        ("a", 3, 1, 0.5),
        ("b", 2, 2, round(5 / 6, 6)),
    ]


def test_key_skew_profile_detects_hot_key(spark):
    """A 10×-hot key dominates the profile: rank 1, correct share, and the
    skew factor equals max/mean key size."""
    from etl_cascalog_spark.operators.profiling import key_skew_profile

    rows = [("hot",)] * 10 + [("a",), ("b",), ("c",), ("d",), ("e",)]
    df = spark.createDataFrame(rows, "k string")
    out = sorted(key_skew_profile(df, "k", top_k=3).collect(), key=lambda r: r.rank)
    assert (out[0].k, out[0].cnt, out[0].share) == ("hot", 10, round(10 / 15, 6))
    # 6 keys, 15 rows → mean 2.5; max 10 → skew 4.0
    assert out[0].skew_factor == 4.0
    assert [r.rank for r in out] == [1, 2, 3]


def test_approx_distinct_profile_contract(spark):
    """HLL++ estimate lands within 5·rsd of the exact cardinality for a
    known 10k-distinct column, and null accounting is exact. This is the
    accuracy contract that replaces a DuckDB oracle (different engines ship
    different sketches — estimates legitimately differ)."""
    from etl_cascalog_spark.operators.profiling import approx_distinct_profile

    df = spark.range(10_000).select(
        F.col("id").alias("uniq"),
        (F.col("id") % 100).alias("mod100"),
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("half_null"),
    )
    prof = {r.column: r for r in approx_distinct_profile(df, ["uniq", "mod100", "half_null"], rsd=0.05).collect()}
    assert prof["uniq"].n_rows == 10_000 and prof["uniq"].n_non_null == 10_000
    assert abs(prof["uniq"].approx_distinct - 10_000) <= 0.25 * 10_000 * 0.05 * 20
    assert abs(prof["mod100"].approx_distinct - 100) <= 25
    assert prof["half_null"].n_non_null == 5_000
    assert abs(prof["half_null"].approx_distinct - 5_000) <= 1250


def test_percentile_approx_sketch_contract(spark):
    """percentile_approx (the distributed quantile sketch) lands within
    accuracy-bound distance of the exact discrete percentile — the
    profiling-pass counterpart used when exact rank selection (the
    winsorize/corpus-profile path) is too expensive."""
    df = spark.range(1, 10_001).select(F.col("id").cast("double").alias("v"))
    r = df.agg(
        F.percentile_approx("v", 0.5, 10_000).alias("approx"),
        F.expr("percentile(v, 0.5)").alias("exact"),
    ).collect()[0]
    # accuracy=10000 → error bound n/accuracy = 1 rank position
    assert abs(r.approx - r.exact) <= 2.0


def test_exact_group_percentiles_matches_naive_rank(spark):
    """Bucketed prefix-sum percentile selection equals the naive
    rank=ceil(p*n) rule on 1..100 (two groups, small bucket count so
    targets cross bucket boundaries) and on degenerate 1-2 row groups."""
    from etl_cascalog_spark.operators.aggregates import exact_group_percentiles

    rows = [("a", float(v)) for v in range(1, 101)]
    rows += [("b", float(v * 10)) for v in range(1, 11)]
    rows += [("c", 7.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    got = {
        (r.grp, r.percentile): r.value
        for r in exact_group_percentiles(df, "grp", "v", [0.5, 0.95], n_buckets=4).collect()
    }
    assert got[("a", 0.5)] == 50.0    # ceil(0.5*100)=50
    assert got[("a", 0.95)] == 95.0   # ceil(0.95*100)=95
    assert got[("b", 0.5)] == 50.0    # ceil(0.5*10)=5 → 5th of 10..100
    assert got[("b", 0.95)] == 100.0  # ceil(9.5)=10 → max
    assert got[("c", 0.5)] == 7.0 and got[("c", 0.95)] == 7.0


def test_winsorized_stats_hist_equals_two_pass(spark):
    """The one-shuffle histogram winsorization (round 12) equals the
    range-bucket two-pass form on a frame with decimal values, heavy
    ties, negatives, and a singleton group — same bounds (rank
    ceil(p·n)), same exact decimal clipped_sum."""
    from etl_cascalog_spark.operators.aggregates import (
        winsorized_stats,
        winsorized_stats_hist,
    )

    rows = [("a", f"{v}.25") for v in [-5, 1, 1, 1, 2, 3, 100, 100]]
    rows += [("b", "7.10")]
    rows += [("a", None)]
    df = spark.createDataFrame(rows, "grp string, raw string").select(
        "grp", F.col("raw").cast("decimal(12,2)").alias("v")
    )
    cols = ["n_rows", "p_lo_val", "p_hi_val", "clipped_sum"]
    want = {
        r.grp: tuple(r[c] for c in cols)
        for r in winsorized_stats(df, "grp", "v", p_lo=0.1, p_hi=0.9).collect()
    }
    got = {
        r.grp: tuple(r[c] for c in cols)
        for r in winsorized_stats_hist(
            df, "grp", "v", p_lo=0.1, p_hi=0.9
        ).collect()
    }
    assert got == want


def test_mad_outlier_hist_matches_naive(spark):
    """The one-shuffle histogram formulation (round 12) equals the naive
    median/MAD/outlier computation on a frame with ties, negatives, NULLs,
    and a singleton group — the discrete median is the value at rank
    ceil(0.5·n) in the value ordering, NULLs excluded."""
    import math

    from etl_cascalog_spark.operators.aggregates import mad_outlier_hist

    rows = [("a", v) for v in [5, 5, 5, -3, 0, 12, 12, 100]]
    rows += [("b", v) for v in [7, -7, 7, -7, 7]]
    rows += [("c", 42)]
    rows += [("a", None), ("b", None)]
    df = spark.createDataFrame(rows, "grp string, v long")

    def naive(vals, k=3):
        vals = sorted(v for v in vals if v is not None)
        n = len(vals)
        med = vals[math.ceil(0.5 * n) - 1]
        devs = sorted(abs(v - med) for v in vals)
        mad = devs[math.ceil(0.5 * n) - 1]
        return (n, med, mad, sum(1 for v in vals if abs(v - med) > k * mad))

    want = {
        g: naive([v for gg, v in rows if gg == g]) for g in ("a", "b", "c")
    }
    got = {
        r.grp: (r.n_rows, r.median_v, r.mad_v, r.n_outliers)
        for r in mad_outlier_hist(df, "grp", "v").collect()
    }
    assert got == want


def test_hist_fast_path_rejects_continuous_dtype(spark):
    """VERDICT r12 #9: the histogram fast path's domain-boundedness holds
    only for integral/decimal values — a double column must fail eagerly
    with the continuous-domain fallback named, not silently rebuild the
    low-cardinality window funnel."""
    import pytest

    from etl_cascalog_spark.operators.aggregates import (
        mad_outlier_hist,
        winsorized_stats_hist,
    )

    df = spark.createDataFrame([("a", 1.5), ("a", 2.5)], "grp string, v double")
    with pytest.raises(TypeError, match="exact_group_percentiles"):
        mad_outlier_hist(df, "grp", "v")
    with pytest.raises(TypeError, match="exact_group_percentiles"):
        winsorized_stats_hist(df, "grp", "v")
    # integral and decimal stay accepted (plan builds lazily, no job)
    mad_outlier_hist(
        spark.createDataFrame([("a", 1)], "grp string, v long"), "grp", "v"
    )
    winsorized_stats_hist(
        spark.createDataFrame([("a", 1)], "grp string, v long").select(
            "grp", F.col("v").cast("decimal(12,2)").alias("v")
        ),
        "grp",
        "v",
    )
    spark.catalog.clearCache()  # the builds' lazy .cache() entries


def test_hist_pick_ranks_excludes_null_values(spark):
    """ADVICE r12: _hist_pick_ranks must NULL-filter its value column
    itself (matching exact_group_percentiles) instead of relying on each
    call site's upstream guards — a NULL bucket would count toward n and
    sort first in the cumulative window."""
    from etl_cascalog_spark.operators.aggregates import _hist_pick_ranks

    hist = spark.createDataFrame(
        [("a", None, 10), ("a", 1, 1), ("a", 2, 1), ("a", 3, 1), ("a", 4, 1)],
        "grp string, v long, c long",
    )
    got = {
        (r.grp, r.percentile): r.v
        for r in _hist_pick_ranks(hist, "grp", "v", "c", [0.5, 1.0]).collect()
    }
    # n = 4 (NULL bucket's 10 rows excluded): median = rank ceil(2) = 2
    assert got == {("a", 0.5): 2, ("a", 1.0): 4}


def test_dvec_sql_rejects_non_finite(spark):
    """ADVICE r12: a non-finite plane/centroid element must fail with a
    clear ValueError, not an opaque ParseException from 'infD'."""
    import pytest

    from etl_cascalog_spark.operators.similarity import _dvec_sql

    assert _dvec_sql([1.0, -2.5]) == "array(1.0D, -2.5D)"
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="non-finite"):
            _dvec_sql([1.0, bad])


def test_snapshot_diff_classifies(spark):
    """added / removed / changed classification on a crafted pair."""
    from etl_cascalog_spark.incremental import snapshot_diff

    old = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20), (3, "z", 30)], "k long, a string, b long"
    )
    new = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 99), (4, "w", 40)], "k long, a string, b long"
    )
    out = {r.k: r.change for r in snapshot_diff(old, new, ["k"], ["a", "b"]).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}


def test_cdc_apply_latest_wins(spark):
    """Latest change per key wins; D deletes; I inserts; untouched rows
    pass through."""
    from etl_cascalog_spark.incremental import cdc_apply

    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    )
    changes = spark.createDataFrame(
        [
            (2, 21, "U", 1), (2, 22, "U", 2),   # two updates: ts=2 wins
            (3, 30, "D", 1),                     # delete
            (4, 40, "I", 1),                     # insert
        ],
        "k long, v long, op string, ts long",
    )
    out = {r.k: r.v for r in cdc_apply(base, changes, ["k"], "ts").collect()}
    assert out == {1: 10, 2: 22, 4: 40}


def test_label_centroids_exact_means(spark):
    """Planted vectors: centroid is the exact per-dimension mean, in long
    format, independent of row order/partitioning."""
    from etl_cascalog_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0]), (0, [3.0, 4.0]),   # label 0 → (2.0, 3.0)
            (1, [10.0, 0.0]),                    # label 1 → (10.0, 0.0)
        ],
        "label int, embedding array<float>",
    ).repartition(4)
    got = {
        (r.label, r.dim): (r.n, r.centroid)
        for r in label_centroids(df, "label", "embedding").collect()
    }
    assert got == {
        (0, 0): (2, 2.0), (0, 1): (2, 3.0),
        (1, 0): (1, 10.0), (1, 1): (1, 0.0),
    }


def test_unigram_lm_surprisal_hand_computed(spark):
    """Corpus 'a a b' + 'a': counts a=3, b=1, total=4 → lp(a)=ln(3/4),
    lp(b)=ln(1/4) in nano-nats; doc 1 accumulates 2·lp(a)+lp(b) exactly."""
    import math

    from etl_cascalog_spark.operators.text import unigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in unigram_lm_scores(docs).collect()}
    lp_a = math.floor(math.log(3 / 4) * 1e9 + 0.5)
    lp_b = math.floor(math.log(1 / 4) * 1e9 + 0.5)
    assert got[1].n_tokens == 3
    assert got[1].surprisal_nano == -(2 * lp_a + lp_b)
    assert got[2].surprisal_nano == -lp_a
    assert got[2].avg_neg_logp == round(-lp_a / 1e9, 6)


def test_tfidf_ranking_integer_keys(spark):
    """tf desc then df asc then term: doc 1 = 'a a b', b is rarer (df 1)
    than a (df 2), so rank is a (tf 2) then b (tf 1, df 1)."""
    from etl_cascalog_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    rows = [
        (r.term, r.tf, r.df, r.rank)
        for r in tfidf_top_terms(docs, k=2).where("doc_id = 1").collect()
    ]
    assert sorted(rows, key=lambda t: t[3]) == [("a", 2, 2, 1), ("b", 1, 1, 2)]


def test_stratified_sample_rate_zero_and_one(spark):
    """Rate 1.0 keeps every row of the stratum, rate 0.0 (default) drops
    every other stratum; the sample is stable across calls."""
    from etl_cascalog_spark.operators.sessions import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(100)],
        "doc_id long, lang string",
    )
    kept = stratified_sample(df, "lang", "doc_id", {"en": 1.0}).collect()
    assert len(kept) == 50 and all(r.lang == "en" for r in kept)
    again = stratified_sample(df, "lang", "doc_id", {"en": 1.0}).collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in kept)


def test_quantize_int8_bounds_and_argmax(spark):
    """Max-|v| dim maps to ±127 exactly; zero vector survives (guarded
    scale); quantized dot of identical vectors is the integer self-dot."""
    from etl_cascalog_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.q for r in df.select(
        "vec_id", quantize_int8(F.col("embedding")).alias("q")
    ).collect()}
    assert got[1] == [64, -127, 32]  # 0.5/(1/127)=63.5 → floor(+0.5)=64
    assert got[2] == [0, 0, 0]


def test_quantized_dot_topk_exact_ranking(spark):
    """Three 2-d vectors: nearest to the axis query by integer dot is the
    colinear one; ranking has no float ties by construction."""
    from etl_cascalog_spark.operators.similarity import quantized_dot_topk

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = df.where("vec_id = 0")
    rows = {r.rank: (r.neighbor_id, r.qdot) for r in
            quantized_dot_topk(q, df, k=2).collect()}
    # v1 quantized [127, 14] → dot 127*127; v2 [0, 127] → dot 0
    assert rows[1] == (1, 127 * 127)
    assert rows[2] == (2, 0)


def test_blocked_entity_pairs_blocking_and_cap(spark):
    """Pairs only form within a block; max_block drops an oversized block."""
    from etl_cascalog_spark.operators.dedup import blocked_entity_pairs

    df = spark.createDataFrame(
        [(1, "b1", "abc"), (2, "b1", "abd"), (3, "b2", "abc"),
         (4, "b3", "x"), (5, "b3", "y"), (6, "b3", "z")],
        "id long, blk string, name string",
    )
    pairs = blocked_entity_pairs(
        df, "id", ["blk"], "name", max_dist=2, max_block=2
    ).collect()
    # b1 pair kept (dist 1); b2 singleton; b3 dropped by the cap
    assert [(r.id_a, r.id_b, r.dist) for r in pairs] == [(1, 2, 1)]


def test_linear_quality_probability_monotone(spark):
    """Prose-like text (stopwords, alpha) scores above symbol soup."""
    from etl_cascalog_spark.operators.text import linear_quality_probability

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and looked to the door"),
         (2, "!!! ??? ;;; ,,, ... ### $$$ %%%")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.p for r in df.select(
        "doc_id", linear_quality_probability(F.col("text")).alias("p")
    ).collect()}
    assert got[1] > 0.5 > got[2]


def test_simhash_xxhash64_fast_path(spark):
    """Production simhash path: one 64-bit hash per shingle, same schema,
    one sketch per doc, and strong (identical-text) duplicates are found
    by both hash functions."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.dedup import simhash_pairs, simhash_sketch

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    sk = simhash_sketch(docs, "doc_id", "text", hash_fn="xxhash64")
    rows = sk.collect()
    assert len(rows) == docs.count()
    assert all(len(r.bits) == 64 for r in rows[:5])
    # identical-text pairs have identical shingle sets → identical sketch
    # (Hamming 0) under ANY hash; distinct texts may collide at Hamming 0
    # under one hash only, so assert on known exact duplicates, not md5-vs-xx
    dup = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river"),
            (2, "the quick brown fox jumps over the lazy dog near the river"),
            (3, "an entirely different document about spark physical planning"),
            (4, "yet another unrelated text mentioning broadcast hash joins"),
        ],
        ["doc_id", "text"],
    )
    for hf in ("md5", "xxhash64"):
        found = {
            (r.doc_a, r.doc_b)
            for r in simhash_pairs(
                dup, "doc_id", "text", max_hamming=0, hash_fn=hf
            ).collect()
        }
        assert (1, 2) in found, hf


def test_bpe_encode_greedy_merges(spark):
    """BPE apply: lowest-rank adjacent pair merges first, repeatedly, per
    word; unknown pairs never merge. Hand-computed example:
    merges [(l,o),(lo,w),(e,r)] on 'lower low' →
    'lower' → l o w e r → lo w e r → low e r → low er
    'low'   → l o w → lo w → low
    """
    from etl_cascalog_spark.operators.text import bpe_encode

    docs = spark.createDataFrame([(1, "lower low"), (2, None)], "doc_id long, text string")
    merges = [("l", "o"), ("lo", "w"), ("e", "r")]
    out = {r.doc_id: (r.n_tokens, r.tokens) for r in bpe_encode(docs, merges).collect()}
    assert out[1] == (3, ["low", "er", "low"])
    assert out[2] == (0, [])


def test_bpe_encode_matches_token_counts(spark):
    """With an empty merge table, BPE degenerates to characters: n_tokens
    equals the total character count of the whitespace tokens — ties the
    mapInPandas path to the Column-side token accounting."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.text import bpe_encode, whitespace_tokens
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents").limit(50)
    got = {r.doc_id: r.n_tokens for r in bpe_encode(docs, []).collect()}
    want = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.aggregate(
                F.transform(whitespace_tokens(F.col("text")), lambda w: F.length(w)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("n"),
        ).collect()
    }
    assert got == want


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe candidates are a superset of single-probe candidates on
    the same planes, so per-query recall vs brute-force ground truth is
    weakly greater — the recall dial never costs recall."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.similarity import (
        cosine_topk,
        hyperplanes,
        lsh_cosine_topk,
    )
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    k = 5
    planes = hyperplanes(64, 8, 7)

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = topk_sets(cosine_topk(queries, emb, k=k))
    single = topk_sets(lsh_cosine_topk(queries, emb, planes, k=k))
    multi = topk_sets(lsh_cosine_topk(queries, emb, planes, k=k, multiprobe=True))
    total_s = total_m = 0
    for qid, truth in exact.items():
        total_s += len(truth & single.get(qid, set()))
        total_m += len(truth & multi.get(qid, set()))
    assert total_m >= total_s
    # and per query, every exact neighbor found single-probe stays found
    for qid, truth in exact.items():
        assert truth & single.get(qid, set()) <= multi.get(qid, set())


def test_flagship_plan_shapes(spark):
    """Plan-shape regression guard on the scale-critical queries: star
    joins must never SortMergeJoin (dims broadcast), selective scans must
    push filters into parquet, and the z-order bucketing must stay a
    single-Exchange aggregate. Uses the AQE-final executed plan, same
    counting as the bench.py audit pass."""
    from tests.conftest import final_audit

    star = final_audit(spark, "star_join_revenue")
    assert star["smj"] == 0 and star["bhj"] >= 3 and star["push"] == "yes"

    pricing = final_audit(spark, "pricing_summary")
    assert pricing["smj"] == 0 and pricing["push"] == "yes"
    assert pricing["exch"] <= 1  # one grouped agg, nothing else

    z = final_audit(spark, "zorder_layout_stats")
    # round 9: domain bounds became a LAZY broadcast 1-row aggregate
    # cross-joined onto the rows (zero plan-build jobs), so the intended
    # shape is one bounds-agg exchange + one broadcast nested loop for
    # the 1-row attach, plus the 16-group agg exchange — never an SMJ
    assert z["smj"] == 0 and z["bnlj"] == 1 and z["exch"] <= 2

    recall = final_audit(spark, "ann_recall_eval")
    assert recall["smj"] == 0  # bounded top-k sides broadcast explicitly


def test_pq_adc_equals_reconstruction_l2(spark):
    """ADC identity: the ADC distance for (query, candidate) is EXACTLY the
    L2 distance between the query and the candidate's codebook
    reconstruction — recomputed in Python from the literal codebook and
    the candidate's argmin codes."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.similarity import pq_adc_topk, pq_centroids
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    codebook = pq_centroids()
    got = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in pq_adc_topk(queries, emb, codebook, k=3).collect()
    }
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    d_sub = 8

    def reconstruct(v):
        out = []
        for j in range(8):
            sub = v[j * d_sub : (j + 1) * d_sub]
            dists = [
                sum((float(a) - c) ** 2 for a, c in zip(sub, cent))
                for cent in codebook[j]
            ]
            out.extend(codebook[j][dists.index(min(dists))])
        return out

    for (qid, nid), adc in got.items():
        qv, rec = vecs[qid], reconstruct(vecs[nid])
        want = sum((float(a) - b) ** 2 for a, b in zip(qv, rec))
        assert abs(adc - round(want, 4)) <= 2e-4, (qid, nid)


def test_quantize_pow2_twin_parity_and_strict(spark):
    """quantize_pow2: bit-exact parity with its documented DuckDB twin
    (including the degenerate span-0 domain where bin(0)/bit_length()
    disagree without the greatest(1, span) guard), and the strict
    out-of-domain raise instead of silent negative/aliased cells."""
    import duckdb
    import pytest

    from etl_cascalog_spark.operators.layout import quantize_pow2

    lo, hi, bits = 100, 3_700, 5
    vals = [100, 101, 1_000, 2_047, 2_048, 3_699, 3_700]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {
        r.x: r.q
        for r in df.select("x", quantize_pow2(F.col("x"), lo, hi, bits).alias("q"))
        .collect()
    }
    twin = duckdb.sql(
        f"SELECT x, (x - {lo}) >> greatest(0, length(bin(greatest(1, {hi - lo})))"
        f" - {bits}) AS q FROM (SELECT unnest({vals}) AS x)"
    ).fetchall()
    assert got == {x: q for x, q in twin}
    assert all(0 <= q < (1 << bits) for q in got.values())

    # span-0 domain: the single in-domain value maps to cell 0 on BOTH sides
    one = spark.createDataFrame([(7,)], "x long")
    assert one.select(quantize_pow2(F.col("x"), 7, 7, 4).alias("q")).first().q == 0
    assert duckdb.sql(
        "SELECT (7 - 7) >> greatest(0, length(bin(greatest(1, 0))) - 4)"
    ).fetchone()[0] == 0

    # strict (default): out-of-domain value raises instead of shifting to
    # a negative cell
    bad = spark.createDataFrame([(99,)], "x long")
    with pytest.raises(Exception, match="quantize_pow2"):
        bad.select(quantize_pow2(F.col("x"), lo, hi, bits).alias("q")).collect()
    # non-strict opt-out passes the raw shift through
    assert (
        bad.select(
            quantize_pow2(F.col("x"), lo, hi, bits, strict=False).alias("q")
        ).first().q
        == -1
    )


def test_quantize_pow2_col_parity_with_static_twin(spark):
    """quantize_pow2_col (lazy Column bounds) is cell-for-cell identical to
    quantize_pow2 (plan-time int bounds) across the domain — including the
    span-0 degenerate — and mirrors its strict raise / non-strict
    passthrough. Exercised the way the docstring prescribes: bounds as a
    broadcast 1-row min/max aggregate cross-joined onto the rows, so the
    whole check runs as ONE action with zero plan-build jobs."""
    import pytest

    from etl_cascalog_spark.operators.layout import quantize_pow2, quantize_pow2_col

    vals = [100, 101, 1_000, 2_047, 2_048, 3_699, 3_700]
    bits = 5
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    bounds = F.broadcast(df.agg(F.min("x").alias("lo"), F.max("x").alias("hi")))
    both = (
        df.crossJoin(bounds)
        .select(
            "x",
            quantize_pow2(F.col("x"), min(vals), max(vals), bits).alias("q_static"),
            quantize_pow2_col(
                F.col("x"), F.col("lo"), F.col("hi"), bits
            ).alias("q_lazy"),
        )
        .collect()
    )
    assert all(r.q_static == r.q_lazy for r in both)
    assert all(0 <= r.q_lazy < (1 << bits) for r in both)

    # span-0 domain: single value maps to cell 0 (greatest(1, span) guard)
    one = spark.createDataFrame([(7,)], "x long")
    assert (
        one.select(
            quantize_pow2_col(F.col("x"), F.lit(7), F.lit(7), 4).alias("q")
        ).first().q
        == 0
    )

    # strict (default): out-of-bounds raises instead of aliasing
    bad = spark.createDataFrame([(99,)], "x long")
    with pytest.raises(Exception, match="quantize_pow2_col"):
        bad.select(
            quantize_pow2_col(F.col("x"), F.lit(100), F.lit(3700), bits).alias("q")
        ).collect()
    # non-strict opt-out passes the raw (negative) shift through,
    # matching the static twin's non-strict behavior
    assert (
        bad.select(
            quantize_pow2_col(
                F.col("x"), F.lit(100), F.lit(3700), bits, strict=False
            ).alias("q")
        ).first().q
        == -1
    )


def _assert_lazy_refusal(spark, build, match):
    """``build()`` and EXPLAIN of its plan submit zero Spark jobs (the
    broadcast guard is LAZY — assert_true at action time, ADVICE r7), and
    the first action raises a refusal matching ``match``."""
    import pytest

    from etl_cascalog_spark.plans.lint import count_build_jobs

    over, n_build = count_build_jobs(spark, build, "guard_build")
    _, n_explain = count_build_jobs(spark, over.explain, "guard_explain")
    assert (n_build, n_explain) == (0, 0)
    with pytest.raises(Exception, match=match):
        over.count()


def test_hard_negatives_anchor_bound_enforced(spark, monkeypatch):
    """hard_negatives fails past its anchor byte budget: broadcasting an
    unbounded anchor set is an O(N^2) cross-join at scale, so the guard
    must fail loudly and name the bucketed variant — and an anchor set
    that fits must still work. Plan construction and EXPLAIN run zero
    jobs; the raise fires on the first action."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators import similarity
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    flt = F.col("vec_id") % 50 == 0
    n_anchors = emb.where(flt).count()
    got = similarity.hard_negatives(emb, anchor_filter=flt, k=1)
    # the budget is read when the plan is built: shrink it for the refusal
    monkeypatch.setattr(similarity, "QUERY_BROADCAST_BUDGET_BYTES", 1_000)
    _assert_lazy_refusal(
        spark, lambda: similarity.hard_negatives(emb), "hard_negatives_lsh"
    )
    assert got.count() == n_anchors


def test_ann_broadcast_scorers_query_bound_enforced(spark, monkeypatch):
    """VERDICT r9 #2: every ANN scorer that broadcasts its query side —
    the cross-join scorers AND the bucketed ones (where the hint is
    mandatory: a bare equi-join flips the build side onto the cached
    corpus and serializes the probe, the measured sf3 lesson in
    _lazy_query_guard) — enforces the byte budget with the shared LAZY
    guard: plan construction and EXPLAIN run zero jobs, the raise fires
    on the first action and names the right alternative, and a query set
    inside the budget still scores."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators import similarity as S
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0)
    planes = S.hyperplanes(64, 8, 7)
    cents = S.ivf_centroids(64, 8, 11)
    book = S.pq_centroids()
    # in-budget sets score: plans built under the default budget
    n_q = q.count()
    ok = S.cosine_topk(q, emb, k=1)
    ok_b = S.lsh_cosine_topk(q, emb, planes, k=1)
    ok_mp = S.lsh_cosine_topk(q, emb, planes, k=1, multiprobe=True)
    ok_np = S.ivf_cosine_topk(q, emb, cents, k=1, nprobe=2)
    # all 8 guarded scorers name the corpus-vs-corpus remedies (the
    # bucketed scorers carry the SAME bound, so pointing an over-budget
    # caller at them would be a dead end)
    monkeypatch.setattr(S, "QUERY_BROADCAST_BUDGET_BYTES", 1_000)
    for build in [
        lambda: S.cosine_topk(q, emb, k=1),
        lambda: S.quantized_dot_topk(q, emb, k=1),
        lambda: S.pq_adc_topk(q, emb, book, k=1),
        lambda: S.mmr_rerank(q, emb, k=1, n_candidates=2),
        lambda: S.lsh_cosine_topk(q, emb, planes, k=1),
        lambda: S.ivf_cosine_topk(q, emb, cents, k=1),
        lambda: S.lsh_cosine_topk(q, emb, planes, k=1, multiprobe=True),
        lambda: S.ivfpq_topk(q, emb, cents, book, k=1),
    ]:
        _assert_lazy_refusal(spark, build, "embedding_neardup")
    assert ok.count() == n_q
    assert ok_b.count() > 0
    assert ok_mp.count() > 0
    assert ok_np.count() > 0


def test_ann_query_guard_default_is_byte_aware(spark):
    """VERDICT r10 #1: the r10 guard counted ROWS, which silently permits
    multi-GB broadcasts at production embedding dims. The DEFAULT bound is
    now BYTES measured from the data: a modest row count of wide vectors
    must trip the 64 MB budget, in both the lazy broadcast guard and
    cosine_topk_blas's eager driver collect — while the same row count at
    the engine's dim-64 fixtures passes."""
    import pytest

    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_blas,
        hard_negatives,
    )
    from tests.conftest import SF_SMOKE

    # 200 rows x 50k doubles ~ 80 MB estimated > the 64 MB default budget
    wide = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(
            F.lit(1.0) + F.col("id").cast("double") / 1000.0, 50_000
        ).alias("embedding"),
    )
    over = cosine_topk(wide, wide, k=1)  # plan-time: lazy, no job, no raise
    over.explain()
    with pytest.raises(Exception, match="bytes.*embedding_neardup"):
        over.count()
    # eager twin: blas prices the driver collect BEFORE materializing it
    with pytest.raises(ValueError, match="driver-collect bytes"):
        cosine_topk_blas(wide, wide, k=1)
    # anchor-broadcast miner carries the same byte-aware default
    wide_lab = wide.withColumn("label", F.col("vec_id") % 2)
    with pytest.raises(Exception, match="bytes.*hard_negatives_lsh"):
        hard_negatives(wide_lab, k=1).count()
    # same row count at fixture width (dim 64) sails under the budget
    emb = read_table(spark, SF_SMOKE, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0)
    assert cosine_topk(q, emb, k=1).count() == q.count()


def test_lazy_query_guard_byte_math(spark):
    """The byte estimate is exact: rows x (48-byte row overhead + 8 bytes
    per fixed-width scalar field + 8 bytes per array element). A probe
    ``keys`` array is priced as the POST-explode broadcast, so ivf nprobe /
    lsh multi-probe pay for one row per probe, each carrying one 8-byte
    key. The private byte_budget argument stands in for the module
    budget."""
    import pytest

    from etl_cascalog_spark.operators.similarity import _lazy_query_guard

    df = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.lit(1.0), 4).alias("qv"),
    )
    # 10 rows x (48 + 8 [vec_id long] + 4*8) = 880 estimated bytes
    ok = _lazy_query_guard(df, "t", byte_budget=880)
    assert ok.count() == 10
    bad = _lazy_query_guard(df, "t", byte_budget=879)
    with pytest.raises(Exception, match="estimated at 880 bytes"):
        bad.count()
    # probe keys: ids 0..9 carry 1,2,3,1,2,3,1,2,3,1 keys = 19 exploded
    # rows x (48 + 8 [vec_id] + 4*8 + 8 [one key]) = 1824 bytes; pricing
    # the whole array on every probe row would read 2016
    keyed = df.withColumn(
        "keys", F.array_repeat("vec_id", (F.col("vec_id") % 3 + 1).cast("int"))
    )
    ok_k = _lazy_query_guard(keyed, "t", byte_budget=1824)
    assert ok_k.count() == 10
    bad_k = _lazy_query_guard(keyed, "t", byte_budget=1823)
    with pytest.raises(Exception, match="estimated at 1824 bytes"):
        bad_k.count()
    # string payloads are priced by octet_length — kilobyte ids cannot
    # hide behind the fixed row overhead (review r11 finding)
    dfs = df.withColumn("s", F.lit("x" * 20))  # 10 x (48+8+32+20) = 1080
    ok_s = _lazy_query_guard(dfs, "t", byte_budget=1080)
    assert ok_s.count() == 10
    bad_s = _lazy_query_guard(dfs, "t", byte_budget=1079)
    with pytest.raises(Exception, match="estimated at 1080 bytes"):
        bad_s.count()
    # VERDICT r11 #1: fixed-width scalar fields are priced per FIELD — a
    # wide projection of numeric feature columns cannot ride at 48 B/row.
    # 100 long columns + vec_id: 10 rows x (48 + 101*8 + 0 arrays) = 8560
    wide = spark.range(10).select(
        F.col("id").alias("vec_id"),
        *[(F.col("id") + i).alias(f"f{i}") for i in range(100)],
    )
    ok_w = _lazy_query_guard(wide, "t", byte_budget=8560)
    assert ok_w.count() == 10
    bad_w = _lazy_query_guard(wide, "t", byte_budget=8559)
    with pytest.raises(Exception, match="estimated at 8560 bytes"):
        bad_w.count()
    # review r12: map/struct payloads have no cheap exact estimate and
    # would otherwise ride at the 8 B scalar price — the estimate must
    # REFUSE (fail closed) at plan time, not under-price by ~100x
    dfm = df.withColumn("meta", F.create_map(F.lit("k"), F.col("qv")))
    with pytest.raises(ValueError, match="cannot price column 'meta'"):
        _lazy_query_guard(dfm, "t", byte_budget=10_000)
    # max_rows composes with the byte budget in one guard: narrow rows
    # cannot buy an unbounded row count under a green byte estimate
    wide_n = _lazy_query_guard(df, "t", byte_budget=10_000, max_rows=9)
    with pytest.raises(Exception, match=r"10 rows \(bound 9\)"):
        wide_n.count()


def test_hard_negatives_default_keeps_row_cap(spark):
    """Review r11: switching hard_negatives' default to the byte budget
    alone would have LOOSENED the old 10k-anchor default ~12x at dim 64 —
    the miner's hazard is the anchors x corpus quadratic, which is
    row-count-shaped. The guard must trip past DEFAULT_MAX_ANCHORS rows
    even when the bytes are tiny, and the refusal names the bucketed
    variant."""
    import pytest

    from etl_cascalog_spark.operators.similarity import (
        DEFAULT_MAX_ANCHORS,
        hard_negatives,
    )

    n = DEFAULT_MAX_ANCHORS + 1
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), (F.col("id") % 7).cast("double")).alias(
            "embedding"
        ),
        (F.col("id") % 2).alias("label"),
    )
    over = hard_negatives(emb, k=1)  # plan-time: lazy, no job, no raise
    with pytest.raises(Exception, match=r"rows \(bound 10000\).*hard_negatives_lsh"):
        over.count()


def test_bloom_build_bitmap_cap(spark):
    """VERDICT r9 #5: bloom_build's driver-side bitmap is caller-sized, so
    the 2^27-bit (16 MB) cap must refuse anything bigger — the bitmap is
    collected AND re-embedded as a plan literal by bloom_probe."""
    import pytest

    from etl_cascalog_spark.operators.sketches import bloom_build

    df = spark.range(10).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="16 MB"):
        bloom_build(df, "k", m_bits=1 << 28)
    # first multiple of 64 past the cap also refuses (boundary is >, not a
    # power-of-two check)
    with pytest.raises(ValueError, match="16 MB"):
        bloom_build(df, "k", m_bits=(1 << 27) + 64)
    # at the cap exactly: allowed (the documented driver budget — 2^21
    # words; the build is distributed, only the finished bitmap lands)
    bm = bloom_build(df, "k", m_bits=1 << 27)
    assert len(bm) == (1 << 27) // 64
    # and a normal small build round-trips its shape
    bm_small = bloom_build(df, "k", m_bits=1 << 10)
    assert len(bm_small) == (1 << 10) // 64


def test_hard_negatives_lsh_subset_of_bucket(spark):
    """The bucketed hard-negative miner returns different-label negatives
    from the anchor's bucket, and whenever the brute-force hardest
    negative shares the anchor's bucket, the bucketed miner finds the
    same rank-1 negative."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.similarity import (
        hard_negatives,
        hard_negatives_lsh,
        hyperplanes,
        lsh_bucket,
    )
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    flt = F.col("vec_id") % 50 == 0
    brute = {
        r.anchor_id: r.negative_id
        for r in hard_negatives(emb, anchor_filter=flt, k=1).collect()
    }
    planes = hyperplanes(64, 8, 7)
    lsh = {
        r.anchor_id: r.negative_id
        for r in hard_negatives_lsh(emb, planes, anchor_filter=flt, k=1).collect()
    }
    buckets = {
        r.vec_id: r.b
        for r in emb.select(
            "vec_id", lsh_bucket(F.col("embedding"), planes).alias("b")
        ).collect()
    }
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert lsh, "bucketed miner should find negatives"
    for aid, nid in lsh.items():
        assert labels[aid] != labels[nid]
        assert buckets[aid] == buckets[nid]
    for aid, nid in brute.items():
        if buckets.get(aid) == buckets.get(nid) and aid in lsh:
            assert lsh[aid] == nid, aid


def test_cli_list_oracle_and_explain(spark, capsys):
    """python -m etl_cascalog_spark: list covers the whole catalog, oracle
    prints the registered SQL, and explain emits the AQE-final formatted
    plan (reuses the session fixture via getOrCreate)."""
    from etl_cascalog_spark.__main__ import main
    from etl_cascalog_spark.catalog import QUERIES

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    for name in QUERIES:
        assert name in out

    assert main(["oracle", "pricing_summary"]) == 0
    assert "l_returnflag" in capsys.readouterr().out

    assert main(["explain", "top_k_limit", "--sf", "/root/testdata/sf0.001"]) == 0
    plan = capsys.readouterr().out
    assert "TakeOrderedAndProject" in plan
    assert main(["oracle", "nope"]) == 2


def test_kmeans_assignment_is_nearest_and_deterministic(spark):
    from etl_cascalog_spark.operators.semantic import (
        kmeans_fit,
        quantize_embeddings,
    )

    # two tight groups around (0,0) and (10,10): k=2 must separate them
    rows = [
        (0, [0.0, 0.1]), (1, [0.1, 0.0]), (2, [0.05, 0.05]),
        (3, [10.0, 10.1]), (4, [10.1, 10.0]), (5, [9.95, 10.05]),
    ]
    df = spark.createDataFrame(rows, "id: long, v: array<double>")
    pts = quantize_embeddings(df, "id", "v")
    fit = kmeans_fit(pts, dim=2, k=2, iters=3)
    got = {r["id"]: r["cluster"] for r in fit.collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]
    # deterministic across re-runs (integer arithmetic, fixed seed rule)
    fit2 = kmeans_fit(pts, dim=2, k=2, iters=3)
    assert sorted(fit.collect()) == sorted(fit2.collect())


def test_semantic_dedup_pairs_stay_within_cluster(spark):
    from etl_cascalog_spark.operators.semantic import semantic_dedup_pairs

    rows = [
        (0, [0.0, 0.0]), (1, [0.001, 0.0]),      # near-dup pair, group A
        (2, [10.0, 10.0]), (3, [10.0, 10.001]),  # near-dup pair, group B
        (4, [5.0, -5.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    pairs = semantic_dedup_pairs(
        df, "vec_id", "embedding", dim=2, k=2, iters=2,
        max_dist_units=10_000_000,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got and (2, 3) in got
    # cross-group pairs are never candidates (different clusters)
    assert all(not (a < 2 <= b) for a, b in got)
    # triangle block-partitioning invariance: every pair_blocks value
    # yields the SAME rows (ids normalized, each pair exactly once) —
    # B only raises the parallelism ceiling of the within-cluster join
    base = sorted(
        tuple(r) for r in semantic_dedup_pairs(
            df, "vec_id", "embedding", dim=2, k=2, iters=2,
            max_dist_units=10_000_000, pair_blocks=1,
        ).collect()
    )
    for B in (2, 3, 5):
        alt = sorted(
            tuple(r) for r in semantic_dedup_pairs(
                df, "vec_id", "embedding", dim=2, k=2, iters=2,
                max_dist_units=10_000_000, pair_blocks=B,
            ).collect()
        )
        assert alt == base, f"pair_blocks={B} changed the pair set"


def test_pagerank_integer_mass_and_sink_behavior(spark):
    from etl_cascalog_spark.operators.graph import pagerank_int

    # star: 1..4 all point at 0; 0 points back at 1 only
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)], "src: long, dst: long"
    )
    r = {row["node"]: row["rank_units"] for row in pagerank_int(edges, iters=3).collect()}
    assert len(r) == 5
    # hub 0 collects from four donors; leaf 2/3/4 get base share only
    assert r[0] > r[1] > r[2]
    assert r[2] == r[3] == r[4]
    base = 1_000_000_000_000 // 5
    assert r[2] == (15 * base) // 100


def test_fs_linkage_fine_block_cap_cut_semantics(spark):
    """VERDICT r8 #5: fs_linkage_scores_fine's max_block cap (mirrored in
    its oracle) never triggers on TPC-H-shaped data through sf3, so its
    CUT semantics need a synthetic trigger: one oversize block must be
    dropped ENTIRELY (never partially) before the quadratic fan-out,
    leaving exactly the pair histogram of the surviving blocks."""
    from etl_cascalog_spark.catalog import fs_linkage_fine_frame

    # block A (nation 1, seg X, band 0): 6 members -> over a cap of 5
    # block B (nation 2, seg X, band 0): 3 members -> kept (3 pairs)
    rows = [(i, 1, "X", f"Customer#{i:03d}", 100.0) for i in range(6)] + [
        (10 + i, 2, "X", f"Customer#{10 + i:03d}", 100.0) for i in range(3)
    ]
    cust = spark.createDataFrame(
        rows,
        "c_custkey long, c_nationkey long, c_mktsegment string, "
        "c_name string, c_acctbal double",
    )
    capped = fs_linkage_fine_frame(cust, max_block=5).collect()
    assert sum(r["n_pairs"] for r in capped) == 3  # C(3,2), block A gone
    uncapped = fs_linkage_fine_frame(cust, max_block=1000).collect()
    assert sum(r["n_pairs"] for r in uncapped) == 15 + 3  # C(6,2) + C(3,2)


def _pagerank_reference(edges, iters, damping_pct=85):
    """Plain-Python integer PageRank that runs every one of ``iters``
    rounds: the arithmetic of ``graph.pagerank_int`` (base = RANK_SCALE
    div N, contribution = rank div out_degree, damping in whole percent)
    with no early exit."""
    from etl_cascalog_spark.operators.graph import RANK_SCALE

    nodes = {v for e in edges for v in e}
    out_deg = {}
    for u, _ in edges:
        out_deg[u] = out_deg.get(u, 0) + 1
    base = RANK_SCALE // max(len(nodes), 1)
    rank = dict.fromkeys(nodes, base)
    for _ in range(iters):
        in_sum = dict.fromkeys(nodes, 0)
        for u, v in edges:
            in_sum[v] += rank[u] // out_deg[u]
        rank = {
            v: ((100 - damping_pct) * base + damping_pct * in_sum[v]) // 100
            for v in nodes
        }
    return sorted(rank.items())


def test_pagerank_early_exit_is_exact_and_fires(spark):
    """VERDICT r8 #5: the convergence exit must (a) actually stop before
    the iteration cap on a graph that reaches its integer fixpoint, and
    (b) give exactly what running every round gives — the exactness claim
    that lets the oracle stay unchanged. The fixpoint test rides on each
    round's checkpoint job, so it is made after every round."""
    from etl_cascalog_spark.operators.graph import pagerank_int

    def run(e, iters):
        stats: dict = {}
        df = spark.createDataFrame(e, "src: long, dst: long")
        got = sorted(map(tuple, pagerank_int(df, iters=iters, stats=stats).collect()))
        assert got == _pagerank_reference(e, iters)
        return stats["rounds_run"]

    # 3-cycle in both directions: regular symmetric graph — every node's
    # in_sum equals its own rank (up to the div truncation of the first
    # rounds), so the integer fixpoint comes well before the cap
    cycle3 = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (0, 2)]
    assert run(cycle3, 25) < 25, "early exit never fired on a fixpoint"
    # non-regular graph (the star from the mass test): whether or not it
    # converges within the cap, results must match every-round reference
    assert run([(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)], 6) <= 6
    # small caps have no dead zone: the 2-cycle is exact at round 1
    # (out_deg=1: in_sum == base with no div truncation), so iters=2
    # stops after round 1
    assert run([(0, 1), (1, 0)], 2) == 1
    # an empty edge set runs no round (a round's Observation over an
    # empty stage would never report) and returns no ranks
    assert run([], 3) == 0


def test_copurchase_edges_cap_drops_mega_basket(spark):
    from etl_cascalog_spark.operators.graph import copurchase_edges

    rows = [(1, p) for p in range(10)] + [(2, 100), (2, 101)]
    li = spark.createDataFrame(
        [(ok, pk) for ok, pk in rows], "l_orderkey: long, l_partkey: long"
    )
    edges = copurchase_edges(li, max_order_items=7).collect()
    got = {(r["src"], r["dst"]) for r in edges}
    assert got == {(100, 101), (101, 100)}  # basket 1 (10 items) dropped


def test_resample_interpolate_exact_integer_points(spark):
    from etl_cascalog_spark.operators.timeseries import resample_interpolate_daily

    known = spark.createDataFrame(
        [("a", "2024-01-01", 100), ("a", "2024-01-04", 160),
         ("b", "2024-01-02", 50)],
        "key: string, day: string, v: long",
    ).select("key", F.col("day").cast("date").alias("day"), "v")
    out = resample_interpolate_daily(known, "key", "day", "v").collect()
    got = {(r["key"], str(r["day"])): (r["value"], r["src"]) for r in out}
    assert got[("a", "2024-01-01")] == (100, "actual")
    assert got[("a", "2024-01-02")] == (120, "interp")
    assert got[("a", "2024-01-03")] == (140, "interp")
    assert got[("a", "2024-01-04")] == (160, "actual")
    # single-point key: spine collapses to the one actual day
    assert got[("b", "2024-01-02")] == (50, "actual")
    assert len([k for k in got if k[0] == "b"]) == 1


def test_pigeonhole_edit_pairs_recall_and_cap(spark):
    from etl_cascalog_spark.operators.dedup import pigeonhole_edit_pairs

    rows = [
        (1, "abcdefghi"),
        (2, "abcdefghX"),   # 1 sub from id 1
        (3, "abcdeXghX"),   # 2 subs from id 1, 1 from id 2
        (4, "XXXdefXhi"),   # 3 subs from id 1 -> beyond max_dist
        (5, "zzzzzzzzz"),
    ]
    df = spark.createDataFrame(rows, "id: long, s: string")
    pairs = pigeonhole_edit_pairs(df, "id", "s", n_segments=3, max_dist=2)
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in pairs.collect()}
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 2
    assert got[(2, 3)] == 1
    assert (1, 4) not in got  # dist 3 verified out
    assert (1, 5) not in got  # no shared segment
    # cap: a posting list over the cap generates no candidates
    capped = pigeonhole_edit_pairs(
        df, "id", "s", n_segments=3, max_dist=2, max_posting=1
    ).collect()
    assert capped == []


def test_round5_plan_shapes(spark):
    """Plan-shape guard for the round-5 operators: no CartesianProduct
    anywhere (the k-means assignment is a broadcast nested-loop against
    the K-row centroid side — NOT a cartesian), no SortMergeJoin where
    broadcast is expected, pushdown intact on the scans."""
    from tests.conftest import final_audit

    for name in (
        "semantic_dedup_kmeans",
        "kmeans_cluster_profile",
        "pagerank_copurchase",
        "resample_interpolate_daily",
        "pigeonhole_edit_pairs",
        "unpivot_metrics_long",
        "recursive_hierarchy_rollup",
    ):
        a = final_audit(spark, name)
        assert a["cart"] == 0, (name, a)

    # resample: the spine-densify join MAY SortMergeJoin on (key, day) —
    # that sort is exactly the downstream windows' required (key, day)
    # ordering, so it's the fused plan, not a regression; what must never
    # appear is a cartesian or an unpartitioned window
    r = final_audit(spark, "resample_interpolate_daily")
    assert r["smj"] <= 1

    # unpivot is an Expand over one aggregate: at most one exchange
    u = final_audit(spark, "unpivot_metrics_long")
    assert u["smj"] == 0 and u["bhj"] == 0 and u["exch"] <= 1


def test_kmeans_and_pagerank_partition_invariant(spark):
    """The order-free-integer-arithmetic claim, tested directly: results
    are IDENTICAL under adversarial repartitioning of the input (the
    property float summation cannot give, and the reason the oracles can
    hash-match at all)."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.graph import copurchase_edges, pagerank_int
    from etl_cascalog_spark.operators.semantic import (
        kmeans_fit,
        quantize_embeddings,
    )
    from etl_cascalog_spark.session import release_all_blocks
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    pts = quantize_embeddings(emb, "vec_id", "embedding")
    base = sorted(
        (r["id"], r["cluster"], r["dist"])
        for r in kmeans_fit(pts, dim=64, k=4, iters=2).collect()
    )
    shuffled = sorted(
        (r["id"], r["cluster"], r["dist"])
        for r in kmeans_fit(pts.repartition(7), dim=64, k=4, iters=2).collect()
    )
    assert base == shuffled
    release_all_blocks(spark)

    li = read_table(spark, SF_SMOKE, "lineitem")
    edges = copurchase_edges(li, max_order_items=7)
    r1 = sorted(map(tuple, pagerank_int(edges, iters=2).collect()))
    r2 = sorted(
        map(tuple, pagerank_int(edges.repartition(11), iters=2).collect())
    )
    assert r1 == r2
    release_all_blocks(spark)


def test_chunk_spans_udtf_lateral_sql(spark):
    """Python UDTF (Spark 4 table-function surface, SURVEY §2.10 U2 last
    resort): LATERAL chunk_spans covers every token with the declared
    window/overlap and terminates exactly at the final token."""
    from etl_cascalog_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x"), (3, None), (4, "")],
        "id int, text string",
    ).createOrReplaceTempView("t_udtf_docs")
    rows = spark.sql(
        "SELECT d.id, c.* FROM t_udtf_docs d, LATERAL chunk_spans(d.text, 5, 2) c"
    ).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, []).append((r.chunk_id, r.start_tok, r.end_tok, r.piece))
    assert by_id[1] == [(0, 0, 5, "a b c d e"), (1, 3, 7, "d e f g")]
    assert by_id[2] == [(0, 0, 1, "x")]
    assert 3 not in by_id and 4 not in by_id  # null/empty rows emit nothing
    # coverage: chunks tile the token range with stride = window - overlap
    spans = by_id[1]
    covered = set()
    for _cid, s, e, _p in spans:
        covered |= set(range(s, e))
    assert covered == set(range(7))


def test_cms_one_sided_and_exact_composition(spark):
    """Count-min sketch contract: estimates NEVER undercount (one-sided
    error), and the sketch-gated candidate set is a superset of the true
    heavy hitters — so candidates → exact recount reproduces the exact
    HAVING answer. operators/sketches.py."""
    from etl_cascalog_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_heavy_hitter_candidates,
    )

    rows = [(f"hot{i % 3}",) for i in range(300)] + [(f"cold{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, "k string")
    truth = {r.k: r.n for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}

    sketch = cms_build(df, "k", depth=4, width=256)
    # sketch is bounded: ≤ depth × width rows no matter the input
    assert sketch.count() <= 4 * 256
    est = {r.k: r.est for r in cms_estimate(sketch, df, "k", depth=4, width=256).collect()}
    assert set(est) == set(truth)
    for k, n in truth.items():
        assert est[k] >= n  # never undercounts

    cand = {r.k for r in cms_heavy_hitter_candidates(df, "k", threshold=100, depth=4, width=256).collect()}
    true_heavy = {k for k, n in truth.items() if n >= 100}
    assert true_heavy <= cand  # provable recall


def test_bloom_no_false_negatives_and_fpr(spark):
    """Bloom filter contract: every build-side key probes true (no false
    negatives ⇒ prefilter→join ≡ join), and the false-positive rate on
    disjoint keys stays near the (1−e^{−kn/m})^k design point."""
    from etl_cascalog_spark.operators.sketches import bloom_build, bloom_probe

    m_bits, k = 1 << 13, 3
    build = spark.range(500).select((F.col("id") * 7 + 1).alias("key"))
    bitmap = bloom_build(build, "key", m_bits=m_bits, k=k)
    assert len(bitmap) == m_bits // 64

    hits = build.where(bloom_probe(F.col("key"), bitmap, m_bits, k=k)).count()
    assert hits == 500  # zero false negatives

    probe = spark.range(1_000_000, 1_002_000).select(F.col("id").alias("key"))
    fp = probe.where(bloom_probe(F.col("key"), bitmap, m_bits, k=k)).count()
    # design FPR ≈ (1 − e^(−3·500/8192))^3 ≈ 0.5%; allow generous slack
    assert fp / 2000 < 0.05


def test_bloom_build_rejects_bad_m(spark):
    from etl_cascalog_spark.operators.sketches import bloom_build

    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(spark.range(1), "id", m_bits=100)


def test_gopher_rules_micro(spark):
    """Gopher quality rules on handcrafted pass/fail docs (Rae et al.
    2021 App. A1.1 thresholds)."""
    from etl_cascalog_spark.operators.text import gopher_rules

    good = "the quick brown fox jumps over that lazy dog and keeps running " * 5  # 60 words, stopwords
    short = "too short to pass"
    symbol = ("the and that have with words okay fine good here " * 5) + "# " * 30
    df = spark.createDataFrame([(1, good), (2, short), (3, symbol)], "id int, text string")
    r = gopher_rules(F.col("text"))
    out = {
        row.id: row
        for row in df.select(
            "id", r["pass"].alias("ok"), r["r_word_count"].alias("wc"), r["r_symbol_ratio"].alias("sym")
        ).collect()
    }
    assert out[1].ok is True
    assert out[2].ok is False and out[2].wc is False
    assert out[3].sym is False and out[3].ok is False


def test_hll_distinct_accuracy_and_merge(spark):
    """The explicit HLL: (a) estimate within ~3 standard errors (m=256 →
    ±~6.5% σ) of truth; (b) register mergeability — the sketch of A ∪ B
    equals max-merging A's and B's registers (the property that makes the
    pass incremental-refresh-safe)."""
    from etl_cascalog_spark.operators.sketches import hll_distinct

    df = spark.range(4000).select(
        (F.col("id") % 2).cast("string").alias("g"), (F.col("id") * 13 + 7).alias("k")
    )
    out = {r.g: r for r in hll_distinct(df, "k", ["g"]).collect()}
    for g in ("0", "1"):
        assert abs(out[g].est_distinct - 2000) / 2000 < 0.2

    # merge property: union's estimate == estimate over concatenated input
    a = spark.range(0, 1500).select(F.lit("x").alias("g"), F.col("id").alias("k"))
    b = spark.range(1000, 2500).select(F.lit("x").alias("g"), F.col("id").alias("k"))
    whole = hll_distinct(a.unionByName(b), "k", ["g"]).collect()[0]
    again = hll_distinct(b.unionByName(a), "k", ["g"]).collect()[0]
    assert whole.est_distinct == again.est_distinct
    assert whole.n_registers_hit == again.n_registers_hit


def test_binpack_plan_shapes(spark):
    """Bin packing: files fill ~target-sized bins largest-first; an
    oversized file occupies its bin alone (leave-big-files-alone)."""
    from etl_cascalog_spark.operators.layout import binpack_plan

    rows = [("p", f"f{i}", 40) for i in range(10)] + [("p", "big", 1000)]
    files = spark.createDataFrame(rows, "part string, f string, bytes long")
    out = binpack_plan(files, ["part"], "bytes", ["f"], target_bytes=100).collect()
    by_bin = {}
    for r in out:
        by_bin.setdefault(r.bin_id, []).append(r)
    # 'big' sorts first (desc) → exclusive cumsum 0 → bin 0, alone in it
    big_bin = [r.bin_id for r in out if r.f == "big"][0]
    assert len(by_bin[big_bin]) == 1
    # the ten 40-byte files land >=2 per bin (target 100)
    small_bins = [b for b, rs in by_bin.items() if b != big_bin]
    assert all(len(by_bin[b]) >= 2 for b in small_bins)


def test_khop_min_dist_chain(spark):
    """BFS distances on a directed chain with a shortcut: min() semantics
    pick the shorter route, nodes beyond k are absent."""
    from etl_cascalog_spark.operators.graph import khop_min_dist

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.min_hops for r in khop_min_dist(edges, seeds, k=2).collect()}
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}


def test_tpch_plan_shapes(spark):
    """Plan-shape guard for the adapted TPC-H suite: the shapes the
    SCALE.md round-7 notes promise. Dims broadcast (no SortMergeJoin
    anywhere in these), no CartesianProduct, pushdown reaches the scans,
    and the agg-heavy queries keep their exchange budget."""
    from tests.conftest import final_audit

    for name in ("tpch_q3", "tpch_q5", "tpch_q8", "tpch_q10", "tpch_q21"):
        a = final_audit(spark, name)
        assert a["smj"] == 0, f"{name}: dims must broadcast, got SMJ\n{a}"
        assert a["cart"] == 0, f"{name}: cartesian product\n{a}"

    q6 = final_audit(spark, "tpch_q6")  # scan-side predicates, single-row agg
    assert q6["exch"] <= 1 and q6["bhj"] == 0 and q6["push"] == "yes"

    q17 = final_audit(spark, "tpch_q17")  # per-part agg join-back, no window funnel
    assert q17["smj"] == 0 and q17["exch"] <= 2

    q18 = final_audit(spark, "tpch_q18")  # HAVING-pruned side joins broadcast
    assert q18["smj"] == 0 and q18["cart"] == 0


def test_mmr_rerank_diversifies(spark):
    """MMR sanity: 3 distinct picks per query; rank-1 equals pure cosine
    rank-1 (no diversity penalty yet); and for at least one query the
    diversified set differs from plain cosine top-3 (lambda bites)."""
    from etl_cascalog_spark.io import read_table
    from etl_cascalog_spark.operators.similarity import cosine_topk, mmr_rerank
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    got = mmr_rerank(queries, emb, n_candidates=10, k=3, lam=0.5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.rank] = r.neighbor_id
    assert all(len(set(v.values())) == 3 for v in by_q.values())

    plain = cosine_topk(queries, emb, k=3).collect()
    plain_by_q = {}
    for r in plain:
        plain_by_q.setdefault(r.query_id, {})[r.rank] = r.neighbor_id
    assert all(by_q[q][1] == plain_by_q[q][1] for q in by_q)
    assert any(
        set(by_q[q].values()) != set(plain_by_q[q].values()) for q in by_q
    ), "lambda=0.5 should alter at least one query's selection"
    spark.catalog.clearCache()


def test_mmr_rerank_parametric_k_matches_naive_greedy(spark):
    """mmr_rerank equals a naive driver-side greedy MMR on small data, for
    k=5, for k=1, for n_candidates < k (the fold stops once the pool is
    empty), and on duplicate vectors (equal MMR values, ties broken by
    the lower candidate id). Float arithmetic mirrors the operator's
    sequential-fold dot products, so the comparison is on exact
    selections AND 4-dp scores."""
    import math

    from etl_cascalog_spark.operators.similarity import mmr_rerank

    def mkvec(seed, d=6):
        # deterministic, integer-derived doubles (no RNG)
        return [((seed * 31 + j * 17) % 23) / 7.0 + 0.1 for j in range(d)]

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a, b):
        return fold_dot(a, b) / (math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b)))

    seeded = {i: mkvec(i) for i in range(12)}
    dup = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 1.0], [0.7, 0.7], [0.7, 0.7], [1.0, 1.0]]
    cases = [
        (seeded, 8, 5, 0.6),
        (seeded, 8, 1, 0.6),
        (seeded, 3, 5, 0.6),
        (dict(enumerate(dup)), 6, 4, 0.5),
    ]
    for vecs, n_cand, k, lam in cases:
        df = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
        )
        got = {
            (r.query_id, r.rank): (r.neighbor_id, r.score)
            for r in mmr_rerank(
                df.where("vec_id < 2"), df, n_candidates=n_cand, k=k, lam=lam
            ).collect()
        }
        want = {}
        for qid in (0, 1):
            qv = vecs[qid]
            rels = {cid: cos(qv, v) for cid, v in vecs.items() if cid != qid}
            # top-n_cand by (rel desc, cid asc)
            remaining = sorted(rels, key=lambda c: (-rels[c], c))[:n_cand]
            selected = []
            for rank in range(1, min(k, len(remaining)) + 1):
                if not selected:
                    objective = {c: rels[c] for c in remaining}
                else:
                    objective = {
                        c: rels[c]
                        - lam * max(cos(vecs[c], vecs[s]) for s in selected)
                        for c in remaining
                    }
                best = min(objective, key=lambda c: (-objective[c], c))
                selected.append(best)
                remaining.remove(best)
                want[(qid, rank)] = (best, round(objective[best], 4))
        assert got.keys() == want.keys(), (n_cand, k, sorted(got), sorted(want))
        for key, (sel, sc) in want.items():
            nid, gsc = got[key]
            assert nid == sel, (n_cand, k, key, nid, sel)
            assert abs(gsc - sc) < 1e-9, (n_cand, k, key, gsc, sc)


def test_mmr_diversified_topk_job_count(spark):
    """The grouped-fold re-rank runs a bounded number of Spark jobs: one
    noop write of mmr_diversified_topk at sf0.001 stays within 7 jobs
    (the k-step unrolled plan, one window pick and two broadcast joins
    per step, ran 50)."""
    from etl_cascalog_spark.catalog import QUERIES
    from etl_cascalog_spark.plans.lint import count_build_jobs
    from etl_cascalog_spark.session import release_all_blocks
    from tests.conftest import SF_SMOKE

    df = QUERIES["mmr_diversified_topk"].build(spark, SF_SMOKE)
    # count_build_jobs counts every job its callable submits, by job group
    _, n_jobs = count_build_jobs(
        spark, lambda: df.write.format("noop").mode("overwrite").save(), "mmr_write"
    )
    release_all_blocks(spark)
    assert n_jobs <= 7, n_jobs


def test_bpe_replace_chain_oracle_equals_greedy_encoder():
    """The SQL replace-chain rendering of greedy BPE (catalog
    bpe_encode_corpus oracle) is equivalent to text.bpe_encode's
    lowest-rank-first loop — checked in pure Python over the corpus
    vocabulary plus adversarial overlap/run/chain words (str.replace has
    the same leftmost non-overlapping replace-all semantics as DuckDB)."""
    import duckdb

    from etl_cascalog_spark.catalog import _BPE_MERGES

    rank = {p: i for i, p in enumerate(_BPE_MERGES)}

    def greedy(word):
        parts = list(word)
        while len(parts) > 1:
            best_i, best_r = -1, len(rank)
            for i in range(len(parts) - 1):
                r = rank.get((parts[i], parts[i + 1]), len(rank))
                if r < best_r:
                    best_i, best_r = i, r
            if best_i < 0 or best_r >= len(rank):
                break
            parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
        return parts

    def chain(word, passes=4):
        s = "|" + "".join(c + "|" for c in word)
        for _ in range(passes):
            for a, b in _BPE_MERGES:
                s = s.replace(f"|{a}|{b}|", f"|{a}{b}|")
        return [t for t in s.split("|") if t]

    words = set()
    for (t,) in duckdb.sql(
        "SELECT text FROM '/root/testdata/sf0.01/documents.parquet'"
    ).fetchall():
        words.update(str(t).lower().split())
    words.update(
        ["erer", "ererer", "aaaa", "thethe", "ananan", "thather", "attherein",
         "ttttthhhhh", "inonatanth", "x", "", "therein"]
    )
    for w in words:
        assert greedy(w) == chain(w), w


def test_duplicate_token_spans_semantics(spark):
    """Crafted corpus: cross-doc shared license line, in-doc repetition,
    overlapping gram hits merging into one maximal span, and a clean doc
    producing no spans."""
    from etl_cascalog_spark.operators.text import duplicate_token_spans

    license_line = "licensed under the apache license version two"
    rows = [
        (1, f"alpha beta {license_line} gamma delta"),
        (2, f"omega {license_line} psi chi"),
        (3, "repeat me again and again repeat me again and again tail"),
        (4, "completely unique words never shared anywhere else ever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_token_spans(df, n=4).collect()
    }
    by_doc = {}
    for d, s, e in got:
        by_doc.setdefault(d, []).append((s, e))
    # license spans: doc1 tokens 3-9 (7 tokens), doc2 tokens 2-8
    assert by_doc[1] == [(3, 9)]
    assert by_doc[2] == [(2, 8)]
    # doc3: "repeat me again and again" repeated -> grams at positions
    # 1,2 and 6,7 hit twice (the bridging gram "again repeat me again"
    # occurs once), so the merge yields the two maximal repeated regions
    assert sorted(by_doc[3]) == [(1, 5), (6, 10)]
    assert 4 not in by_doc


def test_new_operator_plan_shapes(spark):
    """Plan-shape guard on the round's new operators: the substring span
    pass must stay join-keyed (no cartesian/SMJ surprises beyond the one
    hash-keyed dup join), and the binary tap must keep its decode as
    Arrow stages with no shuffle before the decode."""
    from tests.conftest import final_audit

    spans = final_audit(spark, "substring_dup_spans")
    assert spans["cart"] == 0 and spans["bnlj"] == 0
    # window sort (id), gram-hash agg, dup join back, interval merge,
    # totals join: bounded exchange count, not a per-branch blowup
    assert spans["exch"] <= 8, spans

    tap = final_audit(spark, "binaryfile_image_ingest")
    assert tap["cart"] == 0 and tap["smj"] == 0
    assert tap["exch"] <= 2, tap  # the small doc_id join only

    keep = final_audit(spark, "neardup_keep_best")
    assert keep["cart"] == 0


def test_remove_duplicate_spans_semantics(spark):
    """Mark-then-cut round trip: removing the marked spans leaves exactly
    the unshared tokens, in original order, and a clean doc untouched."""
    from pyspark.sql import functions as F

    from etl_cascalog_spark.operators.text import (
        duplicate_token_spans,
        remove_duplicate_spans,
    )

    shared = "one two three four"
    rows = [
        (1, f"alpha {shared} omega"),
        (2, f"start {shared} end"),
        (3, "totally unique text here with nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = duplicate_token_spans(df, n=4)
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in remove_duplicate_spans(df, spans).collect()
    }
    assert got[1] == ("alpha omega", 6, 4)
    assert got[2] == ("start end", 6, 4)
    assert got[3] == ("totally unique text here with nothing shared at all", 9, 0)


def test_canonicalize_url_edge_cases(spark):
    """canonicalize_url: the web-corpus dedup key. Covers host case,
    default ports (http and https), www-strip, fragment, tracking-param
    strip, param SORTING, bare-host root path, trailing slash, and an
    empty query left by stripping."""
    from etl_cascalog_spark.operators.text import canonicalize_url

    cases = {
        "https://WWW.Example.COM:443/a/b/?utm_source=x&id=5&utm_campaign=y#f":
            "https://example.com/a/b?id=5",
        "http://example.com:80/a/b?id=5": "http://example.com/a/b?id=5",
        "http://example.com:8080/a": "http://example.com:8080/a",  # non-default port kept
        # cross cases: a port that is NOT the scheme's own default is a
        # different origin and must survive canonicalization
        "http://example.com:443/a": "http://example.com:443/a",
        "https://example.com:80/a": "https://example.com:80/a",
        "ftp://example.com:80/a": "ftp://example.com:80/a",
        "https://example.com": "https://example.com/",
        "https://example.com/?fbclid=abc": "https://example.com/",
        "HTTPS://Sub.Example.com/Path/": "https://sub.example.com/Path",
        "https://example.com/a?z=1&a=2&utm_x=3": "https://example.com/a?a=2&z=1",
        "https://example.com/a?": "https://example.com/a",
        # percent-encoding: unreserved escapes decode (any hex case),
        # reserved escapes keep their bytes but normalize hex case
        "https://example.com/%7Euser/a": "https://example.com/~user/a",
        "https://example.com/%7euser/a": "https://example.com/~user/a",
        "https://example.com/~user/a": "https://example.com/~user/a",
        "https://example.com/a?x=b%2fc": "https://example.com/a?x=b%2Fc",
        # malformed / scheme-less inputs pass through unchanged — they
        # must each stay their own dedup key
        "example.com/a/b?id=5": "example.com/a/b?id=5",
        "relative/path#frag": "relative/path#frag",
        "": "",
    }
    df = spark.createDataFrame([(k,) for k in cases], "url: string")
    got = {
        r.url: r.c
        for r in df.select("url", canonicalize_url(F.col("url")).alias("c")).collect()
    }
    assert got == cases


def _controlled_jaccard_corpus(levels: dict[int, int]) -> list[tuple[str, str]]:
    """Doc pairs with EXACT designed n=3 word-shingle Jaccard: each doc is
    m=42 globally-unique words, a pair shares a c-word prefix, so shared
    shingles k = c-2, per-doc shingles S = 40, j = k/(2S-k). Words are
    namespaced per (level, pair) so cross-pair Jaccard is 0."""
    rows = []
    for c, n_pairs in levels.items():
        for p in range(n_pairs):
            base = [f"c{c}p{p}w{i}" for i in range(c)]
            ta = [f"c{c}p{p}a{i}" for i in range(42 - c)]
            tb = [f"c{c}p{p}b{i}" for i in range(42 - c)]
            rows.append((f"c{c}p{p}A", " ".join(base + ta)))
            rows.append((f"c{c}p{p}B", " ".join(base + tb)))
    return rows


def test_minhash_banding_recall_curve(spark):
    """MinHash banding recall vs the 1-(1-j^r)^b curve (VERDICT r7 #3a):
    the SCALE.md claim that borderline-j recall follows the banding
    probability was documented, never measured. A controlled-Jaccard
    corpus (250 pairs per level, zero cross-pair overlap) pins the
    measured candidate recall to theory at four j levels, including the
    borderline j~=0.70 band that real corpora leave empty. threshold=0
    disables the exact-Jaccard verification filter so the output *is*
    the banded candidate set restricted to true pairs.

    The corpus and seed are fixed, so the measured recalls are
    deterministic (0.168 / 0.644 / 0.988 / 1.000); tolerances are ~3-4x
    the binomial sigma so an implementation-neutral reshuffle of the
    permutation constants still passes, while a real recall break
    (banding bug, cap regression) fails loudly."""
    from etl_cascalog_spark.operators.dedup import minhash_lsh_pairs

    n_pairs = 250
    levels = {22: n_pairs, 29: n_pairs, 35: n_pairs, 39: n_pairs}
    df = spark.createDataFrame(
        _controlled_jaccard_corpus(levels), ["doc_id", "text"]
    )
    found = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(df, "doc_id", "text", n=3, threshold=0.0).collect()
    }
    tol = {22: 0.07, 29: 0.09, 35: 0.03}
    for c in levels:
        k = c - 2
        j = k / (80 - k)
        p_theory = 1 - (1 - j**4) ** 16
        hit = sum(
            1
            for p in range(n_pairs)
            if (f"c{c}p{p}A", f"c{c}p{p}B") in found
            or (f"c{c}p{p}B", f"c{c}p{p}A") in found
        )
        measured = hit / n_pairs
        if c == 39:  # j=0.86: theory 1-3e-6 — all pairs must band
            assert measured == 1.0, f"j={j:.3f}: measured {measured}"
        else:
            assert abs(measured - p_theory) <= tol[c], (
                f"j={j:.3f}: measured recall {measured:.4f} vs theory "
                f"{p_theory:.4f} outside +-{tol[c]}"
            )


def test_minhash_cap_drop_fails_sweep(spark):
    """Mutation test for the max_bucket designed-failure posture
    (VERDICT r7 #3b): SCALE.md claims "if a cap-dropped bucket loses a
    true pair, the sweep will say so" — demonstrate it. A 30-doc
    boilerplate clique (identical text -> every band bucket holds all 30
    docs) plus normal near-dup pairs:

    - mutated cap (max_bucket=20 < 30): every clique bucket is dropped,
      the engine loses all 435 clique pairs, and equality against the
      exact-Jaccard oracle FAILS — the sweep detects the loss;
    - restored cap (default 500): engine == exact oracle, sweep green.
    """
    from etl_cascalog_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs

    hot = [(f"hot{i}", "hot " + " ".join(f"h{k}" for k in range(41))) for i in range(30)]
    normal = _controlled_jaccard_corpus({39: 5})  # j=0.86 pairs, recall ~1
    df = spark.createDataFrame(hot + normal, ["doc_id", "text"])

    def pairs(out):
        return {tuple(sorted((r.doc_a, r.doc_b))) for r in out.collect()}

    exact = pairs(jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.7))
    clique = {
        tuple(sorted((f"hot{i}", f"hot{k}")))
        for i in range(30)
        for k in range(i + 1, 30)
    }
    assert clique <= exact and len(exact) == len(clique) + 5

    capped = pairs(
        minhash_lsh_pairs(df, "doc_id", "text", n=3, threshold=0.7, max_bucket=20)
    )
    assert capped != exact, "sweep-equality must FAIL under the mutated cap"
    assert capped.isdisjoint(clique), "dropped bucket must lose the clique pairs"
    assert len(exact - capped) == len(clique), "non-clique pairs must survive the cap"

    restored = pairs(minhash_lsh_pairs(df, "doc_id", "text", n=3, threshold=0.7))
    assert restored == exact, "restored cap must re-match the exact oracle"


def test_pct_normalize_contract_full_unreserved(spark):
    """Percent-encoding contract breadth (VERDICT r7 #7), pinning the
    documented behavior over the ENTIRE input space so a future RE2 edit
    cannot silently narrow it:

    - all 66 unreserved octets decode, in upper/lower/mixed escape hex;
    - reserved octets stay ENCODED with hex uppercased (no semantic
      decode — %2F must not become '/');
    - double-encoding is preserved verbatim (%2527 stays %2527: the %25
      is not an unreserved escape, and decoding it would manufacture a
      NEW escape);
    - '+' in query values stays '+' and %20 stays %20 — they are
      DISTINCT dedup keys by contract (false-negative direction; form
      '+'-for-space folding would false-merge path segments);
    - the Spark chain and the generated DuckDB twin (pct_normalize_sql)
      agree byte-for-byte on every case (the anti-drift gate).
    """
    import duckdb

    from etl_cascalog_spark.operators.text import (
        _URL_UNRESERVED,
        _pct_normalize,
        pct_normalize_sql,
    )

    cases: list[tuple[str, str]] = []
    # 1) every unreserved octet, three hex casings
    for c in _URL_UNRESERVED:
        hx = f"{ord(c):02X}"
        for esc in (f"%{hx}", f"%{hx.lower()}", f"%{hx[0]}{hx[1].lower()}"):
            cases.append((f"/x{esc}y", f"/x{c}y"))
    # 2) reserved + space + percent stay encoded, hex uppercased
    for r in ':/?#[]@!$&\'()*+,;= %"<>{}|\\^':
        hx = f"{ord(r):02X}"
        cases.append((f"/a%{hx}b", f"/a%{hx}b"))
        cases.append((f"/a%{hx.lower()}b", f"/a%{hx}b"))
    # 3) double-encoding preserved (decoding %25 would mint new escapes)
    cases += [
        ("/p%2527q", "/p%2527q"),
        ("/p%252Fq", "/p%252Fq"),
        # '2f' after the %25 escape is LITERAL text, not an escape — hex
        # uppercasing must leave it alone ('%252F' would be different
        # literal characters)
        ("/p%252fq", "/p%252fq"),
        ("/p%25q", "/p%25q"),
    ]
    # 4) '+' vs %20 stay distinct keys
    cases += [("?a=b+c", "?a=b+c"), ("?a=b%20c", "?a=b%20c")]
    # 5) cascades: adjacent escapes, decoded char abutting an escape
    cases += [
        ("/%7E%2F%7e", "/~%2F~"),
        ("/%41%61%30%2D%2E%5F%7E", "/Aa0-._~"),
        ("/%2541", "/%2541"),  # %25+41: NOT '%41', NOT 'A'
    ]

    df = spark.createDataFrame(cases, ["raw", "want"])
    got = df.select(
        "raw", "want", _pct_normalize(F.col("raw")).alias("got")
    ).collect()
    bad = [(r.raw, r.want, r.got) for r in got if r.got != r.want]
    assert not bad, f"spark chain: {len(bad)} mismatches, first 5: {bad[:5]}"

    con = duckdb.connect()
    for raw, want in cases:
        (dk,) = con.execute(
            f"SELECT {pct_normalize_sql('?')}", [raw]
        ).fetchone()
        assert dk == want, f"duckdb twin: {raw!r} -> {dk!r}, want {want!r}"
