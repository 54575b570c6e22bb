"""trgx tree algebra over the canonical (path, metrics) long format.

The reference's one non-relational structure is the recursive "trgx" map
``{node {:DATA {...} :CHILDREN {...}}}`` (SURVEY.md §1.2), built by custom
aggregators (``kv->trgx`` trgx.clj:51-55), manipulated by a tree-op library
(trgx.clj:212-275), serialized as EDN strings between jobs, and emitted as
JSON.

Engine stance (SURVEY §7 "hard parts"): trees never exist as a runtime
type. The canonical representation is the **long format** —

    (group keys…, path: array<string>, metric columns…)

— one row per tree node path. Tree ops become array ops (JVM-side, no UDF,
no shuffle); nested output materializes only at sinks via
:func:`nest_json`, which folds leaf→root with one grouped pass per level
(exactly the reference's 5-stage rollup shape,
mlvar/d_bolome_user_order.clj:80-132, minus the EDN).

Reference op → long-format mapping:

- ``trgx->leaf``      (trgx.clj:212-213) → filter size(path) = max depth
- ``trgx->path`` / ``trgx-path-seq`` (:220-227) → the format itself
- ``trgx-take``       (:229-236) → :func:`take_depth`
- ``trgx-take-last``  (:238-244) → :func:`take_last_depth`
- ``trgx-split-at``   (:246-247) → :func:`split_at_depth`
- ``trgx-leaf-trunc`` (:265-269) → :func:`leaf_trunc`
- ``subtree``/``tree-nodes`` path filters with ``"*"`` wildcards
  (mlvar/d_bolome_user_order.clj:73-95) → :func:`match_path`
- ``path-trgx->tuple-kv`` (:275) → the long format again (identity)
"""

from __future__ import annotations

import json
import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def path_col(*levels: Column) -> Column:
    """Assemble a path array from level columns (root first)."""
    return F.array(*levels)


def take_depth(df: DataFrame, n: int, path: str = "path") -> DataFrame:
    """trgx-take (trgx.clj:229-236): keep only the top n levels — truncate
    deeper paths and drop the now-duplicate nodes (metrics of truncated
    nodes are NOT re-aggregated; matches the reference, which keeps the
    node's own :DATA)."""
    return df.where(F.size(F.col(path)) <= n)


def take_last_depth(df: DataFrame, n: int, path: str = "path") -> DataFrame:
    """trgx-take-last (trgx.clj:238-244): keep the deepest n levels,
    re-rooting each path at depth-n (the path's last n elements)."""
    p = F.col(path)
    return df.withColumn(path, F.slice(p, F.greatest(F.size(p) - n + 1, F.lit(1)), n))


def leaf_trunc(df: DataFrame, path: str = "path") -> DataFrame:
    """trgx-leaf-trunc (trgx.clj:265-269): drop the leaf level (paths of
    length 1 vanish)."""
    p = F.col(path)
    return df.where(F.size(p) > 1).withColumn(path, F.slice(p, 1, F.size(p) - 1))


def split_at_depth(df: DataFrame, n: int, path: str = "path") -> DataFrame:
    """trgx-split-at (trgx.clj:246-247): (path) → (prefix, suffix) columns."""
    p = F.col(path)
    return df.withColumn("path_prefix", F.slice(p, 1, n)).withColumn(
        "path_suffix", F.slice(p, n + 1, F.greatest(F.size(p) - n, F.lit(0)))
    )


def match_path(path: Column, pattern: Sequence) -> Column:
    """Wildcard/range path predicate (the ``subtree``/``tree-nodes`` filter
    algebra, mlvar/d_bolome_user_order_stat_new2017-03-10.clj:73-96):
    pattern elements are literals, ``"*"`` (match any), or
    ``("range", lo, hi)`` (inclusive string-order bounds — the reference's
    ``[:range lo hi]`` via ``sort?``); the path must be exactly as deep as
    the pattern."""
    cond = F.size(path) == len(pattern)
    for i, pat in enumerate(pattern):
        e = F.element_at(path, i + 1)
        if pat == "*":
            continue
        if isinstance(pat, (tuple, list)) and pat and pat[0] == "range":
            cond = cond & (e >= pat[1]) & (e <= pat[2])
        else:
            cond = cond & (e == pat)
    return cond


# ---------------------------------------------------------------------------
# Config-skeleton attach (kv->trgx): grafting grouped metric rows onto a
# plan-time config tree.
# ---------------------------------------------------------------------------

_NODE_ID_RE = re.compile(r"\[(\S+)\]")


def node_id(label: str) -> str:
    """``node->id`` (trgx.clj:49): a node label ``"[CODE]描述"`` keys by its
    bracketed CODE; a label without a ``[id]`` prefix keys by itself (after
    stripping a leading empty ``[]``)."""
    m = _NODE_ID_RE.search(label)
    if m:
        return m.group(1)
    return re.sub(r"^\[\]", "", label)


def node_id_col(label: Column) -> Column:
    """Column twin of :func:`node_id` — extract the node key from a
    ``"[CODE]描述"`` label built row-side (``(str "[" !code "]" ?item)``,
    m_cocacola_score_period.clj:66; a NULL code yields ``"[]item"`` whose
    id is the bare item)."""
    ext = F.regexp_extract(label, r"\[(\S+)\]", 1)
    return F.when(ext != "", ext).otherwise(F.regexp_replace(label, r"^\[\]", ""))


def code_item_col(code: Column, item: Column) -> Column:
    """``(str "[" !code "]" ?item)`` with Clojure's nil→"" str semantics."""
    return F.concat(F.lit("["), F.coalesce(code, F.lit("")), F.lit("]"), item)


def branch_subtree(skeleton: dict, label: str, branch: str = "CODE") -> dict:
    """``latest-trgx-kpi`` (trgx.clj:211-212): the ``branch`` child-map of
    node ``label``'s BRANCH — the KPI subtree the trgx reports attach to."""
    return skeleton[label]["BRANCH"][branch]


def merge_branches(skeleton: dict, label: str) -> dict:
    """``latest-trgx-merge`` (trgx.clj:203-210): replace node ``label``'s
    ``BRANCH`` (named groups of alternative child maps) with the merge of
    all branch values as its ``CHILDREN``. Non-mutating — returns a new
    skeleton; driver-side config preprocessing (the skeleton is plan-time
    config, like ``broadcast_config_map``)."""
    out = dict(skeleton)
    node = dict(out[label])
    merged: dict = {}
    for branch in node.get("BRANCH", {}).values():
        merged.update(branch)
    node["CHILDREN"] = merged
    node.pop("BRANCH", None)
    out[label] = node
    return out


def skeleton_paths(skeleton: dict, _prefix: tuple = ()) -> list[tuple[list[str], dict]]:
    """Flatten a config skeleton ``{label: {"DATA": {...}, "CHILDREN":
    {...}}}`` into (path, data) rows — the long format of the config tree."""
    rows: list[tuple[list[str], dict]] = []
    for label, node in skeleton.items():
        path = (*_prefix, label)
        rows.append((list(path), dict(node.get("DATA", {}))))
        rows.extend(skeleton_paths(node.get("CHILDREN", {}), path))
    return rows


def skeleton_df(spark: SparkSession, skeleton: dict) -> DataFrame:
    """The skeleton as a (node_id, path, conf, is_leaf) frame — conf is the
    node's config ``DATA`` (numeric map; non-numeric config values travel
    in ``conf_str``). Bounded plan-time structure → always the broadcast
    side of :func:`attach_kv`."""
    paths = skeleton_paths(skeleton)
    prefixes = {tuple(p[:-1]) for p, _ in paths if len(p) > 1}
    rows = []
    for path, data in paths:
        num = {k: float(v) for k, v in data.items() if isinstance(v, (int, float))}
        txt = {k: str(v) for k, v in data.items() if not isinstance(v, (int, float))}
        rows.append((node_id(path[-1]), path, num, txt, tuple(path) not in prefixes))
    return spark.createDataFrame(
        rows,
        "node_id string, path array<string>, conf map<string,double>, "
        "conf_str map<string,string>, is_leaf boolean",
    )


def attach_kv(
    data: DataFrame,
    skeleton_frame: DataFrame,
    id_col: str,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """``kv->trgx`` (trgx.clj:51-55): graft metric rows onto the config
    skeleton by pattern-matched node id. The reference postwalks the tree
    per collected KV map; in the long format the graft IS a broadcast
    equi-join: ``data.id_col`` ↔ ``skeleton.node_id``, yielding one row per
    matched node carrying (path, conf, data metrics).

    With ``group_cols``, emits the COMPLETE skeleton per group (unmatched
    nodes keep NULL metrics) — the reference's tree always contains every
    config node whether or not :DATA attached; without, only matched nodes
    (the report pipelines drop data-less nodes immediately anyway via the
    ``?var`` non-null filter).

    100 TB posture: skeleton is config-sized (broadcast — no shuffle of the
    data side); the per-group complete variant crosses DISTINCT groups with
    the skeleton, never the raw rows.
    """
    skel = F.broadcast(skeleton_frame)
    if group_cols is None:
        return data.join(skel, data[id_col] == skeleton_frame["node_id"]).drop(
            "node_id"
        )
    groups = data.select(*[F.col(c) for c in group_cols]).distinct()
    keyed = data.withColumnRenamed(id_col, "node_id")
    return (
        groups.crossJoin(skel)
        .join(keyed, on=[*group_cols, "node_id"], how="left")
        .withColumnRenamed("node_id", id_col)
    )


def json_key(name: str) -> str:
    """``"name":`` — a plan-time JSON object key, escaped like
    :func:`json_string` (CJK passes through)."""
    return json.dumps(name, ensure_ascii=False) + ":"


def json_string(col: Column) -> Column:
    """``col`` as a JSON string literal, escaped per RFC 8259 by Spark's own
    JSON writer: ``"``, ``\\`` and control characters are escaped, every
    other character (CJK included) passes through, so values without them
    keep their plain ``"value"`` bytes. NULL → JSON ``null``."""
    return F.btrim(F.to_json(F.array(col.cast("string"))), F.lit("[]"))


def metrics_json(metrics: dict[str, Column]) -> Column:
    """Deterministic leaf JSON ``{"m":1.23,...}`` — numbers embedded via
    decimal-string casts (no scientific notation, engine-portable), keys in
    given order. NULL metric → JSON null."""
    parts: list[Column] = []
    for i, (name, col) in enumerate(metrics.items()):
        prefix = ("," if i else "") + json_key(name)
        parts.append(F.concat(F.lit(prefix), F.coalesce(col.cast("string"), F.lit("null"))))
    return F.concat(F.lit("{"), *parts, F.lit("}"))


def nest_json(
    df: DataFrame,
    group_cols: Sequence[str],
    level_cols: Sequence[str],
    leaf_json: Column,
) -> DataFrame:
    """Fold a (group, level1..levelN, leaf_json) frame into one nested JSON
    string per group: ``{"l1":{"l2":{...leaf...}}}`` with keys sorted at
    every level (deterministic).

    One grouped pass per level, leaf → root — the reference's staged
    rollup (mlvar/d_bolome_user_order.clj:80-132) re-expressed; each stage
    shuffles on a strict prefix of the previous stage's key, so AQE/
    partial aggregation keep it pipeline-friendly at scale.
    """
    out = df.withColumn("__json", leaf_json)
    for depth in range(len(level_cols), 0, -1):
        keys = list(group_cols) + list(level_cols[: depth - 1])
        level = level_cols[depth - 1]
        entries = F.array_sort(
            F.collect_list(F.struct(F.col(level).alias("k"), F.col("__json").alias("v")))
        )
        out = out.groupBy(*[F.col(k) for k in keys]).agg(
            _json_map(entries).alias("__json")
        )
    return out.withColumnRenamed("__json", "tree_json")


def _fold_entries(entries: Column) -> Column:
    """Join a sorted array<struct<k,v>> into ``"k1":v1,"k2":v2`` (v already
    JSON, k escaped by :func:`json_string`). An entry with a NULL key or
    value is dropped on its own — DuckDB ``string_agg`` semantics, which
    the oracles use — instead of nulling the whole body."""
    return F.array_join(
        F.transform(
            entries,
            lambda e: F.when(
                e["k"].isNotNull(), F.concat(json_string(e["k"]), F.lit(":"), e["v"])
            ),
        ),
        ",",
    )


def _json_map(entries: Column) -> Column:
    """``{`` + :func:`_fold_entries` + ``}``; NULL when every key is NULL,
    as ``'{' || string_agg(...) || '}'`` is."""
    return F.when(
        F.array_max(entries["k"]).isNotNull(),
        F.concat(F.lit("{"), _fold_entries(entries), F.lit("}")),
    )


def conf_json(conf: Column, conf_str: Column) -> Column:
    """Deterministic JSON body (no braces) of a skeleton node's config DATA:
    numeric entries then string entries, each key-sorted."""
    num = F.array_sort(
        F.transform(
            F.map_entries(conf),
            lambda e: F.struct(e["key"].alias("k"), e["value"].cast("string").alias("v")),
        )
    )
    txt = F.array_sort(
        F.transform(
            F.map_entries(conf_str),
            lambda e: F.struct(e["key"].alias("k"), json_string(e["value"]).alias("v")),
        )
    )
    return _fold_entries(F.concat(num, txt))


def nest_trgx_json(
    rows: DataFrame,
    group_cols: Sequence[str],
    max_depth: int,
    path_col: str = "path",
    data_json_col: str = "data_json",
) -> DataFrame:
    """Fold per-node (group, path, data_json) rows into ONE reference-shaped
    trgx JSON per group: ``{label: {"DATA": {...}, "CHILDREN": {label:
    ...}}}`` — the ``{node {:DATA … :CHILDREN …}}`` EDN the reference ships
    between jobs (mlvar/d_bolome_user_order.clj:80-132, ziptkv
    [:DATA :CHILDREN]), emitted as JSON.

    Unlike :func:`nest_json` (fixed-depth leaves), this accepts RAGGED
    trees: any node at any depth may carry data; children fold under their
    parent via one grouped pass + broadcast-sized join per level
    (``max_depth`` is config-bounded, so the loop is short; every shuffle
    key is (group, path-prefix) — partial aggregation applies)."""
    g = list(group_cols)
    p = F.col(path_col)
    cur = None  # (group..., __path, __json) at depth+1
    for depth in range(max_depth, 0, -1):
        nodes = rows.where(F.size(p) == depth).select(
            *[F.col(c) for c in g],
            p.alias("__path"),
            F.coalesce(F.col(data_json_col), F.lit("{}")).alias("__data"),
        )
        if cur is not None:
            entries = F.array_sort(
                F.collect_list(
                    F.struct(
                        F.element_at(F.col("__path"), -1).alias("k"),
                        F.col("__json").alias("v"),
                    )
                )
            )
            children = (
                cur.withColumn("__parent", F.slice(F.col("__path"), 1, depth))
                .groupBy(*[F.col(c) for c in g], F.col("__parent"))
                .agg(_json_map(entries).alias("__ch"))
                .withColumnRenamed("__parent", "__path")
            )
            nodes = nodes.join(children, on=[*g, "__path"], how="left")
        else:
            nodes = nodes.withColumn("__ch", F.lit(None).cast("string"))
        cur = nodes.select(
            *[F.col(c) for c in g],
            "__path",
            F.concat(
                F.lit('{"DATA":'),
                F.col("__data"),
                F.lit(',"CHILDREN":'),
                F.coalesce(F.col("__ch"), F.lit("{}")),
                F.lit("}"),
            ).alias("__json"),
        )
    roots = F.array_sort(
        F.collect_list(
            F.struct(F.element_at(F.col("__path"), 1).alias("k"), F.col("__json").alias("v"))
        )
    )
    return cur.groupBy(*[F.col(c) for c in g]).agg(_json_map(roots).alias("tree_json"))
