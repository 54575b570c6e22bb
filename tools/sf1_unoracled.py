"""Spark-side sf1 evidence for the queries whose DuckDB oracles are
UNAFFORDABLE at sf1 (iterative connected-components CTEs, all-pairs
verification, k-means recurrences: each >90 s, some >hours, in DuckDB —
measured by the round-9 probe; the affordable 181 are value-checked by
``correctness_local.py --only`` into ``CORRECTNESS_local_sf1_subset.json``).

Oracle-free is not evidence-free. For each excluded query this harness
records rows + wall at sf1, and — where the query's own semantics admit a
self-contained check — asserts an INVARIANT the result must satisfy:

- ``cluster_keyed_split_audit``: every surviving matrix cell is diagonal
  (split_a == split_b) and non-leaky — the query's entire contract.
- ``neardup_clusters``: the min-label contract of connected components —
  every doc appears once and each ``cluster_id`` is the minimum ``doc_id``
  of its cluster (so that doc carries its own id), checked distributed on
  the one build, no driver collect of data rows. ``neardup_clusters_star``
  registers the same builder and records rows-only.
- ``dedup_cluster_sizes``: per-row arithmetic (docs_removable ==
  (cluster_size-1)*n_clusters) AND the histogram must equal the one
  recomputed from ``neardup_clusters``' output.
- ``pagerank_copurchase``: every node keeps at least the teleport floor
  ((15 * base) div 100 with base = RANK_SCALE div N — the engine splits a
  FIXED 1e12-unit pool over the node set, graph.py:29) and total mass
  stays within the truncation-loss envelope of the initial pool (mass
  only ever shrinks: integer division truncates; the symmetrized
  co-purchase graph has no dangling nodes).

Everything else records rows-only (the same weaker tier the driver's
CORRECTNESS gate records for non-SQL-expressible ops).

Usage: python tools/sf1_unoracled.py [sf_dir] [out.json]
Defaults: /tmp/etl_sf1  SF1_UNORACLED.json (repo root).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from etl_cascalog_spark.catalog import QUERIES  # noqa: E402
from etl_cascalog_spark.session import get_spark, scoped_storage  # noqa: E402

ROWS_ONLY = [
    "corpus_curation_pipeline",
    "entity_blocking_pairs",
    "fs_linkage_scores",
    "neardup_clusters_star",
    "neardup_keep_best",
    "prefix_filter_jaccard_dedup",
    "semantic_dedup_kmeans",
    "simhash_dedup",
    "training_data_pipeline",
    "triangle_count",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/etl_sf1"
    out_path = Path(
        sys.argv[2]
        if len(sys.argv) > 2
        else Path(__file__).resolve().parent.parent / "SF1_UNORACLED.json"
    )
    spark = get_spark()
    results: dict[str, dict] = {}
    n_fail = 0

    def run(name: str, check=None) -> None:
        nonlocal n_fail
        t0 = time.perf_counter()
        row: dict = {"rows": None, "wall_s": None, "invariant": None, "err": None}
        try:
            with scoped_storage(spark):
                df = QUERIES[name].build(spark, sf_dir)
                row["rows"] = df.count()
                if check is not None:
                    row["invariant"] = check(df)
        except Exception as e:  # noqa: BLE001 - recorded, not swallowed
            row["err"] = repr(e)[:500]
            n_fail += 1
        row["wall_s"] = round(time.perf_counter() - t0, 2)
        if row["invariant"] is False or row["err"]:
            n_fail += 1 if row["invariant"] is False else 0
        results[name] = row
        print(f"# {name}: {row}", file=sys.stderr)

    # --- invariant-checked ------------------------------------------------
    def chk_split_audit(df) -> bool:
        bad = df.filter(
            (F.col("split_a") != F.col("split_b")) | F.col("leaky")
        ).count()
        return bad == 0

    run("cluster_keyed_split_audit", chk_split_audit)

    def chk_cc_labels(df) -> bool:
        if df.select("doc_id").distinct().count() != df.count():
            return False
        mins = df.groupBy("cluster_id").agg(F.min("doc_id").alias("min_doc"))
        return mins.filter(F.col("min_doc") != F.col("cluster_id")).count() == 0

    run("neardup_clusters", chk_cc_labels)

    def chk_sizes(df) -> bool:
        bad = df.filter(
            F.col("docs_removable")
            != (F.col("cluster_size") - 1) * F.col("n_clusters")
        ).count()
        if bad:
            return False
        hist = {
            (r.cluster_size, r.n_clusters)
            for r in df.select("cluster_size", "n_clusters").collect()
        }  # histogram rows: one per distinct size — bounded, not data-scale
        clusters = QUERIES["neardup_clusters"].build(spark, sf_dir)
        want = {
            (r.cluster_size, r.n_clusters)
            for r in clusters.groupBy("cluster_id")
            .count()
            .withColumnRenamed("count", "cluster_size")
            .groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters"))
            .filter(F.col("cluster_size") > 1)
            .collect()
        }
        return hist == want

    run("dedup_cluster_sizes", chk_sizes)

    def chk_pagerank(df) -> bool:
        from etl_cascalog_spark.operators.graph import RANK_SCALE

        agg = df.agg(
            F.min("rank_units").alias("mn"),
            F.sum("rank_units").alias("total"),
            F.count("*").alias("n"),
        ).collect()[0]
        base = RANK_SCALE // agg.n  # engine splits a FIXED pool over N
        pool = agg.n * base
        # teleport floor: (15*base) div 100, minus div-truncation slack
        floor_ok = agg.mn >= (15 * base) // 100 - 2
        # integer truncation only ever LOSES mass (no dangling nodes on
        # the symmetrized co-purchase graph): pool >= total >= 99% pool
        mass_ok = pool >= agg.total >= int(pool * 0.99)
        return bool(floor_ok and mass_ok)

    run("pagerank_copurchase", chk_pagerank)

    # --- rows-only --------------------------------------------------------
    for name in ROWS_ONLY:
        run(name)

    wall = round(sum(r["wall_s"] or 0 for r in results.values()), 1)
    payload = {
        "sf_dir": sf_dir,
        "total_wall_s": wall,
        "n_fail": n_fail,
        "results": results,
    }
    out_path.write_text(json.dumps(payload, indent=1))
    print(f"# wrote {out_path} ({len(results)} queries, {n_fail} failures)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
