"""Deduplication operators for LLM training-data pipelines.

Beyond-reference surface (BASELINE.json north star). Five tiers, all
DataFrame-native (no Python in the distributed path):

- **exact**      — md5(normalized text) hash-groupBy; one shuffle on digest.
- **n-gram Jaccard** — exact all-pairs similarity via inverted shingle
  index (explode → self-join on shingle → pair counts). Quadratic in
  per-shingle document frequency — correctness baseline & oracle, not the
  100 TB path.
- **MinHash + LSH** — the scale path: K permutation-min signatures per doc
  (one grouped pass), banded into B buckets; only same-bucket pairs are
  candidates, then exact-Jaccard verified. Work is ~linear in corpus size
  for bounded bucket sizes; banding params tune recall at the threshold
  (P[candidate] = 1-(1-j^r)^b).
- **SimHash**    — 64-bit sign-sum sketch over shingle hashes; candidates
  from matching 16-bit bands, verified by Hamming distance.
- **embedding cosine** — semantic near-dups at cosine ≥ t via
  hyperplane-LSH bucket join (``embedding_neardup_pairs``).

At 100 TB: the shingle explode is map-side; the signature pass is one
shuffle on doc_id (combiner-friendly mins); the LSH bucket join shuffles
(band_id, band_hash) — hot buckets (boilerplate docs) are the skew risk, so
bucket sizes are capped (``max_bucket``) exactly like production MinHash
pipelines cap posting lists.
"""

from __future__ import annotations

import random
from decimal import Decimal
from itertools import count as _itercount

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_cascalog_spark.operators.text import (
    fingerprint_md5,
    shingles_from_tokens,
    whitespace_tokens,
)

#: Mersenne prime 2^31-1 — modulus for the permutation hash family. Small
#: enough that (a·h + b) actually WRAPS (a monotonic affine map would make
#: every "permutation" pick the same min shingle), large enough that a·h
#: stays below 2^63 under ANSI long arithmetic (a < 2^30, h < 2^32).
_MERSENNE = (1 << 31) - 1

#: Default LSH band-bucket skew cap. Shared with the DuckDB oracle
#: (catalog._minhash_oracle_sql) so the banding the oracle mirrors can
#: never silently de-sync from the banding the operator runs.
DEFAULT_MAX_BUCKET = 500

#: skew cap for entity-resolution blocking (blocked_entity_pairs) — a
#: module constant for the same reason as DEFAULT_MAX_BUCKET: the catalog
#: oracle interpolates it, so the cap the oracle mirrors can never
#: de-sync from the cap the operator enforces. (Round-7 lesson: the cap
#: first BINDS at sf1 — blocks of ~1200 > 1000 — and the unmirrored
#: oracle reported 3.93M pairs against the engine's 99.6k.)
DEFAULT_MAX_BLOCK = 1000


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized-text digest. Returns one representative row
    (min id) per distinct text with the duplicate count. One shuffle, keyed
    on the digest (uniform — no skew by construction)."""
    return (
        df.select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(doc, sh: array<string>) — tokenize ONCE into a materialized column,
    then shingle (see shingles_from_tokens performance note)."""
    from etl_cascalog_spark.io import ensure_min_parallelism

    df = ensure_min_parallelism(df, id_col)
    return df.select(
        F.col(id_col).alias("doc"),
        whitespace_tokens(F.col(text_col)).alias("__w"),
    ).select("doc", shingles_from_tokens(F.col("__w"), n).alias("sh"))


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) long format — the inverted-index input.

    ``explode_outer`` + null filter, NOT plain ``explode``: Catalyst infers
    ``size(sh) > 0 AND isnotnull(sh)`` from a non-outer Generate and pushes
    that predicate through the parallelism-guard exchange down to the file
    scan — which re-evaluates the ENTIRE shingle zip_with chain (twice!) in
    the scan's few tasks. Measured on decontamination_13gram at sf0.1: a 4 s
    single-task scan stage doing 13-gram assembly the repartition existed to
    parallelize. The outer generate has nothing to infer; empty docs emit one
    null row that the cheap post-explode filter drops — identical output.
    """
    return (
        shingle_arrays(df, id_col, text_col, n)
        .select("doc", F.explode_outer(F.col("sh")).alias("shingle"))
        .where(F.col("shingle").isNotNull())
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold, via the inverted
    shingle index (no N² cross join): pairs sharing ≥1 shingle get a common
    count; |A∪B| = |A|+|B|-common. Every shared shingle generates a
    candidate, so one boilerplate shingle fans out quadratically in its
    document frequency; :func:`prefix_filter_jaccard_pairs` is the exact
    path that prunes it (length and prefix filters, as in *Highly
    Efficient String Similarity Search and Join over Compressed Indexes*,
    ICDE 2022).

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sh = shingle_sets(df, id_col, text_col, n).cache()
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.toDF("doc_a", "shingle")
    b = sh.toDF("doc_b", "shingle")
    common = (
        a.join(b, on="shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.toDF("doc_a", "na")
    sb = sizes.toDF("doc_b", "nb")
    j = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact Jaccard similarity join via PREFIX FILTERING (the published
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08):
    the third dedup tier, between the all-shingles inverted index
    (:func:`jaccard_pairs` — every shared shingle generates a candidate)
    and MinHash banding (:func:`minhash_lsh_pairs` — probabilistic
    recall).

    Principle: order every doc's shingles by GLOBAL rarity (df asc, then
    shingle — any shared total order works) and keep only the first
    ``p = |r| − ⌈t·|r|⌉ + 1`` as its *prefix*. Pigeonhole guarantees any
    pair with ``J ≥ t`` shares at least one prefix shingle, so the
    candidate join runs over prefixes only — and because prefixes hold
    each doc's RAREST shingles, the join's per-key fan-out is bounded by
    the df of rare tokens (the boilerplate shingle that detonates the
    naive index join is, by construction, last in every prefix-ordering
    and almost never inside a prefix). Candidates are then verified
    exactly on the full sets, so recall is 100% — no banding probability,
    no document-frequency cap.

    Candidates additionally pass the published LENGTH filter before the
    dedup shuffle (round 13): ``J(A,B) ≥ t`` forces ``t·|A| ≤ |B| ≤
    |A|/t``, so a size-incompatible prefix collision can never verify —
    dropping it early only removes false candidates (measured at sf0.1:
    202k → 104k distinct candidates, exact same verified output).
    Verification shingles ONLY docs in some surviving candidate pair —
    the :func:`minhash_lsh_pairs` discipline: at corpus scale the
    verification join would otherwise shuffle every doc's full shingle
    set for a join that keeps the near-dup fraction.

    100 TB shape: one df-count agg + one rarity-sorted per-doc pass
    (both shuffle on shingle/doc), candidate equi-join on prefix shingles
    with the length predicate, id-pruned exact verification. Output:
    (doc_a, doc_b, jaccard), doc_a < doc_b.
    """
    sh = shingle_sets(df, id_col, text_col, n).cache()
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    ordered = (
        sh.join(dfreq, "shingle")
        .groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("__df").alias("d"), F.col("shingle").alias("s"))
                )
            ).alias("ord")
        )
    )
    # ⌈t·sz⌉ in exact decimal arithmetic: in double, 25 · 0.56 is
    # 14.000000000000002, which shortens the prefix and fails the length
    # filter for a pair whose Jaccard is exactly t
    t = F.lit(Decimal(repr(threshold)))

    def min_overlap(sz: Column) -> Column:
        return F.ceil(t * sz)

    size = F.size("ord")
    p = (size - min_overlap(size) + 1).cast("int")
    pref = ordered.select(
        "doc",
        size.alias("sz"),
        F.explode(F.slice("ord", F.lit(1), p)).alias("e"),
    ).select("doc", "sz", F.col("e.s").alias("shingle"))
    a = pref.toDF("doc_a", "sz_a", "shingle")
    b = pref.toDF("doc_b", "sz_b", "shingle")
    candidates = (
        a.join(b, on="shingle")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: |B| ≥ ⌈t·|A|⌉ AND |A| ≥ ⌈t·|B|⌉ (symmetric form)
            & (F.col("sz_b") >= min_overlap(F.col("sz_a")))
            & (F.col("sz_a") >= min_overlap(F.col("sz_b")))
        )
        .select("doc_a", "doc_b")
        .distinct()
        .cache()  # feeds the id prune AND the verification joins
    )
    cand_ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .unionByName(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    pruned = df.join(cand_ids, id_col, "left_semi")
    sets = shingle_arrays(pruned, id_col, text_col, n).cache()
    sa = sets.toDF("doc_a", "sh_a")
    sb = sets.toDF("doc_b", "sh_b")
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - common
    jx = common.cast("double") / union.cast("double")
    return (
        # bare candidate attach — corpus-proportional side (SCALE.md)
        sa.join(candidates, "doc_a")
        .join(sb, "doc_b")
        .where(jx >= threshold)
        .select("doc_a", "doc_b", F.round(jx, 4).alias("jaccard"))
    )


def _perm_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    # coefficients < 2^30 with a 32-bit base hash: a*h + b < 2^62 — no
    # long overflow under ANSI arithmetic
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30))
        for _ in range(num_hashes)
    ]


def _minhash_min_exprs(num_hashes: int, seed: int = 42) -> list[Column]:
    """The K permutation-min aggregate expressions over a base-hash column
    ``h`` — one parsed string per permutation (round 12: the py4j-built
    Column chain measured ~0.5 s of driver Python per plan BUILD for
    K=64); shared by every signature pass (batch, incremental)."""
    return [
        F.expr(f"min(({a}L * h + {b}L) % {_MERSENNE}L) AS mh_{i}")
        for i, (a, b) in enumerate(_perm_params(num_hashes, seed))
    ]


def _band_array_expr(bands: int, rows: int, hash_fn: str = "xxhash64") -> Column:
    """The banded-struct array over signature columns ``mh_0..mh_{K-1}``
    as ONE parsed expression (round 12: ~130 py4j calls otherwise, same
    analyzed tree). ``hash_fn="md5"`` renders the injective min-tuple
    string key instead (oracle-reproducible banding)."""

    def band_key_sql(bi: int) -> str:
        cols = ", ".join(f"mh_{bi * rows + r}" for r in range(rows))
        if hash_fn == "md5":
            return f"concat_ws('_', {cols})"
        return f"xxhash64({cols})"

    return F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {bi}, 'bh', {band_key_sql(bi)})"
            for bi in range(bands)
        )
        + ")"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """K-permutation MinHash signatures in ONE grouped pass: per shingle
    compute a 32-bit base hash, then K affine permutations (a*h+b) mod M;
    groupBy(doc) takes the K mins simultaneously (partial aggregation
    combines map-side — the shuffle carries K longs per doc, not shingles).

    ``hash_fn="xxhash64"`` (default) is the production fast path (one
    JVM-intrinsic hash per shingle). ``hash_fn="md5"`` takes the first 8
    hex digits of ``md5(shingle)`` — md5 specifically so a SQL oracle can
    reproduce the signatures bit-for-bit (DuckDB:
    ``CAST('0x' || substr(md5(s),1,8) AS BIGINT)``), the same convention
    as :func:`simhash_sketch`. Hash quality is equivalent; only which
    borderline pairs happen to band together differs.
    """
    # materialize the base hash once per shingle row — inlined, the
    # hash sub-expression would be re-evaluated inside each of the K
    # min-aggregates (same lesson as simhash_sketch)
    if hash_fn == "md5":
        base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast(
            "long"
        )
    elif hash_fn == "xxhash64":
        base = F.xxhash64(F.col("shingle")).bitwiseAND(F.lit((1 << 32) - 1))
    else:
        raise ValueError(f"minhash_signatures: unknown hash_fn {hash_fn!r}")
    sh = shingle_sets(df, id_col, text_col, n).select("doc", base.alias("h"))
    return sh.groupBy("doc").agg(*_minhash_min_exprs(num_hashes, seed))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified.

    Banding: ``num_hashes/bands`` rows per band; docs sharing any band
    bucket become candidates; candidates are verified with the exact
    n-gram Jaccard so the output is a SUBSET of the exact pairs ≥
    threshold with recall ≈ 1-(1-j^r)^b (0.988 at j=0.70 with 64/16
    banding, → 1 as j → 1; measured against a controlled-Jaccard corpus
    in tests/test_operators.py::test_minhash_banding_recall_curve —
    0.168/0.644/0.988/1.000 at j=0.33/0.51/0.70/0.86 vs theory
    0.180/0.672/0.988/1.000). That recall is PROBABILISTIC: at sf1 the
    corpus holds ~250k qualifying pairs and ~5 misses materialize — an
    oracle asserting equality with the exact pair set is wrong BY DESIGN;
    value-exact oracles must mirror the banding step (``hash_fn="md5"``).

    ``hash_fn`` selects the shingle base hash (see
    :func:`minhash_signatures`); the md5 path also swaps the band-bucket
    key from ``xxhash64(mins)`` to the min-tuple itself rendered as a
    string — injective, so the candidate set is EXACTLY "all r mins in
    some band equal", reproducible in any SQL engine with md5.

    ``max_bucket`` drops degenerate buckets (boilerplate explosion) — the
    skew cap; dropped buckets are counted in the plan, not silently
    (see SCALE.md).
    """
    rows = num_hashes // bands
    # cache: the signature pipeline feeds both sides of the bucket
    # self-join — without this Spark recomputes shingling+K mins twice
    sigs = minhash_signatures(
        df, id_col, text_col, n, num_hashes, seed, hash_fn=hash_fn
    ).cache()

    band_cols = _band_array_expr(bands, rows, hash_fn)
    banded = sigs.select(F.col("doc"), F.explode(band_cols).alias("b")).select(
        "doc", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    # cap pathological buckets (skew guard) with ONE shuffle: an unordered
    # count-over-window partitions on (band, bh), and the self-join below
    # reuses that exact partitioning (no second exchange for the cap join)
    from pyspark.sql import Window

    capped = (
        banded.withColumn(
            "__sz", F.count("*").over(Window.partitionBy("band", "bh"))
        )
        .where(F.col("__sz") <= max_bucket)
        .drop("__sz")
        .cache()  # feeds both sides of the bucket self-join
    )
    a = capped.select(F.col("doc").alias("doc_a"), "band", "bh")
    b = capped.select(F.col("doc").alias("doc_b"), "band", "bh")
    candidates = (
        a.join(b, on=["band", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .cache()  # feeds the id prune AND the verification joins (bare equi-joins, no broadcast)
    )
    # exact verification on candidates only: candidates is small RELATIVE
    # to the corpus (the point of LSH) but still PROPORTIONAL to the
    # near-dup population — billions of pairs on a 10^10-doc web corpus —
    # so neither the pair list nor its id set may carry a mandatory
    # broadcast hint (SCALE.md "never force-broadcast the dup
    # population"). Both attach via bare doc-key equi-joins; the
    # candidate subtree is a plain shuffle output, so AQE sees its REAL
    # size and still broadcast-converts these joins while they fit.
    # Shingling is still pruned to docs in some candidate pair: at
    # corpus scale re-shingling every doc for a verification that
    # touches the near-dup fraction would double the dominant map cost
    cand_ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .unionByName(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    pruned = df.join(cand_ids, id_col, "left_semi")
    sets = shingle_arrays(pruned, id_col, text_col, n).cache()
    sa = sets.toDF("doc_a", "sh_a")
    sb = sets.toDF("doc_b", "sh_b")
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - common
    j = common.cast("double") / union.cast("double")
    return (
        sa.join(candidates, "doc_a")
        .join(sb, "doc_b")
        .where(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
    )


def simhash_sketch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """64-bit SimHash as a bits array: bit b = sign of Σ_shingles ±1 by the
    b-th bit of the shingle's 64-bit hash.

    ``hash_fn="md5"`` (default) takes the first 16 hex digits of
    ``md5(shingle)`` — md5 specifically so the DuckDB oracle can reproduce
    the sketch bit-for-bit (both engines emit identical lowercase-hex md5;
    bit b is bit ``3-(b%4)`` of hex digit ``b//4``). ``hash_fn="xxhash64"``
    is the production fast path: one JVM-intrinsic 64-bit hash per shingle
    instead of md5 + 16 hex-digit ``conv`` columns (measured 4.0s → 3.0s on
    the sf0.1 sketch stage — the remainder is shingling, shared by both).
    Bit uniformity is equivalent; only oracle reproducibility is lost.
    Different hashes flip borderline (near-threshold-Hamming) pairs, so
    the two paths agree on strong duplicates, not bit-for-bit.

    Shape chosen for whole-stage codegen: explode shingle hashes to rows,
    materialize the 16 digit values ONCE per row (an inline md5 would be
    re-evaluated inside each of the 64 aggregate expressions), then ONE
    groupBy(doc) with 64 conditional-sum aggregates (partial aggregation
    combines map-side — the shuffle carries 64 longs per doc). An earlier
    higher-order-fold formulation (64 ``F.aggregate`` lambdas over the
    per-doc hash array) was ~20× slower: array lambdas are interpreted,
    column sums are codegen'd.
    """
    # the 64 vote aggregates and the 64-way bits array parse as SQL text
    # (round 12): the py4j-built Column chains measured ~0.7 s of driver
    # Python per plan BUILD — identical analyzed trees either way
    bits = F.expr(
        "array("
        + ", ".join(
            f"CASE WHEN v{b} > 0 THEN 1 ELSE 0 END" for b in range(64)
        )
        + ")"
    )
    if hash_fn == "xxhash64":
        hashed = shingle_sets(df, id_col, text_col, n).select(
            "doc", F.xxhash64(F.col("shingle")).alias("h64")
        )
        votes = hashed.groupBy("doc").agg(
            *[
                F.expr(
                    f"sum(CASE WHEN (shiftright(h64, {63 - b}) & 1) = 1"
                    f" THEN 1 ELSE -1 END) AS v{b}"
                )
                for b in range(64)
            ]
        )
        return votes.select("doc", bits.alias("bits"))
    sh = shingle_sets(df, id_col, text_col, n).select(
        "doc", F.md5(F.col("shingle")).alias("hx")
    )
    digits = sh.selectExpr(
        "doc",
        *[
            f"CAST(conv(substring(hx, {i + 1}, 1), 16, 10) AS INT) AS d{i}"
            for i in range(16)
        ],
    )
    votes = digits.groupBy("doc").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(d{b // 4}, {3 - (b % 4)}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS v{b}"
            )
            for b in range(64)
        ]
    )
    return votes.select("doc", bits.alias("bits"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_hamming: int = 3,
    bands: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """SimHash near-dup pairs: candidates share at least one of ``bands``
    (64/bands)-bit bands; verified by exact Hamming distance.

    Pigeonhole guarantee: a pair within Hamming ≤ bands-1 differs in at
    most bands-1 bands, so at least one band matches — recall is exact for
    ``max_hamming ≤ bands - 1`` (the default). Larger ``max_hamming``
    requires more/narrower bands (candidate volume grows ~n²/2^width —
    the classic simhash recall/cost dial; at 100 TB keep wide bands and
    treat the output as high-precision candidates).

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    sk = simhash_sketch(df, id_col, text_col, n, hash_fn=hash_fn)
    width = 64 // bands
    band_cols = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "",
                    *[F.element_at(F.col("bits"), bi * width + r + 1) for r in range(width)],
                ).alias("bh"),
            )
            for bi in range(bands)
        ]
    )
    banded = (
        sk.select("doc", "bits", F.explode(band_cols).alias("b"))
        .select("doc", "bits", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
        .cache()  # the 64-fold sketch feeds both sides of the band self-join
    )
    a = banded.select(F.col("doc").alias("doc_a"), F.col("bits").alias("bits_a"), "band", "bh")
    b = banded.select(F.col("doc").alias("doc_b"), F.col("bits").alias("bits_b"), "band", "bh")
    hamming = F.aggregate(
        F.zip_with(F.col("bits_a"), F.col("bits_b"), lambda x, y: F.when(x != y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, on=["band", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_neardup_pairs(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the fifth dedup tier: semantic
    near-dups that share no n-grams (paraphrases, re-encodes) but sit at
    cosine ≥ ``threshold`` in embedding space.

    Scale path: hyperplane-LSH bucketing (similarity.lsh_bucket over
    ``planes``, built by similarity.hyperplanes) turns the quadratic
    all-pairs scan into an equi-join keyed on the sign bucket — one
    shuffle on bucket id, candidate volume ~ Σ bucket², tunable via the
    plane count (more planes → smaller buckets → higher precision, lower
    recall for borderline pairs). True duplicates (cosine ≈ 1) have
    identical sign patterns by construction, so recall at the dedup
    threshold is exact; at 100 TB add band-OR over several plane sets the
    same way minhash_lsh_pairs bands signatures.

    Output: (id_a, id_b, cos_sim) with id_a < id_b, cos_sim ≥ threshold.
    """
    from etl_cascalog_spark.io import ensure_min_parallelism
    from etl_cascalog_spark.operators.similarity import dot, lsh_bucket, norm

    df = ensure_min_parallelism(df, id_col)
    # per-row norms computed once per side, not per candidate pair (values
    # bit-identical to the per-pair cosine the oracle states)
    sides = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("n"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    ).cache()  # feeds both sides of the bucket self-join
    a = sides.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"), "bucket")
    b = sides.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"), "bucket")
    return (
        a.join(b, on="bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def incremental_dedup(
    new_df: DataFrame,
    history_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Delta-vs-history dedup — the shape a daily 100 TB ingest actually
    runs: dedup the NEW batch against the curated corpus without ever
    re-examining history-vs-history.

    Drops a new doc when (1) its normalized digest already exists in
    history, (2) a lower-id new doc shares its digest, or (3) it is an
    exact-Jaccard-verified near-dup (≥ ``threshold``) of a history doc or
    of a lower-id new doc. Returns the surviving new rows.

    100 TB posture: history contributes one digest column (anti join) and
    one signature pass (banded buckets); the candidate bucket join is
    new-side-driven — |new_banded| ⋈ (history ∪ new) on (band, bucket) —
    so cost scales with the DELTA, not the corpus. At steady state the
    history signatures are precomputed once and stored (signature
    columns are plain longs — parquet them beside the corpus); here they
    are derived inline for self-containedness. Verification joins are
    candidate-sized and broadcast, as in :func:`minhash_lsh_pairs`.
    """
    fp_new = new_df.select(
        F.col(id_col), fingerprint_md5(F.col(text_col)).alias("__fp")
    )
    fp_hist = history_df.select(
        fingerprint_md5(F.col(text_col)).alias("__fp")
    ).distinct()
    # (1) digest already in history
    survivors = fp_new.join(fp_hist, on="__fp", how="left_anti")
    # (2) lower-id duplicate within the batch
    from pyspark.sql import Window

    w = Window.partitionBy("__fp")
    survivors = (
        survivors.withColumn("__keep", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("__keep"))
        .select(id_col)
    )
    new_surv = new_df.join(survivors, on=id_col, how="left_semi").cache()

    rows = num_hashes // bands
    # ONE signature/banding pass over history ∪ surviving delta (round 13;
    # was one full shingle+K-mins shuffle per side): a (id, side) struct
    # key keeps any id that appears on both sides separate, so the
    # signatures are exactly the two separate passes' values. The banding
    # array parses as one expression (the round-12 de-py4j treatment,
    # which this operator had missed).
    tagged = history_df.select(
        F.struct(
            F.col(id_col).alias("__id"), F.lit(1).alias("__hist")
        ).alias("__k"),
        F.col(text_col),
    ).unionByName(
        new_surv.select(
            F.struct(
                F.col(id_col).alias("__id"), F.lit(0).alias("__hist")
            ).alias("__k"),
            F.col(text_col),
        )
    )
    base = F.xxhash64(F.col("shingle")).bitwiseAND(F.lit((1 << 32) - 1))
    sh = shingle_sets(tagged, "__k", text_col, n).select(
        "doc", base.alias("h")
    )
    sigs = sh.groupBy("doc").agg(*_minhash_min_exprs(num_hashes, seed))
    b_all = (
        sigs.select("doc", F.explode(_band_array_expr(bands, rows)).alias("b"))
        .select(
            F.col("doc.__id").alias("__bid"),
            F.col("doc.__hist").alias("__hist"),
            F.col("b.band").alias("band"),
            F.col("b.bh").alias("bh"),
        )
        .cache()  # feeds the new-side probe AND the full build side
    )
    b_new = b_all.where(F.col("__hist") == 0).select(
        F.col("__bid").alias("doc_n"), "band", "bh"
    )
    # candidates driven by the NEW side only, in ONE bucket join (was
    # new-vs-history + new-vs-new + union): a history row always
    # qualifies, a new row only below the probe id (lower-id new doc
    # wins) — the union of the two joins, identically deduplicated
    candidates = (
        b_new.join(
            b_all.select(F.col("__bid").alias("doc_h"), "__hist", "band", "bh"),
            on=["band", "bh"],
        )
        .where((F.col("__hist") == 1) | (F.col("doc_h") < F.col("doc_n")))
        .select("doc_n", "doc_h")
        .distinct()
        .cache()  # bounded (bucket-join output); feeds BOTH id prunes
        # and the verification join
    )

    # verification shingles ONLY the candidate docs: at 100 TB the
    # history side is the corpus, and shingling it wholesale for a
    # verification join that keeps |candidates| rows would be the single
    # largest cost in the job. The candidate id sets are bucket-join
    # outputs — bounded, broadcast-able.
    cand_h_ids = candidates.select(F.col("doc_h").alias(id_col)).distinct()
    cand_n_ids = candidates.select(F.col("doc_n").alias(id_col)).distinct()
    hist_cand = history_df.join(F.broadcast(cand_h_ids), id_col, "left_semi")
    new_h_cand = new_surv.join(F.broadcast(cand_h_ids), id_col, "left_semi")
    new_n_cand = new_surv.join(F.broadcast(cand_n_ids), id_col, "left_semi")
    sh_new = shingle_arrays(new_n_cand, id_col, text_col, n).toDF("doc_n", "sh_n")
    sh_all = (
        shingle_arrays(hist_cand, id_col, text_col, n)
        .unionByName(shingle_arrays(new_h_cand, id_col, text_col, n))
        .toDF("doc_h", "sh_h")
    )
    common = F.size(F.array_intersect(F.col("sh_n"), F.col("sh_h")))
    union = F.size(F.col("sh_n")) + F.size(F.col("sh_h")) - common
    j = common.cast("double") / union.cast("double")
    losers = (
        sh_new.join(F.broadcast(candidates), "doc_n")
        .join(sh_all, "doc_h")
        .where(j >= threshold)
        .select(F.col("doc_n").alias(id_col))
        .distinct()
    )
    # losers ≈ the near-dup fraction of the DELTA id space — broadcast-able
    # by construction (ids only), keeping the final anti join shuffle-free
    return new_surv.join(F.broadcast(losers), on=id_col, how="left_anti")


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, the number of distinct word
    n-grams it shares with ANY benchmark/eval document (GPT-3 §C / Pile-style
    13-gram overlap scan; n is a parameter — the toy catalog uses 5).

    Returns ``(id_col, n_overlap)`` for contaminated docs only; anti-join the
    corpus against it to scrub.

    100 TB shape: eval sets are tiny (thousands of docs) next to the corpus,
    so the DISTINCT benchmark n-gram set is broadcast and the corpus side is
    a map-side explode feeding a BroadcastHashJoin — the corpus never
    shuffles against itself; the only corpus-sized shuffle is the final
    per-doc count, keyed on doc id (uniform). At real scale the same plan
    ships a Bloom filter of benchmark grams instead of the exact set; the
    exact broadcast IS the verification pass.
    """
    # explode_outer + null filter: see shingle_sets — a plain explode lets
    # Catalyst push the inferred size(sh)>0 predicate (the full n-gram
    # assembly chain, evaluated twice) below the repartition into the
    # near-serial scan stage
    bench_grams = (
        shingle_arrays(benchmark, id_col, text_col, n)
        .select(F.explode_outer("sh").alias("gram"))
        .where(F.col("gram").isNotNull())
        .distinct()
    )
    corpus_grams = (
        shingle_arrays(corpus, id_col, text_col, n)
        .select(F.col("doc").alias(id_col), F.explode_outer("sh").alias("gram"))
        .where(F.col("gram").isNotNull())
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        # shingles_from_tokens is distinct-per-doc, so a plain count is the
        # distinct shared-gram count
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )


def passage_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    passage_tokens: int = 10,
) -> DataFrame:
    """Passage-level exact dedup (Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499 — the ExactSubstr
    idea over fixed windows instead of suffix arrays): split each doc into
    non-overlapping ``passage_tokens``-word passages, keep only the globally
    FIRST occurrence of each distinct passage (ordered by (doc id, position)),
    and re-assemble the surviving text per doc.

    Returns ``(id_col, n_passages, n_kept, clean_text)``.

    100 TB shape: two shuffles — one keyed on the passage digest (md5 →
    uniform, skew-free) to pick winners, one keyed on doc id to re-assemble.
    The passage explode is map-side; nothing is quadratic. Suffix-array
    ExactSubstr finds arbitrary-offset repeats that fixed windows miss;
    fixed windows are the shuffle-friendly approximation production corpus
    pipelines actually run at this scale.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("__w")
    ).where(F.size("__w") > 0)
    # non-overlapping windows: passage i covers tokens [i*p+1, (i+1)*p]
    n_psg = F.ceil(F.size("__w") / F.lit(passage_tokens)).cast("int")
    psg = (
        toks.select(
            id_col,
            "__w",
            F.explode(F.sequence(F.lit(0), n_psg - 1)).alias("pos"),
        )
        .select(
            id_col,
            "pos",
            F.concat_ws(
                " ",
                F.slice(
                    "__w", F.col("pos") * passage_tokens + 1, passage_tokens
                ),
            ).alias("passage"),
        )
        .withColumn("digest", F.md5("passage"))
    )
    w = Window.partitionBy("digest")
    first_owner = F.min(F.struct(F.col(id_col), F.col("pos"))).over(w)
    kept = psg.withColumn(
        "__keep",
        (first_owner[id_col] == F.col(id_col))
        & (first_owner["pos"] == F.col("pos")),
    )
    return kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_passages"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.concat_ws(
            " ",
            F.array_compact(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(F.col("pos"), F.col("passage")),
                            )
                        )
                    ),
                    lambda s: s["passage"],
                )
            ),
        ).alias("clean_text"),
    )


def blocked_entity_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    compare_col: str,
    max_dist: int,
    max_block: int = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Entity-resolution candidate pairs: block on ``block_cols``, then
    verify every within-block pair by Levenshtein edit distance on
    ``compare_col`` (``levenshtein`` is a JVM built-in and standard SQL —
    exact integer output, bit-portable to the oracle).

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b`` and
    ``dist <= max_dist``.

    100 TB posture: the same blocking discipline as the LSH dedup family —
    one shuffle on the block key, quadratic ONLY within a block, and
    ``max_block`` drops pathological blocks outright (the ``max_bucket``
    skew cap from :func:`minhash_lsh_pairs`; a dropped block is a signal
    the blocking key is too coarse, not a reason to melt the cluster).
    Blocking keys in practice: phonetic codes, sorted token prefixes,
    geo cells — anything equality-joinable.
    """
    from etl_cascalog_spark.io import ensure_min_parallelism

    # probe side parallel BEFORE the quadratic fan-out: a single-file dim
    # scan otherwise broadcast-joins in ONE task and serializes every
    # pair's levenshtein (the fs_linkage_scores lesson — the sf1
    # parallelism lint flagged this exact stage at 6.8 s of a 7.5 s wall)
    a = ensure_min_parallelism(
        df.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col).alias("id_a"),
            F.col(compare_col).alias("__va"),
        ),
        *block_cols,
    )
    b = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col(compare_col).alias("__vb"),
    )
    if max_block:
        sizes = (
            df.groupBy(*block_cols)
            .agg(F.count("*").alias("__bn"))
            .where(F.col("__bn") <= max_block)
            .drop("__bn")
        )
        a = a.join(F.broadcast(sizes), on=block_cols, how="left_semi")
        b = b.join(F.broadcast(sizes), on=block_cols, how="left_semi")
    # banded 3-arg levenshtein: computes only the ±max_dist diagonal band,
    # returns -1 past the threshold — O(k·n) per pair, identical <= truth
    return (
        a.join(b, on=block_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "dist", F.expr(f"levenshtein(__va, __vb, {int(max_dist)})")
        )
        .where(F.col("dist") != -1)
        .select("id_a", "id_b", "dist")
    )


def pigeonhole_edit_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    n_segments: int = 3,
    max_dist: int = 2,
    max_posting: int = 2000,
) -> DataFrame:
    """Edit-distance similarity self-join via segment pigeonholing (the
    PassJoin partition idea — Li, Deng, Feng, "PassJoin: a partition-based
    method for similarity joins", VLDB 2012): split every string into
    ``n_segments`` near-equal segments; two same-length strings within
    substitution distance ``n_segments - 1`` MUST share at least one
    aligned segment, so candidates come from an equi-join on
    (length, segment_idx, segment_value) instead of all pairs.

    Contract: candidate recall is complete for same-length, substitution-
    only edits with ``max_dist < n_segments`` (position-shifting edits can
    evade aligned segments — full PassJoin probes shifted substrings; this
    is the aligned-segment variant, which is the whole story for
    fixed-format keys: codes, padded ids, normalized phone numbers).
    Every emitted pair is verified by exact ``levenshtein``, so precision
    is always exact.

    Returns ``(id_a, id_b, dist)``, ``id_a < id_b``, ``dist <= max_dist``.

    100 TB posture: one explode (×n_segments, map-side), one shuffle on the
    segment key, quadratic only within a posting list, ``max_posting``
    capping degenerate lists (constant-prefix columns) exactly like
    ``max_bucket`` in the LSH joins; the distinct on candidate pairs folds
    multi-segment agreements before the verify.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(str_col).alias("s"),
        F.length(F.col(str_col)).alias("slen"),
    )
    # segment i of k covers [floor(i*len/k)+1, floor((i+1)*len/k)] —
    # near-equal split that both engines compute identically in int math
    segs = base.select(
        "id",
        "s",
        "slen",
        F.explode(F.sequence(F.lit(0), F.lit(n_segments - 1))).alias("i"),
    ).select(
        "id",
        "s",
        "slen",
        "i",
        F.expr(
            "substring(s, (i * slen div {k}) + 1,"
            " ((i + 1) * slen div {k}) - (i * slen div {k}))".format(
                k=n_segments
            )
        ).alias("seg"),
    )
    if max_posting:
        from pyspark.sql import Window

        pw = Window.partitionBy("slen", "i", "seg")
        segs = segs.withColumn("__pn", F.count("*").over(pw)).where(
            F.col("__pn") <= max_posting
        )
    a = segs.select(
        "slen", "i", "seg", F.col("id").alias("id_a"), F.col("s").alias("__sa")
    )
    b = segs.select(
        "slen", "i", "seg", F.col("id").alias("id_b"), F.col("s").alias("__sb")
    )
    cands = (
        a.join(b, ["slen", "i", "seg"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
    )
    return (
        cands.withColumn("dist", F.levenshtein("__sa", "__sb"))
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


#: monotone suffix so repeated CC builds in one SparkContext never reuse
#: an Observation name (names must be unique per session)
_CC_OBS_SEQ = _itercount()


def _explode_symmetric(e: DataFrame) -> DataFrame:
    """Both edge directions in ONE pass over ``e`` (s/t columns): a
    union of ``e`` with its reverse scans the input lineage twice — fine
    over checkpointed blocks, a doubled map cost over anything expensive.
    explode(array(fwd, rev)) emits the same multiset of rows from a
    single scan."""
    return e.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("s"), F.col("t").alias("t")),
                F.struct(F.col("t").alias("s"), F.col("s").alias("t")),
            )
        ).alias("__e")
    ).select(F.col("__e.s").alias("s"), F.col("__e.t").alias("t"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 15,
) -> DataFrame:
    """Connected components over a near-dup pair graph → ``(node,
    label)`` with ``label`` = the smallest id reachable from ``node``.
    This is the step that turns verified PAIRS into dedup CLUSTERS: keep
    ``node == label``, drop the rest — without it, pairwise "drop the
    larger id" over-deletes on chains (a-b, b-c drops both b and c even
    when a-c are not near-dups). Nodes that appear only in self-loop
    pairs are labeled with themselves.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014). Min-label
    propagation needs O(component diameter) rounds — catastrophic for a
    10⁷-node chain; the star operations instead rewire every node
    directly toward its neighborhood minimum, so the round count is
    O(log n) in practice (O(log² n) worst case):

    - **large-star** (per node u): every neighbor v > u re-attaches to
      m = min({u} ∪ N(u));
    - **small-star** (per node u over edges oriented high→low): every
      neighbor v ≤ u (and u itself) re-attaches to the minimum.

    Round shape: each star's neighborhood minimum rides on the edge row
    via ONE min-window over the node-keyed shuffle, and the large-star
    output flows un-deduplicated into small-star, whose terminal distinct
    collapses duplicates (min is duplicate-insensitive). One round = two
    node-keyed window shuffles + one distinct, materialized by one eager
    ``localCheckpoint`` that cuts the lineage.

    Convergence is read off that same checkpoint job: an ``Observation``
    on each star op counts the rows it rewires — large-star the rows with
    t > s whose minimum m != s, small-star the rows with m != t. Both
    counts 0 means every node with a larger neighbor has no smaller one
    and every node has at most one smaller neighbor: the edges form a
    star forest centered on the component minima, which is the
    algorithm's fixpoint (the round's output set equals its input set),
    so the loop stops. The test is exact and needs no extra job; an input
    that is already a star forest stops after round 1. Counts cannot
    overflow.

    The build submits one setup checkpoint (the symmetric closure) plus
    one checkpoint per round. Round ``N-1``'s blocks are unpersisted as
    soon as round ``N`` is materialized; the setup blocks and the last
    round's blocks back the returned frame until the caller releases
    them (``session.scoped_storage`` / ``release_all_blocks``).
    """
    from pyspark.sql import Observation

    from etl_cascalog_spark.session import checkpoint_round

    run_tag = next(_CC_OBS_SEQ)
    # setup: the symmetric closure INCLUDING self-loops in one job (one
    # pass over the pair lineage, distinct dedups). The working edge set
    # (self-loops dropped) and the node universe are narrow / one-shuffle
    # derivations over these blocks, built where they are consumed. The
    # job also counts the working edges: with none there is no round to
    # run, and a round over an empty edge set could not report its
    # counts (AQE prunes the empty stages, observations included).
    n_edges = Observation(f"cc_edges_{run_tag}")
    sym = (
        _explode_symmetric(
            pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("t"))
        )
        .distinct()
        .observe(n_edges, F.count(F.when(F.col("s") != F.col("t"), 1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    edges = sym.where(F.col("s") != F.col("t"))
    edge_ids: frozenset[int] = frozenset()  # round-1 edges live on sym's blocks

    def large_star(e: DataFrame, obs) -> DataFrame:
        w = Window.partitionBy("s")
        return (
            _explode_symmetric(e)
            .withColumn("m", F.least(F.min("t").over(w), F.col("s")))
            .where(F.col("t") > F.col("s"))
            .observe(obs, F.count(F.when(F.col("m") != F.col("s"), 1)).alias("n"))
            # m <= s < t, so the rewired edge is strictly high -> low and
            # never a self-loop — no filter, no distinct (small_star's
            # terminal distinct collapses duplicates)
            .select(F.col("t").alias("s"), F.col("m").alias("t"))
        )

    def small_star(e: DataFrame, obs) -> DataFrame:
        # orient high -> low: s > t (identity on large_star output, kept
        # so the operator matches the published form on any input)
        hi = e.select(
            F.greatest("s", "t").alias("s"), F.least("s", "t").alias("t")
        )
        w = Window.partitionBy("s")
        hm = hi.withColumn("m", F.min("t").over(w)).observe(
            obs, F.count(F.when(F.col("t") != F.col("m"), 1)).alias("n")
        )
        return (
            hm.select(
                F.explode(
                    F.array(
                        F.struct(F.col("t").alias("v"), F.col("m").alias("m")),
                        F.struct(F.col("s").alias("v"), F.col("m").alias("m")),
                    )
                ).alias("__r")
            )
            .select(F.col("__r.v").alias("s"), F.col("__r.m").alias("t"))
            .where(F.col("s") != F.col("t"))
            .distinct()
        )

    for round_i in range(max_iter if n_edges.get["n"] else 0):
        large = Observation(f"cc_large_star_{run_tag}_{round_i}")
        small = Observation(f"cc_small_star_{run_tag}_{round_i}")
        # retire round N-1's edge blocks; sym's stay (the label attach
        # reads them)
        edges, edge_ids = checkpoint_round(
            small_star(large_star(edges, large), small), retire=edge_ids
        )
        if large.get["n"] == 0 and small.get["n"] == 0:
            break
    # surviving edges are (node, min) stars; the label attach is ONE
    # groupBy-min over self-labels ∪ star edges: label ≤ node always, so
    # min over {node} ∪ {star target} IS the star target for rewired
    # nodes and the node itself for component minima / self-loop-only
    # nodes.
    return (
        sym.select(F.col("s").alias("node"), F.col("s").alias("label"))
        .unionByName(
            edges.select(F.col("s").alias("node"), F.col("t").alias("label"))
        )
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
