"""Text-analysis operators for LLM training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language-ID heuristic,
quality scoring, token counting, document fingerprinting — all pure Column
expressions (JVM-side, codegen), no Python in the hot path. Designed for the
``documents`` table (doc_id, text, lang, source, n_chars) but generic.

Scale: every function here is embarrassingly parallel (no shuffle); the only
wide operations in the dedup pipelines built on top are the grouped/joined
stages in :mod:`operators.dedup`.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

#: words-with-apostrophes or single non-space symbols — a BPE-ish pre-token
#: pattern (public GPT-2 style pre-tokenizer shape, simplified to be
#: RE2/Java-regex portable)
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

#: tiny per-language stopword markers for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is)\b",
    "es": r"\b(el|la|los|que|de)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|les|des|est|une)\b",
    "zh": r"[一-鿿]",
}


def normalize_text(col: Column) -> Column:
    """Canonical normalization: lowercase + collapse all whitespace runs.
    The shared first step of fingerprinting, exact dedup, and shingling."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def whitespace_tokens(col: Column) -> Column:
    """Whitespace tokenization of normalized text → array<string>."""
    return F.split(normalize_text(col), " ")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(whitespace_tokens(col)).cast("long")


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count: occurrences of the pre-tokenizer pattern.
    A cheap, deterministic proxy for tokenizer cost estimation at corpus
    scale (the real tokenizer is a Pandas-UDF path, multimodal.py pattern)."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_PATTERN)).cast("long")


def quality_features(col: Column) -> dict[str, Column]:
    """Quality-signal components: length, alpha ratio, punctuation ratio,
    mean word length, stopword ratio. All double-typed, deterministic."""
    n_chars = F.length(col).cast("double")
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(col, r"[^.,;:!?'\"()]", "")).cast("double")
    n_tokens = token_count_ws(col).cast("double")
    stop = F.regexp_count(col, F.lit(r"\b(the|a|of|and|to|in|is)\b")).cast("double")
    return {
        "n_chars": n_chars,
        "alpha_ratio": alpha / n_chars,
        "punct_ratio": punct / n_chars,
        "mean_word_len": alpha / n_tokens,
        "stopword_ratio": stop / n_tokens,
    }


def quality_score(col: Column) -> Column:
    """Composite quality score in [0, ~1]: favors texts with healthy length,
    high alpha ratio, and some stopwords (prose-likeness). Weights are fixed
    constants — portable to SQL for the oracle."""
    f = quality_features(col)
    len_term = F.least(f["n_chars"] / F.lit(500.0), F.lit(1.0))
    return F.round(
        F.lit(0.4) * len_term
        + F.lit(0.4) * f["alpha_ratio"]
        + F.lit(0.2) * F.least(f["stopword_ratio"] * F.lit(5.0), F.lit(1.0)),
        6,
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(col: Column) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models: … Gopher", Appendix A1.1) as boolean Columns — the
    standard rule-based pre-filter of LLM corpus pipelines. Every rule is
    a deterministic regex/arithmetic expression (codegen, zero Python):

    - ``r_word_count``: 50 ≤ whitespace word count ≤ 100 000
    - ``r_mean_word_len``: mean word length in [3, 10]
    - ``r_alpha_words``: ≥ 80% of words contain an alphabetic character
    - ``r_symbol_ratio``: (# + …) per word ≤ 0.1
    - ``r_stopwords``: ≥ 2 distinct Gopher stopwords present

    Thresholds are the published constants (word-count floor lowered from
    50 only by callers that chunk first). ``pass`` = conjunction.
    """
    words = token_count_ws(col)
    alpha_words = F.size(
        F.filter(whitespace_tokens(col), lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    symbols = (F.regexp_count(col, F.lit("#")) + F.regexp_count(col, F.lit(r"\.\.\."))).cast("long")
    stop_hits = None
    for sw in GOPHER_STOPWORDS:
        hit = F.when(F.lower(col).rlike(rf"\b{sw}\b"), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    rules = {
        "r_word_count": (words >= 50) & (words <= 100_000),
        "r_mean_word_len": (
            (F.length(F.regexp_replace(col, r"[^A-Za-z]", "")) >= words * 3)
            & (F.length(F.regexp_replace(col, r"[^A-Za-z]", "")) <= words * 10)
        ),
        "r_alpha_words": alpha_words * 5 >= words * 4,
        "r_symbol_ratio": symbols * 10 <= words,
        "r_stopwords": stop_hits >= 2,
    }
    rules["pass"] = F.lit(True)
    for name in ("r_word_count", "r_mean_word_len", "r_alpha_words", "r_symbol_ratio", "r_stopwords"):
        rules["pass"] = rules["pass"] & rules[name]
    return rules


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language marker hit counts (regexp_count — portable)."""
    return {lang: F.regexp_count(col, F.lit(pat)).cast("long") for lang, pat in LANG_MARKERS.items()}


def lang_id(col: Column) -> Column:
    """Heuristic language ID: argmax marker count; ties go to the earlier
    language in LANG_MARKERS order; 'und' when all scores are zero."""
    scores = lang_scores(F.lower(col))
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("long")
    # process in reverse priority order with >=, so the earliest language
    # (processed last) wins ties
    for lang in reversed(list(scores)):
        s = scores[lang]
        take = (s >= best_score) & (s > 0)
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.greatest(s, best_score)
    return best_lang


def fingerprint_md5(col: Column) -> Column:
    """Whole-document fingerprint: md5 of normalized text. The exact-dedup
    key (portable: identical md5 in every engine)."""
    return F.md5(normalize_text(col))


def shingles_from_tokens(w: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array → array<string>.

    Built with shifted-slice ``zip_with`` (not per-index ``element_at`` in a
    ``transform`` lambda): Catalyst inlines the token expression into every
    lambda reference, so the element_at formulation re-tokenized the
    document once per shingle element (measured 20×+ slowdown at sf0.1);
    the zip form references the token array O(n) times per ROW instead.
    Rows past the last full n-gram zip against NULL and are filtered.
    """
    grams = w
    for j in range(1, n):
        sj = F.slice(w, j + 1, F.greatest(F.size(w) - j, F.lit(1)))
        if j < n - 1:
            grams = F.zip_with(grams, sj, lambda a, b: F.concat_ws(" ", a, b))
        else:
            grams = F.zip_with(
                grams, sj, lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b))
            )
    out = F.array_distinct(F.filter(grams, lambda g: g.isNotNull()))
    return F.when(F.size(w) >= n, out).otherwise(F.array().cast("array<string>"))


def ordered_shingles(w: Column, n: int = 3) -> Column:
    """Positional (in-order, non-distinct) n-gram shingles — winnowing needs
    the positional sequence, so no ``array_distinct`` (contrast
    :func:`shingles_from_tokens`). Same shifted-slice ``zip_with`` build for
    the same Catalyst-inlining reason."""
    grams = w
    for j in range(1, n):
        sj = F.slice(w, j + 1, F.greatest(F.size(w) - j, F.lit(1)))
        if j < n - 1:
            grams = F.zip_with(grams, sj, lambda a, b: F.concat_ws(" ", a, b))
        else:
            grams = F.zip_with(
                grams, sj, lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b))
            )
    out = F.filter(grams, lambda g: g.isNotNull())
    return F.when(F.size(w) >= n, out).otherwise(F.array().cast("array<string>"))


def winnow_fingerprint_rows(
    df, id_col: str, text_col: str, k: int = 3, w: int = 4
):
    """Winnowing fingerprints as rows ``(doc, fp)`` — the table-scale path.

    Explodes positional k-grams to rows (md5 per row is codegen'd, unlike
    array-lambda HOFs which are interpreted), then takes the sliding
    w-window minimum with a row-frame window function and dedups. One
    shuffle on doc id for the window sort + the distinct — at 100 TB this
    is the same shape as the shingle pipeline feeding MinHash.

    Short docs (fewer than w full windows) contribute the min over all
    their hashes, matching :func:`winnow_fingerprints`.
    """
    from pyspark.sql import Window

    grams = ordered_shingles(whitespace_tokens(F.col(text_col)), k)
    # ONLY the generator leaves this projection: a pass-through
    # ``size(grams)`` column would be re-evaluated per exploded ROW (the
    # whole shingle chain per gram — O(n²)/doc, measured 35s at sf0.1);
    # the gram count is recovered below as count() over the doc partition.
    from etl_cascalog_spark.io import ensure_min_parallelism

    df = ensure_min_parallelism(df, id_col)
    g = df.select(F.col(id_col).alias("doc"), F.posexplode(grams).alias("pos", "gram"))
    win = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, w - 1)
    nwin = Window.partitionBy("doc")
    return (
        g.select(
            "doc",
            "pos",
            F.min(F.md5("gram")).over(win).alias("fp"),
            F.count("*").over(nwin).alias("n"),
        )
        .where((F.col("pos") <= F.col("n") - w) | ((F.col("n") < w) & (F.col("pos") == 0)))
        .select("doc", "fp")
        .distinct()
    )


def winnow_fingerprints(tokens: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS rolling-hash scheme): hash every positional k-gram, slide a
    w-gram window over the hash sequence, keep each window's minimum →
    the distinct minima are the document's fingerprint set.

    Hashes are md5 hex strings compared lexicographically — winnowing only
    needs a total order, and hex-string order is bit-identical across
    engines (oracle-portable, no 64-bit int parsing). Guarantee: any shared
    substring of ≥ w+k-1 tokens yields at least one shared fingerprint.

    Whole expression is per-row (map-side, no shuffle): the 100 TB shape is
    scan → explode(fingerprints) → groupBy(fp) for the inverted index.
    """
    grams = ordered_shingles(tokens, k)
    h = F.transform(grams, lambda g: F.md5(g))
    # Sliding-min via w-1 chained shifted-slice zip_with/least — NOT a
    # per-window slice inside a transform lambda: Catalyst inlines the hash
    # array into every lambda reference, so that form recomputes the md5
    # array once per WINDOW (O(n²) per doc; measured 38s → ~1s at sf0.1).
    # Here h is referenced w times total. least() skips the null padding
    # zip_with adds, so tail entries hold truncated-suffix minima — the
    # final slice keeps only the max(n-w+1, 1) full windows.
    mins = h
    for j in range(1, w):
        sj = F.slice(h, j + 1, F.greatest(F.size(h) - j, F.lit(1)))
        mins = F.zip_with(mins, sj, lambda a, b: F.least(a, b))
    wins = F.slice(mins, 1, F.greatest(F.size(h) - (w - 1), F.lit(1)))
    return F.when(
        F.size(h) > 0, F.array_sort(F.array_distinct(wins))
    ).otherwise(F.array().cast("array<string>"))


def shingles(col: Column, n: int = 3) -> Column:
    """Shingles as a single expression — ONLY for tiny/literal inputs; on
    real tables prefer the two-step tokenize-then-shingle (see
    :func:`shingles_from_tokens` warning)."""
    return shingles_from_tokens(whitespace_tokens(col), n)


#: PII patterns — a deliberately simple, engine-portable subset (plain
#: character classes, no lookaround) so Java regex (Spark) and RE2 (DuckDB)
#: agree byte-for-byte. Production scrubbing layers stricter validators on
#: top; the *plumbing* (ordered map-side replace chain) is what matters here.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
]


def redact_pii(col: Column) -> Column:
    """Scrub PII spans (email → phone → ssn → ip, in that fixed order —
    order matters: phone must run before ssn since the patterns overlap).
    Pure chained ``regexp_replace``: map-side, codegen'd, no UDF, no
    shuffle — the 100 TB shape for corpus scrubbing."""
    out = col
    for _name, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def repetition_stats(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher/MassiveText-style repetition quality signals (public rules:
    Rae et al. 2021 §A1.1): per document,

    - ``dup_word_frac``  = 1 − distinct/total words (excess word mass);
    - ``top_bigram_frac`` = occurrences of the most frequent word bigram /
      total bigrams (boilerplate/degenerate repetition detector).

    Formulation is explode → count → window-max, NOT a per-row
    higher-order fold: computing an array's mode inside one Column
    expression would re-materialize the token array per lambda reference
    (the Catalyst inlining trap); exploding keeps every step a cheap
    hash-aggregate. Shuffles partition by (id, bigram) then id — both keyed
    on the document id, so AQE coalesces them and skew is impossible
    (a document's bigrams land in one partition).
    Documents with < 2 tokens are dropped (no bigram is defined).
    """
    toks = docs.select(
        F.col(id_col),
        whitespace_tokens(F.col(text_col)).alias("__toks"),
    ).where(F.size("__toks") >= 2)
    base = toks.select(
        id_col,
        F.size("__toks").alias("__n"),
        F.size(F.array_distinct("__toks")).alias("__nd"),
        F.posexplode(F.slice("__toks", 1, F.size("__toks") - 1)).alias("__i", "__w"),
        F.col("__toks"),
    ).select(
        id_col,
        "__n",
        "__nd",
        F.concat_ws(" ", F.col("__w"), F.element_at("__toks", F.col("__i") + 2)).alias("__bg"),
    )
    counts = base.groupBy(id_col, "__n", "__nd", "__bg").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return counts.groupBy(id_col, "__n", "__nd").agg(
        F.sum("__c").alias("__total"),
        F.max("__c").alias("__top"),
    ).select(
        id_col,
        F.col("__n").cast("long").alias("n_tokens"),
        F.round(F.lit(1.0) - F.col("__nd") / F.col("__n"), 6).alias("dup_word_frac"),
        F.round(F.col("__top") / F.col("__total"), 6).alias("top_bigram_frac"),
    )


def chunk_documents(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
):
    """Split documents into fixed-size token chunks with overlap — the
    context-window preparation step (training sequence prep / RAG
    chunking). Chunk *i* covers tokens ``[i·stride, i·stride+chunk)``
    with ``stride = chunk − overlap``; the last chunk may be short; every
    token is covered.

    Map-side only: tokens materialize once (no inlining trap — the slice
    references a bound column), chunk offsets come from
    ``explode(sequence(0, n_chunks−1))``, and each output row re-joins its
    slice. No shuffle, no UDF; at 100 TB this is a pure scan→generate
    pipeline whose output is ~(1 + overlap/stride)× the input text.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = docs.select(
        F.col(id_col),
        whitespace_tokens(F.col(text_col)).alias("__toks"),
    ).where(F.size("__toks") > 0)
    n_chunks = F.greatest(
        F.ceil((F.size("__toks") - F.lit(overlap)) / F.lit(stride)),
        F.lit(1),
    ).cast("int")
    chunked = toks.select(
        id_col,
        "__toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    return chunked.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens),
            " ",
        ).alias("chunk_text"),
        F.size(
            F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens)
        ).cast("long").alias("chunk_len"),
    )


def global_token_offsets(
    docs,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    ctx_tokens: int = 512,
    bucket_size: int = 4096,
):
    """Sequence-packing offsets: the exclusive global token offset of every
    document in the id-ordered concatenated corpus, plus the context bin
    (``pack_id = offset div ctx_tokens``) its first token lands in — the
    bookkeeping a fixed-context training-data packer needs (docs crossing
    a bin boundary continue into the next bin, GPT-style concat packing).

    The naive formulation — ``sum() OVER (ORDER BY id)`` with no partition
    key — is a SINGLE-PARTITION window: the whole corpus funnels through
    one task. This is the classic distributed prefix-sum instead:

    1. bucket docs by ``id div bucket_size`` (deterministic, no sampling —
       range-partition sampling would break run-to-run determinism);
    2. exclusive prefix sums WITHIN each bucket (parallel windows);
    3. per-bucket totals → exclusive prefix over the bucket list (a window
       over corpus/bucket_size rows — single partition but 4096× smaller;
       repeat the construction for another 4096× if that ever matters);
    4. broadcast-join the bucket offsets back: offset = bucket base +
       within-bucket prefix.

    Every step is deterministic, so the assignment is reproducible and
    oracle-checkable (``sum() OVER (ORDER BY id)`` in SQL).
    """
    n = F.col(n_tokens_col)
    b = docs.withColumn("__bkt", (F.col(id_col) / bucket_size).cast("long"))
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the prefixed frame feeds BOTH the bucket totals and the final join —
    # without materializing it, Spark re-executes its entire upstream
    # lineage once per branch (measured: training_data_pipeline pays its
    # whole curation subtree twice, 13.2s -> 8s at sf0.1 with the cache).
    # Lifecycle: wrap the call in session.scoped_storage (bench/CLI/oracle
    # loops do).
    b = b.withColumn("__within", F.coalesce(F.sum(n).over(w_in), F.lit(0)))
    b = b.cache()
    totals = b.groupBy("__bkt").agg(F.sum(n).alias("__tot"))
    w_b = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    bases = totals.withColumn("__base", F.coalesce(F.sum("__tot").over(w_b), F.lit(0)))
    return (
        b.join(F.broadcast(bases.select("__bkt", "__base")), on="__bkt")
        .select(
            id_col,
            n.cast("long").alias(n_tokens_col),
            (F.col("__base") + F.col("__within")).cast("long").alias("token_offset"),
            ((F.col("__base") + F.col("__within")) / ctx_tokens)
            .cast("long")
            .alias("pack_id"),
        )
    )


def bm25_topk(
    docs,
    query_terms: "Sequence[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 lexical retrieval for one query — the lexical half of a
    retrieval stack (pair with the ANN cosine paths for hybrid search).

    Plan shape (the inverted-index shape, NOT a per-doc UDF scan):

    1. corpus stats: one tiny agg → (N, avgdl), broadcast as a scalar row;
    2. postings: explode tokens, filter to the query's terms AT THE
       EXPLODE (the term filter prunes before any shuffle), tf per
       (doc, term);
    3. df per term (term-keyed agg over ≤ |query| keys), idf =
       ln((N − df + 0.5)/(df + 0.5) + 1) — the standard Robertson/
       Sparck-Jones form;
    4. score = Σ_terms idf · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)), one
       doc-keyed agg, top-k by (rounded score, id).

    Scores are rounded to 6 dp BEFORE ranking: JVM and C libm ``ln`` can
    disagree in the last ulp, and an unrounded ORDER BY would let that
    flip near-tied ranks (same determinism rule as the ANN queries).
    At 100 TB the only corpus-sized shuffle is the (doc, term) tf agg,
    already pruned to query terms; df/idf live on ≤ |query| rows.
    """
    terms = [t.lower() for t in query_terms]
    toks = docs.select(
        F.col(id_col),
        whitespace_tokens(F.col(text_col)).alias("__toks"),
    ).where(F.size("__toks") > 0)
    stats = toks.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg(F.size("__toks").cast("double")).alias("__avgdl"),
    )
    postings = (
        toks.select(
            id_col,
            F.size("__toks").cast("double").alias("__dl"),
            F.explode("__toks").alias("__term"),
        )
        .where(F.col("__term").isin(terms))
        .groupBy(id_col, "__dl", "__term")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf"))
    )
    df_per_term = postings.groupBy("__term").agg(
        F.count(F.lit(1)).cast("double").alias("__df")
    )
    scored = (
        postings.join(F.broadcast(df_per_term), "__term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log((F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1.0),
        )
        .withColumn(
            "__s",
            F.col("__idf")
            * (F.col("__tf") * (k1 + 1))
            / (F.col("__tf") + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
    )
    # TakeOrderedAndProject first (distributed per-partition top-k + driver
    # merge of k rows), THEN rank over the k survivors only — ranking the
    # full candidate set in a no-partition window would sort every matching
    # doc in one reducer.
    top = scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(id_col, "score", F.col("rank").cast("int").alias("rank"))
    )


def vocab_top_tokens(df, text_col: str = "text", k: int = 50):
    """Vocabulary induction: global token-frequency table, top-``k`` tokens
    with rank and cumulative corpus-coverage share — the word-level seed of
    a tokenizer-training pass (BPE implementations start from exactly this
    table) and the corpus health check for vocabulary skew.

    Returns ``(token, freq, rank, cum_share)``; ``cum_share`` is the
    fraction of ALL token occurrences covered by ranks 1..r (rounded 6 dp —
    one exact-integer sum per side, then a single double divide).

    100 TB shape: one corpus-sized shuffle (token hash-agg with map-side
    combine — frequencies partial-aggregate perfectly); the top-k is a
    per-partition TakeOrdered + driver merge of k rows, and the rank /
    cumulative window runs over those k rows only, never the full
    vocabulary. The total is a scalar agg broadcast back in.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode(whitespace_tokens(F.col(text_col))).alias("token")
    ).where(F.length("token") > 0)
    freq = toks.groupBy("token").agg(F.count("*").alias("freq"))
    total = freq.agg(F.sum("freq").alias("__total"))
    top = freq.orderBy(F.col("freq").desc(), "token").limit(k)
    w = Window.orderBy(F.col("freq").desc(), F.col("token"))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .withColumn(
            "cum_share",
            F.round(
                F.sum("freq").over(wcum).cast("double") / F.col("__total"), 6
            ),
        )
        .select("token", "freq", "rank", "cum_share")
    )


def unigram_lm_scores(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
):
    """Unigram language-model surprisal per document — the CCNet-style
    "perplexity filter" shape (score docs with a cheap LM trained on the
    corpus itself; drop the high-surprisal tail). Reference has nothing
    like it; beyond-reference training-data surface.

    Two passes: (1) token → count over the whole corpus (the "LM"),
    (2) per-doc mean negative log-probability under that table.

    Determinism contract (the oracle hash-compares values): each token's
    log-prob is quantized ONCE to integer nano-nats
    (``floor(ln(count/total) * 1e9 + 0.5)`` as BIGINT), so the per-doc
    accumulation is exact integer arithmetic in any engine; only the final
    per-token mean does one double divide, rounded to 6 dp.

    Returns ``(id_col, n_tokens, surprisal_nano, avg_neg_logp)`` where
    ``surprisal_nano`` is the exact total in nano-nats.

    100 TB posture: pass 1 is one token-keyed shuffle with map-side
    combine; the vocab table is VOCABULARY-sized (``min_count`` trims its
    tail but it still grows with the corpus), so its attach is a bare
    token equi-join — the planner broadcasts it while it fits and
    token-shuffles past that (pass 2's explode is already token-keyed).
    No Python, no RNG, no driver data loops.
    """
    toks = df.select(
        F.col(id_col), F.explode(whitespace_tokens(F.col(text_col))).alias("token")
    ).where(F.length("token") > 0)
    freq = toks.groupBy("token").agg(F.count("*").alias("__cnt"))
    if min_count > 1:
        freq = freq.where(F.col("__cnt") >= min_count)
    total = freq.agg(F.sum("__cnt").alias("__total"))
    vocab = freq.crossJoin(F.broadcast(total)).select(
        "token",
        F.floor(
            F.log(F.col("__cnt").cast("double") / F.col("__total").cast("double"))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("__lp_nano"),
    )
    return (
        toks.join(vocab, "token", "inner")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            (-F.sum("__lp_nano")).alias("surprisal_nano"),
        )
        .withColumn(
            "avg_neg_logp",
            F.round(
                F.col("surprisal_nano").cast("double")
                / F.col("n_tokens").cast("double")
                / F.lit(1e9),
                6,
            ),
        )
    )


def tfidf_top_terms(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
):
    """Per-document top-``k`` TF-IDF terms — the classic salient-term /
    keyword-extraction operator over an inverted-index shape.

    Ranking is fully integer-deterministic: terms are ordered by
    ``(tf DESC, df ASC, term ASC)`` — the same ordering tf·idf induces
    when tf dominates, with exact tie-breaks an engine pair can agree on
    (ordering by the double score itself would make ranks depend on
    last-ulp log differences). The tf·idf score ``tf * ln(N/df)`` is
    still emitted, rounded to 6 dp.

    Returns ``(id_col, term, tf, df, rank, tfidf)``.

    100 TB posture: one (doc, term) shuffle for tf with map-side combine,
    one term-keyed agg for df, joined back on the term key BARE — the
    document-frequency table is VOCABULARY-sized (billions of tokens on
    a web corpus), so it must never carry a mandatory broadcast hint;
    the planner broadcasts it while it fits and term-shuffles at scale
    (the tf side is already term-keyed from its own agg, so the shuffle
    reuses that partitioning). A doc-keyed window takes the top-k —
    uniform, no skew.
    """
    toks = df.select(
        F.col(id_col), F.explode(whitespace_tokens(F.col(text_col))).alias("term")
    ).where(F.length("term") > 0)
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = df.select(
        F.countDistinct(F.col(id_col)).alias("__n")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("__n").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
        .select(id_col, "term", "tf", "df", "rank", "tfidf")
    )


#: fixed, public demo weights for the linear quality classifier:
#: (feature, weight) over quality_features() outputs. A stand-in for any
#: exported fastText/logreg quality model — inference stays a Column expr.
QUALITY_LOGREG_WEIGHTS: list[tuple[str, float]] = [
    ("alpha_ratio", 3.0),
    ("stopword_ratio", 4.0),
    ("punct_ratio", -2.0),
    ("mean_word_len", 0.25),
]
QUALITY_LOGREG_BIAS: float = -3.0


def linear_quality_probability(col: Column) -> Column:
    """Logistic-regression quality-classifier INFERENCE as a pure Column
    expression: sigmoid(bias + Σ wᵢ·featureᵢ) over the deterministic
    text features, rounded to 6 dp.

    This is the "run an exported quality model over 100 TB" shape
    (fastText-style doc classifiers reduce to exactly this once the
    weights are known): zero shuffle, zero Python — whole-stage codegen
    end to end. The weight vector is a plan-time constant (J5 broadcast
    pattern degenerated to literals); swapping models = swapping a dict.

    The expression tree is built in a fixed order so both engines evaluate
    the identical IEEE operation sequence; only ``exp`` can differ in the
    last ulp, absorbed by the 6 dp round.
    """
    f = quality_features(col)
    logit = F.lit(QUALITY_LOGREG_BIAS)
    for name, wgt in QUALITY_LOGREG_WEIGHTS:
        logit = logit + F.lit(wgt) * f[name]
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)


def boilerplate_sentence_stats(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 5,
):
    """Cross-document boilerplate detection (the CCNet/RefinedWeb line-dedup
    trick at sentence grain): a sentence appearing in ≥ ``min_docs``
    DISTINCT documents is boilerplate (headers, footers, licence blurbs),
    and per-doc boilerplate share is a standard pre-training drop signal.

    Returns ``(doc_id, n_sent, n_boiler, boiler_ratio)``.

    100 TB shape: one explode (map-side), one sentence-keyed distinct-doc
    agg (partial aggregation combines map-side; the per-sentence key is
    the normalized sentence string here for oracle bit-parity — at real
    scale key on ``xxhash64(sent)`` so the shuffle carries 8 bytes), one
    join back on the same key (shuffle reuse), one doc-keyed count agg.
    No windows, no Python, no driver loops.
    """
    sent = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), r"\.\s+")).alias("__raw"),
        )
        .select(F.col(id_col), F.lower(F.trim(F.col("__raw"))).alias("__sent"))
        .where(F.length("__sent") > 0)
    )
    df_per_sent = sent.groupBy("__sent").agg(
        F.count_distinct(F.col(id_col)).alias("__docs_with")
    )
    return (
        sent.join(df_per_sent, "__sent")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_sent"),
            F.sum((F.col("__docs_with") >= min_docs).cast("int")).alias("n_boiler"),
        )
        .select(
            id_col,
            F.col("n_sent").cast("long").alias("n_sent"),
            F.col("n_boiler").cast("long").alias("n_boiler"),
            F.round(F.col("n_boiler") / F.col("n_sent"), 4).alias("boiler_ratio"),
        )
    )


def bpe_encode(
    docs,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Apply a trained BPE merge table to a corpus — the tokenizer-apply
    step that follows :func:`vocab_top_tokens` (word seed) and the
    ``bpe_merge_candidates`` merge-rule scan.

    Standard greedy BPE: each whitespace word starts as its character
    sequence; repeatedly merge the adjacent pair with the LOWEST merge
    rank until no listed pair remains. ``merges`` is the ordered rule
    list (rank = position), exactly what iterating the merge scan
    produces.

    Returns ``(id_col, n_tokens, tokens array<string>)`` — the id column
    keeps the caller's name AND Spark type (no silent rename to
    ``doc_id`` / cast to long).

    This is the one hot-path operator that is genuinely sequential per
    word (each merge changes the neighbors of the next), so it is NOT
    expressible as Column algebra: it runs as ``mapInPandas`` — Arrow
    batches in/out, merge table shipped once per executor in the closure
    (broadcast-variable semantics), zero shuffle, embarrassingly parallel
    over rows. Same boundary discipline as the multimodal codecs, but
    with the real algorithm inside (pure Python, no external tokenizer
    dependency).
    """
    import pandas as pd  # noqa: F401 (signature requirement of mapInPandas)

    from pyspark.sql import types as T

    rank = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
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

    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("tokens", T.ArrayType(T.StringType())),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            toks = [
                [t for w in str(txt).lower().split() for t in encode_word(w)]
                if txt is not None
                else []
                for txt in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_tokens": [len(t) for t in toks],
                    "tokens": toks,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def duplicate_token_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Exact substring-level dedup marking (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find
    every maximal span of tokens that participates in an n-token sequence
    occurring >= 2 times ANYWHERE in the corpus (cross-doc or repeated
    in-doc), as merged ``(id, span_start, span_end)`` intervals in token
    positions (1-based, inclusive). Doc-level near-dedup keeps documents;
    THIS is the operator that finds the boilerplate/quote/license spans
    shared between otherwise-distinct documents, which doc-level passes
    cannot see.

    Plan shape (all Column algebra, no UDFs):

    1. tokenize with positions (``posexplode``, one shuffle keyed on id
       for the window sort);
    2. positional n-grams via ``lead`` chains over ONE window spec (the
       per-window-slice-inside-``transform`` inlining trap from the
       measured-lessons list is avoided by construction);
    3. md5 the gram (engine-portable); the per-hash occurrence count
       rides on the gram row via ONE count-window over the gh-shuffled
       grams (round 13; was groupBy-count + equi-join back — which
       re-evaluated the whole posexplode + lead-window gram pipeline
       into the join probe AND paid a second corpus-sized exchange).
       The shuffle carries one row per token, the 100 TB cost center,
       same as any tokenizer pass;
    4. classic interval merge per doc: running ``max(end)`` over
       preceding spans, new-span flag, prefix-sum span ids — one window
       pass, then groupBy (id, span_id).

    At 100 TB, step 3's gram-hash traffic is ~|corpus tokens| rows of
    (16-byte hash, id, pos) — the same order as the BPE/token-count
    passes; nothing is quadratic and no driver-side state exists. The
    boilerplate-hash skew the old join absorbed via AQE now lands on the
    count-window's gh partitions — same key distribution, one exchange
    earlier.
    """
    w_doc = Window.partitionBy("__id").orderBy("pos")
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias("pos0", "tok"),
    ).where(F.col("tok") != "").select(
        "__id", (F.col("pos0") + 1).alias("pos"), "tok"
    )
    gram_parts = [F.col("tok")] + [
        F.lead("tok", i).over(w_doc) for i in range(1, n)
    ]
    grams = (
        toks.withColumn("gram", F.concat_ws(" ", *gram_parts))
        .withColumn("__last", F.lead("tok", n - 1).over(w_doc))
        .where(F.col("__last").isNotNull())
        .select("__id", "pos", F.md5(F.col("gram")).alias("gh"))
    )
    occ = (
        grams.withColumn(
            "__c", F.count("*").over(Window.partitionBy("gh"))
        )
        .where(F.col("__c") >= 2)
        .select("__id", F.col("pos").alias("s"), (F.col("pos") + n - 1).alias("e"))
    )
    w_prev = (
        Window.partitionBy("__id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("__id").orderBy("s", "e")
    spans = (
        occ.withColumn(
            "new_span",
            (F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1))).cast("int"),
        )
        .withColumn("span_id", F.sum("new_span").over(w_run))
        .groupBy("__id", "span_id")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
    )
    return spans.select(
        F.col("__id").alias(id_col), "span_start", "span_end"
    )


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Apply :func:`duplicate_token_spans`: rebuild each document's text
    with the duplicated spans REMOVED — the second half of Lee et al.'s
    substring dedup (mark, then cut). ``spans`` is the (id, span_start,
    span_end) frame the marker produced (token positions, 1-based
    inclusive).

    Shape (round 13): tokenize with positions, explode each span into
    its positions (span length is bounded by doc length — map-side),
    LEFT-join the span marker onto the token rows, then ONE groupBy(id)
    produces the total count, the kept count, and the rebuilt text in a
    single pass — ``collect_list`` skips NULL elements, so collecting
    ``when(unmarked, struct(pos, tok))`` rebuilds from kept tokens only
    (previously: an anti join + a rebuilt groupBy + a totals groupBy + a
    final join = two extra aggregations of the tokenized corpus and a
    join). The ``array_sort(collect_list(struct(pos, tok)))`` key makes
    reconstruction partition-order-independent, so the output is
    deterministic under any shuffle. Docs whose every token was removed
    surface with empty ``clean_text`` (n_kept = 0); docs that had NO
    tokens at all are omitted from the output (no token row exists).
    Overlapping spans are allowed: span positions are de-duplicated per
    (id, pos) before the join, so a token covered twice is cut once.
    """
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias("pos0", "tok"),
    ).where(F.col("tok") != "").select(
        "__id", (F.col("pos0") + 1).alias("pos"), "tok"
    )
    span_pos = spans.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))
        ).alias("pos"),
    ).distinct().withColumn("__cut", F.lit(1))
    keep_struct = F.when(
        F.col("__cut").isNull(), F.struct("pos", "tok")
    )
    return (
        toks.join(span_pos, ["__id", "pos"], "left")
        .groupBy("__id")
        .agg(
            F.count("*").cast("long").alias("__n_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(keep_struct)),
                    lambda x: x["tok"],
                ),
            ).alias("clean_text"),
            F.sum(F.when(F.col("__cut").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("__n_kept"),
        )
        .select(
            F.col("__id").alias(id_col),
            "clean_text",
            F.col("__n_tokens").alias("n_tokens"),
            (F.col("__n_tokens") - F.col("__n_kept")).cast("long").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization (beyond-reference): the web-corpus dedup key
# ---------------------------------------------------------------------------

#: query parameters that never change page identity (tracking noise) —
#: the standard CommonCrawl/Brave-style strip list, prefix-matched
TRACKING_PARAM_PREFIXES = ("utm_", "fbclid", "gclid", "msclkid", "ref_src")

#: RFC 3986 unreserved characters — the only octets whose percent-escapes
#: are semantically identical to the bare character, so decoding them is
#: always identity-preserving (``%7Euser`` == ``~user``). Everything else
#: (reserved ``/ ? & = #`` etc.) stays encoded; only its hex CASE is
#: normalized (``%2f`` -> ``%2F``), per RFC 3986 §6.2.2.1.
_URL_UNRESERVED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "abcdefghijklmnopqrstuvwxyz"
    "0123456789-._~"
)
#: (escape, char) pairs keyed by UPPERCASE hex — applied after hex-case
#: normalization so one table covers both ``%7E`` and ``%7e``.
_PCT_DECODE = tuple((f"%{ord(c):02X}", c) for c in _URL_UNRESERVED)
_HEX_LOWER = "abcdef"


def _pct_normalize(col: Column) -> Column:
    """Percent-encoding normalization (canonicalization tier 1.5) as a
    pure ``Column`` chain: (1) uppercase the hex digits of every ``%XX``
    escape (plain ``replace`` for the first nibble, one capture-group
    ``regexp_replace`` per lowercase hex letter for the second), then
    (2) decode the 66 unreserved escapes via plain string replaces.
    :func:`pct_normalize_sql` is the mechanically-generated DuckDB twin —
    both are driven by the same ``_PCT_DECODE`` table so they cannot
    drift."""
    for h in _HEX_LOWER:
        col = F.replace(col, F.lit(f"%{h}"), F.lit(f"%{h.upper()}"))
    for h in _HEX_LOWER:
        col = F.regexp_replace(col, f"%([0-9A-F]){h}", f"%$1{h.upper()}")
    for esc, ch in _PCT_DECODE:
        col = F.replace(col, F.lit(esc), F.lit(ch))
    return col


def pct_normalize_sql(expr: str) -> str:
    """DuckDB mirror of :func:`_pct_normalize`, generated from the SAME
    ``_PCT_DECODE`` table (the max_bucket lesson: an oracle must share
    the operator's constants, not repeat them). DuckDB regex backrefs
    are ``\\1`` where Spark's are ``$1`` — the only divergence, and it
    is syntactic."""
    for h in _HEX_LOWER:
        expr = f"replace({expr}, '%{h}', '%{h.upper()}')"
    for h in _HEX_LOWER:
        expr = f"regexp_replace({expr}, '%([0-9A-F]){h}', '%\\1{h.upper()}', 'g')"
    for esc, ch in _PCT_DECODE:
        expr = f"replace({expr}, '{esc}', '{ch}')"
    return expr


def canonicalize_url(col: Column) -> Column:
    """Canonical form of an http(s) URL — the dedup key of every web-corpus
    pipeline (two crawls of the same page differ in case, default port,
    fragment, tracking params, percent-encoding, param order, trailing
    slash; near-dup text dedup at 100 TB starts by collapsing those for
    free on the URL).

    Steps (all RE2-safe — no lookaround, so the SAME regexes run in a SQL
    oracle): lowercase scheme+host, drop a leading ``www.``, drop the
    default port SCHEME-CONDITIONALLY (``:80`` only when http, ``:443``
    only when https — ``http://host:443`` is a DIFFERENT origin than
    ``http://host`` and must not merge), drop the fragment,
    percent-normalize the path+query (decode unreserved ``%XX``,
    uppercase remaining hex — :func:`_pct_normalize`), strip tracking
    query params (:data:`TRACKING_PARAM_PREFIXES`), SORT the surviving
    params (param order is not page identity), drop ``?`` when no params
    survive, and drop one trailing slash from a non-root path.

    **Malformed-input guard**: anything without a ``scheme://`` prefix
    (bare host, relative path, garbage) passes through UNCHANGED — a
    dirty URL must stay its own dedup key, never collapse into a shared
    sentinel that silently merges unrelated documents.

    Non-goals (documented contract): IDN/punycode folding
    (``bücher.de`` vs ``xn--bcher-kva.de`` stay distinct) and host
    percent-encoding — both are false NEGATIVES that fall through to
    content-hash dedup, never false merges.

    Pure ``Column`` expression — map-side, codegen'd, no UDF.
    """
    no_frag = F.regexp_replace(col, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)", 1)
    )
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = (
        F.when(scheme == F.lit("http"), F.regexp_replace(host, r":80$", ""))
        .when(scheme == F.lit("https"), F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    rest = _pct_normalize(
        F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$", 1)
    )
    return F.when(scheme == F.lit(""), col).otherwise(
        _canonical_assemble(scheme, host, rest)
    )


def _canonical_assemble(scheme: Column, host: Column, rest: Column) -> Column:
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.when(path == F.lit(""), F.lit("/")).otherwise(path)
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        path.substr(F.lit(1), F.length(path) - 1),
    ).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != F.lit(""))
            & ~_is_tracking_param(p),
        )
    )
    qstr = F.array_join(kept, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qstr == F.lit(""), F.lit("")).otherwise(F.concat(F.lit("?"), qstr)),
    )


def _is_tracking_param(p: Column) -> Column:
    cond = F.lit(False)
    for pref in TRACKING_PARAM_PREFIXES:
        cond = cond | p.startswith(pref)
    return cond
