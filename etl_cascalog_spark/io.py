"""Sources & sinks (SURVEY.md §2.1, S1-S14).

The reference's one connector is a Postgres JDBC tap with a declared
all-String header and **no pushdown** (``/root/reference/src/common/trgx.clj:96-108``
builds the JDBCScheme with nil conditions/limit → full table scan per query).
Here every source is a DataFrame reader with real types; Catalyst pushes
predicates and prunes columns into the scan (parquet row-group skipping, JDBC
``pushDownPredicate``), which the reference could never do.

Sink-side the reference does side-channel DDL/DML (CREATE TABLE IF,
ranged DELETE, TRUNCATE, rename-swap publish — trgx.clj:118-127,188-193).
We model the same lifecycle over parquet directories (tests / lakehouse
layout) and JDBC (production), with atomic publish via write-temp+rename.

Execution taps (S4/S5/S6): Cascalog's ``stdout`` tap / ``??-`` collect /
``?-`` sink-execute are Spark's native ``df.show()`` / ``df.collect()`` /
``df.write...`` — queries here ARE DataFrames, so these come free
(SURVEY §3 E3).
"""

from __future__ import annotations

import datetime
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

#: canonical test-table names (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: (path, mtime_ns, size) → inferred StructType. The sf_dir tables are
#: immutable driver fixtures, so the footer-read schema inference (one
#: Spark job per `spark.read.parquet` call) is paid ONCE per path per
#: process; every later plan construction passes the cached schema
#: explicitly and submits ZERO jobs — the property bench.py's eager-jobs
#: gate enforces. The key carries the path's stat fingerprint
#: (ADVICE r10): a fixture REWRITTEN at the same path with a different
#: schema re-infers instead of silently reading nulls through the stale
#: one. At 100 TB the same discipline applies: a production catalog
#: carries the table schema, so plan-time footer jobs are a local-mode
#: artifact only.
_SCHEMA_CACHE: dict[tuple[str, int, int], object] = {}


def _schema_cache_key(path: str) -> tuple[str, int, int]:
    """Stat fingerprint of ``path`` (a parquet file or directory): a
    rewrite at the same path bumps the directory mtime, invalidating the
    entry. Unstat-able paths fall back to a constant fingerprint so the
    subsequent Spark read raises the real error."""
    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return (path, 0, 0)


def clear_schema_cache() -> None:
    """Explicit hook for tests/tools that regenerate fixtures in-place."""
    _SCHEMA_CACHE.clear()


def _schema_cache_put(key: tuple[str, int, int], schema: object) -> None:
    """Insert with per-path eviction (ADVICE r11): each path holds at most
    ONE schema, so a test loop that rewrites a fixture in place N times
    keeps one live entry instead of N superseded stat fingerprints (and
    their stale StructTypes) forever."""
    path = key[0]
    for stale in [k for k in _SCHEMA_CACHE if k[0] == path and k != key]:
        del _SCHEMA_CACHE[stale]
    _SCHEMA_CACHE[key] = schema


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S2 generator: table scan with typed schema.

    Replaces ``pg-tap`` + header declaration (trgx.clj:96-108): parquet carries
    the schema; Catalyst prunes/pushes down into the scan.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; it is read as a nanos long (legacy conf) and
    converted to a microsecond timestamp — the engine's canonical grain.
    """
    # The driver may hand us a session with a non-UTC timezone; date
    # extraction from timestamps must match the (TZ-naive) DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Wide-aggregate plans (64-column sketches) must stay in whole-stage
    # codegen even under a driver-owned session that skipped get_spark's
    # defaults (interpreted fallback measured ~8× slower on simhash).
    spark.conf.set("spark.sql.codegen.maxFields", "256")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        key = _schema_cache_key(path)
        if key in _SCHEMA_CACHE:
            df = spark.read.schema(_SCHEMA_CACHE[key]).parquet(path)
        else:
            df = spark.read.parquet(path)
            _schema_cache_put(key, df.schema)
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":
            # integer division: `/` promotes to double, and epoch-nanos
            # (~1.7e18) exceed double's 2^53 exact range → off-by-±1µs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    key = _schema_cache_key(path)
    if key in _SCHEMA_CACHE:
        return spark.read.schema(_SCHEMA_CACHE[key]).parquet(path)
    df = spark.read.parquet(path)
    _schema_cache_put(key, df.schema)
    return df


def ensure_min_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Guarantee at least default-parallelism partitions before a
    compute-heavy map-side stage (shingling, hashing, vector math).

    A small single-file parquet scans as ONE partition, serializing all
    downstream per-row work on one core (measured: the whole minhash
    pipeline at sf0.1 in a single task). At real scale the input already
    has >= cluster-parallelism partitions and this is a NO-OP — the guard
    means we never add a shuffle to a 100 TB scan; locally it costs one
    tiny shuffle of the raw rows.
    """
    from pyspark.sql import functions as F

    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # file-count heuristic: metadata-only (df.rdd.getNumPartitions() would
    # physical-plan the frame through py4j — measured ~0.1-0.9s per call,
    # paid at plan-BUILD time). A many-file (real-scale) input is left
    # untouched; frames with no file lineage (literals, post-shuffle) are
    # assumed already parallel.
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if n_files == 0 or n_files >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def from_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """S3 in-memory collection generator.

    Reference: literal seqs as generators
    (``model/d_bolome_order_show_debut.clj:102-104``, ``trgx.clj:256-262``).
    """
    return spark.createDataFrame(rows, schema)


def jdbc_read(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound=None,
    upper_bound=None,
) -> DataFrame:
    """S1 ``pg-tap`` source (trgx.clj:81-108) — with everything the reference
    lacked: predicate pushdown (on by default), column pruning, and
    **partitioned parallel reads** (the reference read through a single
    JDBC split).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("pushDownPredicate", "true")
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()


def jdbc_append(df: DataFrame, url: str, table: str, properties: dict[str, str] | None = None) -> None:
    """S6 ``?-`` into a JDBC sink tap (append), e.g.
    ``m_cocacola_score_overall.clj:85``. Errors are NOT swallowed (the
    reference wrapped every run in ``(try … (catch Exception _))``)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode("append")
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def render_create_table_if(table: str, columns: dict[str, str]) -> str:
    """S8 ``create-table-if`` DDL (trgx.clj:121-127) — rendered SQL."""
    cols = ", ".join(f"{name} {typ}" for name, typ in columns.items())
    return f"CREATE TABLE IF NOT EXISTS {table} ({cols})"


def render_truncate(table: str) -> str:
    """S10 ``truncate-tab`` (mlin/d_bolome_user_order.clj:52-53)."""
    return f"TRUNCATE TABLE {table}"


#: date / datetime literal shapes accepted by render_delete_range — the
#: bounds are interpolated into driver-rendered SQL, so anything that is
#: not plainly a date must be rejected before it can reach the statement
#: \Z, not $: re's $ also matches before a trailing newline, which would
#: let '2017-01-01\n' through the shape gate into the quoted literal
_DT_LITERAL = re.compile(r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}(\.\d{1,6})?)?\Z")


def render_delete_range(table: str, date_col: str, start_dt: str, end_dt: str) -> str:
    """S9/S13 ranged DELETE before re-append — the idempotent-reload
    primitive (``detele-report!`` trgx.clj:118-119; raw ``DELETE … USING
    rng`` mlin/d_bolome_user_order.clj:181-184).

    The bounds are pipeline config (the reference hard-coded them per
    job), but they are interpolated into SQL — so they must parse as
    date/datetime literals; any other shape raises rather than renders.
    """
    for v in (start_dt, end_dt):
        if not _DT_LITERAL.match(v):
            raise ValueError(
                f"render_delete_range: bound {v!r} is not a date/datetime "
                "literal (YYYY-MM-DD[ HH:MM:SS[.ffffff]])"
            )
        # The regex gates SHAPE only — '2017-99-99' or '25:61:61' would
        # sail through into the rendered DELETE and fail (or be coerced)
        # inside the target database. Round-trip through the stdlib parser
        # so semantic invalidity fails here, at render time. The fraction
        # is right-padded to 6 digits first: pre-3.11 fromisoformat only
        # accepts exactly 3 or 6 fractional digits, and the rendered SQL
        # uses the original v either way.
        iso = v.replace(" ", "T")
        if "." in iso:
            head, frac = iso.rsplit(".", 1)
            iso = f"{head}.{frac.ljust(6, '0')}"
        try:
            datetime.datetime.fromisoformat(iso)
        except ValueError as exc:
            raise ValueError(
                f"render_delete_range: bound {v!r} matches the literal "
                f"shape but is not a valid date/datetime: {exc}"
            ) from None
    return (
        f"DELETE FROM {table} WHERE {date_col} >= '{start_dt}' "
        f"AND {date_col} <= '{end_dt}'"
    )


def _jdbc_connection(spark: SparkSession, url: str, properties: dict[str, str] | None):
    """Open a driver-side JDBC connection via the py4j bridge; returns
    ``(jvm, conn)``. Single home for the Properties/DriverManager dance so
    connection-level fixes (login timeout, URL redaction) land once."""
    jvm = spark._jvm  # noqa: SLF001 - py4j bridge is the supported path here
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    return jvm, jvm.java.sql.DriverManager.getConnection(url, props)


def jdbc_table_exists(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> bool:
    """True iff ``table`` exists on the JDBC backend — via DatabaseMetaData
    (no probe query, no dialect-specific error-message matching). Checked
    against the verbatim, upper- and lower-cased name so unquoted
    identifiers resolve on case-folding backends (Derby/PG).

    The name is passed to ``getTables`` as a *pattern* argument, where
    ``_`` and ``%`` are LIKE wildcards — and every staged-sink name
    (``{table}_stage``) contains ``_``, so a raw pattern alone would
    report a similarly-shaped table (``kvXstage``) as a hit and the sink
    would then skip CREATE and fail on the missing table. Candidates
    from the (possibly over-matching) pattern are therefore post-filtered
    by EXACT ``TABLE_NAME``/``TABLE_SCHEM`` equality — the only portable
    discipline: Derby's ``getSearchStringEscape()`` returns ``""`` (its
    metadata patterns have no escape mechanism at all), so
    escape-the-pattern cannot work everywhere. The schema is pinned to
    the connection's current schema (or the name's own qualifier), so a
    same-named table in another schema can't shadow the probe."""
    _, conn = _jdbc_connection(spark, url, properties)
    try:
        md = conn.getMetaData()
        if "." in table:
            qualifier, bare = table.rsplit(".", 1)
            schemas = {qualifier, qualifier.upper(), qualifier.lower()}
        else:
            bare = table
            try:
                schemas = {conn.getSchema()}
            except Exception:
                schemas = {None}  # optional JDBC 4.1 API; null = any
        names = {bare, bare.upper(), bare.lower()}
        for schema in schemas:
            for name in names:
                rs = md.getTables(None, schema, name, None)
                try:
                    while rs.next():
                        # exact match only: the pattern may over-match
                        # through unescapable LIKE wildcards
                        if rs.getString("TABLE_NAME") in names and (
                            schema is None
                            or rs.getString("TABLE_SCHEM") in schemas
                        ):
                            return True
                finally:
                    rs.close()
        return False
    finally:
        conn.close()


def jdbc_execute(
    spark: SparkSession, url: str, sql: str, properties: dict[str, str] | None = None
) -> None:
    """Side-channel DDL/DML on a JDBC sink (S8-S14): the reference issued
    these through clojure.java.jdbc on the driver (trgx.clj:118-127,
    161-163, 188-193); here through the JVM's DriverManager on the Spark
    driver — cluster-side data paths never run DDL.

    For parquet/Delta sinks prefer :func:`publish_atomic` /
    :func:`overwrite_logical_partition` — these JDBC statements exist for
    parity with the reference's Postgres sink lifecycle.
    """
    jvm, conn = _jdbc_connection(spark, url, properties)
    try:
        stmt = conn.createStatement()
        try:
            stmt.execute(sql)
        finally:
            stmt.close()
    finally:
        conn.close()


def jdbc_execute_transaction(
    spark: SparkSession,
    url: str,
    statements: list[str],
    properties: dict[str, str] | None = None,
) -> None:
    """Run ``statements`` on a JDBC backend in ONE transaction (autocommit
    off; commit after the last statement, rollback on any failure).

    This is the executor :func:`dialects.render_replace_into_ods`'s
    docstring prescribes: the reference ran its 3-way ``ALTER TABLE``
    publish swap (trgx.clj:188-193) as separate autocommitted statements,
    leaving a no-live-table window between DROP and RENAME on a crash;
    PostgreSQL DDL is transactional, so executing the same statements
    inside one transaction closes that window — readers see the old table
    until the commit, then the new one. (Not all backends have
    transactional DDL — MySQL autocommits DDL regardless; on such
    backends this degrades to the reference's semantics, no worse.)
    """
    _, conn = _jdbc_connection(spark, url, properties)
    try:
        conn.setAutoCommit(False)
        try:
            stmt = conn.createStatement()
            try:
                for sql in statements:
                    stmt.execute(sql)
            finally:
                stmt.close()
            conn.commit()
        except Exception:
            conn.rollback()
            raise
    finally:
        conn.close()


def publish_replace_into_ods(
    spark: SparkSession,
    url: str,
    tmp_table: str,
    ods_table: str,
    ods_schema: str = "ods",
    properties: dict[str, str] | None = None,
) -> None:
    """S11 JDBC publish: the reference's ``replace-into-ods`` swap
    (trgx.clj:188-193) executed ATOMICALLY — renders the 3-statement
    drop/move/rename via :func:`dialects.render_replace_into_ods` and runs
    it through :func:`jdbc_execute_transaction`, so a crash mid-swap rolls
    back and readers never observe the reference's no-live-table window
    (PostgreSQL DDL is transactional; on autocommit-DDL backends this
    degrades to the reference's semantics, no worse). This is the ADOPTION
    ADVICE r10 asked for: the engine has no internal job that publishes to
    a JDBC ODS (that flow is user-invoked, like the reference's), so this
    function IS the public publish entry point — users call it instead of
    hand-running the rendered statements through per-statement
    autocommitted ``jdbc_execute``. Requires the backend's JDBC driver on
    the Spark classpath (the sandbox ships Derby only, so the live-PG
    swap semantics are exercised via psql in ``tests/test_pg_dialect.py``,
    the transaction semantics on Derby, and this function's wiring by
    ``tests/test_io_lifecycle.py``)."""
    from etl_cascalog_spark.dialects import render_replace_into_ods

    jdbc_execute_transaction(
        spark,
        url,
        render_replace_into_ods(tmp_table, ods_table, ods_schema),
        properties,
    )


def _bind_prepared_param(jvm, stmt, idx: int, v) -> None:
    """Bind one Python value to a PreparedStatement slot — the typed,
    injection-proof alternative to driver-rendered literals. Strings go
    through ``setString`` (the JDBC driver handles every quoting/escaping
    dialect, including backslash-escaping backends like MySQL); non-finite
    floats are rejected because no SQL dialect has a portable literal or
    bind value for them in a key predicate."""
    import decimal
    import math

    if v is None:
        # java.sql.Types.NULL = 0; setObject(i, null) is driver-dependent
        stmt.setNull(idx, 0)
    elif isinstance(v, bool):
        stmt.setBoolean(idx, v)
    elif isinstance(v, int):
        stmt.setLong(idx, v)
    elif isinstance(v, float):
        if not math.isfinite(v):
            raise ValueError(f"non-finite float {v!r} cannot be a JDBC bind value")
        stmt.setDouble(idx, v)
    elif isinstance(v, decimal.Decimal):
        stmt.setBigDecimal(idx, jvm.java.math.BigDecimal(str(v)))
    elif isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            # Aware datetimes bind by INSTANT: Timestamp.valueOf would
            # silently drop the offset and re-read the wall clock in the
            # JVM default zone — on a UTC+8 driver the stored instant lands
            # 8 h off and a keyed DELETE misses its rows. The epoch-millis
            # constructor (+setNanos for sub-ms) is zone-independent.
            # Integer math, not ``timestamp() * 1e6``: the float64 round
            # trip loses microsecond exactness past 2^53 epoch-us (~year
            # 2255), and a keyed DELETE must hit exact instants.
            epoch_us = (
                v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
            ) // datetime.timedelta(microseconds=1)
            ts = jvm.java.sql.Timestamp(epoch_us // 1000)
            ts.setNanos((epoch_us % 1_000_000) * 1000)
            stmt.setTimestamp(idx, ts)
        else:
            # Naive datetimes keep JDBC wall-clock semantics (valueOf)
            stmt.setTimestamp(
                idx,
                jvm.java.sql.Timestamp.valueOf(
                    v.strftime("%Y-%m-%d %H:%M:%S.%f")
                ),
            )
    elif isinstance(v, datetime.date):
        stmt.setDate(idx, jvm.java.sql.Date.valueOf(v.isoformat()))
    else:
        stmt.setString(idx, str(v))


def jdbc_execute_prepared(
    spark: SparkSession,
    url: str,
    sql: str,
    param_rows: list[tuple],
    properties: dict[str, str] | None = None,
    batch_size: int = 1000,
) -> None:
    """Parameterized DML through a JDBC ``PreparedStatement`` batch — the
    safe path when DATA VALUES (not just config-controlled table/column
    names) reach a driver-issued statement. ``sql`` carries ``?``
    placeholders; ``param_rows`` is one tuple per execution. Batched with
    ``addBatch``/``executeBatch`` every ``batch_size`` rows so a 100k-key
    delete is a handful of round trips, not 100k.

    Reference parity note: the reference interpolated values into SQL text
    via clojure.java.jdbc (trgx.clj:118-119) — prepared binds are the
    correct re-expression, not a divergence.
    """
    jvm, conn = _jdbc_connection(spark, url, properties)
    try:
        stmt = conn.prepareStatement(sql)
        try:
            pending = 0
            for row in param_rows:
                for i, v in enumerate(row, start=1):
                    _bind_prepared_param(jvm, stmt, i, v)
                stmt.addBatch()
                pending += 1
                if pending >= batch_size:
                    stmt.executeBatch()
                    pending = 0
            if pending:
                stmt.executeBatch()
        finally:
            stmt.close()
    finally:
        conn.close()


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """File sink (S7 family). ``partition_by`` gives partition pruning for
    downstream readers — the watermark/date columns of I1/I5 are the natural
    keys, so incremental reloads rewrite only the affected partitions."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def recover_publish(final_path: str) -> bool:
    """Heal a crashed :func:`publish_atomic`: if the live path is missing
    but a ``.old`` backup (or an orphaned version dir) exists, restore the
    newest complete copy. Returns True if a repair was made. Idempotent —
    safe to call on every reader/writer startup (the reference's 3-way
    ``ALTER TABLE`` swap had the same window inside a DB transaction;
    plain dirs need this explicit recovery step instead)."""
    final_path = os.path.abspath(final_path)
    if os.path.lexists(final_path):
        if os.path.islink(final_path) and not os.path.exists(final_path):
            os.unlink(final_path)  # broken symlink: fall through to restore
        else:
            return False
    backup = final_path + ".old"
    if os.path.lexists(backup):
        os.rename(backup, final_path)
        return True
    return False


def publish_atomic(df: DataFrame, final_path: str) -> None:
    """S11/S12 publish: write a fresh version dir, flip a symlink.

    Reference: ``replace-into-ods`` / ``switch-tab`` 3-way ``ALTER TABLE
    RENAME`` shuffle (trgx.clj:188-193; model/d_bolome_order_show_debut.clj:55-58).
    On a lakehouse you would use Delta/Iceberg ``REPLACE TABLE``; over plain
    dirs we stage to a sibling version dir and publish via ``os.replace`` of
    a symlink — the flip is a single atomic rename, so readers see either
    the old or the new table at every instant, including across a crash.

    One caveat: if ``final_path`` already exists as a REAL directory (a
    pre-symlink layout), the first call converts it: real dir → ``.old``,
    then symlink creation. A crash between those two steps leaves no live
    path but an intact ``.old`` — :func:`recover_publish` (called here on
    entry, and safe on reader startup) restores it. After conversion the
    window is gone for good.
    """
    final_path = os.path.abspath(final_path)
    parent = os.path.dirname(final_path)
    os.makedirs(parent, exist_ok=True)
    recover_publish(final_path)
    staged = tempfile.mkdtemp(prefix=os.path.basename(final_path) + ".v", dir=parent)
    df.write.mode("overwrite").parquet(staged)
    old_target = None
    backup = None
    if os.path.islink(final_path):
        old_target = os.path.realpath(final_path)
    elif os.path.exists(final_path):
        backup = final_path + ".old"
        if os.path.lexists(backup):
            shutil.rmtree(backup)
        os.rename(final_path, backup)  # crash after this → recover_publish
    tmp_link = tempfile.mktemp(prefix=".link_", dir=parent)
    os.symlink(os.path.basename(staged), tmp_link)
    os.replace(tmp_link, final_path)  # the atomic flip
    for stale in (old_target, backup):
        if stale and os.path.lexists(stale):
            shutil.rmtree(stale)


def overwrite_logical_partition(
    df: DataFrame, path: str, partition_col: str
) -> None:
    """S9/I5: idempotent reload — replace only the partitions present in
    ``df`` (the reference did ranged ``DELETE`` + re-append, trgx.clj:118-119).
    Uses dynamic partition overwrite so a watermark re-run is idempotent
    without touching historical partitions.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
) -> None:
    """Bucketed, sorted table write — the co-located-join primitive for
    repeated large joins on a stable key (the stg⋈ods merge key, the star
    fact⋈fact case). Two tables bucketed the same way join with ZERO
    exchange: the bucketing is the shuffle, paid once at write time
    (verified in tests: no Exchange in the join plan).

    The reference re-shuffled every run (Hadoop MR had no bucket
    awareness). At 100 TB this converts the recurring merge shuffle into a
    one-time layout decision — the single biggest recurring-cost lever for
    the warehouse pipelines (SURVEY E2).
    """
    (
        df.write.bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """S7 ``hfs-delimited`` (imported-but-stub in the reference,
    hadoop/bolome/d_bolome_order.clj:4-5): delimited file source with an
    explicit schema (no inference job at scale — pass the schema)."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("delimiter", delimiter)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_seqfile(
    spark: SparkSession,
    path: str,
    key_name: str = "key",
    value_name: str = "value",
) -> DataFrame:
    """S7 ``hfs-seqfile`` (imported-but-never-exercised in the reference,
    hadoop/bolome/d_bolome_order.clj:4-5): Hadoop SequenceFile of
    (Text, Text) pairs → a two-string-column DataFrame.

    The one deliberate RDD touch in this codebase: SequenceFile is a
    key-value container with no DataFrame source in Spark, so the bridge
    is ``sc.sequenceFile`` (Writable⇄JVM conversion, splittable reads —
    one task per block, same parallelism story as any HDFS input) followed
    by an immediate hop into a DataFrame, where everything downstream
    stays in Catalyst. Legacy-migration aid only — land new data in
    parquet/ORC."""
    rdd = spark.sparkContext.sequenceFile(path)
    return spark.createDataFrame(rdd, f"{key_name} string, {value_name} string")


def write_seqfile(df: DataFrame, path: str, key_col: str, value_col: str) -> None:
    """SequenceFile sink twin of :func:`read_seqfile`: two string columns →
    (Text, Text) pairs, one output file per partition."""
    df.select(key_col, value_col).rdd.map(tuple).saveAsSequenceFile(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """S7 ``hfs-wholefile`` (imported in the reference but never exercised,
    hadoop/bolome/d_bolome_order.clj:4-5): whole-file binary tap over
    Spark's built-in ``binaryFile`` source — one row per file with
    ``(path string, modificationTime timestamp, length long,
    content binary)``.

    This is the ingestion edge for the multimodal family: point it at a
    directory of image/audio/video files and the payloads flow into the
    same ``content``-column plumbing as self-encoded payloads
    (``multimodal.decode_image`` consumes the ``content`` column as-is).

    Scale notes: files are NOT split (whole-file semantics by definition),
    so parallelism = number of files; ``spark.sql.files.maxPartitionBytes``
    /``openCostInBytes`` govern how many small files batch into one task.
    Metadata-only pipelines should select path/length only — column
    pruning drops ``content`` at the scan and no payload bytes move.
    ``glob`` maps to ``pathGlobFilter`` (e.g. ``"*.ppm"``) and prunes at
    listing time, before any read.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema=None,
) -> DataFrame:
    """S7 extension: XML source via Spark 4's BUILT-IN xml data source
    (spark-xml was merged into core in 4.0 — no external package). One
    DataFrame row per ``row_tag`` element; attributes surface as
    ``_attr`` columns, nested elements as structs/arrays.

    Pass ``schema`` in production — inference is a full extra pass, the
    same rule as :func:`read_csv`. Splittability caveat at scale: XML
    rows spanning block boundaries make the format the worst of the
    text sources; land data in parquet/ORC and keep XML for ingestion
    edges only."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame, path: str, row_tag: str = "row", root_tag: str = "rows"
) -> None:
    """XML sink twin of :func:`read_xml` (one file per partition, same
    layout contract as every file sink here)."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode("overwrite")
        .save(path)
    )


def compact(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet dir into ``target_files``
    output files (default: sized from the on-disk bytes at
    ``target_bytes`` per file) and publish atomically (readers never see
    a partial rewrite; crash recovery via :func:`recover_publish`).

    The operational counterpart of streaming/incremental ingest at 100 TB:
    every micro-batch append creates files, and scan parallelism degrades
    into per-file task overhead (the classic small-files problem). Uses
    ``coalesce`` (no shuffle — merges input splits) rather than
    ``repartition``; returns the file count written.
    """
    import os

    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, fn in os.walk(path)
        for f in fn
        if f.endswith(".parquet")
    )
    n = target_files or max(1, round(size / target_bytes))
    df = spark.read.parquet(path).coalesce(n)
    publish_atomic(df, path)
    return n


def write_with_metrics(
    df: DataFrame,
    path: str,
    metric_cols: list[str] | None = None,
) -> dict:
    """Parquet write + data-quality metrics from the SAME job via
    ``Observation`` — row count and per-column null counts come out of
    the write pass itself, so the QA numbers are exactly the written
    rows with ZERO extra scan (a follow-up ``count()``/profile re-reads
    the whole output at 100 TB, and can even disagree with what was
    written if the input is nondeterministic upstream).

    Returns the metrics dict: ``{"n_rows": N, "nulls_<col>": N, ...}``.
    The reference's bookkeeping insert (S14 — load-range audit rows,
    ``operators/validate.py``) consumes these instead of re-scanning.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cols = metric_cols if metric_cols is not None else df.columns
    obs = Observation("write_metrics")
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in cols
    ]
    df.observe(obs, *metrics).write.mode("overwrite").parquet(path)
    return dict(obs.get)
