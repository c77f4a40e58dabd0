"""Table catalog for the driver-generated testdata (TESTDATA.md).

The reference hand-loads CSVs with explicit StructTypes (model-als.py:17-103);
here the primary at-rest format is Parquet (columnar, statistics, predicate
pushdown — the right 100 TB format), with the CSV conventions preserved in
`sources/csv.py` for ingestion parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from recommendation_system_big_data_spark.session import ensure_runtime_conf

#: Every driver-provided table (TESTDATA.md / FIXTURES.md §B).
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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


#: Every store made by `session_store`, so `clear_session_caches` reaches
#: the caches of every loaded module.
_STORES: list[dict] = []


def session_store() -> dict:
    """A new, registered store for `session_cache`."""
    store: dict = {}
    _STORES.append(store)
    return store


def _evict(store: dict, key: tuple) -> None:
    value = store.pop(key)
    if isinstance(value, DataFrame):
        # Non-blocking: the CacheManager entry goes at once, so no later
        # plan over the same files is served these blocks; the blocks
        # drain in the background.
        value.unpersist(blocking=False)


def session_cache(
    store: dict,
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...],
    params: tuple,
    build,
    max_entries: int,
):
    """Session-scoped LRU memo behind every fit-once cache of the engine
    (parquet schemas, ALS models, the shingle index, ANN quantizers).

    The key is ``(applicationId, sf_dir, fingerprints, *params)``, where
    ``fingerprints`` holds `table_fingerprint` of each table in ``tables``
    (``()`` for a cache that reads no table), so a hit is what a fresh
    ``build()`` would return:
    - a table the local filesystem cannot stat (remote store, missing
      table) is built uncached, and fails or succeeds as ``build()`` does;
    - a DataFrame value is persisted on build and unpersisted on eviction;
    - a new table version first evicts the entries of the same
      ``(applicationId, sf_dir, params)`` built from another one. Spark's
      CacheManager serves a persisted frame to any plan of the same shape
      over the same path, so a rebuild next to the stale frame would read
      the stale blocks.
    Entries of other applicationIds (stopped sessions) are dropped without
    unpersist: their contexts are gone. A hit moves to the back, so
    eviction is least-recently-used. ``build()`` may itself insert (the
    hierarchical IVF fits its coarse model inside the fine one's build);
    the cap is enforced after the insert. Not thread-safe: the engine calls
    it from the one driver thread that builds its queries."""
    try:
        fingerprints = tuple(table_fingerprint(sf_dir, t) for t in tables)
    except OSError:
        return build()
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, fingerprints, *params)
    for k in [k for k in store if k[0] != app_id]:
        store.pop(k)
    if key in store:
        store[key] = store.pop(key)
        return store[key]
    for k in [k for k in store if k[:2] == key[:2] and k[3:] == key[3:]]:
        _evict(store, k)
    value = build()
    if isinstance(value, DataFrame):
        value = value.persist()
    store[key] = value
    while len(store) > max_entries:
        _evict(store, next(iter(store)))
    return value


def clear_session_caches() -> None:
    """Evict every session-cache entry, unpersisting persisted frames (so
    a sweep over session layouts never reads an earlier run's blocks)."""
    for store in _STORES:
        for key in list(store):
            _evict(store, key)


#: Session-scoped parquet schemas: the StructType Spark inferred from a
#: table's footer. Inference is a one-task Spark job on every
#: `spark.read.parquet`; a read with `.schema(...)` runs none, so a session
#: pays it once per table version, not once per query.
_SCHEMAS: dict[tuple, StructType] = session_store()

#: Cap = the ten testdata tables × the three corpora a session realistically
#: interleaves (the test suite alternates sf0.001/sf0.01, bench adds sf0.1),
#: rounded up.
_SCHEMAS_MAX = 32


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    `events.ts` has been generated differently across driver rounds: parquet
    TIMESTAMP(NANOS) (→ bigint under `spark.sql.legacy.parquet.nanosAsLong`,
    converted here with integer division — a double division would lose
    precision above 2^53 ns), and plain TIMESTAMP_NTZ micros (round 4+),
    which Spark maps natively. Timestamp columns are kept as whatever naive
    (NTZ) type they arrive as; epoch math must go through `epoch_us`/
    `epoch_s` below, which are timezone-agnostic and accept both NTZ and
    instant inputs.

    The inferred schema is memoised per table version (`_SCHEMAS`, see
    `session_cache`): a rewritten file is re-inferred, and a path the local
    filesystem cannot stat is read uncached.
    """
    ensure_runtime_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = session_cache(
        _SCHEMAS,
        spark,
        sf_dir,
        (name,),
        (name,),
        lambda: spark.read.parquet(path).schema,
        _SCHEMAS_MAX,
    )
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def epoch_us(col) -> F.Column:
    """Epoch microseconds of a timestamp column, timezone-agnostic.

    The driver's testdata stores naive timestamps (TIMESTAMP_NTZ in round
    4+), which DuckDB also reads as naive TIMESTAMP — so oracle-parity epoch
    math must not route through the session timezone. `F.unix_micros`
    requires an instant (fails on NTZ outright) and would skew under a
    non-UTC driver session; `timestamp_diff` against the NTZ epoch is exact
    integer microseconds for either input type (instants are cast to NTZ
    via the session zone, which `ensure_runtime_conf` pins to UTC).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),
    )


def epoch_s(col) -> F.Column:
    """Epoch seconds (truncated) of a timestamp column — see `epoch_us`.

    Matches `unix_timestamp` / DuckDB `floor(epoch(ts))` semantics for
    post-1970 data (timestamp_diff truncates toward zero).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "SECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),
    )


#: Mirror of spark.sql.autoBroadcastJoinThreshold's intent, applied where a
#: *logical* hint would otherwise be unconditional (VERDICT r1 #2).
#: Compressed parquet expands ~5-10x when decoded into the JVM broadcast
#: relation (dictionary/RLE undone, object headers), so the at-rest gate is
#: the broadcast budget divided by that expansion — 8 MB of parquet ≈ the
#: 64 MB in-memory intent, rather than letting a "64 MB" parquet gate admit
#: ~0.5 GB broadcasts (ADVICE r2).
PARQUET_BROADCAST_EXPANSION = 8
BROADCAST_THRESHOLD_BYTES = (64 * 1024 * 1024) // PARQUET_BROADCAST_EXPANSION


def _table_files(sf_dir: str, name: str) -> list[str]:
    """Every file of a testdata table (one parquet file, or a directory)."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        return [
            os.path.join(root, f) for root, _, files in os.walk(path) for f in files
        ]
    return [path]


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a testdata table."""
    import os

    return sum(os.path.getsize(f) for f in _table_files(sf_dir, name))


def table_fingerprint(sf_dir: str, name: str) -> tuple[int, int]:
    """(byte size, newest mtime_ns) of a table's files: the version key of
    the session caches built from a table. Rewriting the table changes it,
    so a cache keyed on it refits instead of serving a stale entry."""
    import os

    stats = [os.stat(f) for f in _table_files(sf_dir, name)]
    return (
        sum(st.st_size for st in stats),
        max((st.st_mtime_ns for st in stats), default=0),
    )


def maybe_broadcast(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Broadcast-hint ``df`` only when its at-rest size is provably small.

    An unconditional ``F.broadcast`` on a dimension that *grows with the
    scale factor* (customer is 1.5 M rows/SF) forces an OOM-or-die broadcast
    at 100×; gating on the parquet footprint keeps the hint for genuinely
    small tables and otherwise leaves the strategy to AQE's runtime
    statistics, matching the discipline in queries/tpch.py (hint only
    provably-small filtered dims)."""
    if table_bytes(sf_dir, name) <= BROADCAST_THRESHOLD_BYTES:
        return F.broadcast(df)
    return df


def min_parallelism(
    df: DataFrame, spark: SparkSession, parts: int | None = None
) -> DataFrame:
    """Small-input parallelization guard for heavy per-row map stages.

    A narrow scan (one small parquet file, or a selective filter of one)
    plans as 1-3 input splits, and every map-side stage downstream of it
    — n-gram explodes, hash fan-outs, sketch dot products — inherits
    that partitioning until the first exchange, serializing work that is
    embarrassingly parallel (the permutation test measured 9.2 s → 2.1 s
    from exactly this). Round-robin repartition ONLY when the current
    partitioning is below the session parallelism: at production scale
    inputs arrive already split and this is a pure no-op (no exchange in
    the plan); at fixture scale it moves n small rows to parallelize the
    Θ(fan-out·n) compute that follows. Apply it where the map work per
    row is heavy — never blanket-apply to cheap scans, where the extra
    exchange is pure loss.

    CONTRACT (r12, per r11 ADVICE): the input must be a LEAF SCAN — a
    `load(...)` result, optionally filtered/projected, with no shuffle
    below it. Probing partition count via `df.rdd` finalizes the
    physical plan and converts to an RDD; below a shuffle that bypasses
    AQE and the RDD count need not match the runtime split count, so
    for any plan containing a shuffle-producing operator this helper
    now declines to probe and returns the input unchanged (the exchange
    that operator already inserts restores parallelism by itself). For
    a pure scan subtree the RDD partition count IS the scan split count
    (no AQE stage boundary exists to re-plan), so the probe is exact."""
    plan = df._jdf.queryExecution().analyzed().toString()
    shuffley = (
        "Join", "Aggregate", "Repartition", "Window", "Sort",
        "Distinct", "Deduplicate", "Union", "GlobalLimit",
    )
    if any(op in plan for op in shuffley):
        return df
    want = parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql(...)` works too."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
