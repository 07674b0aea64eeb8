"""Central query registry feeding the driver contract.

Every operator the engine implements is registered here as a named
query (a ``(spark, sf_dir) -> DataFrame`` callable) optionally paired
with an ANSI-SQL oracle string that DuckDB runs on the same parquet
tables. The driver compares row-count + schema + order-insensitive
value-hash, so:

- every computed column is aliased identically on both sides;
- float aggregates are rounded identically on both sides (double
  summation order differs between engines);
- integer-valued computed columns are cast to BIGINT on both sides
  (DuckDB widens integer SUMs to HUGEINT, Spark to LONG).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``sql`` is the DuckDB oracle (omit for
    non-SQL-expressible operators → driver does a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


_STABLE_ROOT: str | None = None


def _stable_root() -> str:
    """Session-private root for all scratch dirs: namespaced by user +
    repo checkout + PID (mode 0o700, ownership-checked, rmtree'd at
    exit). Concurrent processes — pytest alongside check_oracle, the
    driver alongside bench — get disjoint roots, so streaming
    checkpoints and sink round-trips can't clobber each other's state
    stores, and another user on a shared host can't pre-seed a
    predictable /tmp path that we'd read back as query results."""
    global _STABLE_ROOT
    if _STABLE_ROOT is None:
        import atexit
        import getpass
        import hashlib
        import os
        import shutil
        import tempfile

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        tag = hashlib.md5(repo.encode()).hexdigest()[:8]
        root = os.path.join(
            tempfile.gettempdir(),
            f"re_{getpass.getuser()}_{tag}_{os.getpid()}",
        )
        os.makedirs(root, mode=0o700, exist_ok=True)
        st = os.stat(root)
        if hasattr(os, "getuid") and st.st_uid != os.getuid():
            raise RuntimeError(f"scratch root {root} not owned by this user")
        os.chmod(root, 0o700)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _STABLE_ROOT = root
    return _STABLE_ROOT


def stable_tmp(name: str) -> str:
    """Stable per-query scratch directory (not mkdtemp): within one
    process, repeated bench/correctness runs overwrite ONE directory
    instead of accumulating temp dirs, and the identical path keeps any
    cached scan's canonicalized plan shared across runs. Safe because
    every sink that round-trips through it writes mode('overwrite'),
    and the per-process root (see _stable_root) isolates concurrent
    sessions."""
    import os

    out = os.path.join(_stable_root(), f"re_{name}")
    os.makedirs(out, exist_ok=True)
    return out


def input_width(
    spark: SparkSession,
    sf_dir: str,
    *tables: str,
    mb_per_part: float = 32,
    floor: int = 1,
    python_floor: bool = False,
) -> int:
    """Scale-adaptive width for an EXPLICIT repartition: one partition
    per ``mb_per_part`` MB of source parquet bytes, clamped to
    [``floor``, defaultParallelism], with ``$SPARK_GRAFT_BATCH_PARTS``
    as the production override (guide §2 — derive partitioning from
    input size, not a constant tuned for local mode or the cluster).

    The batch counterpart of streaming._stream_state_partitions (r14):
    a hard-coded ``repartition(8, ...)`` or ``repartition(cores, ...)``
    either caps a 100 TB input at local-mode width or fans a 2 MB input
    out to 32 near-empty tasks (the r14 driver's scaling block showed
    eight headline queries running FASTER at 8 cores than 32 for
    exactly this reason). ``mb_per_part`` expresses per-byte stage
    cost: 32 MB/part for scan-grade work, small values (<=1) for
    Python-codec stages whose CPU cost per source byte is ~10^3 higher.
    ``floor`` keeps a minimum parallelism for stages whose cost is
    per-row Python overhead rather than bytes (the streaming helper's
    cores/4 idea); ``python_floor=True`` applies that cores/4 floor
    dynamically — Python-worker stages parallelize per PARTITION, so a
    bytes-only derivation would serialize a tiny snapshot's heavy
    per-row codec work through one worker. At production volume
    bytes/mb_per_part >> cores, so the clamp hits defaultParallelism
    and behavior matches the old constants exactly; only the
    tiny-snapshot regime changes.

    No local bytes at all — a missing directory, or a path the os
    module cannot size (hdfs://, s3a://, dbfs:/) — means the size is
    unknown, not tiny: the width is then defaultParallelism, never a
    silent 1."""
    import math
    import os as _os

    env = _os.environ.get("SPARK_GRAFT_BATCH_PARTS")
    if env and env.isdigit() and int(env) > 0:
        return int(env)
    size = 0
    for name in tables:
        p = _os.path.join(sf_dir, f"{name}.parquet")
        try:
            if _os.path.isdir(p):
                for root, _dirs, files in _os.walk(p):
                    size += sum(
                        _os.path.getsize(_os.path.join(root, f))
                        for f in files
                        if not f.startswith("_")
                    )
            else:
                size += _os.path.getsize(p)
        except OSError:
            pass
    width = spark.sparkContext.defaultParallelism
    if size == 0:
        return width
    need = max(floor, math.ceil(size / int(mb_per_part * (1 << 20))))
    if python_floor:
        # at least 2 (when the session has ≥2 cores): a width of 1
        # collapses the repartition to SinglePartition and serializes
        # every Arrow batch through one Python worker — the exact
        # failure the explicit width exists to prevent.
        need = max(need, min(width, 2), math.ceil(width / 4))
    return max(1, min(need, width))


_STORE = "_realestate_shared"


def shared(spark: SparkSession, key: tuple, build: Callable[[], DataFrame]) -> DataFrame:
    """The session store: ``build()`` once per (session, key), then the
    same DataFrame for every later call in that session. It holds the
    relations a session reuses across queries: table scans (``t``) and
    the near-dup cluster labels (``dedup._cluster_labels``). Plan-keyed
    ``cache_once`` relations are the third kind of reuse; ``reset``
    frees all three.

    Lifetime. The dict lives on the SparkSession object itself, so an
    entry lives exactly as long as its session and never pins another
    one (a module-level map keyed by the session would be kept alive by
    its own values: every DataFrame references its session). Within a
    session, entries and cached plans are a pure function of sf_dir
    (sinks round-trip through stable_tmp paths), so repeated runs reuse
    one entry instead of adding new ones. ``reset(spark)`` drops them.

    Self-joins. ``t()`` returns the SAME Dataset on every call, so both
    sides of a self-join share their attributes and ``df1.x == df2.x``
    resolves to one column. Self-joins must alias each side
    (``t(...).alias("a")`` with ``F.col("a.x")``) or rename columns in
    a projection first.

    Checkpoints. Iterative queries materialize their rounds through
    ``iterate``, and the memoized cluster labels are such a
    checkpoint. Those blocks are not in the cache manager, so
    ``spark.catalog.clearCache()`` does not free them, and they have no
    lineage: on a cluster, losing the executor that holds them makes
    every later read of the entry fail. ``reset(spark)`` is the way out
    in both cases; the next call rebuilds from the parquet inputs."""
    memo = vars(spark).setdefault(_STORE, {})
    if key not in memo:
        memo[key] = build()
    return memo[key]


def cache_once(df: DataFrame) -> DataFrame:
    """cache() unless this exact (canonicalized) plan is already in the
    cache manager — avoids the 'Asked to cache already cached data'
    WARN when two queries share a cached relation (e.g. the shingle
    relation of the batch and incremental LSH pipelines). Queries
    return LAZY DataFrames, so nothing unpersists inside a query body:
    entries live until ``reset`` (see ``shared``)."""
    lvl = df.storageLevel
    return df if (lvl.useMemory or lvl.useDisk) else df.cache()


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    probe: Callable[[DataFrame], object] | None = None,
) -> list[DataFrame]:
    """The round loop of every checkpointed iterative query: run
    ``step(state, r)`` for r = 1, 2, ... and return every state, the
    input first (census queries read per-round counts from the list;
    the result is ``states[-1]``).

    Materialization. Each round's state is ``localCheckpoint()``ed
    once, here: the eager checkpoint truncates the lineage, so round r
    plans against round r-1's blocks instead of nesting r copies of
    the step — a step that self-joins its state doubles a lazy plan
    per round (the Boruvka lesson, PLANS.md r7). The input is returned
    as given; a caller whose step reads it twice pins it first.
    By-products a step reads more than once (MIS winners, matching
    selections) are checkpointed inside the step.

    Stop rule. Without ``probe`` the loop runs exactly ``rounds``
    rounds. A ``probe`` is a driver-side scalar of one round's state
    that repeats only at the fixed point: the loop stops at the first
    round whose value equals the previous round's (so it runs at least
    two rounds), and raises RuntimeError when the ``rounds`` budget
    runs out first — an unconverged state would be a silently wrong
    answer. The checkpoints live until ``reset``."""
    states = [state]
    last = None
    for r in range(1, rounds + 1):
        state = step(state, r).localCheckpoint()
        states.append(state)
        if probe is not None:
            cur = probe(state)
            if r > 1 and cur == last:
                return states
            last = cur
    if probe is not None:
        name = step.__qualname__.split(".<locals>")[0]
        raise RuntimeError(
            f"{name}: no fixed point after {rounds} rounds; raise its round budget"
        )
    return states


def reset(spark: SparkSession) -> None:
    """Free what the session holds: drop its ``shared`` entries, clear
    the cache manager, and unpersist every RDD still persisted in the
    SparkContext (the localCheckpoint blocks ``clearCache`` leaves).
    A DataFrame built before the reset may read freed checkpoint
    blocks; build it again."""
    vars(spark).pop(_STORE, None)
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table: a lazy scan, ``shared`` per
    session x sf_dir x table. Memoizing the scan reuses its resolved
    schema and file index across query builds (each
    ``spark.read.parquet`` costs ~70-95 ms of py4j and footer
    resolution); every action still reads the files.

    The events table's ts column has varied across driver testdata
    generations: parquet TIMESTAMP(NANOS) (unmappable natively — read
    as long nanos via legacy.parquet.nanosAsLong and convert, no
    precision loss at the data's µs resolution) or TIMESTAMP(MICROS)
    with isAdjustedToUTC=false (read as TIMESTAMP_NTZ, which Spark 4
    rejects in unix_micros/window functions). Normalize both to plain
    TimestampType here; the session timezone is pinned UTC so the
    NTZ→TZ cast preserves wall-clock values and matches DuckDB's naive
    read of the same file.
    """
    from pyspark.sql import functions as F

    def scan() -> DataFrame:
        # The driver supplies its own SparkSession; pin the timezone so
        # timestamp-derived values (year/date_trunc/window) match the
        # DuckDB oracle regardless of host timezone.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        if name != "events":
            return spark.read.parquet(f"{sf_dir}/{name}.parquet")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_type == "timestamp_ntz":
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    return shared(spark, ("scan", sf_dir, name), scan)


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    import realestate_engine.queries_core  # noqa: F401
    import realestate_engine.queries_aggregates  # noqa: F401
    import realestate_engine.queries_functions  # noqa: F401
    import realestate_engine.queries_tpch  # noqa: F401
    import realestate_engine.queries_ml  # noqa: F401
    import realestate_engine.dedup  # noqa: F401
    import realestate_engine.similarity  # noqa: F401
    import realestate_engine.text  # noqa: F401
    import realestate_engine.tokenizers  # noqa: F401
    import realestate_engine.streaming  # noqa: F401
    import realestate_engine.temporal  # noqa: F401
    import realestate_engine.multimodal  # noqa: F401
    import realestate_engine.queries_media_probes  # noqa: F401
    import realestate_engine.timeseries  # noqa: F401
    import realestate_engine.packing  # noqa: F401
    import realestate_engine.queries_sources_sql  # noqa: F401
    import realestate_engine.queries_experiments  # noqa: F401
    import realestate_engine.queries_quality  # noqa: F401
    import realestate_engine.queries_mleval  # noqa: F401
    import realestate_engine.queries_calibration  # noqa: F401
    import realestate_engine.queries_preference  # noqa: F401
    import realestate_engine.queries_lakehouse  # noqa: F401
    import realestate_engine.graph  # noqa: F401
    import realestate_engine.ordered  # noqa: F401
