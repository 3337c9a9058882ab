"""Fixture loading (TESTDATA.md / FIXTURES.md).

One parquet file per table per scale factor. Schemas are fixed by the
generated fixtures and read as-is from the parquet footers (SURVEY.md §1.2
"never rely on inference" of CSV/JSON-style types). Reading a parquet
footer into a ``StructType`` is still a Spark job, though: a bare
``spark.read.parquet(path)`` runs one on every call, and at the sub-second
keys' scale that job was the largest fixed cost of building a query (15 of
35 jobs per pass of the interactive benchmark). ``parquet_schema`` infers a
source's schema once per process, keyed by the files' identities and the
confs that change inference, and ``load`` reads with that schema declared —
so a warm load starts no job. Query code reads fixtures only through
``load`` / ``parquet_schema``, and a read-back of a just-written dataset
declares the writer's schema.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

log = logging.getLogger(__name__)

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


#: DuckDB-side FROM-clause replacement for ``events``. The fixture's ts
#: unit DRIFTS across driver regenerations (TIMESTAMP(NANOS) in r1-r2,
#: timestamp[us] since r3 — FIXTURES.md); ``epoch_ns`` is unit-agnostic
#: in DuckDB, and the ``// 1000`` floor-division truncates to µs exactly
#: as the Spark side does when nanos actually arrive, so both engines
#: agree whichever unit the driver ships next.
EVENTS_SQL = (
    "(SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,"
    " user_id, event_type, value, props FROM events)"
)


#: Confs whose values change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: (path, inference conf values) -> (file signature, inferred schema). One
#: entry per path and conf set: a rewritten source replaces its entry.
#: Threads that miss together both infer and store equal entries.
_SCHEMAS: dict[tuple[str, tuple], tuple[list, StructType]] = {}


def _parquet_files(src_path: str):
    """The parquet files of a source: the path itself, or every
    ``*.parquet`` under a directory, skipping the names Spark's file
    index hides (``.x``, and ``_x`` unless it is a ``_k=v`` partition
    directory)."""

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    if not os.path.isdir(src_path):
        yield src_path
        return
    for root, dirs, files in os.walk(src_path):
        dirs[:] = sorted(d for d in dirs if not hidden(d))
        for f in sorted(files):
            if f.endswith(".parquet") and not hidden(f):
                yield os.path.join(root, f)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The ``StructType`` ``spark.read.parquet(path)`` would infer, cached.

    Inference reads footers in a Spark job — 70-80 ms per call on a warm
    session, for files that have not changed. The cache key is the path,
    a signature of its files (name, size, ``st_mtime_ns``, inode — a
    rewrite in place or a new part file changes it) and the values of
    ``_INFERENCE_CONFS``, so a fixture regenerated with another ``ts``
    unit, or a session that reads nanos differently, infers afresh. Only
    the schema is cached: callers build a new relation per read, with
    its own attribute ids. A path that is not on the local file system,
    or holds no parquet file, is inferred on every call.
    """
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    sig = []
    try:
        for p in _parquet_files(path):
            st = os.stat(p)
            sig.append((p, st.st_size, st.st_mtime_ns, st.st_ino))
    except OSError:
        sig = []
    hit = _SCHEMAS.get((path, confs))
    if sig and hit is not None and hit[0] == sig:
        return hit[1]
    schema = spark.read.parquet(path).schema
    if sig:
        _SCHEMAS[(path, confs)] = (sig, schema)
    return schema


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table: {name}")
    path = f"{sf_dir}/{name}.parquet"
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        from pyspark.sql import functions as F  # local import, cheap
        from pyspark.sql import types as T

        # Arrival-type detection — never hardcode the fixture's ts unit
        # (it drifts across driver regenerations: NANOS in r1-r2,
        # timestamp[us] since r3). A TIMESTAMP(NANOS) fixture arrives as
        # int64 under spark.sql.legacy.parquet.nanosAsLong — truncate
        # (not round) to µs; `div` is integer division, safe at
        # 1.7e18-scale nanos where double math is not. µs fixtures (and
        # our own re-written sinks) arrive as timestamps and pass
        # through untouched.
        if isinstance(schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


#: (source path, defaultParallelism, threshold) -> should we re-split?
_SPREAD_CACHE: dict[tuple[str | None, int, int], bool] = {}


def spread(
    df: DataFrame,
    src_path: str | None = None,
    min_rows_per_split: int = 20_000,
) -> DataFrame:
    """Raise map-side parallelism when the source badly under-splits.

    Text compresses so well that a whole corpus can arrive as a handful
    of parquet splits (the 100× replica is 500 k docs in one 4.4 MB
    file → a 2-task scan, and parquet cannot split below a row-group
    boundary) — and tokenize/explode/partial-aggregate work is MAP-SIDE,
    inheriting scan parallelism: quality_repetition measured 436 s at
    100× with 30 of 32 cores idle. Round-robin to the cluster's default
    parallelism ONLY when (a) the scan under-splits AND (b) the footer
    row count says each missing core forgoes real map work
    (``min_rows_per_split`` rows per existing split — measured: the
    extra exchange costs ~0.3-0.6 s at sf0.1, so re-splitting a 5 k-doc
    fixture LOSES time for cheap per-row work, while md5-heavy callers
    pass a lower threshold because they win even there). On a real
    many-file 100 TB corpus the scan has thousands of splits and this
    is a no-op — no gratuitous corpus shuffle at scale. Apply to keys
    whose downstream work is explode/token-heavy; pure per-row map keys
    keep their zero-shuffle plans (their design claim) instead.

    The split probe (``df.rdd.getNumPartitions``) costs ~200 ms of
    driver-side plan conversion per call, so the verdict is cached per
    (source, parallelism, threshold) when ``src_path`` is given. Without
    a path the row count is unknown and under-split alone decides
    (the pre-r9 behavior, for DataFrame-only call sites).
    """
    sc = df.sparkSession.sparkContext
    key = (src_path, sc.defaultParallelism, min_rows_per_split)
    need = _SPREAD_CACHE.get(key) if src_path else None
    if need is None:
        n_parts = df.rdd.getNumPartitions()
        need = n_parts < sc.defaultParallelism
        if need and src_path:
            rows = parquet_rows(src_path)
            if rows is not None:
                need = rows / max(n_parts, 1) > min_rows_per_split
        if src_path:
            _SPREAD_CACHE[key] = need
    return df.repartition(sc.defaultParallelism) if need else df


def parquet_rows(src_path: str) -> int | None:
    """Footer row count of a parquet source — single file OR directory
    (every Spark-written dataset is a directory of part files).

    Metadata only, no data read. A file whose footer cannot be read is
    logged and skipped; None when every file was skipped (a remote or
    non-parquet source), so ``spread`` falls back to its under-split-only
    rule. Any other error propagates.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    total, read, skipped = 0, 0, 0
    for p in _parquet_files(src_path):
        try:
            total += pq.read_metadata(p).num_rows
            read += 1
        except (OSError, pa.ArrowInvalid) as exc:
            skipped += 1
            log.warning("parquet footer unreadable, skipped: %s (%r)", p, exc)
    return None if skipped and not read else total


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (nanos-normalized).

    The switch-over path for a reference user's own SQL: after this,
    ``spark.sql("SELECT ... FROM lineitem JOIN ...")`` works against the
    same normalized tables every registered key reads (events included,
    with its NANOS→µs handling applied).
    """
    for t, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(t)
