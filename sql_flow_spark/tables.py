"""Test-data table loading.

The driver's synthetic TPC-H-ish tables (TESTDATA.md) are one parquet
file (or directory of part files) per table. ``load_tables`` reads them
lazily and registers temp views so operators can be written either via
the DataFrame API or ``spark.sql``; column pruning and predicate
pushdown then happen per-query via Catalyst.

Parquet metadata is memoized driver-side in one record per table
(``_footer_meta``), keyed by the file-set fingerprint: each listed
file's name, size and ``st_mtime_ns``. The record holds row-group and
row counts, vector dims, and the StructType Spark inferred on the first
read, per value of the inference confs (_INFER_CONFS); later reads pass
it as ``spark.read.schema(s).parquet(path)`` and skip the inference
job. Non-local paths get no record and a plain ``spark.read.parquet``.
No DataFrame or result is cached.
"""

from __future__ import annotations

import os
import re
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

# Sessions whose defensive runtime confs are already applied (see
# load_tables); weak so stopped sessions don't pin memory and replaced
# objects re-configure.
_CONF_DONE: "weakref.WeakSet" = weakref.WeakSet()

TABLE_NAMES = (
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

# Dimensions small enough to broadcast at ANY scale factor (they grow
# sublinearly or are fixed-size in TPC-H-style generators).
BROADCAST_DIMS = ("region", "nation")

# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as long
# (spark.sql.legacy.parquet.nanosAsLong) and we convert to micros the
# same way DuckDB does (truncating integer division).
_NANO_TS_COLS = {"events": ("ts",)}

# Vector columns get a {"dim": N} metadata tag at load time so ANN /
# embedding-dedup builders (similarity.embedding_dim) never fall back
# to a .first() probe — builders stay fully lazy, zero driver jobs.
_VECTOR_COLS = {"embeddings": ("embedding",)}

# Tables whose consumers do HEAVY narrow work fused into the scan
# stage (tokenize/explode/hash over full text; norm and cell/LSH
# assignment UDFs, and dedup_embedding_lsh's whole band join). A
# single-row-group file is one scan task, so without help that work
# runs serially (r13: char_entropy's tokenize stage measured 2.5 s of
# single-core CPU while 31 cores idled). When the scan's task bound is
# below the session default, an id-hash repartition spreads the scan
# output across cores BEFORE the fused work. At production scale these
# tables arrive as many files/row groups, the guard is false, and no
# exchange is added. Every consumer's values are partitioning-
# independent (exact aggregates, key-partitioned windows, id-ordered
# seeds/ties, fixed hyperplanes/codebooks; Misra-Gries heavy hitters
# is deterministic by its recount construction).
_SPREAD_SCAN_TABLES = ("documents", "embeddings")

# Session confs that change the schema parquet inference returns.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)


def _fingerprint(path: str) -> tuple | None:
    """Sorted (relative name, size, st_mtime_ns) of every file Spark
    lists under ``path`` (hidden ``.``/``_`` names skipped); None when
    ``path`` is not local."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        out = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for full in (os.path.join(root, n) for n in files if not n.startswith((".", "_"))):
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))
    except (OSError, ValueError):
        return None


class _Footer:
    """One table's parquet metadata, read by pyarrow from the footers
    (no Spark job). ``schemas`` maps an _INFER_CONFS value tuple to the
    StructType Spark inferred under it; load_tables fills it."""

    def __init__(self, path: str, fingerprint: tuple):
        import pyarrow.parquet as pq

        self.fingerprint = fingerprint
        self.files = [(os.path.join(path, rel) if rel else path, size)
                      for rel, size, _ in fingerprint]
        metas = [pq.ParquetFile(f).metadata for f, _ in self.files]
        self.row_groups = sum(m.num_row_groups for m in metas)
        self.nrows = sum(m.num_rows for m in metas)
        self.dims: dict[str, int | None] = {}
        self.schemas: dict[tuple, StructType] = {}

    def dim(self, col: str) -> int | None:
        """Vector length of ``col``, decoded from ONE value of the first
        file's first row group (a few KB; parquet schemas carry no list
        lengths). None when unreadable: builders then probe."""
        if col not in self.dims:
            import pyarrow.parquet as pq

            try:
                pf = pq.ParquetFile(self.files[0][0])
                value = next(pf.iter_batches(batch_size=1, columns=[col])).column(0)[0].as_py()
                self.dims[col] = len(value) if value is not None else None
            except (OSError, ValueError, LookupError, StopIteration, TypeError):
                self.dims[col] = None  # no file, column, row or list
        return self.dims[col]

    def scan_tasks_bound(self, spark: SparkSession, par: int) -> int:
        """Upper bound on the scan's non-empty task count: min(row
        groups, FilePartitions). Spark packs file chunks into partitions
        (FilePartition.maxSplitBytes and getFilePartitions, replayed
        here from the file sizes) and reads each row group in the split
        holding its midpoint. Footer metadata only: a getNumPartitions
        probe would plan the query on every load_tables call."""
        conf = spark.conf
        max_bytes = _conf_bytes(conf.get("spark.sql.files.maxPartitionBytes"))
        open_cost = _conf_bytes(conf.get("spark.sql.files.openCostInBytes"))
        min_parts = int(conf.get("spark.sql.files.minPartitionNum", None)
                        or conf.get("spark.sql.leafNodeDefaultParallelism", None)
                        or par)
        sizes = [s for _, s in self.files]
        split = min(max_bytes, max(open_cost, sum(s + open_cost for s in sizes) // min_parts))
        chunks = sorted((min(split, s - off) for s in sizes for off in range(0, s, split)),
                        reverse=True)
        parts, current = 0, 0
        for c in chunks:
            if current + c > split:
                parts, current = parts + 1, 0
            current += c + open_cost
        return min(self.row_groups, parts + (current > 0))


_FOOTERS: dict[str, _Footer] = {}


def _footer_meta(path: str) -> _Footer | None:
    """``path``'s footer record, read again whenever the fingerprint
    changes (an in-place part-file rewrite changes size or st_mtime_ns
    while the directory mtime stays). None for non-local or non-parquet
    paths."""
    fp = _fingerprint(path)
    if fp is None:
        return None
    meta = _FOOTERS.get(path)
    if meta is None or meta.fingerprint != fp:
        try:
            meta = _FOOTERS[path] = _Footer(path, fp)
        except (OSError, ValueError):  # not parquet: plain reads, no metadata
            return None
    return meta


def _conf_bytes(value: str) -> int:
    """A byte-size conf value ("134217728", "4194304b", "128MB")."""
    m = re.fullmatch(r"\s*(\d+)\s*([bkmgtp]?)b?\s*", value.lower())
    return int(m.group(1)) << 10 * "bkmgtp".index(m.group(2) or "b")


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLE_NAMES,
    register_views: bool = True,
    spread: bool = True,
) -> dict[str, DataFrame]:
    """Load parquet tables from ``sf_dir`` and return {name: DataFrame}.

    A table's first read infers its schema (one Spark job); the
    StructType is memoized in the table's footer record, keyed by the
    file-set fingerprint (file names, sizes, st_mtime_ns) and by the
    values of the inference confs (nanosAsLong, inferTimestampNTZ,
    binaryAsString, int96AsTimestamp, mergeSchema), and later reads pass
    it explicitly. Paths without a local fingerprint (non-local
    filesystems) always take the plain inferring read.

    ``spread=False`` opts a CALLER out of the small-scan spread
    (_SPREAD_SCAN_TABLES): consumers whose post-scan work is light
    (broadcast-probe ANN lookups, single-pass scoring) pay more for
    the added exchange than the parallelism returns (r13: the spread
    taxed ann_lsh/ivf/cosine_topk and bm25_topk 0.5–0.8x while the
    heavy fused families won 1.5–4x)."""
    # Defensive runtime confs: the grading driver (and any embedding
    # application) supplies its OWN SparkSession, which may lack the
    # session-factory settings. All are runtime-settable:
    # - nanosAsLong: events.parquet stores TIMESTAMP(NANOS); without it
    #   every events read dies with PARQUET_TYPE_ILLEGAL.
    # - UTC session tz: formatted timestamp outputs must render the
    #   stored instant unshifted to match DuckDB's naive timestamps.
    # - inferTimestampNTZ off: plain timestamp[us] parquet (no tz
    #   annotation) must read as instant-semantics TIMESTAMP, not
    #   TIMESTAMP_NTZ — functions like unix_micros reject NTZ.
    # Set once per SparkSession (each conf.set is a py4j round trip);
    # a replaced session object is configured afresh.
    if spark not in _CONF_DONE:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        _CONF_DONE.add(spark)

    infer_key = tuple(spark.conf.get(k) for k in _INFER_CONFS)
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        meta = _footer_meta(path)
        schema = meta.schemas.get(infer_key) if meta is not None else None
        if schema is not None:
            df = spark.read.schema(schema).parquet(path)
        else:
            df = spark.read.parquet(path)
            schema = df.schema
            if meta is not None:
                meta.schemas[infer_key] = schema
        types = {f.name: f.dataType for f in schema.fields}
        for col in _NANO_TS_COLS.get(name, ()):
            if isinstance(types.get(col), LongType):
                df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        # Belt-and-braces for NTZ: with session tz pinned UTC the cast
        # keeps the same instant, and downstream micros/window math
        # works on either source schema generation.
        for col, dtype in types.items():
            if isinstance(dtype, TimestampNTZType):
                df = df.withColumn(col, F.col(col).cast("timestamp"))
        for col in _VECTOR_COLS.get(name, ()):
            dim = meta.dim(col) if meta is not None and col in types else None
            if dim is not None:
                # nrows rides along: the Lloyd/power-iteration facts
                # size their partition count from it (_fact_parts)
                df = df.withColumn(col, F.col(col).alias(
                    col, metadata={"dim": dim, "nrows": meta.nrows}))
        if spread and name in _SPREAD_SCAN_TABLES and meta is not None:
            par = spark.sparkContext.defaultParallelism
            if meta.scan_tasks_bound(spark, par) < par:
                # Hash on the leading id column, not round-robin: a
                # keyless repartition pays a local sort of its input
                # (sortBeforeRepartition) to stay retry-reproducible;
                # hashing the unique id is deterministic for free,
                # spreads evenly, and id-keyed consumers can reuse the
                # exchange. A/B at bench conf: char_entropy 1.02 ->
                # 0.49 s, unigram_logprob 1.14 -> 0.77 s, rrf_fusion
                # 2.10 -> 1.59 s, kmeans 3.86 -> 3.31 s.
                df = df.repartition(par, F.col(schema.names[0]))
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
