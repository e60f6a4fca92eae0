"""tables.load_tables' footer record: the memoized schema reads exactly
what inference reads and submits no Spark job, a change to an
inference conf or an in-place part-file rewrite is seen, and the
small-scan spread follows Spark's file packing, not the row-group
count alone."""

import contextlib
import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sql_flow_spark import tables
from sql_flow_spark.tables import TABLE_NAMES, load_tables

NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
MAX_BYTES = "spark.sql.files.maxPartitionBytes"
_GROUPS = itertools.count()


@contextlib.contextmanager
def spark_jobs(spark):
    """Collects into the yielded set the ids of the Spark jobs the block
    submits (tagged with a fresh job group for the block's duration)."""
    sc = spark.sparkContext
    group = f"tables-footer-test-{next(_GROUPS)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    ids: set = set()
    try:
        yield ids
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.update(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", prev)


@contextlib.contextmanager
def conf(spark, key, value):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def infer_key(spark):
    return tuple(spark.conf.get(k) for k in tables._INFER_CONFS)


def test_memoized_read_is_exact_and_job_free(spark, sf_dir):
    tables._FOOTERS.clear()
    first = load_tables(spark, sf_dir, register_views=False)
    with spark_jobs(spark) as jobs:
        second = load_tables(spark, sf_dir, register_views=False)
    assert not jobs, f"memoized load_tables submitted jobs {sorted(jobs)}"
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        fresh = spark.read.parquet(path)
        memo = spark.read.schema(tables._footer_meta(path).schemas[infer_key(spark)]).parquet(path)
        assert memo.schema == fresh.schema, name
        assert memo.collect() == fresh.collect(), name
        assert second[name].schema == first[name].schema, name


def test_inference_conf_change_infers_again(spark, tmp_path):
    ts = np.array([0, 86_400_000_000], dtype="datetime64[us]")
    pq.write_table(pa.table({"id": [1, 2], "ts": ts}), str(tmp_path / "probe.parquet"))
    path = str(tmp_path / "probe.parquet")

    def load():
        return load_tables(spark, str(tmp_path), ("probe",), register_views=False)["probe"]

    load()
    with conf(spark, NTZ, "true"), spark_jobs(spark) as jobs:
        flipped = load()
    assert jobs, "a changed inference conf must infer the schema again"
    inferred = {type(s["ts"].dataType).__name__
                for s in tables._footer_meta(path).schemas.values()}
    assert inferred == {"TimestampType", "TimestampNTZType"}
    assert dict(flipped.dtypes)["ts"] == "timestamp"
    with spark_jobs(spark) as jobs:
        load()
    assert not jobs


def write_vectors(path, n, dim, extra=False):
    cols = {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(np.ones((n, dim), dtype=np.float32).tolist(),
                              type=pa.list_(pa.float32())),
    }
    if extra:
        cols["note"] = pa.array(["x"] * n)
    pq.write_table(pa.table(cols), str(path))


def test_in_place_rewrite_is_seen(spark, tmp_path):
    table_dir = tmp_path / "embeddings.parquet"
    table_dir.mkdir()
    part = table_dir / "part-00000.parquet"
    write_vectors(part, 10, 4)

    def load():
        df = load_tables(spark, str(tmp_path), ("embeddings",),
                         register_views=False, spread=False)["embeddings"]
        return df.columns, df.schema["embedding"].metadata

    assert load() == (["vec_id", "embedding"], {"dim": 4, "nrows": 10})
    st = os.stat(table_dir)
    # same file name, new row count, dim and column; the directory
    # mtime is put back, so only the part file's own stat changes
    write_vectors(part, 25, 8, extra=True)
    os.utime(table_dir, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(table_dir).st_mtime_ns == st.st_mtime_ns
    assert load() == (["vec_id", "embedding", "note"], {"dim": 8, "nrows": 25})


def test_scan_bound_follows_file_packing(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    n = 8 * par
    docs = pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
                     "text": pa.array([f"document {i}" for i in range(n)])})
    path = str(tmp_path / "documents.parquet")
    pq.write_table(docs, path, row_group_size=4)

    def spread():
        df = load_tables(spark, str(tmp_path), ("documents",), register_views=False)["documents"]
        return "RepartitionByExpression" in df._jdf.queryExecution().logical().toString()

    def spark_partitions():
        return spark.read.parquet(path).rdd.getNumPartitions()

    meta = tables._footer_meta(path)
    # 2*par row groups, but one small file packs into ONE scan task
    assert meta.row_groups == 2 * par
    assert meta.scan_tasks_bound(spark, par) == min(meta.row_groups, spark_partitions()) == 1
    assert spread()
    # splits far below the file size: many partitions, so no spread
    with conf(spark, MAX_BYTES, str(os.path.getsize(path) // (4 * par) + 1)):
        bound = meta.scan_tasks_bound(spark, par)
        assert bound == min(meta.row_groups, spark_partitions()) >= par
        assert not spread()
