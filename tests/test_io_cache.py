"""Schema-cache invalidation (r14 verdict item 7 / ADVICE).

_FILE_SCHEMA_CACHE is keyed on realpath and stamps each entry with the
file's (mtime_ns, size): a file rewritten in-process must be re-inferred,
not read with the stale cached schema, and the re-inferred schema must
replace the stale entry rather than sit beside it.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from cobradb_spark.io import _FILE_SCHEMA_CACHE, load_table


def test_rewritten_file_reinfers_schema(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "customer.parquet")

    pq.write_table(
        pa.table({"c_custkey": pa.array([1, 2], pa.int64()),
                  "c_name": pa.array(["a", "b"], pa.string())}),
        path,
    )
    df1 = load_table(spark, sf_dir, "customer")
    assert [f.name for f in df1.schema.fields] == ["c_custkey", "c_name"]
    entries = len(_FILE_SCHEMA_CACHE)

    # rewrite with a different schema; force a distinct mtime_ns in case
    # the two writes land inside one clock tick
    pq.write_table(
        pa.table({"c_custkey": pa.array([1], pa.int64()),
                  "c_name": pa.array(["a"], pa.string()),
                  "c_extra": pa.array([7], pa.int64())}),
        path,
    )
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))

    df2 = load_table(spark, sf_dir, "customer")
    assert [f.name for f in df2.schema.fields] == [
        "c_custkey", "c_name", "c_extra",
    ], "rewritten parquet must be re-inferred, not served a stale schema"
    assert df2.count() == 1
    assert len(_FILE_SCHEMA_CACHE) == entries, (
        "a rewrite must replace the path's cache entry, not add one"
    )
    assert os.path.realpath(path) in _FILE_SCHEMA_CACHE
