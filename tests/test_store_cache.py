"""The one reuse rule of the durable-store caches
(functions/indexcache.cached_store through queries_extensions._store):
a store is built on first use, reused while its stamped fingerprint
matches the source, and removed and rebuilt when the source changes, an
append is pending or a rebuild died mid-flight."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from dwp_hbase_to_mongo_export_spark.functions.fingerprint import source_fingerprint
from dwp_hbase_to_mongo_export_spark.operators import storeprotocol
from dwp_hbase_to_mongo_export_spark.queries_extensions import _STORES, _store


@pytest.fixture
def cache_sf(sf_dir, tmp_path, monkeypatch):
    """A private sf dir with copies of the two source tables, and a
    private temp dir, so the caches built here are this test's own."""
    sf = tmp_path / "sf"
    sf.mkdir()
    for table in ("documents", "embeddings"):
        shutil.copyfile(
            os.path.join(sf_dir, f"{table}.parquet"), sf / f"{table}.parquet"
        )
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    return str(sf)


# one row store plus the two stores whose stamp moved into meta; the
# other four row stores share the text store's stamp check, and would
# add about 70 s on 4 cores (all seven entries: about 2 min)
@pytest.mark.parametrize("name", ["text", "ivf", "pq"])
def test_cached_store_reuses_until_the_stamp_goes_stale(spark, cache_sf, name):
    table, _, spec, _ = _STORES[name]
    src = os.path.join(cache_sf, f"{table}.parquet")

    def stored():
        return storeprotocol.stored_fingerprint(spec, spark, path)

    path = _store(spark, cache_sf, name)
    assert stored() == source_fingerprint(src)  # first call builds

    sentinel = os.path.join(path, "sentinel")
    open(sentinel, "w").close()
    assert _store(spark, cache_sf, name) == path
    assert os.path.exists(sentinel)  # second call reuses

    def rebuilds(stale) -> None:
        open(sentinel, "w").close()
        stale()
        assert _store(spark, cache_sf, name) == path
        assert not os.path.exists(sentinel)
        assert stored() == source_fingerprint(src)

    st = os.stat(src)
    rebuilds(lambda: os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9)))
    for marker in ("_append-pending", "_build-pending"):
        rebuilds(lambda: open(os.path.join(path, marker), "w").close())
