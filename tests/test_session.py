"""Python worker start-up: the bootstrap daemon and the workers' import path."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

from conftest import REPO_ROOT


def test_worker_skips_reread_of_shipped_archives(spark):
    """Spark's own archives (pyspark.zip, py4j, spark-core jar) are on the
    worker path at daemon start; importlib.invalidate_caches() in a task
    must leave their zipimporters' file tables as they were."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import zipimport

        from pyspark import SparkFiles

        for _ in batches:
            pass
        added = SparkFiles.getRootDirectory()
        shipped = [p for p in sys.path if os.path.isfile(p) and not p.startswith(added)]
        importers = [
            imp
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter) and imp.archive in shipped
        ]
        before = [imp._files for imp in importers]
        importlib.invalidate_caches()
        kept = sum(imp._files is files for imp, files in zip(importers, before))
        yield pa.RecordBatch.from_pydict({"importers": [len(importers)], "kept": [kept]})

    rows = spark.range(0, 8, 1, 4).mapInArrow(probe, "importers bigint, kept bigint").collect()
    assert len(rows) == 4
    for r in rows:
        assert r.importers >= 1
        assert r.kept == r.importers


def test_planner_worker_skips_reread_after_source_import(spark):
    """Spark starts Python DataSource planner workers from pyspark.daemon,
    not the package's daemon. Once such a worker has imported the
    package's cells source (as it does to unpickle that source), its
    importlib.invalidate_caches() leaves the file tables of the archives
    on its launch PYTHONPATH as they were. The probe runs in the planner
    worker that resolves the schema and reports through column names."""
    from pyspark.sql.datasource import DataSource

    class ArchiveProbe(DataSource):
        @classmethod
        def name(cls):
            return "archive_probe"

        def schema(self):
            import importlib
            import zipimport

            import dwp_hbase_to_mongo_export_spark.sources.hbase_cells_source  # noqa: F401

            launch = {
                os.path.abspath(p)
                for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                if os.path.isfile(p)
            }
            importers = [
                imp
                for imp in sys.path_importer_cache.values()
                if isinstance(imp, zipimport.zipimporter) and imp.archive in launch
            ]
            before = [imp._files for imp in importers]
            importlib.invalidate_caches()
            kept = sum(imp._files is files for imp, files in zip(importers, before))
            return f"importers_{len(importers)} bigint, kept_{kept} bigint"

    spark.dataSource.register(ArchiveProbe)
    importers, kept = (int(c.rsplit("_", 1)[1]) for c in spark.read.format("archive_probe").load().columns)
    assert importers >= 1
    assert kept == importers


def test_added_py_file_keeps_stock_invalidation(spark, tmp_path):
    """An archive shipped later with addPyFile imports inside a task, and
    invalidate_caches() still re-reads it."""
    import pyarrow as pa

    mod = f"later_{uuid.uuid4().hex}"
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{mod}.py", "VALUE = 41\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        value = importlib.import_module(mod).VALUE
        importers = [
            imp
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter) and imp.archive.endswith(f"{mod}.zip")
        ]
        before = [imp._files for imp in importers]
        importlib.invalidate_caches()
        reread = sum(imp._files is not files for imp, files in zip(importers, before))
        yield pa.RecordBatch.from_pydict(
            {"value": [value], "importers": [len(importers)], "reread": [reread]}
        )

    rows = (
        spark.range(0, 4, 1, 2)
        .mapInArrow(probe, "value bigint, importers bigint, reread bigint")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.value == 41
        assert r.importers >= 1
        assert r.reread == r.importers


def test_archive_skip_is_idempotent_and_keyed_on_launch_path(tmp_path):
    """A second call, made after an archive was put on sys.path (as
    addPyFile does), leaves the patched method as it is, and only the
    archives on the launch PYTHONPATH skip the re-read."""
    for name in ("launched", "later"):
        with zipfile.ZipFile(tmp_path / f"{name}.zip", "w") as zf:
            zf.writestr(f"{name}_mod.py", "VALUE = 1\n")
    script = textwrap.dedent(
        f"""
        import importlib, json, sys, zipimport
        sys.path.insert(0, {str(REPO_ROOT)!r})
        from dwp_hbase_to_mongo_export_spark.worker_daemon import skip_shipped_archive_rereads

        skip_shipped_archive_rereads()
        patched = zipimport.zipimporter.invalidate_caches
        sys.path.append({str(tmp_path / "later.zip")!r})
        skip_shipped_archive_rereads()
        import launched_mod, later_mod
        importers = {{
            imp.archive.rsplit("/", 1)[1]: imp
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        }}
        before = {{k: imp._files for k, imp in importers.items()}}
        importlib.invalidate_caches()
        print(json.dumps({{
            "same_method": zipimport.zipimporter.invalidate_caches is patched,
            "kept": sorted(k for k, imp in importers.items() if imp._files is before[k]),
        }}))
        """
    )
    env = {**os.environ, "PYTHONPATH": str(tmp_path / "launched.zip")}
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"same_method": True, "kept": ["launched.zip"]}


def test_workers_import_package_outside_checkout(tmp_path):
    """A session started outside the checkout, with PYTHONPATH unset, still
    runs the package's code in its Python workers."""
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {str(REPO_ROOT)!r})
        from dwp_hbase_to_mongo_export_spark.functions import record_norm
        from dwp_hbase_to_mongo_export_spark.session import get_spark

        def clean(frames):
            for pdf in frames:
                pdf["s"] = [record_norm.sanitise(v, "db", "c") for v in pdf["s"]]
                yield pdf

        spark = get_spark(cpus=2)
        df = spark.createDataFrame([("a$b",), ("_archived",)], "s string")
        print(json.dumps(sorted(r.s for r in df.mapInPandas(clean, "s string").collect())))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == ["_removed", "ad_b"]
