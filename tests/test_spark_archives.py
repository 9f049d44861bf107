"""Library workers keep Spark's archive indexes; user archives still
refresh per task; the driver is left alone."""

import json
import os
import subprocess
import sys
import zipfile

import pyarrow as pa
from pyspark.find_spark_home import _find_spark_home

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_keeps_spark_archive_indexes_and_refreshes_user_zip(spark, tmp_path):
    user_zip = str(tmp_path / "lcs_user_mod.zip")
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("lcs_user_mod.py", "X = 1\n")

    def probe(batches):
        import importlib
        import zipimport

        import light_curve_spark  # noqa: F401  (installs the hook)
        from light_curve_spark._spark_archives import (
            _SparkArchiveImporter, _is_spark_archive, keep_spark_archive_indexes,
        )

        keep_spark_archive_indexes()  # a second install adds no hook
        importlib.import_module("pyspark.streaming")  # an importer made after the install
        importers = [i for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter)]
        spark_archives = sorted({i.archive for i in importers if _is_spark_archive(i.archive)})
        sys.path.append(user_zip)
        try:
            importlib.import_module("lcs_user_mod")
            before = {a: zipimport._zip_directory_cache[a] for a in spark_archives + [user_zip]}
            importlib.invalidate_caches()
            kept = {a: zipimport._zip_directory_cache.get(a) is d for a, d in before.items()}
        finally:
            sys.path.remove(user_zip)
            sys.modules.pop("lcs_user_mod", None)
            sys.path_importer_cache.pop(user_zip, None)
        out = {
            "spark_archives": spark_archives,
            "kept": kept,
            "all_swapped": all(
                type(i) is _SparkArchiveImporter for i in importers if _is_spark_archive(i.archive)
            ),
            "hooks": sum(getattr(h, "__qualname__", "") == "_spark_archive_hook" for h in sys.path_hooks),
        }
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"out": [json.dumps(out)]})

    rows = spark.range(0, 2, 1, 2).mapInArrow(probe, "out string").collect()
    assert len(rows) == 2
    for r in rows:
        out = json.loads(r.out)
        assert out["spark_archives"], "no Spark archive on the worker's import path"
        assert out["all_swapped"]
        assert out["hooks"] == 1
        kept = out["kept"]
        assert all(kept[a] for a in out["spark_archives"]), kept
        assert kept[user_zip] is False


DRIVER_PROBE = """
import json, sys, zipimport
import pyspark.sql  # from pyspark.zip: zipimporters over a Spark archive
snap = lambda: (list(map(repr, sys.path_hooks)),
                {k: type(v).__name__ for k, v in sys.path_importer_cache.items()})
hooks, types = snap()
import light_curve_spark
hooks2, types2 = snap()
print(json.dumps({
    "zip_importers": sum(t == "zipimporter" for t in types.values()),
    "hooks_same": hooks == hooks2,
    "types_same": all(types2[k] == t for k, t in types.items()),
}))
"""


def test_driver_import_leaves_import_machinery_alone():
    spark_lib = os.path.join(_find_spark_home(), "python", "lib")
    zips = sorted(os.path.join(spark_lib, f) for f in os.listdir(spark_lib) if f.endswith(".zip"))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(zips + [REPO]))
    out = subprocess.run(
        [sys.executable, "-c", DRIVER_PROBE], capture_output=True, text=True, env=env, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["zip_importers"] > 0
    assert res["hooks_same"] and res["types_same"], res
