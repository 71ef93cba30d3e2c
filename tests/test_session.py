"""The session factory: the Python worker daemon it installs, the
invalidation that daemon must keep, a local-cluster run, and memory-size
parsing."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
import zipfile

import pandas as pd
import pytest
from pyspark import cloudpickle

from docling_jobkit_spark.session import _memory_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Python workers cannot import this test module: ship its functions by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _one_task(spark, fn, schema):
    """Run ``fn()`` in one Python task and return its single row."""

    def task(it):
        for _ in it:
            pass
        yield pd.DataFrame([fn()])

    return spark.range(1, numPartitions=1).mapInPandas(task, schema).collect()[0]


def _zip_reads_in_task():
    from docling_jobkit_spark.pyworker import zip_directory_reads

    reads = zip_directory_reads()
    return {"reads": -1 if reads is None else reads}


def _rewritten_zip_in_task():
    import importlib
    import sys
    import tempfile
    import uuid
    import zipfile

    first, second = (f"djs_zip_{uuid.uuid4().hex}" for _ in range(2))
    path = os.path.join(tempfile.mkdtemp(), "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{first}.py", "VALUE = 1\n")
    sys.path.insert(0, path)
    try:
        a = importlib.import_module(first).VALUE
        importlib.invalidate_caches()  # the archive's stat is now on record
        with zipfile.ZipFile(path, "w") as z:  # in place: same path
            z.writestr(f"{first}.py", "VALUE = 1\n")
            z.writestr(f"{second}.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        b = importlib.import_module(second).VALUE
    finally:
        sys.path.remove(path)
        sys.modules.pop(first, None)
        sys.modules.pop(second, None)
    return {"a": a, "b": b}


def test_python_task_rereads_no_zip_directory(spark):
    """Every task calls ``importlib.invalidate_caches()``; on Python
    3.10-3.12 that used to re-read pyspark.zip's directory once per cached
    importer (16 on a warm worker). The daemon stat-gates it to 0."""
    _one_task(spark, _zip_reads_in_task, "reads long")  # warm-up
    reads = _one_task(spark, _zip_reads_in_task, "reads long")["reads"]
    if reads < 0:
        pytest.skip("the Python worker caches no zipimporter (no SPARK_HOME zip)")
    assert reads == 0


def test_rewritten_zip_on_sys_path_is_reread(spark):
    """A zip on sys.path rewritten in place is re-read on invalidation."""
    row = _one_task(spark, _rewritten_zip_in_task, "a long, b long")
    assert (row["a"], row["b"]) == (1, 2)


def test_add_py_file_after_a_task_is_importable(spark, tmp_path):
    _one_task(spark, lambda: {"v": 0}, "v long")  # a Python task has run
    name = f"djs_added_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{name}.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 7\n")
    spark.sparkContext.addPyFile(path)

    def imported():
        import importlib

        return {"v": importlib.import_module(name).VALUE}

    assert _one_task(spark, imported, "v long")["v"] == 7


_LOCAL_CLUSTER = """
import json, sys
from docling_jobkit_spark.corpus import write_pages_parquet
from docling_jobkit_spark.operators.extract_op import extract_documents
from docling_jobkit_spark.pyworker import zip_directory_reads
from docling_jobkit_spark.session import get_spark

pages_path, n, seed = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
write_pages_parquet(pages_path, n, seed)
spark = get_spark("djs-local-cluster", cores=2, n_executors=2,
                  executor_memory="1g", driver_memory="1g")
rows = extract_documents(spark.read.parquet(pages_path)).collect()

def reads(it):
    import pandas as pd
    for _ in it:
        pass
    r = zip_directory_reads()
    yield pd.DataFrame({"reads": [-1 if r is None else r]})

counts = [r.reads for r in spark.range(4, numPartitions=4)
          .mapInPandas(reads, "reads long").collect()]
print(json.dumps({
    "master": spark.sparkContext.master,
    "zip_reads": counts,
    "rows": [[r.url, r.extracted_text, r.status,
              [[s.start, s.end, s.kind, s.path] for s in r.spans or []]]
             for r in rows],
}))
spark.stop()
"""


def test_local_cluster_extraction_matches_oracle(tmp_path):
    """Two executor JVMs: their daemons resolve pyworker through the
    shipped PYTHONPATH, rows equal the single-threaded extractor per url,
    tasks re-read no zip directory, and the app's executor dir under
    ``$SPARK_HOME/work`` is gone once the driver exits."""
    from pyspark.find_spark_home import _find_spark_home

    from docling_jobkit_spark.corpus import generate_pages
    from docling_jobkit_spark.extractor import extract

    # standalone workers put executor dirs in $SPARK_HOME/work: run them
    # from a mirror of the installation so they land under tmp_path
    real_home = _find_spark_home()
    home = tmp_path / "spark_home"
    home.mkdir()
    for entry in os.listdir(real_home):
        if entry != "work":
            os.symlink(os.path.join(real_home, entry), home / entry)
    n, seed = 40, 42
    proc = subprocess.run(
        [sys.executable, "-c", _LOCAL_CLUSTER, str(tmp_path / "pages.parquet"),
         str(n), str(seed)],
        cwd=ROOT, env={**os.environ, "SPARK_HOME": str(home)},
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert not list((home / "work").glob("app-*"))
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["master"] == "local-cluster[2,1,1024]"

    expected = []
    for page in generate_pages(n, seed):
        res = extract(page["html"], page["url"])
        expected.append([res.url, res.text, res.status,
                         [[s.start, s.end, s.kind, s.path] for s in res.spans]])
    assert sorted(out["rows"]) == sorted(expected)
    if min(out["zip_reads"]) < 0:
        pytest.skip("the Python worker caches no zipimporter (no SPARK_HOME zip)")
    assert out["zip_reads"] == [0, 0, 0, 0]


@pytest.mark.parametrize(
    "size, mb",
    [
        ("2G", 2048),
        ("512M", 512),
        ("2gb", 2048),
        ("6g", 6144),
        ("512m", 512),
        ("1024", 1024),
        ("1T", 1024 * 1024),
        ("2048k", 2),
        ("4096KB", 4),
        (" 1g ", 1024),
    ],
)
def test_memory_mb_reads_spark_sizes(size, mb):
    assert _memory_mb(size) == mb


@pytest.mark.parametrize("size", ["", "g", "2x", "1.5g", "512b", "2 g", "-1g"])
def test_memory_mb_rejects_non_sizes(size):
    with pytest.raises(ValueError):
        _memory_mb(size)
