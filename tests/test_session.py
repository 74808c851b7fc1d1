"""The SparkSession factory: a driver started outside the checkout still
gets Python workers that import the package."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from vector_search_spark.operators.ann import corpus_band_keys
from vector_search_spark.session import get_spark

spark = get_spark("worker_path", cpus=1)
df = spark.createDataFrame(
    [(i, [float(i), 1.0, 0.5, -1.0]) for i in range(4)],
    "vec_id long, embedding array<float>",
)
rows = corpus_band_keys(df, n_planes=8, band_bits=4, seed=42, dim=4).collect()
print("band rows", len(rows))
spark.stop()
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    """The repo root reaches the DRIVER's sys.path only (as
    ``__spark_entry__.py`` and the tools put it); the band stage is a
    module function that cloudpickle ships by name, so the worker must
    import ``vector_search_spark`` itself — from a working directory
    outside the checkout with PYTHONPATH unset."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "band rows 8" in out.stdout, out.stderr[-2000:]
