"""Session factory: Python workers import the package from any working
directory, because ``get_spark`` ships the package root to them."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The main process finds the package through sys.path only, as an embedding
# program would; the workers must get it from the session.
SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from mongo_polars_reconciliation_spark.extensions.similarity import _pair_dot
from mongo_polars_reconciliation_spark.session import get_spark

spark = get_spark("worker-path", cpus=1)
df = spark.createDataFrame([([1.0, 2.0], [3.0, 4.0])], "a array<double>, b array<double>")
print("DOT", df.select(_pair_dot("a", "b")).first()[0])
spark.stop()
"""


def test_pandas_udf_kernel_runs_from_foreign_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "DOT 11.0" in out.stdout, out.stdout
