"""The package zip that ``sources.io.ensure_workers_can_import`` ships to
Python workers.

The zip sits ahead of ``PYTHONPATH`` on the workers, so a stale one runs
old UDF code silently. A zip named after the process id alone was reused
by any later process that got the same pid, and it was never deleted.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Plants a stale package zip at the pid-derived name, ships the package,
# and prints what a Python worker imports.
_PROBE = """
import os, tempfile, zipfile
stale = os.path.join(tempfile.gettempdir(), f"nyc_taxi_pyspark_spark_{os.getpid()}.zip")
with zipfile.ZipFile(stale, "w") as z:
    z.writestr("nyc_taxi_pyspark_spark/__init__.py", "STALE = True\\n")

from nyc_taxi_pyspark_spark.session import get_spark
from nyc_taxi_pyspark_spark.sources.io import ensure_workers_can_import

spark = get_spark("worker-package", master="local[1]", shuffle_partitions=1)
ensure_workers_can_import(spark)

def probe(_):
    import nyc_taxi_pyspark_spark as pkg
    return [(getattr(pkg, "STALE", False), hasattr(pkg, "get_spark"))]

print("@@", spark.sparkContext.parallelize([0], 1).flatMap(probe).collect())
"""


def test_workers_import_the_live_package_and_the_zip_is_removed(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp,  # workers start in the driver's cwd, which is first on sys.path
        env={**os.environ, "PYTHONPATH": REPO, "TMPDIR": str(tmp)},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("@@"))
    assert line == "@@ [(False, True)]", line
    # only the planted zip is left: the shipped one went with the process
    left = sorted(p.name for p in tmp.glob("nyc_taxi_pyspark_spark_*.zip"))
    assert len(left) == 1 and left[0][len("nyc_taxi_pyspark_spark_"):-4].isdigit(), left
