"""Session builder contract: a session from ``session.build_session``
runs the package's Python UDFs from any working directory.

A driver script that puts the checkout on its own ``sys.path`` (as
``bench_extra.py`` and ``tools/check_oracle.py`` do) does not thereby
put it on the Python workers' path: with no ``PYTHONPATH`` and a
working directory outside the checkout, a worker unpickling a function
that names a package module must still import it.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})

from indonesian_id_ocr_service_spark.functions import pandas_ktp
from indonesian_id_ocr_service_spark.session import build_session


def normalize(batches):
    for pdf in batches:
        yield pdf.assign(d=[pandas_ktp.normalize_date(v)["normalized"]
                            for v in pdf["raw"]])


spark = build_session(master="local[1]", shuffle_partitions=1)
df = spark.createDataFrame([("17-08-1945",)], "raw string")
[row] = df.mapInPandas(normalize, "raw string, d string").collect()
print("RESULT", row["d"])
spark.stop()
"""


def test_python_workers_import_package_outside_checkout(tmp_path):
    script = tmp_path / "job.py"
    script.write_text(_SCRIPT.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                          env=env, timeout=300, capture_output=True,
                          text=True)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT 17-08-1945" in proc.stdout
