"""Query results must not depend on the caller's working directory:
UDF-backed queries unpickle their functions on Python workers, which
can only import the package if ``get_spark`` put its root on the
workers' PYTHONPATH."""

from __future__ import annotations

import os
import subprocess
import sys

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from network_ids_using_pyspark_spark.queries import REGISTRY
from network_ids_using_pyspark_spark.session import get_spark
spark = get_spark(app_name="cwd-test", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
print("rows", REGISTRY["media_image_features"][0](spark, {sf!r}).count())
spark.stop()
"""


def test_worker_imports_regardless_of_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO, sf=SF_DIR)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [ln for ln in proc.stdout.splitlines() if ln.startswith("rows ")]
    assert rows and int(rows[-1].split()[1]) > 0, proc.stdout[-2000:]
