"""dawis_spark.session.get_spark: sessions that work from any directory."""

import os
import subprocess
import sys

from dawis_spark.catalog import DEFAULT_SF_DIR
from dawis_spark.session import PACKAGE_ROOT

SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")

_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from dawis_spark import queries as q
from dawis_spark.catalog import register_testdata
from dawis_spark.session import get_spark

spark = get_spark("workers-path", master="local[2]", shuffle_partitions=2)
register_testdata(spark, {sf!r})
print(len(q.QUERIES["kmeans_clusters"](spark, {sf!r}).collect()))
"""


def test_python_workers_import_the_package_outside_the_checkout(tmp_path):
    """kmeans_clusters' numpy tier imports dawis_spark inside a
    mapInPandas closure, on the Python workers. Run from a directory
    outside the checkout, with the package on the driver's sys.path
    only, the workers must still find it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(root=PACKAGE_ROOT, sf=SF_DIR)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert int(proc.stdout.split()[-1]) > 0
