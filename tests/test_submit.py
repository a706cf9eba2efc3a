"""spark-submit --py-files deployment test (north_rule launch shape).

Runs the real spark-submit binary from a NEUTRAL cwd (/tmp) so the
engine can only be imported from the dist zip — proving the deployable
artifact is self-contained, not leaning on the repo checkout.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(
    os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
)


def test_spark_submit_pyfiles(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from package_pyfiles import build

    zip_path = build(str(tmp_path / "sophox_spark.zip"))
    env = dict(os.environ, SPARK_GRAFT_INHERIT_MASTER="1")
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--driver-memory", "8g",
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "submit_job.py"),
            "q_geo_pip_rects", "/root/testdata/sf0.001",
        ],
        capture_output=True, text=True, timeout=240, check=True,
        cwd="/tmp", env=env,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["rows"] == 1000
    assert result["master"] == "local[4]"
    assert result["query"] == "q_geo_pip_rects"


def test_local_session_from_any_cwd():
    """A local session started outside the checkout, with no PYTHONPATH,
    runs a Python stage: get_spark puts the package on the workers'
    path."""
    script = (
        "import sys; sys.path.insert(0, %r)\n"
        "from sophox_spark.plans import get_spark\n"
        "from sophox_spark.operators.spatial_join import cell_col\n"
        "spark = get_spark('cwd_probe', cpus=2, shuffle_partitions=2)\n"
        "df = spark.createDataFrame([(0.0, 0.0), (13.4, 52.5)], 'lon double, lat double')\n"
        "print(sorted(r[0] for r in df.select(cell_col('lon', 'lat', 13)).collect()))\n"
    ) % REPO
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=240, cwd="/tmp", env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    from sophox_spark.cells import grid

    want = sorted(grid.encode([0.0, 13.4], [0.0, 52.5], 13).tolist())
    assert out.stdout.strip().splitlines()[-1] == str(want)
