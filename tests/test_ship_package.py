"""Kernels run from a driver started outside the repository.

Python workers do not inherit the driver's ``sys.path``, so a driver whose
cwd is not the repository runs workers that can import the package only
through the zip ``session.ship_package`` registers. One kernel-bearing key
per family (JPEG decode, WARC parse, BPE apply) runs in such a driver and
must return exactly the rows the in-process session returns.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEYS = ("multimodal_jpeg_color", "warc_ingest", "bpe_apply_audit")

_DRIVER = """
import json
import sys

sys.path.insert(0, {repo!r})
from cassandra_data_migrator_spark import queries as q
from cassandra_data_migrator_spark.session import get_spark

spark = get_spark("ship-package-probe", cpus=2)
rows = {{}}
for key in {keys!r}:
    df = q.queries()[key](spark, {sf_dir!r})
    rows[key] = sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in df.collect()
    )
spark.stop()
print("ROWS " + json.dumps(rows))
"""


def _rows(df) -> list[str]:
    return sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in df.collect()
    )


def test_kernels_run_from_driver_outside_repo(spark, sf_dir, tmp_path):
    from cassandra_data_migrator_spark import queries as q

    script = tmp_path / "driver.py"
    script.write_text(_DRIVER.format(repo=REPO, keys=KEYS, sf_dir=sf_dir))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["CDM_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS "))
    got = json.loads(line[len("ROWS "):])
    for key in KEYS:
        want = _rows(q.queries()[key](spark, sf_dir))
        assert want, f"{key} returned no rows at {sf_dir}"
        assert got[key] == want, key
