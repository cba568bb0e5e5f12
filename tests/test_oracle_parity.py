"""Oracle-parity regression (SURVEY §5.3 layer 2): the same
Spark-vs-DuckDB comparison the driver gate runs, reproduced locally at
smoke scale so t2 failures never surprise. Shells tools/check_parity.py
in a fresh process (its own SparkSession, like the driver)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_full_parity_at_smoke_scale():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_parity.py"),
         "--sf", "/root/testdata/sf0.001"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=1500,
    )
    tail = "\n".join(proc.stdout.splitlines()[-8:])
    assert proc.returncode == 0, f"parity failed:\n{tail}\n{proc.stderr[-2000:]}"
    assert ", 0 fail" in proc.stdout, tail


# One key per module family whose query runs engine code on Python
# workers: codecs, multimodal, audio, time-series and pandas UDFs.
WORKER_KEYS = (
    "scan_kafka_import,sink_native_export,llm_multimodal_ingest,"
    "llm_audio_resample,ts_downsample_lttb,udf_map_in_pandas"
)


def test_worker_cwd_probe_from_outside_the_repo():
    """The worker-cwd import trap: local-mode workers put the driver's
    cwd on sys.path, so engine code must reach them by value. Run the
    driver simulator from /tmp with no repo entry on PYTHONPATH."""
    env = dict(os.environ)
    path = [
        p for p in env.pop("PYTHONPATH", "").split(os.pathsep)
        if p and not os.path.realpath(p).startswith(REPO)
    ]
    if path:
        env["PYTHONPATH"] = os.pathsep.join(path)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "driver_sim.py"),
         "--cwd", "/tmp", "--sf", "/root/testdata/sf0.001", "--keys", WORKER_KEYS],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    tail = "\n".join(proc.stdout.splitlines()[-10:])
    assert proc.returncode == 0, f"driver_sim failed:\n{tail}\n{proc.stderr[-2000:]}"
    assert "6 ok, 0 fail" in proc.stdout, tail
