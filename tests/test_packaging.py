"""spark-submit --py-files compatibility: the package must import and run
from a zip archive (that is exactly how --py-files ships code to executors —
the zip lands on sys.path via zipimport)."""

import subprocess
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_package_imports_and_runs_from_zip(tmp_path):
    zpath = tmp_path / "probminhash_spark.zip"
    pkg = REPO / "probminhash_spark"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in pkg.rglob("*.py"):
            z.write(f, f.relative_to(REPO))
    # fresh interpreter whose ONLY source of the package is the zip — a
    # kernel actually executes, proving no __file__/data-file dependence
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "import probminhash_spark\n"
        "assert 'probminhash_spark.zip' in probminhash_spark.__file__, probminhash_spark.__file__\n"
        "import numpy as np\n"
        "from probminhash_spark.kernels.probminhash import probminhash3a_single\n"
        "sig, vals = probminhash3a_single(np.arange(50, dtype=np.uint64),"
        " np.ones(50), 16)\n"
        "assert sig.shape == (16,) and np.isfinite(vals).all()\n"
        "from probminhash_spark.config import DedupConfig\n"
        "DedupConfig()\n"
        "print('ZIP_OK')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(zpath)],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # away from the repo so the zip is the only source
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ZIP_OK" in out.stdout


def test_stream_job_ttl_arg_validation():
    """--ttl is state-store + continuous only: pending processing-time
    timers keep an availableNow drain from terminating, and the LSM engine
    has no engine-managed state to expire.  Both misuses must exit at
    argparse time (before any Spark work)."""
    import pytest

    import jobs.dedup_stream as job

    with pytest.raises(SystemExit):
        job.main(["--input", "/x", "--state", "/y", "--ttl", "1 hour"])
    with pytest.raises(SystemExit):
        job.main(
            ["--input", "/x", "--state", "/y", "--engine", "lsm",
             "--ttl", "1 hour", "--continuous"]
        )


def test_parse_ttl_ms_units_and_errors():
    import pytest

    from probminhash_spark.streaming.state_dedup import _parse_ttl_ms

    assert _parse_ttl_ms(None) is None
    assert _parse_ttl_ms(1500) == 1500
    assert _parse_ttl_ms("2 seconds") == 2000
    assert _parse_ttl_ms("1.5 minutes") == 90_000
    assert _parse_ttl_ms("6 hours") == 21_600_000
    for bad in ("fortnight", "3 fortnights", "-1 seconds", 0, "0 seconds"):
        with pytest.raises(ValueError):
            _parse_ttl_ms(bad)


def test_dedup_job_rejects_removed_config_knob(monkeypatch):
    """A --config naming a field DedupConfig no longer has must fail while
    the config is parsed, naming the field, before any Spark session."""
    import pytest

    import jobs.dedup as job

    def no_spark(*a, **k):
        raise AssertionError("get_spark called before config validation")

    monkeypatch.setattr(job, "get_spark", no_spark)
    with pytest.raises(TypeError, match="verify_by_class"):
        job.main(
            ["--input", "synthetic:4", "--output", "/x",
             "--config", '{"verify_by_class": true}']
        )


def test_dedup_job_runs_from_any_working_directory(tmp_path):
    """The Python workers find the package without PYTHONPATH when the job
    is started from outside the repo (before, the first pandas-UDF task died
    with ``ModuleNotFoundError: probminhash_spark``)."""
    import json
    import os

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "dedup.py"), "--input", "synthetic:50",
         "--output", str(tmp_path / "out"), "--master", "local[2]"],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    summary = json.loads(out.stdout[out.stdout.index('{"config_fingerprint'):])
    assert summary["files"] == 50 and summary["sha256_checked"] == 50
