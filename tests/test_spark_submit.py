"""End-to-end evidence for the north rule's ship vehicle: the job must run
via `spark-submit --py-files mit_spark.zip` (reference parity: the Rust
binary's CLI in `crates/cli`; SURVEY.md §7's packaging plan).

Builds the zip exactly the way a deploy would (every .py under mit_spark/,
archive-rooted at the package), then launches a REAL spark-submit
subprocess — fresh JVM, fresh Python driver, package importable only via
the --py-files zip — and checks the metrics line plus resumability.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"
SPARK_SUBMIT = shutil.which("spark-submit")


def _build_zip(tmpdir: str) -> str:
    zpath = os.path.join(tmpdir, "mit_spark.zip")
    pkg = os.path.join(REPO_ROOT, "mit_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                zf.write(full, os.path.relpath(full, REPO_ROOT))
    return zpath


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_end_to_end(tmp_path):
    zpath = _build_zip(str(tmp_path))
    out_dir = str(tmp_path / "extract_out")
    # copy main.py OUT of the package dir so the driver script resolves the
    # package only through --py-files (the deploy shape, not the repo tree)
    driver = str(tmp_path / "job.py")
    shutil.copyfile(os.path.join(REPO_ROOT, "mit_spark", "main.py"), driver)
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zpath,
        driver,
        "--input", SF_DIR,
        "--output", out_dir,
        "--buckets", "4",
        "--detect-size", "256",
        "--limit", "40",
    ]
    env = dict(os.environ)
    # the deploy environment must not fall back to the repo checkout
    env.pop("PYTHONPATH", None)
    env["OMP_NUM_THREADS"] = "1"
    env["OPENBLAS_NUM_THREADS"] = "1"
    first = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert first.returncode == 0, first.stderr[-4000:]
    metrics = json.loads(first.stdout.strip().splitlines()[-1])
    assert metrics["buckets_done_prior"] == 0
    assert metrics["buckets_processed"] == 4
    assert metrics["n_docs"] == 40
    assert metrics["n_spans"] > 0
    assert metrics["spans_per_sec"] > 0

    # resume on the same out_dir: all buckets already done -> zero recompute
    second = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert second.returncode == 0, second.stderr[-4000:]
    metrics2 = json.loads(second.stdout.strip().splitlines()[-1])
    assert metrics2["buckets_done_prior"] == 4
    assert metrics2["buckets_processed"] == 0
    assert metrics2["n_docs"] == 0  # nothing recomputed


def _run_cli(tmp_path, input_dir: str, out_name: str) -> subprocess.CompletedProcess:
    """`python <repo>/mit_spark/main.py` straight from the checkout, run from
    a cwd outside it with no PYTHONPATH: the Python workers find the package
    only through the session's spark.executorEnv.PYTHONPATH."""
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["OMP_NUM_THREADS"] = "1"
    env["OPENBLAS_NUM_THREADS"] = "1"
    cmd = [
        sys.executable, os.path.join(REPO_ROOT, "mit_spark", "main.py"),
        "--input", input_dir,
        "--output", str(tmp_path / out_name),
        "--buckets", "4",
        "--detect-size", "256",
        "--limit", "40",
        "--master", "local[2]",
    ]
    return subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )


def test_cli_from_another_cwd_completes_every_bucket(tmp_path):
    run = _run_cli(tmp_path, SF_DIR, "out")
    assert run.returncode == 0, run.stderr[-4000:]
    metrics = json.loads(run.stdout.strip().splitlines()[-1])
    assert metrics["buckets_processed"] == 4
    assert metrics["buckets_failed"] == 0
    assert metrics["n_docs"] == 40


def test_cli_exits_1_when_a_bucket_fails(tmp_path):
    """A null doc_id makes the docs generator raise in the workers, so every
    wave fails: the metrics line counts the failed buckets and the exit code
    is 1, not 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    poisoned = tmp_path / "sf_poisoned"
    poisoned.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array([1, None, 3], type=pa.int64())}),
        str(poisoned / "documents.parquet"),
    )
    run = _run_cli(tmp_path, str(poisoned), "out")
    assert run.returncode == 1, run.stderr[-4000:]
    metrics = json.loads(run.stdout.strip().splitlines()[-1])
    assert metrics["buckets_failed"] == 4
    assert metrics["buckets_processed"] == 0


@pytest.mark.parametrize("flag", ["--buckets", "--limit"])
@pytest.mark.parametrize("value", ["0", "-3"])
def test_cli_rejects_a_count_below_one(flag, value, tmp_path, capsys):
    """`--buckets 0` would run no bucket and `--limit 0` the whole corpus;
    argparse refuses both before any Spark session starts."""
    from mit_spark.main import main

    with pytest.raises(SystemExit) as exc:
        main(["--input", SF_DIR, "--output", str(tmp_path / "out"), flag, value])
    assert exc.value.code == 2
    assert f"argument {flag}: must be at least 1" in capsys.readouterr().err
    assert not (tmp_path / "out").exists()
