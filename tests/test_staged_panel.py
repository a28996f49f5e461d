"""Staging equivalence for the exact recall-panel ground truth: the parquet
artifact `_staged_exact_panel` serves to every recall eval must be row-equal
to the live brute-force pass `_exact_panel_topk` it materializes — staging
may never change WHAT the evals compare against, only how often it is paid.
Also pins the idempotence contract: a second call must be a pure read (the
_STAGED marker short-circuits the build), and the staged dirs belong to the
process that built them: each process stages under its own temporary root
and removes it when it exits."""

import os

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted((r["q_id"], r["n_id"]) for r in df.collect())


def test_staged_panel_equals_live(spark):
    from mit_spark.queries import _exact_panel_topk, _staged_exact_panel, _staging_dir

    staged = _rows(_staged_exact_panel(spark, SF_DIR))
    live = _rows(_exact_panel_topk(spark, SF_DIR))
    assert staged == live
    assert len(staged) > 0

    # second call reads the marker-complete dir without rebuilding
    base = _staging_dir(SF_DIR, "exact_panel")
    marker = os.path.join(base, "_STAGED")
    mtime = os.path.getmtime(marker)
    again = _rows(_staged_exact_panel(spark, SF_DIR))
    assert again == staged
    assert os.path.getmtime(marker) == mtime


_CHILD = """
import os, sys
from mit_spark.queries import core
base = core._staging_dir(sys.argv[1], "probe")
core._staged(base, lambda: None)
pid = os.fork()
if pid == 0:
    sys.exit(0)  # a normal exit runs the inherited atexit handler here too
os.waitpid(pid, 0)
print(base, os.path.exists(base))
"""


def test_staging_is_scoped_to_the_process_that_builds_it(spark, tmp_path):
    """Two processes never share a staged dir, a forked child leaves its
    parent's root alone, and the root is gone once its process exits; in
    one process a staged table is built once."""
    import subprocess
    import sys

    from mit_spark.queries import core

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bases = []
    for _ in range(2):
        run = subprocess.run(
            [sys.executable, "-c", _CHILD, SF_DIR], cwd=repo,
            capture_output=True, text=True, timeout=120,
        )
        assert run.returncode == 0, run.stderr[-2000:]
        base, existed = run.stdout.split()
        assert existed == "True"  # still there after the forked child exited
        assert not os.path.exists(os.path.dirname(base))
        bases.append(base)
    assert bases[0] != bases[1]

    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    sf_dir = str(tmp_path / "sf")
    for _ in range(2):
        assert core._staged_table(spark, sf_dir, "probe", build).count() == 3
    assert len(builds) == 1


def test_staged_recovers_from_crashed_build(tmp_path):
    """A dir with partial state but no marker (a build that raised) is wiped
    and rebuilt by the next caller."""
    from mit_spark.queries import _staged

    base = str(tmp_path / "stage_crash")
    os.makedirs(base)
    with open(os.path.join(base, "stale"), "w") as fh:
        fh.write("left by a crashed build")

    def build():
        with open(os.path.join(base, "fresh"), "w") as fh:
            fh.write("ok")

    _staged(base, build)
    assert not os.path.exists(os.path.join(base, "stale"))
    assert os.path.exists(os.path.join(base, "fresh"))
    # second call is a no-op (marker fast path)
    _staged(base, lambda: (_ for _ in ()).throw(AssertionError("rebuilt")))
