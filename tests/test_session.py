"""Worker set-up helpers and session defaults in mit_spark/session.py."""

import os
import sys
import zipfile
import zipimport

from mit_spark.session import drop_zip_importers, make_session


def test_drop_zip_importers_keeps_zip_imports_working(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipped_mod_a.py", "VALUE = 'a'\n")
        zf.writestr("zipped_mod_b.py", "VALUE = 'b'\n")
    sys.path.insert(0, archive)
    try:
        import zipped_mod_a

        assert zipped_mod_a.VALUE == "a"
        assert isinstance(sys.path_importer_cache.get(archive), zipimport.zipimporter)

        drop_zip_importers()
        assert not any(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())

        import zipped_mod_b

        assert zipped_mod_b.VALUE == "b"
        assert zipped_mod_b.__file__.startswith(archive)
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("zipped_mod_a", "zipped_mod_b"):
            sys.modules.pop(name, None)


def test_default_master_is_the_cpus_this_process_may_run_on(monkeypatch):
    """Without a master or $SPARK_GRAFT_CPUS, make_session runs one task
    slot per CPU this process may run on. Resolved without starting a
    session: getOrCreate hands back the builder itself."""
    from pyspark.sql import SparkSession

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    options = make_session()._options
    cpus = len(os.sched_getaffinity(0))
    assert options["spark.master"] == f"local[{cpus}]"
    assert options["spark.sql.shuffle.partitions"] == str(max(cpus, 16))

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert make_session()._options["spark.master"] == "local[3]"
