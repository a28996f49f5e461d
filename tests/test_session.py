"""Worker set-up helpers in mit_spark/session.py."""

import sys
import zipfile
import zipimport

from mit_spark.session import drop_zip_importers


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
