"""The `--py-files` zip (tools/make_pyfiles_zip.py) carries the engine's
data assets: the shipped synset file loads when the engine is imported
from the zip alone."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_synsets_load_from_pyfiles_zip(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "make_pyfiles_zip", os.path.join(REPO, "tools", "make_pyfiles_zip.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    zpath = mod.make_zip(str(tmp_path / "osse_pkg.zip"))

    probe = (
        "import open_source_search_engine_spark as p\n"
        "from open_source_search_engine_spark.functions import synonyms\n"
        "print(p.__file__)\n"
        "print(synonyms.load_default_synsets())\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = zpath
    out = subprocess.run([sys.executable, "-c", probe], cwd=str(tmp_path),
                         env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    pkg_file, n = out.stdout.split()
    assert pkg_file.startswith(zpath + os.sep)  # imported from the zip
    assert int(n) > 700  # words mapped, as in test_default_synset_asset
