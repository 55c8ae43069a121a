"""Package open_source_search_engine_spark into a --py-files zip: its
``.py`` files and the data assets under ``data/``.

Usage: python tools/make_pyfiles_zip.py [out.zip]   (default /tmp/osse_pkg.zip)
"""

from __future__ import annotations

import os
import sys
import zipfile


def make_zip(out_path: str) -> str:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "open_source_search_engine_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            in_data = os.path.relpath(root, pkg).split(os.sep)[0] == "data"
            for f in sorted(files):
                if not (f.endswith(".py") or in_data):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, repo))
    return out_path


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/osse_pkg.zip"
    print(make_zip(out))
