"""Package axosyslog_spark for spark-submit --py-files.

    python tools/make_pyfiles.py    # writes dist/axosyslog_spark.zip

The archive is a build output (``dist/`` is git-ignored): build it
from the checkout you submit. Its bytes are reproducible (fixed
timestamps, sorted member order), so two builds of one tree are
identical; tests/test_spark_submit.py builds its own copy with
``build``.
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIP_EXT = (".py", ".pdb", ".xml", ".csv")
_EPOCH = (1980, 1, 1, 0, 0, 0)  # fixed zip timestamp => reproducible bytes


def member_files() -> list[str]:
    """Repo-relative paths shipped in the --py-files archive, sorted."""
    out: list[str] = []
    pkg = os.path.join(REPO, "axosyslog_spark")
    for root, _dirs, files in os.walk(pkg):
        if "__pycache__" in root:
            continue
        for fn in files:
            if fn.endswith(SHIP_EXT):
                full = os.path.join(root, fn)
                out.append(os.path.relpath(full, REPO))
    return sorted(out)


def build(out: str) -> str:
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for rel in member_files():
            with open(os.path.join(REPO, rel), "rb") as f:
                data = f.read()
            info = zipfile.ZipInfo(rel, date_time=_EPOCH)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data)
    return out


def main() -> None:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    print(build(os.path.join(dist, "axosyslog_spark.zip")))


if __name__ == "__main__":
    main()
