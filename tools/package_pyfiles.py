"""Build the --py-files archive for cluster deployment.

Local mode imports ``flink_kakfa_spark`` from the repo working copy; a
real cluster's executors don't share that filesystem, so the package
ships as a zip on every job:

    python tools/package_pyfiles.py [out.zip]
    spark-submit --py-files out.zip your_job.py

The archive contains only the package sources (no tests, no caches,
deterministic member order and zeroed timestamps, so re-builds of the
same tree are byte-identical — a content-addressable artifact for CI
caches). With the zip on ``--py-files``, these resolve imports without
the repo checkout:

- the closures the mapInPandas operators capture, on executors;
- the Kafka stream source (``streaming/kafka.py``), whose reader Spark
  runs in Python workers of its own, on the driver and on executors.
  In local mode those workers find the package only through the
  driver's working directory or ``PYTHONPATH``: a driver started from
  another directory needs the repo on ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "flink_kakfa_spark"


def build(out_path: str) -> int:
    """Write the package zip; returns the number of files archived."""
    members = []
    pkg_root = os.path.join(REPO, PKG)
    for dirpath, dirnames, filenames in os.walk(pkg_root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, REPO)
            members.append((full, rel))
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, rel in members:
            with open(full, "rb") as f:
                data = f.read()
            info = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, data)
    return len(members)


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "flink_kakfa_spark.zip"
    n = build(out)
    print(f"{out}: {n} files")
