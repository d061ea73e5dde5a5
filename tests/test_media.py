"""operators/media.py: the encoders write the bytes a plain loop over the
closed forms writes, and the worker stages run where the package is not
importable (a driver that loads ``__spark_entry__.py`` by path from
another directory starts Python workers that cannot import
``flink_kakfa_spark``, so every function a worker runs must be shipped
by value).
"""

from __future__ import annotations

import io
import os
import pathlib
import struct
import subprocess
import sys
import wave

from flink_kakfa_spark.operators.media import _bmp_images, _wav_clips

REPO = pathlib.Path(__file__).resolve().parent.parent

_DRIVER = """
import importlib.util
import sys

spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)

from flink_kakfa_spark.session import get_spark

spark = get_spark()
queries = entry.queries()
for name in sys.argv[3:]:
    print(name, len(queries[name](spark, sys.argv[2]).collect()))
spark.stop()
"""


def test_media_queries_run_from_a_foreign_cwd(tmp_path, sf_dir):
    """One WAV and one BMP query, driven from ``tmp_path`` with no repo
    on PYTHONPATH: each returns its full row count."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        PYTHONDONTWRITEBYTECODE="1", SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g"
    )
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, str(REPO / "__spark_entry__.py"), sf_dir,
         "mm_wav_roundtrip_features", "mm_image_ahash_groups"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.split() == [
        "mm_wav_roundtrip_features", "500", "mm_image_ahash_groups", "20",
    ]


def test_encoders_write_the_reference_bytes(spark, tmp_path):
    """Byte for byte, the WAV clip is ``wave`` over the packed closed-form
    samples, and the BMP is the two headers over bottom-up BGR rows, each
    padded to 4 bytes, built pixel by pixel."""
    ids = [0, 3, 7, 255, 256, 1234567]
    spark.createDataFrame([(i,) for i in ids], "doc_id long").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    wav = dict(_wav_clips(spark, str(tmp_path)).collect())
    bmp = dict(_bmp_images(spark, str(tmp_path)).collect())
    for d in ids:
        n = 800 + d % 5 * 100
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(
                struct.pack(f"<{n}h", *[(d * 31 + i * 17) % 2048 - 1024 for i in range(n)])
            )
        assert wav[d] == buf.getvalue()

        width = 8 + d % 8
        rows = b"".join(
            bytes(
                c
                for x in range(width)
                for c in ((d + x) % 256, (x * y) % 256, (d * x + y) % 256)
            ).ljust((width * 3 + 3) & ~3, b"\0")
            for y in reversed(range(8))
        )
        headers = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54) + struct.pack(
            "<IiiHHIIiiII", 40, width, 8, 1, 24, 0, len(rows), 2835, 2835, 0, 0
        )
        assert bmp[d] == headers + rows
