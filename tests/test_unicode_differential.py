"""Value-exact differential on a unicode-injected corpus for the
byte/char-semantics-sensitive queries (the full 225-query sweep on
this corpus is `python tools/diffcheck.py /tmp/unicode_sf` after
`tools/unicode_fixture.py`; this pins the sensitive subset in CI
shape). Multibyte text is where byte-level (codec, md5, octet_length)
and codepoint-level (length, substr, ord) semantics diverge between
engines — exactly the bug class this caught on introduction."""

from __future__ import annotations

import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))

from flink_kakfa_spark import registry  # noqa: E402

registry.load_all()

SENSITIVE = [
    "mm_binary_metadata",     # octet_length / md5 over utf-8 bytes
    "mm_extract_features",    # per-BYTE stats (the caught bug)
    "text_char_entropy",      # per-CHARACTER distribution
    "text_token_stats",       # char lengths of multibyte tokens
    "text_fingerprint",       # md5 over utf-8 bytes
    "wordcount",              # unicode tokens group correctly
    "dedup_exact_stats",      # digest dedup over multibyte text
]


@pytest.fixture(scope="module")
def unicode_sf(tmp_path_factory) -> str:
    from unicode_fixture import build

    out = str(tmp_path_factory.mktemp("unicode_sf"))
    build("/root/testdata/sf0.001", out)
    return out


@pytest.mark.parametrize("name", SENSITIVE)
def test_unicode_differential(spark, unicode_sf, name):
    from diffcheck import compare, duck_con

    con = duck_con(unicode_sf)
    ok, msg = compare(name, spark, con, unicode_sf)
    assert ok, msg
