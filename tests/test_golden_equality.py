"""Per-document equality against goldens generated from the reference
(tools/gen_goldens.mjs) — the correctness core of the whole engine.

Mirrors the reference harness corpus strategy (test/test-readability.js)
but compares the raw parse() result fields byte-for-byte rather than a
whitespace-collapsed DOM traversal: stricter than the reference's own suite.
"""

import pytest

from readability_1_spark import extract_one

from .conftest import golden_slugs, load_golden, load_source

FIELDS = (
    "title", "byline", "dir", "content", "text_content", "length",
    "excerpt", "site_name",
)


@pytest.mark.parametrize("slug", golden_slugs())
def test_golden_equality(slug):
    golden = load_golden(slug)
    out = extract_one(load_source(slug))
    assert out["status"] == golden["status"], f"status mismatch for {slug}"
    if golden["status"] == "ok":
        for field in FIELDS:
            assert out[field] == golden["result"][field], f"{slug}.{field}"


def test_readerable_matches_expected_metadata():
    import json
    import os

    from readability_1_spark.dom import JSDOMParser
    from readability_1_spark.readerable import is_probably_readerable

    from .conftest import GOLDENS_DIR

    with open(os.path.join(GOLDENS_DIR, "_index.json")) as f:
        idx = json.load(f)
    checked = 0
    for e in idx:
        if "readerable" not in e:
            continue
        src = load_source(e["slug"])
        doc = JSDOMParser().parse(src, "http://fakehost/test/page.html")
        assert is_probably_readerable(doc) == e["readerable"], e["slug"]
        checked += 1
    assert checked >= 101
