import functools
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDENS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens")
SMOKE_PQ = os.path.join(GOLDENS_DIR, "transcripts_smoke.parquet")

EDGE_SOURCES = {
    "edge-fragment": "<div><p>Just a fragment without html element.</p></div>",
    "edge-no-body": "<html><div>No body element here at all.</div></html>",
    "edge-script-lt": (
        "<html><body><script>if(x<4){go()}</script><p>body text</p></body></html>"
    ),
    "edge-empty": "",
    "edge-plain-html": (
        '<html><head><title>Tiny page: a test</title></head><body><div id="main">'
        + "".join(
            f"<p>Paragraph {i} with some, commas, and enough length to score well"
            " in the readability algorithm, yes indeed it keeps going and going.</p>"
            for i in range(30)
        )
        + "</div></body></html>"
    ),
}


def load_golden(slug: str) -> dict:
    with open(os.path.join(GOLDENS_DIR, slug + ".json")) as f:
        return json.load(f)


@functools.lru_cache(maxsize=1)
def _fixture_sources() -> dict[str, str]:
    """slug → the fixture page's stripped source HTML: turn 1 of
    conv-<slug> in the committed smoke transcripts
    (tools/gen_fixture_parquet.py)."""
    from readability_1_spark.transcripts import _payloads

    return {slug: html for _pid, slug, html in _payloads()}


def load_source(slug: str) -> str:
    if slug.startswith("edge-"):
        return EDGE_SOURCES[slug]
    return _fixture_sources()[slug]


def smoke_table(spark):
    """The `smoke_transcripts` rows, as committed by tools/gen_fixture_parquet.py."""
    return spark.read.parquet(SMOKE_PQ)


def golden_slugs() -> list[str]:
    with open(os.path.join(GOLDENS_DIR, "_index.json")) as f:
        return [e["slug"] for e in json.load(f)]


@pytest.fixture(scope="session")
def spark():
    from readability_1_spark.session import get_spark

    spark = get_spark(app_name="tests")
    yield spark
