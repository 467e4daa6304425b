"""Each shared Layer-P building block is defined once: the source fragment
that builds it appears exactly once across the package and the tools.  A
second copy can drift from its oracle twin in just the queries that carry
it; the helper that holds the one copy is named in each case."""

import glob
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FRAGMENTS = {
    # queries._words
    "tokenizer": re.escape("F.split(F.lower"),
    # queries._seeded_hash
    "minhash_seed": re.escape('concat_ws(":", F.lit(seed)'),
    # queries._web_links
    "web_link_filter": re.escape('_url_scheme(x).isin("http", "https")'),
    # queries._cocitation_edges
    "cocitation_join": re.escape('F.col("b2.conv_id")'),
    # queries._split_of
    "split_chain": re.escape("F.when(bucket < SPLIT_TRAIN_LT"),
    # queries._transcripts_table
    "transcripts_read": re.escape("read.parquet(TRANSCRIPTS_PQ)"),
    # queries._ok_turns
    "ok_extraction": r'num_parts=16\)\s*\.filter\(\s*F\.col\("status"\) == "ok"',
    # queries._l2_dist
    "squared_difference_fold": (
        r'x\.cast\("double"\) - y\.cast\("double"\)\)\s*\*\s*'
        r'\(x\.cast\("double"\) - y\.cast\("double"\)\)'
    ),
    # queries._bigrams
    "bigram_builder": (
        r'concat_ws\(\s*" ", F\.element_at\(([\w"]+), i\), '
        r'F\.element_at\(\1, i \+ 1\)\s*\)'
    ),
}


def _sources():
    paths = sorted(
        glob.glob(os.path.join(ROOT, "readability_1_spark", "*.py"))
        + glob.glob(os.path.join(ROOT, "tools", "*.py"))
    )
    return {os.path.relpath(p, ROOT): open(p).read() for p in paths}


@pytest.mark.parametrize("name", sorted(FRAGMENTS))
def test_fragment_defined_once(name):
    pat = re.compile(FRAGMENTS[name])
    hits = [
        (path, src.count("\n", 0, m.start()) + 1)
        for path, src in _sources().items()
        for m in pat.finditer(src)
    ]
    assert len(hits) == 1, f"{name}: {hits}"
