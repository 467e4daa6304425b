"""Option-variant golden equality: the reference run with non-default
options (charThreshold retry ladder, nbTopCandidates, keepClasses,
maxElemsToParse) over a corpus third — regenerate with
tools/gen_goldens_opts.mjs."""

import json
import os

import pytest

from readability_1_spark import extract_one

from .conftest import GOLDENS_DIR, load_source

OPTS_ROOT = os.path.join(GOLDENS_DIR, "opts")

with open(os.path.join(OPTS_ROOT, "_variants.json")) as f:
    _META = json.load(f)

FIELDS = (
    "title", "byline", "dir", "content", "text_content", "length",
    "excerpt", "site_name",
)


@pytest.mark.parametrize("variant", sorted(_META["variants"]))
def test_option_variant_equality(variant):
    opts = _META["variants"][variant]
    for slug in _META["slugs"]:
        with open(os.path.join(OPTS_ROOT, variant, slug + ".json")) as f:
            golden = json.load(f)
        mine = extract_one(load_source(slug), opts=dict(opts))
        assert mine["status"] == golden["status"], (variant, slug)
        if golden["status"] == "ok":
            for field in FIELDS:
                assert mine[field] == golden["result"][field], (variant, slug, field)
