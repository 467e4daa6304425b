"""Ports of the reference's Readability API tests
(test/test-readability.js:188-257): option plumbing, oversize abort,
keepClasses behavior."""

import os
from unittest import mock

import pytest

from readability_1_spark.dom import JSDOMParser
from readability_1_spark.readability import Readability, TooManyElemsError

from .conftest import golden_slugs, load_source


def _doc(html="<html><div>yo</div></html>"):
    return JSDOMParser().parse(html)


def test_option_defaults_and_overrides():
    assert Readability(_doc())._nb_top_candidates == 5
    assert Readability(_doc(), {"nbTopCandidates": 42})._nb_top_candidates == 42
    assert Readability(_doc())._max_elems_to_parse == 0
    assert Readability(_doc(), {"maxElemsToParse": 42})._max_elems_to_parse == 42
    assert Readability(_doc())._keep_classes is False
    assert Readability(_doc(), {"keepClasses": True})._keep_classes is True
    assert Readability(_doc(), {"keepClasses": False})._keep_classes is False
    assert Readability(_doc())._char_threshold == 500
    assert Readability(_doc(), {"charThreshold": 123})._char_threshold == 123
    assert Readability(_doc())._classes_to_preserve == ["page"]
    assert Readability(_doc(), {"classesToPreserve": ["x"]})._classes_to_preserve == [
        "page", "x",
    ]


def test_debug_option_accepted_and_output_invariant(capsys):
    """Reference debug option (Readability.js:112-119): log-only — the
    extraction result must be byte-identical with and without it, stdout
    must stay clean (kernels own stdout), and the trace goes to stderr."""
    html = (
        "<html><body><div><p>" + ("Words and more words. " * 60) + "</p></div>"
        "</body></html>"
    )
    assert Readability(_doc())._debug is False
    assert Readability(_doc(), {"debug": True})._debug is True
    plain = Readability(JSDOMParser().parse(html)).parse()
    debug = Readability(JSDOMParser().parse(html), {"debug": True}).parse()
    assert debug == plain
    r = Readability(_doc(), {"debug": True})
    r.log("hello", 42)
    out = capsys.readouterr()
    assert out.out == ""
    assert "hello" in out.err
    quiet = Readability(_doc())
    quiet.log("nope")
    out = capsys.readouterr()
    assert out.out == "" and out.err == ""


def test_oversized_document_aborts():
    reader = Readability(_doc(), {"maxElemsToParse": 1})
    with pytest.raises(TooManyElemsError, match="2 elements found"):
        reader.parse()


def _example_source():
    return load_source("001")


@pytest.mark.parametrize(
    ("opts", "called"),
    [({}, True), ({"keepClasses": False}, True), ({"keepClasses": True}, False)],
)
def test_clean_classes_gated_by_keep_classes(opts, called):
    reader = Readability(JSDOMParser().parse(_example_source()), opts)
    with mock.patch.object(reader, "_clean_classes") as fake:
        reader.parse()
    assert fake.called is called


def test_keep_classes_preserves_class_attributes():
    src = (
        '<html><head><title>T is a title</title></head><body><div id="main">'
        + "".join(
            f'<p class="para keepme">Paragraph {i} with plenty, of, commas, and '
            "sufficient length to pass thresholds easily in this engine.</p>"
            for i in range(30)
        )
        + "</div></body></html>"
    )
    kept = Readability(JSDOMParser().parse(src), {"keepClasses": True}).parse()
    assert 'class="para keepme"' in kept["content"]
    stripped = Readability(JSDOMParser().parse(src), {}).parse()
    assert "keepme" not in stripped["content"]


def test_extract_one_gated_equals_gate_then_extract():
    """extract_one_gated(html) must equal: None when isProbablyReaderable is
    False (or the parse fails), else extract_one(html) — the parse-once gate
    is output-identical to gate-then-reparse."""
    from readability_1_spark.dom import JSDOMParser, ParseFatal
    from readability_1_spark.extract import extract_one, extract_one_gated
    from readability_1_spark.readerable import is_probably_readerable

    slugs = [s for s in golden_slugs() if not s.startswith("edge-")][:30]
    checked_kept = checked_dropped = 0
    for slug in slugs:
        html = load_source(slug)
        parser = JSDOMParser()
        try:
            doc = parser.parse(html, "http://fakehost/test/page.html")
            readerable = not parser.error_state and is_probably_readerable(doc)
        except (ParseFatal, RecursionError):
            readerable = False
        gated = extract_one_gated(html)
        if not readerable:
            assert gated is None, slug
            checked_dropped += 1
        else:
            full = extract_one(html)
            assert gated is not None, slug
            for k in ("status", "title", "byline", "dir", "content",
                      "text_content", "length", "excerpt", "site_name"):
                assert gated.get(k) == full.get(k), f"{slug}:{k}"
            checked_kept += 1
    assert checked_kept >= 10


def test_readerable_kernel_fresh_worker_agrees_with_gated_extract():
    """A page nested deeper than Python's default recursion limit: the
    readerable kernel in a fresh interpreter (a new Python worker) gives
    the same answer as extract_one_gated, whatever ran before it."""
    import subprocess
    import sys

    code = """
import pyarrow as pa
from readability_1_spark.extract import extract_one_gated
from readability_1_spark.kernel import make_readerable_kernel

para = "<p>" + "A sentence of ordinary article prose, long enough to count. " * 4 + "</p>"
html = "<html><body>" + "<div>" * 1200 + para * 3 + "</div>" * 1200 + "</body></html>"
batch = pa.RecordBatch.from_pydict({
    "conv_id": ["c"], "turn_idx": pa.array([0], pa.int32()), "text": [html],
    "part_id": pa.array([0], pa.int32()),
})
flag = next(make_readerable_kernel()(iter([batch]))).column("readerable")[0].as_py()
print(flag, extract_one_gated(html) is not None)
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, cwd=repo)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["True", "True"]
