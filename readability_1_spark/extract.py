"""Single-document extraction entry point with the status contract used by
the goldens, the Arrow kernel, and the pipeline.

Mirrors the harness semantics (test/test-readability.js:271-280 plus
generate-testcase.js): JSDOMParser errorState → unusable document; a missing
documentElement → constructor throw; a null parse() → no usable article.
"""

from __future__ import annotations

import gc
import sys

from .dom import JSDOMParser, ParseFatal
from .readability import NoDocumentError, Readability, TooManyElemsError
from .readerable import is_probably_readerable

RESULT_FIELDS = (
    "title", "byline", "dir", "content", "text_content", "length",
    "excerpt", "site_name",
)

_JS_KEY = {
    "title": "title", "byline": "byline", "dir": "dir", "content": "content",
    "text_content": "textContent", "length": "length", "excerpt": "excerpt",
    "site_name": "siteName",
}


DEFAULT_URL = "http://fakehost/test/page.html"


def _parse(html: str, url: str):
    """The one HTML parse every extraction path runs: ``(doc, None)``, or
    ``(None, reason)`` when the parser fails or ends in its error state."""
    # The parser/serializer recurse with DOM depth; htmltidy'd fixture pages
    # nest a few hundred levels, real pages can go deeper.
    if sys.getrecursionlimit() < 20000:
        sys.setrecursionlimit(20000)
        # Each document allocates 10^4-10^5 cyclically-linked DOM nodes;
        # default gen0 thresholds make the cyclic GC rescan them constantly
        # (~35% of kernel wall time).  Raise thresholds once per worker.
        gc.set_threshold(200_000, 100, 100)
    parser = JSDOMParser()
    try:
        doc = parser.parse(html, url)
    except (ParseFatal, RecursionError) as exc:
        return None, str(exc)[:500]
    if parser.error_state:
        return None, parser.error_state[:500]
    return doc, None


def _result(status: str, error: str | None = None) -> dict:
    out: dict = dict.fromkeys(RESULT_FIELDS)
    out["status"] = status
    if error is not None:
        out["error"] = error
    return out


def extract_one(html: str, url: str = DEFAULT_URL, opts: dict | None = None) -> dict:
    """Run the full extraction on one HTML string.

    Returns ``{"status": ..., **result-fields}`` where status is one of
    ok / parse_error / no_document / null_result / too_large / error.
    """
    doc, error = _parse(html, url)
    if doc is None:
        return _result("parse_error", error)
    return _extract_from_doc(doc, opts)


def extract_one_gated(html: str) -> dict | None:
    """Readerable-gated extraction with a SINGLE parse: returns None when
    the document fails the isProbablyReaderable pre-check (or the parse
    itself fails — exactly the rows the two-pass gate kernel dropped), else
    the same dict extract_one returns, reusing the one parsed DOM.

    isProbablyReaderable is read-only on the DOM, and parsing is
    deterministic, so reuse is output-identical to gate-then-reparse."""
    doc, _ = _parse(html, DEFAULT_URL)
    if doc is None or not is_probably_readerable(doc):
        return None
    return _extract_from_doc(doc, None)


def is_readerable(html: str) -> bool:
    """The isProbablyReaderable pre-check alone; False when the parse fails."""
    doc, _ = _parse(html, DEFAULT_URL)
    return doc is not None and is_probably_readerable(doc)


def _extract_from_doc(doc, opts: dict | None) -> dict:
    if opts is None:
        opts = {"classesToPreserve": ["caption"]}
    try:
        reader = Readability(doc, opts)
    except NoDocumentError as exc:
        return _result("no_document", str(exc))

    try:
        result = reader.parse()
    except TooManyElemsError as exc:
        return _result("too_large", str(exc))
    except Exception as exc:  # mirrors an uncaught JS throw in the harness
        return _result("error", f"{type(exc).__name__}: {exc}"[:500])

    if result is None:
        return _result("null_result")
    out = _result("ok")
    for k in RESULT_FIELDS:
        out[k] = result[_JS_KEY[k]]
    out["metrics"] = reader.metrics
    # For span derivation (pipeline-only; avoids re-parsing `content`).
    out["paragraph_texts"] = result.get("paragraphTexts", [])
    return out
