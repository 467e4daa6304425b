"""Deep pages: pinned kernel outputs and a linear-cost guard.

The md5s were recorded from the kernel before its subtree facts were
computed per cleaning phase (one walk instead of one walk per candidate);
that change must leave every output byte the same.  `tools/diff_kernel.py`
checks the same shapes, the smoke pages and mutations of them against any
revision.
"""

import gc
import hashlib
import time

import pytest

from readability_1_spark import extract_one

from .kernel_shapes import deep_page, shapes

PINNED = {
    "deep_page(50)": "7e44e28543f2cd279d8c7d5220f322f8",
    "deep_page(400)": "bc13b2236fc2efae9e682e5239585bd1",
    "deep_page(1200)": "43c2011bcd45cb1966d4cfcbc58ecb69",
    "deep_page(3000)": "6eacfff63884edae42a0df54fc5e8020",
    "side_branch_chain(40)": "830b32ab81077ddcc83cfd39e449d09e",
    "nested_tables(40)": "191c96901bf920beb10ad9ab5e245eda",
    "nested_lists(40)": "305d3e49ee591d4a0cf2fc689b2ab11e",
    "anchor_chain(40)": "226c0eaadb9a5be8661cc53dd5d228c1",
    "empty_chain(40)": "ecf378b4f0d39b6da14253848b6e0377",
    "side_branch_chain(300)": "110fbba481a2046d495e29615f0dec2a",
    "nested_tables(300)": "3fec8d2bb29540e16e131dcd0a6b6f0e",
    "nested_lists(300)": "48f1fe97105db3deec8430ea940c7085",
    "anchor_chain(300)": "6183ce97f0a596f8effcf40a79d83b74",
    "empty_chain(300)": "dd8d1d5303134955ec55f82ce21c76ae",
}


def _digest(out: dict) -> str:
    h = hashlib.md5()
    for field in ("status", "title", "content", "text_content"):
        h.update(repr(out.get(field)).encode())
        h.update(b"\0")
    return h.hexdigest()


def test_pins_cover_every_shape():
    assert set(PINNED) == set(shapes())


@pytest.mark.parametrize("name", sorted(PINNED))
def test_shape_output_pinned(name):
    out = extract_one(shapes()[name])
    assert out["status"] == "ok"
    assert _digest(out) == PINNED[name]


def _best_of_5(html: str) -> float:
    """Best of five timed calls, each with the collector off: the small side
    of the ratio takes tens of milliseconds, so one collection or one burst
    of load from another process would move it by a large share."""
    best = float("inf")
    for _ in range(5):
        gc.collect()
        gc.disable()
        try:
            t = time.perf_counter()
            extract_one(html)
            best = min(best, time.perf_counter() - t)
        finally:
            gc.enable()
    return best


def test_deep_page_cost_is_linear():
    """Quadrupling the depth must cost about 4x, not 16x: a subtree walk
    per node inside a per-node loop would make this ratio about 16."""
    extract_one(deep_page(10))  # warm the caches and the GC settings
    ratio = _best_of_5(deep_page(2400)) / _best_of_5(deep_page(600))
    assert ratio <= 6, ratio
