"""Differential check of the extraction kernel against another revision.

    python3 tools/diff_kernel.py <rev> [--seed N]

Extracts `<rev>`'s `readability_1_spark/` with `git archive` into a temp
directory, then runs `extract_one` from that tree and from this checkout,
each in its own subprocess, over the same pages:

* the smoke pages (turn 1 of every `conv-<slug>` in
  tests/goldens/transcripts_smoke.parquet);
* the generated deep shapes of tests/kernel_shapes.py;
* seeded mutations of the smoke pages: the body wrapped in 1-60 extra
  `<div>`s, and text runs split into several text nodes (an empty comment
  inserted, which the parser drops).

It prints the first differing field of each page that differs and exits 1
on any difference, 0 when every page agrees.  This is the kernel's
old-vs-new gate where the live-reference fuzz (tools/fuzz_vs_reference.py)
cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FIELDS = ("status", "title", "byline", "dir", "content", "text_content", "length",
          "excerpt", "site_name", "error", "paragraph_texts")

# Runs in the tree under test: argv = tree, pages.json, out.json.  Writes
# {name: {field: md5 of the field's JSON}} so the outputs stay small.
RUNNER = r"""
import hashlib, json, sys
sys.path.insert(0, sys.argv[1])
from readability_1_spark.extract import extract_one
pages = json.load(open(sys.argv[2]))
fields = json.loads(sys.argv[4])
out = {}
for name, html in pages.items():
    res = extract_one(html)
    out[name] = {f: hashlib.md5(json.dumps(res.get(f), sort_keys=True).encode()).hexdigest()
                 for f in fields}
json.dump(out, open(sys.argv[3], "w"))
"""

_BODY_OPEN = re.compile(r"<body[^>]*>", re.I)
_TEXT_RUN = re.compile(r">([^<]{8,})<")


def wrap_body(html: str, depth: int) -> str | None:
    """`html` with its body's content wrapped in `depth` extra divs."""
    m = _BODY_OPEN.search(html)
    end = html.lower().rfind("</body>")
    if m is None or end < m.end():
        return None
    return (html[:m.end()] + "<div>" * depth + html[m.end():end] + "</div>" * depth
            + html[end:])


def split_text(html: str, rng: random.Random, n: int) -> str | None:
    """`html` with `n` text runs each split in two by an empty comment."""
    runs = list(_TEXT_RUN.finditer(html))
    if not runs:
        return None
    cuts = sorted({rng.randrange(m.start(1) + 1, m.end(1))
                   for m in rng.sample(runs, min(n, len(runs)))})
    parts, prev = [], 0
    for c in cuts:
        parts += [html[prev:c], "<!---->"]
        prev = c
    return "".join(parts) + html[prev:]


def pages(seed: int) -> dict[str, str]:
    from readability_1_spark.transcripts import _payloads
    from tests.kernel_shapes import shapes

    rng = random.Random(seed)
    out = {}
    for _pid, slug, html in _payloads():
        out[f"smoke:{slug}"] = html
        wrapped = wrap_body(html, rng.randint(1, 60))
        if wrapped is not None:
            out[f"wrap:{slug}"] = wrapped
        split = split_text(html, rng, rng.randint(1, 50))
        if split is not None:
            out[f"split:{slug}"] = split
    for name, html in shapes().items():
        out[f"shape:{name}"] = html
    return out


def run_tree(tree: str, pages_path: str, out_path: str) -> dict:
    subprocess.run([sys.executable, "-c", RUNNER, tree, pages_path, out_path,
                    json.dumps(FIELDS)], check=True)
    with open(out_path) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev", help="git revision to compare this checkout against")
    ap.add_argument("--seed", type=int, default=0, help="seed of the mutations")
    args = ap.parse_args(argv)
    with tempfile.TemporaryDirectory(prefix="diff_kernel_") as tmp:
        old_tree = os.path.join(tmp, "old")
        os.makedirs(old_tree)
        archive = subprocess.run(["git", "-C", ROOT, "archive", args.rev,
                                  "readability_1_spark/"],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "x", "-C", old_tree], input=archive, check=True)
        pages_path = os.path.join(tmp, "pages.json")
        all_pages = pages(args.seed)
        with open(pages_path, "w") as fh:
            json.dump(all_pages, fh)
        old = run_tree(old_tree, pages_path, os.path.join(tmp, "old.json"))
        new = run_tree(ROOT, pages_path, os.path.join(tmp, "new.json"))
    differ = 0
    for name in all_pages:
        field = next((f for f in FIELDS if old[name][f] != new[name][f]), None)
        if field is not None:
            differ += 1
            print(f"DIFF {name}: {field}")
    kinds = sorted({name.split(":", 1)[0] for name in all_pages})
    counts = ", ".join(f"{sum(n.startswith(k + ':') for n in all_pages)} {k}" for k in kinds)
    print(f"{len(all_pages)} pages ({counts}) vs {args.rev}: {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
