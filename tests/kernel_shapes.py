"""Generated HTML shapes that stress the extraction kernel's subtree work.

Each generator is a pure function of its arguments, so a page can be
rebuilt anywhere (the pinned-output test, `tools/diff_kernel.py`).  The
shapes nest deeply in different ways, because a per-node subtree walk
inside a per-node loop costs depth squared on each of them:

* `deep_page(d)`: the benchmark's straggler (perfbench/gen_input.py), one
  `<div>` chain with three paragraphs at the bottom;
* `side_branch_chain(d)`: a chain with a side branch at every level whose
  content varies level by level (links, images, inputs, embeds, lists,
  class weights, commas), so every `_clean_conditionally` rule fires
  somewhere along the chain;
* `nested_tables(d)`: tables inside table cells, some data-like (`<th>`,
  `summary`), some layout, some with `role="presentation"`, each cell with
  a negative-weight `<div>` that only a data-table ancestor keeps;
* `nested_lists(d)`: `<ul>`/`<ol>` nested in `<li>`s with text and links;
* `anchor_chain(d)`: a chain where odd levels carry links and every level
  plain text, so a level's link density depends on the levels below it;
* `empty_chain(d)`: a chain without text above its bottom and an empty
  side element at every level.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench"))

from gen_input import deep_page  # noqa: E402

SENTENCE = ("A sentence with words, commas, and enough length to be scored, "
            "as the algorithm counts, both, characters and commas.")


def _page(title: str, body: str) -> str:
    return (f"<html><head><title>{title}</title></head><body>{body}"
            "</body></html>")


def _side(i: int) -> str:
    """The side branch at level i: one of twelve kinds, chosen by i."""
    k = i % 12
    if k == 0:
        return f"<p>{SENTENCE} Level {i}.</p>"
    if k == 1:
        return f'<div class="comment"><a href="/c{i}">reply {i}</a></div>'
    if k == 2:
        return f'<div><img src="/i{i}.png"/><img src="/j{i}.png"/><p>cap {i}</p></div>'
    if k == 3:
        return f'<form><input name="q{i}"/><input name="r{i}"/> search {i}</form>'
    if k == 4:
        return (f'<div><iframe src="https://www.youtube.com/embed/{i}"></iframe>'
                f"<p>{SENTENCE}</p></div>")
    if k == 5:
        return f'<div><embed src="/e{i}.swf"/><object data="/o{i}"></object> x</div>'
    if k == 6:
        return ("<ul>" + "".join(f"<li>item {i}.{j}, more</li>" for j in range(3))
                + "</ul>")
    if k == 7:
        return f'<div class="article-content"><p>{SENTENCE} {SENTENCE}</p></div>'
    if k == 8:
        return f'<figure><img src="/f{i}.png"/><figcaption>fig {i}</figcaption></figure>'
    if k == 9:
        return f'<div class="share social">share {i}</div>'
    if k == 10:
        return f"<div>   <br/>  <hr/> </div><h2>Heading {i}</h2>"
    return (f'<table><tr><th>h</th></tr><tr><td>{SENTENCE}</td></tr></table>'
            f"<p>tail {i}, with, commas, so, many, commas, here, and, there, "
            "eleven, twelve</p>")


def _article(title: str, chain: str) -> str:
    """A page whose article holds six paragraphs and, beside them, `chain`:
    the chain lands inside the extracted content, where the cleaning
    phases run over every level of it."""
    return _page(title, '<div id="article">' + f"<p>{SENTENCE}</p>" * 6 + chain
                 + "</div>")


def side_branch_chain(depth: int) -> str:
    body = "".join(f'<div id="l{i}">{_side(i)}' for i in range(depth))
    return _article(f"Side branches {depth}", body + "</div>" * depth)


def nested_tables(depth: int) -> str:
    parts = []
    for i in range(depth):
        k = i % 4
        attrs = ("", ' summary="s"', ' role="presentation"', ' class="data"')[k]
        head = "<tr><th>col</th></tr>" if k == 3 else ""
        parts.append(f"<table{attrs}>{head}<tr><td>cell {i}, {SENTENCE}"
                     f'<div class="sidebar"><a href="/t{i}">see {i}</a></div></td><td>')
    return _article(f"Nested tables {depth}",
                     "".join(parts) + "</td></tr></table>" * depth)


def nested_lists(depth: int) -> str:
    parts = []
    for i in range(depth):
        tag = "ul" if i % 2 == 0 else "ol"
        parts.append(f'<{tag}><li>entry {i}, <a href="/l{i}">link</a> and text'
                     f"</li><li>")
    closes = "".join(f"</li></{'ul' if i % 2 == 0 else 'ol'}>"
                     for i in reversed(range(depth)))
    return _article(f"Nested lists {depth}", "".join(parts) + closes)


def anchor_chain(depth: int) -> str:
    parts = []
    for i in range(depth):
        # Links only on odd levels: an even level's own region has none, so
        # its link density comes from the levels below it.
        links = "".join(f'<a href="/a{i}-{j}">anchor {j}</a> '
                        for j in range(1 + i % 3)) if i % 2 else ""
        parts.append(f'<div class="{("", "nav", "post")[i % 3]}">{links}'
                     f"plain words {i} and more{', x' * (i % 4)}")
    return _article(f"Anchor chain {depth}", "".join(parts) + "</div>" * depth)


def empty_chain(depth: int) -> str:
    """A chain with no text until its bottom and an empty side element at
    every level (empty, whitespace-only, BR/HR-only, or a BR/HR beside
    an element): past a few hundred nodes, the empty-block drop switches
    from subtree scans to whole-document facts."""
    sides = ("<div></div>", "<div> <span>  </span> </div>", "<div><br/><hr/></div>",
             "<h2> </h2>", "<section><hr/><p> </p></section>", "<header><br/></header>")
    body = "".join(f"<div>{sides[i % len(sides)]}" for i in range(depth))
    return _article(f"Empty chain {depth}",
                    body + f"<p>{SENTENCE}</p>" + "</div>" * depth)


def shapes() -> dict[str, str]:
    """name -> HTML for every generated shape the kernel is checked on."""
    out = {f"deep_page({d})": deep_page(d) for d in (50, 400, 1200, 3000)}
    for d in (40, 300):
        out[f"side_branch_chain({d})"] = side_branch_chain(d)
        out[f"nested_tables({d})"] = nested_tables(d)
        out[f"nested_lists({d})"] = nested_lists(d)
        out[f"anchor_chain({d})"] = anchor_chain(d)
        out[f"empty_chain({d})"] = empty_chain(d)
    return out
