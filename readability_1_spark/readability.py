"""Main-content extraction algorithm, matching /root/reference/Readability.js
stage-for-stage (per-turn output equality is the contract, verified against
goldens generated from the reference itself).

Fork-specific quirks intentionally reproduced (SURVEY.md §2.9):
* `_markDataTables` reads the undefined `sz.cols` (Readability.js:1976-1984),
  so only the rows>=10 branch can mark a table as data by size;
* `_getAllNodesWithTag` concatenates per-tag lists in tag-argument order, not
  document order (Readability.js:397-411), and `_removeNodes` iterates
  backwards (Readability.js:305-316);
* the `el.tagName === "object"` comparisons in `_clean`/`_cleanConditionally`
  (Readability.js:1842, 2110) never match because tagName is uppercase — the
  innerHTML video check is dead code (kept in `_clean`, left out of
  `_clean_conditionally`, whose embed facts are counted in one walk);
* JS float64 arithmetic (division by zero → Infinity/NaN) in the h2-vs-title
  ratio (Readability.js:750-762).
"""

from __future__ import annotations

import math

import re as _re

from . import regexps as R
from .dom import (
    Document,
    Element,
    Node,
    ParseFatal,
    Text,
    has_descendant_tag,
)
from .jsquirks import JS_WS, WS as _WS
from .jsquirks import js_div, js_split_ws, js_trim, word_count
from .whatwg_url import url_resolve

_WS_ANY_RE = _re.compile(_WS)

FLAG_STRIP_UNLIKELYS = 0x1
FLAG_WEIGHT_CLASSES = 0x2
FLAG_CLEAN_CONDITIONALLY = 0x4

ELEMENT_NODE = 1
TEXT_NODE = 3

DEFAULT_MAX_ELEMS_TO_PARSE = 0
DEFAULT_N_TOP_CANDIDATES = 5
DEFAULT_CHAR_THRESHOLD = 500

# Readability.js:174-184
DEFAULT_TAGS_TO_SCORE = frozenset(
    ("SECTION", "H2", "H3", "H4", "H5", "H6", "P", "TD", "PRE")
)
# Readability.js:207-219
DIV_TO_P_ELEMS = frozenset(
    ("A", "BLOCKQUOTE", "DL", "DIV", "IMG", "OL", "P", "PRE", "TABLE", "UL", "SELECT")
)
# Readability.js:220
ALTER_TO_DIV_EXCEPTIONS = ("DIV", "ARTICLE", "SECTION", "P")
# Readability.js:221-234
PRESENTATIONAL_ATTRIBUTES = (
    "align", "background", "bgcolor", "border", "cellpadding", "cellspacing",
    "frame", "hspace", "rules", "style", "valign", "vspace",
)
# Readability.js:235
DEPRECATED_SIZE_ATTRIBUTE_ELEMS = ("TABLE", "TH", "TD", "HR", "PRE")
PRESENTATIONAL_ATTRS_SET = frozenset(PRESENTATIONAL_ATTRIBUTES)
PRESENTATIONAL_PLUS_SIZE_SET = PRESENTATIONAL_ATTRS_SET | {"width", "height"}
# Readability.js:1621-1662 switch (CANVAS/IFRAME/SVG/VIDEO intentionally absent)
PHRASING_ELEMS = frozenset(
    (
        "ABBR", "AUDIO", "B", "BDO", "BR", "BUTTON", "CITE", "CODE", "DATA",
        "DATALIST", "DFN", "EM", "EMBED", "I", "IMG", "INPUT", "KBD", "LABEL",
        "MARK", "MATH", "METER", "NOSCRIPT", "OBJECT", "OUTPUT", "PROGRESS",
        "Q", "RUBY", "SAMP", "SCRIPT", "SELECT", "SMALL", "SPAN", "STRONG",
        "SUB", "SUP", "TEXTAREA", "TIME", "VAR", "WBR",
    )
)
# Readability.js:281
CLASSES_TO_PRESERVE = ("page",)

# Early-exit walk tag sets (uppercase tagName membership).
_BR_HR = frozenset(("BR", "HR"))
_MEDIA_TAGS = frozenset(("IMG", "EMBED", "OBJECT", "IFRAME"))
_DATA_TABLE_DESCENDANTS = frozenset(("COL", "COLGROUP", "TFOOT", "THEAD", "TH"))
_TABLE_ONLY = frozenset(("TABLE",))
_IMG_PICTURE = frozenset(("IMG", "PICTURE"))


# The tags `_grab_article` drops when they are without content.
_CONTENT_CHECKED = frozenset(
    ("DIV", "SECTION", "HEADER", "H1", "H2", "H3", "H4", "H5", "H6")
)


def _elements_without_content(root: Node) -> set:
    """The `_CONTENT_CHECKED` elements under `root` (itself included) for
    which `Readability._is_element_without_content` holds, from one
    bottom-up pass: no non-whitespace text below, and no children or only
    BR/HR descendants as children."""
    out: set = set()

    def rec(el) -> tuple[bool, int]:
        # (any non-whitespace text below, BR/HR descendants)
        has_text = False
        n_br_hr = 0
        for child in el.childNodes:
            if child.node_type == TEXT_NODE:
                if not has_text and child.textContent.strip(JS_WS):
                    has_text = True
            else:
                child_text, child_br_hr = rec(child)
                has_text = has_text or child_text
                n_br_hr += child_br_hr + (child.tagName in _BR_HR)
        if not has_text and el.tagName in _CONTENT_CHECKED:
            n_children = len(el.children)
            if n_children == 0 or n_children == n_br_hr:
                out.add(el)
        return has_text, n_br_hr

    rec(root)
    return out


# `_CandidateFacts` count slots: tagName -> index in a candidate's counts.
_COUNTED_TAGS = {"P": 0, "IMG": 1, "LI": 2, "INPUT": 3,
                 "OBJECT": 4, "EMBED": 4, "IFRAME": 4}


class _CandidateFacts:
    """One pre-order walk of `root` for a `_clean_conditionally` phase.

    `nodes` are the elements tagged `tag` below `root` in document order
    (== `getElementsByTagName`); for candidate i, `parents[i]` is the
    index of its nearest candidate ancestor (-1 for none),
    `in_data_table[i]` whether an ancestor is a data table, and
    `counts[i]` / `anchors[i]` hold its own region's [P, IMG, LI, INPUT,
    object/embed/iframe, those with a video attribute] counts and <a>
    elements.  `tag` must not be one of the counted tags or A."""

    __slots__ = ("nodes", "parents", "in_data_table", "counts", "anchors")

    def __init__(self, root: Element, tag: str):
        nodes: list[Element] = []
        parents: list[int] = []
        in_data_table: list[bool] = []
        counts: list[list[int]] = []
        anchors: list[list[Element]] = []
        in_dt = False
        cur: Node | None = root
        while cur is not None:
            if cur.tagName == "TABLE" and cur._readabilityDataTable:
                in_dt = True
                break
            cur = cur.parentNode
        counted = _COUNTED_TAGS.get

        def rec(children, owner: int, in_dt: bool) -> None:
            for el in children:
                t = el.tagName
                kids = el.children
                if t == tag:
                    i = len(nodes)
                    nodes.append(el)
                    parents.append(owner)
                    in_data_table.append(in_dt)
                    counts.append([0, 0, 0, 0, 0, 0])
                    anchors.append([])
                    if kids:
                        rec(kids, i, in_dt or (t == "TABLE" and bool(el._readabilityDataTable)))
                    continue
                if owner >= 0:
                    k = counted(t)
                    if k is not None:
                        own = counts[owner]
                        own[k] += 1
                        if k == 4 and any(R.VIDEOS.search(a.value) for a in el.attributes):
                            own[5] += 1
                    elif t == "A":
                        anchors[owner].append(el)
                if kids:
                    rec(kids, owner, in_dt or (t == "TABLE" and bool(el._readabilityDataTable)))

        rec(root.children, -1, in_dt)
        self.nodes = nodes
        self.parents = parents
        self.in_data_table = in_data_table
        self.counts = counts
        self.anchors = anchors


class NoDocumentError(Exception):
    """Readability.js:101-104 — constructor throw when doc.documentElement
    is missing (e.g. an HTML fragment without an <html> element)."""


class TooManyElemsError(Exception):
    """Readability.js:2213-2219 — maxElemsToParse guard."""


_URI_CACHE: dict[tuple[str, str | None], str] = {}


def to_absolute_uri(doc: Document, uri: str) -> str:
    # Readability.js:42-54.  url_resolve is a pure function and pages repeat
    # hrefs heavily (nav/share links), so memoize per (uri, base).
    base_uri = doc.baseURI
    if base_uri == doc.documentURI and uri[:1] == "#":
        return uri
    key = (uri, base_uri)
    cached = _URI_CACHE.get(key)
    if cached is None:
        try:
            cached = url_resolve(uri, base_uri)
        except Exception:
            cached = uri
        if len(_URI_CACHE) > 50000:
            _URI_CACHE.clear()
        _URI_CACHE[key] = cached
    return cached


def is_data_table(node: Element) -> bool:
    # Readability.js:34-36
    return bool(node._readabilityDataTable)


class Readability:
    def __init__(self, doc: Document, opts: dict | None = None):
        # Readability.js:84-159
        if doc is None or doc.documentElement is None:
            raise NoDocumentError(
                "First argument to Readability constructor should be a document object."
            )
        opts = opts or {}
        self._doc = doc
        # Readability.js:112-119 — debug is log-only: it never changes the
        # extraction output, only emits trace lines.  Accepted for API
        # parity; messages go to stderr (stdout stays clean for kernels).
        self._debug = bool(opts.get("debug"))
        self._attempts: list[dict] = []
        # The elements `_grab_article`'s current attempt drops as empty.
        self._without_content: set = set()
        self._article_dir: str | None = None
        self._article_title: str | None = None
        self._article_byline: str | None = None
        self._article_site_name: str | None = None
        self._max_elems_to_parse = opts.get("maxElemsToParse") or DEFAULT_MAX_ELEMS_TO_PARSE
        self._nb_top_candidates = opts.get("nbTopCandidates") or DEFAULT_N_TOP_CANDIDATES
        self._char_threshold = opts.get("charThreshold") or DEFAULT_CHAR_THRESHOLD
        self._keep_classes = bool(opts.get("keepClasses"))
        self._classes_to_preserve = list(CLASSES_TO_PRESERVE) + list(
            opts.get("classesToPreserve") or []
        )
        self._flags = FLAG_STRIP_UNLIKELYS | FLAG_WEIGHT_CLASSES | FLAG_CLEAN_CONDITIONALLY
        # per-turn metrics for the pipeline's metrics table (not part of
        # reference behavior; collected passively)
        self.metrics: dict = {"attempts": 0, "candidate_count": 0, "top_score": 0.0,
                              "prune_counts": {}}

    # ----- generic helpers -------------------------------------------------
    def log(self, *args) -> None:
        """Readability.js:162-180 — no-op unless opts.debug."""
        if self._debug:
            import sys

            print("Reader:", *args, file=sys.stderr)

    def _flag_is_active(self, flag: int) -> bool:
        return (self._flags & flag) > 0

    def _remove_flag(self, flag: int) -> None:
        self._flags &= ~flag

    def _get_all_nodes_with_tag(self, node, tag_names: list[str]) -> list[Element]:
        # Readability.js:397-411 — per-tag concatenation in argument order.
        # One pre-order walk bucketed by tag instead of one full subtree walk
        # per tag name: identical output (each bucket is the pre-order
        # sequence for its tag), linear instead of len(tag_names)× cost.
        if len(tag_names) == 1:
            return node.getElementsByTagName(tag_names[0])
        buckets: dict[str, list[Element]] = {}
        for tag in tag_names:
            up = tag.upper()
            if up == "*" or up in buckets:
                # '*' or duplicate tag names: keep the reference's exact
                # per-tag concatenation semantics via separate walks.
                out: list[Element] = []
                for t in tag_names:
                    out.extend(node.getElementsByTagName(t))
                return out
            buckets[up] = []
        get = buckets.get

        def rec(children):
            for child in children:
                b = get(child.tagName)
                if b is not None:
                    b.append(child)
                kids = child.children
                if kids:
                    rec(kids)

        rec(node.children)
        out = []
        for tag in tag_names:
            out.extend(buckets[tag.upper()])
        return out

    def _remove_nodes(self, node_list: list[Element], filter_fn=None) -> None:
        # Readability.js:305-316 — backwards iteration, parentNode check.
        for i in range(len(node_list) - 1, -1, -1):
            node = node_list[i]
            if node.parentNode is not None and (
                filter_fn is None or filter_fn(node, i, node_list)
            ):
                node.parentNode.removeChild(node)

    def _replace_node_tags(self, node_list: list[Element], new_tag: str) -> None:
        # Readability.js:325-334
        for node in reversed(node_list):
            self._set_node_tag(node, new_tag)

    def _set_node_tag(self, node: Element, tag: str) -> Element:
        # Readability.js:661-697 (JSDOMParser fast path: rename in place).
        node.localName = tag.lower()
        node.tagName = tag.upper()
        # A rename leaves text intact but could change an ancestor's anchor
        # set if it ever involved <a> (none do today): clear link-density
        # caches up the chain defensively.
        cur = node
        while cur is not None:
            cur._ld_cache = None
            cur = cur.parentNode
        return node

    def _get_inner_text(self, e: Node, normalize_spaces: bool = True) -> str:
        # Readability.js:1716-1723.  The normalized form is cached on the
        # node (invalidated with the textContent cache on any mutation):
        # scoring/link-density loops re-read the same unchanged nodes.
        if normalize_spaces:
            cached = e._tc_norm
            if cached is not None:
                return cached
            text = R.NORMALIZE.sub(" ", js_trim(e.textContent))
            e._tc_norm = text
            return text
        return js_trim(e.textContent)

    def _get_char_count(self, e: Element, s: str = ",") -> int:
        # Readability.js:1731-1734 (split(s).length - 1 == occurrences of s)
        return self._get_inner_text(e).count(s)

    def _get_link_density(self, el: Element) -> float:
        # Readability.js:1770-1781.  Cached per node: the value depends only
        # on the subtree's text and anchor set, both of which invalidate the
        # node's cache slot via the ancestor-walking mutation invalidation
        # (tag renames never touch <a>, and would not change the result
        # anyway since they rename the walked node, not its anchor set).
        cached = el._ld_cache
        if cached is not None:
            return cached
        text_length = len(self._get_inner_text(el))
        if text_length == 0:
            density = 0.0
        else:
            link_length = 0
            for link_node in el.getElementsByTagName("a"):
                link_length += len(self._get_inner_text(link_node))
            density = link_length / text_length
        el._ld_cache = density
        return density

    @staticmethod
    def _class_and_id(e: Element) -> tuple[str, str]:
        """One backward attribute pass for (className, id) — last duplicate
        wins, same as two getAttribute calls."""
        klass = id_ = None
        for attr in reversed(e.attributes):
            name = attr.name
            if name == "class":
                if klass is None:
                    klass = attr.value
            elif name == "id":
                if id_ is None:
                    id_ = attr.value
        return klass or "", id_ or ""

    def _get_class_weight(self, e: Element) -> int:
        # Readability.js:1789-1809
        if not self._flag_is_active(FLAG_WEIGHT_CLASSES):
            return 0
        weight = 0
        c_n, id_ = self._class_and_id(e)
        if c_n != "":
            if R.NEGATIVE.search(c_n):
                weight -= 25
            if R.POSITIVE.search(c_n):
                weight += 25
        if id_ != "":
            if R.NEGATIVE.search(id_):
                weight -= 25
            if R.POSITIVE.search(id_):
                weight += 25
        return weight

    def _get_next_node(self, node: Element, ignore_self_and_kids: bool = False):
        # Readability.js:888-902 — depth-first, elements only.
        if not ignore_self_and_kids and node.firstElementChild is not None:
            return node.firstElementChild
        if node.nextElementSibling is not None:
            return node.nextElementSibling
        while True:
            node = node.parentNode
            if node is None or node.nextElementSibling is not None:
                break
        return node.nextElementSibling if node is not None else None

    def _remove_and_get_next(self, node: Element):
        # Readability.js:874-879
        next_node = self._get_next_node(node, True)
        node.parentNode.removeChild(node)
        return next_node

    def _get_node_ancestors(self, node: Node, max_depth: int = 0) -> list[Node]:
        # Readability.js:927-939
        has_max = bool(max_depth)
        ancestors: list[Node] = []
        i = 0
        while node.parentNode is not None:
            ancestors.append(node.parentNode)
            i += 1
            if has_max and i == max_depth:
                return ancestors
            node = node.parentNode
        return ancestors

    def _has_ancestor_tag(self, node: Node, tag_name: str, max_depth: int = 0,
                          filter_fn=None) -> bool:
        # Readability.js:1859-1878
        tag_name = tag_name.upper()
        if not max_depth:
            max_depth = 3
        depth = 0
        has_max = max_depth > 0
        while node.parentNode is not None:
            if has_max and depth > max_depth:
                return False
            parent = node.parentNode
            if parent.tagName == tag_name and (filter_fn is None or filter_fn(parent)):
                return True
            node = parent
            depth += 1
        return False

    def _is_probably_visible(self, node: Element) -> bool:
        # Readability.js:2174-2188 — one backward pass over the attribute
        # list (backward-first hit = last duplicate = getAttribute; presence
        # flags = hasAttribute), then the shared predicate.
        style = c_n = aria = None
        has_hidden = has_aria = False
        if node.node_type == ELEMENT_NODE:
            for attr in reversed(node.attributes):
                name = attr.name
                if name == "style":
                    if style is None:
                        style = attr.value
                elif name == "class":
                    if c_n is None:
                        c_n = attr.value
                elif name == "hidden":
                    has_hidden = True
                elif name == "aria-hidden":
                    has_aria = True
                    if aria is None:
                        aria = attr.value
        return self._visible_from(style, c_n or "", has_hidden, has_aria, aria)

    @staticmethod
    def _visible_from(style, c_n, has_hidden, has_aria, aria) -> bool:
        # Readability.js:2174-2188 with pre-scanned attribute values.
        display = None
        if style:
            for decl in style.split(";"):
                parts = decl.split(":")
                if js_trim(parts[0]) == "display":
                    if len(parts) < 2:
                        raise ParseFatal("style declaration without value")
                    display = js_trim(parts[1])
                    break
        return (
            display != "none"
            and not has_hidden
            and (
                not has_aria
                or aria != "true"
                or (bool(c_n) and "fallback-image" in c_n)
            )
        )

    def _check_byline_scanned(self, node: Element, match_string: str,
                              rel, itemprop) -> bool:
        # Readability.js:903-926 with pre-scanned rel/itemprop.
        if self._article_byline:
            return False
        if (
            rel == "author"
            or (itemprop is not None and "author" in itemprop)
            or (match_string != " " and R.BYLINE.search(match_string))
        ) and self._is_valid_byline(node.textContent):
            self._article_byline = js_trim(node.textContent)
            return True
        return False

    def _is_valid_byline(self, byline) -> bool:
        # Readability.js:1473-1477
        if not isinstance(byline, str):
            return False
        byline = js_trim(byline)
        return 0 < len(byline) < 100

    def _check_byline(self, node: Element, match_string: str) -> bool:
        # Readability.js:903-926 — stateful first-match in document order.
        return self._check_byline_scanned(
            node, match_string, node.getAttribute("rel"),
            node.getAttribute("itemprop"),
        )

    def _is_whitespace(self, node: Node) -> bool:
        # Readability.js:1693-1707
        if node.node_type == TEXT_NODE:
            return len(js_trim(node.textContent)) == 0
        if node.node_type == ELEMENT_NODE:
            return node.tagName == "BR"
        return False

    def _is_phrasing_content(self, node: Node) -> bool:
        # Readability.js:1613-1692
        if node.node_type == TEXT_NODE:
            return True
        tag = node.tagName
        if tag in PHRASING_ELEMS:
            return True
        if tag in ("A", "DEL", "INS"):
            return all(self._is_phrasing_content(c) for c in node.childNodes)
        return False

    def _has_child_block_element(self, element: Node) -> bool:
        # Readability.js:1600-1607
        return any(
            (node.tagName in DIV_TO_P_ELEMS) or self._has_child_block_element(node)
            for node in element.childNodes
        )

    def _has_single_tag_inside_element(self, el: Element, tag: str) -> bool:
        # Readability.js:1568-1578
        if len(el.children) != 1 or el.children[0].tagName != tag:
            return False
        return not any(
            node.node_type == TEXT_NODE and R.HAS_CONTENT.search(node.textContent)
            for node in el.childNodes
        )

    def _is_element_without_content(self, node: Element) -> bool:
        # Readability.js:1579-1594, read from the facts `_grab_article`
        # builds in one bottom-up pass per attempt.  They stay exact for the
        # whole walk: it only mutates nodes it has already visited, and a
        # node's subtree comes after it.
        return node in self._without_content

    # ----- title & metadata -------------------------------------------------
    def _get_article_title(self) -> str:
        # Readability.js:494-564
        doc = self._doc
        title = orig_title = js_trim(doc.title)
        title_had_hierarchical_separators = False

        if R.TITLE_SEPARATOR.search(title):
            title_had_hierarchical_separators = bool(R.TITLE_HIERARCHICAL_SEP.search(title))
            title = R.TITLE_CUT_END.sub(r"\1", orig_title)
            if word_count(title) < 3:
                title = R.TITLE_CUT_FRONT.sub(r"\1", orig_title)
        elif ": " in title:
            headings = self._get_all_nodes_with_tag(doc, ["h1", "h2"])
            trimmed_title = js_trim(title)
            match = any(
                js_trim(heading.textContent) == trimmed_title for heading in headings
            )
            if not match:
                title = orig_title[orig_title.rfind(":") + 1 :]
                if word_count(title) < 3:
                    title = orig_title[orig_title.find(":") + 1 :]
                elif word_count(orig_title[: orig_title.find(":")]) > 5:
                    title = orig_title
        elif len(title) > 150 or len(title) < 15:
            h_ones = doc.getElementsByTagName("h1")
            if len(h_ones) == 1:
                title = self._get_inner_text(h_ones[0])

        title = R.NORMALIZE.sub(" ", js_trim(title))
        title_word_count = word_count(title)
        if title_word_count <= 4 and (
            not title_had_hierarchical_separators
            or title_word_count != word_count(R.TITLE_ANY_SEP.sub("", orig_title)) - 1
        ):
            title = orig_title
        return title

    def _get_article_metadata(self) -> dict:
        # Readability.js:1484-1541
        values: dict[str, str] = {}
        meta_els = self._doc.getElementsByTagName("meta")
        ws_any = _WS_ANY_RE

        for el in meta_els:
            content = el.getAttribute("content")
            if not content:
                continue
            el_prop = el.getAttribute("property")
            matches = None
            if el_prop:
                matches = [m.group(0) for m in R.META_PROPERTY.finditer(el_prop)]
                # JS iterates matches backwards so the FIRST match wins.
                for m in reversed(matches):
                    values[ws_any.sub("", m.lower())] = js_trim(content)
            if content and not matches:
                name = el.getAttribute("name")
                if name and R.META_NAME.search(name):
                    key = ws_any.sub("", name.lower()).replace(".", ":")
                    values[key] = js_trim(content)

        title = (
            values.get("dc:title")
            or values.get("dcterm:title")
            or values.get("og:title")
            or values.get("weibo:article:title")
            or values.get("weibo:webpage:title")
            or values.get("title")
            or values.get("twitter:title")
            or self._get_article_title()
        )
        return {
            "title": title,
            "byline": values.get("dc:creator") or values.get("dcterm:creator")
            or values.get("author"),
            "excerpt": values.get("dc:description")
            or values.get("dcterm:description")
            or values.get("og:description")
            or values.get("weibo:article:description")
            or values.get("weibo:webpage:description")
            or values.get("description")
            or values.get("twitter:description"),
            "siteName": values.get("og:site_name"),
        }

    # ----- document prep -----------------------------------------------------
    def _remove_scripts(self, doc: Document) -> None:
        # Readability.js:1548-1558
        def _kill(script_node: Element, i, lst) -> bool:
            script_node.removeAttribute("src")
            return True

        self._remove_nodes(self._get_all_nodes_with_tag(doc, ["script"]), _kill)
        self._remove_nodes(self._get_all_nodes_with_tag(doc, ["noscript"]))

    def _prep_document(self) -> None:
        # Readability.js:572-581
        doc = self._doc
        self._remove_nodes(self._get_all_nodes_with_tag(doc, ["style"]))
        if doc.body is not None:
            self._replace_brs(doc.body)
        self._replace_node_tags(self._get_all_nodes_with_tag(doc, ["font"]), "SPAN")

    def _next_element(self, node):
        # Readability.js:588-601
        while (
            node is not None
            and node.node_type != ELEMENT_NODE
            and R.WHITESPACE.search(node.textContent)
        ):
            node = node.nextSibling
        return node

    def _replace_brs(self, el: Element) -> None:
        # Readability.js:610-660
        for br in self._get_all_nodes_with_tag(el, ["br"]):
            nxt = br.nextSibling
            replaced = False
            while True:
                nxt = self._next_element(nxt)
                if nxt is None or nxt.tagName != "BR":
                    break
                replaced = True
                br_sibling = nxt.nextSibling
                nxt.parentNode.removeChild(nxt)
                nxt = br_sibling
            if replaced:
                p = self._doc.createElement("p")
                br.parentNode.replaceChild(p, br)
                nxt = p.nextSibling
                while nxt is not None:
                    if nxt.tagName == "BR":
                        next_el = self._next_element(nxt.nextSibling)
                        if next_el is not None and next_el.tagName == "BR":
                            break
                    if not self._is_phrasing_content(nxt):
                        break
                    sibling = nxt.nextSibling
                    p.appendChild(nxt)
                    nxt = sibling
                while p.lastChild is not None and self._is_whitespace(p.lastChild):
                    p.removeChild(p.lastChild)
                if p.parentNode.tagName == "P":
                    self._set_node_tag(p.parentNode, "DIV")

    # ----- grab article --------------------------------------------------------
    def _initialize_node(self, node: Element) -> None:
        # Readability.js:829-873
        content_score = 0
        tag = node.tagName
        if tag == "DIV":
            content_score += 5
        elif tag in ("PRE", "TD", "BLOCKQUOTE"):
            content_score += 3
        elif tag in ("ADDRESS", "OL", "UL", "DL", "DD", "DT", "LI", "FORM"):
            content_score -= 3
        elif tag in ("H1", "H2", "H3", "H4", "H5", "H6", "TH"):
            content_score -= 5
        node.readability = {"contentScore": float(content_score + self._get_class_weight(node))}

    def _grab_article(self, page: Element | None = None):
        # Readability.js:948-1463
        doc = self._doc
        is_paging = page is not None
        page = page if page is not None else doc.body
        if page is None:
            return None
        page_cache_html = page.innerHTML

        while True:
            strip_unlikely = self._flag_is_active(FLAG_STRIP_UNLIKELYS)
            self._without_content = _elements_without_content(doc)
            elements_to_score: list[Element] = []
            node = doc.documentElement

            while node is not None:
                # ONE backward attribute pass per node feeds the visibility
                # check, the byline check, and the match string (previously
                # three separate scans); backward-first hit = last duplicate
                # = getAttribute, presence flags = hasAttribute.
                klass = id_ = style = aria = rel = itemprop = None
                has_hidden = has_aria = False
                for attr in reversed(node.attributes):
                    a_name = attr.name
                    if a_name == "class":
                        if klass is None:
                            klass = attr.value
                    elif a_name == "id":
                        if id_ is None:
                            id_ = attr.value
                    elif a_name == "style":
                        if style is None:
                            style = attr.value
                    elif a_name == "hidden":
                        has_hidden = True
                    elif a_name == "aria-hidden":
                        has_aria = True
                        if aria is None:
                            aria = attr.value
                    elif a_name == "rel":
                        if rel is None:
                            rel = attr.value
                    elif a_name == "itemprop":
                        if itemprop is None:
                            itemprop = attr.value
                match_string = (klass or "") + " " + (id_ or "")

                if not self._visible_from(style, klass or "", has_hidden,
                                          has_aria, aria):
                    node = self._remove_and_get_next(node)
                    continue

                if self._check_byline_scanned(node, match_string, rel, itemprop):
                    node = self._remove_and_get_next(node)
                    continue

                if strip_unlikely and node.tagName not in ("BODY", "A"):
                    # match_string == " " (no class, no id) cannot match any
                    # of these patterns; skip the regex calls.
                    if (
                        match_string != " "
                        and R.UNLIKELY_CANDIDATES.search(match_string)
                        and not R.OK_MAYBE_ITS_A_CANDIDATE.search(match_string)
                        and not self._has_ancestor_tag(node, "table")
                    ):
                        node = self._remove_and_get_next(node)
                        continue

                if self._is_element_without_content(node):
                    node = self._remove_and_get_next(node)
                    continue

                if node.tagName in DEFAULT_TAGS_TO_SCORE:
                    elements_to_score.append(node)

                if node.tagName == "DIV":
                    # Put phrasing content into paragraphs
                    # (Readability.js:1033-1057).
                    p = None
                    child_node = node.firstChild
                    while child_node is not None:
                        next_sibling = child_node.nextSibling
                        if self._is_phrasing_content(child_node):
                            if p is not None:
                                p.appendChild(child_node)
                            elif not self._is_whitespace(child_node):
                                p = doc.createElement("p")
                                node.replaceChild(p, child_node)
                                p.appendChild(child_node)
                        elif p is not None:
                            while p.lastChild is not None and self._is_whitespace(p.lastChild):
                                p.removeChild(p.lastChild)
                            p = None
                        child_node = next_sibling

                    if (
                        self._has_single_tag_inside_element(node, "P")
                        and self._get_link_density(node) < 0.25
                    ):
                        new_node = node.children[0]
                        node.parentNode.replaceChild(new_node, node)
                        node = new_node
                        elements_to_score.append(node)
                    elif not self._has_child_block_element(node):
                        node = self._set_node_tag(node, "P")
                        elements_to_score.append(node)

                node = self._get_next_node(node)

            # Score paragraphs and propagate to ancestors
            # (Readability.js:1086-1127).
            candidates: list[Element] = []
            for el_to_score in elements_to_score:
                parent = el_to_score.parentNode
                if parent is None or parent.tagName is None:
                    continue
                inner_text = self._get_inner_text(el_to_score)
                if len(inner_text) < 25:
                    continue
                ancestors = self._get_node_ancestors(el_to_score, 3)
                if not ancestors:
                    continue
                content_score = 0.0
                content_score += 1
                content_score += len(inner_text.split(","))
                content_score += min(len(inner_text) // 100, 3)
                for level, ancestor in enumerate(ancestors):
                    if (
                        ancestor.tagName is None
                        or ancestor.parentNode is None
                        or ancestor.parentNode.tagName is None
                    ):
                        continue
                    if ancestor.readability is None:
                        self._initialize_node(ancestor)
                        candidates.append(ancestor)
                    score_divider = 1 if level == 0 else (2 if level == 1 else level * 3)
                    ancestor.readability["contentScore"] += content_score / score_divider

            # Top-candidate bounded insertion sort (Readability.js:1131-1158).
            top_cands: list[Element] = []
            for candidate in candidates:
                cand_score = candidate.readability["contentScore"] * (
                    1 - self._get_link_density(candidate)
                )
                candidate.readability["contentScore"] = cand_score
                for tc in range(self._nb_top_candidates):
                    a_top = top_cands[tc] if tc < len(top_cands) else None
                    if a_top is None or cand_score > a_top.readability["contentScore"]:
                        top_cands.insert(tc, candidate)
                        if len(top_cands) > self._nb_top_candidates:
                            top_cands.pop()
                        break

            self.metrics["candidate_count"] = len(candidates)

            top_candidate = top_cands[0] if top_cands else None
            needed_to_create_top_candidate = False
            parent_of_top_candidate = None

            if top_candidate is None or top_candidate.tagName == "BODY":
                # Readability.js:1165-1180
                top_candidate = doc.createElement("DIV")
                needed_to_create_top_candidate = True
                kids = page.childNodes
                while kids:
                    top_candidate.appendChild(kids[0])
                page.appendChild(top_candidate)
                self._initialize_node(top_candidate)
            else:
                # Alternative-ancestor promotion (Readability.js:1185-1225).
                alt_cand_ancestors = []
                for i in range(1, len(top_cands)):
                    # js_div: a zero top score must yield Infinity/NaN, not
                    # raise (JS float64 semantics, Readability.js:1190-1192).
                    if (
                        js_div(
                            top_cands[i].readability["contentScore"],
                            top_candidate.readability["contentScore"],
                        )
                        >= 0.75
                    ):
                        alt_cand_ancestors.append(self._get_node_ancestors(top_cands[i]))
                MIN_TOPCAND = 3
                if len(alt_cand_ancestors) >= MIN_TOPCAND:
                    parent_of_top_candidate = top_candidate.parentNode
                    while parent_of_top_candidate.tagName != "BODY":
                        lists_containing = 0
                        for ancestor_list in alt_cand_ancestors:
                            if lists_containing >= MIN_TOPCAND:
                                break
                            lists_containing += int(
                                any(a is parent_of_top_candidate for a in ancestor_list)
                            )
                        if lists_containing >= MIN_TOPCAND:
                            top_candidate = parent_of_top_candidate
                            break
                        parent_of_top_candidate = parent_of_top_candidate.parentNode

                if top_candidate.readability is None:
                    self._initialize_node(top_candidate)

                # Parent walk-up (Readability.js:1235-1256).
                parent_of_top_candidate = top_candidate.parentNode
                last_score = top_candidate.readability["contentScore"]
                score_threshold = last_score / 3
                while parent_of_top_candidate.tagName != "BODY":
                    if parent_of_top_candidate.readability is None:
                        parent_of_top_candidate = parent_of_top_candidate.parentNode
                        continue
                    parent_score = parent_of_top_candidate.readability["contentScore"]
                    if parent_score < score_threshold:
                        break
                    if parent_score > last_score:
                        top_candidate = parent_of_top_candidate
                        break
                    last_score = parent_of_top_candidate.readability["contentScore"]
                    parent_of_top_candidate = parent_of_top_candidate.parentNode

                # Single-child hoist (Readability.js:1261-1269).
                parent_of_top_candidate = top_candidate.parentNode
                while (
                    parent_of_top_candidate.tagName != "BODY"
                    and len(parent_of_top_candidate.children) == 1
                ):
                    top_candidate = parent_of_top_candidate
                    parent_of_top_candidate = top_candidate.parentNode
                if top_candidate.readability is None:
                    self._initialize_node(top_candidate)

            self.metrics["top_score"] = float(top_candidate.readability["contentScore"])

            # Sibling aggregation (Readability.js:1276-1355).
            article_content = doc.createElement("DIV")
            if is_paging:
                article_content.id = "readability-content"
            sibling_score_threshold = max(
                10.0, top_candidate.readability["contentScore"] * 0.2
            )
            parent_of_top_candidate = top_candidate.parentNode
            siblings = parent_of_top_candidate.children  # live list
            s = 0
            sl = len(siblings)
            while s < sl:
                sibling = siblings[s]
                append = False
                if sibling is top_candidate:
                    append = True
                else:
                    content_bonus = 0.0
                    if (
                        sibling.className == top_candidate.className
                        and top_candidate.className != ""
                    ):
                        content_bonus += top_candidate.readability["contentScore"] * 0.2
                    if (
                        sibling.readability is not None
                        and sibling.readability["contentScore"] + content_bonus
                        >= sibling_score_threshold
                    ):
                        append = True
                    elif sibling.nodeName == "P":
                        link_density = self._get_link_density(sibling)
                        node_content = self._get_inner_text(sibling)
                        node_length = len(node_content)
                        if node_length > 80 and link_density < 0.25:
                            append = True
                        elif (
                            node_length < 80
                            and node_length > 0
                            and link_density == 0
                            and R.SENTENCE_DOT.search(node_content)
                        ):
                            append = True
                if append:
                    if sibling.nodeName not in ALTER_TO_DIV_EXCEPTIONS:
                        sibling = self._set_node_tag(sibling, "DIV")
                    article_content.appendChild(sibling)
                    s -= 1
                    sl -= 1
                s += 1

            self._prep_article(article_content)

            if needed_to_create_top_candidate:
                # Readability.js:1374-1382
                top_candidate.id = "readability-page-1"
                top_candidate.className = "page"
            else:
                div = doc.createElement("DIV")
                div.id = "readability-page-1"
                div.className = "page"
                children = article_content.childNodes
                while children:
                    div.appendChild(children[0])
                article_content.appendChild(div)

            # Threshold / flag-retry ladder (Readability.js:1404-1436).
            text_length = len(self._get_inner_text(article_content, True))
            if text_length < self._char_threshold:
                page.innerHTML = page_cache_html
                self._attempts.append(
                    {"articleContent": article_content, "textLength": text_length}
                )
                self.metrics["attempts"] += 1
                if self._flag_is_active(FLAG_STRIP_UNLIKELYS):
                    self._remove_flag(FLAG_STRIP_UNLIKELYS)
                    continue
                if self._flag_is_active(FLAG_WEIGHT_CLASSES):
                    self._remove_flag(FLAG_WEIGHT_CLASSES)
                    continue
                if self._flag_is_active(FLAG_CLEAN_CONDITIONALLY):
                    self._remove_flag(FLAG_CLEAN_CONDITIONALLY)
                    continue
                self._attempts.sort(key=lambda a: a["textLength"], reverse=True)
                if not self._attempts[0]["textLength"]:
                    return None
                article_content = self._attempts[0]["articleContent"]

            # Text direction (Readability.js:1439-1456).
            for ancestor_node in [parent_of_top_candidate, top_candidate] + (
                self._get_node_ancestors(parent_of_top_candidate)
            ):
                if ancestor_node.tagName:
                    article_dir = ancestor_node.getAttribute("dir")
                    if article_dir:
                        self._article_dir = article_dir
                        break

            self.metrics["attempts"] += 1
            return article_content

    # ----- article cleanup -----------------------------------------------------
    def _prep_article(self, content: Element) -> None:
        # Readability.js:705-820
        self._clean_styles(content)
        self._mark_data_tables(content)
        self._fix_lazy_images(content)
        self._clean_conditionally(content, "form")
        self._clean_conditionally(content, "fieldset")
        self._clean(content, "object")
        self._clean(content, "embed")
        self._clean(content, "h1")
        self._clean(content, "footer")
        self._clean(content, "link")
        self._clean(content, "aside")

        share_el_threshold = DEFAULT_CHAR_THRESHOLD
        for top_candidate in list(content.children):
            self._clean_matched_nodes(
                top_candidate,
                lambda node, match_str: bool(R.SHARE_ELEMENTS.search(match_str))
                and len(node.textContent) < share_el_threshold,
            )

        h2 = content.getElementsByTagName("h2")
        if len(h2) == 1:
            # JS float64 arithmetic: division by a zero-length title must not
            # raise (Readability.js:750-762).
            title_len = len(self._article_title or "")
            h2_len = len(h2[0].textContent)
            if title_len == 0:
                length_similar_rate = math.nan if h2_len == 0 else math.inf
            else:
                length_similar_rate = (h2_len - title_len) / title_len
            if abs(length_similar_rate) < 0.5:
                if length_similar_rate > 0:
                    titles_match = (self._article_title or "") in h2[0].textContent
                else:
                    titles_match = h2[0].textContent in (self._article_title or "")
                if titles_match:
                    self._clean(content, "h2")

        self._clean(content, "iframe")
        self._clean(content, "input")
        self._clean(content, "textarea")
        self._clean(content, "select")
        self._clean(content, "button")
        self._clean_headers(content)

        self._clean_conditionally(content, "table")
        self._clean_conditionally(content, "ul")
        self._clean_conditionally(content, "div")

        # Remove extra paragraphs (Readability.js:783-792).
        def _empty_para(para: Element, i, lst) -> bool:
            return not has_descendant_tag(para, _MEDIA_TAGS) and not (
                self._get_inner_text(para, False)
            )

        self._remove_nodes(self._get_all_nodes_with_tag(content, ["p"]), _empty_para)

        for br in self._get_all_nodes_with_tag(content, ["br"]):
            nxt = self._next_element(br.nextSibling)
            if nxt is not None and nxt.tagName == "P":
                br.parentNode.removeChild(br)

        # Remove single-cell tables (Readability.js:800-819).
        for table in self._get_all_nodes_with_tag(content, ["table"]):
            tbody = (
                table.firstElementChild
                if self._has_single_tag_inside_element(table, "TBODY")
                else table
            )
            if self._has_single_tag_inside_element(tbody, "TR"):
                row = tbody.firstElementChild
                if self._has_single_tag_inside_element(row, "TD"):
                    cell = row.firstElementChild
                    cell = self._set_node_tag(
                        cell,
                        "P"
                        if all(self._is_phrasing_content(c) for c in cell.childNodes)
                        else "DIV",
                    )
                    table.parentNode.replaceChild(cell, table)

    def _clean_styles(self, e: Element | None) -> None:
        # Readability.js:1742-1762.  Single pass per element instead of 12+
        # removeAttribute scans; with duplicate attribute names only the
        # LAST occurrence per name is removed, exactly like one JS
        # removeAttribute call per listed name.
        if e is None or e.tagName.lower() == "svg":
            return
        attrs = e.attributes
        if attrs:
            to_remove = PRESENTATIONAL_ATTRS_SET
            if e.tagName in DEPRECATED_SIZE_ATTRIBUTE_ELEMS:
                to_remove = PRESENTATIONAL_PLUS_SIZE_SET
            if any(a.name in to_remove for a in attrs):
                last_idx: dict[str, int] = {}
                for i, a in enumerate(attrs):
                    if a.name in to_remove:
                        last_idx[a.name] = i
                drop = set(last_idx.values())
                e.attributes = [a for i, a in enumerate(attrs) if i not in drop]
        cur = e.firstElementChild
        while cur is not None:
            self._clean_styles(cur)
            cur = cur.nextElementSibling

    def _clean(self, e: Element, tag: str) -> None:
        # Readability.js:1819-1848
        is_embed = tag in ("object", "embed", "iframe")

        def _filter(el: Element, i, lst) -> bool:
            if is_embed:
                for attr in el.attributes:
                    if R.VIDEOS.search(attr.value):
                        return False
                # tagName is uppercase so this comparison never matches —
                # dead code kept for parity (Readability.js:1842).
                if el.tagName == "object" and R.VIDEOS.search(el.innerHTML):
                    return False
            return True

        self._remove_nodes(self._get_all_nodes_with_tag(e, [tag]), _filter)

    def _clean_matched_nodes(self, e: Element, filter_fn) -> None:
        # Readability.js:2143-2153
        end_of_search_marker = self._get_next_node(e, True)
        nxt = self._get_next_node(e)
        while nxt is not None and nxt is not end_of_search_marker:
            if filter_fn(nxt, " ".join(self._class_and_id(nxt))):
                nxt = self._remove_and_get_next(nxt)
            else:
                nxt = self._get_next_node(nxt)

    def _clean_headers(self, e: Element) -> None:
        # Readability.js:2161-2167
        self._remove_nodes(
            self._get_all_nodes_with_tag(e, ["h1", "h2"]),
            lambda header, i, lst: self._get_class_weight(header) < 0,
        )

    def _get_row_and_column_count(self, table: Element) -> tuple[int, int]:
        # Readability.js:1883-1923
        from .jsquirks import js_parse_int

        rows = 0
        columns = 0
        for tr in table.getElementsByTagName("tr"):
            rowspan_attr = tr.getAttribute("rowspan")
            rowspan = 1
            if rowspan_attr:
                parsed = js_parse_int(rowspan_attr, 10)
                rowspan = int(parsed) if parsed == parsed and parsed else 1
            rows += rowspan
            cols_in_row = 0
            for cell in tr.getElementsByTagName("td"):
                colspan_attr = cell.getAttribute("colspan")
                colspan = 1
                if colspan_attr:
                    parsed = js_parse_int(colspan_attr, 10)
                    colspan = int(parsed) if parsed == parsed and parsed else 1
                cols_in_row += colspan
            columns = max(columns, cols_in_row)
        return rows, columns

    def _mark_data_tables(self, root: Element) -> None:
        # Readability.js:1930-1986 — including the sz.cols-undefined quirk:
        # the `cols > 4` and `rows*cols > 10` branches can never fire, so the
        # size fallback reduces to rows >= 10.
        for table in root.getElementsByTagName("table"):
            if (
                table.getAttribute("role") == "presentation"
                or table.getAttribute("datatable") == "0"
            ):
                table._readabilityDataTable = False
                continue
            caption_list = table.getElementsByTagName("caption")
            if table.getAttribute("summary") or (
                caption_list and caption_list[0].childNodes
            ):
                table._readabilityDataTable = True
                continue
            if has_descendant_tag(table, _DATA_TABLE_DESCENDANTS):
                table._readabilityDataTable = True
                continue
            if has_descendant_tag(table, _TABLE_ONLY):
                table._readabilityDataTable = False
                continue
            rows, _cols = self._get_row_and_column_count(table)
            table._readabilityDataTable = rows >= 10

    def _fix_lazy_images(self, root: Element) -> None:
        # Readability.js:1989-2043
        for el in self._get_all_nodes_with_tag(root, ["img", "picture", "figure"]):
            srcset = el.srcset
            valid = (not el.src and (srcset == "null" or not srcset)) or (
                "lazy" in el.className.lower()
            )
            if not valid:
                continue
            tag_name = el.tagName
            n = len(el.attributes)
            for i in range(n):
                attr = el.attributes[i]
                if attr.name in ("src", "srcset"):
                    continue
                x = attr.value
                if R.LAZY_SRCSET.search(x):
                    copy_to = "srcset"
                elif R.LAZY_SRC.search(x):
                    copy_to = "src"
                else:
                    continue
                if tag_name in ("IMG", "PICTURE"):
                    el.setAttribute(copy_to, x)
                elif tag_name == "FIGURE":
                    if has_descendant_tag(el, _IMG_PICTURE):
                        continue
                    img = self._doc.createElement("img")
                    img.setAttribute(copy_to, x)
                    el.appendChild(img)

    def _clean_conditionally(self, e: Element, tag: str) -> None:
        # Readability.js:2051-2135.  The subtree facts each candidate needs
        # (P/IMG/LI/INPUT counts, its object/embed/iframe count and whether
        # one carries a video attribute, the text length of its <a>s, a
        # data-table ancestor) come from one walk of `e` instead of walks
        # per candidate.  The walk gives each candidate the counts of its
        # own region (below it, outside nested candidates); `_remove_nodes`
        # visits candidates in reverse document order, so each child
        # candidate is decided before its parent and, when it stays, adds
        # its totals to its parent's.  The text lengths of a region's <a>s
        # are read when its candidate is decided: a removed child candidate
        # inside an <a> has shortened that <a>'s text by then.
        if not self._flag_is_active(FLAG_CLEAN_CONDITIONALLY):
            return
        is_list = tag in ("ul", "ol")
        facts = _CandidateFacts(e, tag.upper())
        counts, anchors, parents = facts.counts, facts.anchors, facts.parents
        links = [0] * len(facts.nodes)  # text length of each subtree's <a>s

        def _drop(node: Element, i: int) -> bool:
            if (tag == "table" and is_data_table(node)) or facts.in_data_table[i]:
                return False
            weight = self._get_class_weight(node)
            if weight < 0:
                return True
            if self._get_char_count(node, ",") < 10:
                p, img, li_raw, input_count, embed_count, videos = counts[i]
                if videos:
                    return False
                li = li_raw - 100
                content_length = len(self._get_inner_text(node))
                link_density = links[i] / content_length if content_length else 0.0
                return (
                    (img > 1 and p / img < 0.5 and not self._has_ancestor_tag(node, "figure"))
                    or (not is_list and li > p)
                    or (input_count > p // 3)
                    or (
                        not is_list
                        and content_length < 25
                        and (img == 0 or img > 2)
                        and not self._has_ancestor_tag(node, "figure")
                    )
                    or (not is_list and weight < 25 and link_density > 0.2)
                    or (weight >= 25 and link_density > 0.5)
                    or (embed_count == 1 and content_length < 75)
                    or embed_count > 1
                )
            return False

        def _filter(node: Element, i, lst) -> bool:
            for a in anchors[i]:
                links[i] += len(self._get_inner_text(a))
            if _drop(node, i):
                return True
            parent = parents[i]
            if parent >= 0:
                counts[parent] = [a + b for a, b in zip(counts[parent], counts[i])]
                links[parent] += links[i]
            return False

        self._remove_nodes(facts.nodes, _filter)

    # ----- post-processing -------------------------------------------------------
    def _post_process_content(self, content: Element) -> None:
        # Readability.js:289-294
        self._fix_relative_uris(content)
        if not self._keep_classes:
            self._clean_classes(content)

    def _clean_classes(self, node: Element) -> None:
        # Readability.js:420-441
        class_name = node.getAttribute("class")
        if class_name:
            kept = " ".join(
                x for x in js_split_ws(class_name) if x in self._classes_to_preserve
            )
            if kept:
                node.setAttribute("class", kept)
            else:
                node.removeAttribute("class")
        else:
            node.removeAttribute("class")
        child = node.firstElementChild
        while child is not None:
            self._clean_classes(child)
            child = child.nextElementSibling

    def _fix_relative_uris(self, content: Element) -> None:
        # Readability.js:449-488
        doc = self._doc
        for link in self._get_all_nodes_with_tag(content, ["a"]):
            href = link.getAttribute("href")
            if not href:
                continue
            if href.startswith("javascript:"):
                if (
                    len(link.childNodes) == 1
                    and link.childNodes[0].node_type == TEXT_NODE
                ):
                    text = doc.createTextNode(link.textContent)
                    link.parentNode.replaceChild(text, link)
                else:
                    container = doc.createElement("span")
                    while link.childNodes:
                        container.appendChild(link.childNodes[0])
                    link.parentNode.replaceChild(container, link)
            else:
                link.setAttribute("href", to_absolute_uri(doc, href))
        for img in self._get_all_nodes_with_tag(content, ["img"]):
            src = img.getAttribute("src")
            if src:
                img.setAttribute("src", to_absolute_uri(doc, src))

    # ----- entry point --------------------------------------------------------------
    def parse(self) -> dict | None:
        # Readability.js:2201-2259
        doc = self._doc
        if self._max_elems_to_parse > 0:
            num_els = len(doc.getElementsByTagName("*"))
            if num_els > self._max_elems_to_parse:
                raise TooManyElemsError(
                    f"Aborting parsing document; {num_els} elements found "
                    f"> max allowed: {self._max_elems_to_parse}"
                )
        self._remove_scripts(doc)
        self._prep_document()
        meta = self._get_article_metadata()
        title = self._article_title = meta["title"]

        article_content = self._grab_article()
        if article_content is None:
            return None
        self._post_process_content(article_content)

        text = article_content.textContent
        byline = meta["byline"] if meta["byline"] else self._article_byline
        if meta["excerpt"]:
            excerpt = meta["excerpt"]
        else:
            paragraphs = article_content.getElementsByTagName("p")
            excerpt = js_trim(paragraphs[0].textContent) if paragraphs else None
        site_name = meta["siteName"] if meta["siteName"] else self._article_site_name
        return {
            "title": title,
            "byline": byline,
            "dir": self._article_dir,
            "content": article_content.innerHTML,
            "textContent": text,
            "length": len(text),
            "excerpt": excerpt,
            "siteName": site_name,
            # Engine extra (not part of the reference result contract):
            # paragraph text in document order, for span derivation.
            "paragraphTexts": [
                p.textContent for p in article_content.getElementsByTagName("p")
            ],
        }
