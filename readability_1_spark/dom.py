"""Minimal DOM + HTML parser with the exact semantics of the reference's
JSDOMParser (/root/reference/JSDOMParser.js), written from scratch in Python.

This is deliberately NOT a general HTML5 parser: the reference parser is an
XML-strict-ish recursive-descent parser with several observable quirks that
the per-turn equality contract requires us to reproduce, including:

* entity handling limited to lt/gt/amp/quot/apos + numeric &#…;/&#x…; with
  1-4 digits (JSDOMParser.js:34-69), decoded named-first then numeric;
* no raw-text mode for <script>: a literal '<' inside scripts derails the
  parse and accumulates error_state (JSDOMParser.js:879-882, 1070-1156);
* attribute reading scans for '=' with an unbounded indexOf
  (JSDOMParser.js:920-948) and pushes duplicates (last one wins on read);
* comments are discarded at read time (JSDOMParser.js:1040-1044), CDATA
  becomes text (1092-1102), first <title> wins (1145-1146);
* the serializer self-closes void childless elements with '/>' and prefers
  '"' quoting unless the encoded value contains '"' (JSDOMParser.js:676-714);
* parse() prunes root-level non-<html> children when a documentElement
  exists (JSDOMParser.js:1161-1178).
"""

from __future__ import annotations

import re

from .jsquirks import from_char_code, js_parse_int, js_trim

ELEMENT_NODE = 1
TEXT_NODE = 3
COMMENT_NODE = 8
DOCUMENT_NODE = 9

# JSDOMParser.js:264-279
VOID_ELEMS = frozenset(
    (
        "area", "base", "br", "col", "command", "embed", "hr", "img",
        "input", "link", "meta", "param", "source", "wbr",
    )
)

_PARSE_WS = (" ", "\t", "\n", "\r")  # JSDOMParser.js:281
# Tag-name run: everything up to parser whitespace, '>' or '/'.
_TAG_RUN_RE = re.compile(r"[^ \t\n\r>/]*")
_ATTR_WS_RE = re.compile(r"[ \t\n\r]*")
# Fast path for the overwhelmingly common well-formed tag shape:
#   name (ws+ name=["']value["'])* ws* /? >
# Matches ONLY inputs on which the reference's per-character scan
# (JSDOMParser.js:920-1006) produces exactly these names/values; anything
# else (attr names with ws or '=' quirks, unquoted values, unterminated
# quotes, EOF inside tag) fails the match and takes the slow path below.
_FAST_TAG_RE = re.compile(
    r"([^ \t\n\r>/]+)"
    r"((?:[ \t\n\r]+[^ \t\n\r=/>]+=(?:\"[^\"]*\"|'[^']*'))*)"
    r"[ \t\n\r]*(/?)>"
)
_FAST_ATTR_RE = re.compile(
    r"[ \t\n\r]+([^ \t\n\r=/>]+)=(?:\"([^\"]*)\"|'([^']*)')"
)
_TAG_NAME_CACHE: dict[str, tuple[str, str]] = {}

_NAMED_ENT_RE = re.compile(r"&(quot|amp|apos|lt|gt);")
_NUM_ENT_RE = re.compile(r"&#(?:x([0-9a-z]{1,4})|([0-9]{1,4}));", re.I)
_ENC_TEXT_RE = re.compile(r"[&<>]")
_ENC_ATTR_RE = re.compile(r"[&<>'\"]")

_ENTITY_TABLE = {"lt": "<", "gt": ">", "amp": "&", "quot": '"', "apos": "'"}
_REVERSE_ENTITY = {"<": "&lt;", ">": "&gt;", "&": "&amp;", '"': "&quot;", "'": "&apos;"}


class ParseFatal(Exception):
    """A condition where the reference JS would throw an uncaught exception
    (e.g. decodeHTML(null) after an unterminated attribute quote), or a
    stuck-parser guard we add because the reference would loop forever."""


def decode_html(s: str | None) -> str:
    # JSDOMParser.js:62-69 — named entities first, numeric on the result.
    if s is None:
        raise ParseFatal("decodeHTML of null (unterminated attribute value)")
    if "&" not in s:  # fast path: both passes can only match at '&'
        return s
    s = _NAMED_ENT_RE.sub(lambda m: _ENTITY_TABLE[m.group(1)], s)

    def _num(m: re.Match) -> str:
        hexpart, decpart = m.group(1), m.group(2)
        num = js_parse_int(hexpart or decpart, 16 if hexpart else 10)
        return from_char_code(num)

    return _NUM_ENT_RE.sub(_num, s)


def encode_text_content_html(s: str) -> str:
    # JSDOMParser.js:50-54
    if "&" not in s and "<" not in s and ">" not in s:
        return s
    return _ENC_TEXT_RE.sub(lambda m: _REVERSE_ENTITY[m.group(0)], s)


def encode_html(s: str) -> str:
    # JSDOMParser.js:56-60
    if not _ENC_ATTR_RE.search(s):
        return s
    return _ENC_ATTR_RE.sub(lambda m: _REVERSE_ENTITY[m.group(0)], s)


class Attribute:
    """JSDOMParser.js:491-506."""

    __slots__ = ("name", "value")

    def __init__(self, name: str, value: str):
        self.name = name
        self.value = value

    def encoded_value(self) -> str:
        return encode_html(self.value)


def _invalidate_text_cache(node: "Node | None") -> None:
    """Clear the textContent cache on `node` and every ancestor.  Called on
    any mutation that can change concatenated text; caches outside the
    mutated chain stay valid."""
    while node is not None:
        node._tc_cache = None
        node._tc_norm = None
        node._ld_cache = None
        node = node.parentNode


class Node:
    """Base node (JSDOMParser.js:317-489): doubly linked sibling lists plus a
    separate element-only children list, maintained on every mutation.

    __slots__ throughout the hierarchy: documents allocate 10^4-10^5 nodes
    each, and slot storage roughly halves per-node memory traffic (the
    multi-worker throughput limiter on one box)."""

    __slots__ = (
        "childNodes", "parentNode", "nextSibling", "previousSibling",
        "nextElementSibling", "previousElementSibling", "_tc_cache",
        "_tc_norm", "_ld_cache",
    )

    node_type = 0
    # Class-level defaults read on Text/Comment nodes (Element shadows these
    # with real slots set in its __init__).
    localName: str | None = None
    tagName: str | None = None

    def __init__(self) -> None:
        self.childNodes: list[Node] = []
        self.parentNode: Node | None = None
        self.nextSibling: Node | None = None
        self.previousSibling: Node | None = None
        self.nextElementSibling: Element | None = None
        self.previousElementSibling: Element | None = None
        self._tc_cache: str | None = None
        self._tc_norm: str | None = None
        self._ld_cache: float | None = None

    @property
    def firstChild(self) -> "Node | None":
        return self.childNodes[0] if self.childNodes else None

    @property
    def lastChild(self) -> "Node | None":
        return self.childNodes[-1] if self.childNodes else None

    @property
    def firstElementChild(self) -> "Element | None":
        ch = getattr(self, "children", None)
        return ch[0] if ch else None

    @property
    def lastElementChild(self) -> "Element | None":
        ch = getattr(self, "children", None)
        return ch[-1] if ch else None

    def appendChild(self, child: "Node") -> None:
        # JSDOMParser.js:345-362
        _invalidate_text_cache(self)
        if child.parentNode is not None:
            child.parentNode.removeChild(child)
        last = self.lastChild
        if last is not None:
            last.nextSibling = child
        child.previousSibling = last
        if child.node_type == ELEMENT_NODE:
            children = self.children  # type: ignore[attr-defined]
            child.previousElementSibling = children[-1] if children else None
            children.append(child)
            if child.previousElementSibling is not None:
                child.previousElementSibling.nextElementSibling = child
        self.childNodes.append(child)
        child.parentNode = self

    def removeChild(self, child: "Node") -> "Node":
        # JSDOMParser.js:364-393
        _invalidate_text_cache(self)
        try:
            child_index = self.childNodes.index(child)
        except ValueError:
            raise ParseFatal("removeChild: node not found") from None
        child.parentNode = None
        prev, nxt = child.previousSibling, child.nextSibling
        if prev is not None:
            prev.nextSibling = nxt
        if nxt is not None:
            nxt.previousSibling = prev
        if child.node_type == ELEMENT_NODE:
            eprev, enext = child.previousElementSibling, child.nextElementSibling
            if eprev is not None:
                eprev.nextElementSibling = enext
            if enext is not None:
                enext.previousElementSibling = eprev
            self.children.remove(child)  # type: ignore[attr-defined]
        child.previousSibling = child.nextSibling = None
        child.previousElementSibling = child.nextElementSibling = None
        del self.childNodes[child_index]
        return child

    def replaceChild(self, new_node: "Node", old_node: "Node") -> "Node":
        # JSDOMParser.js:395-482
        _invalidate_text_cache(self)
        child_nodes = self.childNodes
        try:
            child_index = child_nodes.index(old_node)
        except ValueError:
            raise ParseFatal("replaceChild: node not found") from None
        if new_node.parentNode is not None:
            new_node.parentNode.removeChild(new_node)
        child_nodes[child_index] = new_node
        new_node.nextSibling = old_node.nextSibling
        new_node.previousSibling = old_node.previousSibling
        if new_node.nextSibling is not None:
            new_node.nextSibling.previousSibling = new_node
        if new_node.previousSibling is not None:
            new_node.previousSibling.nextSibling = new_node
        new_node.parentNode = self
        children = self.children  # type: ignore[attr-defined]
        if new_node.node_type == ELEMENT_NODE:
            if old_node.node_type == ELEMENT_NODE:
                new_node.previousElementSibling = old_node.previousElementSibling
                new_node.nextElementSibling = old_node.nextElementSibling
                if new_node.previousElementSibling is not None:
                    new_node.previousElementSibling.nextElementSibling = new_node
                if new_node.nextElementSibling is not None:
                    new_node.nextElementSibling.previousElementSibling = new_node
                children[children.index(old_node)] = new_node
            else:
                new_node.previousElementSibling = next(
                    (
                        child_nodes[i]
                        for i in range(child_index - 1, -1, -1)
                        if child_nodes[i].node_type == ELEMENT_NODE
                    ),
                    None,
                )
                if new_node.previousElementSibling is not None:
                    new_node.nextElementSibling = (
                        new_node.previousElementSibling.nextElementSibling
                    )
                else:
                    new_node.nextElementSibling = next(
                        (
                            child_nodes[i]
                            for i in range(child_index + 1, len(child_nodes))
                            if child_nodes[i].node_type == ELEMENT_NODE
                        ),
                        None,
                    )
                if new_node.previousElementSibling is not None:
                    new_node.previousElementSibling.nextElementSibling = new_node
                if new_node.nextElementSibling is not None:
                    new_node.nextElementSibling.previousElementSibling = new_node
                if new_node.nextElementSibling is not None:
                    children.insert(children.index(new_node.nextElementSibling), new_node)
                else:
                    children.append(new_node)
        elif old_node.node_type == ELEMENT_NODE:
            if old_node.previousElementSibling is not None:
                old_node.previousElementSibling.nextElementSibling = (
                    old_node.nextElementSibling
                )
            if old_node.nextElementSibling is not None:
                old_node.nextElementSibling.previousElementSibling = (
                    old_node.previousElementSibling
                )
            children.remove(old_node)
        old_node.parentNode = None
        old_node.previousSibling = None
        old_node.nextSibling = None
        if old_node.node_type == ELEMENT_NODE:
            old_node.previousElementSibling = None
            old_node.nextElementSibling = None
        return old_node


def has_descendant_tag(node: "Element | Document", tags: frozenset) -> bool:
    """Early-exit existence check: any descendant element whose tagName is
    in `tags` (uppercase)?  Equivalent to `len(getElementsByTagName(t))>0
    for any t` without building lists or finishing the walk."""
    def rec(children):
        for child in children:
            if child.tagName in tags:
                return True
            kids = child.children
            if kids and rec(kids):
                return True
        return False

    return rec(node.children)


def _get_elements_by_tag_name(node: "Element | Document", tag: str) -> list["Element"]:
    # JSDOMParser.js:299-315 — pre-order over element-only children; returns
    # a plain (non-live) list.  Iterative: no recursion-depth limits.
    tag = tag.upper()
    elems: list[Element] = []
    append = elems.append
    if tag == "*":
        def rec_all(children):
            for child in children:
                append(child)
                kids = child.children
                if kids:
                    rec_all(kids)
        rec_all(node.children)
    else:
        def rec(children):
            for child in children:
                if child.tagName == tag:
                    append(child)
                kids = child.children
                if kids:
                    rec(kids)
        rec(node.children)
    return elems


class Comment(Node):
    __slots__ = ()
    node_type = COMMENT_NODE
    nodeName = "#comment"


class Text(Node):
    """JSDOMParser.js:519-549 — lazy dual representation: decoded
    textContent ↔ encoded innerHTML, each cached, invalidated on write."""

    __slots__ = ("_textContent", "_innerHTML", "_has_text", "_has_html")

    node_type = TEXT_NODE
    nodeName = "#text"

    def __init__(self) -> None:
        # Inlined Node.__init__ (hot allocation path).
        self.childNodes = []
        self.parentNode = None
        self.nextSibling = None
        self.previousSibling = None
        self.nextElementSibling = None
        self.previousElementSibling = None
        self._tc_cache = None
        self._tc_norm = None
        self._ld_cache = None
        self._textContent: str | None = None
        self._innerHTML: str | None = None
        self._has_text = False
        self._has_html = False

    @property
    def textContent(self) -> str:
        if not self._has_text:
            self._textContent = decode_html(self._innerHTML or "")
            self._has_text = True
        return self._textContent  # type: ignore[return-value]

    @textContent.setter
    def textContent(self, value: str) -> None:
        _invalidate_text_cache(self.parentNode)
        self._textContent = value
        self._has_text = True
        self._has_html = False
        self._innerHTML = None

    @property
    def innerHTML(self) -> str:
        if not self._has_html:
            self._innerHTML = encode_text_content_html(self._textContent or "")
            self._has_html = True
        return self._innerHTML  # type: ignore[return-value]

    @innerHTML.setter
    def innerHTML(self, value: str) -> None:
        _invalidate_text_cache(self.parentNode)
        self._innerHTML = value
        self._has_html = True
        self._has_text = False
        self._textContent = None


class Element(Node):
    """JSDOMParser.js:608-799."""

    __slots__ = (
        "matching_tag", "attributes", "children", "localName", "tagName",
        "readability", "_readabilityDataTable",
    )

    node_type = ELEMENT_NODE

    def __init__(self, tag: str):
        # Inlined Node.__init__ (hot allocation path).
        self.childNodes = []
        self.parentNode = None
        self.nextSibling = None
        self.previousSibling = None
        self.nextElementSibling = None
        self.previousElementSibling = None
        self._tc_cache = None
        self._tc_norm = None
        self._ld_cache = None
        # Non-namespace-aware: strip any prefix, but remember the original
        # spelling to find the closing tag (JSDOMParser.js:608-623).
        # Tag spellings repeat massively; cache the derived names.
        names = _TAG_NAME_CACHE.get(tag)
        if names is None:
            stripped = tag[tag.rfind(":") + 1 :]  # rfind==-1 → tag[0:] == tag
            names = (stripped.lower(), stripped.upper())
            if len(_TAG_NAME_CACHE) < 4096:
                _TAG_NAME_CACHE[tag] = names
        self.matching_tag = tag
        self.attributes: list[Attribute] = []
        self.children: list[Element] = []
        self.localName: str = names[0]
        self.tagName: str = names[1]
        self.readability: dict | None = None
        self._readabilityDataTable: bool | None = None

    @property
    def nodeName(self) -> str:
        return self.tagName

    # --- attributes ------------------------------------------------------
    def getAttribute(self, name: str) -> str | None:
        # Backwards scan: with duplicate attributes the LAST one wins
        # (JSDOMParser.js:763-771).
        attrs = self.attributes
        for i in range(len(attrs) - 1, -1, -1):
            if attrs[i].name == name:
                return attrs[i].value
        return None

    def setAttribute(self, name: str, value: str) -> None:
        for attr in reversed(self.attributes):
            if attr.name == name:
                attr.value = value
                return
        self.attributes.append(Attribute(name, value))

    def removeAttribute(self, name: str) -> None:
        # Removes only the last duplicate, like the reference
        # (JSDOMParser.js:784-792 breaks after the first backwards hit).
        for i in range(len(self.attributes) - 1, -1, -1):
            if self.attributes[i].name == name:
                del self.attributes[i]
                break

    def hasAttribute(self, name: str) -> bool:
        return any(attr.name == name for attr in self.attributes)

    # --- convenience accessors (JSDOMParser.js:632-670) -------------------
    @property
    def className(self) -> str:
        return self.getAttribute("class") or ""

    @className.setter
    def className(self, value: str) -> None:
        self.setAttribute("class", value)

    @property
    def id(self) -> str:
        return self.getAttribute("id") or ""

    @id.setter
    def id(self, value: str) -> None:
        self.setAttribute("id", value)

    @property
    def src(self) -> str:
        return self.getAttribute("src") or ""

    @property
    def srcset(self) -> str:
        return self.getAttribute("srcset") or ""

    def getElementsByTagName(self, tag: str) -> list["Element"]:
        return _get_elements_by_tag_name(self, tag)

    # --- serialization (JSDOMParser.js:676-714) ---------------------------
    @property
    def innerHTML(self) -> str:
        arr: list[str] = []
        _serialize_children(self, arr)
        return "".join(arr)

    @innerHTML.setter
    def innerHTML(self, html: str) -> None:
        # JSDOMParser.js:716-728 — reparse into a fresh document, adopt kids.
        _invalidate_text_cache(self)
        parser = JSDOMParser()
        node = parser.parse(html)
        for child in self.childNodes:
            child.parentNode = None
        self.childNodes = node.childNodes
        self.children = node.children
        for child in self.childNodes:
            child.parentNode = self

    @property
    def textContent(self) -> str:
        # JSDOMParser.js:743-761 — iterative pre-order text concatenation,
        # cached per element; mutations invalidate the ancestor chain only.
        cache = self._tc_cache
        if cache is not None:
            return cache
        out: list[str] = []
        append = out.append

        def rec(child_nodes):
            for child in child_nodes:
                if child.node_type == TEXT_NODE:
                    append(child.textContent)
                else:
                    sub = child._tc_cache
                    if sub is not None:
                        append(sub)
                        continue
                    kids = child.childNodes
                    if kids:
                        rec(kids)

        rec(self.childNodes)
        text = "".join(out)
        self._tc_cache = text
        return text

    @textContent.setter
    def textContent(self, text: str) -> None:
        # JSDOMParser.js:730-741
        _invalidate_text_cache(self)
        for child in self.childNodes:
            child.parentNode = None
        node = Text()
        node.textContent = text
        self.childNodes = [node]
        self.children = []
        node.parentNode = self

    # --- style (JSDOMParser.js:801-844) ------------------------------------
    def style_get(self, style_name: str) -> str | None:
        attr = self.getAttribute("style")
        if not attr:
            return None
        for style in attr.split(";"):
            parts = style.split(":")
            if js_trim(parts[0]) == style_name:
                if len(parts) < 2:
                    # JS would call undefined.trim() and throw.
                    raise ParseFatal("style declaration without value")
                return js_trim(parts[1])
        return None


def _reverse_entity_sub(m: "re.Match") -> str:
    return _REVERSE_ENTITY[m.group(0)]


# Serializer string caches: "<tag" / "<tag>" / "</tag>" per localName.
_SER_TAG_CACHE: dict[str, tuple[str, str, str]] = {}


def _ser_tag_parts(local_name: str) -> tuple[str, str, str]:
    parts = _SER_TAG_CACHE.get(local_name)
    if parts is None:
        parts = ("<" + local_name, "<" + local_name + ">", "</" + local_name + ">")
        if len(_SER_TAG_CACHE) < 4096:
            _SER_TAG_CACHE[local_name] = parts
    return parts


def _serialize_children(node: Node, arr: list[str]) -> None:
    # Recursive pre-order, same byte output as JSDOMParser.js:676-714 and
    # the same stack-depth semantics as the reference's recursive
    # serializer (Python's 20k recursion limit vs V8's comparable frame
    # limit; a deeper document errors in both engines).
    append = arr.append
    for child in node.childNodes:
        local_name = child.localName
        if local_name:
            open_prefix, open_simple, close_tag = _ser_tag_parts(local_name)
            attrs = child.attributes
            kids = child.childNodes
            if attrs:
                parts = [open_prefix]
                for attr in attrs:
                    val = attr.value
                    if _ENC_ATTR_RE.search(val) is not None:
                        val = _ENC_ATTR_RE.sub(_reverse_entity_sub, val)
                    if '"' not in val:
                        parts.append(" " + attr.name + '="' + val + '"')
                    else:
                        parts.append(" " + attr.name + "='" + val + "'")
                open_tag = "".join(parts)
                if kids:
                    append(open_tag + ">")
                    _serialize_children(child, arr)
                    append(close_tag)
                elif local_name in VOID_ELEMS:
                    append(open_tag + "/>")
                else:
                    append(open_tag + ">" + close_tag)
            elif kids:
                append(open_simple)
                _serialize_children(child, arr)
                append(close_tag)
            elif local_name in VOID_ELEMS:
                append(open_prefix + "/>")
            else:
                append(open_simple + close_tag)
        else:
            # Text node (comments never survive parsing): read the encoded
            # cache directly, encoding lazily like the innerHTML property.
            if child._has_html:
                append(child._innerHTML)
            else:
                append(child.innerHTML)  # type: ignore[attr-defined]


class Document(Node):
    """JSDOMParser.js:551-606."""

    __slots__ = (
        "documentURI", "children", "title", "head", "body",
        "documentElement", "_baseURI", "_baseURI_computed",
    )

    node_type = DOCUMENT_NODE
    nodeName = "#document"

    def __init__(self, url: str | None = None):
        super().__init__()
        self.documentURI = url
        self.children: list[Element] = []
        self.title = ""
        self.head: Element | None = None
        self.body: Element | None = None
        self.documentElement: Element | None = None
        self._baseURI: str | None = None
        self._baseURI_computed = False

    def getElementsByTagName(self, tag: str) -> list[Element]:
        return _get_elements_by_tag_name(self, tag)

    def getElementById(self, id_: str) -> Element | None:
        def get_elem(node: Node) -> Element | None:
            if getattr(node, "id", None) == id_:
                return node  # type: ignore[return-value]
            for child in getattr(node, "children", ()):
                found = get_elem(child)
                if found is not None:
                    return found
            return None

        return get_elem(self)

    def createElement(self, tag: str) -> Element:
        return Element(tag)

    def createTextNode(self, text: str) -> Text:
        node = Text()
        node.textContent = text
        return node

    @property
    def baseURI(self) -> str | None:
        # JSDOMParser.js:593-605 — first <base href> resolved against the
        # documentURI via WHATWG URL; fall back to documentURI on error.
        if not self._baseURI_computed:
            self._baseURI_computed = True
            self._baseURI = self.documentURI
            base_elements = self.getElementsByTagName("base")
            href = base_elements[0].getAttribute("href") if base_elements else None
            if href:
                from .whatwg_url import url_resolve

                try:
                    self._baseURI = url_resolve(href, self._baseURI)
                except Exception:
                    pass
        return self._baseURI


class JSDOMParser:
    """Recursive-descent parser (JSDOMParser.js:859-1179)."""

    def __init__(self) -> None:
        self.current_char = 0
        self.error_state = ""
        self.html = ""
        self.doc: Document | None = None
        self._steps = 0
        self._max_steps = 0

    # -- primitives ---------------------------------------------------------
    def error(self, m: str) -> None:
        self.error_state += m + "\n"

    def _peek(self) -> str | None:
        if self.current_char < len(self.html):
            return self.html[self.current_char]
        return None

    def _next(self) -> str | None:
        c = self._peek()
        self.current_char += 1
        return c

    def read_string(self, quote: str) -> str | None:
        # JSDOMParser.js:902-914
        n = self.html.find(quote, self.current_char)
        if n == -1:
            self.current_char = len(self.html)
            return None
        s = self.html[self.current_char : n]
        self.current_char = n + 1
        return s

    def read_attribute(self, node: Element) -> None:
        # JSDOMParser.js:920-948 — note the unbounded '=' scan.
        html = self.html
        name = ""
        n = html.find("=", self.current_char)
        if n == -1:
            self.current_char = len(html)
        else:
            name = html[self.current_char : n]
            self.current_char = n + 1
        if not name:
            return
        pos = self.current_char
        c = html[pos] if pos < len(html) else None
        self.current_char = pos + 1
        if c != '"' and c != "'":
            self.error("Error reading attribute " + name + ", expecting '\"'")
            return
        value = self.read_string(c)
        node.attributes.append(Attribute(name, decode_html(value)))

    def make_element_node(self) -> tuple[Element, bool] | None:
        # JSDOMParser.js:958-1006 — regex-scanned but char-for-char
        # equivalent to the reference's per-character loop.
        html, ln = self.html, len(self.html)
        p = self.current_char
        fm = _FAST_TAG_RE.match(html, p)
        if fm is not None:
            node = Element(fm.group(1))
            attrs = fm.group(2)
            if attrs:
                append = node.attributes.append
                for name, v1, v2 in _FAST_ATTR_RE.findall(attrs):
                    append(Attribute(name, decode_html(v1 if v1 else v2)))
            self.current_char = fm.end()
            return node, fm.group(3) == "/"
        m = _TAG_RUN_RE.match(html, p)
        q = m.end()
        if q >= ln:
            # The JS loop hits undefined before finding a delimiter.
            self.current_char = ln + 1
            return None
        tag = html[p:q]
        c: str | None = html[q]
        self.current_char = q + 1
        if not tag:
            return None
        node = Element(tag)
        while c != "/" and c != ">":
            if c is None:
                return None
            # Skip whitespace (JSDOMParser.js:981-984); out-of-bounds read
            # yields undefined which is not whitespace, ending the scan.
            w = _ATTR_WS_RE.match(html, self.current_char).end()
            if w < ln:
                c = html[w]
                self.current_char = w + 1
            else:
                c = None
                self.current_char = w + 1
            if c != "/" and c != ">":
                self.current_char -= 1
                self.read_attribute(node)
        closed = False
        if c == "/":
            closed = True
            c = self._next()
            if c != ">":
                self.error("expected '>' to close " + tag)
                return None
        return node, closed

    def match(self, s: str) -> bool:
        # JSDOMParser.js:1014-1021 — case-insensitive; allocation-free exact
        # compare first (the overwhelmingly common case).
        cc = self.current_char
        if self.html.startswith(s, cc):
            self.current_char = cc + len(s)
            return True
        chunk = self.html[cc : cc + len(s)]
        if chunk.lower() == s.lower():
            self.current_char = cc + len(s)
            return True
        return False

    def discard_to(self, s: str) -> None:
        # JSDOMParser.js:1027-1032 — including its broken not-found branch
        # (index becomes len(s)-1, jumping BACKWARDS); a stuck-parser guard in
        # read_node turns the resulting infinite loop into ParseFatal.
        self.current_char = self.html.find(s, self.current_char) + len(s)

    def read_children(self, root: Node) -> None:
        # JSDOMParser.js:1037-1156 (readChildren + readNode), restructured as
        # ONE explicit-stack loop — no recursion, one Python-level iteration
        # per token instead of two function calls per node.  Behaviorally
        # identical to the reference's mutual recursion, including:
        # * comments dropped at read time;
        # * the closing-tag-mismatch cascade: the mismatched subtree is
        #   DISCARDED (readNode returns null) and each ancestor re-tries its
        #   own closing tag at the same position, logging one error per
        #   failed level;
        # * the step guard turning non-advancing input (discardTo's backward
        #   jump) into ParseFatal;
        # * first-<title>-wins / head / body / documentElement bookkeeping
        #   running right after an element completes, before it is appended.
        # Appends are inlined without cache invalidation: during the parse a
        # node is complete before being appended upward, so no ancestor can
        # hold a textContent cache yet (only finished subtrees may, via the
        # doc.title read, and appends never change a finished subtree).
        html = self.html
        ln = len(html)
        doc = self.doc
        max_steps = self._max_steps
        steps = self._steps
        fast_tag = _FAST_TAG_RE.match
        node = root
        child_nodes = root.childNodes
        children = getattr(root, "children", None)
        stack: list = []
        # The stream position lives in a LOCAL while inside this loop
        # (synced to self.current_char only around helper calls): one
        # attribute write per token is measurable at 300k tokens/corpus.
        cc = self.current_char
        while True:
            steps += 1
            if steps > max_steps:
                self._steps = steps
                self.current_char = cc
                raise ParseFatal("parser stuck (non-advancing input)")
            pos = cc
            child: Node | None
            if pos >= ln:
                cc = pos + 1
                child = None
            else:
                c = html[pos]
                if c != "<":
                    # Inline Text construction: a fresh node has no parent,
                    # so setter-side cache invalidation would be a no-op.
                    # parentNode/previousSibling are unconditionally set by
                    # the append block below, so they are not initialized.
                    child = text_node = Text.__new__(Text)
                    text_node.childNodes = []
                    text_node.nextSibling = None
                    text_node.nextElementSibling = None
                    text_node.previousElementSibling = None
                    text_node._tc_cache = None
                    text_node._tc_norm = None
                    text_node._ld_cache = None
                    text_node._textContent = None
                    text_node._has_text = False
                    text_node._has_html = True
                    n = html.find("<", pos)
                    if n == -1:
                        text_node._innerHTML = html[pos:]
                        cc = ln
                    else:
                        text_node._innerHTML = html[pos:n]
                        cc = n
                else:
                    pos1 = pos + 1
                    nxt = html[pos1] if pos1 < ln else None
                    if nxt == "/":
                        cc = pos
                        child = None
                    elif nxt == "!" or nxt == "?":
                        # CDATA first (JSDOMParser.js:1092), case-insensitive.
                        if nxt == "!" and html[pos1 : pos1 + 8].lower() == "![cdata[":
                            cc = pos1 + 8
                            end = html.find("]]>", cc)
                            if end == -1:
                                self.error("unclosed CDATA section")
                                child = None
                            else:
                                tn = Text()
                                tn.textContent = html[cc:end]
                                cc = end + 3
                                child = tn
                        else:
                            self.current_char = pos1 + 1
                            child = self.discard_next_comment()
                            cc = self.current_char
                            if child is not None:
                                continue  # comments are dropped, not appended
                    else:
                        fm = fast_tag(html, pos1)
                        if fm is not None:
                            # Inline Element construction (hot allocation).
                            tag = fm.group(1)
                            el = Element.__new__(Element)
                            el.childNodes = []
                            el.nextSibling = None
                            el.nextElementSibling = None
                            el.previousElementSibling = None
                            el._tc_cache = None
                            el._tc_norm = None
                            el._ld_cache = None
                            names = _TAG_NAME_CACHE.get(tag)
                            if names is None:
                                stripped = tag[tag.rfind(":") + 1 :]
                                names = (stripped.lower(), stripped.upper())
                                if len(_TAG_NAME_CACHE) < 4096:
                                    _TAG_NAME_CACHE[tag] = names
                            el.matching_tag = tag
                            el.attributes = []
                            el.children = []
                            el.localName = names[0]
                            el.tagName = names[1]
                            el.readability = None
                            el._readabilityDataTable = None
                            attrs = fm.group(2)
                            if attrs:
                                append_attr = el.attributes.append
                                for name, v1, v2 in _FAST_ATTR_RE.findall(attrs):
                                    append_attr(
                                        Attribute(name, decode_html(v1 if v1 else v2))
                                    )
                            cc = fm.end()
                            closed = fm.group(3) == "/"
                        else:
                            self.current_char = pos1
                            result = self.make_element_node()
                            cc = self.current_char
                            if result is None:
                                el = None
                                closed = True
                            else:
                                el, closed = result
                        if el is None:
                            child = None
                        elif not closed:
                            # Descend: push the current frame, start reading
                            # this element's children.
                            stack.append((node, child_nodes, children))
                            node = el
                            child_nodes = el.childNodes
                            children = el.children
                            continue
                        else:
                            local_name = el.localName
                            if local_name == "title" and not doc.title:
                                doc.title = js_trim(el.textContent)
                            elif local_name == "head":
                                doc.head = el
                            elif local_name == "body":
                                doc.body = el
                            elif local_name == "html":
                                doc.documentElement = el
                            child = el
            if child is None:
                # Unwind: the current node's child list ended (EOF, '</',
                # malformed tag, or bad comment).  Each level attempts its
                # own closing tag at the current position; a mismatch logs
                # an error and DISCARDS that subtree (reference readNode
                # returns null), cascading to the next ancestor.
                while True:
                    if not stack:
                        self._steps = steps
                        self.current_char = cc
                        return
                    el = node
                    node, child_nodes, children = stack.pop()
                    closing_tag = "</" + el.matching_tag + ">"
                    if html.startswith(closing_tag, cc):
                        matched = True
                        cc += len(closing_tag)
                    else:
                        self.current_char = cc
                        matched = self.match(closing_tag)
                        cc = self.current_char
                    if matched:
                        local_name = el.localName
                        if local_name == "title" and not doc.title:
                            doc.title = js_trim(el.textContent)
                        elif local_name == "head":
                            doc.head = el
                        elif local_name == "body":
                            doc.body = el
                        elif local_name == "html":
                            doc.documentElement = el
                        child = el
                        break
                    self.error(
                        "expected '"
                        + closing_tag
                        + "' and got "
                        + html[cc : cc + len(closing_tag)]
                    )
                    # The discarded subtree root is never appended, so the
                    # fast-path constructor's deferred parentNode /
                    # previousSibling writes never happen.  Restore detached
                    # (None) semantics so ancestor walks on a document whose
                    # body/head lives inside a discarded subtree read None —
                    # the reference reads JS undefined — instead of raising
                    # AttributeError (JSDOMParser.js readNode returning null).
                    el.parentNode = None
                    el.previousSibling = None
            # Append `child` to the current node (inlined appendChild).
            last = child_nodes[-1] if child_nodes else None
            if last is not None:
                last.nextSibling = child
            child.previousSibling = last
            if child.node_type == ELEMENT_NODE:
                prev_el = children[-1] if children else None
                child.previousElementSibling = prev_el
                children.append(child)
                if prev_el is not None:
                    prev_el.nextElementSibling = child
            child_nodes.append(child)
            child.parentNode = node

    def discard_next_comment(self) -> Comment | None:
        # JSDOMParser.js:1047-1061
        if self.match("--"):
            self.discard_to("-->")
        else:
            c = self._next()
            while c != ">":
                if c is None:
                    return None
                if c == '"' or c == "'":
                    self.read_string(c)
                c = self._next()
        return Comment()

    def parse(self, html: str, url: str | None = None) -> Document:
        # JSDOMParser.js:1161-1178
        self.html = html
        self.current_char = 0
        self._steps = 0
        self._max_steps = 10 * len(html) + 1000
        doc = self.doc = Document(url)
        self.read_children(doc)
        if doc.documentElement is not None:
            for child in list(reversed(doc.childNodes)):
                if child is not doc.documentElement:
                    doc.removeChild(child)
        return doc
