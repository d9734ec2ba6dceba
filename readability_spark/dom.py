"""Pure-Python HTML5-subset DOM: parser, serializer, selectors, tree ops.

This module plays the role dom_query (html5ever-backed) plays in the
reference engine (/root/reference/src/readability.rs:26).  It implements the
HTML5 tree-construction subset the extraction pipeline and its fixtures
exercise:

- implied ``<html>/<head>/<body>`` insertion
- head-element placement before body, whitespace handling per insertion mode
- ``<tbody>`` synthesis inside tables (required by the serialization
  expectations in /root/reference/src/stage/remove_unlikely_candidates.rs:151)
- ``<p>``/``<li>``/``<dd>``/``<dt>`` auto-close
- void elements (serialized without a self-closing slash, matching html5ever
  -- see /root/reference/src/stage/unwrap_noscript_images.rs:100)
- raw-text elements (``script``/``style`` content kept as a single text node,
  relied on by /root/reference/src/stage/extract_json_ld.rs:38-40)
- character-reference decoding at parse time (WHATWG table via the stdlib)
- first-wins attribute dedup, insertion-order attribute serialization

It is deliberately NOT a full HTML5 parser: adoption agency, templates and
exotic foster-parenting cases are out of scope; fixture documents stay inside
this subset (FIXTURES.md section 2).
"""

from __future__ import annotations

import re as _re
from functools import lru_cache as _lru_cache
from html import unescape as _unescape
from html.parser import HTMLParser

ELEMENT = 1
TEXT = 3
COMMENT = 8
DOCUMENT = 9
DOCTYPE = 10

VOID_ELEMENTS = frozenset(
    "area base basefont bgsound br col embed frame hr img input keygen "
    "link meta param source track wbr".split()
)

# html5ever serializer emits the contents of these elements verbatim
# (no text escaping).
RAW_TEXT_ELEMENTS = frozenset(
    "style script xmp iframe noembed noframes plaintext".split()
)

# Elements whose start tag, seen before <body>, belongs in <head>.
HEAD_ELEMENTS = frozenset(
    "base basefont bgsound link meta title style script noscript template".split()
)

# Start tags that implicitly close an open <p> (HTML5 "in body" rules).
P_CLOSERS = frozenset(
    "address article aside blockquote center details dialog dir div dl "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup "
    "hr main menu nav ol p pre section summary table ul".split()
)

_BUTTON_SCOPE_STOP = frozenset(
    "html body table td th caption template applet marquee object".split()
)
_LIST_ITEM_SCOPE_STOP = frozenset(
    "html body table td th caption template ul ol applet marquee object".split()
)

_TABLE_SCOPE_STOP = frozenset(("table", "html"))
_SELECT_SCOPE_STOP = frozenset(("select", "html", "body"))
_END_TAG_SCOPE_STOP = frozenset(("html", "body"))

# Start tag -> (open tags it implicitly closes, scope stops): the HTML5
# "in body" implied-end rules, one per tag (P_CLOSERS is disjoint from the
# list-item, table-cell and option tags).
_P = ("p",)
_IMPLIED_CLOSES = {tag: (_P, _BUTTON_SCOPE_STOP) for tag in P_CLOSERS}
_IMPLIED_CLOSES.update(
    li=(("li",), _LIST_ITEM_SCOPE_STOP),
    dd=(("dd", "dt"), _LIST_ITEM_SCOPE_STOP),
    dt=(("dd", "dt"), _LIST_ITEM_SCOPE_STOP),
    td=(("td", "th"), _TABLE_SCOPE_STOP),
    th=(("td", "th"), _TABLE_SCOPE_STOP),
    tr=(("tr",), _TABLE_SCOPE_STOP),
    option=(("option",), _SELECT_SCOPE_STOP),
)

_TABLE_SECTIONS = frozenset(("tbody", "thead", "tfoot"))
_FOSTER_CONTEXTS = frozenset(("table", "tbody", "thead", "tfoot", "tr"))
_TABLE_PARTS = frozenset(
    "table tbody thead tfoot tr td th caption col colgroup script style template form".split()
)


# Global structural-revision counter: bumped by every tree mutation and tag
# rename (selects match on tag names only, never on attributes) so
# the flat-element cache (see _elements()) knows when to rebuild.
# A module global is correct here because each Spark Python worker process
# extracts documents sequentially; over-invalidation (another document's
# mutation bumping it) only costs a rebuild, never staleness.
_REV = 0


# Shared empty containers for leaf (text/comment/doctype) nodes.  HTML data
# nodes can never hold children or attributes, so every leaf aliases these
# singletons instead of allocating a fresh dict+list per node (~200 saved
# allocations per Common-Crawl page — measurable memory-bandwidth relief at
# 32 concurrent workers).  Invariant: tree mutators only ever append into /
# remove from ELEMENT and DOCUMENT nodes, which get real containers.  The
# attrs singleton is a read-only MappingProxyType so an accidental mutation
# on a leaf node raises immediately instead of contaminating every leaf in
# the long-lived worker process.
from types import MappingProxyType as _MappingProxyType

_NO_ATTRS = _MappingProxyType({})
_NO_CHILDREN: tuple = ()


class Node:
    """A DOM node.  ``attrs`` is an insertion-ordered dict which matches
    html5ever's Vec<Attribute> semantics: ``set_attr`` updates in place when
    the name exists and appends otherwise; duplicates at parse time are
    first-wins."""

    __slots__ = ("kind", "name", "attrs", "data", "parent", "children")

    def __init__(self, kind, name=None, attrs=None, data=None):
        self.kind = kind
        self.name = name
        self.data = data
        self.parent = None
        if kind == ELEMENT or kind == DOCUMENT:
            self.attrs = attrs if attrs is not None else {}
            self.children = []
        else:
            self.attrs = _NO_ATTRS
            self.children = _NO_CHILDREN

    # ------------------------------------------------------------------ tree

    def append_child(self, child):
        """Append ``child`` as the last child, detaching it from any current
        parent first (mirrors dom_query NodeRef::append_child)."""
        global _REV
        _REV += 1
        if child.parent is not None:
            child.parent.children.remove(child)
        child.parent = self
        self.children.append(child)

    def remove_from_parent(self):
        global _REV
        _REV += 1
        if self.parent is not None:
            self.parent.children.remove(self)
            self.parent = None

    def replace_with(self, other):
        """Replace this node with ``other`` in the parent's child list."""
        global _REV
        _REV += 1
        parent = self.parent
        if parent is None:
            return
        idx = parent.children.index(self)
        if other.parent is not None:
            other.parent.children.remove(other)
            # index may have shifted if other was an earlier sibling
            idx = parent.children.index(self)
        parent.children[idx] = other
        other.parent = parent
        self.parent = None

    # ------------------------------------------------------------- structure

    def next_sibling(self):
        p = self.parent
        if p is None:
            return None
        i = p.children.index(self)
        return p.children[i + 1] if i + 1 < len(p.children) else None

    def prev_element_sibling(self):
        p = self.parent
        if p is None:
            return None
        i = p.children.index(self)
        for j in range(i - 1, -1, -1):
            if p.children[j].kind == ELEMENT:
                return p.children[j]
        return None

    def ancestors(self):
        """All ancestors from parent upward (excluding self)."""
        out = []
        n = self.parent
        while n is not None:
            out.append(n)
            n = n.parent
        return out

    def descendants(self):
        """All descendants in document order (excluding self)."""
        out = []
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            out.append(n)
            if n.children:
                stack.extend(reversed(n.children))
        return out

    # --------------------------------------------------------------- content

    def text(self):
        """Concatenated text of all descendant (or self) text nodes, document
        order, no normalization (dom_query Node::text semantics).  One
        preorder loop over child iterators, valid at any depth: ``stack``
        holds only the suspended iterators of the open ancestors."""
        if self.kind == TEXT:
            return self.data
        parts = []
        append = parts.append
        stack = []
        it = iter(self.children)
        while True:
            for n in it:
                if n.kind == TEXT:
                    append(n.data)
                elif n.children:
                    stack.append(it)
                    it = iter(n.children)
                    break
            else:
                if not stack:
                    return "".join(parts)
                it = stack.pop()

    # ----------------------------------------------------------------- attrs

    def attr(self, name):
        return self.attrs.get(name)

    def set_attr(self, name, value):
        self.attrs[name] = value

    def remove_attrs(self, names):
        for name in names:
            self.attrs.pop(name, None)

    def rename(self, name):
        # tag selectors depend on the name -> bump revision
        global _REV
        _REV += 1
        self.name = name


def new_element(name, attrs=None):
    return Node(ELEMENT, name=name, attrs=dict(attrs) if attrs else {})


def _adopt(parent, child):
    """Parse-time append: the tree builder only ever appends freshly created
    nodes (never re-parents), so the detach check and per-append ``_REV``
    bump in ``append_child`` are dead weight there — ``finish()`` bumps the
    revision once for the whole parse."""
    child.parent = parent
    parent.children.append(child)


def new_text(data):
    return Node(TEXT, data=data)


# ============================================================== tree builder

# Fast-tokenizer support regexes.  _STARTTAGOPEN matches the stdlib
# ``starttagopen``; the SIMPLE patterns are strict subsets of the stdlib
# tolerant tag grammar, so a fast-path hit parses identically.
_STARTTAGOPEN = _re.compile("<[a-zA-Z]")
_SIMPLE_START = _re.compile(r"<([a-zA-Z][a-zA-Z0-9]*)\s*(/?)>")
_SIMPLE_END = _re.compile(r"</([a-zA-Z][a-zA-Z0-9]*)\s*>")
# Well-formed attribute-ful start tag: whitespace-separated name[=value]
# attrs with plainly-quoted or bare values.  Strict subset of the stdlib
# tolerant grammar (no '=+' runs, no '/' separators, no backtick/quote-mix
# bare values), so a hit parses identically; anything else falls back.
_ATTR_START = _re.compile(
    r"<([a-zA-Z][a-zA-Z0-9]*)"
    r"((?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s>'\"`=<]+))?)+)"
    r"\s*(/?)>"
)
_ATTR_ITEM = _re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>'\"`=<]+))?"
)
# identical patterns to stdlib set_cdata_mode's per-call compile
_CDATA_CLOSE = {
    "script": _re.compile(r"</\s*script\s*>", _re.I),
    "style": _re.compile(r"</\s*style\s*>", _re.I),
}

# route parse_document through the stdlib HTMLParser tokenizer instead of
# fast_feed; tests/test_dom_tokenizer_diff.py::_both flips it to compare the two
_USE_STDLIB_TOKENIZER = False

# Tag-name intern cache: one lowercase string object per distinct tag name,
# so repeated tags skip the per-occurrence str.lower() allocation and later
# name comparisons are pointer-fast.  Bounded so adversarial pages with
# unbounded distinct tag names cannot grow worker memory.
_TAG_CACHE: dict = {}


def _tag(raw):
    t = _TAG_CACHE.get(raw)
    if t is None:
        t = raw.lower()
        if len(_TAG_CACHE) < 4096:
            _TAG_CACHE[raw] = t
    return t


class _TreeBuilder(HTMLParser):
    """HTML5-subset tree construction on top of the stdlib tokenizer.

    The stdlib tokenizer (with ``convert_charrefs=True``) already matches
    html5ever on: charref decoding in text and attribute values (same WHATWG
    table), script/style raw-text (CDATA) content, tag/attr lowercasing."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.document = Node(DOCUMENT)
        self.html = None
        self.head = None
        self.body = None
        # phase: 0 initial, 1 in_head, 2 after_head, 3 in_body
        self.phase = 0
        self.stack = []  # open elements, excluding html/head/body bookkeeping
        # <p> elements on the stack; while none is open, a start tag's
        # p-scope scan is skipped (every pop goes through _pop_to)
        self.open_p = 0

    # -------------------------------------------------------------- plumbing

    def updatepos(self, i, j):
        # line/offset bookkeeping is only consulted by getpos(), which this
        # builder never calls; skipping it saves ~3% of parse time
        return j

    def set_cdata_mode(self, elem):
        # stdlib recompiles the close-tag regex per <script>/<style>; use
        # the precompiled table (identical patterns)
        self.cdata_elem = elem.lower()
        self.interesting = _CDATA_CLOSE[self.cdata_elem]

    def fast_feed(self, rawdata):
        """Single-pass specialization of HTMLParser.feed()+close() for a
        complete input string with convert_charrefs=True: produces the exact
        same handler-call stream (differentially tested against the stdlib
        path, see tests/test_dom_tokenizer_diff.py).  Fast paths cover text
        runs and attribute-less start/end tags; every other construct
        delegates to the inherited stdlib parse_* methods over the same
        ``self.rawdata``, so tolerant-parsing edge cases stay bit-identical.
        """
        self.rawdata = rawdata
        try:
            i, n = 0, len(rawdata)
            handle_data = self.handle_data
            find = rawdata.find
            startswith = rawdata.startswith
            while i < n:
                if self.cdata_elem is None:
                    j = find("<", i)
                    if j < 0:
                        j = n
                    if i < j:
                        chunk = rawdata[i:j]
                        handle_data(_unescape(chunk) if "&" in chunk else chunk)
                else:
                    match = self.interesting.search(rawdata, i)
                    if match is None:
                        # unterminated raw text: stdlib drops the tail
                        # (goahead end=1 skips the final flush in cdata mode)
                        return
                    j = match.start()
                    if i < j:
                        handle_data(rawdata[i:j])
                i = j
                if i == n:
                    return
                # rawdata[i] == '<'
                if self.cdata_elem is None:
                    if rawdata.startswith("</", i):
                        m = _SIMPLE_END.match(rawdata, i)
                        if m is not None:
                            self.handle_endtag(_tag(m.group(1)))
                            i = m.end()
                            continue
                    else:
                        m = _SIMPLE_START.match(rawdata, i)
                        if m is not None:
                            tag = _tag(m.group(1))
                            if m.group(2):
                                self.handle_startendtag(tag, [])
                            else:
                                self.handle_starttag(tag, [])
                                if tag in self.CDATA_CONTENT_ELEMENTS:
                                    self.set_cdata_mode(tag)
                            i = m.end()
                            continue
                    m = _ATTR_START.match(rawdata, i)
                    if m is not None:
                        tag = _tag(m.group(1))
                        attrs = {}
                        for am in _ATTR_ITEM.finditer(m.group(2)):
                            name = am.group(1).lower()
                            if name in attrs:  # first-wins dedup
                                continue
                            value = am.group(2)
                            if value is None:
                                value = ""
                            else:
                                if value[0] in "\"'":
                                    value = value[1:-1]
                                if "&" in value:
                                    value = _unescape(value)
                            attrs[name] = value
                        if m.group(3):
                            self.handle_startendtag(tag, attrs)
                        else:
                            self.handle_starttag(tag, attrs)
                            if tag in self.CDATA_CONTENT_ELEMENTS:
                                self.set_cdata_mode(tag)
                        i = m.end()
                        continue
                if _STARTTAGOPEN.match(rawdata, i):
                    k = self.parse_starttag(i)
                elif startswith("</", i):
                    k = self.parse_endtag(i)
                elif startswith("<!--", i):
                    k = self.parse_comment(i)
                elif startswith("<?", i):
                    k = self.parse_pi(i)
                elif startswith("<!", i):
                    k = self.parse_html_declaration(i)
                elif i + 1 < n:
                    handle_data("<")
                    k = i + 1
                else:
                    break
                if k < 0:
                    # EOF recovery: HTMLParser.goahead(end=1) unterminated-
                    # construct path
                    k = find(">", i + 1)
                    if k < 0:
                        k = find("<", i + 1)
                        if k < 0:
                            k = i + 1
                    else:
                        k += 1
                    if self.cdata_elem is None:
                        chunk = rawdata[i:k]
                        handle_data(_unescape(chunk) if "&" in chunk else chunk)
                    else:
                        handle_data(rawdata[i:k])
                i = k
            if i < n and self.cdata_elem is None:
                chunk = rawdata[i:n]
                handle_data(_unescape(chunk) if "&" in chunk else chunk)
        finally:
            # close() must not re-tokenize via goahead(1)
            self.rawdata = ""

    def _current(self):
        return self.stack[-1] if self.stack else None

    def _ensure_html(self, attrs=None):
        if self.html is None:
            self.html = new_element("html", attrs)
            _adopt(self.document, self.html)
            self.stack.append(self.html)
        elif attrs:
            # <html> seen again: merge new attrs (first-wins per html5ever)
            for k, v in attrs.items():
                self.html.attrs.setdefault(k, v)

    def _ensure_head(self, attrs=None):
        self._ensure_html()
        if self.head is None:
            self.head = new_element("head", attrs)
            _adopt(self.html, self.head)
        if self.phase == 0:
            self.phase = 1

    def _close_head(self):
        if self.phase <= 1:
            self._ensure_head()
            if self.stack and self.stack[-1] is self.head:
                self._pop_to(len(self.stack) - 1)
            self.phase = 2

    def _ensure_body(self, attrs=None):
        self._close_head()
        if self.body is None:
            self.body = new_element("body", attrs)
            _adopt(self.html, self.body)
            # stack currently holds html at bottom
            self.stack.append(self.body)
        elif attrs:
            for k, v in attrs.items():
                self.body.attrs.setdefault(k, v)
        self.phase = 3

    def _insert(self, node, foster_ok=True):
        cur = self._current()
        if cur is None:
            self._ensure_body()
            cur = self._current()
        if (
            foster_ok
            and cur.name in _FOSTER_CONTEXTS
            and not (node.kind == TEXT and node.data.strip() == "")
            and not (node.kind == ELEMENT and node.name in _TABLE_PARTS)
        ):
            # minimal foster parenting: insert before the nearest table
            table = cur
            while table is not None and table.name != "table":
                table = table.parent
            if table is not None and table.parent is not None:
                tp = table.parent
                tp.children.insert(tp.children.index(table), node)
                node.parent = tp
                return
        _adopt(cur, node)

    def _append_text(self, data):
        stack = self.stack
        cur = stack[-1] if stack else None
        if cur is None:
            self._ensure_body()
            cur = self.stack[-1]
        children = cur.children
        last = children[-1] if children else None
        if (
            last is not None
            and last.kind == TEXT
            and not (cur.name in _FOSTER_CONTEXTS and data.strip() != "")
        ):
            last.data += data
        elif cur.name not in _FOSTER_CONTEXTS:
            node = new_text(data)  # inlined non-foster _insert
            node.parent = cur
            children.append(node)
        else:
            self._insert(new_text(data))

    def _pop_to(self, i):
        """Truncate the open-element stack to its first ``i`` entries."""
        stack = self.stack
        if self.open_p:
            self.open_p -= [n.name for n in stack[i:]].count("p")
        del stack[i:]

    def _close_in_scope(self, tags, stop):
        if not self.open_p and tags == _P:
            return
        stack = self.stack
        for i in range(len(stack) - 1, -1, -1):
            name = stack[i].name
            if name in tags:
                self._pop_to(i)
                return
            if name in stop:
                return

    # ------------------------------------------------------------- tokenizer

    def handle_decl(self, decl):
        if decl.lower().startswith("doctype"):
            node = Node(DOCTYPE, data=decl[len("doctype") :].strip())
            _adopt(self.document, node)

    def handle_comment(self, data):
        node = Node(COMMENT, data=data)
        if self.phase == 0 and self.html is None:
            _adopt(self.document, node)
        elif self.phase <= 1:
            self._ensure_head()
            _adopt(self.head, node)
        elif self.phase == 2:
            _adopt(self.html, node)
        else:
            self._insert(node)

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag not in VOID_ELEMENTS:
            self.handle_endtag(tag)

    def handle_starttag(self, tag, attrs):
        # fast_feed passes an already-deduped dict; the stdlib tokenizer
        # passes (name, value) pairs with first-wins dedup semantics
        if type(attrs) is dict:
            attrd = attrs
        else:
            attrd = {}
            for k, v in attrs:
                if k not in attrd:
                    attrd[k] = v if v is not None else ""

        if tag == "html":
            self._ensure_html(attrd)
            return
        if tag == "head":
            self._ensure_head(attrd)
            self.stack.append(self.head)
            return
        if tag == "body":
            self._ensure_body(attrd)
            return
        if self.phase < 3 and tag in HEAD_ELEMENTS:
            # head-element start tag before <body>: insert into the current
            # open head element if one is open, else into <head> itself
            # ("after head" mode re-inserts such elements into head too)
            self._ensure_head()
            cur = self._current()
            target = (
                cur
                if cur is not None and cur is not self.html and cur is not self.head
                else self.head
            )
            node = Node(ELEMENT, name=tag, attrs=attrd)
            _adopt(target, node)
            if tag not in VOID_ELEMENTS:
                self.stack.append(node)
            return

        if self.phase < 3:
            self._ensure_body()

        closes = _IMPLIED_CLOSES.get(tag)
        if closes is not None:
            self._close_in_scope(*closes)

        cur = self._current()
        # table section synthesis
        if tag == "tr" and cur is not None and cur.name == "table":
            tbody = new_element("tbody")
            _adopt(cur, tbody)
            self.stack.append(tbody)
            cur = tbody
        elif tag in ("td", "th") and cur is not None and cur.name == "table":
            tbody = new_element("tbody")
            _adopt(cur, tbody)
            self.stack.append(tbody)
            tr = new_element("tr")
            _adopt(tbody, tr)
            self.stack.append(tr)
            cur = tr
        elif tag in ("td", "th") and cur is not None and cur.name in _TABLE_SECTIONS:
            tr = new_element("tr")
            _adopt(cur, tr)
            self.stack.append(tr)
            cur = tr
        elif tag in _TABLE_SECTIONS and cur is not None and cur.name in _TABLE_SECTIONS:
            self._pop_to(len(self.stack) - 1)

        node = Node(ELEMENT, name=tag, attrs=attrd)
        if cur is not None and cur.name not in _FOSTER_CONTEXTS:
            _adopt(cur, node)  # inlined _insert fast path
        else:
            self._insert(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)
            if tag == "p":
                self.open_p += 1

    def handle_endtag(self, tag):
        if tag == "html":
            return
        if tag == "head":
            self._close_head()
            return
        if tag == "body":
            # leave body open; trailing content still lands in body
            if self.body is not None:
                i = len(self.stack)
                while i and self.stack[i - 1] is not self.body:
                    i -= 1
                self._pop_to(i)
            return
        if tag == "br":
            # </br> is treated as <br> by html5
            self.handle_starttag("br", [])
            return
        # only self.html and self.body carry those names on the stack;
        # an unmatched end tag is ignored
        self._close_in_scope((tag,), _END_TAG_SCOPE_STOP)

    def handle_data(self, data):
        if not data:
            return
        if self.phase >= 3:
            self._append_text(data)
            return
        cur = self._current()
        if cur is not None and cur is not self.html and cur is not self.head:
            # inside an open head element (title/script/style/noscript/...)
            self._append_to(cur, data)
            return
        if data.strip() == "":
            # whitespace handling per insertion mode: dropped before head,
            # kept inside head, appended to <html> between head and body
            if self.phase == 1:
                self._ensure_head()
                self._append_to(self.head, data)
            elif self.phase == 2:
                self._append_to(self.html, data)
            return
        # non-whitespace character token opens the body; leading whitespace
        # chars were individually ignored in the pre-head modes
        if self.phase == 0:
            data = data.lstrip()
        self._ensure_body()
        self._append_text(data)

    def _append_to(self, node, data):
        last = node.children[-1] if node.children else None
        if last is not None and last.kind == TEXT:
            last.data += data
        else:
            _adopt(node, new_text(data))

    def finish(self):
        global _REV
        self.close()
        self._ensure_body()
        # one revision bump covers every parse-time _adopt
        _REV += 1
        return self.document


def parse_document(html):
    """Parse an HTML string into a DOCUMENT node (dom_query::Document::from)."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8")
    # html5ever input-stream preprocessing; conditional so the common clean
    # input (no CR, no NUL) costs zero full-string copies
    if "\r" in html:
        html = html.replace("\r\n", "\n").replace("\r", "\n")
    if "\x00" in html:
        html = html.replace("\x00", "�")
    builder = _TreeBuilder()
    if _USE_STDLIB_TOKENIZER:
        builder.feed(html)
    else:
        builder.fast_feed(html)
    return builder.finish()


# ================================================================ serializer


_TEXT_ESCAPES = {"&": "&amp;", "\xa0": "&nbsp;", "<": "&lt;", ">": "&gt;"}
_ATTR_ESCAPES = {"&": "&amp;", "\xa0": "&nbsp;", '"': "&quot;"}


def _escape_text(s):
    if "&" in s or "\xa0" in s or "<" in s or ">" in s:
        for ch, rep in _TEXT_ESCAPES.items():
            s = s.replace(ch, rep)
    return s


def _escape_attr(s):
    if "&" in s or "\xa0" in s or '"' in s:
        for ch, rep in _ATTR_ESCAPES.items():
            s = s.replace(ch, rep)
    return s


def _serialize_into(node, out, raw):
    # iterative (explicit stack): Common-Crawl junk pages can nest deeper
    # than Python's recursion limit; a close-tag sentinel string is pushed
    # after each non-void element's children
    stack = [(node, raw)]
    while stack:
        item = stack.pop()
        if type(item) is str:  # close-tag sentinel
            out.append(item)
            continue
        n, r = item
        kind = n.kind
        if kind == TEXT:
            out.append(n.data if r else _escape_text(n.data))
            continue
        if kind == COMMENT:
            out.append(f"<!--{n.data}-->")
            continue
        if kind == DOCTYPE:
            out.append(f"<!DOCTYPE {n.data}>")
            continue
        if kind == DOCUMENT:
            for child in reversed(n.children):
                stack.append((child, False))
            continue
        # element
        out.append("<")
        out.append(n.name)
        for k, v in n.attrs.items():
            out.append(f' {k}="{_escape_attr(v)}"')
        out.append(">")
        if n.name in VOID_ELEMENTS:
            continue
        stack.append(f"</{n.name}>")
        child_raw = n.name in RAW_TEXT_ELEMENTS
        for child in reversed(n.children):
            stack.append((child, child_raw))


def serialize(node):
    """Serialize a node (outer HTML for elements; whole doc for DOCUMENT)
    using html5ever's serializer rules."""
    out = []
    _serialize_into(node, out, False)
    return "".join(out)


def inner_html(node):
    out = []
    raw = node.kind == ELEMENT and node.name in RAW_TEXT_ELEMENTS
    for child in node.children:
        _serialize_into(child, out, raw)
    return "".join(out)


# ================================================================= selectors

# The engine's one selector form (SURVEY.md section 7.1): a comma list of
# lowercase tag names ("h1, h2"), or "*" for every element.
_TAG_NAME = _re.compile(r"[a-z][a-z0-9]*")


@_lru_cache(maxsize=256)
def _tag_set(selector):
    """The frozenset of tag names ``selector`` lists, or None for "*";
    cached per selector string (stages pass the same literals for every
    document).  Any other selector raises ValueError rather than silently
    matching nothing."""
    if selector == "*":
        return None
    names = [part.strip() for part in selector.split(",")]
    if not all(_TAG_NAME.fullmatch(name) for name in names):
        raise ValueError(
            f"unsupported selector {selector!r}: expected a comma list of "
            "lowercase tag names, or '*'"
        )
    return frozenset(names)


# Single-entry flat-element cache: (root, rev, elements-in-document-order).
# Stages issue ~16 document-level selects per page but mutate the tree in
# only ~8 of the 16 stages, so sharing one walk across the read-only spans
# roughly halves tree-walk cost.  Callers always receive a fresh filtered
# list, so snapshot-then-mutate iteration semantics are unchanged.
_elements_cache = (None, -1, None)


def _elements(root):
    """Every element under ``root`` (excluding ``root``) in document order:
    the one element walk behind select() and element_count(), the same
    loop over child iterators as Node.text(), valid at any depth.  The
    cache is keyed on (root, _REV), so it is correct only while every
    structural change after parsing goes through a Node method that bumps
    _REV; no module but this one touches ``.children`` or ``.parent``
    directly (tests/test_dom_walk.py audits that)."""
    global _elements_cache
    croot, crev, celems = _elements_cache
    if croot is root and crev == _REV:
        return celems
    elems = []
    append = elems.append
    stack = []
    it = iter(root.children)
    while True:
        for n in it:
            if n.kind == ELEMENT:
                append(n)
                if n.children:
                    stack.append(it)
                    it = iter(n.children)
                    break
        else:
            if not stack:
                break
            it = stack.pop()
    _elements_cache = (root, _REV, elems)
    return elems


def select(root, selector):
    """All descendant elements of ``root`` whose tag ``selector`` lists, in
    document order (dom_query Document/Selection::select): a filter over
    the cached element walk, or a copy of it for "*"."""
    tags = _tag_set(selector)
    elems = _elements(root)
    if tags is None:
        return elems[:]
    return [n for n in elems if n.name in tags]


def select_first_attr(root, selector, name):
    """First matching node's attribute (reference Document::attribute,
    /root/reference/src/document.rs:8-16)."""
    nodes = select(root, selector)
    if not nodes:
        return None
    return nodes[0].attrs.get(name)


def element_count(root):
    """Count of element nodes (reference Document::element_count,
    /root/reference/src/document.rs:18-26)."""
    return len(_elements(root))
