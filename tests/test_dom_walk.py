"""The tree walks: the shared element walk behind ``dom.select`` and
``dom.element_count`` and the text walk of ``Node.text``, on DOMs deeper than
the recursion limit; cache invalidation after every tree mutation; the
source invariant the cache relies on; and ``remove_empty_containers``
deciding from a node's children without walking its subtree."""

import ast
import re
import sys
from pathlib import Path

import pytest

from readability_spark import dom

DEPTH = 3000


def reference_nodes(root, kind=dom.ELEMENT):
    """Plain iterative preorder walk: every ``kind`` node under ``root``."""
    out = []
    stack = list(reversed(root.children))
    while stack:
        n = stack.pop()
        if n.kind == kind:
            out.append(n)
        stack.extend(reversed(n.children))
    return out


REFERENCE_MATCH = {
    "a": lambda n: n.name == "a",
    "*": lambda n: True,
}


@pytest.fixture(scope="module")
def deep_doc():
    assert sys.getrecursionlimit() < DEPTH  # deeper than the recursion limit
    return dom.parse_document("<html><body>" + "<div><a>x</a>" * DEPTH)


@pytest.mark.parametrize("selector", sorted(REFERENCE_MATCH))
@pytest.mark.parametrize("root_at", ["document", "inner element"])
def test_deep_select_matches_reference_walk(deep_doc, selector, root_at):
    root = deep_doc if root_at == "document" else dom.select(deep_doc, "div")[5]
    want = [n for n in reference_nodes(root) if REFERENCE_MATCH[selector](n)]
    assert len(want) > DEPTH // 2
    got = dom.select(root, selector)
    assert len(got) == len(want)
    assert all(g is w for g, w in zip(got, want))
    assert dom.element_count(root) == len(reference_nodes(root))


@pytest.mark.parametrize("root_at", ["document", "inner element"])
def test_deep_text_matches_reference_join(deep_doc, root_at):
    root = deep_doc if root_at == "document" else dom.select(deep_doc, "div")[5]
    want = "".join(n.data for n in reference_nodes(root, dom.TEXT))
    assert len(want) > DEPTH // 2
    assert root.text() == want


def test_remove_empty_containers_walks_no_text(monkeypatch):
    # a 2 000-deep <div>x chain: every div has a text child, so each is kept
    # without a subtree text() walk (one per div would cost nodes x depth)
    from readability_spark import stages
    from readability_spark.model import Context
    from readability_spark.options import DEFAULT_OPTIONS

    doc = dom.parse_document("<html><body>" + "<div>x" * 2000)
    calls = []
    text = dom.Node.text
    monkeypatch.setattr(dom.Node, "text", lambda self: calls.append(1) or text(self))
    stages.remove_empty_containers(Context(document=doc, options=DEFAULT_OPTIONS))
    assert calls == []
    assert len(dom.select(doc, "div")) == 2000


def parse_list():
    doc = dom.parse_document("<html><body><div><p>1</p><p>2</p><span>s</span></div>")
    return doc, dom.select(doc, "div")[0]


def test_append_child_invalidates():
    _, div = parse_list()
    assert len(dom.select(div, "p")) == 2
    div.append_child(dom.new_element("p"))
    assert len(dom.select(div, "p")) == 3


def test_moving_a_node_invalidates():
    doc, div = parse_list()
    body = dom.select(doc, "body")[0]
    assert len(dom.select(div, "p")) == 2
    body.append_child(dom.select(div, "p")[0])
    assert [p.text() for p in dom.select(div, "p")] == ["2"]


def test_remove_from_parent_invalidates():
    _, div = parse_list()
    first = dom.select(div, "p")[0]
    first.remove_from_parent()
    assert [p.text() for p in dom.select(div, "p")] == ["2"]


def test_replace_with_invalidates():
    _, div = parse_list()
    dom.select(div, "p")[1].replace_with(dom.new_element("em"))
    assert [p.text() for p in dom.select(div, "p")] == ["1"]
    assert [n.name for n in dom.select(div, "*")] == ["p", "em", "span"]


def test_parsing_another_document_gives_fresh_results():
    doc, div = parse_list()
    assert len(dom.select(div, "p")) == 2
    other = dom.parse_document("<html><body><p>a</p><p>b</p><p>c</p>")
    assert [p.text() for p in dom.select(other, "p")] == ["a", "b", "c"]
    assert [p.text() for p in dom.select(doc, "p")] == ["1", "2"]


def test_alternating_roots_keep_their_own_elements():
    doc, div = parse_list()
    a = dom.select(div, "*")
    b = dom.select(doc, "*")
    assert len(b) > len(a)
    again = dom.select(div, "*")
    assert len(again) == len(a) and all(x is y for x, y in zip(again, a))


def test_select_returns_a_list_the_caller_may_change():
    _, div = parse_list()
    dom.select(div, "*").clear()
    assert len(dom.select(div, "*")) == 3


# Direct structural writes that would bypass the _REV bump the element
# cache relies on: assigning ``.parent``, assigning/deleting through
# ``.children``, or calling a list mutator on it.
_MUTATION = re.compile(
    r"\.parent\s*=(?!=)"
    r"|\.children\s*(\[[^\]]*\])?\s*[+*]?=(?!=)"
    r"|\bdel\s+[\w.]+\.children\b"
    r"|\.children\.(append|extend|insert|remove|pop|clear|sort|reverse)\("
)


def test_only_dom_mutates_tree_structure():
    package = Path(__file__).resolve().parents[1] / "readability_spark"
    for path in package.rglob("*.py"):
        if path.name == "dom.py" and path.parent == package:
            continue
        text = path.read_text(encoding="utf-8")
        assert not _MUTATION.search(text), (path, _MUTATION.search(text).group(0))


@pytest.mark.parametrize(
    "line",
    [
        "node.parent = other",
        "node.children = []",
        "node.children[0] = x",
        "node.children += kids",
        "del node.children[1:]",
        "node.children.insert(0, x)",
        "parent.children.remove(node)",
    ],
)
def test_mutation_audit_catches(line):
    assert _MUTATION.search(line)


@pytest.mark.parametrize(
    "line",
    ["if node.parent == p:", "stack.extend(n.children)", "kids = list(node.children)"],
)
def test_mutation_audit_ignores_reads(line):
    assert not _MUTATION.search(line)


# --------------------------------------------------------------- selectors


@pytest.mark.parametrize("selector", ["div > a", "div[id='x']", "DIV", "div, *", ""])
def test_select_rejects_other_selector_forms(selector):
    doc, _ = parse_list()
    with pytest.raises(ValueError, match="unsupported selector"):
        dom.select(doc, selector)
    with pytest.raises(ValueError, match="unsupported selector"):
        dom.select_first_attr(doc, selector, "id")


def test_select_takes_tag_lists():
    doc, _ = parse_list()
    assert [n.name for n in dom.select(doc, "span,p")] == ["p", "p", "span"]
    assert [n.name for n in dom.select(doc, " span , div ")] == ["div", "span"]


def _selector_literals(tree, path):
    """(where, selector) for each selector argument of a ``select`` or
    ``select_first_attr`` call in ``tree`` that is a string literal or a
    module-level string constant."""
    constants = {
        t.id: node.value.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or len(node.args) < 2:
            continue
        func = node.func
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
        if name not in ("select", "select_first_attr"):
            continue
        arg = node.args[1]
        where = f"{path.name}:{node.lineno}"
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            yield where, arg.value
        elif isinstance(arg, ast.Name) and arg.id in constants:
            yield where, constants[arg.id]


def test_engine_selectors_are_tag_lists():
    # a rarely run branch with another selector form would raise only when
    # a page reaches it; this audit checks every literal up front
    package = Path(__file__).resolve().parents[1] / "readability_spark"
    found = []
    for path in package.rglob("*.py"):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        found += _selector_literals(tree, path)
    assert len(found) > 40
    for where, selector in found:
        try:
            dom._tag_set(selector)
        except ValueError:
            pytest.fail(f"{where}: unsupported selector {selector!r}")


def test_selector_audit_catches():
    tree = ast.parse(
        'SEL = "div > a"\n'
        "dom.select(doc, \"script[type='x']\")\n"
        "dom.select_first_attr(doc, SEL, 'id')\n"
        "dom.select(doc, tag)\n"
    )
    got = [s for _, s in _selector_literals(tree, Path("m.py"))]
    assert got == ["script[type='x']", "div > a"]


# ------------------------------------------------------------ tree builder


class _CountingStack(list):
    """An open-element stack that counts the entries the builder reads."""

    reads = 0

    def __getitem__(self, i):
        item = super().__getitem__(i)
        self.reads += len(item) if isinstance(i, slice) else 1
        return item


def scope_reads(html):
    builder = dom._TreeBuilder()
    builder.stack = _CountingStack()
    builder.fast_feed(html)
    builder.finish()
    return builder.stack.reads


@pytest.mark.parametrize("unit", ["<div>x", "<ul><li>x"])
def test_implied_close_work_is_linear_in_depth(unit):
    # unclosed nesting: a quadratic scope scan reads ~16x the stack entries
    # at 4n as at n, a linear one ~4x
    n = 500
    small = scope_reads("<html><body>" + unit * n)
    large = scope_reads("<html><body>" + unit * (4 * n))
    assert large <= 5 * small


class _CheckedBuilder(dom._TreeBuilder):
    """Asserts after every tag that ``open_p`` counts the open <p>s."""

    def _check(self):
        assert self.open_p == [n.name for n in self.stack].count("p")

    def handle_starttag(self, tag, attrs):
        super().handle_starttag(tag, attrs)
        self._check()

    def handle_endtag(self, tag):
        super().handle_endtag(tag)
        self._check()


def test_open_p_count_matches_stack(monkeypatch):
    from readability_spark.fixtures import build_rows

    monkeypatch.setattr(dom, "_TreeBuilder", _CheckedBuilder)
    pages = [r.html for r in build_rows(660)] + [
        "<p><object><div><p>a</div></object>b<p>c</body><p>d",
        "<table><tr><td><p>x<td><p>y</table><p>z</p></p><p/>",
        "<head><p>h</head><body><p><p><button><p></button></p>",
        "<ul><li><p>1<li><p>2</ul><dl><dt><p>3<dd><p>4</dl>",
    ]
    parsed = 0
    for html in pages:
        try:
            dom.parse_document(html)
        except UnicodeDecodeError:
            continue  # an undecodable row never reaches the builder
        parsed += 1
    assert parsed > 600
