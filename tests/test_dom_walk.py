"""The tree walks: the shared element walk behind ``dom.select`` and
``dom.element_count`` and the text walk of ``Node.text``, on DOMs deeper than
the recursion limit; cache invalidation after every tree mutation; the
source invariant the cache relies on; and ``remove_empty_containers``
deciding from a node's children without walking its subtree."""

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
    "div > a": lambda n: n.name == "a" and n.parent.name == "div",
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
