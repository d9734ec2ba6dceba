"""Arc90 candidate-scoring pass ("grab article").

The reference anticipates this pass but never implements it: the options
``link_density_bias``, ``min_text_length``, ``n_top_candidates`` and
``preserved_classes`` have no reader anywhere in its stages
(/root/reference/src/options.rs:14-30, SURVEY.md section 0), and
/root/reference/AGENTS.md:5-6 names porting Readability.js's scoring as the
goal. This module implements the public Arc90/mozilla-readability
semantics — score paragraph-like candidates by text length, comma count,
tag weight and class/id signals; propagate to ancestors; penalize link
density; pick the best-scoring candidate; merge qualifying siblings — and
consumes all of those options but ``n_top_candidates``. mozilla reads that
one only for its alternative-ancestor promotion, which is not ported here,
so it never changes the result. Because the reference has no scoring
output to match, the golden outputs for this pass are our own frozen run
(SURVEY.md section 7.1 step 6); the pass is opt-in via
``Options.content_extraction`` and the default pipeline output remains
byte-identical to the reference's whole-document behavior.

All constants below are the published mozilla/readability values
(Readability.js, Apache-2.0), transcribed from public knowledge of the
algorithm.
"""

from __future__ import annotations

import re

from . import dom

# class/id signal patterns (mozilla REGEXPS.positive / REGEXPS.negative)
POSITIVE = re.compile(
    r"(?i)article|body|content|entry|hentry|h-entry|main|page|pagination|post|text|blog|story"
)
NEGATIVE = re.compile(
    r"(?i)-ad-|hidden|^hid$| hid$| hid |^hid |banner|combx|comment|com-|contact|footer"
    r"|gdpr|masthead|media|meta|outbrain|promo|related|scroll|share|shoutbox|sidebar"
    r"|skyscraper|sponsor|shopping|tags|widget"
)

#: elements whose text seeds a content score (mozilla DEFAULT_TAGS_TO_SCORE)
TAGS_TO_SCORE = frozenset("section h2 h3 h4 h5 h6 p td pre".split())

#: block-ish tags that disqualify a <div> from being treated as a paragraph
DIV_TO_P_BLOCKERS = frozenset(
    "a blockquote dl div img ol p pre table ul select section h1 h2 h3 h4 h5 h6".split()
)

MIN_PARAGRAPH_LENGTH = 25  # chars of trimmed text before a node scores
SIBLING_SCORE_FLOOR = 10.0
SIBLING_SCORE_FRACTION = 0.2
MAX_SCORE_ANCESTORS = 5  # mozilla _getNodeAncestors(node, 5) propagation cap


def class_weight(node):
    """+-25 per class/id signal (mozilla _getClassWeight)."""
    weight = 0
    for value in (node.attrs.get("class"), node.attrs.get("id")):
        if not value:
            continue
        if NEGATIVE.search(value):
            weight -= 25
        if POSITIVE.search(value):
            weight += 25
    return weight


_TAG_WEIGHTS = {
    "div": 5,
    "pre": 3,
    "td": 3,
    "blockquote": 3,
    "address": -3,
    "ol": -3,
    "ul": -3,
    "dl": -3,
    "dd": -3,
    "dt": -3,
    "li": -3,
    "form": -3,
    "h1": -5,
    "h2": -5,
    "h3": -5,
    "h4": -5,
    "h5": -5,
    "h6": -5,
    "th": -5,
}


def initialize_score(node):
    """mozilla _initializeNode: tag weight + class/id weight."""
    return float(_TAG_WEIGHTS.get(node.name, 0)) + class_weight(node)


def link_density(node):
    """Linked text chars / total text chars (mozilla _getLinkDensity)."""
    total = len(node.text())
    if total == 0:
        return 0.0
    linked = sum(len(a.text()) for a in dom.select(node, "a"))
    return linked / total


def _inner_text(node):
    return node.text().strip()


def _is_paragraph_like_div(node):
    """A <div> with no block-level children behaves as a paragraph."""
    if node.name != "div":
        return False
    return not any(
        c.kind == dom.ELEMENT and c.name in DIV_TO_P_BLOCKERS for c in node.children
    )


def score_candidates(document):
    """One document-order pass: seed scores from paragraph-like nodes and
    propagate to ancestors (parent full, grandparent half, level L divided
    by 3L — mozilla _grabArticle ancestor loop, capped at 5 ancestor levels
    like mozilla _getNodeAncestors(node, 5)). Returns {node: score}
    BEFORE link-density scaling."""
    scores = {}
    for node in dom.select(document, "*"):
        if not (node.name in TAGS_TO_SCORE or _is_paragraph_like_div(node)):
            continue
        text = _inner_text(node)
        if len(text) < MIN_PARAGRAPH_LENGTH:
            continue
        content_score = 1.0 + text.count(",") + min(len(text) // 100, 3)
        for level, ancestor in enumerate(node.ancestors()):
            if level >= MAX_SCORE_ANCESTORS:
                break
            if ancestor.kind != dom.ELEMENT or ancestor.name in ("html",):
                break
            if level == 0:
                divider = 1.0
            elif level == 1:
                divider = 2.0
            else:
                divider = 3.0 * level
            if ancestor not in scores:
                scores[ancestor] = initialize_score(ancestor)
            scores[ancestor] += content_score / divider
    return scores


def top_candidate(document, options):
    """Scale by link density (biased by ``options.link_density_bias``:
    density below the bias is forgiven), then return the best-scoring
    candidate — deterministic tie-break on document order. None when
    nothing scored. ``options.n_top_candidates`` is not read: mozilla uses
    it only for the alternative-ancestor promotion, not ported here."""
    scores = score_candidates(document)
    if not scores:
        return None, {}
    order = {n: i for i, n in enumerate(dom.select(document, "*"))}
    final = {}
    for node, score in scores.items():
        density = max(0.0, link_density(node) - options.link_density_bias)
        final[node] = score * (1.0 - density)
    return min(final, key=lambda n: (-final[n], order[n])), final


def _preserved(node, options):
    classes = (node.attrs.get("class") or "").split()
    return any(c in options.preserved_classes for c in classes)


def _sibling_qualifies(sibling, top, final_scores, top_score, options):
    if sibling is top:
        return True
    if sibling.kind != dom.ELEMENT:
        return False
    if _preserved(sibling, options):
        return True
    threshold = max(SIBLING_SCORE_FLOOR, top_score * SIBLING_SCORE_FRACTION)
    bonus = 0.0
    if sibling.attrs.get("class") and sibling.attrs.get("class") == top.attrs.get("class"):
        bonus = top_score * 0.2
    if final_scores.get(sibling, 0.0) + bonus >= threshold:
        return True
    if sibling.name == "p":
        text = _inner_text(sibling)
        density = link_density(sibling)
        if len(text) > 80 and density < 0.25:
            return True
        if 0 < len(text) < 80 and density == 0.0 and (". " in text or text.endswith(".")):
            return True
    return False


def grab_article(document, options, title=None):
    """Select the article subtree: top candidate + qualifying siblings,
    wrapped in a fresh ``<div id="readability-content">``, then post-process
    with the mozilla ``_prepArticle`` pass (prep.py) — boilerplate
    form/fieldset/table/list/div stripping, embeds, share widgets, empty
    paragraphs — unless ``options.clean_conditionally`` is off.

    Returns the wrapper element, or None when no candidate scored or the
    selection's text is shorter than ``options.min_text_length`` (the
    caller then falls back to whole-document output, keeping the default
    pipeline's behavior as the safety net)."""
    top, final_scores = top_candidate(document, options)
    if top is None:
        return None
    top_score = final_scores.get(top, 0.0)

    parent = top.parent
    siblings = list(parent.children) if parent is not None else [top]
    selected = [
        s
        for s in siblings
        if s.kind == dom.ELEMENT
        and _sibling_qualifies(s, top, final_scores, top_score, options)
    ]

    # qualify BEFORE detaching anything, so a min_text_length miss leaves the
    # document intact for the caller's whole-document fallback
    combined = "".join(s.text() for s in selected)
    if len(combined.strip()) < options.min_text_length:
        return None

    wrapper = dom.new_element("div", {"id": "readability-content"})
    for sibling in selected:
        wrapper.append_child(sibling)
    if options.clean_conditionally:
        from .prep import prep_article

        prep_article(wrapper, final_scores, title=title)
    # mozilla _postProcessContent: simplifyNestedElements runs on every
    # parse output (not gated on cleanConditionally), before cleanClasses
    from .prep import simplify_nested_elements

    simplify_nested_elements(wrapper)
    clean_classes(wrapper, options)
    return wrapper


def clean_classes(root, options):
    """mozilla _cleanClasses post-process (Readability.js), finally
    consuming ``keep_classes``: unless keep_classes is set, every element
    under (and including) ``root`` keeps only the classes listed in
    ``options.preserved_classes``; an emptied class attr is removed."""
    if options.keep_classes:
        return
    preserved = set(options.preserved_classes)
    nodes = [root] if root.kind == dom.ELEMENT else []
    nodes += dom.select(root, "*")
    for node in nodes:
        cls = node.attr("class")
        if cls is None:
            continue
        kept = [c for c in cls.split() if c in preserved]
        if kept:
            node.set_attr("class", " ".join(kept))
        else:
            node.remove_attrs(("class",))
