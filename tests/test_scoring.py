"""Arc90 scoring-pass semantics (readability_spark/scoring.py).

The reference declares but never implements this pass (SURVEY.md section 0:
link_density_bias / min_text_length / n_top_candidates / preserved_classes
have no reader in /root/reference/src/). These tests pin OUR frozen
semantics — the public mozilla/readability algorithm — as the golden
behavior (SURVEY.md section 7.1 step 6).
"""

import pytest

from readability_spark import dom, scoring
from readability_spark.options import Options
from readability_spark.pipeline import extract


def parse_body(html):
    return dom.parse_document(f"<html><body>{html}</body></html>")


def by_id(root, tag, id_):
    """``tag`` elements under ``root`` whose id is ``id_``."""
    return [n for n in dom.select(root, tag) if n.attrs.get("id") == id_]


LONG = (
    "This paragraph has enough prose, with commas, to be a serious scoring "
    "candidate for the content selector in every conceivable configuration. "
) * 3


class TestPrimitives:
    def test_tag_weights(self):
        assert scoring.initialize_score(dom.new_element("div")) == 5
        assert scoring.initialize_score(dom.new_element("pre")) == 3
        assert scoring.initialize_score(dom.new_element("ol")) == -3
        assert scoring.initialize_score(dom.new_element("h2")) == -5
        assert scoring.initialize_score(dom.new_element("p")) == 0

    def test_class_weight_positive_negative(self):
        assert scoring.class_weight(dom.new_element("div", {"class": "article"})) == 25
        assert scoring.class_weight(dom.new_element("div", {"id": "comment"})) == -25
        # both signals on one node compose: positive class + negative id
        node = dom.new_element("div", {"class": "main", "id": "sidebar"})
        assert scoring.class_weight(node) == 0
        # a value matching both regexes nets zero
        assert scoring.class_weight(dom.new_element("div", {"class": "post share"})) == 0

    def test_link_density(self):
        doc = parse_body('<div id="d">aaaa<a href="#">bbbb</a></div>')
        div = dom.select(doc, "div")[0]
        assert scoring.link_density(div) == pytest.approx(0.5)
        assert scoring.link_density(dom.new_element("div")) == 0.0

    def test_comma_and_length_seeding(self):
        text_a = "x" * 30  # no commas, <100 chars -> 1.0
        text_b = "a, b, c " + "y" * 300  # 2 commas + capped len bonus 3 -> 6.0
        doc = parse_body(f"<div id='w'><p>{text_a}</p></div>")
        scores = scoring.score_candidates(doc)
        p = dom.select(doc, "p")[0]
        w = dom.select(doc, "div")[0]
        # parent gets full seed + its init (div +5); p itself is not seeded
        assert scores[w] == pytest.approx(5 + 1.0)
        assert p not in scores
        doc_b = parse_body(f"<div id='w'><p>{text_b}</p></div>")
        w_b = dom.select(doc_b, "div")[0]
        assert scoring.score_candidates(doc_b)[w_b] == pytest.approx(5 + 6.0)

    def test_ancestor_propagation_dividers(self):
        doc = parse_body(
            "<div id='g'><div id='par'><p>" + "z" * 120 + "</p></div></div>"
        )
        scores = scoring.score_candidates(doc)
        par = by_id(doc, "div", "par")[0]
        g = by_id(doc, "div", "g")[0]
        body = dom.select(doc, "body")[0]
        seed = 1.0 + 1  # len 120 -> +1
        assert scores[par] == pytest.approx(5 + seed)  # level 0: full
        assert scores[g] == pytest.approx(5 + seed / 2)  # level 1: half
        assert scores[body] == pytest.approx(0 + seed / 6)  # level 2: /(3*2)

    def test_short_text_does_not_seed(self):
        doc = parse_body("<div><p>tiny</p></div>")
        assert scoring.score_candidates(doc) == {}


class TestSelection:
    def test_top_candidate_prefers_content_div(self):
        doc = parse_body(
            f"<div id='main-content'><p>{LONG}</p><p>{LONG}</p></div>"
            "<div id='sidebar-x'><p>short promo text that still scores here</p></div>"
        )
        top, _ = scoring.top_candidate(doc, Options())
        assert top.attrs.get("id") == "main-content"

    def test_link_density_penalty_flips_winner(self):
        linky = f"<a href='#'>{LONG}</a><a href='#'>{LONG}</a>"
        doc = parse_body(
            f"<div id='nav'><p>{linky}</p></div>"
            f"<div id='art'><p>{LONG}</p></div>"
        )
        top, _ = scoring.top_candidate(doc, Options())
        assert top.attrs.get("id") == "art"
        # a bias of 1.0 forgives all link density -> nav's higher raw score wins
        top_biased, _ = scoring.top_candidate(doc, Options(link_density_bias=1.0))
        assert top_biased.attrs.get("id") == "nav"

    def test_sibling_merge_pulls_qualifying_paragraph(self):
        doc = parse_body(
            f"<div id='art'><p>{LONG}</p><p>{LONG}</p></div>"
            f"<p id='stray'>{'Meaningful trailing prose with no links at all. ' * 3}</p>"
        )
        wrapper = scoring.grab_article(doc, Options(min_text_length=0))
        ids = [n.attrs.get("id") for n in wrapper.children]
        assert ids[0] == "art"
        texts = wrapper.text()
        assert "Meaningful trailing prose" in texts

    def test_preserved_classes_sibling_kept(self):
        kept_text = "Preserved supplementary prose that stands on its own."
        doc = parse_body(
            f"<div id='art'><p>{LONG}</p></div>"
            f"<div class='page' id='pg'>{kept_text}</div>"
        )
        wrapper = scoring.grab_article(doc, Options(min_text_length=0))
        assert kept_text in wrapper.text()
        # a near-empty preserved sibling is still selected but then pruned by
        # the prep pass (mozilla _cleanConditionally ignores preserved classes)
        doc2 = parse_body(
            f"<div id='art'><p>{LONG}</p></div><div class='page' id='pg'>k</div>"
        )
        w2 = scoring.grab_article(doc2, Options(min_text_length=0))
        assert all(n.attrs.get("id") != "pg" for n in w2.children)
        # fresh parse with prep off -> the preserved sibling survives
        doc3 = parse_body(
            f"<div id='art'><p>{LONG}</p></div><div class='page' id='pg'>k</div>"
        )
        w3 = scoring.grab_article(
            doc3, Options(min_text_length=0, clean_conditionally=False)
        )
        assert any(n.attrs.get("id") == "pg" for n in w3.children)

    def test_min_text_length_fallback_leaves_document_intact(self):
        html = "<html><body><div id='art'><p>Short, but a candidate anyway.</p></div></body></html>"
        a_default = extract(html)
        a_scored = extract(html, options=Options(content_extraction=True))
        assert a_scored.text_content == a_default.text_content
        assert a_scored.content == a_default.content

    def test_no_candidates_falls_back(self):
        html = "<html><body><span>tiny</span></body></html>"
        a = extract(html, options=Options(content_extraction=True, min_text_length=0))
        assert a.text_content == "tiny"


class TestEndToEnd:
    def test_scored_extract_drops_boilerplate(self):
        html = (
            "<html><head><title>T | Site</title></head><body>"
            "<div id='nav-menu'><a href='/'>Home</a><a href='/x'>More</a></div>"
            f"<div id='story-body'><h1>T</h1><p>{LONG}</p><p>{LONG}</p></div>"
            "<div id='footer-links'><a href='/a'>a</a></div>"
            "</body></html>"
        )
        a = extract(html, options=Options(content_extraction=True, min_text_length=0))
        assert a.text_content.startswith("T")
        assert "Home" not in a.text_content
        assert a.content.startswith('<div id="readability-content">')
        # metadata pipeline unaffected by the scoring pass
        assert a.title == "T"

    def test_n_top_candidates_does_not_change_the_pick(self):
        # mozilla reads n_top_candidates only for its alternative-ancestor
        # promotion, which is not ported: any value picks the same node
        doc = parse_body(
            f"<div id='a'><p>{LONG}</p><p>{LONG}</p></div>"
            f"<div id='b'><p>{LONG}</p></div><div id='c'><p>short, text</p></div>"
        )
        one, _ = scoring.top_candidate(doc, Options(n_top_candidates=1))
        five, _ = scoring.top_candidate(doc, Options(n_top_candidates=5))
        assert one is five
        assert one.attrs.get("id") == "a"


def test_use_json_ld_gate():
    from readability_spark.options import Options
    from readability_spark.pipeline import extract

    html = (
        '<html><head><script type="application/ld+json">'
        '{"@context":"https://schema.org","@type":"Article","name":"LD Title"}'
        "</script><title>Doc Title</title></head><body><p>text</p></body></html>"
    )
    assert extract(html).title == "LD Title"
    assert extract(html, options=Options(use_json_ld=False)).title == "Doc Title"


def test_clean_classes_consumes_keep_classes():
    from readability_spark.options import Options
    from readability_spark.pipeline import extract

    body = (
        "<body><div class='page content'><p class='lead para'>"
        + "word " * 30
        + "</p></div></body>"
    )
    # default: only preserved classes ('page') survive in scored content
    art = extract(body, options=Options(content_extraction=True, min_text_length=0))
    assert "class=\"page\"" in art.content or "class='page'" in art.content.replace('"', "'")
    assert "lead" not in art.content
    # keep_classes: everything survives
    art2 = extract(
        body,
        options=Options(content_extraction=True, min_text_length=0, keep_classes=True),
    )
    assert "lead para" in art2.content
    # default pipeline (no scoring) never strips classes (reference parity)
    art3 = extract(body)
    assert "lead para" in art3.content
