"""mozilla _prepArticle / _cleanConditionally semantics (readability_spark/prep.py).

The reference anticipates this cleanup but never implements it (its
options.rs:14-30 knobs have no reader; AGENTS.md:5-6 names Readability.js
as the target).  These tests pin OUR frozen semantics — the published
mozilla/readability algorithm — the same way test_scoring.py pins the
scoring pass.
"""

import pytest

from readability_spark import dom, prep
from readability_spark.options import Options
from readability_spark.pipeline import extract

LONG = (
    "This paragraph has enough prose, with commas, to be a serious scoring "
    "candidate for the content selector in every conceivable configuration. "
) * 3


def parse_body(html):
    return dom.parse_document(f"<html><body>{html}</body></html>")


def by_id(root, tag, id_):
    """``tag`` elements under ``root`` whose id is ``id_``."""
    return [n for n in dom.select(root, tag) if n.attrs.get("id") == id_]


def wrap(html):
    """Parse a fragment and return a detached article wrapper around it,
    the shape prep_article receives from grab_article."""
    doc = parse_body(html)
    body = dom.select(doc, "body")[0]
    wrapper = dom.new_element("div", {"id": "readability-content"})
    for child in list(body.children):
        wrapper.append_child(child)
    return wrapper


class TestClean:
    def test_clean_removes_all_of_tag(self):
        w = wrap("<p>keep</p><footer>f</footer><aside>a</aside>")
        prep.clean(w, "footer")
        prep.clean(w, "aside")
        assert dom.serialize(w) == '<div id="readability-content"><p>keep</p></div>'

    def test_clean_keeps_allowed_video_iframe(self):
        w = wrap(
            '<iframe src="https://www.youtube.com/embed/x"></iframe>'
            '<iframe src="https://evil.example.com/ad"></iframe>'
        )
        prep.clean(w, "iframe")
        frames = dom.select(w, "iframe")
        assert len(frames) == 1
        assert "youtube" in frames[0].attrs["src"]

    def test_clean_keeps_vimeo_embed(self):
        w = wrap('<embed src="//player.vimeo.com/video/1">')
        prep.clean(w, "embed")
        assert len(dom.select(w, "embed")) == 1


class TestCleanStyles:
    def test_presentational_attributes_stripped(self):
        w = wrap('<p style="color:red" align="center" data-x="1">t</p>')
        prep.clean_styles(w)
        p = dom.select(w, "p")[0]
        assert "style" not in p.attrs and "align" not in p.attrs
        assert p.attrs["data-x"] == "1"

    def test_deprecated_size_attrs_on_table_elems(self):
        w = wrap('<table width="100" height="9"><tr><td width="5">c</td></tr></table>')
        prep.clean_styles(w)
        assert "width" not in dom.select(w, "table")[0].attrs
        assert "width" not in dom.select(w, "td")[0].attrs

    def test_svg_subtree_untouched(self):
        w = wrap('<svg style="fill:red"><rect style="x"></rect></svg>')
        prep.clean_styles(w)
        assert dom.select(w, "svg")[0].attrs.get("style") == "fill:red"


class TestMarkDataTables:
    def test_caption_and_th_mark_data(self):
        w = wrap(
            "<table id='a'><caption>C</caption><tr><td>x</td></tr></table>"
            "<table id='b'><tr><th>H</th></tr><tr><td>x</td></tr></table>"
            "<table id='c'><tr><td>layout</td></tr></table>"
        )
        marked = prep.mark_data_tables(w)
        ids = {t.attrs["id"] for t in marked}
        assert ids == {"a", "b"}

    def test_role_presentation_never_data(self):
        w = wrap('<table role="presentation"><tr><th>H</th></tr></table>')
        assert prep.mark_data_tables(w) == set()

    def test_big_grid_is_data(self):
        rows = "".join("<tr><td>1</td><td>2</td><td>3</td></tr>" for _ in range(4))
        w = wrap(f"<table>{rows}</table>")
        assert len(prep.mark_data_tables(w)) == 1  # 4x3 = 12 > 10

    def test_nested_table_is_layout(self):
        w = wrap(
            "<table id='outer'><tr><td><table><tr><td>i</td></tr></table>"
            "</td></tr></table>"
        )
        marked = prep.mark_data_tables(w)
        assert not any(t.attrs.get("id") == "outer" for t in marked)


class TestCleanConditionally:
    def test_link_dense_div_removed(self):
        links = "".join(f'<a href="/{i}">link {i} text</a>' for i in range(8))
        w = wrap(f'<div id="junk">{links}</div><div id="art"><p>{LONG}</p></div>')
        prep.clean_conditionally(w, "div")
        assert by_id(w, "div", "junk") == []
        assert len(by_id(w, "div", "art")) == 1

    def test_negative_weight_plus_score_removed(self):
        w = wrap('<div class="comment" id="c1"><p>Some comment text here.</p></div>')
        prep.clean_conditionally(w, "div")
        assert dom.select(w, "div") == []

    def test_form_with_inputs_removed(self):
        form = (
            '<form id="signup"><input name="a"><input name="b"><input name="c">'
            "<p>subscribe</p></form>"
        )
        w = wrap(f"<div id='art'><p>{LONG}</p></div>{form}")
        prep.clean_conditionally(w, "form")
        assert dom.select(w, "form") == []

    def test_comma_rich_content_kept(self):
        commas = "one, two, three, four, five, six, seven, eight, nine, ten, eleven"
        w = wrap(f"<div id='d'>{commas}</div>")
        prep.clean_conditionally(w, "div")
        assert len(dom.select(w, "div")) == 1

    def test_data_table_protected_layout_table_cleaned(self):
        links = "".join(f'<a href="/{i}">nav item {i}</a>' for i in range(6))
        w = wrap(
            f"<table id='layout'><tr><td>{links}</td></tr></table>"
            "<table id='data'><tr><th>K</th></tr><tr><td>v</td></tr></table>"
        )
        data = prep.mark_data_tables(w)
        prep.clean_conditionally(w, "table", data_tables=data)
        assert by_id(w, "table", "layout") == []
        assert len(by_id(w, "table", "data")) == 1

    def test_content_inside_data_table_protected(self):
        w = wrap(
            "<table id='data'><tr><th>K</th></tr>"
            "<tr><td><ul id='inner'><li>a</li><li>b</li></ul></td></tr></table>"
        )
        data = prep.mark_data_tables(w)
        prep.clean_conditionally(w, "ul", data_tables=data)
        assert len(dom.select(w, "ul")) == 1

    def test_code_block_contents_protected(self):
        w = wrap("<code><div id='in-code'>x</div></code>")
        prep.clean_conditionally(w, "div")
        assert len(by_id(w, "div", "in-code")) == 1

    def test_ad_word_node_removed(self):
        w = wrap("<div id='ad'>Advertisement</div><div id='art'><p>Real, prose.</p></div>")
        prep.clean_conditionally(w, "div")
        assert by_id(w, "div", "ad") == []

    def test_contentscore_rescues_negative_class(self):
        w = wrap(f'<div class="comment" id="c1"><p>{LONG}</p></div>')
        node = dom.select(w, "div")[0]
        # weight -25 + score 30 >= 0 -> the class-weight rule alone won't cut
        # it, and the long low-density prose clears every structural rule
        prep.clean_conditionally(w, "div", scores={node: 30.0})
        assert len(dom.select(w, "div")) == 1
        # without the score the -25 class weight alone removes it
        w2 = wrap(f'<div class="comment" id="c1"><p>{LONG}</p></div>')
        prep.clean_conditionally(w2, "div")
        assert dom.select(w2, "div") == []

    def test_image_gallery_list_kept(self):
        items = "".join(f'<li><img src="/{i}.jpg"></li>' for i in range(4))
        w = wrap(f"<ul id='gallery'>{items}</ul>")
        prep.clean_conditionally(w, "ul")
        assert len(dom.select(w, "ul")) == 1

    def test_embed_heavy_short_block_removed(self):
        w = wrap('<div id="vid"><embed src="https://ads.example.com/x">tiny</div>')
        prep.clean_conditionally(w, "div")
        assert dom.select(w, "div") == []


class TestShareAndHeaders:
    def test_share_widget_removed(self):
        w = wrap(
            f"<div id='art'><p>{LONG}</p>"
            "<div class='share-buttons'>Tweet This</div></div>"
        )
        prep.prep_article(w)
        assert "Tweet This" not in w.text()

    def test_long_share_block_survives(self):
        long_text = "Genuine share-worthy prose. " * 30  # >= 500 chars
        w = wrap(f"<div id='art'><p>{LONG}</p><div class='share'>{long_text}</div></div>")
        for child in w.children:
            prep.clean_matched_nodes(
                child,
                lambda node, match: prep.SHARE_ELEMENTS.search(match) is not None
                and len(node.text()) < prep.SHARE_ELEMENT_THRESHOLD,
            )
        assert "Genuine share-worthy" in w.text()

    def test_negative_weight_header_removed(self):
        w = wrap('<h2 class="widget-title">Related</h2><p>text</p>')
        prep.clean_headers(w)
        assert dom.select(w, "h2") == []

    def test_title_duplicate_header_removed(self):
        w = wrap("<h1>The Title</h1><p>body</p>")
        prep.clean_headers(w, title="The Title")
        assert dom.select(w, "h1") == []

    def test_plain_header_kept(self):
        w = wrap("<h2>Subheading</h2><p>text</p>")
        prep.clean_headers(w, title="Different Title")
        assert len(dom.select(w, "h2")) == 1


class TestPrepArticle:
    def test_h1_becomes_h2(self):
        w = wrap(f"<h1>Section Head</h1><p>{LONG}</p>")
        prep.prep_article(w)
        assert dom.select(w, "h1") == []
        assert any(h.text() == "Section Head" for h in dom.select(w, "h2"))

    def test_empty_paragraphs_removed_image_paragraph_kept(self):
        w = wrap(f'<p>{LONG}</p><p>   </p><p><img src="/x.jpg"></p>')
        prep.prep_article(w)
        paras = dom.select(w, "p")
        assert len(paras) == 2

    def test_br_before_p_removed(self):
        w = wrap(f"<p>{LONG}</p><br><p>{LONG}</p>")
        prep.prep_article(w)
        assert dom.select(w, "br") == []

    def test_single_cell_table_unwrapped_to_p(self):
        w = wrap(f"<table><tr><td>cell {LONG}</td></tr></table>")
        prep.prep_article(w)
        assert dom.select(w, "table") == []
        assert any("cell " in p.text() for p in dom.select(w, "p"))

    def test_paragraph_like_div_renamed_to_p(self):
        w = wrap(f"<div id='plain'>{LONG}</div>")
        prep.prep_article(w)
        assert by_id(w, "div", "plain") == []
        assert any(n.attrs.get("id") == "plain" for n in dom.select(w, "p"))

    def test_form_and_fieldset_stripped(self):
        w = wrap(
            f"<div id='art'><p>{LONG}</p></div>"
            '<form id="f"><input name="q"><p>x</p></form>'
            "<fieldset id='fs'><input name='z'></fieldset>"
        )
        prep.prep_article(w)
        assert dom.select(w, "form") == []
        assert dom.select(w, "fieldset") == []
        assert len(by_id(w, "div", "art")) == 1

    def test_inputs_buttons_selects_removed(self):
        w = wrap(f"<p>{LONG}</p><input name='a'><button>Go</button><select></select>"
                 "<textarea>t</textarea>")
        prep.prep_article(w)
        for tag in ("input", "button", "select", "textarea"):
            assert dom.select(w, tag) == []


class TestEndToEndScored:
    def test_scored_extract_strips_form_and_fishy_table(self):
        links = "".join(f'<a href="/{i}">promoted {i}</a>' for i in range(8))
        html = (
            "<html><head><title>T | Site</title></head><body>"
            f"<div id='story-body'><h1>Headline</h1><p>{LONG}</p><p>{LONG}</p>"
            f"<form id='newsletter'><input name='email'><p>sub</p></form>"
            f"<table id='promo'><tr><td>{links}</td></tr></table>"
            "</div></body></html>"
        )
        a = extract(html, options=Options(content_extraction=True, min_text_length=0))
        assert "promoted" not in a.text_content
        assert "sub" not in a.text_content
        assert LONG.strip()[:30] in a.text_content
        assert "<form" not in a.content
        assert "<table" not in a.content

    def test_clean_conditionally_flag_disables_prep(self):
        html = (
            "<html><body>"
            f"<div id='story-body'><p>{LONG}</p>"
            "<form id='f'><input name='email'><p>subscribe now</p></form></div>"
            "</body></html>"
        )
        kept = extract(
            html,
            options=Options(
                content_extraction=True, min_text_length=0, clean_conditionally=False
            ),
        )
        assert "<form" in kept.content
        stripped = extract(html, options=Options(content_extraction=True, min_text_length=0))
        assert "<form" not in stripped.content

    def test_default_pipeline_untouched_by_prep(self):
        html = (
            "<html><body><form id='f'><input name='q'></form>"
            "<p>Plain document text.</p></body></html>"
        )
        a = extract(html)  # no content_extraction: reference-parity path
        assert "<form" in a.content


class TestPublishedSemanticsFidelity:
    """Regression pins for mozilla-fidelity details (round-2 review)."""

    def test_ancestor_tag_inspects_four_levels(self):
        # mozilla _hasAncestorTag(maxDepth=3) checks ancestors at depth 0..3
        doc = parse_body(
            "<figure><div><div><div><ul id='deep'><li>x</li></ul></div></div></div></figure>"
        )
        ul = dom.select(doc, "ul")[0]
        # figure is the 4th ancestor (depth 3): still found
        assert prep._has_ancestor_tag(ul, "figure", max_depth=3)
        doc2 = parse_body(
            "<figure><div><div><div><div><ul id='deeper'><li>x</li></ul>"
            "</div></div></div></div></figure>"
        )
        ul2 = dom.select(doc2, "ul")[0]
        # figure is the 5th ancestor (depth 4): out of reach
        assert not prep._has_ancestor_tag(ul2, "figure", max_depth=3)

    def test_row_and_column_count_td_only_all_descendants(self):
        # th cells do NOT count (header-only tables stay layout-prunable);
        # td cells are counted through wrappers, per getElementsByTagName
        doc = parse_body(
            "<table id='h'><tr><th>a</th><th>b</th><th>c</th><th>d</th>"
            "<th>e</th><th>f</th></tr></table>"
        )
        t = dom.select(doc, "table")[0]
        rows, cols = prep._row_and_column_count(t)
        assert (rows, cols) == (1, 0)

    def test_clean_styles_skips_svg_subtree(self):
        w = wrap(
            '<p align="center">x</p>'
            '<svg width="10"><circle bgcolor="red"></circle></svg>'
        )
        prep.clean_styles(w)
        assert "align" not in dom.select(w, "p")[0].attrs
        assert dom.select(w, "svg")[0].attrs.get("width") == "10"
        assert dom.select(w, "circle")[0].attrs.get("bgcolor") == "red"


class TestFixLazyImages:
    """mozilla _fixLazyImages semantics (runs inside prep_article)."""

    def test_tiny_b64_placeholder_removed_when_real_image_attr_exists(self):
        w = wrap(
            '<img src="data:image/gif;base64,R0lGODlhAQABAAD/ACwAAAAAAQABAAACADs=" '
            'data-src="/real.jpg"/>'
        )
        prep.fix_lazy_images(w)
        img = dom.select(w, "img")[0]
        assert "src" in img.attrs and img.attrs["src"] == "/real.jpg"

    def test_svg_data_uri_kept(self):
        w = wrap('<img src="data:image/svg+xml;base64,AAAA" data-src="/real.jpg"/>')
        prep.fix_lazy_images(w)
        assert dom.select(w, "img")[0].attrs["src"].startswith("data:image/svg+xml")

    def test_b64_src_without_image_attr_kept(self):
        w = wrap('<img src="data:image/gif;base64,R0lGOD"/>')
        prep.fix_lazy_images(w)
        assert dom.select(w, "img")[0].attrs["src"].startswith("data:")

    def test_lazy_class_promotes_data_src_even_with_src(self):
        w = wrap('<img class="lazy loaded" src="/sprite.gif" data-src="/hero.png"/>')
        prep.fix_lazy_images(w)
        assert dom.select(w, "img")[0].attrs["src"] == "/hero.png"

    def test_srcset_descriptor_promoted(self):
        w = wrap('<img data-srcset="/a.webp 1x, /b.webp 2x"/>')
        prep.fix_lazy_images(w)
        assert dom.select(w, "img")[0].attrs["srcset"] == "/a.webp 1x, /b.webp 2x"

    def test_imageless_figure_gets_img_child(self):
        w = wrap('<figure data-src="/photo.jpeg"><figcaption>c</figcaption></figure>')
        prep.fix_lazy_images(w)
        imgs = dom.select(w, "img")
        assert len(imgs) == 1 and imgs[0].attrs["src"] == "/photo.jpeg"

    def test_figure_with_img_untouched(self):
        w = wrap('<figure data-src="/photo.jpg"><img src="/real.png"/></figure>')
        prep.fix_lazy_images(w)
        assert len(dom.select(w, "img")) == 1

    def test_non_lazy_img_with_src_untouched(self):
        w = wrap('<img src="/already.png" data-src="/other.jpg"/>')
        prep.fix_lazy_images(w)
        assert dom.select(w, "img")[0].attrs["src"] == "/already.png"


class TestSimplifyNestedElements:
    """mozilla _simplifyNestedElements (Readability.js _postProcessContent):
    unwrap single-child div/section chains, drop content-less div/section."""

    def test_unwraps_single_child_div_chain(self):
        w = wrap('<div class="outer"><div class="inner"><p>text</p></div></div>')
        prep.simplify_nested_elements(w)
        # both wrappers collapse onto the innermost div; parent attrs win
        divs = dom.select(w, "div")
        assert len(divs) == 1
        assert divs[0].attrs["class"] == "outer"
        assert dom.select(w, "p")[0].text() == "text"

    def test_section_wrapping_section_unwrapped(self):
        w = wrap("<section><section><p>body</p></section></section>")
        prep.simplify_nested_elements(w)
        assert len(dom.select(w, "section")) == 1

    def test_parent_attrs_override_child_on_collision(self):
        w = wrap('<div id="a" data-x="p"><div id="b" data-y="c"><p>t</p></div></div>')
        prep.simplify_nested_elements(w)
        d = dom.select(w, "div")[0]
        assert d.attrs["id"] == "a"  # parent's id replaced the child's
        assert d.attrs["data-x"] == "p" and d.attrs["data-y"] == "c"

    def test_div_with_text_sibling_not_unwrapped(self):
        w = wrap("<div>prose <div><p>t</p></div></div>")
        prep.simplify_nested_elements(w)
        assert len(dom.select(w, "div")) == 2

    def test_empty_div_removed(self):
        w = wrap("<p>keep</p><div>   <br/><hr/> </div>")
        prep.simplify_nested_elements(w)
        assert dom.select(w, "div") == []
        assert dom.select(w, "p")[0].text() == "keep"

    def test_empty_div_with_non_br_child_kept(self):
        # img carries no text but is not br/hr -> node has "content"
        w = wrap('<div><img src="/x.png"/></div>')
        prep.simplify_nested_elements(w)
        assert len(dom.select(w, "div")) == 1

    def test_readability_id_wrapper_exempt(self):
        w = wrap('<div id="readability-page-1"><div><p>t</p></div></div>')
        prep.simplify_nested_elements(w)
        # outer wrapper kept; its single-child inner div unwraps nothing
        # (inner div's only child is a p, not a div/section)
        ids = [d.attrs.get("id") for d in dom.select(w, "div")]
        assert "readability-page-1" in ids

    def test_non_div_section_tags_untouched(self):
        w = wrap("<article><div><p>t</p></div></article>")
        prep.simplify_nested_elements(w)
        assert len(dom.select(w, "article")) == 1

    def test_scored_pipeline_collapses_deep_wrappers(self):
        html = (
            "<html><body><div class='l1'><div class='l2'><div class='l3'>"
            f"<p>{LONG}</p><p>{LONG}</p></div></div></div></body></html>"
        )
        opts = Options(content_extraction=True, min_text_length=0)
        article = extract(html.encode(), options=opts)
        # the nested single-child wrappers must not survive in the content
        assert "l1" not in (article.content or "")
        assert article.text_content.count(LONG.strip()[:30]) >= 2
