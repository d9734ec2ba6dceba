"""Tier-1 parity tests for metadata stages (dir/lang/title/byline/excerpt/
json-ld/meta-tags/entities) plus document ops.

Verbatim ports; reference test names kept.  Cites:
/root/reference/src/stage/{extract_dir.rs,extract_lang.rs,extract_title.rs,
extract_byline.rs,extract_excerpt.rs,extract_json_ld.rs,extract_meta_tags.rs,
unescape_html_entities.rs}, /root/reference/src/document.rs.

1:1 case map (reference ``#[test]`` fn -> this file's test; identical names
omitted).  Every reference test in the files above is ported:

- document.rs (3/3): all identical names.
- extract_dir.rs (4/4): returns_none_when_no_dir -> test_dir_returns_none_
  when_no_dir; returns_none_when_dir_empty -> test_dir_returns_none_when_
  dir_empty.
- extract_lang.rs (5/5): returns_none_when_no_lang -> test_lang_returns_
  none_when_no_lang; returns_none_when_lang_empty -> test_lang_returns_none_
  when_lang_empty; extracts_xml_lang -> test_extracts_xml_lang_ignored (the
  reference expects None for bare xml:lang — renamed for accuracy).
- extract_title.rs (15/15): 13 in TITLE_CASES under identical names, plus
  empty_returns_none -> test_title_empty_returns_none and
  skips_when_title_already_set -> test_title_skips_when_already_set.
- extract_byline.rs (9/9): 6 in BYLINE_CASES, plus empty_text_skipped ->
  test_byline_empty_text_skipped; existing_byline_not_overwritten ->
  test_byline_existing_not_overwritten; too_long_skipped ->
  test_byline_too_long_skipped.
- extract_excerpt.rs (4/4): each `X` -> test_excerpt_X
  (no_paragraphs_leaves_excerpt_none -> test_excerpt_no_paragraphs_leaves_none).
- extract_json_ld.rs (10/10): each `X` -> test_jsonld_X.
- extract_meta_tags.rs (14/14): each `X` -> test_meta_X (author_meta ->
  test_meta_author); test_meta_space_separated_properties is repo-added.
- unescape_html_entities.rs (8/8): each `X` -> test_unescape_X
  (invalid_codepoints_replaced_with_replacement_char ->
  test_unescape_invalid_codepoints_replaced).
"""

import pytest

from conftest import md, run_stage_test
from readability_spark import dom
from readability_spark.model import Metadata
from readability_spark.stages import (
    _unescape_named,
    _unescape_numeric,
    extract_byline,
    extract_dir,
    extract_excerpt,
    extract_json_ld,
    extract_lang,
    extract_meta_tags,
    extract_title,
    unescape_html_entities,
)

# ---------------------- document.rs:37-78


def test_attribute_returns_value():
    doc = dom.parse_document('<html lang=" en "><head></head><body></body></html>')
    assert dom.select_first_attr(doc, "html", "lang") == " en "


def test_attribute_returns_none_when_missing():
    doc = dom.parse_document("<html><head></head><body></body></html>")
    assert dom.select_first_attr(doc, "html", "lang") is None


def test_counts_element_nodes_only_once():
    doc = dom.parse_document(
        """
      <html>
        <head><meta charset="utf-8" /></head>
        <body>
          <div>
            <p>One</p>
            <span>Two</span>
          </div>
          <img src="image.png" />
        </body>
      </html>
      """
    )
    assert dom.element_count(doc) == 8


# ---------------------- extract_dir.rs:23-59


def test_extracts_dir_from_html_element():
    run_stage_test(
        extract_dir,
        '<html dir="rtl"><head></head><body></body></html>',
        expected_dir="rtl",
    )


def test_extracts_dir_from_body_before_html():
    run_stage_test(
        extract_dir,
        '<html dir="ltr"><head></head><body dir="rtl"></body></html>',
        expected_dir="rtl",
    )


def test_dir_returns_none_when_no_dir():
    run_stage_test(
        extract_dir, "<html><head></head><body></body></html>", expected_dir=None
    )


def test_dir_returns_none_when_dir_empty():
    run_stage_test(
        extract_dir, '<html dir=""><head></head><body></body></html>', expected_dir=None
    )


# ---------------------- extract_lang.rs:21-66


def test_extracts_lang_from_html_element():
    run_stage_test(
        extract_lang,
        '<html lang="en"><head></head><body></body></html>',
        expected_lang="en",
    )


def test_lang_returns_none_when_no_lang():
    run_stage_test(
        extract_lang, "<html><head></head><body></body></html>", expected_lang=None
    )


def test_lang_returns_none_when_lang_empty():
    run_stage_test(
        extract_lang, '<html lang=""><head></head><body></body></html>', expected_lang=None
    )


def test_extracts_xml_lang_ignored():
    run_stage_test(
        extract_lang,
        '<html xml:lang="fr"><head></head><body></body></html>',
        expected_lang=None,
    )


def test_extracts_lang_with_xmlns():
    run_stage_test(
        extract_lang,
        '<html lang="en" xmlns="http://www.w3.org/1999/xhtml" xml:lang="en"><head></head><body></body></html>',
        expected_lang="en",
    )


# ---------------------- extract_title.rs:157-343

TITLE_CASES = [
    (
        "colon_falls_back_to_first_when_last_too_short",
        "<html><head><title>site: foo bar baz qux: hi</title></head><body></body></html>",
        "foo bar baz qux: hi",
    ),
    (
        "colon_skipped_when_heading_matches",
        "<html><head><title>site: foo bar baz qux</title></head><body><h1>site: foo bar baz qux</h1></body></html>",
        "site: foo bar baz qux",
    ),
    (
        "colon_strips_site_name",
        "<html><head><title>site: foo bar baz qux</title></head><body></body></html>",
        "foo bar baz qux",
    ),
    (
        "colon_uses_last_colon_when_long_enough",
        "<html><head><title>site: section: foo bar baz</title></head><body></body></html>",
        "foo bar baz",
    ),
    (
        "colon_uses_raw_when_prefix_too_long",
        "<html><head><title>one two three four five six: hi</title></head><body></body></html>",
        "one two three four five six: hi",
    ),
    (
        "h1_skipped_when_multiple",
        "<html><head><title>hi</title></head><body><h1>foo</h1><h1>bar</h1></body></html>",
        "hi",
    ),
    (
        "h1_used_when_title_too_long",
        "<html><head><title>" + "a" * 151 + "</title></head><body><h1>foo bar</h1></body></html>",
        "foo bar",
    ),
    (
        "h1_used_when_title_too_short",
        "<html><head><title>hi</title></head><body><h1>foo bar</h1></body></html>",
        "foo bar",
    ),
    (
        "normalize_collapses_whitespace",
        "<html><head><title>foo   bar</title></head><body></body></html>",
        "foo bar",
    ),
    (
        "plain_title_returned_as_is",
        "<html><head><title>foo bar</title></head><body></body></html>",
        "foo bar",
    ),
    (
        "separator_short_candidate_tries_prefix_strip",
        "<html><head><title>site name | foo bar baz qux quux</title></head><body></body></html>",
        "foo bar baz qux quux",
    ),
    (
        "separator_strips_site_name",
        "<html><head><title>foo bar baz qux quux | site name</title></head><body></body></html>",
        "foo bar baz qux quux",
    ),
    (
        "separator_too_short_uses_raw",
        "<html><head><title>foo bar | site name</title></head><body></body></html>",
        "foo bar | site name",
    ),
]


@pytest.mark.parametrize("name,document,expected", TITLE_CASES, ids=[c[0] for c in TITLE_CASES])
def test_extract_title(name, document, expected):
    run_stage_test(extract_title, document, expected_metadata=md(title=expected))


def test_title_empty_returns_none():
    run_stage_test(
        extract_title,
        "<html><head><title></title></head><body></body></html>",
        expected_metadata=Metadata(),
    )


def test_title_skips_when_already_set():
    run_stage_test(
        extract_title,
        "<html><head><title>foo bar baz qux quux | site name</title></head><body></body></html>",
        metadata=md(title="bar"),
        expected_metadata=md(title="bar"),
    )


# ---------------------- extract_byline.rs:76-189

BYLINE_CASES = [
    (
        "class_author",
        '<html><body><div class="article-author">foo</div></body></html>',
        "foo",
    ),
    ("class_byline", '<html><body><p class="byline">foo</p></body></html>', "foo"),
    ("id_author", '<html><body><div id="author">foo</div></body></html>', "foo"),
    (
        "itemprop_author",
        '<html><body><span itemprop="author">foo</span></body></html>',
        "foo",
    ),
    (
        "prefers_itemprop_name_descendant",
        '<html><body><span itemprop="author"><span itemprop="name">foo</span> extra</span></body></html>',
        "foo",
    ),
    ("rel_author", '<html><body><a rel="author">foo</a></body></html>', "foo"),
]


@pytest.mark.parametrize("name,document,expected", BYLINE_CASES, ids=[c[0] for c in BYLINE_CASES])
def test_extract_byline(name, document, expected):
    run_stage_test(extract_byline, document, expected_metadata=md(byline=expected))


def test_byline_empty_text_skipped():
    run_stage_test(
        extract_byline,
        '<html><body><p class="byline">   </p></body></html>',
        expected_metadata=Metadata(),
    )


def test_byline_existing_not_overwritten():
    run_stage_test(
        extract_byline,
        '<html><body><p class="byline">bar</p></body></html>',
        metadata=md(byline="foo"),
        expected_metadata=md(byline="foo"),
    )


def test_byline_too_long_skipped():
    run_stage_test(
        extract_byline,
        '<html><body><p class="byline">' + "a" * 100 + "</p></body></html>",
        expected_metadata=Metadata(),
    )


# ---------------------- extract_excerpt.rs:39-85


def test_excerpt_fallback_from_first_paragraph():
    run_stage_test(
        extract_excerpt,
        "<html><body><p>foo</p><p>bar</p></body></html>",
        expected_metadata=md(excerpt="foo"),
    )


def test_excerpt_skips_empty_paragraphs():
    run_stage_test(
        extract_excerpt,
        "<html><body><p>   </p><p>bar</p></body></html>",
        expected_metadata=md(excerpt="bar"),
    )


def test_excerpt_no_paragraphs_leaves_none():
    run_stage_test(
        extract_excerpt,
        "<html><body><div>foo</div></body></html>",
        expected_metadata=Metadata(),
    )


def test_excerpt_existing_not_overwritten():
    run_stage_test(
        extract_excerpt,
        "<html><body><p>bar</p></body></html>",
        metadata=md(excerpt="foo"),
        expected_metadata=md(excerpt="foo"),
    )


# ---------------------- extract_json_ld.rs:202-401


def test_jsonld_array_of_objects_picks_article():
    run_stage_test(
        extract_json_ld,
        """<html><head><script type="application/ld+json">
        [
          { "@context": "https://schema.org", "@type": "VideoObject", "name": "foo" },
          { "@context": "https://schema.org", "@type": "NewsArticle", "name": "bar" }
        ]
        </script></head><body></body></html>""",
        expected_metadata=md(title="bar"),
    )


def test_jsonld_cdata_stripped():
    run_stage_test(
        extract_json_ld,
        """<html><head><script type="application/ld+json">
        <![CDATA[
        {
          "@context": "https://schema.org",
          "@type": "Article",
          "name": "foo"
        }
        ]]>
        </script></head><body></body></html>""",
        expected_metadata=md(title="foo"),
    )


def test_jsonld_context_object_with_vocab():
    run_stage_test(
        extract_json_ld,
        """<html><head><script type="application/ld+json">
        {
          "@context": { "@vocab": "https://schema.org/" },
          "@type": "Article",
          "name": "foo"
        }
        </script></head><body></body></html>""",
        expected_metadata=md(title="foo"),
    )


def test_jsonld_extracts_article_fields():
    run_stage_test(
        extract_json_ld,
        """<html><head><script type="application/ld+json">
        {
          "@context": "https://schema.org",
          "@type": "NewsArticle",
          "name": "foo",
          "description": "bar",
          "publisher": { "name": "baz" },
          "datePublished": "2024-01-01",
          "author": { "name": "qux" }
        }
        </script></head><body></body></html>""",
        expected_metadata=md(
            title="foo",
            excerpt="bar",
            site_name="baz",
            published_time="2024-01-01",
            byline="qux",
        ),
    )


def test_jsonld_graph_traversal():
    run_stage_test(
        extract_json_ld,
        """<html><head><script type="application/ld+json">
        {
          "@context": "https://schema.org",
          "@graph": [
            { "@type": "WebSite", "name": "foo" },
            { "@type": "Article", "name": "bar" }
          ]
        }
        </script></head><body></body></html>""",
        expected_metadata=md(title="bar"),
    )


def test_jsonld_headline_fallback():
    run_stage_test(
        extract_json_ld,
        """<html><head><script type="application/ld+json">
        {
          "@context": "https://schema.org",
          "@type": "Article",
          "headline": "foo"
        }
        </script></head><body></body></html>""",
        expected_metadata=md(title="foo"),
    )


def test_jsonld_ignores_non_article_type():
    run_stage_test(
        extract_json_ld,
        """<html><head><script type="application/ld+json">
        {
          "@context": "https://schema.org",
          "@type": "VideoObject",
          "name": "foo"
        }
        </script></head><body></body></html>""",
        expected_metadata=Metadata(),
    )


def test_jsonld_ignores_non_schema_org():
    run_stage_test(
        extract_json_ld,
        """<html><head><script type="application/ld+json">
        {
          "@context": "https://example.com",
          "@type": "Article",
          "name": "foo"
        }
        </script></head><body></body></html>""",
        expected_metadata=Metadata(),
    )


def test_jsonld_invalid_json_skipped():
    run_stage_test(
        extract_json_ld,
        """<html><head>
        <script type="application/ld+json">not json</script>
        <script type="application/ld+json">{"@context":"https://schema.org","@type":"Article","name":"foo"}</script>
        </head><body></body></html>""",
        expected_metadata=md(title="foo"),
    )


def test_jsonld_too_deep_to_parse_skipped():
    # json.loads raises RecursionError, not ValueError, on deep nesting; the
    # script is skipped like any other unparseable one, and the row survives
    from readability_spark.pipeline import extract_row

    deep = "[" * 5000 + "]" * 5000
    html = (
        '<html><head><script type="application/ld+json">'
        '{"@context":"https://schema.org","@type":"Article","name":"LD","x":'
        + deep
        + "}</script><title>Doc Title</title></head><body><p>text</p></body></html>"
    )
    article, status, error = extract_row(html)
    assert (status, error) == ("ok", None)
    assert article.title == "Doc Title"


def test_jsonld_multiple_authors():
    run_stage_test(
        extract_json_ld,
        """<html><head><script type="application/ld+json">
        {
          "@context": "https://schema.org",
          "@type": "Article",
          "author": [{ "name": "foo" }, { "name": "bar" }]
        }
        </script></head><body></body></html>""",
        expected_metadata=md(byline="foo, bar"),
    )


# ---------------------- extract_meta_tags.rs:111-315


def test_meta_og_title():
    run_stage_test(
        extract_meta_tags,
        '<html><head><meta property="og:title" content="foo"/></head><body></body></html>',
        expected_metadata=md(title="foo"),
    )


def test_meta_og_description():
    run_stage_test(
        extract_meta_tags,
        '<html><head><meta property="og:description" content="foo"/></head><body></body></html>',
        expected_metadata=md(excerpt="foo"),
    )


def test_meta_og_site_name():
    run_stage_test(
        extract_meta_tags,
        '<html><head><meta property="og:site_name" content="foo"/></head><body></body></html>',
        expected_metadata=md(site_name="foo"),
    )


def test_meta_article_published_time():
    run_stage_test(
        extract_meta_tags,
        '<html><head><meta property="article:published_time" content="2024-01-01"/></head><body></body></html>',
        expected_metadata=md(published_time="2024-01-01"),
    )


def test_meta_article_author_url_ignored():
    run_stage_test(
        extract_meta_tags,
        '<html><head><meta property="article:author" content="https://example.com/author"/></head><body></body></html>',
        expected_metadata=Metadata(),
    )


def test_meta_article_author_non_url_used():
    run_stage_test(
        extract_meta_tags,
        '<html><head><meta property="article:author" content="foo bar"/></head><body></body></html>',
        expected_metadata=md(byline="foo bar"),
    )


def test_meta_json_ld_title_takes_priority():
    run_stage_test(
        [extract_json_ld, extract_meta_tags],
        """<html><head>
          <script type="application/ld+json">{"@context":"https://schema.org","@type":"Article","name":"foo"}</script>
          <meta property="og:title" content="bar"/>
        </head><body></body></html>""",
        expected_metadata=md(title="foo"),
    )


def test_meta_fills_gap_when_no_json_ld():
    run_stage_test(
        [extract_json_ld, extract_meta_tags],
        """<html><head>
          <script type="application/ld+json">{"@context":"https://schema.org","@type":"Article","name":"foo"}</script>
          <meta property="og:description" content="bar"/>
        </head><body></body></html>""",
        expected_metadata=md(title="foo", excerpt="bar"),
    )


def test_meta_author():
    run_stage_test(
        extract_meta_tags,
        '<html><head><meta name="author" content="foo"/></head><body></body></html>',
        expected_metadata=md(byline="foo"),
    )


def test_meta_dc_creator():
    run_stage_test(
        extract_meta_tags,
        '<html><head><meta name="dc.creator" content="foo"/></head><body></body></html>',
        expected_metadata=md(byline="foo"),
    )


def test_meta_twitter_title_fallback():
    run_stage_test(
        [extract_json_ld, extract_meta_tags],
        '<html><head><meta name="twitter:title" content="foo"/></head><body></body></html>',
        expected_metadata=md(title="foo"),
    )


def test_meta_parsely_pub_date():
    run_stage_test(
        [extract_json_ld, extract_meta_tags],
        '<html><head><meta name="parsely-pub-date" content="2024-06-01"/></head><body></body></html>',
        expected_metadata=md(published_time="2024-06-01"),
    )


def test_meta_empty_content_ignored():
    run_stage_test(
        [extract_json_ld, extract_meta_tags],
        '<html><head><meta property="og:title" content=""/></head><body></body></html>',
        expected_metadata=Metadata(),
    )


def test_meta_dc_title_preferred_over_og_title():
    run_stage_test(
        [extract_json_ld, extract_meta_tags],
        """<html><head>
          <meta name="dc.title" content="foo"/>
          <meta property="og:title" content="bar"/>
        </head><body></body></html>""",
        expected_metadata=md(title="foo"),
    )


def test_meta_space_separated_properties():
    # reference integration fixture family `004-metadata-space-separated-properties`
    run_stage_test(
        extract_meta_tags,
        '<html><head><meta property="og:title twitter:title" content="foo"/></head><body></body></html>',
        expected_metadata=md(title="foo"),
    )


# ---------------------- unescape_html_entities.rs:68-144


def test_unescape_invalid_codepoints_replaced():
    assert _unescape_numeric("&#x0;") == "�"
    assert _unescape_numeric("&#xFFFFFFFF;") == "�"
    assert _unescape_numeric("&#xD800;") == "�"
    assert _unescape_numeric("&#xDFFF;") == "�"


def test_unescape_invalid_named_entity_left_intact():
    assert _unescape_named("&#xg;") == "&#xg;"


def test_unescape_named_entities():
    assert _unescape_named("&quot;") == '"'
    assert _unescape_named("&amp;") == "&"
    assert _unescape_named("&apos;") == "'"
    assert _unescape_named("&lt;") == "<"
    assert _unescape_named("&gt;") == ">"


def test_unescape_numeric_decimal():
    assert _unescape_numeric("&#128557;") == "😭"


def test_unescape_numeric_hex():
    assert _unescape_numeric("&#x1F62D;") == "😭"


def test_unescape_numeric_hex_case_insensitive():
    assert _unescape_numeric("&#X1f62d;") == "😭"


def test_unescape_stage_leaves_none_fields_as_none():
    run_stage_test(unescape_html_entities, expected_metadata=Metadata())


def test_unescape_stage_unescapes_all_fields():
    run_stage_test(
        unescape_html_entities,
        metadata=md(
            title="foo &amp; bar",
            byline="foo &amp; bar",
            excerpt="foo &amp; bar",
            site_name="foo &amp; bar",
            published_time="foo &amp; bar",
        ),
        expected_metadata=md(
            title="foo & bar",
            byline="foo & bar",
            excerpt="foo & bar",
            site_name="foo & bar",
            published_time="foo & bar",
        ),
    )
