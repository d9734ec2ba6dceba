"""Deterministic golden fixture corpus (FIXTURES.md section 2).

Each family is a parameterized HTML template derived from the reference's
own unit-test inputs, so every pipeline stage is exercised by at least one
family.  All generation is a pure function of (seed=42, row index) — no
wall clock, no ambient randomness — and every document stays inside the
HTML5 subset the parser implements (implied html/head/body, tbody
insertion, void elements, p-auto-close, raw-text script/style/title).

``golden_for(row)`` produces the expected Article by running the
Tier-1-verified single-document extractor; the Spark pipeline must
reproduce it byte-for-byte (Tier-2 invariant, FIXTURES.md section 3).
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta

from .pipeline import extract_row

SEED = 42

DOMAINS = [f"site{i:02d}.example.org" for i in range(19)]
HOT_DOMAIN = "hot.example.com"

LANGS = ["en", "es", "fr", "de", "ja", ""]

WORDS = (
    "report analysis update market science culture policy review economy "
    "technology climate research history travel education health sports art "
    "music finance"
).split()


def _words(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


# ----------------------------------------------------------- family builders
# Each returns an HTML string (or bytes for the malformed family).


def plain_article(i, rng):
    return (
        f"<html><head><title>{_words(rng, 6).title()}</title></head><body>"
        f"<p>{_words(rng, 12)}.</p><p>{_words(rng, 15)}.</p>"
        f"<p>{_words(rng, 10)}.</p></body></html>"
    )


def title_separator(i, rng):
    sep = rng.choice(["|", "-", "–", "—", "/", ">", "»"])
    return (
        f"<html><head><title>{_words(rng, 5).title()} {sep} Site Name</title>"
        f"</head><body><p>{_words(rng, 12)}.</p></body></html>"
    )


def title_colon(i, rng):
    return (
        f"<html><head><title>site: {_words(rng, 4)}</title></head>"
        f"<body><p>{_words(rng, 12)}.</p></body></html>"
    )


def title_h1_fallback(i, rng):
    return (
        f"<html><head><title>hi</title></head><body>"
        f"<h1>{_words(rng, 4).title()}</h1><p>{_words(rng, 12)}.</p></body></html>"
    )


def jsonld_full(i, rng):
    variant = i % 5
    name = _words(rng, 4).title()
    author = _words(rng, 2).title()
    desc = _words(rng, 8)
    if variant == 0:
        script = (
            '{"@context":"https://schema.org","@type":"NewsArticle",'
            f'"name":"{name}","description":"{desc}",'
            f'"publisher":{{"name":"Golden Press"}},"datePublished":"2026-0{1 + i % 9}-11",'
            f'"author":{{"name":"{author}"}}}}'
        )
    elif variant == 1:
        script = (
            f'[{{"@context":"https://schema.org","@type":"VideoObject","name":"nope"}},'
            f'{{"@context":"https://schema.org","@type":"BlogPosting","name":"{name}",'
            f'"author":[{{"name":"{author}"}},{{"name":"Second Author"}}]}}]'
        )
    elif variant == 2:
        script = (
            '{"@context":"https://schema.org","@graph":['
            '{"@type":"WebSite","name":"nope"},'
            f'{{"@type":"Article","name":"{name}","headline":"other"}}]}}'
        )
    elif variant == 3:
        script = (
            '<![CDATA[ {"@context":{"@vocab":"https://schema.org/"},'
            f'"@type":"TechArticle","headline":"{name}"}} ]]>'
        )
    else:
        # first script invalid, second valid
        return (
            '<html><head><script type="application/ld+json">not json</script>'
            '<script type="application/ld+json">'
            f'{{"@context":"https://schema.org","@type":"Article","name":"{name}"}}'
            f"</script></head><body><p>{_words(rng, 10)}.</p></body></html>"
        )
    return (
        f'<html><head><script type="application/ld+json">{script}</script>'
        f'<meta property="og:title" content="meta loses"/>'
        f"</head><body><p>{_words(rng, 10)}.</p></body></html>"
    )


def meta_tags(i, rng):
    author = _words(rng, 2).title()
    title = _words(rng, 5).title()
    variant = i % 4
    metas = {
        0: (
            f'<meta property="og:title" content="{title}"/>'
            f'<meta property="og:description" content="{_words(rng, 8)}"/>'
            f'<meta property="og:site_name" content="Meta Site"/>'
            f'<meta name="author" content="{author}"/>'
        ),
        1: (
            f'<meta name="dc.title" content="{title}"/>'
            f'<meta property="og:title" content="og loses"/>'
            f'<meta name="dc.creator" content="{author}"/>'
            f'<meta property="article:published_time" content="2026-0{1 + i % 9}-21"/>'
        ),
        2: (
            f'<meta property="og:title twitter:title" content="{title}"/>'
            f'<meta property="article:author" content="https://{HOT_DOMAIN}/a"/>'
            f'<meta name="twitter:description" content="{_words(rng, 6)}"/>'
        ),
        3: (
            f'<meta name="parsely-title" content="{title}"/>'
            f'<meta name="parsely-pub-date" content="2026-0{1 + i % 9}-28"/>'
            f'<meta property="article:author" content="{author}"/>'
            f'<meta property="og:title" content=""/>'
        ),
    }[variant]
    return f"<html><head>{metas}</head><body><p>{_words(rng, 10)}.</p></body></html>"


def byline_dom(i, rng):
    author = _words(rng, 2).title()
    variant = i % 4
    el = {
        0: f'<a rel="author">{author}</a>',
        1: f'<span itemprop="author"><span itemprop="name">{author}</span> dross</span>',
        2: f'<div class="article-author">{author}</div>',
        3: f'<p id="byline">{author}</p>',
    }[variant]
    return (
        f"<html><head><title>{_words(rng, 5).title()}</title></head><body>"
        f"{el}<p>{_words(rng, 12)}.</p></body></html>"
    )


def lang_dir(i, rng):
    variant = i % 4
    html_attrs = {0: ' lang="en" dir="ltr"', 1: ' lang=" fr "', 2: ' xml:lang="de"', 3: ' lang=""'}[variant]
    body_attrs = ' dir="rtl"' if variant == 0 else ""
    return (
        f"<html{html_attrs}><head><title>{_words(rng, 5).title()}</title></head>"
        f"<body{body_attrs}><p>{_words(rng, 10)}.</p></body></html>"
    )


def disallowed_nodes(i, rng):
    return (
        f"<html><head><style>p {{ color: red; }}</style></head><body>"
        f"<script>var x = {i};</script><p>{_words(rng, 10)}.</p>"
        f"<noscript>enable js</noscript></body></html>"
    )


def hidden_nodes(i, rng):
    variant = i % 5
    hidden = {
        0: '<div style="display:none">secret</div>',
        1: '<div style="display: none">secret</div>',
        2: '<div style="visibility:hidden">secret</div>',
        3: "<div hidden>secret</div>",
        4: '<div aria-hidden="true">secret</div>',
    }[variant]
    return (
        f"<html><body>{hidden}<p>{_words(rng, 10)}.</p>"
        f'<div aria-modal="true" role="dialog">modal</div></body></html>'
    )


def unlikely_candidates(i, rng):
    return (
        f'<html><body><div class="sidebar">junk</div>'
        f'<div id="comments-area">junk</div>'
        f'<div class="comment article">rescued {_words(rng, 3)}</div>'
        f'<nav role="navigation">junk</nav>'
        f"<p>{_words(rng, 10)}.</p></body></html>"
    )


def empty_containers(i, rng):
    return (
        f"<html><body><div></div><section></section><h2></h2>"
        f"<div><br><hr></div><span></span><p>{_words(rng, 10)}.</p></body></html>"
    )


def br_chains(i, rng):
    a, b, c = _words(rng, 4), _words(rng, 4), _words(rng, 4)
    return (
        f"<html><body><div>{a}<br><br>{b}<br> <br>{c}</div></body></html>"
    )


def font_tags(i, rng):
    return (
        f"<html><body><font>{_words(rng, 3)} <font>{_words(rng, 2)}</font></font>"
        f"<p>{_words(rng, 10)}.</p></body></html>"
    )


def noscript_images(i, rng):
    variant = i % 3
    if variant == 0:
        body = (
            f'<img alt="ph{i}"/><noscript><img src="real-{i}.jpg"/></noscript>'
            f"<p>{_words(rng, 8)}.</p>"
        )
    elif variant == 1:
        body = (
            f'<div><img/></div><noscript><img data-src="lazy-{i}.png"/></noscript>'
            f"<p>{_words(rng, 8)}.</p>"
        )
    else:
        body = f'<img class="lazy"/><p>{_words(rng, 8)}.</p>'
    return f"<html><body>{body}</body></html>"


def entities(i, rng):
    return (
        f"<html><head><title>Cats &amp; Dogs &#x2014; Number {i}</title>"
        f'<meta name="author" content="A &quot;B&quot; C"/>'
        f"</head><body><p>{_words(rng, 8)} &lt;tag&gt;.</p></body></html>"
    )


def element_limit_family(i, rng):
    spans = "".join(f"<span>{w}</span>" for w in [_words(rng, 1) for _ in range(40)])
    return f"<html><body><div>{spans}</div><p>{_words(rng, 8)}.</p></body></html>"


def malformed(i, rng):
    variant = i % 3
    if variant == 0:
        return b""
    if variant == 1:
        return b"   \n\t  "
    return b"\xff\xfe\x80\x81 not utf8"


def table_content(i, rng):
    """Reference 'table-style-attributes' analog: tables keep style attrs,
    <tbody> is synthesized, and the TABLE-ancestor exception protects
    unlikely-candidate-classed cells from removal
    (/root/reference/src/stage/remove_unlikely_candidates.rs:62-71,151)."""
    w = _words(rng, 6)
    return (
        f"<html><body><h1>{_words(rng, 3).title()}</h1>"
        f'<table style="width:100%;border:1px solid">'
        f'<tr><td class="sidebar">{w}</td>'  # survives: TABLE ancestor
        f"<td>{_words(rng, 5)}</td></tr></table>"
        f'<div class="sidebar">{_words(rng, 4)}</div>'  # removed: no exception
        f"<p>{_words(rng, 9)}.</p></body></html>"
    )


def social_buttons(i, rng):
    """Reference 'social-buttons' analog: share widgets matched by the
    unlikely-candidate regex are stripped unless a maybe-candidate token
    rescues them (/root/reference/src/re.rs:12-13,32-34)."""
    rescued = i % 3 == 0
    cls = "social-share article" if rescued else "social-share"
    return (
        f"<html><body><p>{_words(rng, 10)}.</p>"
        f'<div class="{cls}"><a href="/tweet">Tweet</a><a href="/like">Like</a></div>'
        f'<ul id="sponsor-links"><li>{_words(rng, 2)}</li></ul>'
        f"<p>{_words(rng, 6)}.</p></body></html>"
    )


def svg_inline(i, rng):
    """Reference 'svg-parsing' analog (subset: lowercase attrs only —
    foreign-content case preservation is out of scope per FIXTURES.md):
    inline svg passes through removal stages; its text participates in
    text_content."""
    return (
        f"<html><body><p>{_words(rng, 8)}.</p>"
        f'<svg width="100" height="40" viewbox="0 0 100 40">'
        f'<circle cx="20" cy="20" r="10"></circle>'
        f"<text>chart label {i % 7}</text></svg>"
        f"<p>{_words(rng, 5)}.</p></body></html>"
    )


def lazy_images(i, rng):
    """Reference 'lazy-image-1/2/3' analog: placeholder img with data-src /
    data-srcset next to a noscript real image; UnwrapNoscriptImages must
    swap in the real img while preserving the lazy attrs
    (/root/reference/src/stage/unwrap_noscript_images.rs:30-93)."""
    variant = i % 3
    if variant == 0:
        media = (
            '<img class="lazy" data-src="/real-1.jpg"/>'
            '<noscript><img src="/real-1.jpg"/></noscript>'
        )
    elif variant == 1:
        media = (
            '<img src="data:image/gif;base64,R0lGOD"/>'
            '<noscript><img src="/hero.png" srcset="/hero-2x.png 2x"/></noscript>'
        )
    else:
        media = (
            '<figure><img data-srcset="/a.webp 1x,/b.webp 2x"/>'
            '<noscript><img src="/a.webp"/></noscript></figure>'
        )
    return (
        f"<html><body><h1>{_words(rng, 3).title()}</h1>"
        f"<p>{_words(rng, 10)}.</p>{media}<p>{_words(rng, 7)}.</p></body></html>"
    )


def nested_tables(i, rng):
    """Reference 'links-in-tables' analog: a layout table wrapping an inner
    promo table; cells keep the TABLE-ancestor unlikely-candidate exception
    while the scoring/prep path judges the whole table by link density."""
    promo = "".join(f'<a href="/x/{i}/{j}">{_words(rng, 2)}</a>' for j in range(6))
    return (
        f"<html><body><p>{_words(rng, 12)}.</p>"
        f'<table class="layout"><tr><td>'
        f"<table><tr><td>{promo}</td><td>{_words(rng, 3)}</td></tr></table>"
        f"</td></tr></table>"
        f"<p>{_words(rng, 8)}.</p></body></html>"
    )


def multi_candidate(i, rng):
    """Reference 'reordering-paragraphs' / multi-candidate analog: two
    near-tied content containers; the scoring pass must pick the stronger
    (more commas + length) and sibling-merge correctly."""
    a = " ".join(f"{_words(rng, 9)}," for _ in range(4))
    b = " ".join(f"{_words(rng, 6)}" for _ in range(3))
    return (
        f'<html><body><div class="article-body"><p>{a} end.</p>'
        f"<p>{_words(rng, 11)}.</p></div>"
        f'<div class="related"><p>{b}.</p></div>'
        f"</body></html>"
    )


def comment_section(i, rng):
    """Reference 'lifehacker-post-comment-load' analog: an article followed
    by a comment block whose class matches the unlikely-candidate regex
    (/root/reference/src/re.rs:12-13) — stripped unless rescued."""
    comments = "".join(
        f'<p><a href="/user/{j}">user{j}</a> {_words(rng, 4)}</p>' for j in range(5)
    )
    return (
        f"<html><body><p>{_words(rng, 12)}.</p>"
        f'<div class="comments-section">{comments}</div>'
        f"<p>{_words(rng, 6)}.</p></body></html>"
    )


def embedded_videos(i, rng):
    """Reference 'embedded-videos'/'videos-1' analog: youtube/vimeo iframes
    inside content (the prep pass's video allowlist must keep them; raw-text
    iframe content never reaches text_content)."""
    host = "www.youtube.com/embed" if i % 2 == 0 else "player.vimeo.com/video"
    return (
        f"<html><body><p>{_words(rng, 10)}.</p>"
        f'<iframe src="https://{host}/vid{i}" width="560" height="315"></iframe>'
        f"<p>{_words(rng, 7)}.</p></body></html>"
    )


def deep_wrappers(i, rng):
    """Deep wrapper-div nesting (framework-generated markup): exercises the
    mozilla 5-level ancestor score-propagation cap and iterative tree walks."""
    depth = 8 + i % 5
    open_divs = "".join(f'<div class="wrap-{d}">' for d in range(depth))
    close_divs = "</div>" * depth
    return (
        f"<html><body>{open_divs}"
        f"<p>{_words(rng, 12)}.</p><p>{_words(rng, 9)}.</p>"
        f"{close_divs}</body></html>"
    )


def parsely_metadata(i, rng):
    """Reference 'parsely-metadata' analog: parsely-* meta names feed the
    title/byline/published_time key lists at lowest priority
    (/root/reference/src/stage/extract_meta_tags.rs key tables); on
    alternating rows an og:title outranks parsely-title."""
    og = f'<meta property="og:title" content="{_words(rng, 4).title()}"/>' if i % 2 else ""
    return (
        f"<html><head>{og}"
        f'<meta name="parsely-title" content="{_words(rng, 5).title()}"/>'
        f'<meta name="parsely-author" content="Riley Chen"/>'
        f'<meta name="parsely-pub-date" content="2026-0{1 + i % 9}-11T08:00:00Z"/>'
        f"</head><body><p>{_words(rng, 12)}.</p><p>{_words(rng, 8)}.</p></body></html>"
    )


def space_separated_properties(i, rng):
    """Reference '004-metadata-space-separated-properties' analog: one meta
    whose property attr carries MULTIPLE whitespace-separated keys (each
    token matched independently), plus a name with dots normalized to
    colons (extract_meta_tags.rs property-token split / name rewrite)."""
    return (
        f"<html><head>"
        f'<meta property="dc:title og:title" content="{_words(rng, 4).title()}"/>'
        f'<meta name="dcterm.creator" content="Ariel Fontaine"/>'
        f"</head><body><p>{_words(rng, 11)}.</p><p>{_words(rng, 7)}.</p></body></html>"
    )


def jsonld_context_object(i, rng):
    """Reference 'schema-org-context-object' analog: JSON-LD @context given
    as an OBJECT with @vocab instead of a url string — accepted iff @vocab
    contains schema.org (stages._is_schema_org dict branch)."""
    import json as _json

    accepted = i % 3 != 2
    vocab = "https://schema.org/" if accepted else "https://example.com/ns/"
    payload = _json.dumps(
        {
            "@context": {"@vocab": vocab},
            "@type": "NewsArticle",
            "headline": _words(rng, 5).title(),
            "author": {"@type": "Person", "name": "Marin Osei"},
            "description": _words(rng, 9),
        }
    )
    return (
        f"<html><head><title>Fallback Title</title>"
        f'<script type="application/ld+json">{payload}</script>'
        f"</head><body><p>{_words(rng, 12)}.</p><p>{_words(rng, 8)}.</p></body></html>"
    )


def article_author_url(i, rng):
    """article:author meta handling: a value parsing as an absolute URL is
    REJECTED as byline; a plain name is used when no author key matched
    (extract_meta_tags.rs article_author URL guard)."""
    author = "https://social.example/profiles/rc" if i % 2 == 0 else "Robin Calder"
    return (
        f"<html><head>"
        f'<meta property="article:author" content="{author}"/>'
        f"</head><body><p>{_words(rng, 10)}.</p><p>{_words(rng, 9)}.</p></body></html>"
    )


def comment_in_script(i, rng):
    """Reference 'comment-inside-script-parsing' analog: script raw text
    containing markup-shaped comments must be consumed as raw text by the
    tokenizer and removed whole by RemoveDisallowedNodes — none of it may
    leak into text_content."""
    return (
        f"<html><body><p>{_words(rng, 10)}.</p>"
        f"<script>// <!-- <p>not article text {i}</p> --> \n"
        f'var x = "<div>still script</div>";</script>'
        f"<p>{_words(rng, 8)}.</p></body></html>"
    )


def data_url_image(i, rng):
    """Reference 'data-url-image' analog: an inline base64 data: URL image
    inside the article (no noscript twin) survives extraction untouched and
    contributes no text."""
    return (
        f"<html><body><h1>{_words(rng, 3).title()}</h1>"
        f"<p>{_words(rng, 11)}.</p>"
        f'<img src="data:image/png;base64,iVBORw0KGgoAAA{i % 10}"/>'
        f"<p>{_words(rng, 8)}.</p></body></html>"
    )


def table_style_attributes(i, rng):
    """Reference 'table-style-attributes' analog: presentational attrs
    (bgcolor/border/width/align/style) on layout tables around real
    content; the pipeline must treat them as ordinary containers — the
    attrs ride through the default path and the prep pass judges the
    table by content, not decoration."""
    return (
        f"<html><body>"
        f'<table bgcolor="#eeeeee" border="1" width="100%" align="center" '
        f'style="margin:0"><tr><td>'
        f"<p>{_words(rng, 14)}.</p><p>{_words(rng, 9)}, {_words(rng, 4)}.</p>"
        f"</td></tr></table>"
        f'<table border="0"><tr><td style="padding:2px">{_words(rng, 3)}</td>'
        f"<td>{_words(rng, 2)}</td></tr></table>"
        f"</body></html>"
    )


def keep_images(i, rng):
    """Reference 'keep-images' analog: content images (img with src/alt
    inside paragraphs, figure/figcaption) must survive removal stages and
    their captions contribute to text_content."""
    return (
        f"<html><body><p>{_words(rng, 10)}.</p>"
        f'<figure><img src="/img/photo-{i}.jpg" alt="photo {i % 5}">'
        f"<figcaption>caption {_words(rng, 4)}</figcaption></figure>"
        f'<p>{_words(rng, 7)} <img src="/img/inline-{i}.png" alt=""> '
        f"{_words(rng, 6)}.</p></body></html>"
    )


def metadata_content_missing(i, rng):
    """Reference 'metadata-content-missing' analog: meta tags with absent
    or empty content attributes must not poison the fallback chain — the
    DOM title/byline extraction has to take over."""
    return (
        f"<html><head><title>Fallback Title {i % 9} Report</title>"
        f'<meta property="og:title">'
        f'<meta name="description" content="">'
        f'<meta name="author" content>'
        f"</head><body>"
        f'<p class="byline">By {_words(rng, 2)}</p>'
        f"<p>{_words(rng, 13)}.</p><p>{_words(rng, 8)}.</p></body></html>"
    )


def mathjax_scripts(i, rng):
    """Reference 'mathjax' analog: raw-text script bodies (math/tex) are
    disallowed nodes and must vanish without their $-laden payload
    leaking into text_content, while surrounding prose survives."""
    return (
        f"<html><body><p>{_words(rng, 9)}.</p>"
        f'<script type="math/tex">\\frac{{a_{i % 4}}}{{b}} + \\sum x_i</script>'
        f"<p>{_words(rng, 6)} equation {i % 3} {_words(rng, 5)}.</p>"
        f'<style>.mjx {{ color: red }}</style>'
        f"</body></html>"
    )


def ordered_lists(i, rng):
    """Reference 'ol' / 'toc-missing' analog: ordered lists with a start
    attribute amid content; list items contribute text and a link-only
    table-of-contents list is judged by link density."""
    items = "".join(f"<li>{_words(rng, 3)}</li>" for _ in range(4))
    toc = "".join(f'<li><a href="#s{j}">{_words(rng, 2)}</a></li>' for j in range(5))
    return (
        f"<html><body><p>{_words(rng, 12)}.</p>"
        f'<ol start="{2 + i % 3}">{items}</ol>'
        f'<ul class="toc">{toc}</ul>'
        f"<p>{_words(rng, 7)}.</p></body></html>"
    )


def missing_paragraphs(i, rng):
    """Reference 'missing-paragraphs' analog: article body written as bare
    text and <div> blocks with NO <p> wrappers at all — the prep pass's
    div-to-paragraph handling must still yield the prose, not drop it for
    lack of paragraph candidates."""
    return (
        f"<html><body><div id='main'>"
        f"{_words(rng, 13)}."
        f"<div>{_words(rng, 11)}, {_words(rng, 5)}.</div>"
        f"<div><br>{_words(rng, 9)}.</div>"
        f"</div></body></html>"
    )


def remove_extra_paragraphs(i, rng):
    """Reference 'remove-extra-paragraphs' analog: real prose interleaved
    with many empty / whitespace-only <p> elements that must be removed
    without disturbing sibling order or the surviving text."""
    empties = "<p></p><p>  </p><p>\n</p>" * (2 + i % 2)
    return (
        f"<html><body><p>{_words(rng, 12)}.</p>{empties}"
        f"<p>{_words(rng, 8)}.</p>{empties}"
        f"<p>{_words(rng, 10)}, {_words(rng, 4)}.</p></body></html>"
    )


def links_in_tables(i, rng):
    """Reference 'links-in-tables' analog: a link-dense layout table (nav
    chrome) beside a content table holding real prose — exercises the
    link-density scoring and table handling paths; the golden corpus pins
    whatever the (Tier-1-verified) extractor decides, byte for byte."""
    nav_cells = "".join(
        f'<td><a href="/s/{j}">{_words(rng, 2)}</a></td>' for j in range(6)
    )
    return (
        f"<html><body>"
        f'<table class="nav"><tr>{nav_cells}</tr></table>'
        f"<table><tr><td><p>{_words(rng, 14)}.</p>"
        f"<p>{_words(rng, 9)} <a href='/ref'>{_words(rng, 2)}</a> "
        f"{_words(rng, 6)}.</p></td></tr></table>"
        f"</body></html>"
    )


def clean_links(i, rng):
    """Reference 'clean-links' analog: paragraphs whose links carry noisy
    presentational attributes (onclick, target, rel chains) — in-text link
    text stays article text; a link-only footer paragraph exercises the
    link-density boilerplate path, golden-pinned either way."""
    footer_links = " ".join(
        f'<a href="/t/{j}" onclick="track({j})">{_words(rng, 1)}</a>'
        for j in range(7)
    )
    return (
        f"<html><body><p>{_words(rng, 11)} "
        f'<a href="/in-text" target="_blank" rel="noopener nofollow">'
        f"{_words(rng, 3)}</a> {_words(rng, 7)}.</p>"
        f"<p>{_words(rng, 9)}.</p>"
        f'<p class="links">{footer_links}</p>'
        f"</body></html>"
    )


#: CJK + accented vocabulary for the multibyte family (folha / lemonde /
#: gmw / qq / hukumusume-style fixtures are non-ASCII end to end)
_CJK_WORDS = [
    "数据", "处理", "系统", "研究", "文章", "内容", "分析", "结果",
    "método", "análise", "conteúdo", "résumé", "déjà", "naïve",
    "情報", "技術", "記事", "新聞",
]


def cjk_multibyte(i, rng):
    """Reference folha/gmw/qq/hukumusume analog: a fully non-ASCII
    article — CJK and accented paragraphs, multibyte title and byline —
    pinning that UTF-8 survives parse -> extract -> Arrow -> parquet
    byte-identically (a multibyte off-by-one anywhere shifts every
    downstream byte)."""
    w = lambda n: " ".join(rng.choice(_CJK_WORDS) for _ in range(n))  # noqa: E731
    return (
        f"<html><head><title>{w(4)} — 网站名</title>"
        f'<meta name="author" content="张伟 Müller"/></head>'
        f'<body><div id="content">'
        f"<p>{w(14)}。</p><p>{w(16)}。</p><p>{w(12)}。</p>"
        f"</div></body></html>"
    )


def pre_code_blocks(i, rng):
    """Reference ietf-1/v8-blog analog: a technical document whose body
    mixes prose paragraphs with <pre><code> blocks — pre content (with
    significant whitespace and angle-bracket entities) must ride through
    extraction verbatim rather than being collapsed like prose."""
    code = (
        "for (auto&amp; x : values) {\n"
        f"    process(x, {i % 7});\n"
        "}"
    )
    return (
        f"<html><body><div id='main'>"
        f"<p>{_words(rng, 13)}.</p>"
        f"<pre><code>{code}</code></pre>"
        f"<p>{_words(rng, 12)}.</p>"
        f"<pre>  indented   literal\n\tblock {i}</pre>"
        f"<p>{_words(rng, 11)}.</p>"
        f"</div></body></html>"
    )


def definition_lists(i, rng):
    """Reference archive-of-our-own/royal-road analog: a metadata
    <dl> block (tags, ratings) ahead of the chaptered prose — the dl
    must not beat the real content to top-candidate, and dt/dd text
    joins the output under the html5 text rules."""
    tags = "".join(
        f"<dt>{_words(rng, 1)}:</dt><dd>{_words(rng, 2)}</dd>" for _ in range(4)
    )
    return (
        f"<html><body><dl class='work-meta'>{tags}</dl>"
        f"<div id='chapters'><h2>Chapter {i % 5 + 1}</h2>"
        f"<p>{_words(rng, 15)}.</p><p>{_words(rng, 14)}.</p>"
        f"<p>{_words(rng, 13)}.</p></div></body></html>"
    )


def medium_progressive(i, rng):
    """Reference medium-1/2/3 analog: section-based article whose figures
    carry progressive <picture>/<noscript> image pairs with data: URI
    placeholders — the noscript-image unwrap and lazy-src rewrite must
    fire inside real content, not strip it."""
    cap = _words(rng, 4)
    return (
        f"<html><body><article><section>"
        f"<h1>{_words(rng, 5).title()}</h1>"
        f"<p>{_words(rng, 14)}.</p>"
        f"<figure><picture>"
        f'<img src="data:image/gif;base64,R0lGOD" data-src="/img/{i}.jpg"/>'
        f"</picture><noscript>&lt;img src=&quot;/img/{i}.jpg&quot;&gt;</noscript>"
        f"<figcaption>{cap}</figcaption></figure>"
        f"<p>{_words(rng, 12)}.</p></section>"
        f"<section><p>{_words(rng, 11)}.</p></section>"
        f"</article></body></html>"
    )


def nytimes_interactive(i, rng):
    """Reference nytimes-1..4 analog: og/article meta in the head, a
    multi-author byline paragraph, and interactive-embed placeholder divs
    interleaved with the prose — the embeds score nothing and must not
    break sibling merging around them."""
    a1, a2 = _words(rng, 2).title(), _words(rng, 2).title()
    embeds = "".join(
        f'<div class="interactive-embed" data-kind="chart{j}"></div>'
        for j in range(2)
    )
    return (
        f"<html><head>"
        f'<meta property="og:title" content="{_words(rng, 6).title()}"/>'
        f'<meta property="article:published_time" content="2026-0{1 + i % 9}-03T12:00:00Z"/>'
        f"</head><body><article>"
        f'<p class="byline">By {a1} and {a2}</p>'
        f"<p>{_words(rng, 16)}.</p>{embeds}"
        f"<p>{_words(rng, 13)}.</p><p>{_words(rng, 12)}.</p>"
        f"</article></body></html>"
    )


def wikipedia_infobox(i, rng):
    """Reference wikipedia/wikipedia-3 analog: an infobox table and a TOC
    list ahead of the prose, citation superscripts inline — the table and
    nav lists must lose to the paragraph content, and <sup> text joins
    under the html5 text rules."""
    box = "".join(
        f"<tr><th>{_words(rng, 1)}</th><td>{_words(rng, 2)}</td></tr>"
        for _ in range(5)
    )
    toc = "".join(f'<li><a href="#s{j}">{_words(rng, 2)}</a></li>' for j in range(4))
    return (
        f'<html><body><div id="content"><h1>{_words(rng, 3).title()}</h1>'
        f'<table class="infobox">{box}</table>'
        f'<div id="toc"><ul>{toc}</ul></div>'
        f'<p>{_words(rng, 15)}<sup class="reference">[1]</sup> {_words(rng, 9)}.</p>'
        f'<p>{_words(rng, 14)}<sup class="reference">[2]</sup>.</p>'
        f"<p>{_words(rng, 12)}.</p></div></body></html>"
    )


def yahoo_modules(i, rng):
    """Reference yahoo-1..4 analog: heavy nav/aside 'stream' modules whose
    class names hit the unlikely-candidate regex around a caas-style
    article body."""
    mods = "".join(
        f'<div class="stream-module sidebar"><a href="/s/{j}">{_words(rng, 3)}</a></div>'
        for j in range(4)
    )
    return (
        f"<html><body><nav><ul><li><a href='/'>home</a></li></ul></nav>"
        f"{mods}"
        f'<div class="caas-body"><p>{_words(rng, 16)}.</p>'
        f"<p>{_words(rng, 13)}.</p><p>{_words(rng, 11)}.</p></div>"
        f'<aside class="related-stories"><p>{_words(rng, 5)}</p></aside>'
        f"</body></html>"
    )


def guardian_standfirst(i, rng):
    """Reference guardian-1 analog: a standfirst summary div, an
    element-image figure, and a submeta footer of tag links that must not
    ride along with the selected content."""
    tags = "".join(f'<a href="/tag/{j}">{_words(rng, 1)}</a>' for j in range(5))
    return (
        f"<html><body><article>"
        f'<div class="standfirst"><p>{_words(rng, 9)}.</p></div>'
        f'<figure class="element-image"><img src="/g/{i}.jpg"/>'
        f"<figcaption>{_words(rng, 5)}</figcaption></figure>"
        f"<p>{_words(rng, 15)}.</p><p>{_words(rng, 14)}.</p>"
        f'<div class="submeta"><span>Topics</span>{tags}</div>'
        f"</article></body></html>"
    )


def blog_code_series(i, rng):
    """Reference v8-blog/gitlab-blog analog: h2-sectioned technical post
    whose <pre><code> blocks carry entity-escaped angle brackets — raw
    code must survive extraction verbatim (entity unescape happens once,
    in the output stage)."""
    code = f"if (x &lt; {i % 7}) {{ emit(&quot;ok&quot;); }}"
    return (
        f"<html><body><article><h1>{_words(rng, 4).title()}</h1>"
        f"<h2>{_words(rng, 3).title()}</h2><p>{_words(rng, 13)}.</p>"
        f"<pre><code>{code}</code></pre>"
        f"<h2>{_words(rng, 3).title()}</h2><p>{_words(rng, 12)}.</p>"
        f'<footer class="post-author">{_words(rng, 2).title()}</footer>'
        f"</article></body></html>"
    )


def news_video_lede(i, rng):
    """Reference cnn/theverge analog: a video-player lede container (all
    chrome, no text) ahead of the prose plus a JSON config script — the
    player div must not become the top candidate and script raw text
    never reaches text_content."""
    return (
        f"<html><body>"
        f'<div class="video-player js-media" id="lede-video">'
        f'<div class="player-controls"></div></div>'
        f'<script type="application/json">{{"vid": {i}, "autoplay": false}}</script>'
        f"<p>{_words(rng, 16)}.</p><p>{_words(rng, 14)}.</p>"
        f"<p>{_words(rng, 11)}.</p></body></html>"
    )


def toc_anchor_page(i, rng):
    """Reference toc-missing analog: an in-page table of contents of
    pure anchor lists ahead of anchored h2 sections — link-density
    scoring must keep the TOC out of the content while the sections,
    whose headings carry ids, stay in."""
    toc = "".join(
        f'<li><a href="#sec{j}">{_words(rng, 2)}</a></li>' for j in range(5)
    )
    secs = "".join(
        f'<h2 id="sec{j}">{_words(rng, 3).title()}</h2><p>{_words(rng, 12)}.</p>'
        for j in range(3)
    )
    return (
        f'<html><body><ul class="toc">{toc}</ul>'
        f"<div id='post-body'>{secs}</div></body></html>"
    )


def inline_script_content(i, rng):
    """Reference remove-script-tags analog: inline scripts INSIDE content
    paragraphs' parent — script elements are disallowed nodes and their
    raw text must vanish even when they sit between scoring paragraphs."""
    return (
        f"<html><body><div class='entry'>"
        f"<p>{_words(rng, 13)}.</p>"
        f"<script>var track_{i} = document.createElement('div');</script>"
        f"<p>{_words(rng, 12)}.</p>"
        f"<script async src='/js/ads.js'></script>"
        f"<p>{_words(rng, 10)}.</p></div></body></html>"
    )


def wapo_cards(i, rng):
    """Reference wapo-1/2 analog: card-sectioned article with interstitial
    newsletter-promo cards whose classes hit the unlikely regex — promos
    drop, prose cards sibling-merge across the gaps."""
    cards = "".join(
        f'<div class="card"><p>{_words(rng, 13)}.</p></div>'
        f'<div class="newsletter-inline promo"><p>Sign up for {_words(rng, 2)}</p></div>'
        for _ in range(2)
    )
    return (
        f"<html><body><article>{cards}"
        f'<div class="card"><p>{_words(rng, 14)}.</p></div>'
        f"</article></body></html>"
    )


def breadcrumb_share_rail(i, rng):
    """Reference seattletimes/telegraph analog: breadcrumb nav and a
    share-tool rail flanking the story body; both are boilerplate the
    strip pass must remove despite sitting inside the article element."""
    crumbs = " / ".join(
        f'<a href="/c/{j}">{_words(rng, 1)}</a>' for j in range(3)
    )
    return (
        f"<html><body><article>"
        f'<div class="breadcrumbs">{crumbs}</div>'
        f'<div class="share-tools social"><a href="#">share</a><a href="#">tweet</a></div>'
        f"<p>{_words(rng, 15)}.</p><p>{_words(rng, 13)}.</p>"
        f"<p>{_words(rng, 12)}.</p></article></body></html>"
    )


def paywall_teaser(i, rng):
    """Reference wsj/ft-style gating analog: a short visible teaser, a
    paywall overlay div (boilerplate classes), and the full body in a
    second container — the overlay must drop and the fuller container
    must win top-candidate."""
    return (
        f"<html><body>"
        f'<div class="article-teaser"><p>{_words(rng, 8)}.</p></div>'
        f'<div class="paywall-overlay modal subscribe-prompt">'
        f"<p>Subscribe to continue reading</p></div>"
        f'<div class="article-full"><p>{_words(rng, 16)}.</p>'
        f"<p>{_words(rng, 14)}.</p><p>{_words(rng, 12)}.</p></div>"
        f"</body></html>"
    )


def blogger_dynamic(i, rng):
    """Reference blogger/wordpress analog: date-header spans and a
    post-footer label cloud around the post-body div — platform chrome
    with weak classes the scorer must out-rank rather than regex-strip."""
    labels = "".join(f'<a href="/label/{j}">{_words(rng, 1)}</a>' for j in range(4))
    return (
        f"<html><body>"
        f'<span class="date-header">January {1 + i % 28}, 2026</span>'
        f'<div class="post-body entry-content">'
        f"<p>{_words(rng, 15)}.</p><p>{_words(rng, 13)}.</p>"
        f"<p>{_words(rng, 12)}.</p></div>"
        f'<div class="post-footer">Labels: {labels}</div>'
        f"</body></html>"
    )


def msn_listicle(i, rng):
    """Reference msn/buzzfeed-1 analog: numbered h2 items each with an
    image block and a short paragraph — content spread thin across many
    siblings, exercising sibling merge under the top candidate."""
    items = "".join(
        f'<h2>{j + 1}. {_words(rng, 3).title()}</h2>'
        f'<img src="/li/{i}-{j}.jpg"/>'
        f"<p>{_words(rng, 11)}.</p>"
        for j in range(4)
    )
    return (
        f'<html><body><div class="gallery article-body">'
        f"<p>{_words(rng, 12)}.</p>{items}</div></body></html>"
    )


def liveblog_updates(i, rng):
    """Reference lemonde-1/la-nacion analog: timestamped update blocks
    (<time> elements) and a link-dense 'read more' box between them —
    the box's link density must keep it out while the updates stay."""
    related = "".join(f'<a href="/read/{j}">{_words(rng, 4)}</a>' for j in range(4))
    ups = "".join(
        f'<div class="update"><time>1{j}:2{j}</time>'
        f"<p>{_words(rng, 13)}.</p></div>"
        for j in range(3)
    )
    return (
        f'<html><body><div class="liveblog">{ups}'
        f'<div class="read-more-box">{related}</div>'
        f"<p>{_words(rng, 12)}.</p></div></body></html>"
    )


def spec_table_review(i, rng):
    """Reference heise/cnet analog: a data-bearing spec table INSIDE the
    content (must survive — it is not a layout table) plus a figure whose
    copyright span rides the caption."""
    spec = "".join(
        f"<tr><td>{_words(rng, 1)}</td><td>{10 + j} {_words(rng, 1)}</td></tr>"
        for j in range(4)
    )
    return (
        f"<html><body><article><p>{_words(rng, 14)}.</p>"
        f"<table><tr><th>spec</th><th>value</th></tr>{spec}</table>"
        f'<figure><img src="/rev/{i}.jpg"/><figcaption>{_words(rng, 4)} '
        f'<span class="copyright">(c) example</span></figcaption></figure>'
        f"<p>{_words(rng, 12)}.</p></article></body></html>"
    )


def rfc_plain_sections(i, rng):
    """Reference ietf-1/ebb-org analog: classless, chrome-less document —
    bare h2 sections, a <pre> ascii block and an <address> footer; scoring
    must work on text signals alone (no class/id hints either way)."""
    return (
        f"<html><body><h1>{_words(rng, 4).title()}</h1>"
        f"<h2>1. {_words(rng, 2).title()}</h2><p>{_words(rng, 15)}.</p>"
        f"<pre>   field | bits\n   ----- | ----\n   kind  | {i % 8}</pre>"
        f"<h2>2. {_words(rng, 2).title()}</h2><p>{_words(rng, 14)}.</p>"
        f"<address>authors: {_words(rng, 2)}</address></body></html>"
    )


def cjk_portal(i, rng):
    """Reference qq/gmw/hukumusume analog: CJK portal chrome (dense nav of
    short CJK anchors) around a CJK article body — multibyte text plus
    the portal's link walls in one page."""
    zh = "新闻 报道 科技 文化 经济 体育 教育 健康".split()
    navs = "".join(f'<a href="/c/{j}">{zh[j % len(zh)]}</a>' for j in range(8))
    body = "。".join(
        "".join(rng.choice(zh) for _ in range(10)) for _ in range(3)
    )
    return (
        f'<html><head><meta charset="utf-8"/></head><body>'
        f'<div class="portal-nav">{navs}</div>'
        f'<div class="article-content"><p>{body}。</p>'
        f"<p>{_words(rng, 10)}.</p></div></body></html>"
    )


def quote_reblog(i, rng):
    """Reference tumblr/pixnet analog: blockquote-heavy short post with
    reblog chrome — nested quotes are content here, and the reblog
    header/footer chrome must not drag them out."""
    return (
        f"<html><body>"
        f'<div class="reblog-header"><a href="/u/{i % 9}">user{i % 9}</a> reblogged</div>'
        f'<div class="post-content"><blockquote><p>{_words(rng, 12)}.</p>'
        f"<blockquote><p>{_words(rng, 10)}.</p></blockquote></blockquote>"
        f"<p>{_words(rng, 11)}.</p></div>"
        f'<div class="note-count">{i % 100} notes</div>'
        f"</body></html>"
    )


def medical_qa_sections(i, rng):
    """Reference webmd-1/2 analog: question-styled h2 sections with an
    'advertisement' placeholder div between them — the ad slots drop,
    the Q/A sections merge into one article."""
    secs = "".join(
        f"<h2>{_words(rng, 4).title()}?</h2><p>{_words(rng, 13)}.</p>"
        f'<div class="ad-slot advertisement"><span>Advertisement</span></div>'
        for _ in range(2)
    )
    return (
        f'<html><body><div class="article-page">'
        f"<p>{_words(rng, 14)}.</p>{secs}"
        f"<p>{_words(rng, 12)}.</p></div></body></html>"
    )


def figure_rich_essay(i, rng):
    """Reference quanta/citylab analog: long-form essay whose figures carry
    credit lines and whose pull-quote asides duplicate body sentences —
    the pull quotes (aside) drop while figcaptions stay with content."""
    pull = _words(rng, 7)
    return (
        f"<html><body><article><p>{_words(rng, 15)}.</p>"
        f'<aside class="pull-quote"><p>{pull}</p></aside>'
        f'<figure><img src="/q/{i}.png"/><figcaption>{_words(rng, 5)} '
        f"Credit: Example Labs</figcaption></figure>"
        f"<p>{pull} {_words(rng, 9)}.</p><p>{_words(rng, 12)}.</p>"
        f"</article></body></html>"
    )


def engadget_scorecard(i, rng):
    """Reference engadget/cnet-review analog: a pros/cons scorecard list
    pair inside the review body — genuine content lists that must not be
    stripped as chrome despite their boxy markup."""
    pros = "".join(f"<li>{_words(rng, 3)}</li>" for _ in range(3))
    cons = "".join(f"<li>{_words(rng, 3)}</li>" for _ in range(2))
    return (
        f"<html><body><article><p>{_words(rng, 14)}.</p>"
        f'<div class="scorecard"><h3>Pros</h3><ul>{pros}</ul>'
        f"<h3>Cons</h3><ul>{cons}</ul></div>"
        f"<p>{_words(rng, 13)}.</p><p>{_words(rng, 11)}.</p>"
        f"</article></body></html>"
    )


def folha_l10n_meta(i, rng):
    """Reference folha/la-nacion/lemonde analog: non-English page whose
    head metadata and lang attributes disagree case/spacing-wise — the
    lang extraction must normalize while accented body text survives
    byte-identically."""
    pt = ["economia", "política", "educação", "saúde", "ciência", "negócios"]
    body = " ".join(rng.choice(pt) for _ in range(12))
    return (
        f'<html lang="PT-br"><head>'
        f'<meta property="og:title" content="{_words(rng, 4).title()}"/>'
        f'<meta property="og:locale" content="pt_BR"/></head>'
        f"<body><p>{body}.</p><p>{body[::-1][:40]}.</p></body></html>"
    )


def dev_docs_nav_tree(i, rng):
    """Reference dev418/ietf analog: docs page with a deep left-nav link
    tree (every line an anchor) beside a prose main — link density must
    sink the whole nav tree, not just its top node."""
    tree = "".join(
        f'<li><a href="/d/{j}">{_words(rng, 2)}</a><ul>'
        + "".join(f'<li><a href="/d/{j}/{k}">{_words(rng, 2)}</a></li>' for k in range(3))
        + "</ul></li>"
        for j in range(3)
    )
    return (
        f'<html><body><div class="docs-sidebar"><ul>{tree}</ul></div>'
        f'<main><h1>{_words(rng, 3).title()}</h1>'
        f"<p>{_words(rng, 15)}.</p><p>{_words(rng, 13)}.</p></main>"
        f"</body></html>"
    )


def salon_next_page(i, rng):
    """Reference salon-1/ars multi-page analog: article body ending in a
    pagination block ('next page' links) — the pager drops, the body
    stays whole."""
    pager = "".join(f'<a href="/story/{i}?page={j}">{j}</a>' for j in range(1, 5))
    return (
        f'<html><body><div id="story-body">'
        f"<p>{_words(rng, 15)}.</p><p>{_words(rng, 14)}.</p>"
        f'<div class="pagination pager">{pager}'
        f'<a href="/story/{i}?page=2">Next page</a></div>'
        f"</div></body></html>"
    )


def tmz_caption_gallery(i, rng):
    """Reference tmz-1/buzzfeed analog: celebrity-gallery page whose
    content is caption paragraphs under images plus a launch-gallery
    button — captions are the content, the button chrome is not."""
    shots = "".join(
        f'<img src="/g/{i}-{j}.jpg"/><p class="caption">{_words(rng, 9)}.</p>'
        for j in range(3)
    )
    return (
        f'<html><body><div class="gallery-article">{shots}'
        f'<a class="launch-gallery button" href="/gallery/{i}">Launch Gallery</a>'
        f"<p>{_words(rng, 11)}.</p></div></body></html>"
    )


def spiceworks_forum_answer(i, rng):
    """Reference spiceworks/ehow analog: Q&A page — question block,
    accepted-answer block (the content), and a stack of short low-score
    replies with vote chrome that must lose."""
    replies = "".join(
        f'<div class="reply"><span class="votes">{j}</span>'
        f"<p>{_words(rng, 4)}.</p></div>"
        for j in range(3)
    )
    return (
        f'<html><body><div class="question"><h1>{_words(rng, 6).title()}?</h1>'
        f"<p>{_words(rng, 9)}?</p></div>"
        f'<div class="accepted-answer"><p>{_words(rng, 15)}.</p>'
        f"<p>{_words(rng, 12)}.</p></div>"
        f'<div class="replies">{replies}</div></body></html>'
    )


def iab_consent_banner(i, rng):
    """Reference iab-1 analog: GDPR consent banner + cookie-notice fixed
    bars around the article — classic boilerplate the unlikely regex and
    hidden-node rules must remove together."""
    return (
        f"<html><body>"
        f'<div class="cookie-banner consent-notice" style="position:fixed">'
        f"<p>We use cookies. <a href='/privacy'>Learn more</a></p></div>"
        f"<article><p>{_words(rng, 15)}.</p><p>{_words(rng, 12)}.</p></article>"
        f'<div class="gdpr-modal" aria-hidden="true"><p>Manage preferences</p></div>'
        f"</body></html>"
    )


def howto_steps(i, rng):
    """Reference ehow-1/2 analog: how-to page — a 'things you'll need'
    list, numbered step headings with short bodies, and a tip box; the
    step structure is the content despite each piece scoring low alone."""
    need = "".join(f"<li>{_words(rng, 2)}</li>" for _ in range(3))
    steps = "".join(
        f"<h3>Step {j + 1}</h3><p>{_words(rng, 10)}.</p>" for j in range(4)
    )
    return (
        f'<html><body><div class="howto"><h1>{_words(rng, 5).title()}</h1>'
        f'<div class="things-needed"><h2>Things You\'ll Need</h2><ul>{need}</ul></div>'
        f"{steps}"
        f'<div class="tip-box"><p>Tip: {_words(rng, 8)}.</p></div>'
        f"</div></body></html>"
    )


def release_notes(i, rng):
    """Reference mozilla-2/v8-blog analog: release-notes page — h2
    version sections whose content is feature <ul> lists (genuine list
    content, not chrome) plus a download-button block that is."""
    feats = "".join(f"<li>{_words(rng, 6)}</li>" for _ in range(4))
    return (
        f"<html><body><article><h1>Release {i % 20}.0 Notes</h1>"
        f"<h2>New Features</h2><ul>{feats}</ul>"
        f"<h2>Fixed</h2><p>{_words(rng, 12)}.</p>"
        f'<div class="download-button cta"><a href="/dl/{i}">Download now</a></div>'
        f"</article></body></html>"
    )


def fandom_infocard(i, rng):
    """Reference wikia analog: fan-wiki page — portable infocard aside,
    per-section edit links riding the headings, and a trivia section;
    edit-link spans are chrome inside otherwise-content headings."""
    card = "".join(
        f'<div class="pi-item"><h3>{_words(rng, 1)}</h3><div>{_words(rng, 2)}</div></div>'
        for _ in range(3)
    )
    return (
        f'<html><body><aside class="portable-infobox">{card}</aside>'
        f'<h2>Biography <span class="mw-editsection"><a href="/edit/{i}">edit</a></span></h2>'
        f"<p>{_words(rng, 15)}.</p><p>{_words(rng, 12)}.</p>"
        f"<h2>Trivia</h2><ul><li>{_words(rng, 7)}</li><li>{_words(rng, 6)}</li></ul>"
        f"</body></html>"
    )


def wire_allcaps_lede(i, rng):
    """Reference breitbart/tmz wire analog: short wire story whose lede
    sentence is ALL CAPS, followed by a related-links list — casing must
    survive byte-identically and the related block must drop."""
    rel = "".join(f'<a href="/rel/{j}">{_words(rng, 4)}</a>' for j in range(4))
    return (
        f'<html><body><div class="article-wire">'
        f"<p>{_words(rng, 8).upper()} — {_words(rng, 10)}.</p>"
        f"<p>{_words(rng, 13)}.</p>"
        f'<div class="related-links rightrail">{rel}</div>'
        f"</div></body></html>"
    )


def inline_formatting_soup(i, rng):
    """Reference basic-tags-cleaning analog: content dense with inline
    b/i/em/strong/u plus deprecated center/big wrappers — inline tags
    survive in content, deprecated block wrappers must not break
    paragraph scoring."""
    return (
        f"<html><body><center><big>{_words(rng, 4).title()}</big></center>"
        f"<p><b>{_words(rng, 2)}</b> {_words(rng, 8)} <i>{_words(rng, 2)}</i> "
        f"<em>{_words(rng, 2)}</em>.</p>"
        f"<p><strong>{_words(rng, 3)}</strong> {_words(rng, 9)} <u>{_words(rng, 2)}</u>.</p>"
        f"<p>{_words(rng, 11)}.</p></body></html>"
    )


def nested_duplicate_body(i, rng):
    """Reference bug-1255978 analog: the same prose present at two nesting
    levels (a wrapper whose only child repeats its text signal) — score
    propagation must not double-count and the selection must stay stable."""
    core = f"<p>{_words(rng, 14)}.</p><p>{_words(rng, 12)}.</p>"
    return (
        f'<html><body><div class="outer-article">'
        f'<div class="inner-article">{core}</div>'
        f"</div><p>{_words(rng, 9)}.</p></body></html>"
    )


def amp_components(i, rng):
    """AMP-page analog (modern webtext reality): amp-img/amp-ad custom
    elements inside content — unknown elements parse as generic
    containers, amp-ad chrome drops with its class, amp-img contributes
    no text."""
    return (
        f"<html><body><article>"
        f"<p>{_words(rng, 14)}.</p>"
        f'<amp-img src="/amp/{i}.jpg" width="600" height="400"></amp-img>'
        f'<amp-ad class="advertisement" width="300" height="250"></amp-ad>'
        f"<p>{_words(rng, 12)}.</p><p>{_words(rng, 10)}.</p>"
        f"</article></body></html>"
    )


def print_edition_chrome(i, rng):
    """Reference telegraph/seattletimes print-chrome analog: skip-to-
    content anchor, a print/subscribe utility bar, and a copyright
    footer — all boilerplate bracketing a plain story."""
    return (
        f'<html><body><a class="skip-link" href="#main">Skip to content</a>'
        f'<div class="utility-bar"><a href="/print/{i}">Print</a>'
        f'<a href="/subscribe">Subscribe</a></div>'
        f'<main id="main"><p>{_words(rng, 15)}.</p><p>{_words(rng, 13)}.</p></main>'
        f'<footer class="site-footer"><p>© 2026 Example Media. {_words(rng, 4)}.</p></footer>'
        f"</body></html>"
    )


def aclu_action_rail(i, rng):
    """Reference aclu analog: advocacy press release — donate/take-action
    CTA blocks and a share rail bracketing the statement prose.  The
    share rail ('social') drops in the default pipeline (unlikely-
    candidates regex); the CTA block drops only on the scored path,
    where the quoted attorney statement survives — both paths are
    golden-pinned."""
    return (
        f'<html><body><div class="press-release">'
        f"<h1>{_words(rng, 6).title()}</h1>"
        f'<div class="promo action-cta"><a href="/act/{i}">Take Action</a>'
        f'<a href="/donate">Donate</a></div>'
        f"<p>{_words(rng, 16)}.</p>"
        f"<p>“{_words(rng, 12).capitalize()},” said {_words(rng, 2).title()}, "
        f"staff attorney. “{_words(rng, 10).capitalize()}.”</p>"
        f"<p>{_words(rng, 13)}.</p>"
        f'<div class="share-rail social"><a href="/s/fb">Share</a>'
        f'<a href="/s/tw">Tweet</a></div>'
        f"</div></body></html>"
    )


def ao3_work_meta(i, rng):
    """Reference archive-of-our-own analog: fanwork page — a metadata
    tag table (rating/fandom/relationship rows of links), author notes
    module, then chapter prose.  The default pipeline keeps all three
    (none match the unlikely regex); the scored path drops the
    link-dense meta dl and the notes module and selects the userstuff
    chapter prose — both paths golden-pinned."""
    tags = "".join(
        f'<dd class="tags"><a href="/tag/{j}">{_words(rng, 2)}</a></dd>'
        for j in range(4)
    )
    return (
        f'<html><body><dl class="work meta group"><dt>Fandom:</dt>{tags}</dl>'
        f'<div class="preface"><h2 class="title">{_words(rng, 4).title()}</h2>'
        f'<div class="notes module"><p>Notes: {_words(rng, 9)}.</p></div></div>'
        f'<div class="userstuff"><p>{_words(rng, 16)}.</p>'
        f"<p>{_words(rng, 14)}.</p><p>{_words(rng, 12)}.</p></div>"
        f"</body></html>"
    )


def ars_figure_longread(i, rng):
    """Reference ars-1 analog: tech long-read — intro paragraph, a
    figure with figcaption (caption text is content-adjacent and kept
    inside the selected candidate), a page-nav toolbar that drops, and
    several body paragraphs."""
    return (
        f"<html><body><article><h1>{_words(rng, 7).title()}</h1>"
        f'<p class="intro">{_words(rng, 15)}.</p>'
        f'<figure><img src="/img/{i}.jpg"><figcaption>Enlarge / '
        f"{_words(rng, 8)}.</figcaption></figure>"
        f"<p>{_words(rng, 14)}.</p><p>{_words(rng, 13)}.</p>"
        f'<nav class="page-numbers pager"><a href="/p/1">1</a>'
        f'<a href="/p/2">2</a><a href="/p/next">Next</a></nav>'
        f"</article></body></html>"
    )


def bbc_media_placeholders(i, rng):
    """Reference bbc-1 analog: broadcaster story — bold intro paragraph,
    media-player placeholder divs with caption spans interleaved in the
    prose, and an analysis box with a correspondent byline.  The scored
    path drops the placeholder (its off-screen caption included) and
    keeps the analysis box; the default pipeline keeps both, and both
    paths are golden-pinned."""
    return (
        f'<html><body><div class="story-body">'
        f"<p><b>{_words(rng, 12)}.</b></p>"
        f'<div class="media-placeholder video"><span class="off-screen">'
        f"Media playback is unsupported on your device</span></div>"
        f"<p>{_words(rng, 14)}.</p>"
        f'<div class="analysis-box"><h2>Analysis</h2>'
        f"<p>By {_words(rng, 2).title()}, correspondent</p>"
        f"<p>{_words(rng, 12)}.</p></div>"
        f"<p>{_words(rng, 11)}.</p></div></body></html>"
    )


def buzzfeed_listicle(i, rng):
    """Reference buzzfeed-1 analog: numbered listicle — h2 item headings
    ('1. ...'), a short paragraph and an image-credit attribution line
    per subbuzz block.  The scored path's candidate selection lands on
    the item paragraphs (headings and credit lines fall away); the
    default pipeline keeps the whole list structure — both paths
    golden-pinned."""
    items = "".join(
        f'<div class="subbuzz"><h2>{j + 1}. {_words(rng, 5).title()}</h2>'
        f"<p>{_words(rng, 11)}.</p>"
        f'<div class="subbuzz-attribution copyright"><a href="/src/{j}">'
        f"{_words(rng, 3)}</a></div></div>"
        for j in range(4)
    )
    return (
        f"<html><body><article><h1>{_words(rng, 8).title()}</h1>"
        f"{items}</article></body></html>"
    )


def royalroad_chapter(i, rng):
    """Reference royal-road analog: serial-fiction chapter — prev/next
    chapter nav buttons above and below, an author-note module, and long
    chapter prose.  The scored path selects the chapter-content div
    (both nav blocks and the trailing author note fall outside the
    candidate); the default pipeline keeps everything — both paths
    golden-pinned."""
    nav = (
        f'<div class="nav-buttons portlet"><a class="btn" href="/ch/{i - 1}">'
        f'Previous Chapter</a><a class="btn" href="/ch/{i + 1}">Next Chapter</a></div>'
    )
    return (
        f"<html><body>{nav}"
        f'<div class="chapter-content"><p>{_words(rng, 17)}.</p>'
        f"<p>{_words(rng, 15)}.</p><p>{_words(rng, 16)}.</p></div>"
        f'<div class="author-note-portlet"><strong>A note from '
        f"{_words(rng, 2).title()}</strong><p>{_words(rng, 9)}.</p></div>"
        f"{nav}</body></html>"
    )


def wordpress_classic(i, rng):
    """Reference wordpress analog: classic WP post — entry-meta byline
    line, entry-content body, a sharedaddy share block, and post-nav
    links.  On the scored path the entry-content body is the selected
    candidate and meta/share/nav all drop; the default pipeline keeps
    them (none match the unlikely regex) — both paths golden-pinned."""
    return (
        f'<html><body><article class="post hentry">'
        f'<h1 class="entry-title">{_words(rng, 6).title()}</h1>'
        f'<div class="entry-meta">Posted on <a href="/2026/01">January {i % 28 + 1}, '
        f'2026</a> by <span class="author vcard">{_words(rng, 2).title()}</span></div>'
        f'<div class="entry-content"><p>{_words(rng, 15)}.</p>'
        f"<p>{_words(rng, 13)}.</p><p>{_words(rng, 12)}.</p></div>"
        f'<div class="sharedaddy sd-sharing"><h3 class="sd-title">Share this:</h3>'
        f'<a href="/share/tw">Twitter</a><a href="/share/fb">Facebook</a></div>'
        f'<nav class="post-navigation"><a href="/prev">← Previous Post</a>'
        f'<a href="/next">Next Post →</a></nav>'
        f"</article></body></html>"
    )


def quanta_pullquotes(i, rng):
    """Reference quanta-1 analog: long-form science feature — body
    paragraphs interleaved with blockquote pull quotes carrying cite
    attributions; pull quotes repeat in-body sentences (near-dup text
    inside one doc) and must not destabilize candidate selection."""
    s1 = f"{_words(rng, 12).capitalize()}."
    return (
        f"<html><body><article><h1>{_words(rng, 7).title()}</h1>"
        f"<p>{s1} {_words(rng, 10)}.</p>"
        f'<blockquote class="pullquote"><p>{s1}</p>'
        f"<cite>{_words(rng, 2).title()}</cite></blockquote>"
        f"<p>{_words(rng, 14)}.</p><p>{_words(rng, 13)}.</p>"
        f"</article></body></html>"
    )


def lifehacker_deferred_comments(i, rng):
    """Reference lifehacker-post-comment-load analog: article followed by
    a deferred comments container (empty div with data-* attrs plus a
    'Load comments' button).  The empty container is dropped by
    RemoveEmptyContainers in the default pipeline; the button block drops
    on the scored path — both golden-pinned."""
    return (
        f"<html><body><article><h1>{_words(rng, 6).title()}</h1>"
        f"<p>{_words(rng, 15)}.</p><p>{_words(rng, 13)}.</p>"
        f"<p>{_words(rng, 12)}.</p></article>"
        f'<div class="js_comments-iframe" data-post-id="{i}" data-deferred="1"></div>'
        f'<div class="load-comments-cta"><a href="#comments">Load comments</a></div>'
        f"</body></html>"
    )


def cnn_highlights(i, rng):
    """Reference cnn analog: wire-service story — a 'Story highlights'
    bullet box beside the body and a '(Source) —' prefixed lede
    paragraph.  The em-dash lede prefix must survive byte-identically;
    the highlights box is kept by the default pipeline and falls outside
    the scored candidate."""
    hl = "".join(f"<li>{_words(rng, 6)}</li>" for _ in range(3))
    return (
        f'<html><body><div class="l-container">'
        f'<div class="el__storyhighlights"><h4>Story highlights</h4><ul>{hl}</ul></div>'
        f'<div class="zn-body"><p>(Example News) — {_words(rng, 13)}.</p>'
        f"<p>{_words(rng, 14)}.</p><p>{_words(rng, 12)}.</p></div>"
        f"</div></body></html>"
    )


def ebb_plain_essay(i, rng):
    """Reference ebb-org analog: hand-written classless HTML essay — no
    divs, no class/id signals anywhere, just h1/p/blockquote directly in
    body.  Exercises scoring with zero class-weight signal (pure
    text-length/comma evidence) and the implied-structure parser path."""
    return (
        f"<html><head><title>{_words(rng, 5).title()}</title></head><body>"
        f"<h1>{_words(rng, 5).title()}</h1>"
        f"<p>{_words(rng, 16)}, {_words(rng, 6)}.</p>"
        f"<blockquote><p>{_words(rng, 10)}.</p></blockquote>"
        f"<p>{_words(rng, 14)}, {_words(rng, 5)}.</p>"
        f"<p>{_words(rng, 12)}.</p></body></html>"
    )


def hukumusume_ruby_story(i, rng):
    """Reference hukumusume analog: Japanese children's story — CJK prose
    in short paragraphs with <ruby>base<rt>reading</rt></ruby>
    annotations.  Ruby parses as a generic container in our HTML5
    subset, so base and reading text both join text_content (the
    reference behaves the same); byte-identity covers the multibyte +
    nested-inline combination."""
    kanji = ["昔々", "山奥", "村人", "狐", "祭り", "約束"]
    kana = ["むかしむかし", "やまおく", "むらびと", "きつね", "まつり", "やくそく"]
    k = i % len(kanji)
    return (
        f"<html><body><h1>むかしばなし 第{i % 50}話</h1>"
        f"<p><ruby>{kanji[k]}<rt>{kana[k]}</rt></ruby>、ある村に狐が住んでいました。"
        f"{_words(rng, 4)}。</p>"
        f"<p>村人は<ruby>{kanji[(k + 1) % len(kanji)]}"
        f"<rt>{kana[(k + 1) % len(kanji)]}</rt></ruby>で狐に会いました。</p>"
        f"<p>それから、みんなは仲良く暮らしました。{_words(rng, 3)}。</p>"
        f"</body></html>"
    )


def lemonde_dateline(i, rng):
    """Reference lemonde-1/la-nacion analog: European-language article —
    html lang attribute, 'Par <author>' byline line with a 'Publié le'
    dateline, and French punctuation spacing (« guillemets », n'...)
    that must survive byte-identically."""
    return (
        f'<html lang="fr"><body><article>'
        f"<h1>{_words(rng, 6).title()}</h1>"
        f'<p class="meta-byline">Par {_words(rng, 2).title()} · Publié le '
        f"{i % 28 + 1} janvier 2026</p>"
        f"<p>« {_words(rng, 10).capitalize()} », a déclaré le ministre. "
        f"L'enquête {_words(rng, 8)}.</p>"
        f"<p>{_words(rng, 14)}.</p><p>{_words(rng, 12)}.</p>"
        f"</article></body></html>"
    )


def theverge_hero_newsletter(i, rng):
    """Reference theverge analog: feature page — hero figure with photo
    credit, a mid-article newsletter-signup module, and body prose.  The
    signup module ('newsletter' hits the negative/unlikely signals on
    the scored path); the hero credit rides the figure's figcaption."""
    return (
        f"<html><body><article>"
        f'<figure class="hero"><img src="/hero/{i}.jpg">'
        f"<figcaption>Photo: {_words(rng, 2).title()} / Example</figcaption></figure>"
        f"<h1>{_words(rng, 7).title()}</h1>"
        f"<p>{_words(rng, 15)}.</p>"
        f'<div class="newsletter-signup sidebar"><h3>Sign up for the newsletter</h3>'
        f'<form action="/subscribe"><input type="email"><button>Subscribe</button></form></div>'
        f"<p>{_words(rng, 14)}.</p><p>{_words(rng, 12)}.</p>"
        f"</article></body></html>"
    )


def seo_breadcrumb_tagcloud(i, rng):
    """Reference topicseed-1/simplyfound-1 analog: SEO-heavy blog post —
    breadcrumb trail above, tag cloud and prev/next teasers below.
    'breadcrumbs' matches the unlikely regex so the trail drops in the
    default pipeline; the tag cloud and teasers drop on the scored
    path."""
    tags = "".join(f'<a href="/tag/{j}" rel="tag">{_words(rng, 1)}</a>' for j in range(6))
    return (
        f'<html><body><nav class="breadcrumbs"><a href="/">Home</a> › '
        f'<a href="/blog">Blog</a> › <span>{_words(rng, 3)}</span></nav>'
        f"<article><h1>{_words(rng, 6).title()}</h1>"
        f"<p>{_words(rng, 15)}.</p><p>{_words(rng, 14)}.</p></article>"
        f'<div class="tag-cloud">{tags}</div>'
        f'<div class="post-teasers related"><a href="/prev/{i}">{_words(rng, 5)}</a>'
        f'<a href="/next/{i}">{_words(rng, 5)}</a></div>'
        f"</body></html>"
    )


def wikipedia_citations(i, rng):
    """Reference wikipedia-3 analog: encyclopedia body text with
    [n]-style citation superscripts, a hatnote line, and a references
    ordered list.  Sup/cite brackets must survive byte-identically
    inside content; the hatnote div and reflist drop only on the scored
    path."""
    refs = "".join(f"<li>{_words(rng, 6)}. Press {j}.</li>" for j in range(3))
    return (
        f'<html><body><div class="hatnote">This page is about {_words(rng, 3)}. '
        f'For other uses, see <a href="/d/{i}">{_words(rng, 2)}</a>.</div>'
        f"<p>{_words(rng, 12)}<sup>[1]</sup> {_words(rng, 8)}.<sup>[2]</sup></p>"
        f"<p>{_words(rng, 14)}.</p>"
        f'<h2>References</h2><div class="reflist"><ol>{refs}</ol></div>'
        f"</body></html>"
    )


FAMILIES = [
    ("plain_article", plain_article),
    ("title_separator", title_separator),
    ("title_colon", title_colon),
    ("title_h1_fallback", title_h1_fallback),
    ("jsonld_full", jsonld_full),
    ("meta_tags", meta_tags),
    ("byline_dom", byline_dom),
    ("lang_dir", lang_dir),
    ("disallowed_nodes", disallowed_nodes),
    ("hidden_nodes", hidden_nodes),
    ("unlikely_candidates", unlikely_candidates),
    ("empty_containers", empty_containers),
    ("br_chains", br_chains),
    ("font_tags", font_tags),
    ("noscript_images", noscript_images),
    ("entities", entities),
    ("element_limit", element_limit_family),
    ("malformed", malformed),
    ("table_content", table_content),
    ("social_buttons", social_buttons),
    ("svg_inline", svg_inline),
    ("lazy_images", lazy_images),
    ("nested_tables", nested_tables),
    ("multi_candidate", multi_candidate),
    ("comment_section", comment_section),
    ("embedded_videos", embedded_videos),
    ("deep_wrappers", deep_wrappers),
    ("parsely_metadata", parsely_metadata),
    ("space_separated_properties", space_separated_properties),
    ("jsonld_context_object", jsonld_context_object),
    ("article_author_url", article_author_url),
    ("comment_in_script", comment_in_script),
    ("data_url_image", data_url_image),
    ("table_style_attributes", table_style_attributes),
    ("keep_images", keep_images),
    ("metadata_content_missing", metadata_content_missing),
    ("mathjax_scripts", mathjax_scripts),
    ("ordered_lists", ordered_lists),
    ("missing_paragraphs", missing_paragraphs),
    ("remove_extra_paragraphs", remove_extra_paragraphs),
    ("links_in_tables", links_in_tables),
    ("clean_links", clean_links),
    ("cjk_multibyte", cjk_multibyte),
    ("pre_code_blocks", pre_code_blocks),
    ("definition_lists", definition_lists),
    ("medium_progressive", medium_progressive),
    ("nytimes_interactive", nytimes_interactive),
    ("wikipedia_infobox", wikipedia_infobox),
    ("yahoo_modules", yahoo_modules),
    ("guardian_standfirst", guardian_standfirst),
    ("blog_code_series", blog_code_series),
    ("news_video_lede", news_video_lede),
    ("toc_anchor_page", toc_anchor_page),
    ("inline_script_content", inline_script_content),
    ("wapo_cards", wapo_cards),
    ("breadcrumb_share_rail", breadcrumb_share_rail),
    ("paywall_teaser", paywall_teaser),
    ("blogger_dynamic", blogger_dynamic),
    ("msn_listicle", msn_listicle),
    ("liveblog_updates", liveblog_updates),
    ("spec_table_review", spec_table_review),
    ("rfc_plain_sections", rfc_plain_sections),
    ("cjk_portal", cjk_portal),
    ("quote_reblog", quote_reblog),
    ("medical_qa_sections", medical_qa_sections),
    ("figure_rich_essay", figure_rich_essay),
    ("engadget_scorecard", engadget_scorecard),
    ("folha_l10n_meta", folha_l10n_meta),
    ("dev_docs_nav_tree", dev_docs_nav_tree),
    ("salon_next_page", salon_next_page),
    ("tmz_caption_gallery", tmz_caption_gallery),
    ("spiceworks_forum_answer", spiceworks_forum_answer),
    ("iab_consent_banner", iab_consent_banner),
    ("howto_steps", howto_steps),
    ("release_notes", release_notes),
    ("fandom_infocard", fandom_infocard),
    ("wire_allcaps_lede", wire_allcaps_lede),
    ("inline_formatting_soup", inline_formatting_soup),
    ("nested_duplicate_body", nested_duplicate_body),
    ("amp_components", amp_components),
    ("print_edition_chrome", print_edition_chrome),
    ("aclu_action_rail", aclu_action_rail),
    ("ao3_work_meta", ao3_work_meta),
    ("ars_figure_longread", ars_figure_longread),
    ("bbc_media_placeholders", bbc_media_placeholders),
    ("buzzfeed_listicle", buzzfeed_listicle),
    ("royalroad_chapter", royalroad_chapter),
    ("wordpress_classic", wordpress_classic),
    ("quanta_pullquotes", quanta_pullquotes),
    ("lifehacker_deferred_comments", lifehacker_deferred_comments),
    ("cnn_highlights", cnn_highlights),
    ("ebb_plain_essay", ebb_plain_essay),
    ("hukumusume_ruby_story", hukumusume_ruby_story),
    ("lemonde_dateline", lemonde_dateline),
    ("theverge_hero_newsletter", theverge_hero_newsletter),
    ("seo_breadcrumb_tagcloud", seo_breadcrumb_tagcloud),
    ("wikipedia_citations", wikipedia_citations),
]


@dataclass
class FixtureRow:
    url: str
    warc_ts: datetime
    html: bytes
    text: str
    lang: str
    family: str


def build_rows(n=660):
    """n deterministic pages rows: ~55% plain_article, the rest cycling
    round-robin through the remaining len(FAMILIES)-1 families.  Each
    non-plain family gets floor-or-ceil of n*9/20 / (len(FAMILIES)-1)
    rows — with 97 families, n=660 yields 297 non-plain rows, >= 3 per
    family (the invariant test_golden_spark pins); raise n when adding
    families if 9n/20 drops below 3*(len(FAMILIES)-1)."""
    rows = []
    others = FAMILIES[1:]
    other_idx = 0
    for i in range(n):
        rng = random.Random(SEED * 1_000_003 + i)
        if i % 20 < 11:
            family, builder = FAMILIES[0]
        else:
            family, builder = others[other_idx % len(others)]
            other_idx += 1
        html = builder(i, rng)
        if isinstance(html, str):
            html = html.encode("utf-8")
        domain = HOT_DOMAIN if i % 10 < 4 else DOMAINS[i % len(DOMAINS)]
        rows.append(
            FixtureRow(
                url=f"https://{domain}/fixtures/{family}/page-{i:06d}.html",
                warc_ts=datetime(2026, 1, 1) + timedelta(seconds=37 * i),
                html=html,
                text=html.decode("utf-8", errors="replace"),
                lang=LANGS[i % len(LANGS)],
                family=family,
            )
        )
    return rows


def golden_for(rows, options=None):
    """Expected outputs, computed by the (Tier-1-verified) local extractor.
    Returns {url: (article_or_none, status, error)}."""
    return {r.url: extract_row(r.html, options=options) for r in rows}
