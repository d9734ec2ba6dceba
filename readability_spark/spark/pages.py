"""Deterministic Common-Crawl-style pages synthesized from the driver's
``documents`` table (TESTDATA.md) — no external data, seedless pure
functions of the row, so every run and every engine (Spark, DuckDB oracle)
agrees byte-for-byte.

The page template is constructed so the full 16-stage extraction output is
a closed-form function of the source row; the DuckDB oracle in
``__spark_entry__.py`` recomputes it in pure SQL, making the whole DOM
pipeline end-to-end verifiable (byte-identical text per url) by the
driver's correctness gate.
"""

from __future__ import annotations

import html as _htmlmod
from datetime import datetime, timedelta

from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .session import map_batches

#: url host of every page with ``doc_id % 10 < 4`` (40% of rows); url
#: hashing already spreads it over the logical partitions
#: (test_hot_domain_spreads_across_partitions_and_salts)
HOT_DOMAIN = "hot.example.com"

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


def page_url(doc_id, source):
    """Hot-domain assignment: doc_id % 10 < 4 -> 40% of rows on one domain
    (FIXTURES.md section 1.1 skew requirement)."""
    domain = HOT_DOMAIN if doc_id % 10 < 4 else f"{source}.example.com"
    return f"https://{domain}/articles/doc-{doc_id:06d}.html"


def synthesize_html(doc_id, text, lang):
    """Deterministic article page for a documents row.

    The closed-form extraction results (mirrored in SQL by
    __spark_entry__.oracle_sql):
      title          = 'Daily Report Number {doc_id} Edition'
      byline         = 'Reporter {doc_id % 20}'
      site_name      = 'ExampleSite'
      published_time = '2026-02-{1 + doc_id % 27:02d}'
      lang           = lang (nullable via trim/empty)
      dir            = None
      excerpt        = text (trimmed)
      text_content   = '{title} | ExampleSite' + '{title}' + text + ' Section {doc_id} closing remarks.'
    """
    title = f"Daily Report Number {doc_id} Edition"
    body_text = _htmlmod.escape(text, quote=False)
    return (
        f'<html lang="{lang}"><head>'
        f"<title>{title} | ExampleSite</title>"
        f'<meta property="og:site_name" content="ExampleSite"/>'
        f'<meta name="author" content="Reporter {doc_id % 20}"/>'
        f'<meta property="article:published_time" content="2026-02-{1 + doc_id % 27:02d}"/>'
        f"</head><body>"
        f'<div class="sidebar"><a href="/home">Home</a> nav junk</div>'
        f'<div id="page-main"><h1>{title}</h1>'
        f"<p>{body_text}</p>"
        f"<p> Section {doc_id} closing remarks.</p></div>"
        f'<div style="display:none">hidden tracking pixel</div>'
        f"<script>var t=1;</script>"
        f"</body></html>"
    )


def _pages_from(documents_df, synthesize, *extra):
    """documents -> PAGES_SCHEMA rows whose html is
    ``synthesize(doc_id, text, lang, *extra)``: the one vectorized
    (``map_batches``, Arrow batches) body behind every pages builder below.
    ``warc_ts`` is 2026-01-01 UTC plus 37 s per doc_id."""

    def columns_of(batch):
        doc_ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        langs = batch.column("lang").to_pylist()
        sources = batch.column("source").to_pylist()
        return [
            [page_url(i, s) for i, s in zip(doc_ids, sources)],
            [datetime(2026, 1, 1) + timedelta(seconds=37 * i) for i in doc_ids],
            [
                synthesize(i, t, l, *extra).encode("utf-8")
                for i, t, l in zip(doc_ids, texts, langs)
            ],
            batch.column("text"),
            batch.column("lang"),
        ]

    return map_batches(
        documents_df.select("doc_id", "text", "lang", "source"), PAGES_SCHEMA, columns_of
    )


def pages_from_documents(documents_df):
    """documents(doc_id,text,lang,source,...) -> pages(url,warc_ts,html,text,lang).

    Vectorized (``map_batches``, Arrow batches) — no per-row Python UDF
    calls at the Spark API level, per the north_rule input_hint.
    """
    return _pages_from(documents_df, synthesize_html)


def synthesize_junk_html(doc_id, text, lang):
    """The contract page plus the boilerplate families the prep pass
    (readability_spark/prep.py, mozilla _prepArticle) must strip INSIDE the
    winning subtree: a newsletter form, a link-dense layout table (negative
    'promo' id signal), a share widget, an empty paragraph, plus the
    _simplifyNestedElements families — the closing-remarks paragraph sits
    under a double single-child div wrapper (must unwrap without losing the
    text) and an empty nested wrapper pair (must vanish).  The scored
    extraction output is therefore the same closed form as the plain
    contract page: text + ' Section {doc_id} closing remarks.' (the <h1> is
    dropped as a title duplicate) — the DuckDB oracle proves every junk
    family was removed."""
    title = f"Daily Report Number {doc_id} Edition"
    body_text = _htmlmod.escape(text, quote=False)
    promo_links = "".join(
        f'<a href="/promo/{doc_id}/{j}">Promoted story {j}</a>' for j in range(8)
    )
    return (
        f'<html lang="{lang}"><head>'
        f"<title>{title} | ExampleSite</title>"
        f'<meta property="og:site_name" content="ExampleSite"/>'
        f'<meta name="author" content="Reporter {doc_id % 20}"/>'
        f'<meta property="article:published_time" content="2026-02-{1 + doc_id % 27:02d}"/>'
        f"</head><body>"
        f'<div class="sidebar"><a href="/home">Home</a> nav junk</div>'
        f'<div id="page-main"><h1>{title}</h1>'
        f"<p>{body_text}</p>"
        f"<p></p>"
        f'<form id="newsletter"><input name="email"/>'
        f"<p>Subscribe to our newsletter now</p></form>"
        f'<table id="promo"><tr><td>{promo_links}</td></tr></table>'
        f'<div class="share-tools">Share on Social</div>'
        f'<div class="deck"><div class="deck-inner">'
        f"<p> Section {doc_id} closing remarks.</p></div></div>"
        f'<div class="spacer"><div class="spacer-inner"> <br/> </div></div></div>'
        f'<div style="display:none">hidden tracking pixel</div>'
        f"<script>var t=1;</script>"
        f"</body></html>"
    )


def junk_pages_from_documents(documents_df):
    """documents -> junk-laden pages (same schema as pages_from_documents);
    input for the extract_prepped_text driver query."""
    return _pages_from(documents_df, synthesize_junk_html)


def synthesize_media_html(doc_id, text, lang):
    """Second scoring-path page template (media-heavy): the contract page
    plus a lazy image with its noscript fallback, a youtube embed, and a
    link-dense nested layout table INSIDE the winning subtree.

    Closed-form scored+prepped output: UnwrapNoscriptImages swaps the real
    img in (no text), the embed survives prep's video allowlist (no text),
    the nested layout table is stripped by _cleanConditionally's link
    density, and the <h1> drops as a title duplicate — so
    text_content = text || ' Media notes {doc_id}.'  The DuckDB oracle
    recomputing that closed form proves all three media behaviors at once.
    """
    title = f"Daily Report Number {doc_id} Edition"
    body_text = _htmlmod.escape(text, quote=False)
    promo_links = "".join(
        f'<a href="/clip/{doc_id}/{j}">Clip {j}</a>' for j in range(8)
    )
    return (
        f'<html lang="{lang}"><head>'
        f"<title>{title} | ExampleSite</title>"
        f'<meta property="og:site_name" content="ExampleSite"/>'
        f'<meta name="author" content="Reporter {doc_id % 20}"/>'
        f'<meta property="article:published_time" content="2026-02-{1 + doc_id % 27:02d}"/>'
        f"</head><body>"
        f'<div class="sidebar"><a href="/home">Home</a> nav junk</div>'
        f'<div id="page-main"><h1>{title}</h1>'
        f"<p>{body_text}</p>"
        f'<img class="lazy" data-src="/img/{doc_id}.jpg"/>'
        f'<noscript><img src="/img/{doc_id}.jpg"/></noscript>'
        f'<iframe src="https://www.youtube.com/embed/vid{doc_id}" width="560" height="315"></iframe>'
        f'<table class="layout"><tr><td>'
        f"<table><tr><td>{promo_links}</td></tr></table>"
        f"</td></tr></table>"
        f"<p> Media notes {doc_id}.</p></div>"
        f'<div style="display:none">hidden tracking pixel</div>'
        f"<script>var t=1;</script>"
        f"</body></html>"
    )


def media_pages_from_documents(documents_df):
    """documents -> media-heavy pages (same schema as pages_from_documents);
    input for the extract_media_text driver query."""
    return _pages_from(documents_df, synthesize_media_html)


def synthesize_bench_html(doc_id, text, lang, n_paragraphs=80, n_nav_links=20):
    """Deterministic HEAVY page for throughput/scaling benchmarks: many
    paragraph elements and a link-dense nav, approximating real Common-Crawl
    page node counts (~25 KB, ~200 elements at the defaults) where the
    contract page (synthesize_html) is a minimal ~1 KB fixture.  Not
    oracle-checked — bench input only."""
    navs = "".join(f'<li><a href="/s/{j}">Section {j}</a></li>' for j in range(n_nav_links))
    body_text = _htmlmod.escape(text, quote=False)
    paras = "".join(
        f"<p>Paragraph {j} of report {doc_id}: {body_text}</p>"
        for j in range(n_paragraphs)
    )
    return (
        f'<html lang="{lang}"><head>'
        f"<title>Daily Report Number {doc_id} Edition | ExampleSite</title>"
        f'<meta property="og:site_name" content="ExampleSite"/>'
        f'<meta name="author" content="Reporter {doc_id % 20}"/>'
        f"</head><body>"
        f'<div class="sidebar"><ul>{navs}</ul></div>'
        f'<div id="page-main"><h1>Daily Report Number {doc_id} Edition</h1>{paras}</div>'
        f'<div style="display:none">hidden tracking pixel</div>'
        f"<script>var t=1;</script>"
        f"</body></html>"
    )


def bench_pages_from_documents(documents_df, n_paragraphs=80, n_nav_links=20):
    """documents -> heavy bench pages (same schema as pages_from_documents)."""
    return _pages_from(
        documents_df, synthesize_bench_html, n_paragraphs, n_nav_links
    )


def read_pages(spark, sf_dir):
    """Standard input: synthesize the pages table from the sf dir's documents
    parquet (deterministic, in-memory; never writes outside the repo)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pages_from_documents(docs)

