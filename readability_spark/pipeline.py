"""Fixed stage order (mirrors /root/reference/src/pipeline.rs:34-51) and the
single-document ``extract`` entry point (mirrors Readability::parse,
/root/reference/src/readability.rs:38-63).
"""

from __future__ import annotations

from . import dom, stages
from .model import Article, Context, ExtractionError
from .options import DEFAULT_OPTIONS, Options

DEFAULT_STAGES = (
    stages.element_limit,
    stages.unwrap_noscript_images,
    stages.extract_dir,
    stages.extract_lang,
    stages.extract_json_ld,
    stages.extract_meta_tags,
    stages.remove_disallowed_nodes,
    stages.remove_hidden_nodes,
    stages.remove_unlikely_candidates,
    stages.remove_empty_containers,
    stages.rewrite_line_breaks,
    stages.rewrite_font_tags,
    stages.extract_title,
    stages.extract_byline,
    stages.extract_excerpt,
    stages.unescape_html_entities,
)


def run_pipeline(document, options=DEFAULT_OPTIONS):
    """Run the default stage sequence over a parsed document; returns the
    final Context.  Any stage error aborts the document
    (/root/reference/src/pipeline.rs:20-26)."""
    ctx = Context(document=document, options=options)
    for stage in DEFAULT_STAGES:
        stage(ctx)
    return ctx


def extract(html, base_url=None, options=None, want_content=True):
    """Extract an Article from an HTML string or UTF-8 bytes.

    Public surface mirroring Readability::new(html, base_url, options).parse()
    (/root/reference/src/readability.rs:15-36).  ``base_url`` is accepted for
    API parity and — matching the reference (/root/reference/src/
    pipeline.rs:30 ignores it) — unused by default; with
    ``Options(fix_relative_uris=True)`` it feeds the opt-in mozilla
    fixRelativeUris pass (urifix.py).

    ``want_content=False`` skips serializing the content HTML (the Article's
    ``content`` is ``None``); every other field is computed identically.
    This is the single-document end of the Spark layer's projection pushdown
    (spark/job.py extract_articles article_columns): a 100 TB job whose
    consumers only read ``text_content`` should not pay to build, ship, and
    write a ~25 KB HTML string per row.
    """
    options = options or DEFAULT_OPTIONS
    document = dom.parse_document(html)
    ctx = run_pipeline(document, options)
    content_root = document
    if options.content_extraction:
        # opt-in Arc90 scoring pass (scoring.py); falls back to the
        # whole cleaned document when no candidate clears min_text_length
        from .scoring import grab_article

        selected = grab_article(document, options, title=ctx.metadata.title)
        if selected is not None:
            content_root = selected
    if options.fix_relative_uris and base_url is not None:
        from .urifix import fix_relative_uris

        fix_relative_uris(content_root, base_url, document=document)
    text_content = content_root.text()
    return Article(
        byline=ctx.metadata.byline,
        content=dom.serialize(content_root) if want_content else None,
        dir=ctx.dir,
        excerpt=ctx.metadata.excerpt,
        lang=ctx.lang,
        length=len(text_content.encode("utf-8")),
        published_time=ctx.metadata.published_time,
        site_name=ctx.metadata.site_name,
        text_content=text_content,
        title=ctx.metadata.title if ctx.metadata.title is not None else "",
    )


def extract_row(html, options=None, base_url=None, want_content=True):
    """Failure-isolating wrapper for batch execution: returns
    ``(article_or_none, status, error)``.  A failed row must never kill the
    Arrow batch (SURVEY.md section 1.2).  Empty / undecodable input is
    treated as a malformed-document error (FIXTURES.md section 2,
    ``malformed`` family)."""
    try:
        if html is None:
            return None, "error", "null html"
        if isinstance(html, (bytes, bytearray)):
            html = bytes(html).decode("utf-8")  # may raise UnicodeDecodeError
        if not html.strip():
            return None, "error", "empty document"
        return (
            extract(html, base_url=base_url, options=options, want_content=want_content),
            "ok",
            None,
        )
    except ExtractionError as exc:
        return None, "error", str(exc)
    except Exception as exc:  # defensive: never crash the batch
        return None, "error", f"{type(exc).__name__}: {exc}"
