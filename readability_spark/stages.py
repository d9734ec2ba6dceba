"""The 16 pipeline stages, as pure functions ``stage(context) -> None``.

Execution order is fixed in pipeline.py (mirrors
/root/reference/src/pipeline.rs:34-51).  Each stage's semantics are
transcribed from the corresponding module under
/root/reference/src/stage/ — constants and regexes verbatim, iteration
order (document-order snapshots, first-match early exits, detached-node
skips) preserved exactly, because order IS semantics here (SURVEY.md
section 4.1).
"""

from __future__ import annotations

import json

from . import dom
from .model import ElementLimitExceeded, Metadata
from .repatterns import (
    BYLINE,
    MAYBE_CANDIDATE,
    META_PROPERTY,
    NUMERIC_HTML_ENTITY,
    TITLE_HIERARCHICAL_SEPARATOR,
    TITLE_LEADING_JUNK,
    TITLE_NORMALIZE_WHITESPACE,
    TITLE_SEPARATOR,
    UNLIKELY_CANDIDATE,
    URL_SCHEME,
)

# ============================================================ 1 ElementLimit
# /root/reference/src/stage/element_limit.rs:10-27


def element_limit(ctx):
    limit = ctx.options.max_elements
    if limit is None:
        return
    count = dom.element_count(ctx.document)
    if count > limit:
        raise ElementLimitExceeded(count, limit)


# ================================================== 2 UnwrapNoscriptImages
# /root/reference/src/stage/unwrap_noscript_images.rs:3-88

IMAGE_EXTENSIONS = (".jpg", ".jpeg", ".png", ".webp")

SOURCE_ATTRIBUTES = ("src", "srcset", "data-src", "data-srcset")


def _has_image_source(node):
    for name, value in node.attrs.items():
        if name in SOURCE_ATTRIBUTES:
            return True
        if any(ext in value.lower() for ext in IMAGE_EXTENSIONS):
            return True
    return False


def _single_image(nodes):
    """Reference single_image (/root/reference/src/stage/unwrap_noscript_images.rs:46-56):
    given a selection (list of nodes), returns the lone <img> if the
    selection's concatenated text is blank and exactly one img exists among
    the selected nodes (direct) plus their descendants (nested)."""
    if "".join(n.text() for n in nodes).strip():
        return None
    direct = [n for n in nodes if n.kind == dom.ELEMENT and n.name == "img"]
    nested = [d for n in nodes for d in dom.select(n, "img")]
    if len(direct) + len(nested) != 1:
        return None
    return direct[0] if direct else nested[0]


def unwrap_noscript_images(ctx):
    for node in dom.select(ctx.document, "noscript"):
        fragment = dom.parse_document(dom.inner_html(node))
        # the fragment's one <body> (a <body> tag merges into it)
        body = dom.select(fragment, "body")[0]
        new_image = _single_image([n for n in body.children if n.kind == dom.ELEMENT])
        if new_image is None:
            continue
        prev = node.prev_element_sibling()
        if prev is None:
            continue
        placeholder = _single_image([prev])
        if placeholder is None:
            continue
        placeholder.remove_attrs(SOURCE_ATTRIBUTES)
        for name, value in new_image.attrs.items():
            placeholder.set_attr(name, value)
        if placeholder is not prev:
            prev.replace_with(placeholder)
        node.remove_from_parent()

    # drop placeholder images with no detectable source
    for node in dom.select(ctx.document, "img"):
        if not _has_image_source(node):
            node.remove_from_parent()


# ========================================================== 3/4 Extract dir/lang
# /root/reference/src/stage/extract_dir.rs:5-17, extract_lang.rs:5-15


def extract_dir(ctx):
    for selector in ("body", "html"):
        value = dom.select_first_attr(ctx.document, selector, "dir")
        if value is not None:
            value = value.strip()
            if value:
                ctx.dir = value
                return
    ctx.dir = None


def extract_lang(ctx):
    value = dom.select_first_attr(ctx.document, "html", "lang")
    if value is not None:
        value = value.strip()
        ctx.lang = value if value else None
    else:
        ctx.lang = None


# ============================================================ 5 ExtractJsonLd
# /root/reference/src/stage/extract_json_ld.rs:5-195

SCHEMA_ORG = "schema.org"

ARTICLE_TYPES = frozenset(
    (
        "Article",
        "AdvertiserContentArticle",
        "NewsArticle",
        "AnalysisNewsArticle",
        "AskPublicNewsArticle",
        "BackgroundNewsArticle",
        "OpinionNewsArticle",
        "ReportageNewsArticle",
        "ReviewNewsArticle",
        "Report",
        "SatiricalArticle",
        "ScholarlyArticle",
        "MedicalScholarlyArticle",
        "SocialMediaPosting",
        "BlogPosting",
        "LiveBlogPosting",
        "DiscussionForumPosting",
        "TechArticle",
        "APIReference",
    )
)


def _is_article_type(value):
    return isinstance(value, str) and value in ARTICLE_TYPES


def _is_schema_org(context):
    if isinstance(context, str):
        return SCHEMA_ORG in context
    if isinstance(context, dict):
        vocab = context.get("@vocab")
        return isinstance(vocab, str) and SCHEMA_ORG in vocab
    return False


def _find_article(value):
    """/root/reference/src/stage/extract_json_ld.rs:152-178."""
    if isinstance(value, list):
        value = next(
            (item for item in value
             if isinstance(item, dict) and _is_article_type(item.get("@type"))),
            None,
        )
        if value is None:
            return None
    if not isinstance(value, dict):
        return None
    if not _is_schema_org(value.get("@context")):
        return None
    graph = value.get("@graph")
    if isinstance(graph, list) and "@type" not in value:
        return next(
            (item for item in graph
             if isinstance(item, dict) and _is_article_type(item.get("@type"))),
            None,
        )
    if not _is_article_type(value.get("@type")):
        return None
    return value


def _jsonld_str(article, key):
    value = article.get(key)
    if isinstance(value, str):
        value = value.strip()
        if value:
            return value
    return None


def _jsonld_title(article):
    """name preferred over headline when both present and different
    (/root/reference/src/stage/extract_json_ld.rs:131-150)."""
    name = _jsonld_str(article, "name")
    headline = _jsonld_str(article, "headline")
    if name is not None:
        return name
    return headline


def _jsonld_byline(article):
    author = article.get("author")
    if author is None:
        return None
    if isinstance(author, dict):
        name = author.get("name")
        if isinstance(name, str):
            name = name.strip()
            if name:
                return name
    if isinstance(author, list):
        names = [
            a.get("name").strip()
            for a in author
            if isinstance(a, dict) and isinstance(a.get("name"), str)
        ]
        names = [n for n in names if n]
        if names:
            return ", ".join(names)
    return None


def extract_json_ld(ctx):
    # the reference declares use_json_ld but never reads it
    # (/root/reference/src/options.rs:34 vs SURVEY.md §0); we honor its
    # documented intent — default True keeps byte-identical default output
    if not ctx.options.use_json_ld:
        return
    for script in dom.select(ctx.document, "script"):
        if script.attrs.get("type") != "application/ld+json":
            continue
        text = script.text().strip()
        if text.startswith("<![CDATA["):
            text = text[len("<![CDATA[") :]
        if text.endswith("]]>"):
            text = text[: -len("]]>")]
        text = text.strip()
        try:
            value = json.loads(text)
        except (ValueError, RecursionError):  # too deep to parse: skip it too
            continue
        article = _find_article(value)
        if article is None:
            continue
        site_name = None
        publisher = article.get("publisher")
        if isinstance(publisher, dict):
            name = publisher.get("name")
            if isinstance(name, str) and name.strip():
                site_name = name.strip()
        ctx.metadata = Metadata(
            byline=_jsonld_byline(article),
            excerpt=_jsonld_str(article, "description"),
            published_time=_jsonld_str(article, "datePublished"),
            site_name=site_name,
            title=_jsonld_title(article),
        )
        break


# ========================================================== 6 ExtractMetaTags
# /root/reference/src/stage/extract_meta_tags.rs:3-104

BYLINE_KEYS = ("dc:creator", "dcterm:creator", "author", "parsely-author")

EXCERPT_KEYS = (
    "dc:description",
    "dcterm:description",
    "og:description",
    "weibo:article:description",
    "weibo:webpage:description",
    "description",
    "twitter:description",
)

PUBLISHED_TIME_KEYS = ("article:published_time", "parsely-pub-date")

SITE_NAME_KEYS = ("og:site_name",)

TITLE_KEYS = (
    "dc:title",
    "dcterm:title",
    "og:title",
    "weibo:article:title",
    "weibo:webpage:title",
    "title",
    "twitter:title",
    "parsely-title",
)


def _collect_meta_values(document):
    values = {}
    for meta in dom.select(document, "meta"):
        content = meta.attr("content")
        if content is None or not content.strip():
            continue
        content = content.strip()
        prop = meta.attr("property")
        if prop is not None:
            for token in prop.split():
                m = META_PROPERTY.search(token)
                if m is not None:
                    key = "".join(m.group(0).lower().split())
                    values[key] = content
        name = meta.attr("name")
        if name is not None:
            key = "".join(name.lower().split()).replace(".", ":")
            values[key] = content
    return values


def extract_meta_tags(ctx):
    values = _collect_meta_values(ctx.document)

    article_author = values.get("article:author")
    if article_author is not None and URL_SCHEME.match(article_author):
        article_author = None  # parses as an absolute URL -> rejected

    def extract(keys):
        for key in keys:
            if key in values:
                return values[key]
        return None

    md = ctx.metadata
    ctx.metadata = Metadata(
        title=md.title if md.title is not None else extract(TITLE_KEYS),
        byline=md.byline
        if md.byline is not None
        else (extract(BYLINE_KEYS) if extract(BYLINE_KEYS) is not None else article_author),
        excerpt=md.excerpt if md.excerpt is not None else extract(EXCERPT_KEYS),
        site_name=md.site_name if md.site_name is not None else extract(SITE_NAME_KEYS),
        published_time=md.published_time
        if md.published_time is not None
        else extract(PUBLISHED_TIME_KEYS),
    )


# ==================================================== 7 RemoveDisallowedNodes
# /root/reference/src/stage/remove_disallowed_nodes.rs:11-15


def remove_disallowed_nodes(ctx):
    for node in dom.select(ctx.document, "script, style, noscript"):
        node.remove_from_parent()


# ======================================================= 8 RemoveHiddenNodes
# /root/reference/src/stage/remove_hidden_nodes.rs:14-75


def _is_hidden(node):
    if "hidden" in node.attrs:
        return True
    style = (node.attrs.get("style") or "").lower()
    if "display:none" in style or "display: none" in style:
        return True
    if "visibility:hidden" in style or "visibility: hidden" in style:
        return True
    if node.attrs.get("aria-hidden") == "true":
        if "fallback-image" not in (node.attrs.get("class") or ""):
            return True
    if node.attrs.get("aria-modal") == "true" and node.attrs.get("role") == "dialog":
        return True
    return False


def remove_hidden_nodes(ctx):
    for node in dom.select(ctx.document, "*"):
        if node.parent is None:
            continue
        if _is_hidden(node):
            node.remove_from_parent()


# ================================================ 9 RemoveUnlikelyCandidates
# /root/reference/src/stage/remove_unlikely_candidates.rs:3-77

UNLIKELY_ROLES = (
    "menu",
    "menubar",
    "complementary",
    "navigation",
    "alert",
    "alertdialog",
    "dialog",
)


def remove_unlikely_candidates(ctx):
    for node in dom.select(ctx.document, "*"):
        if node.parent is None:
            continue
        tag = (node.name or "").upper()
        if tag in ("BODY", "A"):
            continue
        role = node.attrs.get("role") or ""
        if role in UNLIKELY_ROLES:
            node.remove_from_parent()
            continue
        match_string = f"{node.attrs.get('class') or ''} {node.attrs.get('id') or ''}"
        if not UNLIKELY_CANDIDATE.search(match_string):
            continue
        if MAYBE_CANDIDATE.search(match_string):
            continue
        if any(
            (a.name or "").upper() in ("TABLE", "CODE")
            for a in node.ancestors()
            if a.kind == dom.ELEMENT
        ):
            continue
        node.remove_from_parent()


# ================================================= 10 RemoveEmptyContainers
# /root/reference/src/stage/remove_empty_containers.rs:3-59

EMPTY_CONTAINER_TAGS = ("DIV", "SECTION", "HEADER", "H1", "H2", "H3", "H4", "H5", "H6")


def _is_without_content(node):
    # decided from the children alone: when every element child is a br or
    # hr, node.text() is its text children plus theirs (comments add none),
    # so no walk of the whole subtree is needed
    for child in node.children:
        if child.kind == dom.TEXT:
            if child.data.strip():
                return False
        elif child.kind == dom.ELEMENT:
            if child.name.upper() not in ("BR", "HR") or child.text().strip():
                return False
    return True


def remove_empty_containers(ctx):
    for node in dom.select(ctx.document, "*"):
        if node.parent is None:
            continue
        tag = (node.name or "").upper()
        if tag not in EMPTY_CONTAINER_TAGS:
            continue
        if _is_without_content(node):
            node.remove_from_parent()


# ===================================================== 11 RewriteLineBreaks
# /root/reference/src/stage/rewrite_line_breaks.rs:3-106

PHRASING_ELEMENTS = frozenset(
    (
        "abbr", "audio", "b", "bdo", "br", "button", "cite", "code", "data",
        "datalist", "dfn", "em", "embed", "i", "img", "input", "kbd", "label",
        "mark", "math", "meter", "noscript", "object", "output", "progress",
        "q", "ruby", "samp", "script", "select", "small", "span", "strong",
        "sub", "sup", "textarea", "time", "var", "wbr",
    )
)


def _is_phrasing_content(node):
    # iterative: a/del/ins chains in junk markup can nest past the Python
    # recursion limit (same hazard class as the serializer)
    stack = [node]
    while stack:
        n = stack.pop()
        if n.kind == dom.TEXT:
            continue
        if n.kind != dom.ELEMENT:
            return False
        name = n.name.lower()
        if name in PHRASING_ELEMENTS:
            continue
        if name in ("a", "del", "ins"):
            stack.extend(n.children)
            continue
        return False
    return True


def _is_whitespace(node):
    return (node.kind == dom.TEXT and not node.data.strip()) or (
        node.kind == dom.ELEMENT and node.name == "br"
    )


def _next_significant(node):
    while node is not None:
        if node.kind == dom.ELEMENT or (node.kind == dom.TEXT and node.data.strip()):
            return node
        node = node.next_sibling()
    return None


def rewrite_line_breaks(ctx):
    for node in dom.select(ctx.document, "br"):
        if node.parent is None:
            continue

        nxt = node.next_sibling()
        replaced = False

        while True:
            sibling = _next_significant(nxt)
            if sibling is None or not (
                sibling.kind == dom.ELEMENT and sibling.name == "br"
            ):
                break
            replaced = True
            nxt = sibling.next_sibling()
            sibling.remove_from_parent()

        if not replaced:
            continue

        par = dom.new_element("p")
        node.replace_with(par)

        nxt = par.next_sibling()
        while nxt is not None:
            sibling = nxt
            if sibling.kind == dom.ELEMENT and sibling.name == "br":
                following = _next_significant(sibling.next_sibling())
                if following is not None and following.kind == dom.ELEMENT and following.name == "br":
                    break
            if not _is_phrasing_content(sibling):
                break
            nxt = sibling.next_sibling()
            par.append_child(sibling)

        while par.children and _is_whitespace(par.children[-1]):
            par.children[-1].remove_from_parent()

        if par.parent is not None and par.parent.kind == dom.ELEMENT and par.parent.name == "p":
            par.parent.rename("div")


# ======================================================= 12 RewriteFontTags
# /root/reference/src/stage/rewrite_font_tags.rs:11-15


def rewrite_font_tags(ctx):
    for node in dom.select(ctx.document, "font"):
        node.rename("span")


# ========================================================== 13 ExtractTitle
# /root/reference/src/stage/extract_title.rs:4-150

MIN_TITLE_LENGTH = 15
MAX_TITLE_LENGTH = 150
MIN_COLON_SUFFIX_WORDS = 3
MAX_COLON_PREFIX_WORDS = 5
MIN_SEPARATOR_CANDIDATE_WORDS = 3
MAX_SHORT_TITLE_WORDS = 4


def _separator_candidate(raw):
    if not TITLE_SEPARATOR.search(raw):
        return None
    last = None
    for m in TITLE_SEPARATOR.finditer(raw):
        last = m
    candidate = raw[: last.start()]
    if len(candidate.split()) < MIN_SEPARATOR_CANDIDATE_WORDS:
        candidate = TITLE_LEADING_JUNK.sub("", raw, count=1).strip()
    candidate = TITLE_NORMALIZE_WHITESPACE.sub(" ", candidate.strip())
    candidate_words = len(candidate.split())
    raw_words_without_seps = len(TITLE_SEPARATOR.sub("", raw).split())
    had_hierarchical = TITLE_HIERARCHICAL_SEPARATOR.search(raw) is not None
    too_short = candidate_words <= MAX_SHORT_TITLE_WORDS
    not_one_word_shorter = candidate_words != max(raw_words_without_seps - 1, 0)
    if too_short and (not had_hierarchical or not_one_word_shorter):
        return None
    return candidate


def _colon_candidate(raw, document):
    if ": " not in raw:
        return None
    for heading in dom.select(document, "h1, h2"):
        if heading.text().strip() == raw.strip():
            return None
    last_colon = raw.rindex(":")
    after_last = raw[last_colon + 1 :].strip()
    if len(after_last.split()) >= MIN_COLON_SUFFIX_WORDS:
        return after_last
    first_colon = raw.index(":")
    before_first = raw[:first_colon]
    if len(before_first.split()) > MAX_COLON_PREFIX_WORDS:
        return None
    return raw[first_colon + 1 :].strip()


def _header_candidate(raw, document):
    # byte lengths (Rust String::len, /root/reference/src/stage/extract_title.rs:100)
    raw_len = len(raw.encode("utf-8"))
    if MIN_TITLE_LENGTH <= raw_len <= MAX_TITLE_LENGTH:
        return None
    headers = dom.select(document, "h1")
    if len(headers) != 1:
        return None
    return headers[0].text().strip()


def _extract_title(document):
    titles = dom.select(document, "title")
    raw_title = titles[0].text() if titles else ""
    raw = raw_title.strip()
    if not raw:
        return None
    title = _separator_candidate(raw)
    if title is None:
        title = _colon_candidate(raw, document)
    if title is None:
        title = _header_candidate(raw, document)
    if title is None:
        title = raw
    title = TITLE_NORMALIZE_WHITESPACE.sub(" ", title.strip())
    return title if title else None


def extract_title(ctx):
    if ctx.metadata.title is not None:
        return
    ctx.metadata.title = _extract_title(ctx.document)


# ========================================================= 14 ExtractByline
# /root/reference/src/stage/extract_byline.rs:4-69

BYLINE_MAX_LENGTH = 100


def extract_byline(ctx):
    if ctx.metadata.byline is not None:
        return
    for node in dom.select(ctx.document, "*"):
        rel = node.attrs.get("rel") or ""
        itemprop = node.attrs.get("itemprop") or ""
        match_string = f"{node.attrs.get('class') or ''} {node.attrs.get('id') or ''}"
        if not (rel == "author" or "author" in itemprop or BYLINE.search(match_string)):
            continue
        text = node.text().strip()
        if not text or len(text.encode("utf-8")) >= BYLINE_MAX_LENGTH:
            continue
        byline = text
        for desc in dom.select(node, "*"):
            ip = desc.attrs.get("itemprop")
            if ip is not None and "name" in ip and desc.text().strip():
                byline = desc.text().strip()
                break
        ctx.metadata.byline = byline
        break


# ======================================================== 15 ExtractExcerpt
# /root/reference/src/stage/extract_excerpt.rs:8-31


def extract_excerpt(ctx):
    if ctx.metadata.excerpt is not None:
        return
    for node in dom.select(ctx.document, "p"):
        text = node.text().strip()
        if text:
            ctx.metadata.excerpt = text
            return


# ================================================= 16 UnescapeHtmlEntities
# /root/reference/src/stage/unescape_html_entities.rs:12-61


def _unescape_named(s):
    return (
        s.replace("&quot;", '"')
        .replace("&amp;", "&")
        .replace("&apos;", "'")
        .replace("&lt;", "<")
        .replace("&gt;", ">")
    )


def _numeric_repl(m):
    hex_part, dec_part = m.group(1), m.group(2)
    try:
        num = int(hex_part, 16) if hex_part is not None else int(dec_part)
    except ValueError:
        num = 0xFFFD
    if num == 0 or num > 0x0010FFFF or 0xD800 <= num <= 0xDFFF:
        return "�"
    try:
        return chr(num)
    except ValueError:
        return "�"


def _unescape_numeric(s):
    return NUMERIC_HTML_ENTITY.sub(_numeric_repl, s)


def unescape(s):
    return _unescape_numeric(_unescape_named(s))


def unescape_html_entities(ctx):
    md = ctx.metadata
    ctx.metadata = Metadata(
        byline=unescape(md.byline) if md.byline is not None else None,
        excerpt=unescape(md.excerpt) if md.excerpt is not None else None,
        published_time=unescape(md.published_time)
        if md.published_time is not None
        else None,
        site_name=unescape(md.site_name) if md.site_name is not None else None,
        title=unescape(md.title) if md.title is not None else None,
    )
