"""Article post-processing: mozilla ``_prepArticle`` / ``_cleanConditionally``.

The reference anticipates but never implements the Arc90 cleanup pass (its
``options.rs:14-30`` declares the knobs this pass consumes with no reader
anywhere in ``src/``; ``AGENTS.md:5-6`` names porting Readability.js as the
goal).  This module implements the **published mozilla/readability
semantics** (Readability.js ``_prepArticle``, Apache-2.0 — public
knowledge): strip ``form``/``fieldset`` and fishy ``table``/``ul``/``div``
subtrees by class-weight + link-density + structure heuristics, remove
embeds/iframes/inputs/footers/asides (keeping allowed video embeds), share
widgets, negative-weight headers, empty paragraphs and stray ``<br>``s, and
normalize presentational markup (``h1``→``h2``, single-cell table unwrap,
presentational attribute strip).

Like scoring.py, the golden outputs are our own frozen run (the reference
has no scoring/cleanup output to match); the pass runs only inside the
opt-in ``Options(content_extraction=True)`` path so the default pipeline
stays byte-identical to the reference's whole-document behavior.

Documented divergences from Readability.js (each deliberate):
  * ``div``→``p`` renaming of paragraph-like divs happens here (on the
    selected subtree) rather than pre-scoring; scoring.py already treats
    paragraph-like divs as scorable, so candidate choice is unaffected.
"""

from __future__ import annotations

import re

from . import dom
from .scoring import class_weight, link_density

#: mozilla REGEXPS.shareElements
SHARE_ELEMENTS = re.compile(r"(?i)(\b|_)(share|sharedaddy)(\b|_)")
#: mozilla DEFAULT_CHAR_THRESHOLD — share widgets shorter than this are cut
SHARE_ELEMENT_THRESHOLD = 500

#: mozilla _allowedVideoRegex — embeds pointing at these hosts survive _clean
ALLOWED_VIDEO = re.compile(
    r"(?i)//(www\.)?((dailymotion|youtube|youtube-nocookie|player\.vimeo|v\.qq)\.com"
    r"|(archive|upload\.wikimedia)\.org|player\.twitch\.tv)"
)

#: mozilla PRESENTATIONAL_ATTRIBUTES (stripped by _cleanStyles)
PRESENTATIONAL_ATTRIBUTES = (
    "align",
    "background",
    "bgcolor",
    "border",
    "cellpadding",
    "cellspacing",
    "frame",
    "hspace",
    "rules",
    "style",
    "valign",
    "vspace",
)
#: mozilla DEPRECATED_SIZE_ATTRIBUTE_ELEMS (width/height also stripped)
DEPRECATED_SIZE_ATTRIBUTE_ELEMS = frozenset({"table", "th", "td", "hr", "pre"})

#: tags removed unconditionally by _clean (video-host exception applies to
#: the embed-ish subset)
EMBED_TAGS = frozenset({"object", "embed", "iframe"})

#: mozilla DIV_TO_P_ELEMS — block children that keep a <div> a <div>
DIV_TO_P_ELEMS = frozenset(
    {"blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul"}
)


def _attached(node, root):
    return node is root or any(a is root for a in node.ancestors())


def _match_string(node):
    return f'{node.attrs.get("class") or ""} {node.attrs.get("id") or ""}'


def _is_allowed_video(node):
    for value in node.attrs.values():
        if value and ALLOWED_VIDEO.search(value):
            return True
    # mozilla also tests the embed's inner HTML for <object> params
    if node.name == "object" and ALLOWED_VIDEO.search(dom.inner_html(node)):
        return True
    return False


def clean(root, tag):
    """mozilla _clean: drop every ``tag`` element under root; embed-ish tags
    hosting an allowed video are kept."""
    for node in reversed(dom.select(root, tag)):
        if tag in EMBED_TAGS and _is_allowed_video(node):
            continue
        node.remove_from_parent()


def clean_styles(root):
    """mozilla _cleanStyles: strip presentational attributes (and deprecated
    width/height on table-ish elements) from ``root`` and every element
    under it, skipping svg subtrees.  Each outermost svg's elements are
    listed once, so nested svg stays O(n) with no per-node ancestor scans
    (the per-document hot path of the scored pipeline)."""
    if root.name == "svg":
        return
    nodes = [root] if root.kind == dom.ELEMENT else []
    nodes += dom.select(root, "*")
    in_svg = set()
    for svg in dom.select(root, "svg"):
        if svg not in in_svg:  # a nested svg is already covered by its outer one
            in_svg.add(svg)
            in_svg.update(dom.select(svg, "*"))
    for node in nodes:
        if node in in_svg:
            continue
        node.remove_attrs(PRESENTATIONAL_ATTRIBUTES)
        if node.name in DEPRECATED_SIZE_ATTRIBUTE_ELEMS:
            node.remove_attrs(("width", "height"))


# -------------------------------------------------------------- lazy images

#: mozilla REGEXPS.b64DataUrl
_B64_DATA_URL = re.compile(r"(?i)^data:\s*([^\s;,]+)\s*;\s*base64\s*,")
#: the _fixLazyImages attribute heuristics (mozilla's literal regexes:
#: the "other attribute contains an image" probe is case-insensitive, the
#: srcset/src copy probes are not)
_IMG_EXT_ANY = re.compile(r"(?i)\.(jpg|jpeg|png|webp)")
_SRCSET_LIKE = re.compile(r"\.(jpg|jpeg|png|webp)\s+\d")
_SRC_LIKE = re.compile(r"^\s*\S+\.(jpg|jpeg|png|webp)\S*\s*$")
_B64_MARKER = re.compile(r"(?i)base64\s*")


def fix_lazy_images(root):
    """mozilla _fixLazyImages: drop tiny base64 placeholder ``src`` values
    (when another attribute points at a real image), then promote lazy-load
    attributes (``data-src``-style urls / ``data-srcset``-style descriptor
    lists) into ``src``/``srcset`` on images and pictures — and synthesize
    an ``<img>`` inside image-less ``<figure>``s carrying such attributes."""
    for elem in dom.select(root, "img, picture, figure"):
        src = elem.attrs.get("src")
        if src:
            m = _B64_DATA_URL.match(src)
            if m:
                # SVG can be a meaningful image in under 133 bytes
                if m.group(1).lower() == "image/svg+xml":
                    continue
                could_remove = any(
                    name != "src" and value and _IMG_EXT_ANY.search(value)
                    for name, value in elem.attrs.items()
                )
                if could_remove:
                    marker = _B64_MARKER.search(src)
                    b64_start = (marker.start() if marker else 0) + 7
                    if len(src) - b64_start < 133:
                        elem.remove_attrs(("src",))

        srcset = elem.attrs.get("srcset")
        cls = (elem.attrs.get("class") or "").lower()
        if (elem.attrs.get("src") or (srcset and srcset != "null")) and "lazy" not in cls:
            continue
        for name, value in list(elem.attrs.items()):
            if name in ("src", "srcset", "alt") or not value:
                continue
            copy_to = None
            if _SRCSET_LIKE.search(value):
                copy_to = "srcset"
            elif _SRC_LIKE.match(value):
                copy_to = "src"
            if copy_to is None:
                continue
            if elem.name in ("img", "picture"):
                elem.set_attr(copy_to, value)
            elif elem.name == "figure" and not dom.select(elem, "img, picture"):
                img = dom.new_element("img")
                img.set_attr(copy_to, value)
                elem.append_child(img)


# ------------------------------------------------------------- data tables


def _has_single_tag_inside(element, tag):
    """mozilla _hasSingleTagInsideElement: exactly one child element, of
    ``tag``, and no non-whitespace text children."""
    kids = [c for c in element.children if c.kind == dom.ELEMENT]
    if len(kids) != 1 or kids[0].name != tag:
        return False
    return not any(
        c.kind == dom.TEXT and c.data.strip() for c in element.children
    )


def _row_and_column_count(table):
    """mozilla _getRowAndColumnCount (rowspan/colspan aware).  Faithful to
    the published getElementsByTagName semantics: ALL descendant ``tr``s and,
    per row, ALL descendant ``td``s — ``th`` cells deliberately do NOT count
    (a header-only table stays prunable as layout)."""
    rows = 0
    columns = 0
    for tr in dom.select(table, "tr"):
        try:
            rowspan = int(tr.attrs.get("rowspan") or 1)
        except ValueError:
            rowspan = 1
        rows += max(rowspan, 1)
        row_cols = 0
        for cell in dom.select(tr, "td"):
            try:
                colspan = int(cell.attrs.get("colspan") or 1)
            except ValueError:
                colspan = 1
            row_cols += max(colspan, 1)
        columns = max(columns, row_cols)
    return rows, columns


def mark_data_tables(root):
    """mozilla _markDataTables: layout tables are fair game for
    _cleanConditionally; data tables (caption/th/summary/big grids) are
    protected.  Returns the set of data tables."""
    data_tables = set()
    for table in dom.select(root, "table"):
        if (table.attrs.get("role") or "").strip().lower() == "presentation":
            continue
        if (table.attrs.get("datatable") or "").strip() == "0":
            continue
        if table.attrs.get("summary"):
            data_tables.add(table)
            continue
        captions = [
            c for c in table.children if c.kind == dom.ELEMENT and c.name == "caption"
        ]
        if captions and captions[0].children:
            data_tables.add(table)
            continue
        # data-table descendants (mozilla dataTableDescendants) — one
        # combined-selector walk, not five
        if dom.select(table, "col, colgroup, tfoot, thead, th"):
            data_tables.add(table)
            continue
        if dom.select(table, "table"):  # nested tables = layout
            continue
        rows, columns = _row_and_column_count(table)
        if rows >= 10 or columns > 4 or rows * columns > 10:
            data_tables.add(table)
    return data_tables


# ------------------------------------------------------ conditional cleaning


def _has_ancestor_tag(node, tag, max_depth=3, filter_fn=None):
    """mozilla _hasAncestorTag (max_depth <= 0 means unbounded).  Mozilla's
    guard is ``depth > maxDepth``, so maxDepth=3 inspects FOUR ancestor
    levels (depth 0..3 inclusive) before giving up."""
    for depth, ancestor in enumerate(node.ancestors()):
        if 0 < max_depth < depth:
            return False
        if (
            ancestor.kind == dom.ELEMENT
            and ancestor.name == tag
            and (filter_fn is None or filter_fn(ancestor))
        ):
            return True
    return False


def _text_density(node, selector, node_text=None):
    """mozilla _getTextDensity: combined text length of ``selector``'s
    descendants over the node's own text length.  ``selector`` is a
    comma-alternation so all tags are collected in ONE subtree walk;
    ``node_text`` lets callers that already computed node.text() skip the
    second whole-subtree text walk."""
    text_length = len((node.text() if node_text is None else node_text).strip())
    if text_length == 0:
        return 0.0
    children_length = sum(
        len(child.text().strip()) for child in dom.select(node, selector)
    )
    return children_length / text_length


_HEADING_SELECTOR = "h1, h2, h3, h4, h5, h6"

#: mozilla REGEXPS.adWords / REGEXPS.loadingWords — nodes whose entire text
#: is one of these are boilerplate by definition
AD_WORDS = re.compile(
    r"(?iu)^(ad(vertising|vertisement)?|pub(licité)?|werb(ung)?|广告|Реклама|Anuncio)$"
)
LOADING_WORDS = re.compile(
    r"(?iu)^((loading|正在加载|Загрузка|chargement|cargando)(…|\.\.\.)?)$"
)


def clean_conditionally(root, tag, scores=None, data_tables=frozenset()):
    """mozilla _cleanConditionally: remove ``tag`` subtrees that look like
    boilerplate by the published weight/density/structure heuristics.

    ``scores`` is the scoring pass's final per-node score map (mozilla reads
    ``node.readability.contentScore``); ``data_tables`` the
    :func:`mark_data_tables` result."""
    scores = scores or {}
    is_list_tag = tag in ("ul", "ol")
    for node in reversed(dom.select(root, tag)):
        if not _attached(node, root):  # removed with an earlier subtree
            continue
        if tag == "table" and node in data_tables:
            continue
        # never prune content inside a data table or code block
        if _has_ancestor_tag(
            node, "table", max_depth=-1, filter_fn=lambda a: a in data_tables
        ):
            continue
        if _has_ancestor_tag(node, "code"):
            continue

        inner_text = node.text().strip()

        is_list = is_list_tag
        if not is_list:
            node_text_len = len(inner_text)
            if node_text_len > 0:
                list_length = sum(
                    len(lst.text().strip()) for lst in dom.select(node, "ul, ol")
                )
                is_list = list_length / node_text_len > 0.9

        weight = class_weight(node)
        if weight + scores.get(node, 0.0) < 0:
            node.remove_from_parent()
            continue

        if AD_WORDS.match(inner_text) or LOADING_WORDS.match(inner_text):
            node.remove_from_parent()
            continue
        if inner_text.count(",") >= 10:
            continue

        p = len(dom.select(node, "p"))
        img = len(dom.select(node, "img"))
        li = len(dom.select(node, "li")) - 100
        inputs = len(dom.select(node, "input"))
        heading_density = _text_density(node, _HEADING_SELECTOR, inner_text)

        # one combined-selector walk over the three embed-ish tags; the
        # count is only consumed when no allowed video was found, so the
        # early-break in the per-tag original and this form agree
        embed_count = 0
        keep_for_video = False
        for embed in dom.select(node, "object, embed, iframe"):
            if _is_allowed_video(embed):
                keep_for_video = True
                break
            embed_count += 1
        if keep_for_video:
            continue

        content_length = len(inner_text)
        density = link_density(node)
        is_figure_child = _has_ancestor_tag(node, "figure")

        remove = (
            (img > 1 and p / img < 0.5 and not is_figure_child)
            or (not is_list and li > p)
            or (inputs > p // 3)
            or (
                not is_list
                and heading_density < 0.9
                and content_length < 25
                and (img == 0 or img > 2)
                and not is_figure_child
            )
            or (not is_list and weight < 25 and density > 0.2)
            or (weight >= 25 and density > 0.5)
            or ((embed_count == 1 and content_length < 75) or embed_count > 1)
        )
        # mozilla image-gallery exception: a flagged list whose every child
        # holds at most one element and whose img count equals its li count
        # is a gallery — keep it
        if remove and is_list:
            simple_children = all(
                len([g for g in c.children if g.kind == dom.ELEMENT]) <= 1
                for c in node.children
                if c.kind == dom.ELEMENT
            )
            if simple_children and img == len(dom.select(node, "li")):
                continue
        if remove:
            node.remove_from_parent()


def _element_children(node):
    return [c for c in node.children if c.kind == dom.ELEMENT]


def _is_element_without_content(node):
    """mozilla _isElementWithoutContent: empty text and every element child
    accounted for by descendant ``br``/``hr`` counts (the published check
    compares ``children.length`` against ``getElementsByTagName`` totals,
    i.e. direct element children vs ALL descendant br+hr — ported
    faithfully, quirks included)."""
    if node.kind != dom.ELEMENT or node.text().strip():
        return False
    kids = _element_children(node)
    return not kids or len(kids) == len(dom.select(node, "br, hr"))


def _next_element_sibling(node):
    n = node.next_sibling()
    while n is not None and n.kind != dom.ELEMENT:
        n = n.next_sibling()
    return n


def _next_element(node, root, ignore_self_and_kids=False):
    """mozilla _getNextNode: element-only preorder successor, with the
    ascent bounded at ``root`` (the article wrapper is detached, so an
    unbounded ascent could never escape, but the bound makes that a
    contract rather than an accident)."""
    if not ignore_self_and_kids:
        kids = _element_children(node)
        if kids:
            return kids[0]
    while node is not None and node is not root:
        sib = _next_element_sibling(node)
        if sib is not None:
            return sib
        node = node.parent
    return None


def simplify_nested_elements(root):
    """mozilla _simplifyNestedElements (runs in _postProcessContent between
    _fixRelativeUris and _cleanClasses — order immaterial here: the pass
    touches only div/section nodes, which neither carry URI attributes
    _fixRelativeUris rewrites nor depend on class values).

    Walking the article subtree in element preorder: remove div/section
    nodes without content; unwrap a div/section whose single element child
    is itself a div/section, copying the parent's attributes onto the child
    (parent wins on name collision — setAttributeNode replace semantics).
    Nodes whose id starts with ``readability`` (the article wrapper) are
    exempt, as published."""
    node = root
    while node is not None:
        if (
            node is not root
            and node.parent is not None
            and node.name in ("div", "section")
            and not (node.attrs.get("id") or "").startswith("readability")
        ):
            if _is_element_without_content(node):
                nxt = _next_element(node, root, ignore_self_and_kids=True)
                node.remove_from_parent()
                node = nxt
                continue
            if _has_single_tag_inside(node, "div") or _has_single_tag_inside(
                node, "section"
            ):
                child = next(c for c in node.children if c.kind == dom.ELEMENT)
                for name, value in node.attrs.items():
                    child.set_attr(name, value)
                node.replace_with(child)
                node = child
                continue
        node = _next_element(node, root)


def clean_matched_nodes(root, predicate):
    """mozilla _cleanMatchedNodes: remove elements whose ``class id`` match
    string satisfies ``predicate`` (subtree skipped once removed)."""
    for node in reversed(dom.select(root, "*")):
        if not _attached(node, root):
            continue
        if predicate(node, _match_string(node)):
            node.remove_from_parent()


def clean_headers(root, title=None):
    """mozilla _cleanHeaders: drop h1/h2 whose class weight is negative or
    whose text duplicates the article title."""
    for tag in ("h1", "h2"):
        for header in reversed(dom.select(root, tag)):
            if class_weight(header) < 0:
                header.remove_from_parent()
            elif title and header.text().strip() == title.strip():
                header.remove_from_parent()


def _next_significant(node):
    n = node.next_sibling()
    while n is not None and n.kind == dom.TEXT and not n.data.strip():
        n = n.next_sibling()
    return n


def _is_paragraph_like_div(node):
    return node.name == "div" and not any(
        c.kind == dom.ELEMENT and c.name in DIV_TO_P_ELEMS for c in node.children
    )


def prep_article(article, scores=None, title=None):
    """mozilla _prepArticle over the selected article subtree (run before
    ``clean_classes``; ``fixRelativeUris`` follows in the pipeline).

    Stage order mirrors Readability.js: styles → data-table marking →
    lazy-image fixing → conditional form/fieldset → unconditional
    embeds/footers/asides → share widgets → input-ish controls → headers →
    conditional table/ul/div → h1→h2 → empty paragraphs → stray <br> →
    single-cell table unwrap."""
    clean_styles(article)
    data_tables = mark_data_tables(article)
    fix_lazy_images(article)

    clean_conditionally(article, "form", scores, data_tables)
    clean_conditionally(article, "fieldset", scores, data_tables)
    for tag in ("object", "embed", "footer", "link", "aside"):
        clean(article, tag)

    # share widgets: checked per top-level child subtree (mozilla iterates
    # articleContent.children)
    for child in article.children:
        if child.kind != dom.ELEMENT:
            continue
        clean_matched_nodes(
            child,
            lambda node, match: SHARE_ELEMENTS.search(match) is not None
            and len(node.text()) < SHARE_ELEMENT_THRESHOLD,
        )

    for tag in ("iframe", "input", "textarea", "select", "button"):
        clean(article, tag)
    clean_headers(article, title)

    for tag in ("table", "ul", "div"):
        clean_conditionally(article, tag, scores, data_tables)

    for h1 in dom.select(article, "h1"):
        h1.rename("h2")

    # paragraph-like divs read as paragraphs (see module docstring)
    for node in dom.select(article, "div"):
        if _attached(node, article) and _is_paragraph_like_div(node):
            node.rename("p")

    # text first (one walk, short-circuits every non-empty paragraph — the
    # common case), then one combined-selector walk for the four embed-ish
    # tags instead of four separate subtree selects (same predicate)
    for para in reversed(dom.select(article, "p")):
        if para.text().strip():
            continue
        if dom.select(para, "img, embed, object, iframe"):
            continue
        para.remove_from_parent()

    for br in reversed(dom.select(article, "br")):
        nxt = _next_significant(br)
        if nxt is not None and nxt.kind == dom.ELEMENT and nxt.name == "p":
            br.remove_from_parent()

    # single-cell tables collapse to their cell (p when phrasing-only)
    from .stages import PHRASING_ELEMENTS

    for table in reversed(dom.select(article, "table")):
        if not _attached(table, article):
            continue
        tbody = table
        if _has_single_tag_inside(table, "tbody"):
            tbody = next(c for c in table.children if c.kind == dom.ELEMENT)
        if not _has_single_tag_inside(tbody, "tr"):
            continue
        row = next(c for c in tbody.children if c.kind == dom.ELEMENT)
        if not _has_single_tag_inside(row, "td"):
            continue
        cell = next(c for c in row.children if c.kind == dom.ELEMENT)
        phrasing_only = all(
            (c.kind == dom.TEXT)
            or (c.kind == dom.ELEMENT and c.name in PHRASING_ELEMENTS)
            for c in cell.children
        )
        cell.rename("p" if phrasing_only else "div")
        table.replace_with(cell)
