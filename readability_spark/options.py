"""Extraction options (mirrors /root/reference/src/options.rs:1-50).

Scalar knobs only; in the Spark job the instance is closed over by the
vectorized UDF (no per-row variation), so it ships to executors once per
task via the serialized closure.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Options:
    """Defaults match ReadabilityOptions::default()
    (/root/reference/src/options.rs:36-50)."""

    keep_classes: bool = False
    link_density_bias: float = 0.0
    max_elements: int | None = None
    min_text_length: int = 500
    n_top_candidates: int = 5
    preserved_classes: tuple[str, ...] = ("page",)
    use_json_ld: bool = True
    #: our extension (not in options.rs): opt into the Arc90 candidate-scoring
    #: pass (scoring.py). Off by default so the default output stays
    #: byte-identical to the reference's whole-document behavior
    #: (/root/reference/src/readability.rs:53-60). When on, the scoring pass
    #: consumes link_density_bias / min_text_length / preserved_classes,
    #: which the reference declares but never reads (SURVEY.md section 0).
    #: n_top_candidates stays unread here too (kept for options.rs parity):
    #: mozilla uses it only for a promotion step scoring.py does not port.
    content_extraction: bool = False
    #: our extension: run the mozilla _prepArticle / _cleanConditionally
    #: cleanup (prep.py) on the scored selection — strips forms, fieldsets,
    #: fishy tables/lists/divs, embeds, share widgets, empty paragraphs
    #: (the north_star's "strip boilerplate (nav, footer, ads, forms)").
    #: Mirrors mozilla's FLAG_CLEAN_CONDITIONALLY (default on); only
    #: consulted when content_extraction is on.
    clean_conditionally: bool = True
    #: our extension: opt into mozilla's fixRelativeUris pass (urifix.py) —
    #: resolves link/media URIs in the content against the (otherwise
    #: ignored, /root/reference/src/pipeline.rs:30) base_url. Off by default
    #: so default output stays byte-identical to the reference.
    fix_relative_uris: bool = False


DEFAULT_OPTIONS = Options()
