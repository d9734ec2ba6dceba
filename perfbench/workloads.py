"""Seeded page workloads for the extraction-job benchmark.

Each workload is a deterministic function of ``(name, seed)``: a table of
documents rows shaped like the crawl's ``documents`` table (doc_id, text,
lang, source), rendered to HTML by one of the page synthesizers in
``readability_spark.spark.pages``.  The seed permutes the rows and offsets
``doc_id``, so the url hashes (and with them logical-partition and salt
assignment) change with it.

The pages parquet is written once per (workload, seed, synthesizer source
hash) under the benchmark's work directory and reused; building it is never
timed.  ``expected`` gives every url's expected status, title and
text_content from the closed forms documented in ``spark/pages.py``.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import random
import shutil
import sys
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from readability_spark.options import Options
from readability_spark.spark import pages

#: the documents table's vocabulary, language mix and source count
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100

#: doc ids of seed s are s % 10 000 * ROW_ID_SPAN + row
ROW_ID_SPAN = 1_000_000

#: input files per workload, so the scan has parallel splits on any core count
INPUT_FILES = 8

#: built inputs kept in the cache; older ones are deleted
KEEP_INPUTS = 6

#: planted rows whose html cannot be decoded: each must come out status=error
BAD_HTML = (None, b"", b"  \n ", b"\xff\xfe<html>not utf-8</html>")
BAD_EVERY = 100

HEAVY_COLUMNS = ("title", "text_content", "length", "lang")


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    kinds: tuple  # page synthesizer names, assigned round-robin over rows
    options: Options | None
    article_columns: tuple | None
    num_partitions: int
    salt_n: int
    commit_groups: int
    plant_bad_rows: bool = False

    @property
    def want_content(self):
        """Whether the job serializes the content HTML (``dom.serialize``)."""
        return self.article_columns is None or "content" in self.article_columns


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="heavy_pages",
            rows=3200,
            kinds=("bench",),
            options=None,
            article_columns=HEAVY_COLUMNS,
            num_partitions=8,
            salt_n=1,
            commit_groups=1,
        ),
        Workload(
            name="scored_pages",
            rows=4000,
            kinds=("junk", "media"),
            options=Options(content_extraction=True, min_text_length=0),
            article_columns=None,
            num_partitions=8,
            salt_n=1,
            commit_groups=1,
        ),
        Workload(
            name="thin_pages",
            rows=6000,
            kinds=("contract",),
            options=None,
            article_columns=None,
            num_partitions=16,
            salt_n=2,
            commit_groups=4,
            plant_bad_rows=True,
        ),
    )
}

_SYNTH = {
    "contract": pages.synthesize_html,
    "junk": pages.synthesize_junk_html,
    "media": pages.synthesize_media_html,
    "bench": pages.synthesize_bench_html,
}


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str
    lang: str
    source: str
    kind: str
    bad: bytes | None = None  # planted undecodable html (None value = SQL null)
    planted: bool = False


def documents(workload: Workload, seed: int) -> list[Doc]:
    """The workload's documents in input-row order: a seeded permutation of
    doc ids offset by the seed, each with seeded text, lang and source."""
    rng = random.Random(f"{workload.name}:{seed}")
    base = (seed % 10_000) * ROW_ID_SPAN
    order = list(range(workload.rows))
    rng.shuffle(order)
    docs = []
    for i in order:
        text = " ".join(rng.choices(VOCAB, k=rng.randint(MIN_WORDS, MAX_WORDS)))
        planted = workload.plant_bad_rows and i % BAD_EVERY == BAD_EVERY - 1
        docs.append(
            Doc(
                doc_id=base + i,
                text=text,
                lang=rng.choice(LANGS),
                source=f"src{rng.randrange(N_SOURCES)}",
                kind=workload.kinds[i % len(workload.kinds)],
                bad=BAD_HTML[(i // BAD_EVERY) % len(BAD_HTML)] if planted else None,
                planted=planted,
            )
        )
    return docs


def url_of(doc: Doc) -> str:
    return pages.page_url(doc.doc_id, doc.source)


def html_of(doc: Doc) -> bytes | None:
    if doc.planted:
        return doc.bad
    return _SYNTH[doc.kind](doc.doc_id, doc.text, doc.lang).encode("utf-8")


def _title(doc_id):
    return f"Daily Report Number {doc_id} Edition"


def expected(workload: Workload, doc: Doc):
    """(status, title, text_content) the job must produce for ``doc``.

    Closed forms (spark/pages.py): whole-document text for the contract and
    heavy pages under default options; the scored+prepped article text for
    junk and media pages under content extraction."""
    if doc.planted:
        return "error", None, None
    title = _title(doc.doc_id)
    scored = workload.options is not None and workload.options.content_extraction
    if doc.kind == "contract" and not scored:
        text = f"{title} | ExampleSite{title}{doc.text} Section {doc.doc_id} closing remarks."
    elif doc.kind == "bench" and not scored:
        text = f"{title} | ExampleSite{title}" + "".join(
            f"Paragraph {j} of report {doc.doc_id}: {doc.text}" for j in range(80)
        )
    elif doc.kind == "junk" and scored:
        text = f"{doc.text} Section {doc.doc_id} closing remarks."
    elif doc.kind == "media" and scored:
        text = f"{doc.text} Media notes {doc.doc_id}."
    else:
        raise ValueError(f"no closed form for {doc.kind} pages in {workload.name}")
    return "ok", title, text


def _source_tag(workload: Workload) -> str:
    """Cache-key component: the synthesizers' module source, this module's
    source and the workload definition, so an edit to any of them rebuilds
    the input instead of silently reusing stale pages."""
    blob = inspect.getsource(pages) + inspect.getsource(sys.modules[__name__])
    blob += repr(workload)
    return hashlib.sha256(blob.encode()).hexdigest()[:12]


def build_input(workload: Workload, seed: int, cache_dir: str):
    """Write (once) the pages parquet for ``(workload, seed)``; return
    ``(path, docs, info)`` where ``info`` holds the row count, html bytes
    and parquet bytes.  Untimed.  Keeps the ``KEEP_INPUTS`` most recently
    used inputs and deletes older ones."""
    docs = documents(workload, seed)
    path = os.path.join(cache_dir, f"{workload.name}-s{seed}-{_source_tag(workload)}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        html_bytes = 0
        for f in range(INPUT_FILES):
            part = docs[f::INPUT_FILES]
            html = [html_of(d) for d in part]
            html_bytes += sum(len(h) for h in html if h is not None)
            table = pa.table(
                {
                    "url": [url_of(d) for d in part],
                    # 37 s apart from 2026-01-01, wrapping so that every seed's
                    # timestamps stay within pandas' nanosecond range
                    "warc_ts": pa.array(
                        [
                            1_767_225_600_000_000 + (d.doc_id % ROW_ID_SPAN) * 37_000_000
                            for d in part
                        ],
                        pa.timestamp("us"),
                    ),
                    "html": pa.array(html, pa.binary()),
                    "text": [d.text for d in part],
                    "lang": [d.lang for d in part],
                }
            )
            pq.write_table(table, os.path.join(tmp, f"part-{f:05d}.parquet"))
        parquet_bytes = sum(os.path.getsize(os.path.join(tmp, n)) for n in os.listdir(tmp))
        info = {"rows": len(docs), "html_bytes": html_bytes, "parquet_bytes": parquet_bytes}
        with open(os.path.join(tmp, "_SUCCESS"), "w") as fh:
            json.dump(info, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    os.utime(marker)
    with open(marker) as fh:
        info = json.load(fh)
    _prune(cache_dir)
    return path, docs, info


def _prune(cache_dir):
    entries = []
    for name in os.listdir(cache_dir):
        marker = os.path.join(cache_dir, name, "_SUCCESS")
        if os.path.exists(marker):
            entries.append((os.path.getmtime(marker), name))
    for _, name in sorted(entries, reverse=True)[KEEP_INPUTS:]:
        shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)
