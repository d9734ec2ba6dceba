"""Shared pytest helpers.

``run_stage_test`` mirrors the reference's builder-style stage harness
(/root/reference/src/stage/test.rs:74-113): parse a tiny document, run the
listed stages in order, then assert the serialized HTML and/or the
metadata/lang/dir — pinning parser + serializer + stage semantics at once.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from readability_spark import dom  # noqa: E402
from readability_spark.model import Context, Metadata  # noqa: E402
from readability_spark.options import DEFAULT_OPTIONS  # noqa: E402

_UNSET = object()


def run_stage_test(
    stages,
    document="<html><body></body></html>",
    metadata=None,
    expected_html=None,
    expected_metadata=None,
    expected_lang=_UNSET,
    expected_dir=_UNSET,
):
    doc = dom.parse_document(document)
    ctx = Context(document=doc, options=DEFAULT_OPTIONS)
    if metadata is not None:
        ctx.metadata = metadata
    if callable(stages):
        stages = [stages]
    for stage in stages:
        stage(ctx)
    if expected_html is not None:
        assert dom.serialize(doc) == expected_html
    if expected_metadata is not None:
        assert ctx.metadata == expected_metadata
    if expected_lang is not _UNSET:
        assert ctx.lang == expected_lang
    if expected_dir is not _UNSET:
        assert ctx.dir == expected_dir
    return ctx


def md(**kwargs):
    return Metadata(**kwargs)


# run_job's commit points: the second commit group's output write, and the
# first group's lineage append
CRASH_POINTS = ("before the write", "after the write", "after the lineage")


class InjectedCrash(Exception):
    """A failure injected at a run_job commit point."""


def crash_run_job(monkeypatch, point):
    """Make the next ``run_job`` die once at ``point``: before the second
    commit group's output write, between that write and its lineage
    append, or after the first group's lineage append."""
    from readability_spark.spark import job

    name, call, before = {
        "before the write": ("replace_partitions", 2, True),
        "after the write": ("replace_partitions", 2, False),
        "after the lineage": ("_append_lineage", 1, False),
    }[point]
    real = getattr(job, name)
    calls = []

    def crashing(*args, **kwargs):
        calls.append(None)
        if len(calls) == call and before:
            raise InjectedCrash(point)
        out = real(*args, **kwargs)
        if len(calls) == call:
            raise InjectedCrash(point)
        return out

    monkeypatch.setattr(job, name, crashing)
