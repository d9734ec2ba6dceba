"""Physical-plan quality gate: assert that the scans the engine reads are
pushed down and pruned, and audit its F.broadcast() hints.

Checks:
- filter pushdown and column pruning reach the ``documents`` parquet scan
  (PushedFilters present; ReadSchema without the fat ``text`` column when
  it is unused);
- the extraction pre-filter on a ``PAGES_SCHEMA`` table stays outside the
  UDF and pushes to the parquet scan;
- every source-level F.broadcast() call sits on an allowlisted,
  bounded-by-construction frame, and every allowlist entry still names a
  call site (``broadcast_audit``, also run by tests/test_broadcast_audit.py).

Writes the formatted plans to BENCH/PLANS.md for the record and exits
non-zero on any failed assertion.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import pyspark.sql.functions as F

from readability_spark.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"


# --- source-level broadcast-hint audit ----------------------------------
# Every F.broadcast() in the engine must sit on a frame whose size is
# BOUNDED BY CONSTRUCTION (a fixed suite, a 1-row aggregate, a capped
# token set, a user-supplied query set) — never on a frame whose size is a
# data-dependent fraction of the corpus (dup labels, contaminated ids,
# per-doc size lookups: those are left unhinted for AQE's runtime size
# decision).  The allowlist pins each justified site by a line substring;
# a new F.broadcast() call fails the audit until it is reviewed and added
# here with its boundedness argument, and an entry whose site is gone
# fails it until the entry is removed.
BROADCAST_ALLOWLIST = {}
AUDIT_GLOBS = ("readability_spark/**/*.py", "scripts/*.py", "__spark_entry__.py")
# real call sites only: prose like "an F.broadcast() that" has empty parens
_BROADCAST_CALL = re.compile(r"F\.broadcast\([^)]")


def broadcast_audit(root, allowlist=BROADCAST_ALLOWLIST):
    """Audit the F.broadcast() call sites of the tree under ``root``
    against ``allowlist``; return one failure string per unlisted call
    site and per stale entry (its file is not audited, or its substring
    matches no call site)."""
    failures = []
    sites = {}
    for path in sorted({p for pat in AUDIT_GLOBS for p in root.glob(pat)}):
        rel = path.relative_to(root).as_posix()
        sites[rel] = [
            (i, line)
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if _BROADCAST_CALL.search(line) and not line.lstrip().startswith("#")
        ]
        allowed_subs = [sub for sub, _ in allowlist.get(rel, [])]
        for i, line in sites[rel]:
            if not any(sub in line for sub in allowed_subs):
                failures.append(
                    f"broadcast_hint_audit: {rel}:{i} has an unreviewed "
                    f"F.broadcast() — add it to the allowlist with a "
                    f"boundedness justification: {line.strip()[:90]}"
                )
    for rel, allowed in allowlist.items():
        if rel not in sites:
            failures.append(
                f"broadcast_hint_audit: stale allowlist entry: {rel} is not "
                f"an audited file"
            )
            continue
        for sub, _ in allowed:
            if not any(sub in line for _, line in sites[rel]):
                failures.append(
                    f"broadcast_hint_audit: stale allowlist entry: {sub!r} "
                    f"matches no F.broadcast() call in {rel} — remove it"
                )
    return failures


def plan_of(df):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main():
    spark = get_spark(app_name="plan-check", master="local[8]", conf={"spark.sql.shuffle.partitions": "8"})
    sections = []
    failures = []

    def check(name, df, must=(), must_not=()):
        """Record the (formatted) plan and assert regex properties on it."""
        plan = plan_of(df)
        sections.append((name, plan))
        for pat in must:
            if not re.search(pat, plan):
                failures.append(f"{name}: expected /{pat}/ in plan")
        for pat in must_not:
            if re.search(pat, plan):
                failures.append(f"{name}: must NOT contain /{pat}/")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    # 1. scan-level predicate + projection pushdown: the fat `text` column
    # must not be read when only doc_id/lang are needed
    check(
        "filter_and_prune",
        docs.filter(F.col("lang") == "en").select("doc_id", "lang"),
        must=[
            r"PushedFilters: \[.*IsNotNull\(lang\).*EqualTo\(lang,en\).*\]",
            r"ReadSchema: struct<doc_id:bigint,lang:string>",
        ],
        must_not=[r"ReadSchema: struct<.*text"],
    )

    # 2. extraction pre-filters stay OUTSIDE the UDF and push to the scan
    from readability_spark.spark.pages import PAGES_SCHEMA

    pages_tbl = spark.createDataFrame([], PAGES_SCHEMA)
    pages_tbl.write.mode("overwrite").parquet("/tmp/plan_check_pages")
    pages_scan = spark.read.parquet("/tmp/plan_check_pages")
    check(
        "extraction_prefilter_pushdown",
        pages_scan.filter(F.col("html").isNotNull() & (F.length("url") > 0)).select(
            "url", "html"
        ),
        must=[r"PushedFilters: \[.*IsNotNull\(html\).*\]"],
    )

    failures += broadcast_audit(REPO)
    sections.append(
        (
            "broadcast_hint_audit",
            "source-level audit: every F.broadcast() site matched the "
            "bounded-by-construction allowlist\n"
            + "\n".join(
                f"  {rel}: {sub} — {why}"
                for rel, allowed in BROADCAST_ALLOWLIST.items()
                for sub, why in allowed
            ),
        )
    )

    out = ["# BENCH/PLANS.md — physical-plan audit", ""]
    out.append(
        "Generated by `tools/check_plans.py` (asserts scan pushdown / pruning "
        "properties and audits broadcast hints, then records the plans)."
    )
    for name, plan in sections:
        out += ["", f"## {name}", "", "```", plan.strip(), "```"]
    (REPO / "BENCH").mkdir(exist_ok=True)
    (REPO / "BENCH" / "PLANS.md").write_text("\n".join(out) + "\n")

    spark.stop()
    if failures:
        print("PLAN CHECK FAILURES:")
        for f in failures:
            print(" -", f)
        sys.exit(1)
    print(f"all {len(sections)} plan checks passed; plans written to BENCH/PLANS.md")


if __name__ == "__main__":
    main()
