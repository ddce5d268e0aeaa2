#!/usr/bin/env python
"""Physical-plan audit over the full query registry.

Builds every registered query's DataFrame at sf0.001 (plan construction
only — the driver-side actions some operators legitimately run during
planning, e.g. budget_select's histogram, do execute, but no query is
collected) and counts the plan nodes that matter at 100 TB:

  Exchange            shuffles — each one is a corpus-wide data movement
  Window              sort-based windows — serial within a partition key
  CartesianProduct    must be ZERO everywhere (the audit FAILS otherwise)
  ArrowEvalPython     Arrow-batched pandas_udf stages
  MapInPandas / MapInArrow / FlatMapGroupsInPandas   Python fan-out/batch stages
  BroadcastHashJoin / SortMergeJoin     join strategies chosen

Writes PLAN_AUDIT.md (table per query + summary) so plan regressions
show up in review diffs, and exits non-zero on any CartesianProduct.

With ``--check`` it writes nothing: it rebuilds the plans, compares each
query's node counts with the committed file, names every query whose
counts differ (or that only one side has), and exits non-zero on any.

Usage:  python scripts/plan_audit.py [--check] [PLAN_AUDIT.md]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

NODES = [
    ("Exchange", r"\bExchange\b"),
    ("Window", r"\bWindow\b|\bWindowExec\b"),
    ("Cartesian", r"\bCartesianProduct\b"),
    ("ArrowEval", r"\bArrowEvalPython\b"),
    ("MapInPandas", r"\bMapInPandas\b"),
    ("MapInArrow", r"\bMapInArrow\b"),
    ("GroupsInPandas", r"FlatMapGroupsInPandas"),
    ("BHJ", r"\bBroadcastHashJoin\b"),
    ("SMJ", r"\bSortMergeJoin\b"),
]


def audit() -> tuple[list, list, float]:
    """``(rows, errors, seconds)``: ``rows`` is ``(query, {label: count})``
    in name order, ``errors`` is ``(query, first message line)``."""
    from llm_pretraining_data_pipeline_spark.queries import QUERIES
    import llm_pretraining_data_pipeline_spark.queries_corpus  # noqa: F401
    import llm_pretraining_data_pipeline_spark.queries_ext  # noqa: F401
    import llm_pretraining_data_pipeline_spark.queries_rel  # noqa: F401
    from llm_pretraining_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="plan_audit", master="local[8]", shuffle_partitions=8
    )
    rows, errors = [], []
    t0 = time.time()
    for name in sorted(QUERIES):
        try:
            df = QUERIES[name].spark(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — audit must finish
            msg = (str(exc).splitlines() or ["<no message>"])[0][:160]
            errors.append((name, msg))
            continue
        rows.append(
            (name, {label: len(re.findall(pat, plan)) for label, pat in NODES})
        )
    return rows, errors, time.time() - t0


def render(rows: list, errors: list, dur: float) -> str:
    labels = [label for label, _ in NODES]
    cartesians = [name for name, c in rows if c["Cartesian"]]
    out = [
        "# Plan audit\n\n"
        f"Every registered query's PHYSICAL plan at sf0.001 "
        f"({len(rows)} plans built in {dur:.0f}s; "
        f"{len(errors)} errors). Node counts that matter at "
        "100 TB; CartesianProduct must be zero everywhere. "
        "`python scripts/plan_audit.py --check` fails when a query's "
        "counts drift from this file.\n\n",
        "| query | " + " | ".join(labels) + " |\n",
        "|---" * (len(labels) + 1) + "|\n",
    ]
    out += [
        f"| {name} | " + " | ".join(str(c[label]) for label in labels) + " |\n"
        for name, c in rows
    ]
    tot = {label: sum(c[label] for _, c in rows) for label in labels}
    out.append(
        f"\n**Totals over {len(rows)} queries:** "
        + ", ".join(f"{k}={v}" for k, v in tot.items())
        + ".\n"
    )
    out.append(
        f"\n{sum(1 for _, c in rows if c['Exchange'] == 0)} queries plan "
        f"with ZERO shuffles; {sum(1 for _, c in rows if c['Window'] == 0)} "
        "with zero windows.\n"
    )
    if errors:
        out.append("\n## Errors\n\n")
        out += [f"- `{name}`: {msg}\n" for name, msg in errors]
    if cartesians:
        out.append(
            "\n## CARTESIAN PRODUCTS FOUND (audit FAILED)\n\n"
            + "".join(f"- `{n}`\n" for n in cartesians)
        )
    return "".join(out)


def parse(text: str) -> dict[str, dict[str, int]]:
    """Per-query node counts from a rendered audit's table."""
    lines = text.splitlines()
    header = next(line for line in lines if line.startswith("| query |"))
    labels = [cell.strip() for cell in header.strip("|").split("|")][1:]
    counts = {}
    for line in lines:
        cells = [cell.strip() for cell in line.strip("|").split("|")]
        if line.startswith("| ") and len(cells) == len(labels) + 1 and cells[1].isdigit():
            counts[cells[0]] = dict(zip(labels, map(int, cells[1:])))
    return counts


def drift(committed: dict, rows: list, errors: list) -> list[str]:
    """One line per query whose node counts differ from ``committed``."""
    built = {name: c for name, c in rows}
    built.update({name: "error" for name, _ in errors})
    lines = []
    for name in sorted(committed.keys() | built.keys()):
        old, new = committed.get(name, "absent"), built.get(name, "absent")
        if old != new:
            lines.append(f"{name}: committed {old}, built {new}")
    return lines


def main(argv: list[str]) -> int:
    check = "--check" in argv
    args = [a for a in argv if a != "--check"]
    path = args[0] if args else "PLAN_AUDIT.md"
    committed = None
    if check:
        with open(path) as fh:
            committed = parse(fh.read())
    rows, errors, dur = audit()
    cartesians = [name for name, c in rows if c["Cartesian"]]
    if check:
        lines = drift(committed, rows, errors)
        for line in lines:
            print(line)
        print(
            f"plan_audit --check: {len(rows)} plans, {len(lines)} drifted "
            f"from {path}"
        )
        return 1 if lines or cartesians else 0
    with open(path, "w") as fh:
        fh.write(render(rows, errors, dur))
    print(
        f"plan_audit: {len(rows)} plans, {len(errors)} errors, "
        f"{len(cartesians)} cartesians -> {path}"
    )
    return 1 if cartesians else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
