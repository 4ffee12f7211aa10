"""Regenerate QUERIES.md from the registry docs (one row per query).

Usage: python tools/gen_query_catalog.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_transparencia_sergipe_spark.plans import registry

OUT = Path(__file__).resolve().parent.parent / "QUERIES.md"
# hand-maintained prose (e.g. the streaming end-to-end walkthrough)
# lives below the marker and survives regeneration
MARKER = "<!-- hand-maintained below -->"


def render_table() -> str:
    """QUERIES.md above ``MARKER``: the header and one row per query."""
    registry._ensure_loaded()
    lines = [
        "# QUERIES — the registered surface (generated from plans/registry.py docs)",
        "",
        "One row per `queries()` entry. `oracle` = DuckDB twin exists (the",
        "driver hash-gates it); `rows-only` = non-SQL-expressible by contract.",
        "Driver window = first 50 (see registry.py HEADLINE_50 and its",
        "rotation log). Regenerate with: `python tools/gen_query_catalog.py`.",
        "",
        "| # | query | check | doc |",
        "|---|---|---|---|",
    ]
    for i, (name, q) in enumerate(registry.REGISTRY.items(), 1):
        if q.oracle:
            kind = "oracle"
        elif q.oracle_gen is not None:
            # round-12: trained-ANN family — literal-constant SQL
            # generated at oracle_sql() time, full driver hash check
            kind = "oracle (generated)"
        else:
            kind = "rows-only"
        doc = " ".join((q.doc or "").split())
        if len(doc) > 220:
            doc = doc[:217] + "..."
        doc = doc.replace("|", "\\|")
        tier = "W" if i <= 50 else "E"
        lines.append(f"| {i} ({tier}) | {name} | {kind} | {doc} |")
    lines += [
        "",
        "(W = driver certification window, E = extended tier — all",
        "oracle-checked every round in CORRECTNESS_LOCAL.md.)",
    ]
    return "\n".join(lines)


def main() -> None:
    text = render_table()
    if OUT.exists() and MARKER in OUT.read_text():
        text += "\n\n" + MARKER + OUT.read_text().split(MARKER, 1)[1]
    OUT.write_text(text.rstrip("\n") + "\n")
    print(f"wrote {len(registry.REGISTRY)} rows")


if __name__ == "__main__":
    main()
