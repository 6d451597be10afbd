"""Regenerate QUERIES.md — the registry's user-facing index.

One row per registered query: name, check type (oracle vs rows-only), and
its doc line.  Run after adding queries:  python scripts/gen_queries_md.py
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from logspout_kinesis_tests_spark.plans import REGISTRY  # noqa: E402


def main() -> None:
    lines = [
        "# QUERIES — the registered query surface",
        "",
        "Auto-generated by `scripts/gen_queries_md.py` — do not edit by hand.",
        "Every entry is callable as `queries()[name](spark, sf_dir)`; entries",
        "marked `oracle` are hash-compared against DuckDB SQL at sf0.01 by the",
        "driver (and exact-value-compared by `tests/test_oracle_parity.py`).",
        "",
        f"**{len(REGISTRY)} queries** — "
        f"{sum(1 for s in REGISTRY.values() if s.oracle)} oracle-checked, "
        f"{sum(1 for s in REGISTRY.values() if not s.oracle)} rows-only "
        "(hash-family / approximate-by-design, each paired with an "
        "oracle-checked gate).",
        "",
        "| query | check | what it does |",
        "|---|---|---|",
    ]
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        check = "oracle" if spec.oracle else "rows-only"
        doc = re.sub(r"\s+", " ", (spec.doc or "").strip())
        doc = doc.replace("|", "\\|")
        lines.append(f"| `{name}` | {check} | {doc} |")
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md ({len(REGISTRY)} queries)")


if __name__ == "__main__":
    main()
