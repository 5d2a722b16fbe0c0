"""Regenerate SURVEY.md Appendix A (registry inventory) from docstrings.

Usage: python scripts/gen_survey_appendix.py [round_label]
Rewrites everything from '## Appendix A' to EOF in SURVEY.md.
"""

from __future__ import annotations

import inspect
import re
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from dbt_pro3_spark.queries import all_oracle, all_queries  # noqa: E402

WIDTH = 66


def first_words(doc: str) -> str:
    text = " ".join((doc or "").strip().split())
    if len(text) <= WIDTH:
        return text
    cut = text[: WIDTH + 1]
    return cut[: cut.rfind(" ")].rstrip()


def main() -> None:
    label = sys.argv[1] if len(sys.argv) > 1 else "round 4"
    qs = all_queries()
    oracled = set(all_oracle())
    groups: dict[str, list[tuple[str, str, str]]] = defaultdict(list)
    for key, fn in qs.items():
        f = inspect.unwrap(fn)
        path = Path(inspect.getsourcefile(f)).resolve().relative_to(ROOT)
        line = inspect.getsourcelines(f)[1]
        doc = first_words(inspect.getdoc(f) or "")
        doc = doc.replace("|", "\\|")
        prefix = key.split("_", 1)[0]
        flag = "O" if key in oracled else "-"
        groups[prefix].append((key, flag, f"{path}:{line}", doc))

    out = [
        f"## Appendix A — complete driver registry inventory (auto-generated, {label})",
        "",
        f"All registered `queries()` keys — {len(qs)} total, {len(oracled)} with DuckDB oracle twins",
        "(`O` column; `-` = rows-only by design: LSH/ANN/stub-decode paths that are",
        "not SQL-expressible). Grouped by key prefix.",
        "",
    ]
    for prefix in sorted(groups):
        rows = sorted(groups[prefix])
        out.append("")
        out.append(f"### {prefix}_* ({len(rows)})")
        out.append("")
        out.append("| key | O | where | what |")
        out.append("|---|---|---|---|")
        for key, flag, where, doc in rows:
            out.append(f"| {key} | {flag} | {where} | {doc} |")
    out.append("")

    src = open("SURVEY.md").read()
    head = re.split(r"^## Appendix A.*$", src, maxsplit=1, flags=re.M)[0]
    open("SURVEY.md", "w").write(head + "\n".join(out))
    print(f"Appendix A regenerated: {len(qs)} keys, {len(oracled)} oracled")


if __name__ == "__main__":
    main()
