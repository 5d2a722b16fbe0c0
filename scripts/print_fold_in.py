"""Print the paste-ready _DRIVER_VERIFIED block for the round-start fold-in.

Reads the NEWEST CORRECTNESS_r*.json, keeps its fully-green keys
(rows+schema+hash) that are not already in _DRIVER_VERIFIED, and prints
them as a formatted set-literal fragment with the round comment — paste
it into dbt_pro3_spark/queries/__init__.py:_DRIVER_VERIFIED. The two
tests in tests/test_round_start.py then prove the fold-in is complete in
both directions; this script only formats, never rewrites source.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import textwrap

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)


def main() -> None:
    from dbt_pro3_spark.queries import _DRIVER_VERIFIED

    arts = sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
    if not arts:
        sys.exit("no CORRECTNESS artifacts found")
    newest = arts[-1]
    rows = json.load(open(newest))
    green = sorted(
        k
        for k, r in rows.items()
        if r.get("rows_match") and r.get("schema_match") and r.get("hash_match")
    )
    fresh = [k for k in green if k not in _DRIVER_VERIFIED]
    skipped = [k for k in rows if k not in green]
    rnd = os.path.basename(newest).removeprefix("CORRECTNESS_").removesuffix(".json")
    if not fresh:
        print(f"nothing to fold in from {os.path.basename(newest)}")
        return
    print(
        f"    # {rnd} window ({os.path.basename(newest)} — "
        f"{len(fresh)}/{len(rows)} hash-green fold-in)"
    )
    body = ", ".join(f'"{k}"' for k in fresh) + ","
    print(textwrap.fill(body, width=76, initial_indent="    ", subsequent_indent="    "))
    if skipped:
        print(f"    # NOT green in {rnd} (do not fold): {skipped}", file=sys.stderr)
    already = [k for k in green if k in _DRIVER_VERIFIED]
    if already:
        print(f"    # already verified (skipped): {len(already)} keys", file=sys.stderr)


if __name__ == "__main__":
    main()
