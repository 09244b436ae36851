#!/usr/bin/env python3
"""Diff two rounds of plan snapshots (written by
`runMain graft.tools.Inspect <sfDir> all --passes 0 --plans-to <dir>`) and
flag plan-shape regressions: lost broadcasts, new sorts/exchanges, lost
pushed filters, lost static partition IN-sets, codegen boundary changes. Usage:
    python3 tools/diff_plans.py plans_r03 plans_r04
Exit code 1 when any regression-class change is found.
"""
import re
import sys
from pathlib import Path

# operators whose appearance/disappearance changes the scale story
SIGNALS = {
    "broadcast": re.compile(r"Broadcast(HashJoin|ExchangeExec|Exchange|NestedLoopJoin)"),
    "sort": re.compile(r"^\s*[+:*-]*\s*\(?\d*\)?\s*Sort\b", re.M),
    "exchange": re.compile(r"\bExchange\b"),
    "pushedfilters": re.compile(r"PushedFilters: \[[^\]]"),
    "static_cells": re.compile(r"PartitionFilters: \[[^\]]* IN \("),
    "codegen_fallback": re.compile(r"CodegenFallback"),
    "serialize": re.compile(r"SerializeFromObject"),
}


def counts(text: str) -> dict:
    return {k: len(p.findall(text)) for k, p in SIGNALS.items()}


def main(old_dir: str, new_dir: str) -> int:
    old, new = Path(old_dir), Path(new_dir)
    names = sorted({p.stem for p in old.glob("*.txt")} | {p.stem for p in new.glob("*.txt")})
    bad = 0
    for name in names:
        po, pn = old / f"{name}.txt", new / f"{name}.txt"
        if not po.exists():
            print(f"NEW   {name}")
            continue
        if not pn.exists():
            print(f"GONE  {name}")
            bad += 1
            continue
        co, cn = counts(po.read_text()), counts(pn.read_text())
        diffs = []
        # regressions: fewer broadcasts / pushed filters / static cells, more of the rest
        if cn["broadcast"] < co["broadcast"]:
            diffs.append(f"broadcasts {co['broadcast']}->{cn['broadcast']}")
        if cn["pushedfilters"] < co["pushedfilters"]:
            diffs.append(f"pushed-filters {co['pushedfilters']}->{cn['pushedfilters']}")
        if cn["static_cells"] < co["static_cells"]:
            diffs.append(f"static-cells {co['static_cells']}->{cn['static_cells']}")
        for k in ("sort", "exchange", "serialize", "codegen_fallback"):
            if cn[k] > co[k]:
                diffs.append(f"{k} {co[k]}->{cn[k]}")
        if diffs:
            print(f"REGR  {name}: {', '.join(diffs)}")
            bad += 1
    if bad == 0:
        print(f"ok: no plan-shape regressions across {len(names)} queries")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
