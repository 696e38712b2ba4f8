#!/usr/bin/env python3
"""Per-layer diff of two benchmark artifacts.

    python3 perfbench/diff.py .perfbench/artifacts/A.json .perfbench/artifacts/B.json

Prints, largest change first: the end-to-end figures, the per-layer totals
of a pass (or batch), the span self-times by layer and, for query
workloads, each query's layer that moved most, followed by the calibration
probes of both runs, so a regression can be read off the two artifacts
without a rerun.
"""

from __future__ import annotations

import json
import sys

END_TO_END = ("setup_s", "pass_s", "pass_median_s", "query_p50_s", "batch_p50_s",
              "peak_rss_mb", "docs_per_s", "store_bytes_per_doc", "drop_share")


def _rows(a: dict, b: dict) -> list[tuple[str, float, float]]:
    keys = sorted(set(a) | set(b))
    rows = [(k, float(a.get(k, 0.0)), float(b.get(k, 0.0))) for k in keys
            if isinstance(a.get(k, 0.0), (int, float)) and isinstance(b.get(k, 0.0), (int, float))]
    return sorted(rows, key=lambda r: -abs(r[2] - r[1]))


def _table(title: str, rows) -> list[str]:
    out = [f"== {title}", f"{'metric':<34}{'A':>14}{'B':>14}{'B-A':>14}{'B/A':>8}"]
    for k, x, y in rows:
        ratio = f"{y / x:.2f}" if x else "-"
        out.append(f"{k:<34}{x:>14.4g}{y:>14.4g}{y - x:>14.4g}{ratio:>8}")
    return out


def diff(a: dict, b: dict) -> str:
    lines = [f"A: {a.get('workload')} seed {a.get('seed')} commit {a.get('host', {}).get('commit')}",
             f"B: {b.get('workload')} seed {b.get('seed')} commit {b.get('host', {}).get('commit')}"]
    lines += _table("end to end", _rows({k: a[k] for k in END_TO_END if k in a},
                                        {k: b[k] for k in END_TO_END if k in b}))
    ta, tb = a.get("trace", {}), b.get("trace", {})
    if ta or tb:
        lines += _table("per layer, per pass or batch",
                        _rows(ta.get("per_pass", {}), tb.get("per_pass", {})))
        lines += _table("span self-time by layer",
                        _rows(a.get("self_time_s", {}), b.get("self_time_s", {})))
        qa, qb = ta.get("per_query", {}), tb.get("per_query", {})
        moved = []
        for q in sorted(set(qa) & set(qb)):
            rows = _rows(qa[q], qb[q])
            if rows:
                k, x, y = rows[0]
                moved.append((f"{q}:{k}", x, y))
        if moved:
            lines += _table("largest layer move per query",
                            sorted(moved, key=lambda r: -abs(r[2] - r[1])))
    for name, art in (("A", a), ("B", b)):
        lines.append(f"calib {name}: {json.dumps(art.get('calib'))}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as fa, open(argv[1]) as fb:
        print(diff(json.load(fa), json.load(fb)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
