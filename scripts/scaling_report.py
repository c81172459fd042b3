"""Measured-scaling section generator for SCALING.md.

Reads BENCH_DETAIL.json (the reference grid: sf0.1 at the session's
default core count, written by `python bench.py` in that
configuration; other configurations write their own detail file, see
bench.py) and rewrites
the `## Measured scaling` section of SCALING.md: per-query observed
wall ratio between the secondary SF (default sf0.01) and the primary
SF (default sf0.1) against the 10x data growth, plus index-build
ratios — turning the 100 TB posture from a design argument into an
observed curve.  Queries faster than the floor at BOTH SFs are
summarized, not listed (their wall time is job-overhead-bound and the
ratio is noise).

Usage::

    python bench.py            # at the reference config: BENCH_DETAIL.json
    python scripts/scaling_report.py
"""

from __future__ import annotations

import json
import os

_FLOOR = 0.5        # sec: below this at both SFs, overhead dominates
_MARK = "## Measured scaling"


def classify(ratio: float, growth: float) -> str:
    if ratio <= growth * 0.3:
        return "sublinear"
    if ratio <= growth * 1.5:
        return "near-linear"
    return "SUPERLINEAR"


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    detail = json.load(open(os.path.join(repo, "BENCH_DETAIL.json")))
    primary = detail["queries_min"]
    secondary = detail.get("queries_secondary")
    if not secondary:
        raise SystemExit("BENCH_DETAIL.json has no secondary grid")
    sec_sf = detail.get("secondary_sf") or 0.01
    # primary sf inferred from the index_build keys
    dirs = list(detail["index_build"])
    prim_dir = dirs[0]
    growth = 0.1 / sec_sf if sec_sf else 10.0

    rows = []
    small = 0
    for name, t1 in primary.items():
        t0 = secondary.get(name)
        if t0 is None or t0 != t0 or t1 != t1:
            continue
        if t0 < _FLOOR and t1 < _FLOOR:
            small += 1
            continue
        ratio = t1 / t0 if t0 > 0 else float("inf")
        rows.append((ratio, name, t0, t1))
    rows.sort(reverse=True)

    lines = [
        _MARK + f" (sf{sec_sf} → sf0.1, {growth:.0f}× data)",
        "",
        "Generated by `python scripts/scaling_report.py` from the last",
        "`BENCH_DETAIL.json` (per-query min at sf0.1 vs the secondary-SF",
        "single-rep grid; both run after index build on a warm JVM).",
        f"{small} queries run under {_FLOOR}s at BOTH SFs — wall time is",
        "job overhead there and ratios are noise, so they are omitted.",
        "A ratio well below the data growth means fixed-size relations /",
        "sample-bounded work dominate; near the growth means corpus-",
        "linear work; above it needs a reason.",
        "",
        "| query | sf_sec (s) | sf0.1 (s) | ratio | class |",
        "|---|---|---|---|---|",
    ]
    for ratio, name, t0, t1 in rows:
        lines.append(
            f"| {name} | {t0:.2f} | {t1:.2f} | {ratio:.1f}× |"
            f" {classify(ratio, growth)} |"
        )
    lines.append("")
    lines.append("Index-build phases (the amortized maintained-artifact cost):")
    lines.append("")
    lines.append("| phase | sf_sec (s) | sf0.1 (s) | ratio |")
    lines.append("|---|---|---|---|")
    builds = detail["index_build"]
    sec_dirs = [d for d in builds if d != prim_dir]
    if sec_dirs:
        for phase in builds[prim_dir]:
            a = builds[sec_dirs[0]].get(phase, {}).get("sec")
            b = builds[prim_dir][phase]["sec"]
            if a:
                lines.append(f"| {phase} | {a:.2f} | {b:.2f} | {b / a:.1f}× |")
    lines.append("")

    path = os.path.join(repo, "SCALING.md")
    text = open(path).read()
    if _MARK in text:
        head = text[: text.index(_MARK)].rstrip() + "\n\n"
        # section runs to the next '## ' after the marker, or EOF
        rest = text[text.index(_MARK) + len(_MARK):]
        nxt = rest.find("\n## ")
        tail = rest[nxt + 1:] if nxt != -1 else ""
    else:
        head = text.rstrip() + "\n\n"
        tail = ""
    open(path, "w").write(head + "\n".join(lines) + "\n" + tail)
    print(f"SCALING.md measured section: {len(rows)} queries, {small} omitted")


if __name__ == "__main__":
    main()
