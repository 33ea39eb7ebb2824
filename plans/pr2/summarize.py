"""Markdown tables from the A/B JSON lines written by ``ab.py``.

    python3 plans/pr2/summarize.py plans/pr2/trickle.jsonl ...

Per metric: pairs, each side's median and nearest-rank quartiles, the
change/parent ratio of medians, in how many pairs the change read lower,
and the parent's quartile distance.
"""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))
from perfbench.stats import median, percentile  # noqa: E402

END_TO_END = ("setup_s", "latency_ms_p50", "cold_s")
SUMMARY = {
    "trickle": ("trigger_ms_p50", "freshness_ms_p90"),
    "drain": ("events_per_s", "trigger_ms_p50", "state_scan_s"),
    "roster": ("roster_s", "roster_cold_s"),
}
HEADER = (
    "| metric | pairs | parent median [q1, q3] | change median [q1, q3] "
    "| change/parent | change lower in | parent q3-q1 |\n"
    "|---|---|---|---|---|---|---|"
)


def table(path: str) -> str:
    recs = [json.loads(ln) for ln in open(path)]
    extra = next((v for k, v in SUMMARY.items() if k in os.path.basename(path)), ())
    rows = []
    for m in (*END_TO_END, *extra):
        side: dict[str, dict[int, float]] = {}
        for r in recs:
            if r["result"] is None:
                continue
            src = r["result"]["metrics"] if m in END_TO_END else r["summary"]
            if m in src:
                side.setdefault(r["side"], {})[r["seed"]] = src[m]["value"]
        p, c = side.get("parent", {}), side.get("change", {})
        seeds = sorted(set(p) & set(c))
        if not seeds:
            continue
        pv, cv = [p[s] for s in seeds], [c[s] for s in seeds]
        lower = sum(x < y for x, y in zip(cv, pv))
        q1, q3 = percentile(pv, 25), percentile(pv, 75)
        mp, mc = median(pv), median(cv)
        rows.append(
            f"| {m} | {len(seeds)} | {mp:.1f} [{q1:.1f}, {q3:.1f}] "
            f"| {mc:.1f} [{percentile(cv, 25):.1f}, {percentile(cv, 75):.1f}] "
            f"| {mc / mp:.3f} | {lower}/{len(seeds)} | {q3 - q1:.1f} |"
        )
    ok = sum(1 for r in recs if r["result"] and r["result"]["correct"])
    return f"{path}: {ok}/{len(recs)} runs correct\n\n{HEADER}\n" + "\n".join(rows)


if __name__ == "__main__":
    print("\n\n".join(table(p) for p in sys.argv[1:]))
