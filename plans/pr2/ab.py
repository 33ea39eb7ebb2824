"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 plans/pr2/ab.py PARENT_DIR CHANGE_DIR WORKLOAD OUT.jsonl SEED... [--trace]

Runs ``perfbench/run.py --seconds 15`` in each checkout for every seed,
alternating which side runs first, and appends one JSON line per run to
OUT.jsonl: seed, side, which side ran first, exit code, wall time, the
summary line and the result line.
"""

import json
import subprocess
import sys
import time


def main(argv: list[str]) -> None:
    parent, change, workload, out, *rest = argv
    trace = "1" if "--trace" in rest else "0"
    seeds = [int(s) for s in rest if s != "--trace"]
    sides = {"parent": parent, "change": change}
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload,
                 "--seed", str(seed), "--seconds", "15", "--trace", trace],
                cwd=sides[side], capture_output=True, text=True,
            )
            lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
            rec = {
                "workload": workload, "seed": seed, "side": side, "pair": i,
                "first": order[0], "rc": p.returncode,
                "wall_s": round(time.time() - t0, 1),
                "summary": json.loads(lines[-2])["summary"] if len(lines) >= 2 else None,
                "result": json.loads(lines[-1]) if lines else None,
            }
            if p.returncode != 0:
                rec["stderr_tail"] = p.stderr[-2000:]
            with open(out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(seed, side, (rec["result"] or {}).get("correct"), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
