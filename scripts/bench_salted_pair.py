"""Dedicated SALTED extraction scaling pair (VERDICT r4 item 2).

In the full bench the salted hi-core leg always runs LAST of four
extraction subprocesses — deepest into this host's throttle drain —
which systematically deflates the salted pair (measured in isolation,
salted == unsalted at 16 cores: 6.29 s each, by the since-deleted
scripts/profile_salted.py, whose split ``perfbench --trace 1`` reports).
This runs ONLY the salted pair, ABBA order (lo, hi, hi, lo), best per
level, each leg a fresh subprocess with its own hw bracket, and writes
BENCH/run_r5_salted.json.

Usage: python scripts/bench_salted_pair.py
"""

from __future__ import annotations

import json
import os
import sys

# the checkout this script lives in, for this process and for the
# Spark Python workers it starts (they inherit PYTHONPATH, not sys.path)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))

import bench  # noqa: E402


def main() -> None:
    pages_path = bench.ensure_pages_corpus(bench.N_PAGES)
    lo_runs, hi_runs = [], []
    for level in (bench.LO_LEVEL, bench.HI_LEVEL, bench.HI_LEVEL, bench.LO_LEVEL):
        r = bench.extraction_run(level, pages_path, salted=True)
        (lo_runs if level == bench.LO_LEVEL else hi_runs).append(r)
    lo = min(lo_runs, key=lambda r: r["sec"])
    hi = min(hi_runs, key=lambda r: r["sec"])
    factor = bench.HI_LEVEL / bench.LO_LEVEL
    hw_ratio = hi["hw_docs_per_sec"] / lo["hw_docs_per_sec"]
    spark_ratio = hi["docs_per_sec"] / lo["docs_per_sec"]

    def _unstable(r):
        a, b = r["hw_bracket"]
        return max(a, b) > 1.5 * min(a, b)

    def _disagree(rs):
        ss = [r["sec"] for r in rs]
        return max(ss) > 1.5 * min(ss)

    out = {
        "pair": "salted-abba",
        "lo": lo,
        "hi": hi,
        "lo_runs": [r["sec"] for r in lo_runs],
        "hi_runs": [r["sec"] for r in hi_runs],
        "scaling_efficiency": round(spark_ratio / factor, 3),
        "hw_ceiling_efficiency": round(hw_ratio / factor, 3),
        "relative_efficiency": round(spark_ratio / hw_ratio, 3),
        "window_suspect": hw_ratio < 1.0
        or _unstable(lo)
        or _unstable(hi)
        or _disagree(lo_runs)
        or _disagree(hi_runs),
    }
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "run_r5_salted.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in ("scaling_efficiency", "relative_efficiency", "window_suspect", "lo_runs", "hi_runs")}))


if __name__ == "__main__":
    main()
