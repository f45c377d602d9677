"""Dedicated SHUFFLE scaling pair (bands job), ABBA, quiet-window probe.

Same rationale as bench_salted_pair.py: inside the full bench the
shuffle pair runs after four extraction subprocesses and the host's
quota is part-drained; this runs ONLY the bands pair (lo, hi, hi, lo,
best per level, fresh subprocess + raw-mp shuffle bracket per leg) and
writes BENCH/run_r5_shuffle.json.

Usage: python scripts/bench_shuffle_pair.py
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
    lo_runs, hi_runs = [], []
    for level in (bench.LO_LEVEL, bench.HI_LEVEL, bench.HI_LEVEL, bench.LO_LEVEL):
        r = bench.query_run(level, "minhash_bands_scaled")
        (lo_runs if level == bench.LO_LEVEL else hi_runs).append(r)
    lo = min(lo_runs, key=lambda r: r["sec"])
    hi = min(hi_runs, key=lambda r: r["sec"])
    factor = bench.HI_LEVEL / bench.LO_LEVEL
    hw_ratio = hi["hw_tokens_per_sec"] / lo["hw_tokens_per_sec"]
    spark_ratio = lo["sec"] / hi["sec"]

    def _unstable(r):
        a, b = r["hw_bracket"]
        return max(a, b) > 1.5 * min(a, b)

    def _spread(rs):
        ss = [s for r in rs for s in r["trials"]]
        return max(ss) > 1.5 * min(ss)

    out = {
        "pair": "shuffle-abba-dedicated",
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
        or _spread(lo_runs)
        or _spread(hi_runs),
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "run_r5_shuffle.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(
        json.dumps(
            {
                k: out[k]
                for k in (
                    "scaling_efficiency",
                    "relative_efficiency",
                    "hw_ceiling_efficiency",
                    "window_suspect",
                    "lo_runs",
                    "hi_runs",
                )
            }
        )
    )


if __name__ == "__main__":
    main()
