"""Re-pin BENCH_BASELINE.json (warm run) or BENCH_BASELINE_COLD.json (run
with ``"mode": "cold"``) from a single fresh bench run.

Usage::

    python bench.py > /tmp/bench_fresh.json          # idle machine, min-of-N
    python tools/pin_baseline.py /tmp/bench_fresh.json "round-8 idle min-of-5 run"
    SPARK_GRAFT_BENCH_COLD=1 python bench.py > /tmp/bench_cold.json
    python tools/pin_baseline.py /tmp/bench_cold.json "cold run, <host>"

The r7 verdict flagged that element-wise min-merging new runs into old pins
guarantees ratios >= 1 and turns the aggregate ratio into a noise floor
rather than a round-over-round measurement.  This tool therefore REPLACES
the per-query pins wholesale from one run (recording its provenance in
``pinned_from``) instead of merging, so the next round's ``vs_baseline``
ratios measure that round against this one.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit("usage: pin_baseline.py <bench-output.json> <provenance-note>")
    src, note = sys.argv[1], sys.argv[2]
    with open(src) as f:
        # bench.py prints one JSON line (possibly after Spark log noise):
        # take the last line that parses as a dict with "queries".
        run = None
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                try:
                    cand = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if isinstance(cand, dict) and "queries" in cand:
                    run = cand
        if run is None:
            sys.exit(f"no bench JSON line found in {src}")
    # bench.py gates a cold run ("mode": "cold") against the cold pin only.
    cold = run.get("mode") == "cold"
    base_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_BASELINE_COLD.json" if cold else "BENCH_BASELINE.json",
    )
    out = {
        "source": note,
        "pinned_from": f"single run: {note} (wholesale replace, no min-merge)",
        "sf": run.get("sf"),
        "queries": {k: round(v, 3) for k, v in run["queries"].items()},
    }
    # Host-mode canary pin (r11 verdict ask #2): the run's min-of-reps
    # canary time becomes the denominator for the next round's
    # canary-normalized ratios.  Guarded (r12 ADVICE): a run file whose
    # canary dict lacks start/end (hand-edited, older bench) skips the
    # canary pin instead of aborting the whole re-pin on a ValueError.
    canary = run.get("canary") or {}
    canary_vals = [v for k, v in canary.items() if k in ("start", "end")]
    if canary_vals:
        out["canary"] = min(canary_vals)
    with open(base_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(out['queries'])} queries to {base_path}")


if __name__ == "__main__":
    main()
