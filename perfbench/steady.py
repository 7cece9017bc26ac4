"""Steadiness record: run the benchmark on several seeds per workload and
report each end-to-end metric's median, quartiles and spread (the
distance between the quartiles as a share of the median).

    python3 perfbench/steady.py --runs 10 [--workload ann_serve ...] [--record]

Run from the repository root. Every sweep is labelled with the
benchmark's revision, a digest of ``BENCHMARK.json`` and the
benchmark's Python files. ``--record`` adds each workload's sweep to
``perfbench/STEADINESS.json``, drops the sweeps of other revisions, and
compares the medians of the revision's first and latest sweep on the
same seeds against each metric's bound.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RECORD = os.path.join(HERE, "STEADINESS.json")


def revision() -> str:
    h = hashlib.sha256()
    for path in [os.path.join(REPO, "BENCHMARK.json")] + sorted(glob.glob(os.path.join(HERE, "*.py"))):
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def sweep(bench: dict, wl: str, seeds: range) -> dict | None:
    started = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds:
        cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.monotonic()
        p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=300)
        walls.append(time.monotonic() - t0)
        res = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else {}
        if p.returncode != 0 or not res.get("correct") or res.get("failed"):
            print(f"{wl} seed {seed}: FAILED (exit {p.returncode})\n{p.stderr[-2000:]}", file=sys.stderr)
            return None
        for m, v in res["metrics"].items():
            values.setdefault(m, []).append(v["value"])
        print(f"{wl} seed {seed}: {walls[-1]:.1f}s " +
              " ".join(f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()), flush=True)
    summary = {}
    for m, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        summary[m] = {"median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / med if med else 0.0, "values": vs}
        print(f"  {m}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {summary[m]['spread']:.3f}")
    return {"revision": revision(), "started": started, "seeds": [seeds[0], seeds[-1]],
            "wall_s_median": statistics.median(walls), "metrics": summary}


def compare(bench: dict, first: dict, last: dict) -> dict:
    """Each metric's change from the first sweep's median to the last's,
    signed so that positive is worse, against the metric's bound."""
    out = {}
    for m in bench["end_to_end"]:
        a, b = first["metrics"][m["name"]]["median"], last["metrics"][m["name"]]["median"]
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        out[m["name"]] = {"first_median": a, "last_median": b, "worse_by": worse,
                          "bound": m["bound"], "within_bound": worse <= m["bound"]}
    return out


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    rec = {}
    if args.record and os.path.exists(RECORD):
        with open(RECORD) as f:
            rec = json.load(f)
    rev, failed = revision(), False
    for wl in args.workload or names:
        s = sweep(bench, wl, range(args.first_seed, args.first_seed + args.runs))
        if s is None:
            failed = True
            continue
        if not args.record:
            continue
        entry = rec.get(wl, {})
        sweeps = [x for x in entry.get("sweeps", []) if x.get("revision") == rev] + [s]
        entry = {"why": next(w["why"] for w in bench["workloads"] if w["name"] == wl), "sweeps": sweeps}
        same_seeds = [x for x in sweeps if x["seeds"] == s["seeds"]]
        if len(same_seeds) >= 2:
            entry["comparison"] = compare(bench, same_seeds[0], same_seeds[-1])
        rec[wl] = entry
        with open(RECORD, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
