#!/usr/bin/env python3
"""Fold N same-commit Bench local records (SPARK_GRAFT_BENCH_LOCAL_OUT
files) into one committed artifact — the single-HEAD element-wise-min
protocol the round-11 verdict demanded, fully machine-generated.

Inputs are FULL runs (catalog == the first run's) plus optional TARGETED
PATCH runs (a Bench invocation with query-name args, covering a subset):
the r13 verdict's #2 — any fold entry whose cross-run ratio exceeds 2x
gets a third targeted measurement, the between-runs analog of the
in-run force-isolation.

Per query the fold keeps:
  - min  : element-wise min across every run covering the query (each
           run's value is already min(sweep_min, fresh-JVM isolated_min))
  - sweep dispersion : max over FULL runs of the in-run max/min across
           the run's sweep executions (patch runs are excluded: their
           first sweep execution deliberately absorbs store builds, so
           their dispersion is inflated by design while their MIN is a
           clean steady-state probe)
  - cross_run_ratio  : ratio of the TWO SMALLEST measurements — the
           min-reproducibility statistic. With exactly 2 runs this is
           max/min (the r13 semantics); a targeted third pass supplies a
           second quiet measurement when one full run was contended, and
           only then can a flagged entry clear. At most n-2 measurements
           are ever discounted and only ever the LARGEST ones — the
           protocol can confirm a min, never manufacture one.

Stores fold element-wise-min too, FILTERING failed (-1) probes (ADVICE
r13: a -1 from one run must not win min() over the other run's success);
a store that failed in every run stays -1 and is excluded from
store_build_sec. n_failed is derived from the folded queries map itself
(ADVICE r13: the max-over-runs form could report failures the fold had
already healed).

Inputs are rejected (exit 2, no OUT written) when any carries
`deadline_truncated`, when a record's `n_queries` disagrees with its own
queries map, or when RUN1 and RUN2 differ in `n_queries`.

Usage: fold_bench.py OUT.json RUN1.json RUN2.json [RUN_OR_PATCH.json ...]
"""
import json
import sys


def reject(msg: str) -> None:
    print(f"fold_bench: {msg}", file=sys.stderr)
    sys.exit(2)


def main() -> None:
    out_path, run_paths = sys.argv[1], sys.argv[2:]
    runs = [json.load(open(p)) for p in run_paths]
    # A deadline-truncated run measured a smaller catalog than it was
    # asked to; two of them truncated at the same point would fold into
    # an unmarked artifact with silently fewer queries (ADVICE r16).
    for p, r in zip(run_paths, runs):
        if r.get("deadline_truncated"):
            reject(f"{p}: deadline-truncated run "
                   f"(n_skipped={r.get('n_skipped')})")
        if r["n_queries"] != len(r["queries"]):
            reject(f"{p}: n_queries={r['n_queries']} but "
                   f"{len(r['queries'])} queries recorded")
    # RUN1 and RUN2 are the full runs by contract; only the optional
    # later inputs may be targeted patch runs over a subset.
    if len(runs) < 2 or runs[0]["n_queries"] != runs[1]["n_queries"]:
        reject("RUN1 and RUN2 must be full runs with equal n_queries: "
               + ", ".join(f"{p}={r['n_queries']}"
                           for p, r in zip(run_paths, runs)))
    names = set(runs[0]["queries"])
    full, patches = [], []
    for p, r in zip(run_paths, runs):
        assert r["sf"] == runs[0]["sf"], f"{p}: different sf"
        assert set(r["queries"]) <= names, f"{p}: unknown queries"
        (full if set(r["queries"]) == names else patches).append(r)
    assert len(full) >= 2, "need at least two FULL same-catalog runs"
    folded = {}
    disp = {}
    xrun = {}
    for n in sorted(names):
        vals = sorted(v for r in runs
                      for v in [r["queries"].get(n)]
                      if v is not None and v >= 0)
        folded[n] = round(vals[0], 3) if vals else -1.0
        disp[n] = round(max(r["queries_dispersion"].get(n, 1.0)
                            for r in full), 3)
        if len(vals) >= 2 and vals[0] > 0:
            xrun[n] = round(vals[1] / vals[0], 3)
        elif vals:
            # single valid measurement (failed in every other run): no
            # ratio can confirm the min, so flag it for the >2x
            # re-measure prompt instead of letting it escape the gate
            # silently (ADVICE r14)
            xrun[n] = None
    stores = {}
    for k in full[0].get("stores", {}):
        vals = [r["stores"][k] for r in full
                if k in r.get("stores", {}) and r["stores"][k] >= 0]
        stores[k] = round(min(vals), 3) if vals else -1.0
    total = round(sum(v for v in folded.values() if v >= 0), 3)
    rec = {
        "metric": "total",
        "value": total,
        "unit": "sec",
        "sf": runs[0]["sf"],
        "runs": runs[0]["runs"],
        "n_queries": len(names),
        "n_failed": sum(1 for v in folded.values() if v < 0),
        "protocol": (
            f"element-wise min over {len(full)} full same-commit runs "
            f"+ {len(patches)} targeted patch runs (cross_run_ratio>2 "
            "re-measured), each = min-of-sweep + fresh-JVM isolation "
            "(dispersion>2x force-isolated) + store prebuild on its own "
            "line; cross_run_ratio = two smallest measurements' ratio; "
            "folded by scripts/fold_bench.py, no hand-edited fields"),
        "run_totals": [r["total"] for r in full],
        "n_patch_runs": len(patches),
        "store_build_sec": round(
            sum(v for v in stores.values() if v >= 0), 3),
        "stores": stores,
        "queries": folded,
        "queries_dispersion": disp,
        "cross_run_ratio": xrun,
        "total": total,
    }
    with open(out_path, "w") as f:
        f.write(json.dumps(rec, separators=(",", ":")) + "\n")
    worst = sorted(((k, v) for k, v in xrun.items() if v is not None),
                   key=lambda kv: -kv[1])[:10]
    over = [k for k, v in xrun.items() if v is None or v > 2.0]
    print(f"folded {len(full)} full + {len(patches)} patch runs -> "
          f"{out_path}: total={total} n={len(names)} worst cross-run: "
          + ", ".join(f"{k}={v}" for k, v in worst))
    if over:
        print(f"STILL >2x ({len(over)}): re-measure with e.g.\n  "
              "SPARK_GRAFT_BENCH_LOCAL_OUT=/tmp/patch.json sbt -batch "
              f"'runMain graft.Bench {' '.join(sorted(over))}'")
        # exit non-zero so an unconfirmed-min artifact cannot be
        # committed by accident (ADVICE r15): the OUT file is still
        # written (the patch-run loop appends to the same fold args),
        # but a gate scripting `fold_bench.py && git add` stops here
        sys.exit(1)


if __name__ == "__main__":
    main()
