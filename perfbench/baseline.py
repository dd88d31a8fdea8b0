#!/usr/bin/env python3
"""Repeat benchmark runs and summarize their spread; optionally record them.

    python3 perfbench/baseline.py --workloads api_lookup --seeds 1-5
    python3 perfbench/baseline.py --seeds 1-10 --traced-seed 1 --record-digests \
        --record perfbench/baseline/record.json

For each workload, runs perfbench/run.py once per seed (tracing off) and
reports every end-to-end metric's median, quartiles and spread (the
distance between the quartiles as a share of the median, quartiles as
statistics.quantiles(values, n=4) gives them). With --traced-seed, it also
makes one traced run per workload and reports the per-layer breakdown and
the tracing overhead (the traced run's end-to-end figures minus the
untraced median, as a share of that median).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run(workload, seed, seconds, trace, record_digests=False):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                        "--record", "1" if record_digests else "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    detail = os.path.join(BENCH, ".out", f"{workload}-seed{seed}-trace{trace}.json")
    with open(detail) as f:
        return res, json.load(f)


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="api_lookup,batch_analytics,index_ingest")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--traced-seed", type=int)
    ap.add_argument("--record", help="write the summary as JSON to this path")
    ap.add_argument("--record-digests", action="store_true",
                    help="store each seed's output digests under perfbench/expected")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {"seconds": seconds, "workloads": {}}
    for w in args.workloads.split(","):
        runs = [run(w, s, seconds, 0, args.record_digests) for s in seeds(args.seeds)]
        bad = [(s, r["failed"]) for s, (r, _) in zip(seeds(args.seeds), runs) if not r["correct"]]
        host = {k: v.replace(ROOT + os.sep, "") if isinstance(v, str) else v
                for k, v in runs[0][1]["host"].items()}
        entry = {"seeds": seeds(args.seeds), "incorrect_runs": bad, "host": host,
                 "samples": [d["samples"] for _, d in runs], "end_to_end": {}}
        print(f"{w}: {len(runs)} runs, incorrect: {bad or 'none'}")
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r, _ in runs]
            s = summarize(vals)
            s["unit"] = runs[0][0]["metrics"][name]["unit"]
            entry["end_to_end"][name] = s
            flag = "" if s["spread"] is not None and s["spread"] < bounds[name] / 3 else "  <-- wide"
            print(f"  {name:<12} median {s['median']:.4f} {s['unit']:<4} spread {s['spread']:.4f}"
                  f" (bound {bounds[name]}){flag}")
        if args.traced_seed is not None:
            res, detail = run(w, args.traced_seed, seconds, 1)
            entry["traced_seed"] = args.traced_seed
            entry["per_layer"] = {k: v["value"] for k, v in res["metrics"].items()}
            entry["self_ms_by_span"] = detail.get("self_ms_by_span")
            # against the untraced run of the same seed when there is one
            same = dict(zip(seeds(args.seeds), runs)).get(args.traced_seed)
            base = ({k: v["value"] for k, v in same[0]["metrics"].items()} if same else
                    {k: v["median"] for k, v in entry["end_to_end"].items()})
            entry["tracing_overhead"] = {
                k: (v["value"] - base[k]) / base[k] for k, v in detail["end_to_end"].items()}
            print(f"  traced seed {args.traced_seed}: overhead " + ", ".join(
                f"{k} {v:+.3f}" for k, v in entry["tracing_overhead"].items()))
        record["workloads"][w] = entry
    if args.record:
        os.makedirs(os.path.dirname(os.path.abspath(args.record)), exist_ok=True)
        with open(args.record, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
