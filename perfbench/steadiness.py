"""Run the benchmark over several seeds and summarize each end-to-end
metric by median, quartiles and quartile spread (IQR / median).

    python3 perfbench/steadiness.py --workloads order_analytics corpus_dedup \
        --seeds 1 2 3 4 5 6 7 8 9 10 --label set-a --out perfbench/steadiness/set-a.json

Runs are sequential, one benchmark process at a time.  With two
``--out`` files of the same commit, ``--compare A B`` prints, per
workload and metric, both medians, the shift between them and the
metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values * 3)
    return {"n": len(values), "median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else 0.0,
            "values": values}


def run_set(workloads: list[str], seeds: list[int], seconds: int) -> dict:
    out: dict = {}
    for w in workloads:
        runs = []
        for s in seeds:
            t0 = time.time()
            cmd = [sys.executable, str(BENCH_DIR / "run.py"), "--workload", w, "--seed", str(s),
                   "--seconds", str(seconds), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=300)
            wall = time.time() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                runs.append({"seed": s, "wall_s": wall, "error": proc.returncode})
                continue
            res = json.loads(lines[-1])
            host = [ln for ln in proc.stderr.splitlines() if ln.startswith("[perfbench] {")]
            res.update(seed=s, wall_s=wall, host=json.loads(host[-1].split(" ", 1)[1]) if host else {})
            runs.append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            probes = " ".join(f"{k}={v:.4g}" for k, v in res["host"].items())
            print(f"{w} seed {s}: {wall:5.1f}s correct={res['correct']} "
                  f"{res['failed']}/{res['attempted']} {vals} | {probes}", flush=True)
        ok = [r for r in runs if "metrics" in r]
        names = ok[0]["metrics"] if ok else {}
        out[w] = {"runs": runs,
                  "metrics": {m: summarize([r["metrics"][m]["value"] for r in ok]) for m in names}}
    return out


def table(result: dict) -> str:
    lines = [f"{'workload':16s} {'metric':18s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}"]
    for w, r in result["workloads"].items():
        for m, s in r["metrics"].items():
            lines.append(f"{w:16s} {m:18s} {s['median']:12.4g} {s['q1']:12.4g} {s['q3']:12.4g}"
                         f" {s['spread']:7.3f}")
    return "\n".join(lines)


def compare(a: dict, b: dict) -> str:
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    better = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    lines = [f"{'workload':16s} {'metric':18s} {'median A':>12s} {'median B':>12s} {'worse by':>9s}"
             f" {'bound':>6s} {'spread A':>8s} {'spread B':>8s}"]
    for w in a["workloads"]:
        for m, sa in a["workloads"][w]["metrics"].items():
            sb = b["workloads"][w]["metrics"][m]
            direction, bound = better[m]
            worse = (sb["median"] - sa["median"]) / sa["median"]
            if direction == "higher":
                worse = -worse
            lines.append(f"{w:16s} {m:18s} {sa['median']:12.4g} {sb['median']:12.4g} {worse:9.3f}"
                         f" {bound:6.2f} {sa['spread']:8.3f} {sb['spread']:8.3f}")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description="Seed-to-seed steadiness of the end-to-end metrics.")
    ap.add_argument("--workloads", nargs="+", default=["order_analytics", "corpus_dedup", "order_stream"])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--label", default="set")
    ap.add_argument("--out", type=Path)
    ap.add_argument("--compare", nargs=2, type=Path)
    args = ap.parse_args()
    if args.compare:
        a, b = (json.loads(p.read_text()) for p in args.compare)
        print(compare(a, b))
        return 0
    seconds = json.loads((REPO / "BENCHMARK.json").read_text())["run_seconds"]
    result = {"label": args.label, "seconds": seconds, "seeds": args.seeds,
              "workloads": run_set(args.workloads, args.seeds, seconds)}
    print(table(result))
    if args.out:
        args.out.parent.mkdir(parents=True, exist_ok=True)
        args.out.write_text(json.dumps(result, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
