"""Steadiness check and baseline record.

Runs every workload of BENCHMARK.json once per seed, in one or more sets,
and reports per metric the median, the quartiles and the spread
(q3 - q1) / median over all runs of a set, next to the metric's bound,
plus the drift of each set's median from the first set's. Every run is
reported; nothing is picked as a best window.

    python3 perfbench/steadiness.py --sets 2 --runs 10 \
        --out perfbench/results/steadiness.json

A traced run per workload (--traced) adds the per-layer tables.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
            "run_wall_s": round(wall, 3), "result": result,
            "report": lines[:-1], "stderr_tail": p.stderr.strip().splitlines()[-5:]}


def summarize(runs: list, bounds: dict) -> dict:
    out = {}
    for name in sorted({m for r in runs if r["result"] for m in r["result"]["metrics"]}):
        vals = [r["result"]["metrics"][name]["value"] for r in runs
                if r["result"] and name in r["result"]["metrics"]]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else None,
                     "bound": bounds.get(name), "min": min(vals), "max": max(vals)}
    return out


def save(record: dict, out: str) -> None:
    pathlib.Path(out).write_text(json.dumps(record, indent=1) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--traced", action="store_true", help="also one traced run per workload")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "sets": [], "traced": []}
    seed = a.first_seed
    for s in range(a.sets):
        runs = []
        record["partial"] = runs
        for w in workloads:
            for _ in range(a.runs):
                r = run_once(w, seed, bench["run_seconds"], 0)
                seed += 1
                runs.append(r)
                ok = r["result"] and r["result"]["correct"] and r["exit"] == 0
                print(f"set {s + 1} {w} seed {r['seed']}: {'ok' if ok else 'FAILED'} "
                      f"{r['run_wall_s']} s", file=sys.stderr, flush=True)
                save(record, a.out)
        record["sets"].append({
            "runs": runs,
            "summary": {w: summarize([r for r in runs if r["workload"] == w], bounds)
                        for w in workloads}})
    if a.traced:
        for w in workloads:
            record["traced"].append(run_once(w, seed, bench["run_seconds"], 1))
            seed += 1
    first = record["sets"][0]["summary"] if record["sets"] else {}
    for st in record["sets"][1:]:
        for w, ms in st["summary"].items():
            for name, m in ms.items():
                m["median_drift"] = m["median"] / first[w][name]["median"] - 1
    record.pop("partial", None)
    save(record, a.out)
    for i, st in enumerate(record["sets"]):
        for w, ms in st["summary"].items():
            for name, m in ms.items():
                drift = f" drift {m['median_drift']:+.3f}" if "median_drift" in m else ""
                print(f"set {i + 1} {w:12s} {name:12s} median {m['median']:.4f} "
                      f"q1 {m['q1']:.4f} q3 {m['q3']:.4f} spread {m['spread']:.3f} "
                      f"bound {m['bound']}{drift}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
