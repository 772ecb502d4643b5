#!/usr/bin/env python3
"""Run the benchmark over several seeds and record every result.

    python3 perfbench/sweep.py --out runs-a.jsonl --seeds 1-10 [--trace 0|1|0,1]

Each line of the output file is {"workload", "seed", "trace", "result"},
where "result" is the last line run.py printed (null when the run
failed); every workload in BENCHMARK.json runs for each seed. With
`--trace 0,1` the untraced and the traced run of a seed run back to
back, so the tracing overhead compare.py reports does not include drift
in machine speed over the sweep. Output is appended. Feed two such files
to compare.py. Run from the root of a checkout.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", help="0, 1, or 0,1 for both")
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    traces = [int(t) for t in a.trace.split(",")]
    with open(a.out, "a") as out:
        for seed in seeds(a.seeds):
            for w in workloads:
                for trace in traces:
                    t0 = time.monotonic()
                    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                        "--seed", str(seed), "--seconds", str(seconds),
                                        "--trace", str(trace)],
                                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
                    lines = p.stdout.strip().splitlines()
                    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                    rec = {"workload": w, "seed": seed, "trace": trace,
                           "wall_s": time.monotonic() - t0, "result": result}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    if result is None:
                        print(f"{w} seed {seed}: failed\n{p.stderr[-2000:]}", file=sys.stderr)
                    else:
                        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
                        print(f"{w} seed {seed} trace {trace} ({rec['wall_s']:.0f}s) "
                              f"correct={result['correct']} {vals if trace == 0 else ''}",
                              file=sys.stderr)

if __name__ == "__main__":
    main()
