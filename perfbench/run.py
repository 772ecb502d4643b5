#!/usr/bin/env python3
"""graft's benchmark: run one workload from a seed, check its outputs, and
print every metric by name with its unit.

    python3 perfbench/run.py --workload index_serve --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness from source (sbt, offline) into .bench_build/; inputs and scratch
state go to .bench_work/<workload>/. `--trace 0` prints the end-to-end
metrics of BENCHMARK.json, `--trace 1` the per-layer ones. The last line
of standard output is the result object; a human-readable summary goes to
standard error. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from lib import gen, stats  # noqa: E402

ROOT = Path.cwd()
BUILD_DIR = ROOT / ".bench_build"
WORK_ROOT = ROOT / ".bench_work"
DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 840.0
SETUP_REPS = 3
PRIMARY_KIND = {"embed_bulk": "embed", "index_serve": "search"}
KINDS = ("embed", "search", "ingest", "delete", "curate")

# Spark on JDK 17 outside spark-submit needs the module openings the
# root build passes to its forked runs.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of everything the build reads from the checkout."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "harness" / "build.sbt", HERE / "harness" / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "harness" / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def ensure_built():
    """Compile the library and the harness unless the last build used
    the same sources; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("run from the root of a graft checkout: build.sbt and src/main/scala are missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    digest = source_digest()
    stamp, cp_file = BUILD_DIR / "stamp", BUILD_DIR / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD_DIR.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # resolve from the same repositories the local dependency cache was
    # filled from, as the repo's own test command does
    repos = Path.home() / ".sbt" / "repositories"
    if "-Dsbt.repository.config" not in opts and repos.is_file():
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log = BUILD_DIR / "build.log"
    with open(log, "w") as out:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                            "compile", "export harness/Runtime/fullClasspath"],
                           cwd=HERE / "harness", env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    cp = [ln.strip() for ln in lines if ".jar" in ln and os.pathsep in ln and " " not in ln.strip()]
    if code != 0 or not cp:
        fail(f"build failed (exit {code}); see {log}")
    cp_file.write_text(cp[-1])
    stamp.write_text(digest)
    return cp[-1]


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it to end. Returns the exit code (None on timeout)."""
    proc = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT, **kw)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def generate(workload, seed, input_dir, trace):
    """Generate the inputs SETUP_REPS times (set-up is repeated and its
    median reported, as the harness does with its own set-up); every
    repetition writes identical files."""
    times = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        gen.generate(workload, str(input_dir), seed, trace=bool(trace))
        times.append(time.perf_counter() - t0)
    return stats.median(times)


def run_harness(cp, workload, input_dir, work_dir, seconds, trace, deadline):
    tmp = work_dir / "tmp"
    tmp.mkdir(parents=True)
    result = work_dir / "result.json"
    # a fixed heap and young generation keep the resident set from
    # following the collector's sizing decisions
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *ADD_OPENS,
           "-cp", cp, "graftbench.Main", "--workload", workload, "--input", str(input_dir),
           "--work", str(work_dir), "--seconds", str(seconds), "--trace", str(trace),
           "--out", str(result)]
    with open(work_dir / "harness.log", "w") as out:
        code = run_bounded(cmd, timeout=deadline - time.monotonic(), cwd=ROOT, stdout=out)
    if code != 0 or not result.is_file():
        fail(f"harness {'timed out' if code is None else f'exited {code}'}; "
             f"see {work_dir / 'harness.log'}")
    return json.loads(result.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        fail("BENCHMARK.json not found; run from the root of a checkout")
    bench = json.loads(bench_file.read_text())
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")

    cp = ensure_built()
    deadline = time.monotonic() + DEADLINE_S
    base = WORK_ROOT / a.workload
    shutil.rmtree(base, ignore_errors=True)
    input_dir, work_dir = base / "input", base / "work"
    gen_s = generate(a.workload, a.seed, input_dir, a.trace)
    res = run_harness(cp, a.workload, input_dir, work_dir, a.seconds, a.trace, deadline)

    ops = res["ops"]
    checks = list(res["checks"])
    quality = res["quality"]
    if a.workload == "embed_bulk":
        from lib import oracle
        good, docs, notes = oracle.compare(str(input_dir / "sample"), str(work_dir / "check"))
        quality = len(good) / len(docs)
        every = [o["id"] for o in ops if not o["probe"]]
        checks.append({"name": "sample matches the DuckDB oracle", "ok": good == docs,
                       "detail": "; ".join(notes) or f"{len(docs)} docs", "fails_ops": every})
        got, want = oracle.sparse_rows(str(input_dir / "corpus"), str(work_dir / "check"))
        checks.append({"name": "sparse rows match the oracle's count", "ok": got == want,
                       "detail": f"rows={got} oracle={want}", "fails_ops": every})
    failed_ops = {o["id"] for o in ops if not o["ok"]}
    for c in checks:
        if not c["ok"]:
            failed_ops |= set(c["fails_ops"])
    primary = PRIMARY_KIND[a.workload]

    # throughput: the median over whole cycles of the op mix
    loop = [o for o in ops if not o["probe"]]
    cycle = res["cycle"]
    cycles = [loop[k:k + cycle] for k in range(0, len(loop) - cycle + 1, cycle)]
    docs_per_s = stats.median([sum(o["docs"] for o in c) / sum(o["ms"] for o in c) * 1000.0
                               for c in cycles])
    op_p50_ms = stats.median([o["ms"] for o in loop if o["kind"] == primary])
    if a.trace == 0:
        values = {
            "setup_s": gen_s + res["session_s"] + stats.median(res["setup_pass_s"])
            + res["warmup_s"],
            "docs_per_s": docs_per_s,
            "op_p50_ms": op_p50_ms,
            "quality": quality,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        wanted = bench["end_to_end"]
    else:
        values = dict(res["layers"])
        for kind in KINDS:
            ms = [o["ms"] for o in ops if o["kind"] == kind]
            values[f"op.{kind}.p50_ms"] = stats.median(ms) if ms else 0.0
            values[f"op.{kind}.n"] = len(ms)
        values["jvm.heap_peak_mb"] = res["heap_peak_mb"]
        # the traced loop's end-to-end figures; compare.py sets them
        # against the untraced run of the same seed (tracing overhead)
        values["trace.docs_per_s"] = docs_per_s
        values["trace.op_p50_ms"] = op_p50_ms
        wanted = bench["per_layer"]

    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or v != v:
            # a layer the workload does not exercise reads 0
            if a.trace == 0:
                print(f"perfbench: {m['name']} was not measured", file=sys.stderr)
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "setup_pass_s": res["setup_pass_s"], "session_s": res["session_s"],
               "warmup_s": res["warmup_s"],
               "generate_s": gen_s, "ops": len(ops), "checks": checks,
               # (value, percentile, n), or null with fewer than 20 samples
               "tails": {k: stats.tail([o["ms"] for o in ops if o["kind"] == k])
                         for k in sorted({o["kind"] for o in ops})},
               "spans": res.get("spans", {})}
    (base / "summary.json").write_text(json.dumps(summary, indent=1))
    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}", file=sys.stderr)
    for k, t in summary["tails"].items():
        n = sum(1 for o in ops if o["kind"] == k)
        print(f"tail {k}: " + (f"p{t[1]:g} = {t[0]:.1f} ms over n={n}" if t else
                               f"none, n={n} is below the 20 samples the rule needs"), file=sys.stderr)
    print(json.dumps({"correct": not failed_ops and all(c["ok"] for c in checks),
                      "attempted": len(ops), "failed": len(failed_ops), "metrics": metrics}))


if __name__ == "__main__":
    main()
