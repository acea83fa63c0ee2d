#!/usr/bin/env python3
"""The viaspark benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. The first run builds the engine and the harness
from source with sbt (offline) and caches the launch classpath under
`.bench_build/` (or `$CARGO_TARGET_DIR`), keyed by a hash of the sources.

Workloads (see perfbench/README.md):
  gate_sf0.01  the gate query slice over the committed sf0.01 tables
  serve_mixed  serving callers beside the live analysis loop

The last stdout line is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1. A traced run also writes a span report
(per-span self time, layer-sum check) under the build directory.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import digest  # noqa: E402
import seeded  # noqa: E402

WORKLOADS = ("gate_sf0.01", "serve_mixed")
RUN_LIMIT_S = 170
# serve_mixed sizes: Tier-2 clusters, backfill batches x seconds, and one
# writer window per this many seconds of --seconds (a window takes 4-6 s
# beside the serving caller on 4 cores; a third window a run added 6 s to
# the run and did not narrow the spread)
SERVE_CLUSTERS = 10000
BACKFILL_BATCHES = 1
BACKFILL_SPAN = 60
SECONDS_PER_WINDOW = 5
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            f"{os.path.expanduser('~')}/.sbt/repositories -Dsbt.offline=true -Xmx2g")
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", "perfbench/harness"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            files = [p]
        else:
            files = []
            for d, dirs, names in os.walk(p):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project")
                                 or (x == "project" and d.endswith("harness")))
                files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness (sbt, offline) unless the cached launch
    file matches the current sources; returns (java options, classpath)."""
    for need in ("build.sbt", "src/main/scala", "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: nothing to build")
            sys.exit(2)
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    launch = os.path.join(out, "launch.json")
    stamp = source_stamp()
    if os.path.exists(launch):
        with open(launch) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp and all(
                os.path.exists(p) for p in cached["classpath"].split(":")[:2]):
            return cached["java_options"], cached["classpath"]
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS,
               SPARK_DRIVER_MEM=HEAP)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "show harness/javaOptions", "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(ROOT, "perfbench", "harness"), env=env,
        stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    with open(os.path.join(out, "build.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    if p.returncode != 0:
        log(f"sbt build failed (see {out}/build.log):\n" + p.stdout[-3000:])
        sys.exit(3)
    lines = p.stdout.splitlines()
    opts = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l][-1].strip()
    with open(launch, "w") as f:
        json.dump({"stamp": stamp, "java_options": opts, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return opts, cp


def make_inputs(workload, seed, seconds, inputs):
    os.makedirs(inputs)
    if workload == "gate_sf0.01":
        with open(os.path.join(inputs, "gate_order.txt"), "w") as f:
            f.write("\n".join(seeded.gate_order(seed)) + "\n")
    else:
        m = seeded.otel_stream(inputs, seed, BACKFILL_BATCHES, BACKFILL_SPAN,
                               max(1, seconds // SECONDS_PER_WINDOW))
        seeded.serve_inputs(inputs, seed, SERVE_CLUSTERS, m["selective_word"])


def check_gate_outputs(outputs, failures):
    """Digest each query's check-pass output against the committed oracle
    answer; a disagreement is a failure, never re-baselined."""
    with open(os.path.join(HERE, "expected", "gate_sf0.01.json")) as f:
        expected = json.load(f)
    for name, path in outputs.items():
        want = expected.get(name)
        if want is None:
            failures.append({"op": name, "reason": "no expected output committed"})
            continue
        try:
            rows, cols, dig = digest.of_parquet_dir(path)
        except (OSError, ValueError) as e:
            failures.append({"op": name, "reason": f"unreadable output: {e}"})
            continue
        if cols != want["columns"]:
            failures.append({"op": name, "reason": f"columns {cols} != {want['columns']}"})
        elif rows != want["rows"]:
            failures.append({"op": name, "reason": f"rows {rows} != {want['rows']}"})
        elif dig != want["digest"]:
            failures.append({"op": name, "reason": "values differ from the oracle"})


def span_report(spans_path, report_path):
    """Per-span self time (wall minus child spans, Spark jobs included),
    summed by span name."""
    spans = [json.loads(l) for l in open(spans_path) if l.strip()]
    child_ms = {}
    for s in spans:
        child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + s["end_ms"] - s["start_ms"]
    by_name = {}
    for s in spans:
        name = s["name"]
        wall = s["end_ms"] - s["start_ms"]
        agg = by_name.setdefault(name, {"count": 0, "wall_ms": 0.0, "self_ms": 0.0,
                                        "tasks": 0, "run_ms": 0, "shuffle_bytes": 0})
        agg["count"] += 1
        agg["wall_ms"] += wall
        # jobs of concurrent callers overlap their span, so self time
        # floors at zero instead of going negative
        agg["self_ms"] += max(0.0, wall - child_ms.get(s["id"], 0.0))
        for k in ("tasks", "run_ms", "shuffle_bytes"):
            agg[k] += s[k]
    with open(report_path, "w") as f:
        json.dump({"spans": len(spans), "by_name": by_name}, f, indent=1, sort_keys=True)
    top = sorted(by_name.items(), key=lambda kv: -kv[1]["self_ms"])[:12]
    for name, a in top:
        log(f"  self {a['self_ms']:10.1f} ms  wall {a['wall_ms']:10.1f} ms  "
            f"x{a['count']:<5d} {name}")


def main():
    # a TERM becomes an exception, so subprocess.run kills and waits for the
    # harness JVM and the run directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        log("BENCHMARK.json not found at the repo root")
        sys.exit(2)
    with open(bench_json) as f:
        spec = json.load(f)
    opts, cp = build()
    started = time.time()  # a run's time limit starts after the build

    out = build_dir()
    run_dir = os.path.join(out, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    make_inputs(a.workload, a.seed, a.seconds, inputs)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(out, f"{a.workload}-s{a.seed}-t{a.trace}.log")
    cmd = (["java"] + opts + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--inputs", inputs,
            "--data", os.path.join(HERE, "data", "sf0.01")])
    budget = RUN_LIMIT_S - (time.time() - started)
    try:
        with open(log_path, "w") as lf:
            p = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=lf,
                               stderr=subprocess.STDOUT, timeout=max(budget, 30))
        if p.returncode != 0:
            log(f"harness exited {p.returncode}; see {log_path}")
            sys.exit(4)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        failures = list(res["failures"])
        attempted = res["attempted"]
        if a.workload == "gate_sf0.01":
            check_gate_outputs(res["outputs"], failures)
        if a.trace:
            report = os.path.join(out, f"{a.workload}-s{a.seed}-trace.json")
            span_report(os.path.join(work, "spans.jsonl"), report)
            log("end-to-end values with tracing on (the tracing overhead is their "
                "difference from a --trace 0 run): " + json.dumps(res["e2e"]))
            log("layer times sum to {:.3f} of their wall time, {:.3f} of the executor "
                "time ran for timed layer calls (the harness fails the run outside "
                "the 10% rule); report: {}".format(
                    res["layers"].get("trace.layer_sum_ratio", 0.0),
                    res["layers"].get("trace.work_attributed_frac", 0.0), report))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for f_ in failures:
        log(f"FAIL {f_['op']}: {f_['reason']}")
    log(f"fail_frac {len(failures) / max(attempted, 1):.4f} "
        f"({len(failures)} of {attempted} operations)")
    section, source = ("per_layer", res["layers"]) if a.trace else ("end_to_end", res["e2e"])
    metrics = {}
    for m in spec[section]:
        if m["name"] in source:
            value = source[m["name"]]
        elif a.trace:
            value = 0.0  # a layer this workload does not exercise
        else:
            log(f"end-to-end metric {m['name']} missing")
            sys.exit(5)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": not failures, "attempted": max(attempted, 1),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
