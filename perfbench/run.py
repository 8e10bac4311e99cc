#!/usr/bin/env python3
"""Layer benchmark of the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (`perfbench/build.py`), runs one JVM at
local[nproc] that generates the seed's inputs and times every layer call
of the workload (`perfbench/src`), checks every output, and prints each
metric with its unit and the check verdicts. The last line of standard
output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json; `--trace 1`
reports its per-layer metrics from a traced run and writes the spans and
the traced-run report under `.bench_build/traces/`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402

WORK = ROOT / ".bench_build"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
MEASURES = ["wall_s", "task_s", "tasks", "idle_s", "shuffle_bytes"]
FETCH = "io.Bam.fetchSharded"


def log(msg):
    print(msg, flush=True)


def percentile(values, q):
    """Linear-interpolation percentile, q in [0, 1]."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def java_cmd(classpath, work, main, *args):
    """The benchmark JVM's command line; scratch files stay under `work`.

    C2 inlines `scala.Array.fill` into the realignment kernel
    (`AlignRead.align`) only if fill's own compiled code is still small
    when the kernel is compiled, and that depends on which other callers
    of fill the executor threads happened to run first. Under default
    flags 6 of 15 JVMs on a 4-core VM lost that race and realigned 2-4x
    slower for their whole life. Out of line, fill's speed still depends
    on what its own profile saw, so the JVM is told to inline it: every
    JVM then compiles the same kernel (see README, "JIT race").
    """
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           "-XX:CompileCommand=quiet", "-XX:CompileCommand=inline,scala.Array$::fill"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", ":".join(classpath), main, *args]


def run_jvm(classpath, args, work, out):
    cmd = java_cmd(classpath, work, "perfbench.Main",
                   "--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                   "--work", str(work), "--out", str(out))
    jvm_log = work / "jvm.log"
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0 or not out.exists():
        tail = jvm_log.read_text()[-3000:]
        raise RuntimeError(f"benchmark JVM failed (exit {rc}):\n{tail}")
    return json.loads(out.read_text())


# ---- output checks -------------------------------------------------------

def same_checksum(got, want):
    if got.get("n") != want["n"] or got.get("crc") != want["crc"]:
        return f"n/crc {got.get('n')}/{got.get('crc')} != {want['n']}/{want['crc']}"
    for c, v in want["d"].items():
        g = float(got.get(f"d:{c}", 0.0))
        if abs(g - v) > 1e-9 * max(1.0, abs(v)):
            return f"sum({c}) {g!r} != {v!r}"
    return None


def op_keys(ops):
    """Key of each op within its pass: fetches are numbered by region."""
    k = 0
    for o in ops:
        if o["name"] == FETCH:
            yield o, f"{FETCH}#{k}"
            k += 1
        else:
            yield o, o["name"]


def oracle_refs(workload, record):
    """DuckDB reference checksums of every output of a workload, computed
    once per input and oracle (the cache is keyed by both files' hashes).
    If the oracle cannot run at all, every output gets its error."""
    import oracle
    inputs = Path(record["inputs"][workload])
    h = hashlib.sha256((HERE / "oracle.py").read_bytes())
    for f in sorted(p for p in inputs.iterdir() if p.is_file()):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    cache = WORK / "oracle" / f"{workload}-seed{record['seed']}-{h.hexdigest()[:16]}.json"
    if cache.exists():
        return json.loads(cache.read_text())
    try:
        refs = oracle.reference(workload, str(inputs), record["facts"][workload])
    except Exception as e:  # noqa: BLE001 - any oracle failure fails the checks, not the run
        return {"*": {"error": f"oracle: {type(e).__name__}: {e}"}}
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps(refs))
    return refs


def check_output(o, key, refs):
    """Why a DataFrame call's output is wrong, or None: its schema must be
    the oracle's, then its checksum the reference's."""
    import oracle
    c = o["check"]
    want = oracle.SCHEMAS.get(o["name"])
    if c["schema"] != want:
        return f"schema {c['schema']} != {want}"
    ref = refs.get(key, refs.get("*"))
    if ref is None:
        return "no reference"
    return ref["error"] if "error" in ref else same_checksum(c, ref)


def check_passes(record):
    """Check every op of every pass; returns (attempted, failed, verdicts).
    Warm-up passes are checked as references only and not counted."""
    verdicts = {}
    attempted = failed = 0
    for wl in dict.fromkeys(p["workload"] for p in record["passes"]):
        passes = [p for p in record["passes"] if p["workload"] == wl]
        refs = oracle_refs(wl, record)
        for p in passes:
            counted = p["kind"] != "warmup"
            shard_files = None
            for o, key in op_keys(p["ops"]):
                c = o["check"]
                if o["error"]:
                    why = o["error"]
                elif "schema" in c:
                    why = check_output(o, key, refs)
                elif "names" in c:
                    if o["name"] == "io.Bam.writeSharded":
                        shard_files = c["names"]
                        why = None if c["n"] >= 1 else "no shards written"
                    else:
                        want = [f + ".bai" for f in shard_files or []]
                        why = None if c["names"] == want else f"indexes {c['names']} != {want}"
                else:
                    why = "no check"
                v = verdicts.setdefault(f"{wl}:{o['name']}", {"ok": 0, "failed": 0, "why": None})
                if counted:
                    attempted += 1
                    if why is None:
                        v["ok"] += 1
                    else:
                        failed += 1
                        v["failed"] += 1
                if why is not None and v["why"] is None:
                    v["why"] = why
    return attempted, failed, verdicts


# ---- metrics -------------------------------------------------------------

def end_to_end(record):
    wl = record["workload"]
    facts = record["facts"][wl]
    timed = [p for p in record["passes"] if p["workload"] == wl and p["kind"] == "timed"]
    return {
        "setup_s": statistics.median(record["setup_s"]),
        "pass_s": statistics.median(p["wall_s"] for p in timed),
        "cells_per_s": statistics.median(facts["cells"] / p["wall_s"] for p in timed),
        "records_per_s": statistics.median(
            facts["records"] / sum(o["wall_s"] for o in p["ops"] if o["name"] != FETCH) for p in timed),
        "retained_heap_mb": statistics.median(p["heap_mb"] for p in timed),
    }


def per_layer(record, names, attempted, failed):
    """Per-call medians over traced passes, and the traced-run report."""
    spans = record["spans"]
    cores = record["host"]["nproc"]
    out = {}
    report = []
    for wl in dict.fromkeys(p["workload"] for p in record["passes"]):
        pass_spans = [s for s in spans if s["name"] == f"pass:{wl}"]
        traced_s = statistics.median(s["end_s"] - s["start_s"] for s in pass_spans)
        head = f"== {wl}: traced pass_s {traced_s:.3f}"
        if wl == record["workload"]:
            untraced = statistics.median(p["wall_s"] for p in record["passes"]
                                         if p["workload"] == wl and p["kind"] == "timed")
            out["pass.jobs"] = statistics.median(s["jobs"] for s in pass_spans)
            out["pass.idle_s"] = statistics.median(s["idle_s"] for s in pass_spans)
            out["pass.trace_overhead_s"] = traced_s - untraced
            head += f" (untraced {untraced:.3f}, overhead {out['pass.trace_overhead_s']:+.3f} s)"
        per_call = {}
        for ps in pass_spans:
            sums = {}
            for s in spans:
                if s["parent"] == ps["id"]:
                    a = sums.setdefault(s["name"], dict.fromkeys(MEASURES + ["self_s", "bytes_read", "rows"], 0.0))
                    a["wall_s"] += s["end_s"] - s["start_s"]
                    for m in MEASURES[1:] + ["self_s", "bytes_read", "rows"]:
                        a[m] += s.get(m, 0.0)
            for call, a in sums.items():
                per_call.setdefault(call, []).append(a)
        report.append(f"{head}, {len(pass_spans)} traced pass(es), local[{cores}]")
        report.append(f"   {'call':30s} {'self_s':>8s} {'share':>6s} {'tasks':>6s} {'task_s':>7s} "
                      f"{'idle_s':>7s} {'par':>5s} {'shuffle_B':>10s}")
        self_total = 0.0
        for call, rows in per_call.items():
            med = {m: statistics.median(r[m] for r in rows) for m in rows[0]}
            for m in MEASURES:
                out[f"{call}.{m}"] = med[m]
            if call == FETCH:
                out[f"{call}.bytes_per_row"] = (sum(r["bytes_read"] for r in rows)
                                                / max(1.0, sum(r["rows"] for r in rows)))
                lat = [(s["end_s"] - s["start_s"]) * 1000 for s in spans
                       if s["name"] == FETCH and s["parent"] in {ps["id"] for ps in pass_spans}]
                out[f"{call}.p50_ms"] = percentile(lat, 0.5)
                out[f"{call}.p90_ms"] = percentile(lat, 0.9)
            self_total += med["self_s"]
            # par: tasks running on average while any task ran, against `cores`
            busy = med["wall_s"] - med["idle_s"]
            par = med["task_s"] / busy if busy > 0 else 0.0
            report.append(f"   {call:30s} {med['self_s']:8.3f} {med['self_s'] / traced_s:6.1%} "
                          f"{med['tasks']:6.0f} {med['task_s']:7.3f} {med['idle_s']:7.3f} "
                          f"{par:5.2f} {med['shuffle_bytes']:10.0f}")
        report.append(f"   calls' self time {self_total:.3f} s = {self_total / traced_s:.1%} of traced "
                      f"pass_s; the rest is the harness between calls")
    out["failed_frac"] = failed / attempted
    missing = [n for n in names if n not in out]
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    return {n: out[n] for n in names}, report


def host_facts(record):
    sha = "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            sha = r.stdout.strip()
    except OSError:
        pass
    return dict(record["host"], git_sha=sha)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {args.workload}")
    metrics_spec = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in metrics_spec}

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"build: {e}")

    work = WORK / "work" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.time()
        record = run_jvm(classpath, args, work, work / "record.json")
        t_jvm = time.time()
        attempted, failed, verdicts = check_passes(record)
        log(f"jvm {t_jvm - t0:.1f} s, checks {time.time() - t_jvm:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics, report = per_layer(record, list(units), attempted, failed)
        traces = WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        stem = traces / f"{args.workload}-seed{args.seed}"
        (stem.parent / (stem.name + ".spans.json")).write_text(json.dumps(record["spans"]))
        (stem.parent / (stem.name + ".report.txt")).write_text("\n".join(report) + "\n")
        for line in report:
            log(line)
    else:
        metrics = end_to_end(record)

    host = host_facts(record)
    log(f"host {json.dumps(host)}")
    log(f"inputs {json.dumps({w: {k: v for k, v in f.items() if k != 'regions'} for w, f in record['facts'].items()})}")
    for name, v in sorted(verdicts.items()):
        log(f"check {name}: {v['ok']} ok, {v['failed']} failed" + (f" ({v['why']})" if v["why"] else ""))
    for name in units:
        log(f"metric {name} = {metrics[name]:.6g} {units[name]}")
    log(f"wall {time.time() - t0:.1f} s")
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host,
        "inputs": record["facts"], "setup_s": record["setup_s"], "checks": verdicts,
        "attempted": attempted, "failed": failed, "metrics": metrics}, indent=1))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }))


if __name__ == "__main__":
    main()
