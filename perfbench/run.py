#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
harness from source (sbt, offline) and generates the input tables; later
runs reuse both. `--trace 0` prints the end-to-end metrics, `--trace 1`
the per-layer ones. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

SF, DATA_SEED = 0.1, 42
HEAP = "4g"
# local[N] with N <= nproc; the stream replay's tasks use all four slots.
CPUS = min(4, os.cpu_count() or 1)
# Scratch roots the library writes to on its own: SourcesSinks' per-app
# directory, and the streaming checkpoint directories (RAM disk when
# present, else java.io.tmpdir, which a run points into WORK).
IO_ROOT = "/tmp/graft_io"
SHM_ROOT = "/dev/shm"

# name -> (queries, seconds one warm pass takes on a 4-vCPU VM).
# Why these: README.md. An odd number of queries and of passes puts the
# per-query median in the middle of one query's own samples, not on the
# boundary between two queries.
WORKLOADS = {
    "olap_read": ([
        "q6_forecast_revenue", "q12_priority_shipping", "q14_promo_effect",
        "scan_selectivity_1pct", "scan_selectivity_full",
    ], 3.4),
    "pipeline_ops": ([
        "text_pii_redact", "stream_tumbling_agg", "sink_merge_upsert",
    ], 4.0),
}
# the end-to-end metrics BENCHMARK.json gates, with their units
E2E_UNITS = {"setup_s": "s", "round_cpu_s": "s", "query_cpu_s_p50": "s",
             "heap_retained_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """sbt build of the root library plus the harness; writes launch.txt."""
    stamp = os.path.join(WORK, "build.stamp")
    launch = os.path.join(WORK, "launch.txt")
    if os.path.isfile(launch) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return launch
    log("building library and harness with sbt (first run)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=780).returncode
    if rc != 0:
        raise SystemExit(f"build failed (rc={rc}); see {WORK}/build.log")
    shutil.copy(os.path.join(HARNESS, "target", "launch.txt"), launch)
    with open(stamp, "w") as f:
        f.write(digest)
    return launch


def data_dir():
    d = os.path.join(WORK, "data", f"sf{SF}_seed{DATA_SEED}")
    if not os.path.isfile(os.path.join(d, "_DONE")):
        log(f"generating sf{SF} tables")
        import gen_data
        gen_data.write(d, SF, DATA_SEED)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def du(path):
    if os.path.islink(path) or not os.path.isdir(path):
        return os.path.getsize(path) if os.path.isfile(path) else 0
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
               if os.path.isfile(os.path.join(d, f)))


def ckpt_dirs(roots):
    out = set()
    for r in roots:
        if os.path.isdir(r):
            out |= {os.path.join(r, n) for n in os.listdir(r) if n.startswith("graft_ckpt_")}
    return out


def source_id(digest):
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or f"src:{digest}"
    except (OSError, subprocess.SubprocessError):
        return f"src:{digest}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no graft sources at {ROOT}: run from a full checkout")
        return 2
    queries, nominal_pass_s = WORKLOADS[a.workload]
    # fixed work: the passes that take about --seconds on a 4-vCPU VM
    passes = max(2, math.ceil(a.seconds / nominal_pass_s))
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    built = not os.path.isfile(os.path.join(WORK, "launch.txt"))
    launch = build(digest)
    data = data_dir()
    deadline = T_START + (850 if built else 170)

    lines = open(launch).read().splitlines()
    cp, jvm_opts = lines[0], [x for x in lines[1:] if x]
    run_dir = os.path.join(WORK, "runs", f"{a.workload}_seed{a.seed}_trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    ckpt_roots = [SHM_ROOT, tmp]
    ckpt_before = ckpt_dirs(ckpt_roots)
    io_before = set(os.listdir(IO_ROOT)) if os.path.isdir(IO_ROOT) else None
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_LOCAL_DIRS" and not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    # a fixed set of JIT compiler threads, whose CPU time the harness
    # subtracts; compile thresholds halved, so that JIT warm-up ends sooner
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:CompileThresholdScaling=0.5",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"]
           + jvm_opts + ["-cp", cp, "perfbench.Harness",
                         "--data", data, "--out", run_dir, "--queries", ",".join(queries),
                         "--seed", str(a.seed), "--passes", str(passes),
                         "--trace", str(a.trace), "--cpus", str(CPUS),
                         "--scratch-root", IO_ROOT])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(30, deadline - time.time() - 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    raw_path = os.path.join(run_dir, "raw.json")
    raw = json.load(open(raw_path)) if os.path.isfile(raw_path) else None

    # hermetic: measure, then remove, what the run left in scratch roots
    left = [os.path.join(IO_ROOT, raw["app_id"])] if raw else []
    if raw is None and os.path.isdir(IO_ROOT):
        left += [os.path.join(IO_ROOT, n) for n in set(os.listdir(IO_ROOT)) - (io_before or set())]
    left += sorted(ckpt_dirs(ckpt_roots) - ckpt_before)
    scratch_left = sum(du(p) for p in left if os.path.exists(p))
    for p in left:
        shutil.rmtree(p, ignore_errors=True)
    if io_before is None and os.path.isdir(IO_ROOT) and not os.listdir(IO_ROOT):
        os.rmdir(IO_ROOT)
    if raw is None:
        log(f"harness failed (rc={rc}); see {run_dir}/jvm.log")
        return 1

    import check
    import metrics
    exceptions = [q for q in raw["queries"] if q["error"] is not None]
    failures = check.check(queries, raw["oracle_sql"], os.path.join(run_dir, "results"), data,
                           WORK, f"sf{SF}_seed{DATA_SEED}", raw["check_errors"])
    attempted = len(raw["queries"]) + len(queries)
    failed = len(exceptions) + len(failures)
    env_rec = dict(raw["env"], nproc=os.cpu_count(), heap=HEAP, source=source_id(digest),
                   workload=a.workload, queries=queries, sf=SF, trace=a.trace)
    print("perfbench " + " ".join(f"{k}={v}" for k, v in env_rec.items() if k != "queries"))
    for q in exceptions:
        print(f"FAILED {q['name']} ({q['id']}): {q['error']}")
    for n, why in sorted(failures.items()):
        print(f"FAILED {n} (output check): {why}")
    print(f"failed_frac {failed / attempted:.4f} ({failed} of {attempted} executions)")

    if a.trace:
        vals = metrics.per_layer(raw, CPUS)
        vals["sources.scratch_left_bytes"] = scratch_left
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
            for s in metrics.build_spans(raw):
                f.write(json.dumps(s) + "\n")
        units = {k: unit(k) for k in vals}
        for k in sorted(vals):
            print(f"{k:28s} {vals[k]:14.4f} {units[k]}")
        print(f"tracing overhead: traced round_s {vals['trace.round_s']:.4f} s minus untraced "
              f"round_s = {vals['trace.overhead_s']:+.4f} s; spans in {run_dir}/spans.jsonl")
    else:
        figures = metrics.end_to_end(raw)
        for k, (v, note) in figures.items():
            gated = "" if k in E2E_UNITS else "  (not gated)"
            print(f"{k:18s} {v:12.4f} {unit(k):3s} {note}{gated}")
        print(f"sources.scratch_left_bytes {scratch_left}")
        vals = {k: figures[k][0] for k in E2E_UNITS}
        units = E2E_UNITS
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump({"env": env_rec, "metrics": vals, "failures": failures,
                   "exceptions": [q["id"] + " " + q["name"] for q in exceptions]}, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in vals.items()}}))
    return 0


def unit(name):
    if name.endswith("_s") or "_s_" in name:
        return "s"
    for suffix, u in (("_bytes", "bytes"), ("_mb", "MB"), ("_util", "fraction"),
                      ("bytes_per_row", "bytes/row")):
        if name.endswith(suffix):
            return u
    return "count"


if __name__ == "__main__":
    sys.exit(main())
