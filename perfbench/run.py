#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--full]

Run it from the root of a checkout. The first run builds the harness
(perfbench/build.sbt, which compiles graft from ../src) into .bench_build;
later runs reuse that build until a source file changes.

A run
  1. writes the workload's input tables, drawn from --seed (gen.py), under
     .bench_build/data; their sha256 digests go into the artifact;
  2. starts one JVM with local[<cpus>] Spark (cpus = nproc, at most 4) that
     sets up the session several times, checks and times the workload's
     queries (Main.scala) or streams (StreamWorkload.scala), and writes its
     raw measurements;
  3. checks the outputs: oracled queries against SparkEntry.oracleSql run in
     DuckDB by tools/check.py, rows-only queries by an equal row digest over
     two repetitions, and streamed outputs against the same operators run as
     batch queries;
  4. writes the full artifact to .bench_build/runs/<workload>-s<seed>-t<trace>/
     result.json and prints one JSON line last: correct, attempted, failed
     and the metrics (end-to-end ones with --trace 0, per-layer ones with
     --trace 1).

workloads.json pins each workload's member queries (every SparkEntry query
belongs to exactly one batch workload) and the subset a run times, picked
from a --full run by pick_timed.py; --full checks and times every member
instead. A workload's scale fixes its table layout (gen.layout).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

SETUPS = 4
# a run must end within 180 s once the harness is built
RUN_DEADLINE_S = 175
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile graft and the harness once per source digest; return the classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "-J-XX:-UsePerfData",
                        "compile", "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    cp = [line for line in p.stdout.splitlines() if ".jar" in line and not line.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def quantile(values, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values):
    return quantile(values, 0.5)


def oracle_check(data_dir, results_dir, names, timeout):
    """Run tools/check.py on the oracled queries; return {query: failure or None}."""
    if not names:
        return {}
    try:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data_dir,
                            results_dir, ",".join(names)],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"tools/check.py exceeded {timeout:.0f} s")
    verdict = {n: "no verdict from tools/check.py" for n in names}
    for line in p.stdout.splitlines():
        if line.startswith("OK   "):
            verdict[line.split()[1]] = None
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(":")
            verdict[name.strip()] = why.strip()[:300]
    return verdict


def batch_metrics(raw, verdict):
    status = raw["status"]
    failures = {q: s for q, s in status.items() if s != "ok"}
    for q, digests in raw["digests"].items():
        if len(set(digests)) != 1:
            failures[q] = f"row digest differs across repetitions: {digests}"
    for q, why in verdict.items():
        if why and q not in failures:
            failures[q] = f"oracle: {why}"
    # the first timed pass is a warm-up: it is reported per query, not measured
    good = [s for s in raw["samples"] if s["query"] not in failures and s["pass"] > 1]
    untraced = [s for s in good if not s["traced"]]
    traced = [s for s in good if s["traced"]]

    def pass_walls(samples):
        walls = {}
        for s in samples:
            walls[s["pass"]] = walls.get(s["pass"], 0.0) + s["total_s"]
        return list(walls.values())

    per_query = {}
    for q, s in status.items():
        times = [x["total_s"] for x in untraced if x["query"] == q]
        per_query[q] = {"status": "failed" if q in failures else "ok",
                        "error": failures.get(q),
                        "oracle": "rows" if q in raw["rows_only"] else "sql",
                        "median_s": median(times) if times else None,
                        "times_s": [round(t, 6) for t in times],
                        "warmup_s": [round(x["total_s"], 6) for x in raw["samples"]
                                     if x["query"] == q and x["pass"] == 1],
                        "left_rdds": max([x["left_rdds"] for x in raw["samples"] if x["query"] == q],
                                         default=0)}
    e2e = {"wall_s": median(pass_walls(untraced)),
           "lat_p50_ms": 1e3 * quantile([s["total_s"] for s in untraced], 0.5),
           "lat_p90_ms": 1e3 * quantile([s["total_s"] for s in untraced], 0.9)}
    extra = {"samples": len(untraced), "passes": len(pass_walls(untraced)),
             "traced_wall_s": median(pass_walls(traced)) if traced else None}
    return e2e, failures, per_query, extra, good


def layer_metrics(raw, good, e2e, extra, cpus):
    """Per-layer metrics of a traced run; layers a workload does not use read 0."""
    ph = raw.get("phases", {})
    ex = ph.get("exec", {})
    bd = ph.get("build", {})
    traced = [s for s in good if s["traced"]]
    if "stream" in raw:  # one streaming run: its recorded Spark work is all under the sink
        st = raw["stream"]
        untraced_s = sum(b for b, t in zip(st["block_s"], st["block_traced"]) if not t)
        n_passes, sink_s, build_s = 1, st["run_s"] - untraced_s, 0.0
    else:
        n_passes = max(1, len({s["pass"] for s in traced}))
        sink_s = sum(s["total_s"] - s["build_s"] for s in traced)
        build_s = sum(s["build_s"] for s in traced)

    def per_pass(key, d=ex):
        return d.get(key, 0) / n_passes

    m = {
        "Tables.input_mb": per_pass("input_mb"),
        "Tables.input_rows": per_pass("input_rows"),
        "Tables.scan_tasks": per_pass("input_tasks"),
        "operators.build_s": build_s / n_passes,
        "operators.build_jobs": per_pass("jobs", bd),
        "operators.build_share": build_s / max(1e-9, build_s + sink_s),
        "exec.jobs": per_pass("jobs"),
        "exec.stages": per_pass("stages"),
        "exec.tasks": per_pass("tasks"),
        "exec.tasks_per_stage": ex.get("tasks", 0) / max(1, ex.get("stages", 0)),
        "exec.task_run_s": per_pass("task_run_s"),
        "exec.task_cpu_s": per_pass("task_cpu_s"),
        "exec.cpu_ratio": ex.get("task_cpu_s", 0) / max(1e-9, ex.get("task_run_s", 0)),
        "exec.busy_frac": ex.get("task_duration_s", 0) / max(1e-9, cpus * sink_s),
        "exec.idle_core_s": max(0.0, cpus * sink_s - ex.get("task_duration_s", 0)) / n_passes,
        "exec.task_overhead_s": per_pass("task_overhead_s"),
        "exec.gc_s": per_pass("gc_s"),
        "exec.shuffle_write_mb": per_pass("shuffle_write_mb"),
        "exec.shuffle_read_mb": per_pass("shuffle_read_mb"),
        "exec.spill_mb": per_pass("spill_mb"),
        "cache.left_queries": len({s["query"] for s in traced if s["left_rdds"] > 0}),
        "cache.left_rdds": sum(s["left_rdds"] for s in traced) / n_passes,
        "cache.peak_storage_mb": max([s["storage_mb"] for s in traced], default=0.0),
        "jvm.jit_s": raw["jvm"]["jit_s"],
        "jvm.gc_s": raw["jvm"]["gc_s"],
        "trace.overhead_s": (extra["traced_wall_s"] - e2e["wall_s"]) if extra["traced_wall_s"] else 0.0,
    }
    st = raw.get("stream", {})
    m.update({
        "streaming.add_batch_ms": median(st.get("add_batch_ms", [])),
        "streaming.planning_ms": median(st.get("planning_ms", [])),
        "streaming.wal_commit_ms": median(st.get("wal_commit_ms", [])),
        "streaming.state_rows": st.get("state_rows", 0),
        "streaming.state_mb": st.get("state_mb", 0.0),
        "streaming.state_commit_ms": median(st.get("state_commit_ms", [])),
        "streaming.backlog_rows": st.get("backlog_rows", 0),
    })
    m.update(raw.get("probes", {}))
    return m


def self_times(spans):
    """Per layer: total span time minus the part covered by child spans."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        dur = s["endNs"] - s["startNs"]
        covered = sum(c["endNs"] - c["startNs"] for c in children.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0, dur - covered) / 1e9
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true", help="run every member query, not the timed set")
    ap.add_argument("--scale", type=int, help="copies of the base tables, in place of the "
                    "workload's own (1: one file per table; N > 1: N files of 4 row groups)")
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; have {sorted(workloads)}")
    w = workloads[a.workload]
    if a.scale:
        w["scale"] = a.scale
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("graft's sources are not here: run from the root of a graft checkout")

    digest = source_digest()
    cp = build(digest)
    deadline = time.time() + (RUN_DEADLINE_S if not a.full else 3600)
    cpus = min(4, os.cpu_count() or 1)

    data = os.path.join(BUILD, "data", f"{a.workload}-s{a.seed}-x{w['scale']}")
    shutil.rmtree(data, ignore_errors=True)
    t0 = time.time()
    checksums = gen.generate(data, a.seed, w["scale"])
    gen_s = time.time() - t0

    tag = f"{a.workload}-s{a.seed}-t{a.trace}" + (f"-x{a.scale}" if a.scale else "") + \
        ("-full" if a.full else "")
    out = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    queries = [q for qs in w.get("modules", {}).values() for q in qs] if a.full else w.get("timed", [])
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}/tmp",
           *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", cp, "graftbench.Main", "--workload", a.workload, "--data", data, "--out", out,
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus),
           "--setups", str(SETUPS), "--seed", str(a.seed), "--queries", ",".join(queries)]
    timeout = deadline - time.time() - 20  # leaves time for the oracle check
    with open(os.path.join(out, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM exceeded {timeout:.0f} s; log in {out}/jvm.log")
    raw_file = os.path.join(out, "raw.json")
    if p.returncode != 0 or not os.path.exists(raw_file):
        fail(f"harness JVM exited {p.returncode}; log in {out}/jvm.log")
    with open(raw_file) as f:
        raw = json.load(f)

    if "stream" in raw:
        st = raw["stream"]
        failures = {k: "streamed output differs from the batch operator"
                    for k, ok in raw["checks"].items() if not ok}
        failures.update({f"query {i}": e for i, e in enumerate(raw["failures"])})
        # traced runs alternate untraced and traced blocks; wall_s is the untraced ones'
        traced = st["block_traced"]
        blocks = [b for b, t in zip(st["block_s"], traced) if not t]
        e2e = {"wall_s": median(blocks),
               "lat_p50_ms": quantile(st["latency_ms"], 0.5),
               "lat_p90_ms": quantile(st["latency_ms"], 0.9)}
        extra = {"samples": len(st["latency_ms"]), "blocks": len(blocks),
                 "stream_rows_per_s": st["block_rows"] / e2e["wall_s"],
                 "offered_rows_per_s": st["offered_rows_per_s"],
                 "generator_late_ms": st["generator_late_ms"],
                 "backlog_mid_rows": st["backlog_mid_rows"], "backlog_rows": st["backlog_rows"],
                 "traced_wall_s": median([b for b, t in zip(st["block_s"], traced) if t]) or None}
        per_query, good, attempted = {}, [], raw["attempted"]
    else:
        results = os.path.join(out, "results")
        oracled = sorted(q for q in raw["status"] if os.path.isdir(os.path.join(results, q)))
        oracle_dir = os.path.join(data, "oracle") if w["scale"] > 1 else data
        verdict = oracle_check(oracle_dir, results, oracled, deadline - time.time())
        e2e, failures, per_query, extra, good = batch_metrics(raw, verdict)
        attempted = raw["attempted"]
        shutil.rmtree(results, ignore_errors=True)
    e2e["setup_s"] = median(raw["setup_s"])
    e2e["peak_rss_mb"] = raw["peak_rss_mb"]

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus, "scale": w["scale"],
        "files_and_row_groups": gen.layout(w["scale"]),
        "git_sha": git_sha(), "source_sha256": digest,
        "spark_version": raw["spark_version"], "java_version": raw["java_version"],
        "input_sha256": hashlib.sha256(json.dumps(checksums, sort_keys=True).encode()).hexdigest(),
        "input_files": checksums, "generate_s": gen_s, "setup_runs_s": raw["setup_s"],
        "end_to_end": e2e, "extra": extra, "failures": failures, "queries": per_query,
    }
    if a.trace:
        artifact["per_layer"] = layer_metrics(raw, good, e2e, extra, cpus)
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)
        artifact["per_layer"].update({f"self.{k}_s": v for k, v in self_times(spans).items()})
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(data, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = artifact["per_layer"] if a.trace else e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec["per_layer" if a.trace else "end_to_end"]}
    for q in failures:
        print(f"[perfbench] FAILED {q}: {failures[q]}", file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": int(attempted),
                      "failed": len(failures), "metrics": metrics}))


def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return p.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
