#!/usr/bin/env python3
"""graft's benchmark runner.

    python3 perfbench/run.py --workload <analytics_read|curation|mor_churn>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the engine and the harness
from source once (cached under `.bench_build/`), generates the workload's
inputs from the seed, launches one JVM on `local[4]` with fixed heap and
Spark memory settings, checks every output, and prints each metric with
its unit and sample count. The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`).

`--corrupt <job>` makes the harness corrupt that job's result, to show
that the checks catch a wrong answer.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import metrics as M  # noqa: E402
import replay  # noqa: E402

CORES = 4
HEAP = "2g"
# a run of a BENCHMARK.json workload must end within 180 s; curation,
# which is not one, takes about two and a half minutes
JVM_TIMEOUT_S = {"curation": 600}
WORKLOADS = ("analytics_read", "curation", "mor_churn")
# Spark's own launcher options for JDK 17 (JavaModuleOptions)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ── build ───────────────────────────────────────────────────────────────

def _sources(root, *dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(base, f) for f in files]
    return sorted(out)


def jar_dir(root):
    """The Spark jars the build resolves against (`unmanagedBase` in build.sbt)."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.exists(sbt):
        fail("build.sbt not found: run from the root of a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def compile_tree(root, build, name, src_dirs, classpath):
    """Compile the Scala files under `src_dirs` into build/<name> unless a
    build of the same sources exists. Returns the class directory."""
    files = [f for f in _sources(root, *src_dirs) if f.endswith(".scala")]
    if not files:
        fail(f"no Scala sources under {src_dirs}")
    h = hashlib.sha256(classpath.encode())
    for f in files:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    key = h.hexdigest()[:16]
    out = os.path.join(build, f"{name}-{key}")
    if os.path.exists(os.path.join(out, "_BUILT")):
        return out
    for old in os.listdir(build):
        if old.startswith(f"{name}-"):
            shutil.rmtree(os.path.join(build, old), ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    argfile = os.path.join(build, f"{name}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-classpath", classpath, "-nowarn", "-d", out, f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        log(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"compiling {name} failed")
    open(os.path.join(out, "_BUILT"), "w").close()
    log(f"compiled {name} ({len(files)} files) in {time.time() - t0:.1f}s")
    return out


def build(root, bench):
    jars = os.path.join(jar_dir(root), "*")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("src/main/scala not found: run from the root of a graft checkout")
    engine = compile_tree(root, bench, "engine", ["src/main/scala"], jars)
    res = os.path.join(root, "src", "main", "resources")
    harness = compile_tree(root, bench, "harness", [os.path.relpath(os.path.join(HERE, "scala"), root)],
                           f"{engine}{os.pathsep}{jars}")
    return os.pathsep.join([harness, engine, res, jars])


# scale factor of the test tables each workload derives from: one
# analytics_read run at sf0.1 takes about 75 s on 4 cores, and a full
# evaluation (22 runs per workload plus two builds) has 3420 s
SCALE = {"analytics_read": "0.01", "curation": "0.1", "mor_churn": "0.1"}


def source_dir(root, workload):
    """The read-only test tables the inputs derive from, as TESTDATA.md
    names them (`PERFBENCH_TESTDATA` overrides the directory holding the
    `sf<scale>` directories)."""
    scale = SCALE[workload]
    env = os.environ.get("PERFBENCH_TESTDATA")
    if env:
        return os.path.join(env, f"sf{scale}")
    doc = os.path.join(root, "TESTDATA.md")
    m = re.search(r"\|\s*" + re.escape(scale) + r"\s*\|\s*`([^`]+)`", open(doc).read()) \
        if os.path.exists(doc) else None
    if not m:
        fail(f"TESTDATA.md names no sf{scale} table directory (set PERFBENCH_TESTDATA)")
    return m.group(1).rstrip("/")


# ── run ─────────────────────────────────────────────────────────────────

def run_jvm(cp, args, tmp, logfile, timeout):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM did not finish within {timeout}s (log: {logfile})")
    if rc != 0:
        with open(logfile) as f:
            log("".join(f.readlines()[-40:]))
        fail(f"the JVM exited with {rc} (log: {logfile})")


# ── checks ──────────────────────────────────────────────────────────────

def check_oracle(root, data, out):
    """Compare the warm-up pass's results with the DuckDB oracle SQL, using
    the repository's own `tools/check_oracle.py`. Returns {job: ok}."""
    tool = os.path.join(root, "tools", "check_oracle.py")
    r = subprocess.run([sys.executable, tool, data, os.path.join(out, "check")],
                       capture_output=True, text=True, timeout=120)
    jobs = json.load(open(os.path.join(out, "check", "oracle_sql.json")))
    res = {j: False for j in jobs}
    for line in r.stdout.splitlines():
        m = re.match(r"^(\w+)\s+(\w+)", line)
        if m and m.group(2) in res:
            res[m.group(2)] = m.group(1) == "PASS"
            if m.group(1) != "PASS":
                log(f"oracle: {line}")
    if r.returncode != 0:
        log(r.stderr[-2000:])
    return res


def check_digests(samples):
    """Every pass of a deterministic job must return the same rows.
    Returns the set of jobs whose digests differ."""
    seen = {}
    for s in samples:
        if s["ok"]:
            seen.setdefault(s["job"], set()).add(s["digest"])
    return {j for j, d in seen.items() if len(d) > 1}


# ── metrics ─────────────────────────────────────────────────────────────

def e2e_metrics(res, samples):
    timed = [s for s in samples if s["pass"] >= 0 and not s["traced"]]
    passes = [p for p in res["passes"] if p["pass"] >= 0 and not p["traced"]]
    lat = [(s["end"] - s["start"]) / 1e9 for s in timed if s["ok"]]
    out = {}

    def put(name, value, unit, n, **extra):
        out[name] = dict(value=value, unit=unit, n=n, **extra)

    put("setup_s", (res["timed_start"] - res["process_start"]) / 1e9, "s", 1)
    put("pass_s", M.median([(p["end"] - p["start"]) / 1e9 for p in passes]), "s", len(passes))
    put("job_s_p50", M.median(lat), "s", len(lat))
    v, pct = M.tail(lat)
    put("job_s_tail", v, "s", len(lat), percentile=round(pct, 2))
    for kind in ("read", "write"):
        xs = [(s["end"] - s["start"]) / 1e9 for s in timed if s["ok"] and s["kind"] == kind]
        if xs and any(s["kind"] == "write" for s in timed):
            put(f"{kind}_s_p50", M.median(xs), "s", len(xs))
            v, pct = M.tail(xs)
            put(f"{kind}_s_tail", v, "s", len(xs), percentile=round(pct, 2))
    put("rss_peak_mb", res["rss_peak_mb"], "MB", 1)
    ex = res.get("extra", {})
    if ex.get("batch_bytes"):
        put("write_amp", M.write_amp(ex["bytes_written"], ex["batch_bytes"]), "ratio",
            ex["applied_steps"])
        put("space_amp", M.space_amp(ex["bytes_on_disk"], ex["compact_bytes"]), "ratio",
            len(ex["tables"]))
    return out


LAYER_SUMS = ["operators.build_s", "operators.build_jobs", "plans.analyze_s", "plans.optimize_s",
              "plans.physical_s", "exec.action_s", "exec.jobs", "exec.tasks", "exec.task_s",
              "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
              "exec.spill_mb", "exec.input_mb", "exec.tasks_failed", "session.grains",
              "session.evicted_blocks", "sources.fs_open", "sources.fs_list", "sources.fs_status",
              "sources.fs_read_mb", "sources.fs_write_mb", "sources.mor_write_s",
              "sources.compact_s", "sources.files_written", "sources.v2.scan_plan_s",
              "sources.v2.partitions", "sources.v2.mask_loads", "sources.v2.dml_s",
              "streaming.tail_s", "streaming.tail_rows", "driver.gap_s"]


def layer_metrics(res, samples, cores):
    """Per-layer figures of the traced passes: each job's figures from its
    spans, summed over a pass; the median pass is reported."""
    spans_by_job = {}
    for s in res["spans"]:
        spans_by_job.setdefault(s["job"], []).append(s)
    per_job, per_pass, violations = [], {}, []
    # samples are in job order, and the spans of a job carry its index
    for i, s in enumerate(samples):
        if not s["traced"]:
            continue
        fig = M.job_layers(spans_by_job[i], s["counters"], cores)
        if fig["self_s_sum"] > fig["wall_s"] + 1e-6:
            violations.append(s["job"])
        fig["job"], fig["pass"] = s["job"], s["pass"]
        per_job.append(fig)
        per_pass.setdefault(s["pass"], []).append(fig)
    if not per_pass:
        return {}, per_job, violations
    passes = list(per_pass.values())
    out = {}
    for k in LAYER_SUMS:
        out[k] = M.median([sum(f.get(k, 0.0) for f in p) for p in passes])

    busy = []
    for p in passes:
        action = sum(f["exec.action_s"] for f in p) * cores
        busy.append(sum(f["exec.action_task_s"] for f in p) / action if action > 0 else 0.0)
    out["exec.busy_frac"] = M.median(busy)
    lookups = [sum(f.get("sources.v2.mask_lookups", 0.0) for f in p) for p in passes]
    hits = [sum(1.0 for f in p if f.get("sources.v2.mask_lookups", 0.0) > 0
                and f.get("sources.v2.mask_loads", 0.0) == 0) for p in passes]
    out["sources.v2.mask_hit_ratio"] = M.median(
        [h / n if n else 0.0 for h, n in zip(hits, lookups)])
    out["exec.task_skew"] = M.median([max(f["exec.task_skew"] for f in p) for p in passes])
    out["session.cached_mb"] = M.median([max(f["session.cached_mb"] for f in p) for p in passes])
    heap = [p["retained_heap_mb"] for p in res["passes"] if p["traced"]]
    out["session.retained_heap_mb"] = M.median(heap)
    # the first timed pass still runs partly cold code: it is untraced
    # and left out of the comparison
    traced_passes = [p for p in res["passes"] if p["pass"] >= 0 and p["traced"]]
    plain_passes = [p for p in res["passes"] if p["pass"] >= 1 and not p["traced"]]
    tp = M.median([(p["end"] - p["start"]) / 1e9 for p in traced_passes])
    up = M.median([(p["end"] - p["start"]) / 1e9 for p in plain_passes])
    out["trace.overhead_frac"] = tp / up - 1.0 if up > 0 else 0.0
    out["sources.table_mb"] = res.get("extra", {}).get("bytes_on_disk", 0) / 1e6
    return out, per_job, violations


def write_trace(bench, a, res, layers, per_job, violations):
    """Spans as JSON with each span's self time, plus the per-job figures."""
    path = os.path.join(bench, "traces", f"{a.workload}-seed{a.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    by_job = {}
    for s in res["spans"]:
        by_job.setdefault(s["job"], []).append(s)
    spans = []
    for ss in by_job.values():
        st = M.self_times(ss)
        spans += [dict(s, self_s=st[s["id"]], start_s=(s["start"] - res["process_start"]) / 1e9,
                       end_s=(s["end"] - res["process_start"]) / 1e9) for s in ss]
    with open(path, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "layers": layers,
                   "storage_pool_mb": res["storage_pool_mb"], "per_job": per_job,
                   "self_time_violations": violations, "spans": spans}, f)
    log(f"trace written to {path}")


# ── main ────────────────────────────────────────────────────────────────

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", default="")
    a = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, ".bench_build")
    os.makedirs(bench, exist_ok=True)
    cp = build(root, bench)
    src = source_dir(root, a.workload)
    t0 = time.time()
    data, notes = gen.generate(a.workload, src, os.path.join(bench, "data"), a.seed)
    if notes is not None:
        log(f"generated {a.workload} seed {a.seed} in {time.time() - t0:.1f}s: {notes}")

    tmp = os.path.join(bench, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    out = os.path.join(tmp, "out")
    os.makedirs(out)
    logfile = os.path.join(bench, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(logfile), exist_ok=True)
    try:
        t0 = time.time()
        run_jvm(cp, ["--workload", a.workload, "--data", data, "--out", out,
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--seed", str(a.seed), "--cores", str(CORES)]
                + (["--corrupt", a.corrupt] if a.corrupt else []), tmp, logfile,
                JVM_TIMEOUT_S.get(a.workload, 160))
        shutil.copyfile(os.path.join(out, "result.json"), logfile[:-4] + ".json")
        res = json.load(open(os.path.join(out, "result.json")))
        samples = res["samples"]
        log(f"JVM finished in {time.time() - t0:.1f}s")
        t0 = time.time()

        # correctness: every attempted operation counts; a failed call or
        # a wrong answer is a failure
        for s in samples:
            if not s["ok"]:
                log(f"FAILED {s['job']} (pass {s['pass']}): {s['error']}")
        if a.workload == "mor_churn":
            wrong = replay.check(data, out)
            n_wrong = len(wrong)
        else:
            bad = check_digests(samples)
            if a.workload == "analytics_read":
                bad |= {j for j, ok in check_oracle(root, data, out).items() if not ok}
            wrong = sorted(bad)
            n_wrong = sum(1 for s in samples if s["ok"] and s["job"] in bad)
        log(f"checks finished in {time.time() - t0:.1f}s")
        if wrong:
            log(f"wrong results: {wrong}")
        attempted = len(samples)
        failed = min(sum(1 for s in samples if not s["ok"]) + n_wrong, attempted)
        e2e = e2e_metrics(res, samples)
        e2e["failed_frac"] = dict(value=failed / attempted, unit="ratio", n=attempted)
        correct = failed == 0

        spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
        if a.trace:
            layers, per_job, violations = layer_metrics(res, samples, CORES)
            for k in ("read_s_p50", "read_s_tail", "write_s_p50", "write_s_tail",
                      "write_amp", "space_amp", "failed_frac"):
                layers[k] = e2e[k]["value"] if k in e2e else 0.0
            write_trace(bench, a, res, layers, per_job, violations)
            if violations:
                log(f"span self times exceed the job's wall time on {violations}")
                correct = False
            report = {k: dict(value=v, n=len(per_job)) for k, v in layers.items()}
            wanted = spec["per_layer"]
        else:
            report = e2e
            wanted = spec["end_to_end"]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        for k, m in report.items():
            extra = f" (p{m['percentile']})" if "percentile" in m else ""
            print(f"{k:28s} {m['value']:.6g} {units.get(k, m.get('unit', ''))} n={m['n']}{extra}")
        metrics = {m["name"]: {"value": report[m["name"]]["value"], "unit": m["unit"]}
                   for m in wanted}
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
