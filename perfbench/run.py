#!/usr/bin/env python3
"""The benchmark's entry point. Run from the repository root:

    python3 perfbench/run.py --workload geochem --seed 1 --seconds 12 --trace 0

It builds the engine and the client from source (once per checkout), writes
the seeded inputs, times set-up, runs the closed-loop client, checks every
query's output against its DuckDB oracle and prints each metric with its
unit. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones; with `--trace 1` the per-layer ones, from a run that
also writes its spans. Everything it writes goes under `.bench_build/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLIENT = os.path.join(HERE, "client")
# The percentile reported as the latency tail, and the samples it needs.
TAIL_P = 0.75
MIN_SAMPLES = stats.min_samples_for(TAIL_P)
# Set-up-only launches before the main one: setup_s is the median of these
# and the main launch's set-up.
SETUP_PROBES = 1
RUN_BUDGET_S = 170.0
JVM_HEAP = "-Xmx2g"

END_TO_END = [
    ("setup_s", "s"), ("first_pass_s", "s"), ("warm_pass_s", "s"),
    ("query_p50_s", "s"), ("query_p75_s", "s"), ("rows_per_s", "rows/s"),
    ("ok_frac", "ratio"),
]
MEMO_CACHES = ["iw.gridCache", "iw.fO2Cache", "qfm.transitionCache", "qfm.fO2Cache",
               "deng2020.volCache", "deng2020.dVdPCache"]
SELF_LAYERS = ["pass", "query", "build", "catalyst.analysis", "catalyst.optimizer",
               "catalyst.planning", "exec", "job", "stage"]
PER_LAYER = (
    [("build.ms", "ms"), ("build.jobs", "count"), ("build.job_ms", "ms"),
     ("catalyst.analysis_ms", "ms"), ("catalyst.optimizer_ms", "ms"),
     ("catalyst.planning_ms", "ms"),
     ("codegen.compiles", "count"), ("codegen.compile_ms", "ms"),
     ("codegen.warm_compiles", "count"),
     ("jvm.jit_ms", "ms"), ("jvm.warm_jit_ms", "ms"), ("jvm.gc_ms", "ms"),
     ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
     ("sched.delay_ms", "ms"), ("sched.deser_ms", "ms"),
     ("exec.ms", "ms"), ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"),
     ("exec.core_busy_frac", "ratio")]
    + [(f"memo.{c}.{m}", u) for c in MEMO_CACHES
       for m, u in [("hits", "count"), ("misses", "count"), ("evicted", "count"),
                    ("fill_ms", "ms"), ("hit_ratio", "ratio")]
       if not (c.startswith("deng2020") and m == "evicted")]
    + [("exchange.live", "count"), ("exchange.reused", "count"),
       ("exchange.reuse_ratio", "ratio"), ("shuffle.write_bytes", "bytes"),
       ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_ms", "ms"),
       ("scan.rows", "count"), ("scan.bytes", "bytes"),
       ("artifact.first_build_ms", "ms"), ("artifact.bytes_written", "bytes"),
       ("host.sentinel_ms", "ms"), ("host.sentinel_iqr_frac", "ratio"),
       ("host.external_cpu_frac", "ratio"), ("host.steal_frac", "ratio"),
       ("fit.fixed_s", "s"), ("fit.s_per_mrow", "s/Mrow"),
       ("trace.overhead_frac", "ratio"), ("trace.self_gap_frac", "ratio"),
       ("trace.clip_frac", "ratio")]
    + [(f"self.{layer}_ms", "ms") for layer in SELF_LAYERS]
)
# A run is contended when other processes kept more than this share of the
# machine's cores busy during its steady passes, or when the hypervisor gave
# more than this share of the client's CPU time to other machines (steal).
CONTENDED_EXTERNAL_CPU = 0.10
CONTENDED_STEAL = 0.02


_T0 = time.monotonic()


def log(msg):
    print(f"[perfbench {time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- building

def _fingerprint():
    """Sizes and mtimes of every build input: the engine's sources and build
    files and the client's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "build.sbt"), CLIENT]
    for r in roots:
        for dirpath, dirnames, files in os.walk(r) if os.path.isdir(r) else [("", [], [r])]:
            # skip what sbt writes: target/ and the meta-build's project/project/
            dirnames[:] = sorted(d for d in dirnames if d != "target" and not (
                d == "project" and os.path.basename(dirpath) == "project"))
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(deadline):
    """Build the engine and the client with sbt, offline, unless the launch
    files for the current sources exist. Returns (classpath, JVM options)."""
    launch = os.path.join(BUILD, "launch")
    fp = _fingerprint()
    fp_file = os.path.join(launch, "fingerprint")
    if not (os.path.exists(fp_file) and open(fp_file).read() == fp):
        log("building the engine and the client with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        os.makedirs(BUILD, exist_ok=True)
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            rc = _run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                               "-Dsbt.server.autostart=false", "writeLaunch"],
                              CLIENT, env, out, deadline - time.monotonic())
        if rc != 0:
            sys.exit(f"sbt build failed (exit {rc}); see .bench_build/build.log")
        shutil.rmtree(launch, ignore_errors=True)
        shutil.copytree(os.path.join(CLIENT, "target", "launch"), launch)
        with open(fp_file, "w") as f:
            f.write(fp)
    cp = open(os.path.join(launch, "classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(launch, "java_options.txt")).read().split("\n")
            if o and not o.startswith("-Xmx")]
    return cp, opts


# The child process running now, killed with us if we are stopped.
_CHILD = None


def _on_stop(signum, _frame):
    if _CHILD is not None and _CHILD.poll() is None:
        _kill(_CHILD)
        _CHILD.wait()
    sys.exit(128 + signum)


def _start(cmd, **kw):
    global _CHILD
    _CHILD = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    return _CHILD


def _run_bounded(cmd, cwd, env, out, timeout):
    p = _start(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        _kill(p)
        return p.wait()


def _kill(p):
    """Kill the process group `p` leads (the JVM or sbt and its children)."""
    try:
        os.killpg(p.pid, 9)
    except ProcessLookupError:
        pass


# ---------------------------------------------------------------- running

class Jvm:
    """Launches the client and times process launch to its READY line."""

    def __init__(self, cp, opts, work):
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        self.cmd = ["java", *opts, JVM_HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                    "-cp", cp, "perfbench.Client"]
        self.work = work
        self.env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(work, "graft-index"))

    def run(self, args, timeout, log_name):
        """Returns (seconds to READY or None, exit code)."""
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        args = [*args, f"local_dir={self.work}/spark-local"]
        with open(os.path.join(self.work, log_name), "w") as err:
            t0 = time.monotonic()
            p = _start(self.cmd + args, cwd=self.work, env=self.env,
                       stdout=subprocess.PIPE, stderr=err, text=True)
            timer = threading.Timer(max(1.0, timeout), _kill, (p,))
            timer.start()
            ready = None
            try:
                for line in p.stdout:
                    if ready is None and line.strip() == "READY":
                        ready = time.monotonic() - t0
                rc = p.wait()
            finally:
                timer.cancel()
                if p.poll() is None:
                    _kill(p)
                    p.wait()
        return ready, rc


def cpu_ticks():
    """(steal, total) CPU ticks of the whole machine, or None where the
    kernel does not report them."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_frac(before, after):
    if before is None or after is None or after[1] <= before[1]:
        return 0.0
    return (after[0] - before[0]) / (after[1] - before[1])


# ---------------------------------------------------------------- metrics

def _s(ns):
    return ns / 1e9


def _ms(ns):
    return ns / 1e6


def pass_wall(p):
    return _s(p["end"] - p["start"])


def query_wall(q):
    return _s(q["end"] - q["start"])


def rows_per_pass(scans, rows):
    return sum(rows.get(t, 0) for qs in scans.values() for t in qs)


def external_cpu(passes):
    """Median share of the machine's cores that other processes used during
    the steady passes: host CPU load minus this process's."""
    return statistics.median([max(0.0, p["host_cpu_load"] - p["own_cpu_load"])
                         for p in passes if p["kind"] in ("steady", "traced")])


def end_to_end(res, setups, rows, failed, attempted):
    passes = res["passes"]
    steady = [p for p in passes if p["kind"] == "steady"]
    samples = [query_wall(q) for p in steady for q in p["queries"] if q["error"] is None]
    try:
        tail, beyond = stats.tail_percentile(samples, TAIL_P)
    except ValueError as e:
        sys.exit(f"perfbench: too few successful executions for the latency tail: {e}")
    warm = statistics.median([pass_wall(p) for p in steady])
    scans = {q: v["scans"] for q, v in res["verify"].items()}
    m = {
        "setup_s": statistics.median(setups),
        "first_pass_s": pass_wall(passes[0]),
        "warm_pass_s": warm,
        "query_p50_s": statistics.median(samples),
        "query_p75_s": tail,
        "rows_per_s": rows_per_pass(scans, rows) / warm,
        "ok_frac": 1.0 - failed / attempted,
    }
    detail = {"steady_passes": len(steady), "query_samples": len(samples),
              "samples_beyond_tail": beyond, "setup_samples_s": setups}
    return m, detail


def _job_spans(res):
    """Job and stage records of the traced run, the stage attributed to the
    job that ran it (the latest-starting job listing it)."""
    tr = res["trace"]
    jobs = {j["id"]: j for j in tr["jobs"]}
    stage_job = {}
    for s in tr["stages"]:
        if s["submit"] < 0:
            continue
        cands = [j for j in jobs.values() if s["id"] in j["stages"] and j["start"] <= s["submit"] + 1_000_000]
        if cands:
            stage_job[(s["id"], s["attempt"])] = max(cands, key=lambda j: j["start"])["id"]
    by_job = {}
    for s in tr["stages"]:
        jid = stage_job.get((s["id"], s["attempt"]))
        if jid is not None:
            by_job.setdefault(jid, []).append(s)
    return jobs, by_job


def pass_spans(idx, p, jobs, by_job):
    """The span tree of one traced pass, plus the layer each job ran in."""
    spans = [{"id": f"p{idx}", "parent": None, "layer": "pass",
              "start": p["start"], "end": p["end"]}]
    job_phase = {}
    for qi, q in enumerate(p["queries"]):
        qid = f"p{idx}q{qi}"
        spans.append({"id": qid, "parent": f"p{idx}", "layer": "query",
                      "name": q["q"], "start": q["start"], "end": q["end"]})
        phases = []
        for name, (a, b) in q["phases"].items():
            sid = f"{qid}.{name}"
            phases.append((sid, name, a, b))
            spans.append({"id": sid, "parent": qid, "layer": name, "start": a, "end": b})
        group = f"q:{idx}:{q['q']}"
        for j in (j for j in jobs.values() if j["group"] == group and j["end"] >= 0):
            parent, layer = qid, "query"
            for sid, name, a, b in phases:
                if a <= j["start"] <= b:
                    parent, layer = sid, name
            job_phase[j["id"]] = layer
            jid = f"j{j['id']}"
            spans.append({"id": jid, "parent": parent, "layer": "job",
                          "start": j["start"], "end": j["end"]})
            for s in by_job.get(j["id"], []):
                if s["complete"] >= 0:
                    spans.append({"id": f"s{s['id']}.{s['attempt']}", "parent": jid,
                                  "layer": "stage", "start": s["submit"], "end": s["complete"]})
    return spans, job_phase


def per_layer(res, rows, small_rows):
    passes = res["passes"]
    cpus = int(res["cpus"])
    jobs, by_job = _job_spans(res)
    traced = [(i, p) for i, p in enumerate(passes) if p["kind"] in ("first", "traced")]
    per_pass = []
    all_spans = []
    for i, p in traced:
        spans, job_phase = pass_spans(i, p, jobs, by_job)
        all_spans.extend(spans)
        wall = p["end"] - p["start"]
        selfs = stats.self_times(spans)
        _, cut = stats.clip_spans(spans)
        v = {f"self.{layer}_ms": _ms(selfs.get(layer, 0)) for layer in SELF_LAYERS}
        v["trace.self_gap_frac"] = abs(sum(selfs.values()) - wall) / wall
        v["trace.clip_frac"] = cut / wall

        def phase_sum(name):
            return sum(_ms(q["phases"][name][1] - q["phases"][name][0])
                       for q in p["queries"] if name in q["phases"])
        v["build.ms"] = phase_sum("build")
        v["exec.ms"] = phase_sum("exec")
        for c in ("analysis", "optimizer", "planning"):
            v[f"catalyst.{c}_ms"] = phase_sum(f"catalyst.{c}")
        build_jobs = [jobs[j] for j, ph in job_phase.items() if ph == "build"]
        exec_jobs = [j for j, ph in job_phase.items() if ph == "exec"]
        v["build.jobs"] = len(build_jobs)
        v["build.job_ms"] = sum(_ms(j["end"] - j["start"]) for j in build_jobs)
        stages = [s for j in job_phase for s in by_job.get(j, [])]
        exec_stages = [s for j in exec_jobs for s in by_job.get(j, [])]
        v["sched.jobs"] = len(job_phase)
        v["sched.stages"] = len(stages)
        v["sched.tasks"] = sum(s["tasks"] for s in stages)
        v["sched.delay_ms"] = sum(s["delay_ms"] for s in stages)
        v["sched.deser_ms"] = sum(s["deser_ms"] for s in stages)
        v["exec.task_run_ms"] = sum(s["run_ms"] for s in exec_stages)
        v["exec.task_cpu_ms"] = sum(s["cpu_ms"] for s in exec_stages)
        v["exec.core_busy_frac"] = (v["exec.task_run_ms"] / (v["exec.ms"] * cpus)
                                    if v["exec.ms"] else 0.0)
        v["shuffle.write_bytes"] = sum(s["shuffle_write_bytes"] for s in stages)
        v["shuffle.read_bytes"] = sum(s["shuffle_read_bytes"] for s in stages)
        v["shuffle.fetch_wait_ms"] = sum(s["fetch_wait_ms"] for s in stages)
        v["scan.rows"] = sum(s["input_rows"] for s in stages)
        v["scan.bytes"] = sum(s["input_bytes"] for s in stages)
        v["artifact.bytes_written"] = sum(s["output_bytes"] for j in build_jobs
                                          for s in by_job.get(j["id"], []))
        live = sum(q["exchange_live"] for q in p["queries"])
        reused = sum(q["exchange_reused"] for q in p["queries"])
        v["exchange.live"], v["exchange.reused"] = live, reused
        v["exchange.reuse_ratio"] = stats.reuse_ratio(live, reused)
        per_pass.append((p["kind"], v))

    first = per_pass[0][1]
    warm = [v for kind, v in per_pass if kind == "traced"]
    m = {k: statistics.median([v[k] for v in warm]) for k in warm[0]}
    m["artifact.first_build_ms"] = first["build.ms"] - m["build.ms"]
    m["artifact.bytes_written"] = first["artifact.bytes_written"]

    traced_passes = [p for _, p in traced if p["kind"] == "traced"]
    first_p = passes[0]
    m["codegen.compiles"] = first_p["codegen_compiles"]
    m["codegen.compile_ms"] = _ms(first_p["codegen_ns"])
    m["jvm.jit_ms"] = first_p["jit_ms"]
    m["codegen.warm_compiles"] = statistics.median([p["codegen_compiles"] for p in traced_passes])
    m["jvm.warm_jit_ms"] = statistics.median([p["jit_ms"] for p in traced_passes])
    m["jvm.gc_ms"] = statistics.median([p["gc_ms"] for p in traced_passes])

    for c in MEMO_CACHES:
        tot = [sum(p["memo"][c][k] for p in traced_passes) for k in range(4)]
        n = len(traced_passes)
        m[f"memo.{c}.hits"] = tot[0] / n
        m[f"memo.{c}.misses"] = tot[1] / n
        if not c.startswith("deng2020"):
            m[f"memo.{c}.evicted"] = tot[2] / n
        m[f"memo.{c}.fill_ms"] = _ms(tot[3]) / n
        m[f"memo.{c}.hit_ratio"] = tot[0] / (tot[0] + tot[1]) if tot[0] + tot[1] else 0.0

    sent = [_ms(p["sentinel_ns"]) for p in passes if p["sentinel_ns"] is not None]
    m["host.sentinel_ms"] = statistics.median(sent)
    m["host.sentinel_iqr_frac"] = stats.iqr_frac(sent)
    m["host.external_cpu_frac"] = external_cpu(passes)

    steady = [pass_wall(p) for p in passes if p["kind"] == "steady"]
    m["trace.overhead_frac"] = (statistics.median([pass_wall(p) for p in traced_passes])
                                / statistics.median(steady) - 1.0)
    scans = {q: v["scans"] for q, v in res["verify"].items()}
    small = [pass_wall(p) for p in passes if p["kind"] == "small"]
    xs = [rows_per_pass(scans, rows)] * len(steady) + [rows_per_pass(scans, small_rows)] * len(small)
    a, b = stats.linear_fit(xs, steady + small)
    m["fit.fixed_s"], m["fit.s_per_mrow"] = a, b * 1e6
    return m, all_spans


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _on_stop)
    start = time.monotonic()
    deadline = start + RUN_BUDGET_S

    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        sys.exit("perfbench: run from the repository root; the engine's sources are missing")
    # the first run in a checkout builds: it may take longer
    cp, opts = build(start + 800.0)
    if time.monotonic() - start > 60:
        deadline = time.monotonic() + RUN_BUDGET_S

    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    small = os.path.join(work, "data_small")
    rows = gen.write(data, a.seed, gen.sizes_for(**workloads.FULL))
    small_rows = (gen.write(small, a.seed, gen.sizes_for(**workloads.SMALL))
                  if a.trace else None)
    queries = workloads.WORKLOADS[a.workload]
    log(f"inputs written: {rows}")
    jvm = Jvm(cp, opts, work)
    base = [f"dir={data}", f"tables={','.join(workloads.TABLES)}"]

    setups = []
    # set-up is an end-to-end metric: a traced run does not time it
    for i in range(0 if a.trace else SETUP_PROBES):
        ready, rc = jvm.run(["mode=setup", *base], deadline - time.monotonic(), f"setup{i}.log")
        if ready is None or rc != 0:
            sys.exit(f"perfbench: set-up launch failed (exit {rc}); see .bench_build/work/setup{i}.log")
        setups.append(ready)
        log(f"set-up launch {i}: {ready:.2f} s")

    out = os.path.join(work, "result.json")
    outputs = os.path.join(work, "outputs")
    remaining = deadline - time.monotonic()
    args = [*base, "mode=run", f"queries={','.join(queries)}", f"seconds={a.seconds}",
            f"min_samples={0 if a.trace else MIN_SAMPLES}",
            f"max_seconds={max(a.seconds, min(3 * a.seconds, remaining - 70))}",
            f"trace={a.trace}", f"verify_dir={outputs}", f"out={out}"]
    if a.trace:
        args.append(f"small_dir={small}")
    ticks = cpu_ticks()
    ready, rc = jvm.run(args, remaining - 10, "client.log")
    steal = steal_frac(ticks, cpu_ticks())
    if rc != 0 or ready is None or not os.path.exists(out):
        sys.exit(f"perfbench: client failed (exit {rc}); see .bench_build/work/client.log")
    setups.append(ready)
    log(f"client done (set-up {ready:.2f} s)")
    res = json.load(open(out))

    # output check, outside every timed window
    mismatch = oracle.check(data, workloads.TABLES, outputs, res["oracle_sql"],
                            os.path.join(work, "duckdb-tmp"))
    for q, v in res["verify"].items():
        if v["error"] is not None:
            mismatch[q] = f"verification run threw: {v['error']}"
    log("output check done")
    execs = [q for p in res["passes"] for q in p["queries"]]
    attempted = len(execs)
    bad = [q for q in execs if q["error"] is not None or mismatch.get(q["q"]) is not None]
    failures = sorted({q["q"] for q in bad})
    correct = not bad and all(v is None for v in mismatch.values())

    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "queries": queries, "rows": rows, "cpus": res["cpus"],
              "oracle": {q: v or "match" for q, v in mismatch.items()},
              "failed_queries": failures,
              "errors": sorted({f"{q['q']}: {q['error']}" for q in bad if q["error"]})}
    sent = [_ms(p["sentinel_ns"]) for p in res["passes"] if p["sentinel_ns"] is not None]
    ext = external_cpu(res["passes"])
    report["sentinel_ms"] = sent
    report["external_cpu_frac"] = ext
    report["steal_frac"] = steal
    report["contended"] = ext > CONTENDED_EXTERNAL_CPU or steal > CONTENDED_STEAL
    if a.trace:
        metrics, spans = per_layer(res, rows, small_rows)
        metrics["host.steal_frac"] = steal
        units = dict(PER_LAYER)
        with open(os.path.join(BUILD, f"{tag}_spans.json"), "w") as f:
            json.dump(spans, f)
    else:
        metrics, detail = end_to_end(res, setups, rows, len(bad), attempted)
        report.update(detail)
        units = dict(END_TO_END)
    report["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    report["passes"] = [{"kind": p["kind"], "wall_s": pass_wall(p),
                         "queries": {q["q"]: query_wall(q) for q in p["queries"]}}
                        for p in res["passes"]]
    with open(os.path.join(BUILD, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)

    for k, u in units.items():
        print(f"{k:34s} {metrics[k]:>16.6g} {u}")
    n_ok = sum(1 for v in mismatch.values() if v is None)
    print(f"output check: {n_ok}/{len(mismatch)} queries match the DuckDB oracle"
          + (f"; failing: {', '.join(failures)}" if failures else ""))
    print(f"host: sentinel median {statistics.median(sent):.1f} ms (iqr {stats.iqr_frac(sent):.3f}),"
          f" other processes {ext:.3f} of the cores, steal {steal:.3f}"
          f" -> {'CONTENDED' if report['contended'] else 'not contended'}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(bad),
                      "metrics": report["metrics"]}))


if __name__ == "__main__":
    main()
