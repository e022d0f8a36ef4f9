#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness
from source (once per source state, cached under `.bench_build/`),
generates the seeded inputs, runs the workload's set-up several times,
measures whole blocks of a closed loop for at least `--seconds`, checks
the outputs against the registered DuckDB oracles, and prints one JSON
object as its last line: the end-to-end metrics untraced, the per-layer
metrics traced.
Lines starting with `detail` before it carry the finer per-layer and
per-workload numbers. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402
import sessions  # noqa: E402

# input scale: half the engine's oracle-gate scale (0.01). Run cost is
# mostly fixed per job, but the dashboard's largest results and the
# graph oracles shrink with it, which keeps a run near a minute.
SF = 0.005
SETUPS = 3         # set-ups per run; setup_s is their median
HEAP = "3g"
# The JVM runs with C1 only. A run is short and starts cold, and C2's
# background compiles compete with the task threads at moments that
# differ from run to run: over five seeds a graph pass had a quartile
# spread of 0.145 of its median with C2 and 0.057 with C1 only, a
# pipeline unit burned 169 CPU-s with C2 and 113 with C1 only for about
# the same wall time.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1"]
# The harness JVM may take the window plus this: JVM start, the set-ups,
# the dashboard's tour, the unit or block that overruns the window, and
# the checks. At the listed run length it leaves the oracle compare
# inside a 180 s run.
JVM_MARGIN_S = 150
BUILD_TIMEOUT_S = 600  # a first run builds, then runs: under 900 s
WORKLOADS = ("pipeline", "dashboard", "export", "graph", "bridge")

E2E_UNITS = {"setup_s": "s", "latency_ms": "ms", "heap_live_mb": "MB"}
LAYER_UNITS = {
    "unit.jobs": "count", "unit.stages": "count", "unit.tasks": "count",
    "unit.exec_cpu_s": "s", "unit.exec_run_s": "s", "unit.exec_wait_s": "s",
    "unit.shuffle_mb": "MB", "unit.in_rows": "count",
    "unit.job_ms": "ms", "unit.driver_gap_ms": "ms", "unit.build_ms": "ms",
    "unit.codegen_compiles": "count",
    "proc.user_s": "s", "proc.sys_s": "s", "proc.minflt": "count",
    "proc.majflt": "count", "jvm.gc_s": "s", "trace.listener_ms": "ms",
}

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files(root):
    """Every file the build reads, as paths relative to the checkout."""
    fixed = ["build.sbt", "project/build.properties",
             "perfbench/jvm/build.sbt", "perfbench/jvm/project/build.properties"]
    out = [p for p in fixed if os.path.isfile(os.path.join(root, p))]
    for top in ("src/main", "perfbench/jvm/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            out += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    return sorted(out)


def build(root, build_dir):
    """The harness classpath, rebuilt with sbt when any source changed."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src/main/scala"))):
        raise BenchError("no engine sources here: run from the repository root")
    os.makedirs(build_dir, exist_ok=True)
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.isfile(repos):
        opts = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                + opts)
    env["SBT_OPTS"] = os.environ.get("SBT_OPTS", opts)
    log("building engine and harness with sbt")
    with open(os.path.join(build_dir, "build.log"), "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench/jvm"), env=env,
            stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise BenchError(f"sbt failed (exit {p.returncode}); see {build_dir}/build.log")
    cp = lines[-1].strip()
    if not all(os.path.exists(e) for e in cp.split(os.pathsep)):
        raise BenchError("sbt printed no usable classpath")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


# ------------------------------------------------------------------ run

def data_key(seed):
    """Names the generated inputs: scale, seed and generator source."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:16]
    return f"sf={SF} seed={seed} gen={gen}"


def run_jvm(root, cp, args, work, data, calls_file, tour_file, cpus, result):
    jvm_log = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", *JIT_FLAGS,
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile="
            + os.path.join(HERE, "jvm", "log4j2.properties"),
            "-cp", cp, "perfbench.Main",
            f"workload={args.workload}", f"seed={args.seed}",
            f"seconds={args.seconds}", f"trace={args.trace}",
            f"cpus={cpus}", f"setups={SETUPS}",
            f"work={work}", f"data={data}", f"calls={calls_file or ''}",
            f"tour={tour_file or ''}",
            f"result={result}"]
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=args.seconds + JVM_MARGIN_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the JVM's own children (bridge workers) share its group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if rc != 0 or not os.path.isfile(result):
        with open(jvm_log) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(result) as f:
        return json.load(f)


# -------------------------------------------------------------- metrics

def unit_latencies_ms(ops):
    units = {}
    for o in ops:
        units[o["unit"]] = units.get(o["unit"], 0) + o["wall_ns"] / 1e6
    return [units[u] for u in sorted(units)]


def end_to_end(r):
    lat = unit_latencies_ms(r["ops"])
    return {
        "setup_s": benchlib.percentile(r["setup_s"], 50),
        # the mean, not the median: a dashboard block's call latencies are
        # bimodal, and their median falls in the gap between the modes
        "latency_ms": sum(lat) / len(lat),
        "heap_live_mb": r["heap_live_bytes"] / 2**20,
    }


KERNELS = ("components", "dfcc", "pagerank", "labelprop", "kcore",
           "closeness", "hyperball")


def layer_of(kind):
    """The engine layer an op kind exercises."""
    if kind == "export":
        return "export"
    if kind == "score":
        return "bridge"
    return "graph" if kind in KERNELS else "dash"


def unit_spans(r, layer=None):
    """Per unit: its op spans (of one layer, if given), the non-job spans
    at or below them and the job spans below them."""
    spans = r["spans"]
    out = {}
    for s in spans:
        if s["level"] == "op" and (layer is None or layer_of(s["name"]) == layer):
            u = out.setdefault(s["attrs"]["unit"], {"jobs": [], "inner": []})
            below = benchlib.descendants(spans, s["id"])
            u["jobs"] += [b for b in below if b["level"] == "job"]
            u["inner"] += [s] + [b for b in below if b["level"] != "job"]
    return out


def job_sums(jobs):
    a = [j["attrs"] for j in jobs]
    cpu = sum(x["exec_cpu_ns"] for x in a) / 1e9
    run = sum(x["exec_run_ms"] for x in a) / 1e3
    return {"jobs": len(a), "stages": sum(x["stages"] for x in a),
            "tasks": sum(x["tasks"] for x in a), "exec_cpu_s": cpu,
            "exec_run_s": run, "exec_wait_s": max(0.0, run - cpu),
            "gc_s": sum(x["gc_ms"] for x in a) / 1e3,
            "shuffle_mb": sum(x["shuffle_read_bytes"] + x["shuffle_write_bytes"]
                              for x in a) / 2**20,
            "in_rows": sum(x["in_rows"] for x in a)}


def unit_profile(r, layer=None):
    """Mean per unit of its Spark work and its driver gap."""
    st = benchlib.self_times(r["spans"])
    rows = []
    for u in unit_spans(r, layer).values():
        row = job_sums(u["jobs"])
        row["job_ms"] = benchlib.union_length(
            (j["start_ns"], j["end_ns"]) for j in u["jobs"]) / 1e6
        row["driver_gap_ms"] = sum(st[s["id"]] for s in u["inner"]) / 1e6
        rows.append(row)
    if not rows:
        raise BenchError("the traced run recorded no unit")
    return {k: sum(x[k] for x in rows) / len(rows) for k in rows[0]}


def per_layer(r):
    prof = unit_profile(r)
    units = sorted({o["unit"] for o in r["ops"]})
    build = {u: 0.0 for u in units}
    compiles = {u: 0 for u in units}
    for o in r["ops"]:
        build[o["unit"]] += o["phases"].get("build", 0) / 1e6
        compiles[o["unit"]] += o["compiles"]
    d = benchlib.counter_deltas(r["proc"]["before"], r["proc"]["after"])
    m = {f"unit.{k}": prof[k] for k in
         ("jobs", "stages", "tasks", "exec_cpu_s", "exec_run_s", "exec_wait_s",
          "shuffle_mb", "in_rows", "job_ms", "driver_gap_ms")}
    m.update({
        "unit.build_ms": benchlib.percentile(list(build.values()), 50),
        "unit.codegen_compiles": sum(compiles.values()) / len(units),
        "proc.user_s": d["user_s"], "proc.sys_s": d["sys_s"],
        "proc.minflt": d["minflt"], "proc.majflt": d["majflt"],
        "jvm.gc_s": d["gc_s"],
        "trace.listener_ms": r["listener_ns"] / 1e6 / len(units),
    })
    return m


def layer_unit_walls_s(ops, layer):
    """Per unit, the wall of that unit's ops of one layer."""
    units = {}
    for o in ops:
        if layer_of(o["kind"]) == layer:
            units[o["unit"]] = units.get(o["unit"], 0) + o["wall_ns"] / 1e9
    return list(units.values())


def details(r, calls):
    """The workload's own numbers: the end-to-end figures under their
    layer names, and (traced) each layer's counters."""
    ops = r["ops"]
    lat = unit_latencies_ms(ops)
    d = benchlib.counter_deltas(r["proc"]["before"], r["proc"]["after"])
    out = {"latency_ms": sum(lat) / len(lat),
           "latency_p50_ms": benchlib.percentile(lat, 50),
           "latency_p90_ms": benchlib.percentile(lat, 90),
           # CPU the JVM burns per unit, blind to time the host steals
           "cpu_s": (d["user_s"] + d["sys_s"]) / len(lat),
           "host.steal_s": d["steal_s"], "host.probe_ms": r["host_probe_ms"],
           "window_s": r["window_s"],
           "units": len(lat), "harness.jvm_s": r["jvm_s"],
           "harness.setups_s": sum(r["setup_s"]), "harness.check_s": r["check_s"],
           "harness.oracle_s": r["oracle_s"], "jvm_start_s": r["jvm_start_s"],
           "rss_peak_mb": r["proc"]["after"]["vm_hwm_kb"] / 1024.0}
    layers = sorted({layer_of(o["kind"]) for o in ops})
    last = {o["kind"]: o["extra"] for o in ops}
    for layer in layers:
        walls = layer_unit_walls_s(ops, layer)
        if layer == "export":
            out["export_s"] = benchlib.percentile(walls, 50)
            out["export_out_mb"] = last["export"].get("out_bytes", 0) / 2**20
            out["export.raw_mb"] = last["export"].get("raw_bytes", 0) / 2**20
            out["export.files"] = last["export"].get("files", 0)
        elif layer == "bridge":
            out["bridge_s"] = benchlib.percentile(walls, 50)
            out["bridge.pairs"] = last["score"].get("pairs", 0)
            out["bridge.worker_cpu_s"] = d["child_cpu_s"] / len(walls)
        elif layer == "graph":
            out["graph_s"] = benchlib.percentile(walls, 50)
            for k in KERNELS:
                xs = [o["wall_ns"] / 1e9 for o in ops if o["kind"] == k]
                out[f"graph.kernel_s.{k}"] = benchlib.percentile(xs, 50)
        else:
            out.update(dash_details(ops, calls, r))
    if not r["trace"]:
        return out

    info = r.get("setup_info", {})
    if "table_s" in info:
        out["registry.build_s"] = info["build_s"]
        for t, s in info["table_s"].items():
            out[f"registry.table_s.{t}"] = s
        out["registry.cache_mb"] = info["cache_bytes"] / 2**20
    reg_jobs = [j for s in r["spans"]
                if s["level"] == "phase" and s["name"].startswith("registry:")
                for j in benchlib.descendants(r["spans"], s["id"])
                if j["level"] == "job"]
    if reg_jobs:
        out["registry.exec_cpu_s"] = job_sums(reg_jobs)["exec_cpu_s"]
    for layer in layers:
        prof = unit_profile(r, layer)
        for k, v in prof.items():
            out[f"{layer}.{k}"] = v
        out[f"{layer}.driver_gap_s"] = prof["driver_gap_ms"] / 1e3
    if "export" in layers:
        units = unit_spans(r, "export")
        sinks = {}
        for u in units.values():
            for j in u["jobs"]:
                g = j["attrs"]["group"]
                if g.startswith("sink:"):
                    sinks[g[5:]] = sinks.get(g[5:], 0) + j["attrs"]["exec_cpu_ns"] / 1e9
        for name, cpu in sorted(sinks.items(), key=lambda kv: -kv[1])[:5]:
            out[f"export.sink_cpu_s.{name}"] = cpu / len(units)
    out.update({"proc.user_s": d["user_s"], "proc.sys_s": d["sys_s"],
                "proc.minflt": d["minflt"], "proc.majflt": d["majflt"],
                "jvm.gc_s": d["gc_s"]})
    for level, s in sorted(benchlib.self_time_by_level(r["spans"]).items()):
        out[f"self_s.{level}"] = s
    return out


def dash_details(ops, calls, r):
    lat = unit_latencies_ms(ops)
    out = {"dash_p50_ms": benchlib.percentile(lat, 50),
           "dash_p90_ms": benchlib.percentile(lat, 90)}
    out["dash.samples_beyond_p90"] = sum(x > out["dash_p90_ms"] for x in lat)
    stats = sessions.traffic_stats(calls[:len(lat)])
    for k, v in stats["share"].items():
        out[f"dash.share.{k}"] = v
    for k, v in stats["distinct_literals"].items():
        out[f"dash.distinct_literals.{k}"] = v
    out["dash.distinct_calls"] = stats["distinct_calls"]
    out["dash.registry_evicted_blocks"] = r["details"].get(
        "registry_evicted_partitions", 0)
    for phase in ("build", "plan", "exec"):
        xs = [o["phases"].get(phase, 0) / 1e6 for o in ops]
        out[f"dash.{phase}_ms.p50"] = benchlib.percentile(xs, 50)
        out[f"dash.{phase}_ms.p90"] = benchlib.percentile(xs, 90)
    for k in sessions.KINDS:
        xs = [o["phases"].get("exec", 0) / 1e6 for o in ops if o["kind"] == k]
        if xs:
            out[f"dash.exec_ms.{k}.p50"] = benchlib.percentile(xs, 50)
    out["dash.codegen_compiles"] = sum(o["compiles"] for o in ops) / len(ops)
    return out


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still takes its JVM (and the JVM's workers) down
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        cp = build(root, build_dir)
        work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            data = datagen.generate(os.path.join(work, "data"), args.seed, SF)
            calls, calls_file, tour_file = [], None, None
            if args.workload == "dashboard":
                n = datagen.sizes(SF)
                blocks = sessions.generate(args.seed, n["orders"], n["supplier"], 100)
                calls = [c for b in blocks for c in b]
                calls_file = os.path.join(work, "calls.tsv")
                sessions.write(calls_file, blocks)
                tour_file = os.path.join(work, "tour.tsv")
                sessions.write(tour_file, [sessions.TOUR])
            cpus = len(os.sched_getaffinity(0))
            result = os.path.join(work, "result.json")
            probe_ms = benchlib.host_probe_ms()
            t0 = time.monotonic()
            r = run_jvm(root, cp, args, work, data, calls_file, tour_file, cpus, result)
            t1 = time.monotonic()
            ok_checks, oracle_fails = oracle.compare(
                data, r["checks"], datagen.TABLES,
                os.path.join(build_dir, "oracle-cache"), data_key(args.seed))
            r["jvm_s"], r["oracle_s"] = t1 - t0, time.monotonic() - t1
            r["host_probe_ms"] = probe_ms
            shutil.copy(result, os.path.join(build_dir, f"last-{args.workload}.json"))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        log(f"error: {e}")
        sys.exit(1)

    failures = ([f"op {o['unit']} {o['kind']}: {o['error']}" for o in r["ops"] if not o["ok"]]
                + r["mismatches"] + r["check_failures"] + oracle_fails)
    attempted = len(r["ops"]) + len(r["checks"])
    for f in failures:
        log(f"FAILED {f}")
    metrics = per_layer(r) if args.trace else end_to_end(r)
    units = LAYER_UNITS if args.trace else E2E_UNITS
    info = details(r, calls)
    info["failed_ratio"] = len(failures) / attempted
    info["checks_ok"] = len(ok_checks)
    for k, v in info.items():
        print(f"detail {k} {v}")
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
