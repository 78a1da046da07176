#!/usr/bin/env python3
"""Benchmark of the crawl services, run from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (cached by source hash under
``perfbench/.work/build``), generates the workload's inputs from ``--seed``,
runs one fresh JVM, checks every output against values the generator
derives on its own, and prints one JSON object as the last line of stdout.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of a traced run, whose timed passes alternate traced and
untraced (``trace.overhead_ratio`` compares the two), and writes the spans
to ``perfbench/.work/traces/``. The traced analyse-drain run then sets up a
one-core session in the same JVM and times one pass for
``engine.speedup_vs_1core``.

Everything it writes stays under ``perfbench/.work``.

Why a run is shaped the way it is. An earlier harness was too noisy: its
runs did 2-3 s of work, its percentiles sat on about five steps and its
timed steps ran in a cold JVM. Here each run
  * times one set-up in the cold JVM (session, workload set-up, warm-up
    pass), the start a production main pays, as ``setup_s``;
  * then runs ``jit_passes`` untimed passes, because pass times keep
    falling for several passes while the JIT compiles the hot paths;
  * then times whole passes (a fixed run length of steps) for about
    ``--seconds`` and reports medians over passes and steps: ``wall_s`` is
    the median wall time of one pass, since the timed phase's own length
    is set by ``--seconds``.
The JVM gets a fixed heap; every Spark setting is the production mains'
(``JobSession.local``).
"""
import argparse
import datetime as dt
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def spark_home():
    """``$SPARK_HOME``, or the one a login shell sets up."""
    home = os.environ.get("SPARK_HOME") or subprocess.run(
        ["bash", "-lc", 'printf %s "$SPARK_HOME"'], capture_output=True,
        text=True).stdout
    if not home:
        sys.exit("perfbench: SPARK_HOME is not set")
    return home


SPARK_JARS = os.path.join(spark_home(), "jars")
HEAP = "2g"
RUN_BUDGET_S = 170  # every JVM of one run, after the build

# Per workload: input size, the fixed run length of one pass, and the tail
# percentile reported as step_tail_ms.
WORKLOADS = {
    "analyse-drain": {"events": 24000, "hosts": 300, "hours": 6, "files": 4,
                      "files_per_trigger": 4, "top_n": 500, "tail_pct": 90,
                      "jit_passes": 1},
    "report-etl": {"events": 9000, "hosts": 300, "hours": 6, "hours_per_pass": 3,
                   "specs": 400, "tail_pct": 75, "jit_passes": 2},
}

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("records_per_s", "1/s"),
              ("step_p50_ms", "ms"), ("step_tail_ms", "ms"),
              ("heap_after_gc_mb", "MB")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# build


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                             recursive=True))
    return prog, bench


def build():
    """Compiles program + harness once per source hash; returns the class dir."""
    prog, bench = sources()
    if not prog:
        sys.exit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    classes = os.path.join(WORK, "build", key)
    if os.path.isdir(classes):
        return classes, key
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(WORK, "build", f"{key}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(prog + bench))
    cp = ":".join(os.path.join(SPARK_JARS, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
        "scala-reflect-2.13.17.jar"))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-classpath",
                        os.path.join(SPARK_JARS, "*"), "-d", staging,
                        "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed ({r.returncode})")
    os.rename(staging, classes)
    log(f"perfbench: built {key} in {time.time() - t0:.1f} s")
    return classes, key


# --------------------------------------------------------------------------
# inputs and expected values


def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def make_inputs(workload, seed, data):
    """Writes the inputs under ``data``; returns (expected values, harness
    parameters)."""
    cfg = WORKLOADS[workload]
    os.makedirs(data)
    params = {}
    if workload in ("analyse-drain", "report-etl"):
        lines, records = gen.crawl_log(seed, cfg["events"], cfg["hosts"], cfg["hours"])
        write_lines(os.path.join(data, "log.jsonl"), lines)
    if workload == "analyse-drain":
        params["records"] = len(lines)
        os.makedirs(os.path.join(data, "log"))
        per = len(lines) // cfg["files"]
        for i in range(cfg["files"]):
            chunk = lines[i * per:(i + 1) * per if i < cfg["files"] - 1 else len(lines)]
            write_lines(os.path.join(data, "log", f"part-{i:05d}.jsonl"), chunk)
        params.update(files_per_trigger=cfg["files_per_trigger"], top_n=cfg["top_n"])
        expected = gen.analyse_expected(records)
        assert len(expected) <= cfg["top_n"]
    elif workload == "report-etl":
        specs = gen.spec_feed(seed, cfg["specs"])
        write_lines(os.path.join(data, "specs.jsonl"),
                    [json.dumps(s) for s in specs])
        expected = {}
        for hour in range(cfg["hours"]):
            start = gen.EPOCH + dt.timedelta(hours=hour)
            e = gen.hour_expected(records, start)
            due = gen.due_seeds(specs, start)
            e.update(due=len(due), due_seeds=gen.digest(due))
            expected[hour] = e
        params.update(hours=cfg["hours"], hours_per_pass=cfg["hours_per_pass"],
                      epoch=gen.EPOCH.strftime("%Y-%m-%dT%H:%M:%SZ"))
    return expected, params


# --------------------------------------------------------------------------
# checks


def check_analyse(out, outputs, expected):
    """Snapshot ``i`` was taken after ``outputs["snapshots"][i]`` passes over
    the whole log, so each host's counts are that multiple of the log's."""
    bad = []
    passes = outputs.get("snapshots", [])
    if not passes:
        bad.append("no snapshot written")
    for i, k in enumerate(passes):
        name = f"snapshot-{i}.json"
        with open(os.path.join(out, name)) as f:
            rows = {r["host"]: r for r in json.load(f)}
        want = gen.scale_expected(expected, k)
        if set(rows) != set(want):
            bad.append(f"{name}: hosts differ ({len(rows)} vs {len(want)} expected)")
            continue
        for h, e in want.items():
            got = {key: rows[h].get(key) for key in e}
            if got != e:
                bad.append(f"{name} ({k} passes): host {h}: {got} != {e}")
                break
    return bad


def check_report(outputs, expected):
    bad = []
    hours = outputs.get("hours", [])
    if not hours:
        bad.append("no hour reported")
    for got in hours:
        e = expected[got["hour"]]
        want = dict(e, raw=e["replayed"])
        diff = {k: (got.get(k), v) for k, v in want.items()
                if str(got.get(k)) != str(v)}
        if diff:
            bad.append(f"hour {got['hour']}: (got, expected) {diff}")
    return bad


# --------------------------------------------------------------------------
# metrics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, pct):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]


def end_to_end(res, cfg):
    passes = res["passes"]
    steps = [s for p in passes for s in p["steps_ms"]]
    return {
        "setup_s": res["setup_s"],
        "wall_s": median([p["wall_s"] for p in passes]),
        "records_per_s": median([p["records"] / p["wall_s"] for p in passes]),
        "step_p50_ms": median(steps),
        "step_tail_ms": percentile(steps, cfg["tail_pct"]),
        "heap_after_gc_mb": res["heap_after_gc_mb"],
    }


def load_spans(path):
    with open(path) as f:
        return [json.loads(l) for l in f]


def self_times(spans):
    """Self time per span name: its duration minus the part its children
    cover (children of one span never overlap: the harness is sequential)."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        t = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        out[s["name"]] = out.get(s["name"], 0) + t
    return out


def per_layer(res, spans, base_wall, speedup):
    """Per-layer metrics of a traced run, in BENCHMARK.json's order. A
    ``<name>_s`` metric is the median duration of the spans called <name>;
    the rest come from the harness's counters. A layer the workload does not
    exercise reads 0."""
    durations = {}
    for s in spans:
        durations.setdefault(s["name"] + "_s", []).append(
            (s["end_ns"] - s["start_ns"]) / 1e9)
    c = dict(res.get("counters", {}))
    e = res["engine"]
    # engine counts are per pass of the traced phase (traced and untraced)
    c.update({f"engine.{k}": v / res["phase_passes"] for k, v in e.items()})
    records = c.get("schema.records", 0)
    parse_s = median(durations.get("schema.parse_s", []))
    c["schema.parse_records_per_s"] = records / parse_s if parse_s else 0.0
    c["schema.malformed_ratio"] = c.get("schema.malformed", 0) / records if records else 0.0
    c["engine.busy_ratio"] = e["task_ms"] / 1000 / (res["traced_wall_s"] * res["cores"])
    c["engine.speedup_vs_1core"] = speedup
    c["jvm.gc_ms"] = res["jvm_gc_ms"]
    c["trace.overhead_ratio"] = median([p["wall_s"] for p in res["traced_passes"]]) / base_wall
    return {m["name"]: {"value": float(median(durations[m["name"]]) if m["name"] in durations
                                       else c.get(m["name"], 0.0)),
                        "unit": m["unit"]}
            for m in BENCH["per_layer"]}


# --------------------------------------------------------------------------
# environment


def env_block(key):
    def read(p):
        try:
            with open(p) as f:
                return f.read().strip()
        except OSError:
            return None
    others = 0
    for d in glob.glob("/proc/[0-9]*"):
        if d == f"/proc/{os.getpid()}":
            continue
        cmd = read(os.path.join(d, "cmdline")) or ""
        if "java" in cmd and "spark" in cmd.lower():
            others += 1
    load = read("/proc/loadavg")
    return {"nproc": os.cpu_count(), "cgroup_cpu_max": read("/sys/fs/cgroup/cpu.max"),
            "load1": float(load.split()[0]) if load else None,
            "spark_jvms_running": others, "source_hash": key}


def jvm(classes, workload, kv, run_dir, deadline):
    local = os.path.join(run_dir, "local")
    os.makedirs(local, exist_ok=True)
    opens = ["java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dspark.local.dir={local}", f"-Djava.io.tmpdir={local}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}",
            "perfbench.Harness", workload] + [f"{k}={v}" for k, v in kv.items()]
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)  # the production default, local[*]
    with open(os.path.join(run_dir, "jvm.log"), "ab") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=logf, env=env, cwd=run_dir)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness JVM exited {rc}:\n{tail}")
    with open(os.path.join(kv["out"], "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]

    classes, key = build()
    deadline = time.time() + RUN_BUDGET_S
    env = env_block(key)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    expected, params = make_inputs(a.workload, a.seed, data)
    out = os.path.join(run_dir, "out")
    kv = dict(params, data=data, out=out, tmp=os.path.join(run_dir, "tmp"),
              seconds=a.seconds, trace=a.trace,
              jit_passes=cfg["jit_passes"],
              run_id=f"{a.workload}-{a.seed}-{int(time.time())}")
    try:
        res = jvm(classes, a.workload,
                  dict(kv, one_core=int(a.trace and a.workload == "analyse-drain")),
                  run_dir, deadline)
        speedup = 0.0
        if a.trace and a.workload == "analyse-drain":
            speedup = (median([p["wall_s"] for p in res["one_core_passes"]])
                       / median([p["wall_s"] for p in res["passes"]]))
    except RuntimeError as e:
        log(str(e))
        shutil.rmtree(run_dir, ignore_errors=True)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        sys.exit(1)

    outputs = res["outputs"]
    if a.workload == "analyse-drain":
        bad = check_analyse(out, outputs, expected)
    else:
        bad = check_report(outputs, expected)
    for b in bad:
        log("CHECK FAILED:", b)

    phase = res["traced_passes"] if a.trace else res["passes"]
    attempted = sum(len(p["steps_ms"]) for p in phase)
    failed = attempted if bad else 0
    steps = [s for p in res["passes"] for s in p["steps_ms"]]
    env.update(load1_end=env_block(key)["load1"], jvm_flags=res["jvm_flags"],
               spark_version=res["spark_version"], master=res["master"],
               cores=res["cores"], steps=len(steps), passes=len(res["passes"]),
               tail_pct=cfg["tail_pct"],
               tail_steps_beyond=int(len(steps) * (100 - cfg["tail_pct"]) / 100),
               failed_ratio=failed / attempted)
    print("env " + json.dumps(env))
    if a.trace:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        tfile = os.path.join(traces, f"{a.workload}-{a.seed}.jsonl")
        shutil.copy(os.path.join(out, "trace.jsonl"), tfile)
        spans = load_spans(tfile)
        st = self_times(spans)
        total = sum(st.values()) or 1
        layers = {}
        for name, t in st.items():
            layer = name.split(".")[0]
            layers[layer] = layers.get(layer, 0) + t
        print("self-time by layer (s): " + ", ".join(
            f"{k} {v / 1e9:.3f} ({100 * v / total:.1f}%)"
            for k, v in sorted(layers.items(), key=lambda kv: -kv[1])))
        base_wall = median([p["wall_s"] for p in res["passes"]])
        metrics = per_layer(res, spans, base_wall, speedup)
    else:
        e2e = end_to_end(res, cfg)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
