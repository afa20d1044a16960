#!/usr/bin/env python3
"""graft benchmark: two seeded workloads, each in one JVM on
local[availableProcessors] with one client thread (see README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke          # the benchmark's own test
    python3 perfbench/run.py compare A.json B.json

Run from the repository root. The first run builds graft and the
workload code with sbt; later runs reuse the build while the sources
are unchanged. The last line of stdout is the result JSON.
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
import zipfile

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import inputs  # noqa: E402
import oracle  # noqa: E402

STATE = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["foto_weekly", "analyst_index"]
# a first run (compile, archive training, the run) stays within 900 s
BUILD_TIMEOUT_S = 360
TRAIN_TIMEOUT_S = 360
RUN_TIMEOUT_S = 170

# Java module openings Spark needs outside spark-submit (as in graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the sources are unchanged; returns the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no graft sources here ({need} is missing); run from a graft checkout")
    os.makedirs(STATE, exist_ok=True)
    stamp, cp_file = os.path.join(STATE, "build.stamp"), os.path.join(STATE, "classpath.txt")
    digest = sources_digest()
    if (os.path.exists(stamp) and os.path.exists(cp_file) and os.path.exists(ARCHIVE)
            and open(stamp).read() == digest):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       HERE, env, out, BUILD_TIMEOUT_S)
    if rc != 0:
        die(f"build failed (exit {rc}); see {log}")
    with open(os.path.join(HERE, "target", "classpath.txt")) as f:
        cp = jar_classpath(f.read().strip())
    with open(cp_file, "w") as f:
        f.write(cp)
    train_class_archive(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def jar_classpath(cp):
    """Packs the compiled class directories into jars, which the JVM's
    class-data archive requires."""
    os.makedirs(os.path.join(STATE, "jars"), exist_ok=True)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(STATE, "jars", f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, files in sorted(os.walk(entry)):
                    for f in sorted(files):
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


ARCHIVE = os.path.join(STATE, "classes.jsa")


def train_class_archive(cp):
    """Records the classes one smoke cycle of every workload loads into a
    class-data archive, so each later JVM maps them instead of loading and
    verifying them again. That shortens the first, cold set-up of a run by
    10-20 s on 4 cores; the median of three set-ups that `setup_s` reports
    is a later one. Every run uses the archive, and a failed training
    fails the build."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(STATE, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    pairs = []
    for w in WORKLOADS:
        data = os.path.join(work, "data", w)
        make_inputs(w, 1, True, data)
        pairs += [w, data]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(STATE, "train.log"), "w") as log:
        rc = run_child(java_cmd(cp, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
                       + ["graftbench.Main", "train", work] + pairs,
                       work, java_env(work), log, TRAIN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        die(f"class-data archive training failed (exit {rc}); see {os.path.join(STATE, 'train.log')}")


def java_cmd(cp, work, archive_flag=f"-XX:SharedArchiveFile={ARCHIVE}"):
    return (["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", archive_flag]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp])


def java_env(work):
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))


def run_child(cmd, cwd, env, out, timeout):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def heap():
    """SPARK_DRIVER_MEM if set, else half of MemTotal clamped to 2..8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


SIZES = {  # workload -> (sf, documents, embeddings), standard and smoke
    "foto_weekly": None,  # the JVM generates the photo corpus itself
    "analyst_index": ((0.01, 600, 600), (0.001, 150, 150)),
}
CURATE_CONTENT_SEED = 44


def make_inputs(workload, seed, smoke, data):
    """Generates the workload's inputs into `data`; returns their digest."""
    if SIZES[workload] is None:
        return "none"
    sf, n_docs, n_emb = SIZES[workload][1 if smoke else 0]
    inputs.generate(data, seed, sf, n_docs, n_emb)
    if workload == "analyst_index":
        # the corpus: fixed content, seeded order, since the curated
        # survivor set must not depend on the order
        rng = np.random.default_rng(CURATE_CONTENT_SEED)
        docs = inputs.documents(rng, n_docs, planted=n_docs // 25, near=n_docs // 25)
        pq.write_table(docs, os.path.join(data, "documents_by_id.parquet"))
        perm = np.random.default_rng(seed).permutation(n_docs)
        pq.write_table(docs.take(perm), os.path.join(data, "documents.parquet"))
    return inputs.digest(data)


def run(workload, seed, seconds, trace, smoke=False):
    """One run; returns the full result dict (correct, attempted, failed,
    metrics, layers, host fingerprint, input digest)."""
    cp = build()
    t_start = time.time()
    tag = f"{workload}-{seed}-{trace}-{os.getpid()}"
    data, work = os.path.join(STATE, "data", tag), os.path.join(STATE, "work", tag)
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        t0 = time.time()
        digest = make_inputs(workload, seed, smoke, data)
        gen_s = time.time() - t0
        out = os.path.join(work, "result.json")
        cmd = java_cmd(cp, work) + ["graftbench.Main", workload, str(seed), str(seconds),
                                           str(trace), data, work, out, "1" if smoke else "0"]
        os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
        log = os.path.join(STATE, "logs", f"{workload}-{seed}-{trace}.log")
        with open(log, "w") as lf:
            rc = run_child(cmd, work, java_env(work), lf, max(30, RUN_TIMEOUT_S - (time.time() - t_start)))
        if rc != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            die(f"{workload} run failed (exit {rc}); see {log}", 1)
        with open(out) as f:
            res = json.load(f)
        if workload == "analyst_index":
            bad = oracle.check(data, os.path.join(work, "sql_results"),
                               os.path.join(work, "sql_oracle.json"))
            res["failures"] += bad
            res["failed"] = min(res["attempted"], res["failed"] + len(bad))
        res["host"]["class_archive"] = True
        res["input_digest"] = digest if digest != "none" else res.pop("jvm_input_digest")
        res["gen_s"], res["wall_s"] = gen_s, time.time() - t_start
        res["workload"], res["seed"], res["trace"] = workload, seed, trace
        if trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(STATE, "traces", f"{workload}-{seed}.jsonl"))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(data, ignore_errors=True)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def summary(res, spec):
    """The one-line result: end-to-end metrics untraced, per-layer traced.
    A layer the workload does not exercise reads 0."""
    if res["trace"]:
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res["metrics"][m["name"]]["value"]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def save(res):
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    path = os.path.join(STATE, "results", f"{res['workload']}-{res['seed']}-{res['trace']}.json")
    with open(path, "w") as f:
        json.dump(res, f, indent=1)
    return path


def trace_overhead(traced):
    """Tracing overhead in %: the traced cycle's op_geomean_ms against the
    saved untraced run of the same workload, seed and inputs (None if
    there is none). Both cycles are the first in their JVM."""
    path = os.path.join(STATE, "results", f"{traced['workload']}-{traced['seed']}-0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        plain = json.load(f)
    if ("op_geomean_ms" not in plain or plain["input_digest"] != traced["input_digest"]
            or plain["host"] != traced["host"]):
        return None
    a, b = (r["op_geomean_ms"] for r in (plain, traced))
    return (b / a - 1) * 100


def compare(a_path, b_path):
    """Prints B/A for each metric of two saved results of the same workload,
    seed and trace mode; refuses results from different hosts or inputs."""
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    for key in ("workload", "trace", "host", "input_digest"):
        if a.get(key) != b.get(key):
            die(f"refusing to compare: {key} differs ({a.get(key)} vs {b.get(key)})")
    rows = [(n, m["value"], b["metrics"][n]["value"], m["unit"]) for n, m in a["metrics"].items()]
    rows += [("op_geomean_ms", a["op_geomean_ms"], b["op_geomean_ms"], "ms"),
             ("work_per_s", a["work_per_s"], b["work_per_s"], "1/s")]
    for name, va, vb, unit in rows:
        ratio = vb / va if va else float("nan")
        print(f"{name:20s} {va:12.4f} {vb:12.4f} {ratio:8.3f} {unit}")


def smoke(seconds):
    """Every workload, tiny inputs, untraced and traced: every declared
    metric must be emitted with its unit, and every check must pass."""
    spec = declared()
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            res = run(w, 1, seconds, trace, smoke=True)
            line = summary(res, spec)
            names = spec["per_layer" if trace else "end_to_end"]
            for m in names:
                got = line["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w} trace={trace}: {m['name']} missing or wrong unit")
                elif not trace and not got["value"] > 0:
                    problems.append(f"{w}: end-to-end {m['name']} is {got['value']}")
            if not trace:
                missing = [k for k in res["metrics"] if k not in {m["name"] for m in names}]
                problems += [f"{w}: undeclared metric {k}" for k in missing]
            layer_names = {m["name"] for m in spec["per_layer"]}
            problems += [f"{w}: undeclared layer metric {k}" for k in res["layers"] if k not in layer_names]
            if not line["correct"]:
                problems.append(f"{w} trace={trace}: failures {res['failures'][:3]}")
            print(f"smoke {w} trace={trace}: attempted={line['attempted']} failed={line['failed']}",
                  file=sys.stderr)
    for p in problems:
        print(p, file=sys.stderr)
    print(json.dumps({"smoke": "ok" if not problems else "failed", "problems": len(problems)}))
    return 0 if not problems else 1


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        compare(sys.argv[2], sys.argv[3])
        return 0
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke(min(args.seconds, 4))
    if not args.workload:
        die("--workload is required")
    spec = declared()
    res = run(args.workload, args.seed, args.seconds, args.trace)
    if args.trace:
        res["trace_overhead_pct"] = trace_overhead(res)
    path = save(res)
    print(f"full result: {path}", file=sys.stderr)
    print(json.dumps(summary(res, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
