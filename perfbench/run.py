#!/usr/bin/env python3
"""graft benchmark: one command, seeded workloads, every output checked.

    python3 perfbench/run.py --workload {faces,maintain} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the library and the
harness with sbt (offline) into the checkout; inputs are generated from the
seed and cached per seed under ``.bench_data/``; each run works in a fresh
directory under ``.bench_work/``. The harness JVM runs at ``local[nproc]``
with one client thread issuing calls in a closed loop.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run, whose spans,
counters and per-layer report are written to ``.bench_work/traces/``. The
lines before it name every metric with its unit, for people. The exit code
is 0 only when a result line was printed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
WORK = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 170
SETUPS = 3
HEAP = "2g"

# faces: one face per query module (13), over an sf0.001-shaped corpus (500
# documents, 500 embeddings, 6k line items, 1k events).
FACES_SAMPLE = 13
# maintain: a corpus of 500 documents and 500 embeddings; each batch changes
# 6% of a base, so the fold policy (changes > 10% of the serving set) trips
# on every second batch. A run lands at least MIN_ROUNDS rounds (a pending
# segment, then a fold); batches exist for MAINTAIN_ROUNDS.
MAINTAIN_DOCS, MAINTAIN_VECS = 500, 500
BATCH_SHARE = 0.06
MIN_ROUNDS, MAINTAIN_ROUNDS = 2, 6

SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData")

# What `spark-submit` adds for Spark on JDK 17 (the repository's build.sbt
# passes the same list to forked runs).
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        full = os.path.join(ROOT, base)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness once per source state, and list
    the registered faces; returns the harness classpath."""
    for s in ["build.sbt", "src/main/scala", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, s)):
            fail(f"{s} not found: run from the root of a graft checkout")
    stamp = tree_digest(["build.sbt", "project/build.properties", "src/main",
                         "perfbench/build.sbt", "perfbench/project/build.properties",
                         "perfbench/src"])
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cp:
            if fh.read() == stamp:
                return cp.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(ROOT, "perfbench"), env=env, stdout=fh,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed, see {log}")
    classpath = lines[-1].strip()
    code, _, _ = jvm(classpath, {"workload": "list", "out": BUILD}, BUILD, timeout=120)
    if code != 0:
        fail(f"listing the query faces failed, see {BUILD}/jvm.log")
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def jvm(classpath, conf, cwd, timeout):
    """Run the harness with `conf` in `cwd`; returns (exit code, peak RSS in
    MB, CPU seconds), the last two read from /proc when it reports READY."""
    os.makedirs(cwd, exist_ok=True)
    conf_path = os.path.join(cwd, "bench.conf")
    with open(conf_path, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in conf.items())
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", conf_path]
    peak, cpu = 0.0, 0.0
    with open(os.path.join(cwd, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        timer = threading.Timer(timeout, p.kill)
        timer.start()
        try:
            for line in p.stdout:
                if line.strip() == "READY":
                    peak, cpu = metrics.proc_usage(p.pid)
                    p.stdin.close()
            p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    return p.returncode, peak, cpu


def inputs(workload, seed):
    """Generate (once per seed) the workload's inputs; returns their dir and
    the description of them the metrics need. The cache is keyed by the
    generator's source and sizes as well as the seed."""
    key = hashlib.sha256(repr((tree_digest(["perfbench/gen.py"]), MAINTAIN_DOCS, MAINTAIN_VECS,
                               BATCH_SHARE, MAINTAIN_ROUNDS)).encode()).hexdigest()[:12]
    d = os.path.join(DATA, f"{workload}-{seed}-{key}")
    info_path = os.path.join(d, "info.json")
    if not os.path.exists(info_path):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        info = {}
        if workload == "faces":
            tables = gen.corpus(seed, 0.001, 500, 500)
        else:
            tables = gen.corpus(seed, 0.001, MAINTAIN_DOCS, MAINTAIN_VECS)
            info["feeds"] = gen.write_feeds(seed, os.path.join(d, "feeds"), tables,
                                            MAINTAIN_ROUNDS, BATCH_SHARE)
        gen.write(tables, os.path.join(d, "corpus"))
        info["documents"] = tables["documents"].num_rows
        with open(info_path + ".tmp", "w") as fh:
            json.dump(info, fh)
        os.replace(info_path + ".tmp", info_path)
    with open(info_path) as fh:
        return d, json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["faces", "maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    classpath = build()
    data, info = inputs(a.workload, a.seed)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    conf = {"workload": a.workload, "corpus": os.path.join(data, "corpus"), "out": out,
            "seconds": a.seconds, "trace": a.trace, "cpus": cpus, "setups": SETUPS,
            "feeds": os.path.join(data, "feeds"), "rounds": MAINTAIN_ROUNDS,
            "min_rounds": MIN_ROUNDS}
    if a.workload == "faces":
        with open(os.path.join(BUILD, "faces.json")) as fh:
            conf["faces"] = ",".join(gen.face_sample(json.load(fh), FACES_SAMPLE))

    quiet = metrics.Quiet()
    started = time.time()
    code, peak_mb, jvm_cpu = jvm(classpath, conf, os.path.join(run_dir, "cwd"),
                                 RUN_LIMIT_S - 20)
    result_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"harness exited with {code}; see {run_dir}/cwd/jvm.log")
    with open(result_path) as fh:
        res = json.load(fh)
    checks, rows_only = {}, []
    if a.workload == "faces":
        checks, rows_only = check.check_faces(conf["corpus"], out,
                                              os.path.join(data, "oracle"))
    rep = metrics.report(a.workload, res, checks, rows_only, peak_mb,
                         quiet.finish(jvm_cpu), cpus, time.time() - started, info)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{a.workload}-{a.seed}-t{a.trace}.json"),
              "w") as fh:
        json.dump(dict(rep, ops=res["ops"]), fh, indent=1)
    metrics.print_run(rep)
    if a.trace:
        ref = metrics.untraced_reference(WORK, a.workload, a.seed)
        layer = metrics.per_layer(a.workload, res, rep, ref)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump({"report": layer, "spans": res["spans"], "groups": res["groups"]},
                      fh, indent=1)
        metrics.print_lines(layer["all"])
        line = metrics.result_line(rep, layer["json"])
    else:
        line = metrics.result_line(rep, rep["json"])
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
