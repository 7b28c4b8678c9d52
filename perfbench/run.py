#!/usr/bin/env python3
"""The repository benchmark: one command, run from the repository root.

    python3 perfbench/run.py --workload submit_tree --seed 1 --seconds 10 --trace 0

Builds the program (`sbt package` at the root) and the harness
(perfbench/harness) once per source state, makes a Submit workload's inputs
from the seed, measures for --seconds (at least one whole JVM run), checks
every output against a digest pinned in perfbench/pinned.json, and prints as
its last line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it is the
environment record. See perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --pin [--workload W]

re-derives pinned.json (all workloads, or W) from the current program: only
for a deliberate output change, and say so in the change log.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
RUN_CAP_S = 170  # every run ends well inside the 180 s limit
SEQ_MODEL = os.path.join("src", "main", "resources", "graft",
                         "seq_model_tx.txt.gz")
REGISTRY_DATA = os.path.join(HERE, "data", "sf0.01")
# The pinned registry rows: labelComponents dedup + recall (c09), SemDeDup
# k-means (e23), PageRank (q62), the Repair spine Submit also runs (q12),
# streaming quantiles (s20) and dedup span cuts (d102).
REGISTRY_ROWS = ["c09_dedup_then_recall", "e23_semdedup_kmeans",
                 "q62_pagerank", "q12_repair", "s20_stream_quantiles",
                 "d102_max_dup_spans"]
WORKLOADS = ("submit_tree", "submit_rnn", "registry_sf0.01")

ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def _tree_files(base, pattern):
    return sorted(glob.glob(os.path.join(base, pattern), recursive=True))


def source_digest():
    """Hash of everything the two builds read: a changed source rebuilds."""
    files = ([os.path.join(ROOT, "build.sbt")]
             + _tree_files(ROOT, "project/*.properties")
             + _tree_files(ROOT, "project/*.sbt")
             + _tree_files(ROOT, "src/main/**/*")
             + [os.path.join(HERE, "harness", "build.sbt")]
             + _tree_files(HERE, "harness/project/*.properties")
             + _tree_files(HERE, "harness/src/main/**/*"))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_package(cwd, logfile):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(logfile, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "package"], cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=800)
    if rc != 0:
        die(f"sbt package failed in {cwd} (log: {logfile})")


def spark_jars():
    """The Spark jar directory the program build declares (unmanagedBase)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if m is None:
        die("build.sbt declares no unmanagedBase for the Spark jars")
    return m.group(1)


def build():
    """Returns the JVM classpath of program + harness + Spark."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} under {ROOT}: run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    digest = source_digest()
    fresh = (os.path.exists(stamp_file)
             and open(stamp_file).read() == digest)
    if not fresh:
        t0 = time.time()
        sbt_package(ROOT, os.path.join(BUILD, "build_program.log"))
        sbt_package(os.path.join(HERE, "harness"),
                    os.path.join(BUILD, "build_harness.log"))
        log(f"built program + harness in {time.time() - t0:.1f}s")
    jars = (glob.glob(os.path.join(ROOT, "target", "scala-2.13", "*.jar"))
            + glob.glob(os.path.join(HERE, "harness", "target", "scala-2.13",
                                     "*.jar")))
    if len(jars) != 2:
        die(f"expected the program and harness jars, found {jars}")
    if not fresh:
        with open(stamp_file, "w") as f:
            f.write(digest)
    return (":".join(sorted(jars) + [os.path.join(spark_jars(), "*")]),
            digest, fresh)


# ---------------------------------------------------------------- processes

class Proc:
    """One JVM, launched and reaped here; wall/CPU/peak RSS from wait4."""

    def __init__(self, classpath, work, args, props=(), deadline=None):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
                   SPARK_LOCAL_DIRS=tmp)
        cmd = (["java"] + ADD_OPENS + [
            f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
            + list(props) + ["-cp", classpath] + list(args))
        self.stdout_path = os.path.join(work, "stdout.txt")
        self.stderr_path = os.path.join(work, "stderr.txt")
        timeout = (deadline - time.time()) if deadline else RUN_CAP_S
        with open(self.stdout_path, "w") as so, \
                open(self.stderr_path, "w") as se:
            self.t0 = time.time()
            p = subprocess.Popen(cmd, cwd=work, env=env, stdout=so,
                                 stderr=se, stdin=subprocess.DEVNULL,
                                 start_new_session=True)
            killer = threading.Timer(max(1.0, timeout), _kill_group, (p.pid,))
            killer.start()
            _running.add(p.pid)
            _, status, ru = os.wait4(p.pid, 0)
            _running.discard(p.pid)
            killer.cancel()
            p.returncode = os.waitstatus_to_exitcode(status)
        self.wall = time.time() - self.t0
        self.rc = p.returncode
        self.cpu = ru.ru_utime + ru.ru_stime
        self.rss_mb = ru.ru_maxrss / 1024.0

    def last_json(self):
        with open(self.stdout_path) as f:
            lines = [l for l in f.read().splitlines() if l.startswith("{")]
        return json.loads(lines[-1]) if lines else None

    def tail(self, n=3):
        with open(self.stderr_path, errors="replace") as f:
            return " | ".join(f.read().splitlines()[-n:])


def _kill_group(pid):
    try:
        os.killpg(pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


_running = set()


def _on_signal(signum, _frame):
    """A killed runner takes its JVM down with it."""
    for pid in list(_running):
        _kill_group(pid)
    sys.exit(128 + signum)


# ---------------------------------------------------------------- checks

def csv_part(out_dir):
    parts = glob.glob(os.path.join(out_dir, "part-*.csv"))
    return parts[0] if len(parts) == 1 else None


def check_submission(out_dir, users, pinned):
    """Header, one row per input user in ascending order, pinned digest.
    Returns an error string or None."""
    part = csv_part(out_dir)
    if part is None:
        return f"expected one csv part in {out_dir}"
    with open(part, "rb") as f:
        data = f.read()
    lines = data.decode().splitlines()
    if not lines or lines[0] != "user_id,target":
        return f"bad header {lines[:1]}"
    ids = [int(l.split(",")[0]) for l in lines[1:]]
    if ids != sorted(users):
        return f"{len(ids)} rows, want one per input user ({len(users)}), ascending"
    got = hashlib.sha256(data).hexdigest()
    if got != pinned:
        return f"digest {got} != pinned {pinned}"
    return None


def input_users(csv_path):
    with open(csv_path) as f:
        next(f)
        return {int(l.split(",", 1)[0]) for l in f}


# ---------------------------------------------------------------- env

def cpu_probe():
    """A fixed single-core CPU task; its time tells a stalled machine apart
    from a regression."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def environment(digest):
    jdk = subprocess.run(["java", "-version"], capture_output=True,
                         text=True).stderr.splitlines()
    spark = [os.path.basename(j) for j in
             glob.glob(os.path.join(spark_jars(), "spark-core_*.jar"))]
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": nproc(), "SPARK_GRAFT_CPUS": str(nproc()),
            "driver_heap": HEAP, "jdk": jdk[0] if jdk else None,
            "spark": spark[0] if spark else None, "git_commit": commit,
            "source_sha256": digest}


# ---------------------------------------------------------------- workloads

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_submit(workload, seed, seconds, trace, cp, work, deadline, pinned):
    kind = "tree" if workload == "submit_tree" else "rnn"
    inputs = os.path.join(work, "in")
    props = gen.generate(seed, workload, inputs)
    log(f"inputs {json.dumps(props, sort_keys=True)}")
    csv = os.path.join(inputs, "tx.csv")
    model = (os.path.join(inputs, "model.txt") if kind == "tree"
             else os.path.join(ROOT, SEQ_MODEL))
    users = input_users(csv)
    want = pinned.get(workload, {}).get(str(props["variant"]))
    runs, errors = [], []
    t_start = time.time()
    while not runs or (not trace and time.time() - t_start < seconds):
        i = len(runs)
        out = os.path.join(work, f"out{i}")
        ready_file = os.path.join(work, f"ready{i}")
        p = Proc(cp, work, ["graft.Submit", csv, out, model],
                 props=["-Dspark.extraListeners=perfbench.ReadyProbe",
                        f"-Dperfbench.readyFile={ready_file}"],
                 deadline=deadline)
        err = (f"exit {p.rc}: {p.tail()}" if p.rc != 0
               else check_submission(out, users, want))
        ready = float("nan")
        if os.path.exists(ready_file):
            with open(ready_file) as f:
                ready = float(f.read()) - p.t0
        runs.append((p, ready))
        if err:
            errors.append(err)
            log(f"{workload} run {i}: {err}")
        shutil.rmtree(out, ignore_errors=True)
        if time.time() + p.wall > deadline:
            break
    ok = [(p, r) for p, r in runs if p.rc == 0]
    result = {"attempted": len(runs), "failed": len(errors),
              "samples": len(ok), "inputs": props}
    if not trace:
        result["metrics"] = {
            "setup_s": median([r for _, r in ok]),
            "wall_s": median([p.wall for p, _ in ok]),
            "rows_per_s": median([props["rows"] / (p.wall - r) for p, r in ok]),
            "query_p50_s": median([p.wall - r for p, r in ok]),
            "cpu_s": median([p.cpu for p, _ in ok]),
        }
        return result
    tw = os.path.join(work, "trace")
    os.makedirs(tw, exist_ok=True)
    t = Proc(cp, tw, ["perfbench.Trace", kind, csv, model, tw],
             deadline=deadline)
    rep = t.last_json() if t.rc == 0 else None
    result["attempted"] += 1
    err = None
    if rep is None:
        err = f"trace exit {t.rc}: {t.tail()}"
    elif not rep["identical"]:
        err = "layered composition output differs from the CLI output"
    else:
        err = check_submission(os.path.join(tw, "cli"), users, want)
    if err:
        result["failed"] += 1
        log(f"{workload} trace: {err}")
    layers = dict(rep["layers"]) if rep else {}
    layers["jvm.peak_rss_mb"] = median([p.rss_mb for p, _ in ok])
    layers["trace.overhead_s"] = t.wall - median([p.wall for p, _ in ok])
    result["metrics"] = layers
    return result


def registry_jvm(cp, work, rows, trace, deadline=None):
    p = Proc(cp, work, ["perfbench.Registry", REGISTRY_DATA,
                        "1" if trace else "0"] + rows, deadline=deadline)
    rep = p.last_json() if p.rc == 0 else None
    if rep is None:
        log(f"registry exit {p.rc}: {p.tail()}")
    return p, rep


def registry_failures(rep, rows, pinned):
    """Rows that failed or whose digest differs from the pinned one."""
    if rep is None:
        return set(rows)
    want = pinned.get("registry_sf0.01", {})
    bad = set(rep["failures"])
    for r in rows:
        got = rep["rows"].get(r, {}).get("sha256")
        if r not in bad and got != want.get(r):
            bad.add(r)
            log(f"registry row {r}: digest {got} != pinned {want.get(r)}")
    for r, why in rep["failures"].items():
        log(f"registry row {r}: {why}")
    return bad


def run_registry(trace, cp, work, deadline, pinned):
    # A fixed order: run cold, the first row also pays for first-use
    # compilation, so a seeded order would move that cost between rows.
    rows = REGISTRY_ROWS
    p, rep = registry_jvm(cp, work, rows, False, deadline)
    bad = registry_failures(rep, rows, pinned)
    result = {"attempted": len(rows), "failed": len(bad), "metrics": {},
              "samples": 1, "row_order": rows}
    if rep is None:
        return result
    per_row = {r: d["s"] for r, d in rep["rows"].items()}
    if not trace:
        result["metrics"] = {
            "setup_s": rep["ready"] - p.t0,
            "wall_s": rep["wall"],
            "rows_per_s": sum(d["rows"] for d in rep["rows"].values())
            / rep["wall"],
            "query_p50_s": median(list(per_row.values())),
            "cpu_s": p.cpu,
        }
        return result
    t, trep = registry_jvm(cp, work, rows, True, deadline)
    tbad = registry_failures(trep, rows, pinned)
    result["attempted"] += len(rows)
    result["failed"] += len(tbad)
    metrics = dict(trep["layers"]) if trep else {}
    metrics.update({f"registry.{r}.s": s for r, s in per_row.items()})
    metrics["jvm.peak_rss_mb"] = p.rss_mb
    if trep:
        metrics["trace.overhead_s"] = trep["wall"] - rep["wall"]
    result["metrics"] = metrics
    return result


# ---------------------------------------------------------------- main

def pin(cp, workloads):
    """Digest every input variant's CLI output and every registry row; the
    entries of workloads not named stay as they are."""
    path = os.path.join(HERE, "pinned.json")
    with open(path) as f:
        pinned = json.load(f)
    for workload in workloads:
        if workload == "registry_sf0.01":
            work = os.path.join(BUILD, "pin-registry")
            p, rep = registry_jvm(cp, work, REGISTRY_ROWS, False)
            if rep is None or rep["failures"]:
                die(f"pin registry: exit {p.rc}: {rep and rep['failures']}")
            pinned[workload] = {r: d["sha256"]
                                for r, d in sorted(rep["rows"].items())}
            shutil.rmtree(work, ignore_errors=True)
            continue
        pinned[workload] = {}
        for v in range(gen.VARIANTS):
            work = os.path.join(BUILD, f"pin-{workload}-{v}")
            shutil.rmtree(work, ignore_errors=True)
            props = gen.generate(v, workload, os.path.join(work, "in"))
            model = (os.path.join(work, "in", "model.txt")
                     if workload == "submit_tree"
                     else os.path.join(ROOT, SEQ_MODEL))
            out = os.path.join(work, "out")
            p = Proc(cp, work, ["graft.Submit", os.path.join(work, "in",
                                "tx.csv"), out, model])
            if p.rc != 0:
                die(f"pin {workload} {v}: exit {p.rc}: {p.tail()}")
            with open(csv_part(out), "rb") as f:
                pinned[workload][str(v)] = hashlib.sha256(f.read()).hexdigest()
            log(f"pinned {workload} variant {v} {props}")
            shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    started = time.time()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _on_signal)
    if not a.pin and a.workload is None:
        die("--workload is required")
    with open(os.path.join(HERE, "pinned.json")) as f:
        pinned = json.load(f)
    cp, digest, fresh = build()
    if a.pin:
        pin(cp, [a.workload] if a.workload else WORKLOADS)
        return
    # a run that had to build first gets its full measuring time after it
    deadline = (started if fresh else time.time()) + RUN_CAP_S
    env = environment(digest)
    env["cpu_probe_start_s"] = cpu_probe()
    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "registry_sf0.01":
            res = run_registry(a.trace, cp, work, deadline, pinned)
        else:
            res = run_submit(a.workload, a.seed, a.seconds, a.trace, cp,
                             work, deadline, pinned)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env["cpu_probe_end_s"] = cpu_probe()
    env.update(workload=a.workload, seed=a.seed, trace=a.trace,
               **{k: res[k] for k in ("samples", "inputs", "row_order")
                  if k in res})
    print(json.dumps({"env": env}, sort_keys=True))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for name, unit in ((m["name"], m["unit"]) for m in spec):
        v = float(res["metrics"].get(name, 0.0))
        metrics[name] = {"value": v if math.isfinite(v) else 0.0,
                         "unit": unit}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
