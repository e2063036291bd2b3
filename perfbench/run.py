#!/usr/bin/env python3
"""Benchmark for the graft engine: one command, one JVM per run.

    python3 perfbench/run.py --workload <pipeline|serve> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine's
sources together with the harness (perfbench/build.sbt, offline sbt);
later runs reuse the classes while no source changed. Each run gets a
fresh work directory under perfbench/.work holding the seeded inputs,
java.io.tmpdir, the Spark local dir and every artifact the engine
builds; it is removed at the end, so set-up is cold on every run.

The last line of standard output is one JSON object: correct,
attempted, failed and metrics -- the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Every run keeps its full result (calibration points, the host_degraded
flag, raw samples, checks) in perfbench/results/; traced runs also keep
their spans and per-layer self times there.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the one
    beside spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")
    return os.path.join(home, "jars")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out) + [os.path.join(HERE, "build.sbt")]


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness unless the classes match the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) "
                         "not found -- run from a full checkout")
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log("building engine + harness (sbt compile)")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.autostart=false", "compile"],
                   HERE, BUILD_TIMEOUT_S, env)
    if rc != 0:
        raise SystemExit(f"perfbench: build failed ({rc})")
    with open(STAMP, "w") as f:
        f.write(digest)


def java_cmd(work, args):
    cp = CLASSES + os.pathsep + os.path.join(spark_jars(), "*")
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java"] + opens + [
        "-Xmx3g",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}/tmp",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + args)


def run_group(cmd, cwd, timeout, env=None):
    """Runs cmd in its own process group (output to stderr) and returns
    its exit code; the whole group is killed on timeout or interrupt."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {cmd[0]} timed out after {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_jvm(work, args):
    """Runs the harness JVM in `work`."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return run_group(java_cmd(work, args), work, JVM_TIMEOUT_S)


def new_work(tag):
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def generate(workload, seed, work):
    """Writes the workload's seeded inputs under work/data."""
    return run_jvm(work, ["--workload", workload, "--seed", str(seed),
                          "--work", work, "--gen-only"])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one checked output (self-check only)")
    a = ap.parse_args(argv)

    bench = spec()
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    build()
    work = new_work(f"{a.workload}-{a.seed}")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", os.path.join(work, "result.json")]
        if a.corrupt:
            args.append("--corrupt")
        rc = run_jvm(work, args)
        if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
            raise SystemExit(f"perfbench: harness exited {rc} without a result")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        checks = list(res["checks"])
        if a.workload == "pipeline":
            import checks as pipeline_checks
            checks += pipeline_checks.pipeline(work)
        attempted = res["attempted"] + (len(checks) - len(res["checks"]))
        failed = res["failed"] + sum(
            1 for c in checks[len(res["checks"]):] if not c["ok"])
        for c in checks:
            if not c["ok"]:
                log(f"check failed: {c['name']} {c.get('detail', '')}")
        metrics = res["metrics"]
        metrics["failed_frac"] = {"value": failed / max(1, attempted),
                                  "unit": "frac"}
        # host-health control: calibration drift over the run beyond the
        # benchmark's own latency bound flags the run as taken on a
        # degraded host
        drift = metrics["host.calib_drift"]["value"]
        bound = max(m["bound"] for m in bench["end_to_end"] if m["name"] != "setup_s")
        res.update(checks=checks, attempted=attempted, failed=failed,
                   host_degraded=drift > bound)
        log(f"host calibration {res['calib_points_ms']} ms, drift {drift:.3f}"
            + (f" > {bound}: HOST DEGRADED" if res["host_degraded"] else ""))
        keep_result(work, f"{a.workload}-{a.seed}-trace{a.trace}", res)
        wanted = bench["per_layer" if a.trace else "end_to_end"]
        others = [w["name"] + "." for w in bench["workloads"]
                  if w["name"] != a.workload]
        out = {}
        for m in wanted:
            v = metrics.get(m["name"])
            if v is None and m["name"].startswith(tuple(others)):
                # another workload's layer: not exercised by this one
                v = {"value": 0.0, "unit": m["unit"]}
            if v is None:
                raise SystemExit(f"perfbench: metric {m['name']} missing")
            out[m["name"]] = {"value": v["value"], "unit": v["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def keep_result(work, tag, res):
    """Writes the run's result, and a traced run's spans and per-layer
    summary, to perfbench/results/<tag>-*."""
    out = os.path.join(HERE, "results")
    os.makedirs(out, exist_ok=True)
    for name in ("spans.jsonl", "trace_summary.json"):
        src = os.path.join(work, name)
        if os.path.exists(src):
            base, ext = os.path.splitext(name)
            shutil.copy(src, os.path.join(out, f"{tag}-{base}{ext}"))
    with open(os.path.join(out, f"{tag}-result.json"), "w") as f:
        json.dump(res, f, indent=1)


def _terminated(signum, frame):
    # unwind through the finally blocks: the JVM's group is killed and
    # the work directory removed
    raise SystemExit(f"perfbench: stopped by signal {signum}")


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    signal.signal(signal.SIGTERM, _terminated)
    main()
