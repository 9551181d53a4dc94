#!/usr/bin/env python3
"""The repo benchmark: one workload per run, against the compiled graft classes.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles src/main and the
harness in perfbench/scala with the Scala compiler that ships with Spark
into .bench_build/ and reuses it while the sources are unchanged. The last
line of stdout is the result as JSON; the lines before it are a readable
summary. A traced run writes its spans to .bench_build/traces/.

    python3 perfbench/run.py --record

re-records perfbench/expect.json (content hashes and memo names of the
batch workload's queries) from the current program; see METRICS.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
# seconds a run may take after the build; the contract allows 180
DEADLINE_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt compiles
    against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        return re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read()).group(1)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return main, own


def build(log):
    """Compiles the program and the harness unless the same sources were
    already compiled. Returns False if there is nothing to compile."""
    main, own = sources()
    if not main:
        return False
    h = hashlib.sha256()
    for f in main + own:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(CLASSES, "STAMP")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return True
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + main + own
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT)
    if r.returncode != 0:
        return False
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(h.hexdigest())
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return True


def run_harness(args, work, out, log, budget):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java()]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # no hsperfdata file: the JVM would write it to /tmp, outside the checkout
    cmd += ["-XX:-UsePerfData", "-Xmx4g", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            "graft.perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(HERE, "data"), "--work", work, "--out", out]
    if args.record:
        cmd += ["--record", "1"]
    proc = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work, start_new_session=True)
    try:
        return proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def load_expected():
    with open(os.path.join(HERE, "expect.json")) as fh:
        return json.load(fh)


def result_line(raw, expected, spec, trace):
    attempted, failures, vals, (tl, n), facts = metrics.evaluate(raw, expected)
    print("workload %s seed %s cpus %s" % (raw["workload"], raw["seed"], raw["cpus"]))
    print("set-ups %s s, warm-up %.2f s" % (
        " ".join("%.2f" % s for s in raw["setup_s"]), raw.get("warmup_s", 0.0)))
    for f, ok in facts:
        print("fact %s: %s" % ("holds" if ok else "FAILS", f))
    for f in failures:
        print("failure:", f)
    pct, val = tl
    print("latency: p50 %.4f s, tail p%s %s s over %d samples" % (
        vals["latency_p50_s"] or float("nan"), pct, "n/a" if val is None else "%.4f" % val, n))
    if trace:
        layers, spans = metrics.layers(raw, metrics.traced(raw), metrics.untraced(raw))
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        path = os.path.join(BUILD, "traces", "%s-seed%s.json" % (raw["workload"], raw["seed"]))
        with open(path, "w") as fh:
            json.dump(spans, fh)
        print("spans: %d written to %s" % (len(spans), os.path.relpath(path, ROOT)))
        names, values = spec["per_layer"], layers
    else:
        names, values = spec["end_to_end"], vals
    out = {}
    for m in names:
        v = values.get(m["name"])
        if v is None:
            failures.append("metric %s not measured" % m["name"])
            continue
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
        print("%-40s %14.6f %s" % (m["name"], v, m["unit"]))
    return {"correct": not failures, "attempted": attempted,
            "failed": min(len(failures), attempted), "metrics": out}


def record(raw):
    """Writes expect.json from a record-mode run of batch_release."""
    qs = {}
    for c in raw["checks"]:
        if "error" in c:
            sys.exit("cannot record %s: %s" % (c["name"], c["error"]))
        qs[c["name"]] = {"rows": c["rows"], "hash": c["hash"], "cols": c["cols"],
                         "rows_only": c["name"] not in raw.get("oracle", {}),
                         "memo": sorted(set(c["memo"]))}
    exp = {raw["workload"]: {"queries": qs}}
    with open(os.path.join(HERE, "expect.json"), "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if not args.record and args.workload not in names:
        sys.exit("unknown workload %r; one of %s" % (args.workload, ", ".join(names)))
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    with open(os.path.join(BUILD, "logs", "build.log"), "w") as log:
        if not build(log):
            sys.exit("build failed or no program sources under src/main; see .bench_build/logs/build.log")
    # the first run of a checkout may spend longer, on the build
    deadline = time.time() + DEADLINE_S
    if args.record:
        args.workload = "batch_release"
    w = args.workload
    work = os.path.join(BUILD, "work", "%s-%d" % (w, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    try:
        with open(os.path.join(BUILD, "logs", "%s.log" % w), "w") as log:
            rc = run_harness(args, work, out, log,
                             None if args.record else deadline - time.time())
        if rc != 0 or not os.path.exists(out):
            sys.exit("harness %s (see .bench_build/logs/%s.log)" % (
                "timed out" if rc is None else "exited with %s" % rc, w))
        with open(out) as fh:
            raw = json.load(fh)
        shutil.copy(out, os.path.join(BUILD, "last_raw.json"))
        if args.record:
            keep = os.path.join(BUILD, "record", w)
            shutil.rmtree(keep, ignore_errors=True)
            if os.path.isdir(os.path.join(work, "record")):
                shutil.copytree(os.path.join(work, "record"), keep)
            with open(os.path.join(BUILD, "record", w + ".json"), "w") as fh:
                json.dump(raw, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.record:
        record(raw)
        print("recorded perfbench/expect.json; outputs in .bench_build/record/")
        return
    expected = load_expected().get(raw["workload"], {})
    res = result_line(raw, expected, spec, args.trace == 1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
