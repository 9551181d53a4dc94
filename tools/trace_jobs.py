#!/usr/bin/env python3
"""Per-query job counts from a traced perfbench run.

Usage: python3 tools/trace_jobs.py [WORKLOAD] [SEED]
       python3 tools/trace_jobs.py path/to/trace.json

Reads .bench_build/traces/<WORKLOAD>-seed<SEED>.json (written by
`python3 perfbench/run.py --workload WORKLOAD --seed SEED --trace 1`;
defaults batch_release, seed 1) and prints one line per pass and query:
the query's wall seconds, the Spark jobs it ran (split into build, the
eager jobs while the frame is planned, and run, the jobs of its action)
and the memo builds it paid, then a total per pass. A stream_ingest trace
has no queries; it prints, per streaming query, its triggers, their
seconds and their jobs.
"""
import collections
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def trace_path(argv):
    if argv and argv[0].endswith(".json"):
        return argv[0]
    workload = argv[0] if argv else "batch_release"
    seed = argv[1] if len(argv) > 1 else "1"
    return os.path.join(ROOT, ".bench_build", "traces",
                        "%s-seed%s.json" % (workload, seed))


def jobs_by_parent(spans):
    out = collections.Counter()
    for s in spans:
        if s["name"] == "job":
            out[s["parent"]] += 1
    return out


def batch_report(spans):
    jobs = jobs_by_parent(spans)
    kids = collections.defaultdict(dict)
    for s in spans:
        if s["parent"] is not None and s["name"] in ("build", "run", "memo"):
            kids[s["parent"]][s["name"]] = s
    passes = collections.OrderedDict()
    for q in sorted((s for s in spans if s["name"] == "query"),
                    key=lambda s: s["start"]):
        passes.setdefault(q["trace"].split("-", 1)[0], []).append(q)
    print("%-7s %-34s %8s %5s %6s %4s  %s" % (
        "pass", "query", "wall_s", "jobs", "build", "run", "memo builds"))
    for name, qs in passes.items():
        wall = n = 0
        for q in qs:
            k = kids[q["id"]]
            nb = jobs[k["build"]["id"]] if "build" in k else 0
            nr = jobs[k["run"]["id"]] if "run" in k else 0
            builds = (k["memo"]["attrs"].get("builds") or {}) if "memo" in k else {}
            memo = ", ".join("%s %.2fs" % (b, t) for b, t in sorted(builds.items()))
            w = q["end"] - q["start"]
            wall, n = wall + w, n + nb + nr
            print("%-7s %-34s %8.3f %5d %6d %4d  %s" % (
                name, q["attrs"]["query"], w, nb + nr, nb, nr, memo or "-"))
        print("%-7s %-34s %8.3f %5d" % (name, "TOTAL", wall, n))


def stream_report(spans):
    jobs = jobs_by_parent(spans)
    per = collections.OrderedDict()
    for s in spans:
        if s["name"] == "trigger":
            q = s["trace"].rsplit("#", 1)[0]
            t, secs, n = per.get(q, (0, 0.0, 0))
            per[q] = (t + 1, secs + s["end"] - s["start"], n + jobs[s["id"]])
    print("%-20s %8s %10s %6s" % ("stream query", "triggers", "trigger_s", "jobs"))
    for q, (t, secs, n) in per.items():
        print("%-20s %8d %10.3f %6d" % (q, t, secs, n))


def main(argv):
    path = trace_path(argv)
    if not os.path.exists(path):
        sys.exit("no trace at %s: run perfbench/run.py with --trace 1 first" % path)
    with open(path) as fh:
        spans = json.load(fh)
    if any(s["name"] == "query" for s in spans):
        batch_report(spans)
    else:
        stream_report(spans)


if __name__ == "__main__":
    main(sys.argv[1:])
