#!/usr/bin/env python3
"""Benchmark for the git ETL and its query operators.

    python3 perfbench/run.py --workload <etl-cold|etl-append|ops-slice|all>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The program and the benchmark's
Scala sources are compiled with scalac into `.bench_build/` (once per source
hash), every input is generated from the seed under a temp dir in
`.bench_build/tmp/`, and each workload runs in one JVM at a time, capped at
`local[4]`:

- etl-cold: each operation is one fresh `graft.Main --config` process over a
  seeded repo set (one large repo, many small ones, one unreadable).
- etl-append: one warm session; a store is built from seeded repos, then
  each operation adds a few commits to the next repo, times
  `Main.runAppend` on it and times README Q1-Q5 over the store snapshot.
- ops-slice: one warm session runs a pinned slice of `SparkEntry.registry`
  through the noop sink over seeded tables.

Outputs are checked against oracles built from the git CLI and DuckDB
(`oracle.py`). The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics of a traced run with `--trace 1`. A traced
run also prints a per-layer report and keeps its spans under
`.bench_build/traces/`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import genrepos  # noqa: E402
import gentables  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CORES = 4
HEAP = "-Xmx2g"
JVM_DEADLINE_S = 150
# The same JDK 17 module openings build.sbt passes to forked runs.
OPENS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
    "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
    "sun.nio.cs sun.security.action sun.util.calendar").split()]
# -XX:-UsePerfData: no hsperfdata file in the system temp dir; runs write only
# inside the checkout.
JAVA_OPTS = OPENS + [HEAP, "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                     "-Dspark.sql.session.timeZone=UTC"]

# Sizes are fixed (the seed only changes content) and small: the program's
# fixed cost per ETL (JVM, session, codegen, about 60 Spark jobs) is about
# 30 s on 4 cores whatever the history size, and every run must fit the
# benchmark's time budget.
# etl-cold: one large history, many small ones, plus one unreadable repo.
COLD_REPOS = [("big", 3000)] + [("s%02d" % i, 60 + (i * 37) % 240) for i in range(20)]
# etl-append: the store's repos, commits per append, batches prepared.
APPEND_REPOS = [("r%02d" % i, 150) for i in range(3)]
APPEND_COMMITS = 3
APPEND_BATCHES = 40
APPEND_MIN_OPS = 3
# ops-slice: registry query -> operator family (one per family), at a
# fixed scale factor; q96 is the streaming (StreamGate) query. BENCHMARK.json
# lists only etl-cold and etl-append, so that a full set of repeated runs
# stays under an hour on 4 cores; the slice also runs in every traced
# etl-append run, for the per-layer ops/StreamGate/spark metrics.
OPS_SF = 0.001
OPS_SLICE = {
    "q7_star_join_revenue": "relational",
    "q22_sessionize": "events",
    "q36_dedup_simhash": "dedup",
    "q39_ann_topk": "similarity",
    "q50_git_parse_commits": "git",
    "q63_tfidf": "text",
    "q106_triangle_count": "graph",
    "q96_stream_dedup": "dedup",
}
STREAM_QUERIES = ["q96_stream_dedup"]


class BenchError(Exception):
    pass


# ---- build ------------------------------------------------------------------

def _sources():
    """Program and benchmark sources, the jar directory build.sbt compiles
    against (`unmanagedBase`, which also holds the Scala compiler) and the
    Scala version it names."""
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not prog:
        raise BenchError("no program sources under src/main/scala")
    if not bench:
        raise BenchError("no benchmark sources under perfbench/scala")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise BenchError("no build.sbt")
    sbt = open(os.path.join(ROOT, "build.sbt")).read()
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    if not (jars and version):
        raise BenchError("build.sbt names no unmanagedBase or scalaVersion")
    scala = [os.path.join(jars.group(1), "scala-%s-%s.jar" % (p, version.group(1)))
             for p in ("compiler", "library", "reflect")]
    missing = [j for j in scala if not os.path.exists(j)]
    if missing:
        raise BenchError("missing toolchain jars: %s" % missing)
    return prog, bench, jars.group(1), scala


def _scalac(scala, out, cp, srcs):
    os.makedirs(out)
    args = os.path.join(out + ".args")
    with open(args, "w") as f:
        f.write("\n".join(['-nowarn', '-classpath', cp, '-d', out] + srcs))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(scala),
                        "scala.tools.nsc.Main", "@" + args], capture_output=True, text=True)
    if r.returncode:
        raise BenchError("scalac failed:\n" + r.stdout[-3000:] + r.stderr[-3000:])


def build():
    """Compile program + benchmark sources (cached by content hash) and
    return the run classpath."""
    prog, bench, jar_dir, scala = _sources()
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "scala-" + h.hexdigest()[:16])
    jars = ":".join(sorted(glob.glob(os.path.join(jar_dir, "*.jar"))))
    cp = "%s/bench:%s/classes:%s" % (out, out, jars)
    if os.path.exists(os.path.join(out, "ok")):
        return cp
    for old in glob.glob(os.path.join(BUILD, "scala-*")):
        shutil.rmtree(old, ignore_errors=True)
    _scalac(scala, os.path.join(out, "classes"), jars, prog)
    _scalac(scala, os.path.join(out, "bench"), "%s/classes:%s" % (out, jars), bench)
    open(os.path.join(out, "ok"), "w").close()
    return cp


# ---- processes ----------------------------------------------------------------

def java(tmp, cp, args, log):
    """Run one JVM in `tmp` (so spark-warehouse/ and derby.log land there);
    returns (exit code, wall seconds, peak RSS MB, CPU seconds)."""
    env = genrepos.git_env(tmp)
    env.update({"SPARK_GRAFT_CPUS": str(CORES),
                "SPARK_LOCAL_DIRS": os.path.join(tmp, "local")})
    jtmp = os.path.join(tmp, "jtmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + jtmp, "-cp", cp] + args
    with open(log, "ab") as out:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)

        def stop_and_exit(signum, _):
            stop()
            os.waitpid(p.pid, 0)
            raise SystemExit(128 + signum)

        timer = threading.Timer(JVM_DEADLINE_S, stop)
        timer.start()
        previous = signal.signal(signal.SIGTERM, stop_and_exit)
        try:
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
            signal.signal(signal.SIGTERM, previous)
        wall = time.perf_counter() - t0
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, wall, ru.ru_maxrss / 1024.0, ru.ru_utime + ru.ru_stime


def jvm_json(tmp, cp, mode, spec, log):
    spec = dict(spec, result=os.path.join(tmp, "%s-result-%d.json" % (mode, time.time_ns())))
    path = spec["result"] + ".spec"
    with open(path, "w") as f:
        json.dump(spec, f)
    rc, wall, rss, cpu = java(tmp, cp, ["graft.git.PerfBench", mode, path], log)
    if rc != 0:
        raise BenchError("PerfBench %s exited %d; log tail:\n%s" % (mode, rc, _tail(log)))
    with open(spec["result"]) as f:
        return json.load(f), wall


def _tail(log, n=4000):
    with open(log, "rb") as f:
        return f.read()[-n:].decode("utf-8", "replace")


def _facts(root, names):
    env = genrepos.git_env(root)
    with ThreadPoolExecutor(genrepos.WORKERS) as pool:
        return dict(zip(names, pool.map(
            lambda n: oracle.git_facts(os.path.join(root, n), env), names)))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


# ---- workloads ------------------------------------------------------------------

def etl_cold(a, tmp, cp, log):
    root = os.path.join(tmp, "repos")
    t0 = time.perf_counter()
    genrepos.make_repo_set(root, a.seed, COLD_REPOS)
    setup_s = time.perf_counter() - t0
    facts = _facts(root, [n for n, _ in COLD_REPOS])
    config = os.path.join(tmp, "config.json")
    with open(config, "w") as f:
        json.dump({"repositories": [], "paths": [root], "ignore": []}, f)

    if a.trace:
        out = os.path.join(tmp, "out-traced")
        r, wall = jvm_json(tmp, cp, "etl-trace", {"config": config, "out": out}, log)
        errs = oracle.check_tables(oracle.etl_tables(out), facts)
        if errs:
            print("etl-cold traced op wrong: %s" % errs[:5], file=sys.stderr)
        return {"attempted": 1, "failed": int(bool(errs)),
                "trace": report.TraceRun(r["spans"], r["counters"], passes=1,
                                         traced_s=wall, process_s=wall)}

    walls, rss, cpu, failed = [], [], [], 0
    loop0 = time.perf_counter()
    while not walls or time.perf_counter() - loop0 < a.seconds:
        i = len(walls)
        out = os.path.join(tmp, "out-%d" % i)
        rc, wall, peak, c = java(tmp, cp, ["graft.Main", "--config", config, out], log)
        walls.append(wall)
        rss.append(peak)
        cpu.append(c)
        errs = ["exit %d" % rc] if rc else oracle.check_tables(oracle.etl_tables(out), facts)
        if errs:
            failed += 1
            print("etl-cold op %d wrong: %s" % (i, errs[:5]), file=sys.stderr)
    return {"attempted": len(walls), "failed": failed,
            "metrics": {"setup_s": setup_s, "op_p50_s": median(walls), "pass_s": median(walls)},
            "table": {"op_cpu_s": median(cpu), "etl_s": median(walls),
                      "etl_peak_rss_mb": median(rss)}}


def etl_append(a, tmp, cp, log):
    root = os.path.join(tmp, "repos")
    t0 = time.perf_counter()
    names = genrepos.make_repo_set(root, a.seed, APPEND_REPOS, unreadable=False)
    batches, added = [], []
    bdir = os.path.join(tmp, "batches")
    os.makedirs(bdir)
    for i in range(APPEND_BATCHES):
        name = names[i % len(names)]
        stream = genrepos.append_stream(a.seed, name, i, APPEND_COMMITS)
        path = os.path.join(bdir, "batch-%03d.fi" % i)
        with open(path, "wb") as f:
            f.write(stream)
        batches.append({"repo": os.path.join(root, name), "stream": path})
        added.append(sum(map(oracle.valid_email, genrepos.author_emails(stream))))
    gen_s = time.perf_counter() - t0
    facts0 = _facts(root, names)

    store = os.path.join(tmp, "store")
    spec = {"store": store, "repos": [os.path.join(root, n) for n in names],
            "batches": batches, "seconds": a.seconds, "min_ops": APPEND_MIN_OPS,
            "trace": bool(a.trace)}
    if a.trace:
        spec["slice"] = _slice_spec(a, tmp)
    r, _ = jvm_json(tmp, cp, "append", spec, log)

    def failed_ops():
        """Each op's Q4 row for its repo and Q1's summed total_commits
        against the git facts; the final snapshot against the git oracle and
        DuckDB (a wrong final snapshot fails every op)."""
        valid = {n: f["commits"] for n, f in facts0.items()}
        authors = sum(valid.values())
        bad = 0
        for i, op in enumerate(r["ops"]):
            valid[op["repo"]] += added[i]
            authors += valid[op["repo"]]
            if op["q4"].get(op["repo"]) != valid[op["repo"]] or op["q1_total_commits"] != authors:
                bad += 1
                print("etl-append op %d wrong: q4=%s want %d, q1 sum=%d want %d" % (
                    i, op["q4"].get(op["repo"]), valid[op["repo"]],
                    op["q1_total_commits"], authors), file=sys.stderr)
        tables = oracle.store_tables(store)
        errs = oracle.check_tables(tables, _facts(root, names), author_commits=authors)
        errs += oracle.check_readme(tables, r["readme_final"])
        if errs:
            print("etl-append final snapshot wrong: %s" % errs[:5], file=sys.stderr)
            bad = len(r["ops"])
        return bad

    ops = r["ops"]
    failed = failed_ops()
    appends = [o["append_s"] for o in ops]
    reads = [ms for o in ops for ms in o["read_ms"]]
    cycles = [o["append_s"] + sum(o["read_ms"]) / 1000.0 for o in ops]
    if a.trace:
        errs = _check_slice(spec["slice"], r["slice"])
        return {"attempted": len(ops) + len(OPS_SLICE), "failed": failed + len(errs),
                "trace": report.TraceRun(r["spans"], r["counters"], passes=len(ops),
                                         traced_s=median(cycles)),
                "slice_trace": _slice_trace(r["slice"])}
    return {"attempted": len(ops), "failed": failed,
            "metrics": {"setup_s": gen_s + r["session_s"] + r["store_build_s"],
                        "op_p50_s": median(appends), "pass_s": median(cycles)},
            "table": {"op_cpu_s": median([o["cpu_s"] for o in ops]),
                      "peak_rss_mb": r["peak_rss_mb"], "append_p50_s": median(appends),
                      "append_p90_s": p90(appends), "readme_p50_ms": median(reads),
                      "readme_p90_ms": p90(reads)}}


def _slice_spec(a, tmp):
    sf = os.path.join(tmp, "tables")
    os.makedirs(sf)
    gentables.write_tables(sf, a.seed, OPS_SF)
    return {"sf_dir": sf, "check_dir": os.path.join(tmp, "check"), "queries": OPS_SLICE}


def _check_slice(spec, r):
    """Queries that failed or disagree with their DuckDB oracle."""
    errs = oracle.check_queries(spec["sf_dir"], spec["check_dir"], r["oracle_sql"])
    for q in r["queries"]:
        e = q["error"] or r["check_errors"].get(q["name"])
        if e:
            errs[q["name"]] = e
    for name in set(OPS_SLICE) - set(r["oracle_sql"]):
        errs[name] = "no oracle"
    for name, e in sorted(errs.items()):
        print("ops-slice %s wrong: %s" % (name, e), file=sys.stderr)
    return errs


def _slice_trace(r):
    return report.TraceRun(r["spans"], r["counters"], passes=1,
                           traced_s=sum(q["wall_s"] for q in r["queries"]),
                           trigger_ms=r["trigger_ms"])


def ops_slice(a, tmp, cp, log):
    t0 = time.perf_counter()
    spec = dict(_slice_spec(a, tmp), trace=bool(a.trace))
    gen_s = time.perf_counter() - t0
    r, _ = jvm_json(tmp, cp, "ops", spec, log)
    errs = _check_slice(spec, r)
    walls = {q["name"]: q["wall_s"] for q in r["queries"]}
    if a.trace:
        return {"attempted": len(walls), "failed": len(errs), "trace": _slice_trace(r)}
    return {"attempted": len(walls), "failed": len(errs),
            "metrics": {"setup_s": gen_s + r["setup_s"], "op_p50_s": median(list(walls.values())),
                        "pass_s": sum(walls.values())},
            "table": {"op_cpu_s": r["cpu_s"] / len(walls), "peak_rss_mb": r["peak_rss_mb"],
                      "ops_total_s": sum(walls.values()),
                      "ops_p50_s": median(list(walls.values())),
                      "stream_total_s": sum(walls[q] for q in STREAM_QUERIES)}}


WORKLOADS = {"etl-cold": etl_cold, "etl-append": etl_append, "ops-slice": ops_slice}


def run_once(a, cp):
    tmp = os.path.join(BUILD, "tmp", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(BUILD, "logs", "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    os.makedirs(os.path.dirname(log), exist_ok=True)
    open(log, "w").close()
    try:
        return WORKLOADS[a.workload](a, tmp, cp, log)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_workload(a, cp):
    """One workload. Untraced runs record their pass_s under .bench_build/;
    a traced run reports its tracing overhead against the median of those."""
    history = os.path.join(BUILD, "untraced", a.workload + ".json")
    passes = json.load(open(history)) if os.path.exists(history) else []
    res = run_once(a, cp)
    attempted, failed = res["attempted"], res["failed"]
    print("== %s (seed %d): %d operations, %d failed" % (a.workload, a.seed, attempted, failed))
    if a.trace:
        t = res["trace"]
        t.untraced_s = median(passes) if passes else None
        path = os.path.join(BUILD, "traces", "%s-seed%d.json" % (a.workload, a.seed))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t.save(path)
        print(t.render(a.workload, path))
        m = t.metrics()
        if "slice_trace" in res:
            s = res["slice_trace"]
            path = path[:-len(".json")] + "-slice.json"
            s.save(path)
            print(s.render("ops slice in the same session", path, overhead=False))
            m.update({k: v for k, v in s.metrics().items() if report.slice_metric(k)})
    else:
        m = res["metrics"]
        for k, v in list(m.items()) + list(res["table"].items()):
            print("  %-18s %12.4f %s" % (k, v, report.unit(k)))
        os.makedirs(os.path.dirname(history), exist_ok=True)
        with open(history, "w") as f:
            json.dump((passes + [m["pass_s"]])[-20:], f)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": report.unit(k)} for k, v in m.items()}}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    try:
        cp = build()
        if a.workload != "all":
            out = run_workload(a, cp)
        else:
            outs = {}
            for w in sorted(WORKLOADS):
                outs[w] = run_workload(argparse.Namespace(**dict(vars(a), workload=w)), cp)
            out = {"correct": all(o["correct"] for o in outs.values()),
                   "attempted": sum(o["attempted"] for o in outs.values()),
                   "failed": sum(o["failed"] for o in outs.values()),
                   "metrics": {"%s.%s" % (w, k): v for w, o in outs.items()
                               for k, v in o["metrics"].items()}}
    except BenchError as e:
        print("benchmark error: %s" % e, file=sys.stderr)
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
