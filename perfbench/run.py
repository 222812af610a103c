#!/usr/bin/env python3
"""Layered benchmark of graphtapspark on one box.

    python3 perfbench/run.py --workload pagerank --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads: pagerank, labels, sweep (see
perfbench/README.md). Builds the library and the benchmark's JVM side from
source into .bench_build, makes the seeded inputs (cached per seed),
runs the workload in forked JVMs at local[4], checks every output
against an independent oracle, writes a run record under
.bench_build/runs, and prints one JSON line as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

--smoke runs a short version on a tiny graph and three queries.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

BUILD = build.BUILD
CORES = 4
# Repo count of the repo-link graph: sized so that the benchmark's runs,
# each new seed's input generation included, fit its time budget. At this
# size a superstep is mostly fixed cost, so a larger graph would lengthen
# the generation far more than the solve.
REPOS = 40_000
SMOKE_REPOS = 2_000
# The sweep's tables (TESTDATA.md). At this scale the derived graphs are
# small, so per-superstep fixed cost stays in front; sf0.001 costs the
# same run time, so the larger of the two is used.
SF_DIR = os.path.expanduser("~/testdata/sf0.01")
GEN_VERSION = 1
# Set-ups per JVM; setup_s is their median. A pagerank compile keeps
# speeding up for about five repetitions, and a labels cache load or a
# warm session restart takes under 0.1 s, so each gets enough
# repetitions that the median falls past the JIT's warm-up.
SETUP_REPS = {"pagerank": 5, "labels": 9, "sweep": 9}
# Solves per JVM on pagerank and labels: the first, cold one gives
# first_pass_s and the last three give solve_s. A labels solve keeps
# speeding up for longer, so it gets one more warm repetition before the
# three. The sweep makes one timed pass after its first.
SOLVE_REPS = {"pagerank": 4, "labels": 5, "sweep": 1}
# A traced run compares traced and untraced solves over eight warm
# repetitions (see Main.tracedRep).
TRACED_SOLVE_REPS = 9
SMOKE_QUERIES = ["q_pagerank_top", "q_dedup_clusters", "q_quality"]
# A run must end within 180 s, or 900 s when it also builds.
RUN_BUDGET_S = 170
BUILD_RUN_BUDGET_S = 880
KEEP_SEEDS = 32

END_TO_END = {"setup_s": "s", "solve_s": "s", "retained_heap_mb": "MB"}

# The sweep's queries: the Catalyst Engine's PageRank and the ops layer's
# dedup clusters, LSH nearest neighbours and text quality. The other 34
# are scans and kernel, engine or ops variants: with the engine's CC and
# LPA (q_cc_sizes, q_lpa) a run takes 11 s longer, and 70 runs of the
# three workloads would not fit the benchmark's time budget.
QUERIES = ["q_pagerank_top", "q_dedup_clusters", "q_ann_lsh", "q_quality"]


def _per_layer():
    m = {"spark.session_s": "s", "ingest.gen_s": "s", "ingest.edges": "count",
         "ingest.vertices": "count", "graph.compile_s": "s", "graph.compile.jobs": "count",
         "graph.compile.shuffle_mb": "MB", "graph.compile.spill_mb": "MB",
         "graph.cache_save_s": "s", "graph.cache_load_s": "s", "graph.cache_hit": "count",
         "graph.first_superstep_ms": "ms"}
    for k in ("pr", "cc", "lpa"):
        for name, unit in (("superstep_ms.p50", "ms"), ("superstep_ms.p90", "ms"),
                           ("gather_ms", "ms"), ("apply_ms", "ms"),
                           ("barrier_ms.p50", "ms"), ("cpu_ms", "ms"), ("gc_ms", "ms"),
                           ("spill_mb", "MB"), ("shuffle_mb_per_step", "MB"),
                           ("exchange_bound_mb", "MB")):
            m[f"kernel.{k}.{name}"] = unit
    m.update({"kernel.pr1.superstep_ms.p50": "ms", "kernel.cc.active_vertices": "count",
              "kernel.lpa.active_vertices": "count", "ckpt.snapshots": "count",
              "ckpt.mb": "MB", "ckpt.write_ms": "ms", "engine.supersteps": "count",
              "engine.superstep_ms.p50": "ms", "engine.barrier_ms.p50": "ms",
              "engine.jobs": "count"})
    for q in QUERIES:
        m[f"sweep.{q}_s"] = "s"
    m.update({"sweep.jobs": "count", "sweep.stages": "count", "sweep.tasks": "count",
              "sweep.shuffle_mb": "MB", "superstep_edges_per_s": "1/s",
              "pr_iters": "count", "scaling_eff_1to4": "ratio", "cc_s": "s",
              "lpa_s": "s", "first_pass_s": "s", "error_rate": "ratio", "peak_rss_mb": "MB", "trace.overhead_frac": "ratio",
              "trace.unattributed_frac": "ratio"})
    return m


PER_LAYER = _per_layer()

def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def box():
    mem = next((ln.split()[1] for ln in open("/proc/meminfo") if ln.startswith("MemTotal:")), "")
    jdk = subprocess.run(["java", "-version"], stderr=subprocess.PIPE, text=True).stderr
    return {"nproc": os.cpu_count(), "mem_total_kb": int(mem or 0), "heap": build.heap(),
            "jdk": jdk.splitlines()[0] if jdk else "", "machine": platform.machine(),
            "loadavg": open("/proc/loadavg").read().split()[:3]}


class JvmFailed(Exception):
    pass


DEADLINE = [float("inf")]


def run_jvm(run_dir, name, **kw):
    """One forked JVM running graftbench.Main; returns its JSON record.
    It is killed when the run's deadline passes."""
    tmp = os.path.join(run_dir, f"tmp-{name}")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, f"{name}.json")
    kw.update(out=out, tmp=tmp, spans=os.path.join(run_dir, f"{name}.spans.jsonl"))
    cmd = build.java_command(tmp)
    for k, v in kw.items():
        cmd += [f"--{k.replace('_', '-')}", str(v)]
    with open(os.path.join(run_dir, f"{name}.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, DEADLINE[0] - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise JvmFailed(f"{name}: killed at the run's deadline")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        tail = open(os.path.join(run_dir, f"{name}.log")).read()[-3000:]
        raise JvmFailed(f"{name}: exit {code}\n{tail}")
    with open(out) as f:
        return json.load(f)


def evict(parent, keep):
    """Delete all but the `keep` most recently used entries of `parent`."""
    if not os.path.isdir(parent):
        return
    entries = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                     key=os.path.getmtime)
    for e in entries[:-keep] if len(entries) > keep else []:
        if os.path.isdir(e):
            shutil.rmtree(e, ignore_errors=True)
        else:
            os.remove(e)


def graph_input(seed, repos):
    """Parked repo-link table for (seed, repo count, generator version),
    with its stamped counts and the oracle's expected outputs."""
    d = os.path.join(BUILD, "data", f"repos-v{GEN_VERSION}-n{repos}-s{seed}")
    stamp = os.path.join(d, "stamp.json")
    if not os.path.exists(stamp):
        evict(os.path.join(BUILD, "data"), KEEP_SEEDS)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        rec = run_jvm(d, "prepare", workload="prepare", seed=seed, seconds=0,
                      trace=0, cores=CORES, setup_reps=1, solve_reps=1, repos=repos, data=d,
                      cache=os.path.join(d, "und-tiles"), ckpt=os.path.join(d, "ckpt"))
        t0 = time.time()
        expect = oracle.graph(os.path.join(d, "edges.parquet"))
        info = {"ingest.gen_s": rec["extra"]["ingest.gen_s"],
                "ingest.edges": expect["edges"], "ingest.vertices": expect["vertices"],
                "seed": seed, "repos": repos, "version": GEN_VERSION,
                "oracle_s": time.time() - t0, "expect": expect}
        with open(stamp + ".tmp", "w") as f:
            json.dump(info, f)
        os.replace(stamp + ".tmp", stamp)
    os.utime(d)
    with open(stamp) as f:
        return d, json.load(f)


def build_program():
    """Build (see build.py); its training run covers the sweep's queries
    when their tables are there."""
    d = os.path.abspath(os.environ.get("PERFBENCH_SF_DIR", SF_DIR))
    return build.build(d if os.path.isdir(d) else None, ",".join(QUERIES))


def sweep_tables():
    """The TPC-H-derived tables the SparkEntry queries and their DuckDB
    oracles were written against (TESTDATA.md); PERFBENCH_SF_DIR picks
    another scale."""
    d = os.path.abspath(os.environ.get("PERFBENCH_SF_DIR", SF_DIR))
    missing = [t for t in oracle.TABLES if not os.path.exists(os.path.join(d, f"{t}.parquet"))]
    if missing:
        raise JvmFailed(f"sweep tables missing in {d}: {', '.join(missing)}")
    return d


def close(a, b, rel=1e-9):
    return abs(a - b) <= rel * max(1.0, abs(b))


def check_graph(checks, expect, info):
    """(attempted, failed, notes) over the JVM's recorded outputs."""
    failed, notes = 0, []
    for c in checks:
        op = c["op"]
        if op.startswith("pagerank#"):
            ok = (c["iters"] == expect["pr_iters"] and close(c["checksum"], expect["pr_checksum"])
                  and c["top5"] == expect["pr_top5"])
        elif op == "pagerank_1core":
            ok = c["iters"] == 10 and close(c["checksum"], expect["pr10_checksum"])
        elif op.startswith("cc#"):
            ok = (c["iters"] == expect["cc_iters"] and close(c["checksum"], expect["cc_checksum"])
                  and c["components"] == expect["cc_components"])
        elif op.startswith("lpa#"):
            ok = (c["iters"] == expect["lpa_iters"]
                  and close(c["checksum"], expect["lpa_checksum"])
                  and c["labels"] == expect["lpa_labels"]
                  # snapshots at every 3rd superstep plus the final one
                  and c["snapshots"] == expect["lpa_iters"] // 3
                  + (expect["lpa_iters"] % 3 != 0)
                  and c["latest"] == expect["lpa_iters"])
        elif op == "ingest":
            ok = c["edges"] == info["ingest.edges"] and c["vertices"] == info["ingest.vertices"]
        elif op == "cache_hit":
            ok = c["hit"]
        elif op.startswith("exchange_bound."):
            ok = 0 < c["exchange_doubles"] <= min(c["edges"], c["parts"] * c["vertices"])
        else:
            ok = False
        if not ok:
            failed += 1
            notes.append(c)
    return len(checks), failed, notes


def check_sweep(checks, table_dir, results):
    with open(os.path.join(results, "oracle_sql.json")) as f:
        sql = json.load(f)
    ran = {c["op"].split(".", 1)[1] for c in checks}
    expect = oracle.sweep_expected(table_dir, {q: s for q, s in sql.items() if q in ran},
                                   os.path.join(BUILD, "data"))
    failed, notes = 0, []
    for c in checks:
        q = c["op"].split(".", 1)[1]
        if "error" in c:
            ok = False
        elif "result" in c:
            ok = q in expect and oracle.sweep_result(c["result"]) == {
                k: expect[q][k] for k in ("rows", "columns", "hash")}
        else:
            ok = c["same_as_first"]
        if not ok:
            failed += 1
            notes.append(c)
    return len(checks), failed, notes


def run(a):
    if not (os.path.isdir("src/main/scala") and os.path.isdir("perfbench")):
        log("run from the repository root: src/main/scala is missing")
        return 2
    t_start = time.time()
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "smoke": a.smoke, "box": box(),
              "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    before = open(build.STAMP).read() if os.path.exists(build.STAMP) else None
    record["build_stamp"] = build_program()
    record["class_archive"] = os.path.exists(build.ARCHIVE)
    built = record["build_stamp"] != before
    DEADLINE[0] = t_start + (BUILD_RUN_BUDGET_S if built else RUN_BUDGET_S)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return measure(a, run_dir, record, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def solve_reps(a):
    if a.smoke:
        return 3
    if a.trace and a.workload != "sweep":
        return TRACED_SOLVE_REPS
    return SOLVE_REPS[a.workload]


def measure(a, run_dir, record, t_start):
    common = dict(seed=a.seed, seconds=a.seconds, trace=a.trace, cores=CORES,
                  setup_reps=1 if a.smoke else SETUP_REPS[a.workload],
                  solve_reps=solve_reps(a))
    repos = SMOKE_REPOS if a.smoke else REPOS
    values = {}
    if a.workload in ("pagerank", "labels"):
        data, info = graph_input(a.seed, repos)
        expect = info["expect"]
        common.update(data=data, ckpt=os.path.join(run_dir, "ckpt"))
        if a.workload == "pagerank":
            tiles = os.path.join(run_dir, "tiles")
            main = run_jvm(run_dir, "pagerank", workload="pagerank", cache=tiles, **common)
            values.update(main["values"])
            checks = main["checks"]
            record["jvm"] = {"pagerank": main}
            if a.trace:
                # the 1->4 scaling pair is a per-layer number: only traced
                # runs pay for the one-core JVM
                child = run_jvm(run_dir, "pr1", workload="pr1", cache=tiles,
                                **dict(common, cores=1))
                values["kernel.pr1.superstep_ms.p50"] = \
                    child["values"]["kernel.pr1.superstep_ms.p50"]
                values["scaling_eff_1to4"] = (
                    child["values"]["kernel.pr1.superstep_midmean_ms"]
                    / (4 * main["values"]["kernel.pr.superstep_midmean_ms"]))
                values["peak_rss_mb"] = max(main["values"]["peak_rss_mb"],
                                            child["values"]["peak_rss_mb"])
                checks = checks + child["checks"]
                record["jvm"]["pr1"] = child
        else:
            main = run_jvm(run_dir, "labels", workload="labels",
                           cache=os.path.join(data, "und-tiles"), **common)
            values.update(main["values"])
            checks = main["checks"]
            record["jvm"] = {"labels": main}
        # every run re-counts the parked table
        edges, vertices = oracle.table_counts(os.path.join(data, "edges.parquet"))
        checks = checks + [{"op": "ingest", "edges": edges, "vertices": vertices}]
        attempted, failed, notes = check_graph(checks, expect, info)
        values.update({"ingest.gen_s": info["ingest.gen_s"], "ingest.edges": edges,
                       "ingest.vertices": vertices})
        record["expect"] = expect
    else:
        data = sweep_tables()
        record["sf_dir"] = data
        results = os.path.join(run_dir, "results")
        kw = dict(common, data=data, results=results, cache="-",
                  queries=",".join(SMOKE_QUERIES if a.smoke else QUERIES))
        main = run_jvm(run_dir, "sweep", workload="sweep", **kw)
        values.update(main["values"])
        attempted, failed, notes = check_sweep(main["checks"], data, results)
        record["jvm"] = {"sweep": main}
    values["error_rate"] = failed / max(1, attempted)
    wanted = PER_LAYER if a.trace else END_TO_END
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in wanted.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    record.update(values=values, failures=notes, result=result,
                  wall_s=time.time() - t_start)
    with open(os.path.join(BUILD, "runs", os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for name in os.listdir(run_dir):
        if name.endswith(".spans.jsonl"):
            os.replace(os.path.join(run_dir, name),
                       os.path.join(BUILD, "runs", f"{os.path.basename(run_dir)}.{name}"))
    evict(os.path.join(BUILD, "runs"), 400)
    summary = ", ".join(f"{k}={values[k]:.4g}" for k in
                        ("setup_s", "solve_s", "first_pass_s", "retained_heap_mb", "peak_rss_mb",
                         "superstep_edges_per_s", "pr_iters", "scaling_eff_1to4",
                         "cc_s", "lpa_s", "error_rate") if k in values)
    log(f"{a.workload} seed={a.seed}: {summary} ({attempted} checks, {failed} failed)")
    for n in notes[:5]:
        log(f"failed check: {json.dumps(n)[:300]}")
    print(json.dumps(result))
    return 0


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["pagerank", "labels", "sweep"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()
    # a terminated run still stops the JVM it started (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(a)
    except (JvmFailed, SystemExit, OSError) as e:
        log(f"failed: {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
