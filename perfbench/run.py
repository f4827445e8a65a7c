#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

One command runs a named workload, checks every query's output against its
DuckDB oracle, prints every metric by name and unit, and writes a run record
under perfbench/.runs/. Run from the root of a checkout:

    python3 perfbench/run.py --workload lazy --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest      # the benchmark's own checks, sf0.001
    python3 perfbench/run.py --survey        # classify all queries (slow)

--trace 0 reports the end-to-end metrics; --trace 1 alternates untraced and
traced passes and reports the per-layer metrics and the tracing overhead.
The last stdout line is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CONF = json.loads((HERE / "workloads.json").read_text())
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DEADLINE_S = 170  # the whole run, build included, ends before 180 s

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "query_p50_ms": "ms",
    "heap_live_mb": "MB",
}
PER_LAYER = {
    "construct.ms": "ms", "construct.jobs": "count",
    "construct.task_cpu_ms": "ms", "construct.materialized_bytes": "bytes",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_ms": "ms", "exec.cpu_per_wall": "ratio",
    "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.gc_ms": "ms",
    "sources.input_bytes": "bytes", "sources.input_rows": "rows",
    "sources.output_bytes": "bytes",
    "stream.batches": "count", "stream.empty_batches": "count",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.get_batch_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.state_rows": "rows",
    "stream.state_memory_bytes": "bytes", "stream.state_commit_ms": "ms",
    "stream.input_rows": "rows", "stream.harness_ms": "ms",
    "stream.batch_p50_ms": "ms", "stream.batch_tail_ms": "ms",
    "stream.rows_per_s": "rows/s",
    "jvm.gc_ms": "ms", "jvm.heap_after_gc_mb": "MB",
    "leak.persisted_rdds": "count", "leak.active_streams": "count",
    "leak.scratch_bytes": "bytes",
    "trace.overhead_s": "s",
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build + JVM

def build(deadline):
    r = subprocess.run(["bash", str(HERE / "build.sh")], capture_output=True,
                       text=True, timeout=max(1, deadline - time.time()))
    if r.returncode != 0:
        log(r.stderr[-4000:])
        raise SystemExit(f"build failed (exit {r.returncode})")
    return r.stdout.strip().splitlines()[-1]


def cores():
    return len(os.sched_getaffinity(0))


def run_harness(classpath, out, queries, seed, seconds, trace, sf, setups,
                deadline, survey=False):
    """Run the JVM side in its own process group; kill the group on timeout."""
    # the engine's scratch base apart from Spark's own files, so that
    # leak.scratch_bytes counts only what the engine leaves behind
    scratch = out / "scratch"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    (scratch / "engine").mkdir()
    # C1 only: with C2 the compiler threads used more CPU than the queries
    # all through the timed window, and how far they had got set each run's
    # speed; with C1 the passes after set-up are flat
    cmd = ["java", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Xmx{CONF['xmx']}",
           "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch / 'tmp'}",
           "-cp", classpath, "perfbench.Harness",
           "--queries", ",".join(queries), "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--survey", "1" if survey else "0", "--sf", str(sf),
           "--out", str(out), "--setups", str(setups), "--cores", str(cores())]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=str(scratch / "engine"))
    with open(out / "jvm.log", "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             cwd=out, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness timed out; see {out / 'jvm.log'}")
        finally:
            if p.poll() is None:  # timed out, or this process was interrupted
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0 or not (out / "result.json").exists():
        tail = (out / "jvm.log").read_text(errors="replace")[-3000:]
        log(tail)
        raise SystemExit(f"harness failed (exit {rc}); see {out / 'jvm.log'}")
    return json.loads((out / "result.json").read_text())


# ---------------------------------------------------------------- oracle

def norm(df):
    """Normalise as tools/check.py does: columns by name, rows sorted."""
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple)) or
                     (getattr(v, "ndim", 0) == 1 and not isinstance(v, str))).any():
            raise TypeError(f"array-typed oracled column {c!r}")
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got, exp):
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows != oracle {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        if (pd.api.types.is_integer_dtype(a) and pd.api.types.is_float_dtype(b)) or \
           (pd.api.types.is_float_dtype(a) and pd.api.types.is_integer_dtype(b)):
            return f"column {c}: dtype {a.dtype} != oracle {b.dtype}"
        try:
            eq = (a.values == b.values) | (a.isna().values & b.isna().values)
        except Exception:  # noqa: BLE001 - mixed types compare as text
            eq = a.astype(str).values == b.astype(str).values
        bad = (~eq).nonzero()[0]
        if len(bad):
            i = bad[0]
            return (f"column {c}: {len(bad)}/{len(a)} differ, first at {i}: "
                    f"{a.iloc[i]!r} != oracle {b.iloc[i]!r}")
    return None


def oracle_check(result, out, sf):
    """Map each query whose output differs from its oracle to the reason."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        if (sf / f"{t}.parquet").exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    bad = {}
    for q, sql in sorted(result["oracle_sql"].items()):
        if q in result["failures"]:
            continue
        try:
            got = norm(con.sql(
                f"SELECT * FROM read_parquet('{out}/results/{q}/*.parquet')").df())
            why = compare(got, norm(con.sql(sql).df()))
        except Exception as e:  # noqa: BLE001 - any load error fails the query
            why = f"oracle check error: {e}"
        if why:
            bad[q] = why
    return bad


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def query_p50(passes):
    """Each query's median latency over the passes, then their geometric
    mean: every query weighs the same, and no single query's median stands
    for the workload, as the median of the pooled latencies would."""
    by_query = {}
    for p in passes:
        for s in p["queries"]:
            by_query.setdefault(s["query"], []).append(s["ms"])
    if not by_query:
        return 0.0
    return math.exp(statistics.fmean(math.log(statistics.median(v))
                                     for v in by_query.values()))


def end_to_end(result):
    passes = [p for p in result["passes"] if not p["traced"]]
    lat = [s["ms"] for p in passes for s in p["queries"]]
    t, pct, n = tail(lat)
    metrics = {
        "setup_s": median(result["setup_s"]),
        "wall_s": median([p["wall_s"] for p in passes]),
        # JIT compile time is excluded: it still falls pass by pass after
        # set-up, and how fast it falls differs by run
        "cpu_s": median([p["cpu_s"] - p["jit_ms"] / 1e3 for p in passes]),
        "query_p50_ms": query_p50(passes),
        "heap_live_mb": result["heap_live_mb"],
    }
    return metrics, {"query_tail_ms": t, "query_tail_percentile": pct, "query_samples": n}


def batches_of(q):
    """Executed micro-batches of one traced query, one per (run, batch id)."""
    seen = {}
    for phase in ("construct", "exec"):
        for b in q[phase]["batches"]:
            seen[(b["run_id"], b["batch_id"])] = b
    return list(seen.values())


def per_layer(result):
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]

    def per_pass(f):
        return median([sum(f(q) for q in p["queries"]) for p in traced])

    def both(key):
        return per_pass(lambda q: q["construct"][key] + q["exec"][key])

    def worst_leak(key):
        return max((q["leak"][key] for p in traced for q in p["queries"]), default=0)

    def last_state(q, key):
        by_run = {}
        for b in sorted(batches_of(q), key=lambda b: b["batch_id"]):
            by_run[b["run_id"]] = b[key]
        return sum(by_run.values())

    batch_ms = [b["trigger_ms"] for p in traced for q in p["queries"]
                for b in batches_of(q)]
    rows = sum(b["input_rows"] for p in traced for q in p["queries"] for b in batches_of(q))
    exec_ms = per_pass(lambda q: q["exec_ms"])
    exec_cpu = per_pass(lambda q: q["exec"]["task_cpu_ms"])
    m = {
        "construct.ms": per_pass(lambda q: q["construct_ms"]),
        "construct.jobs": per_pass(lambda q: q["construct"]["jobs"]),
        "construct.task_cpu_ms": per_pass(lambda q: q["construct"]["task_cpu_ms"]),
        "construct.materialized_bytes": per_pass(lambda q: q["construct"]["rdd_block_bytes"]),
        "catalyst.analysis_ms": both("analysis_ms"),
        "catalyst.optimization_ms": both("optimization_ms"),
        "catalyst.planning_ms": both("planning_ms"),
        "exec.ms": exec_ms,
        "exec.jobs": per_pass(lambda q: q["exec"]["jobs"]),
        "exec.stages": per_pass(lambda q: q["exec"]["stages"]),
        "exec.tasks": per_pass(lambda q: q["exec"]["tasks"]),
        "exec.task_cpu_ms": exec_cpu,
        "exec.cpu_per_wall": exec_cpu / exec_ms if exec_ms else 0.0,
        "exec.shuffle_bytes": per_pass(lambda q: q["exec"]["shuffle_bytes"]),
        "exec.spill_bytes": per_pass(lambda q: q["exec"]["spill_bytes"]),
        "exec.gc_ms": per_pass(lambda q: q["exec"]["task_gc_ms"]),
        "sources.input_bytes": both("input_bytes"),
        "sources.input_rows": both("input_rows"),
        "sources.output_bytes": both("output_bytes"),
        "stream.batches": per_pass(lambda q: len(batches_of(q))),
        "stream.empty_batches": per_pass(
            lambda q: sum(1 for b in batches_of(q) if b["input_rows"] == 0)),
        "stream.input_rows": per_pass(lambda q: sum(b["input_rows"] for b in batches_of(q))),
        "stream.state_rows": per_pass(lambda q: last_state(q, "state_rows")),
        "stream.state_memory_bytes": per_pass(lambda q: last_state(q, "state_memory_bytes")),
        "stream.harness_ms": per_pass(lambda q: q["construct_ms"] + q["exec_ms"] - sum(
            b["trigger_ms"] for b in batches_of(q)) if batches_of(q) else 0),
        "stream.batch_p50_ms": median(batch_ms),
        "stream.batch_tail_ms": tail(batch_ms)[0],
        "stream.rows_per_s": rows / (sum(batch_ms) / 1e3) if batch_ms else 0.0,
        "jvm.gc_ms": median([p["gc_ms"] for p in traced]),
        "jvm.heap_after_gc_mb": result["heap_live_mb"],
        "leak.persisted_rdds": worst_leak("persisted_rdds"),
        "leak.active_streams": worst_leak("active_streams"),
        "leak.scratch_bytes": worst_leak("scratch_bytes"),
        "trace.overhead_s": (median([p["wall_s"] for p in traced]) -
                             median([p["wall_s"] for p in untraced])) if untraced else 0.0,
    }
    for key in ("trigger_ms", "add_batch_ms", "get_batch_ms", "wal_commit_ms",
                "query_planning_ms", "state_commit_ms"):
        m[f"stream.{key}"] = per_pass(lambda q: sum(b[key] for b in batches_of(q)))
    extra = {"stream_batch_tail_percentile": tail(batch_ms)[1],
             "stream_batch_samples": len(batch_ms)}
    return m, extra


def query_class(q):
    """The traced property that sorts queries into workloads."""
    if batches_of(q):
        return "stream"
    return "eager" if q["construct"]["jobs"] > 0 else "lazy"


def sizing_table(traced_pass, classes=("lazy", "eager", "stream")):
    """Per-class shape of one traced pass, as markdown rows."""
    rows = ["| class | queries | s/pass | construction share | jobs (construction / execution) "
            "| micro-batches | trigger share of wall |",
            "|---|---|---|---|---|---|---|"]
    for c in classes:
        qs = [q for q in traced_pass["queries"] if query_class(q) == c]
        if not qs:
            continue
        wall = sum(q["construct_ms"] + q["exec_ms"] for q in qs)
        cons = sum(q["construct_ms"] for q in qs)
        bs = [b for q in qs for b in batches_of(q)]
        trig = sum(b["trigger_ms"] for b in bs)
        rows.append(
            f"| `{c}` | {len(qs)} | {wall / 1e3:.1f} | {100 * cons / wall:.0f} % | "
            f"{sum(q['construct']['jobs'] for q in qs)} / {sum(q['exec']['jobs'] for q in qs)} | "
            f"{len(bs)} | {100 * trig / wall:.0f} % |")
    return "\n".join(rows)


# ---------------------------------------------------------------- modes

def source_digest():
    h = hashlib.sha256()
    for p in sorted((ROOT / "src" / "main").rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit():
    """HEAD of the checkout, or None when it is not a git working tree."""
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True, timeout=10)
    return r.stdout.strip() or None


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def bench(args):
    deadline = time.time() + DEADLINE_S
    wl = CONF["workloads"].get(args.workload)
    if wl is None:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(CONF['workloads'])}")
    sf = HERE / CONF["sf"]
    classpath = build(deadline)
    out = HERE / ".runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    result = run_harness(classpath, out, wl["queries"], args.seed, args.seconds,
                         args.trace == 1, sf, CONF["setups"], deadline)
    mismatched = oracle_check(result, out, sf)
    failures = {**result["failures"], **mismatched}
    # every query execution in a timed pass, plus each failure outside them
    attempted = sum(len(p["queries"]) for p in result["passes"]) + result["failed_runs"]
    failed = result["failed_runs"] + len(mismatched)
    metrics, extra = end_to_end(result)
    layer = None
    if args.trace == 1:
        layer, more = per_layer(result)
        extra.update(more)
    shown, units = (layer, PER_LAYER) if layer else (metrics, END_TO_END)
    ext = [s["ext_cpu_frac"] for p in result["passes"] if not p["traced"]
           for s in p["queries"]]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "config": result["config"],
        "git_commit": git_commit(), "source_digest": source_digest(),
        "correct": not failures, "attempted": attempted, "failed": failed,
        "failed_frac": failed / max(attempted, 1), "failures": failures,
        "end_to_end": metrics, **extra,
        "per_layer": layer,
        "ext_cpu_frac_samples": ext,
        "passes": [{k: p[k] for k in ("traced", "wall_s", "cpu_s", "gc_ms", "jit_ms")}
                   for p in result["passes"]],
        "setup_s_samples": result["setup_s"],
    }
    (out / "record.json").write_text(json.dumps(record, indent=1))
    for q, why in failures.items():
        print(f"FAIL {q}: {why}")
    for name, v in {**metrics, **(layer or {})}.items():
        print(f"{name} = {fmt(v)} {END_TO_END.get(name) or PER_LAYER[name]}")
    for k, v in extra.items():
        print(f"{k} = {fmt(v)}")
    print(f"failed_frac = {fmt(record['failed_frac'])} ({failed}/{attempted})")
    if args.trace == 1:
        print(sizing_table([p for p in result["passes"] if p["traced"]][-1]))
    print(f"record: {out / 'record.json'}")
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))


def survey(args):
    """One warm-up and one traced pass over every query; classify each.
    Outputs are not oracle-checked here: that is each workload run's job."""
    out = HERE / ".runs" / "survey"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    sf = HERE / CONF["sf"]
    classpath = build(time.time() + 600)
    result = run_harness(classpath, out, ["ALL"], 0, 0, True, sf, 1,
                         time.time() + 3 * 3600, survey=True)
    traced = [p for p in result["passes"] if p["traced"]][0]
    rows = {q["query"]: {"class": query_class(q), "construct_ms": q["construct_ms"],
                         "exec_ms": q["exec_ms"], "construct_jobs": q["construct"]["jobs"],
                         "exec_jobs": q["exec"]["jobs"], "batches": len(batches_of(q)),
                         "materialized_bytes": q["construct"]["rdd_block_bytes"]}
            for q in traced["queries"]}
    (out / "survey.json").write_text(json.dumps(rows, indent=1, sort_keys=True))
    print(sizing_table(traced))
    print(f"harness failures: {json.dumps(result['failures'], indent=1)}")
    print(f"per-query table: {out / 'survey.json'}")


def selftest(_args):
    """The benchmark's own checks at sf0.001, one traced run per workload."""
    problems = []
    classpath = build(time.time() + 600)
    sf = HERE / CONF["selftest_sf"]
    for name, wl in CONF["workloads"].items():
        out = HERE / ".runs" / f"selftest-{name}"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        result = run_harness(classpath, out, wl["queries"], 0, 0.1, True, sf, 1,
                             time.time() + 900)
        for q, why in {**result["failures"], **oracle_check(result, out, sf)}.items():
            problems.append(f"{name}: {q} failed: {why}")
        ids = result["job_ids"]
        traced = [p for p in result["passes"] if p["traced"]]
        attributed = sum(q["construct"]["jobs"] + q["exec"]["jobs"]
                         for p in traced for q in p["queries"])
        ran = max(ids) - min(ids) + 1 if ids else 0
        if sorted(ids) != list(range(min(ids, default=0), min(ids, default=0) + ran)) \
                or attributed != ran:
            problems.append(f"{name}: construct.jobs + exec.jobs = {attributed}, "
                            f"but the SparkContext ran {ran} jobs ({len(ids)} seen)")
        for q in traced[0]["queries"]:
            cj, nb = q["construct"]["jobs"], len(batches_of(q))
            if name == "lazy" and cj != 0:
                problems.append(f"lazy: {q['query']} runs {cj} construction jobs")
            if name == "eager" and cj == 0:
                problems.append(f"eager: {q['query']} runs no construction job")
            if name == "stream" and nb < 2:
                problems.append(f"stream: {q['query']} runs {nb} micro-batches")
        got = set(end_to_end(result)[0]) | set(per_layer(result)[0])
        declared = json.loads((ROOT / "BENCHMARK.json").read_text())
        want = {m["name"] for m in declared["end_to_end"] + declared["per_layer"]}
        want |= set(END_TO_END) | set(PER_LAYER)
        if want - got:
            problems.append(f"{name}: metrics missing from output: {sorted(want - got)}")
        print(f"selftest {name}: {len(traced[0]['queries'])} queries, {ran} jobs")
    for p in problems:
        print(f"SELFTEST FAIL {p}")
    print("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--survey", action="store_true")
    args = ap.parse_args()
    # a SIGTERM unwinds like Ctrl-C, so the harness's process group is killed
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    if args.selftest:
        return selftest(args)
    if args.survey:
        return survey(args)
    if not args.workload:
        ap.error("--workload is required")
    bench(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
