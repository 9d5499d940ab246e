"""Repository benchmark: two workloads driven through the library's public
entry points (etl.Pipeline.run, SparkEntry.queries, ingest.FileSeriesSource)
by one closed-loop client on local[<cores>] Spark.

Usage:
  python3 perfbench/run.py --workload etl_daily|query_ops \
      --seed N --seconds S --trace 0|1

Builds the library and the benchmark from source (perfbench/build.py),
generates the inputs from the seed (perfbench/gen.py), runs the JVM side
(perfbench/scala), checks every output, and prints each metric by name with
its unit. The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. Exits 1 when any check fails, 2 when it cannot build or run.
See perfbench/README.md for the workloads and the metric map.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import summarize as S  # noqa: E402

ROOT = build.ROOT
RESULTS = os.path.join(build.BUILD, "perfbench")
JVM_TIMEOUT_S = 165

# query_ops: registry queries, each round on a fresh input directory so
# every op pays its staged build. Two staged table-format queries (UPDATE
# through etl.MergeInto and AtomicTable; MERGE/DELETE/UPDATE through the
# graft catalog's row-level path and its DSv2 scan) and one read-only
# kernel query per curation family (text, dedup, vector).
QUERY_OPS = ["wh_update_where", "wh_sql_merge", "text_bm25", "dedup_minhash_pairs",
             "sim_ivf_topk"]

# etl_daily: a round is one 3-day block of the release calendar (two
# release days and a quiet day, see gen.EtlSchedule); the backfill is set up
# three times.
ETL = dict(days_per_round=3, setup_reps=3)

# A round takes about this long on 4 cores. A run times a fixed number of
# whole rounds, --seconds / ROUND_S (at least two), so that every run of a
# commit does the same work: a run that stopped on the clock would time
# more, warmer rounds when the host is fast and fewer, colder ones when it
# is slow. A traced run adds one round, so each of its halves has one.
ROUND_S = 12.0


def declared(kind):
    """(name, unit) of the "end_to_end" or "per_layer" metrics BENCHMARK.json
    declares; the run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def rounds(seconds, trace):
    return max(2, int(seconds // ROUND_S)) + (1 if trace else 0)


def generate(workload, seed, seconds, inputs):
    """Writes the workload's inputs; returns what the checks need."""
    import gen
    if workload == "etl_daily":
        sched = gen.EtlSchedule(seed)
        n_days = ETL["days_per_round"] * rounds(seconds, trace=True)
        expected = sched.write(inputs, n_days, ETL["days_per_round"], ETL["setup_reps"])
        return {"schedule": sched, "expected": expected}
    gen.harness_tables(os.path.join(inputs, "tables"), seed, {"orders": 15000, "documents": 500})
    return {}


def jvm(classes, jars, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap is resident in full from the start, so the
    # resident set above it is off-heap memory (offheap_rss_mb)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return "timeout"


# ---- checks ---------------------------------------------------------------

def check_etl(rec, ctx, work):
    """Daily reports against the generator's counts; final fact and dim
    state against a recompute from the last payloads."""
    expected = ctx["expected"]
    problems = []
    for i, s in enumerate(rec["setup"]):
        if s["report"] != expected[0]:
            problems.append(f"backfill {i}: report {s['report']} != {expected[0]}")

    def check(op):
        want = expected[op["day"]]
        return None if op["report"] == want else f"report {op['report']} != {want}"

    days = [op["day"] for r in rec["rounds"] for op in r["ops"] if op.get("ok")]
    fact, dim = ctx["schedule"].final_state(max(days, default=0))
    import duckdb
    con = duckdb.connect()
    got_fact = sorted(con.sql(
        f"SELECT series_id, series_name, date, value, source "
        f"FROM '{work}/dumps/etl_fact/*.parquet'").fetchall(), key=repr)
    got_dim = sorted(con.sql(
        f"SELECT series_id, series_name, source FROM '{work}/dumps/etl_dim/*.parquet'").fetchall())
    if got_fact != sorted(fact, key=repr):
        problems.append(f"final fact state differs: {len(got_fact)} rows vs {len(fact)} expected")
    if got_dim != sorted(dim):
        problems.append(f"dim_series differs: {got_dim[:3]} vs {sorted(dim)[:3]}")
    return check, problems, []


def check_queries(rec, tables_dir, work):
    """Set-up round against the DuckDB oracle (or, unoracled, non-empty);
    every timed op against the set-up round's fingerprint."""
    import oracle
    with open(os.path.join(work, "dumps", "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = oracle.connect(tables_dir)
    setup_ops = rec["setup"][0]["ops"]
    verdict, problems = {}, []
    for op in setup_ops:
        name = op["name"]
        if not op.get("ok"):
            why = f"set-up run threw: {op.get('error')}"
        elif name in sqls:
            why = oracle.compare(con, os.path.join(work, "dumps", name), sqls[name])
            why = None if why is None else f"oracle: {why}"
        else:
            why = None if op["rows"] > 0 else "unoracled query returned no rows"
        verdict[name] = (op.get("fingerprint"), why)
        if why:
            problems.append(f"{name}: {why}")

    def check(op):
        fp, why = verdict.get(op["name"], (None, "not in set-up round"))
        if why:
            return why
        return None if op["fingerprint"] == fp else "fingerprint differs from set-up round"
    return check, problems, setup_ops


# ---- metrics --------------------------------------------------------------

def end_to_end(rec, ops, t_start, build_s):
    rounds = [r for r in rec["rounds"] if not r["traced"]]
    reps = [s["seconds"] for s in rec["setup"]]
    # the first backfill also pays the JVM's class loading and JIT warm-up
    # (setup_s counts it); backfill_s is the load itself
    warm = reps[1:] or reps
    startup = rec["session_ready"] - t_start - build_s
    return {
        "setup_s": startup + S.median(reps),
        "wall_s": S.median([r["wall_s"] for r in rounds]),
        "cpu_s": S.median([r["cpu_s"] for r in rounds]),
        "op_p50_s": S.median([o["latency_s"] for o in ops if not o["failed"]]),
        "backfill_s": S.median(warm),
        "storage_mb": rec["finish"]["storage_bytes"] / 1e6,
        "offheap_rss_mb": rec["offheap_rss_mb"],
    }


def per_layer(rec):
    traced = [r for r in rec["rounds"] if r["traced"]]
    # round 0 still warms the JIT, so the overhead compares later rounds
    untraced = [r for r in rec["rounds"] if not r["traced"] and r["round"] > 0]
    tops = [o for r in traced for o in r["ops"] if o.get("ok")]
    n = max(len(tops), 1)

    def total(key):
        return sum(o["layers"].get(key, 0.0) for o in tops)

    m = {}
    for key in ["exec.jobs", "exec.tasks", "exec.task_cpu_s", "exec.task_run_s", "exec.gc_s",
                "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
                "exec.input_mb", "exec.output_mb", "catalyst.actions", "catalyst.analysis_s",
                "catalyst.optimization_s", "catalyst.planning_s", "sources.files_planned",
                "sources.files_skipped", "sources.bytes_planned", "sources.rows_columnar",
                "sources.rows_vrow", "sources.rows_group_row", "sources.dv_rows_subtracted"]:
        m[key] = total(key) / n
    op_wall = sum(o["latency_s"] for o in tops)
    m["exec.core_busy_share"] = total("exec.task_run_s") / max(op_wall * rec["cores"], 1e-9)
    m["sources.skip_ratio"] = total("sources.files_skipped") / max(total("sources.files_planned"), 1)
    m["queries.construct_s"] = sum(o.get("construct_s", 0.0) for o in tops) / n
    m["queries.exec_s"] = sum(o.get("exec_s", 0.0) for o in tops) / n

    spans = S.attach_parents(rec["spans"])
    split = S.etl_action_split(spans)
    run_s = sum(v[0] for v in split.values())
    act_s = sum(v[1] for v in split.values())
    m["etl.spark_actions_s"] = act_s / n if split else 0.0
    m["etl.driver_s"] = (run_s - act_s) / n if split else 0.0
    rows_in = sum(sum(o["report"]["fact"].values()) for o in tops if "report" in o)
    changed = sum(o["report"]["fact"]["inserted"] + o["report"]["fact"]["updated"]
                  for o in tops if "report" in o)
    written = sum(o.get("bytes_written", 0) for o in tops)
    m["etl.rows_in"] = rows_in / n
    m["etl.rows_changed"] = changed / n
    m["etl.bytes_written_mb"] = written / 1e6 / n
    m["etl.bytes_per_changed_row"] = written / changed if changed else 0.0

    for fam in ["text", "dedup", "sim"]:
        m[f"ops.{fam}_s"] = S.median([sum(o["latency_s"] for o in r["ops"]
                                          if o.get("ok") and o["name"].startswith(fam + "_"))
                                      for r in traced]) or 0.0
    m["jvm.heap_peak_mb"] = rec["heap_peak_mb"]
    tw, uw = S.median([r["wall_s"] for r in traced]), S.median([r["wall_s"] for r in untraced])
    m["trace.overhead_share"] = (tw / uw - 1) if tw and uw else 0.0
    return m, S.self_times(spans)


def history_label(workload, stamp, wall, cpu):
    """Appends this run to history.jsonl and labels it against the earlier
    runs of the same workload built from the same sources."""
    path = os.path.join(RESULTS, "history.jsonl")
    past = []
    if os.path.exists(path):
        with open(path) as f:
            past = [json.loads(l) for l in f if l.strip()]
    past = [p["wall_s"] / p["cpu_s"] for p in past
            if p["workload"] == workload and p.get("sources") == stamp]
    with open(path, "a") as f:
        f.write(json.dumps({"workload": workload, "sources": stamp,
                            "wall_s": wall, "cpu_s": cpu}) + "\n")
    return S.stall_label(past, wall, cpu)


def main(argv=None):
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_daily", "query_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    try:
        classes, jars, build_s = build.build()
    except build.BuildError as e:
        print(f"[perfbench] cannot build: {e}", file=sys.stderr)
        return 2
    os.makedirs(RESULTS, exist_ok=True)
    work = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        ctx = generate(a.workload, a.seed, a.seconds, inputs)
        out = os.path.join(work, "record.json")
        args = ["--workload", a.workload, "--inputs", inputs, "--work", work, "--out", out,
                "--rounds", str(rounds(a.seconds, a.trace)), "--trace", str(a.trace),
                "--cores", str(cores())]
        if a.workload == "query_ops":
            args += ["--queries", ",".join(QUERY_OPS)]
        t_gen = time.time()
        code = jvm(classes, jars, work, args)
        t_jvm = time.time()
        if code != 0 or not os.path.exists(out):
            print(f"[perfbench] benchmark JVM failed: {code}", file=sys.stderr)
            return 2
        with open(out) as f:
            rec = json.load(f)
        if a.workload == "etl_daily":
            check, problems, setup_ops = check_etl(rec, ctx, work)
        else:
            check, problems, setup_ops = check_queries(rec, os.path.join(inputs, "tables"), work)
        ops = S.judge([o for r in rec["rounds"] for o in r["ops"]], check)
        failed = sum(o["failed"] for o in ops) + sum(not o.get("ok") for o in setup_ops)
        attempted = len(ops) + len(setup_ops)
        for o in ops:
            if o["failed"]:
                problems.append(f"op {o['name']} round {o['round']}: {o['reason']}")

        print(f"workload {a.workload}  seed {a.seed}  cores {rec['cores']}  "
              f"rounds {len(rec['rounds'])}  ops {len(ops)}  trace {a.trace}")
        good = [o["latency_s"] for o in ops if not o["failed"]]
        p90 = S.tail_percentile(good)
        print(f"error_rate {failed / attempted:.6g} ({failed}/{attempted} ops)")
        print("op_p90_s " + (f"{p90:.6g} s" if p90 is not None
                             else f"not reported ({len(good)} ops; needs 100)"))
        if a.trace:
            metrics, selfs = per_layer(rec)
            units = declared("per_layer")
            with open(os.path.join(RESULTS, f"{a.workload}.trace.json"), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "metrics": metrics,
                           "self_times": selfs, "spans": S.attach_parents(rec["spans"])}, f)
            for name, st in sorted(selfs.items()):
                print(f"  span {name:<22} n={st['count']:<4} total {st['total_s']:.4f} s"
                      f"  self {st['self_s']:.4f} s")
        else:
            metrics = end_to_end(rec, ops, t_start, build_s)
            units = declared("end_to_end")
            with open(os.path.join(classes, ".stamp")) as f:
                stamp = f.read()
            print("run " + history_label(a.workload, stamp, metrics["wall_s"], metrics["cpu_s"]))
        missing = {n for n, _ in units} ^ set(metrics)
        if missing:
            print(f"[perfbench] metrics do not match BENCHMARK.json: {sorted(missing)}", file=sys.stderr)
            return 2
        for name, unit in units:
            print(f"{name:<28} {metrics[name]:.6g} {unit}")
        for p in problems:
            print(f"CHECK FAILED {p}")
        correct = not problems
        reps = [x["seconds"] for x in rec["setup"]]
        print(f"phases: build {build_s:.1f} s, inputs {t_gen - t_start - build_s:.1f} s, "
              f"jvm to session {rec['session_ready'] - t_gen:.1f} s, "
              f"set-up {rec['timed_start'] - rec['session_ready']:.1f} s "
              f"({' + '.join(f'{x:.2f}' for x in reps)}), "
              f"timed {rec['timed_end'] - rec['timed_start']:.1f} s, "
              f"finish+exit {t_jvm - rec['timed_end']:.1f} s, checks {time.time() - t_jvm:.1f} s",
              file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {n: {"value": metrics[n], "unit": u}
                                      for n, u in units}}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
