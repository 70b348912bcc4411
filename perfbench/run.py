#!/usr/bin/env python3
"""graft closed-loop benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--inject throw|wrong|drift]

Run from the root of a graft checkout. It builds the engine and the
benchmark from source (sbt, this directory's build.sbt, which depends on
the root build) the first time, then runs one JVM (graft.perfbench.Main)
that generates the input on first use, sets up, warms up and measures,
and finally replays every statement in
DuckDB to check the engine's results. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. Any failed statement or wrong result makes the exit code non-zero.

Working files go under perfbench/work/ in the checkout: the generated input
(kept for later runs), and each run's artifact (host context, per-layer
numbers, counters, spans) under perfbench/work/artifacts/; a run deletes
its own working data.
"""
import argparse
import concurrent.futures
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WORKLOADS = ["interactive-dialect", "lake-dml", "llm-dedup"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Counters that should repeat exactly on a second run with the same seed.
COUNTERS = ["exec.jobs", "exec.tasks", "exec.shuffle_write_bytes",
            "exec.shuffle_read_bytes", "exec.files_read",
            "sources.meta_read_bytes", "sources.log_versions"]

# End-to-end metrics: every one is printed, and the gated ones (those
# BENCHMARK.json names) go into the result line. Statement latency moves with
# the host's speed by more than a bound can allow run to run, so the
# percentiles are printed but not gated; see BENCH.md.
E2E = [("setup_s", "s"), ("throughput_stmt_s", "1/s"),
       ("cpu_ms_per_stmt", "ms"), ("heap_retained_mb", "MB")]
PRINTED = [("stmt_p50_ms", "ms"), ("stmt_tail_ms", "ms")]
LAKE_ONLY = [("space_amp", "ratio"), ("write_bytes_per_row", "B")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the two builds read, build outputs left out."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, ds, fs in os.walk(r):
            ds[:] = sorted(x for x in ds if x not in ("target", "project"))
            for f in sorted(fs):
                yield os.path.join(d, f)


def data_cache():
    """Generated input lives under a name that changes with its generator."""
    h = hashlib.sha256()
    for p in (os.path.join(HERE, "data.py"), os.path.join(
            HERE, "src", "main", "scala", "graft", "perfbench", "Data.scala")):
        with open(p, "rb") as f:
            h.update(f.read())
    return os.path.join(WORK, f"data-{h.hexdigest()[:12]}")


def build():
    """sbt compile + classpath and JVM options export, skipped when no
    source changed. Returns (classpath, JVM options of the root build)."""
    h = hashlib.sha256()
    for p in source_files():
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    stamp = os.path.join(HERE, "target", "build.stamp")
    cp = os.path.join(HERE, "target", "cp.txt")
    opts = os.path.join(HERE, "target", "jvm.txt")

    def exported():
        return (open(cp).read().strip(), open(opts).read().split("\n"))
    if os.path.exists(cp) and os.path.exists(stamp) and \
            open(stamp).read() == h.hexdigest():
        return exported()
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "compile; exportCp"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}", 3)
    if r.returncode != 0 or not os.path.exists(cp):
        die(f"build failed; see {log}", 3)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return exported()


def launch(build_out, a, run_dir):
    cp, opts = build_out
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The root build's options (module opens, time zone), then a heap cap
    # that keeps a run small on a shared host; the last -Xmx wins.
    cmd = ["java"] + [o for o in opts if o] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir,
            "--datagen", os.path.join(HERE, "data.py"),
            "--data-cache", data_cache()]
    if a.inject:
        cmd += ["--inject", a.inject]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "run.json")):
        tail = open(log, errors="replace").read()[-3000:]
        die(f"engine run failed (exit {rc}); log tail:\n{tail}", 4)
    return json.load(open(os.path.join(run_dir, "run.json")))


# ---------------------------------------------------------------- checks

def canon(v):
    """DuckDB values in the forms the engine side writes."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (f".{v.microsecond:06d}" if v.microsecond else "")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return sorted(([canon(k), canon(x)] for k, x in v.items()),
                      key=lambda p: json.dumps(p[0]))
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, bytes):
        return v.hex()
    return v


def sort_key(row):
    def k(x):
        if x is None:
            return (0, 0)
        if isinstance(x, bool):
            return (1, int(x))
        if isinstance(x, (int, float)):
            return (1, float(f"{x:.6g}"))
        if isinstance(x, str):
            return (2, x)
        return (3, json.dumps(x))
    return [k(x) for x in row]


def same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-7, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def diff_rows(cols, rows, want_cols, want_rows):
    """None when equal as multisets of rows (columns matched by name)."""
    if sorted(cols) != sorted(want_cols):
        return f"columns {cols} vs {want_cols}"
    pos = [cols.index(c) for c in want_cols]
    got = sorted(([r[i] for i in pos] for r in rows), key=sort_key)
    want = sorted(([canon(x) for x in r] for r in want_rows), key=sort_key)
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    for g, w in zip(got, want):
        if not same(g, w):
            return f"row {g} vs {w}"
    return None


def diff_tables(con, got, want):
    """None when two DuckDB relations hold the same rows as multisets
    (columns matched by name, values compared exactly)."""
    def cols(rel):
        return [d[0] for d in con.execute(
            f"SELECT * FROM {rel} LIMIT 0").description]
    gcols, wcols = cols(got), cols(want)
    if sorted(gcols) != sorted(wcols):
        return f"columns {gcols} vs {wcols}"
    sel = ", ".join(f'"{c}"' for c in wcols)
    for a, b, side in ((got, want, "engine"), (want, got, "replay")):
        n, row = con.execute(
            f"SELECT count(*), any_value(x) FROM (SELECT {sel} FROM {a} "
            f"EXCEPT ALL SELECT {sel} FROM {b}) x").fetchone()
        if n:
            return f"{n} rows only on the {side} side, e.g. {row}"
    return None


def check(run, run_dir):
    """Replay every statement in DuckDB. Returns (failed statement ids,
    notes, rows changed in the timed phase)."""
    import duckdb
    con = duckdb.connect(config={
        "threads": 4, "memory_limit": "1GB",
        "temp_directory": os.path.join(run_dir, "tmp")})

    def views(c):
        c.execute("SET TimeZone = 'UTC'")  # the engine's session time zone
        for t in run["tables"]:
            glob = os.path.join(run["data_dir"], f"{t}.parquet", "*.parquet")
            for name in (t, f"base_{t}"):
                c.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS "
                          f"SELECT * FROM read_parquet('{glob}')")
        return c
    views(con)
    for s in run["duck_setup"]:
        con.execute(s)
    # The Delta versions that VERSION AS OF reads name, by the index of the
    # statement that wrote them (-1: the table's creation).
    targets = {st["travel"] for st in run["statements"]}
    if -1 in targets:
        con.execute("CREATE TABLE d_orders_s0 AS SELECT * FROM d_orders")
    rows = {}
    with open(os.path.join(run_dir, "rows.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            rows[r["idx"]] = (r["cols"], r["rows"])

    def replay(c, st):
        """(columns and rows of the compared statement or None, rows
        changed as the replay counts them)."""
        want, n_changed = None, 0
        for j, s in enumerate(st["duck"]):
            cur = c.execute(s)
            if j in st["count_rows"]:
                n_changed += cur.fetchone()[0]
            elif j == len(st["duck"]) - 1 and st["compare"]:
                want = ([d[0] for d in cur.description], cur.fetchall())
        return want, n_changed

    # Without lake tables the statements are independent reads: each
    # distinct replay runs once, four at a time on connections of their own
    # (their reference SQL is mostly single-threaded list work).
    pending = {}
    if not run["lake"]:
        local = threading.local()
        cursors = []

        def replay_alone(st):
            if not hasattr(local, "c"):
                local.c = views(con.cursor())
                cursors.append(local.c)
            return replay(local.c, st)
        pool = concurrent.futures.ThreadPoolExecutor(4)
        for st in run["statements"]:
            if st["ok"] and tuple(st["duck"]) not in pending:
                pending[tuple(st["duck"])] = pool.submit(replay_alone, st)
        pool.shutdown(wait=True)
        for c in cursors:
            c.close()
    failed, notes, changed = set(), [], 0
    for st in run["statements"]:
        i = st["idx"]
        if not st["ok"]:
            failed.add(i)
            notes.append(f"stmt {i} ({st['family']}) threw: {st['err']}")
            continue
        try:
            key = tuple(st["duck"])
            want, n = (pending[key].result() if key in pending
                       else replay(con, st))
            if st["phase"] == "timed":
                changed += n
            if st["delta_write"] and i in targets:
                con.execute(f"CREATE TABLE d_orders_s{i + 1} AS "
                            "SELECT * FROM d_orders")
            if st["compare"]:
                if i not in rows:
                    raise ValueError("no rows recorded")
                d = diff_rows(*rows[i], *want)
                if d:
                    failed.add(i)
                    notes.append(f"stmt {i} ({st['family']}) wrong: {d}")
        except Exception as e:  # a replay error is a failed check
            failed.add(i)
            notes.append(f"stmt {i} ({st['family']}) check error: {e}")
    for t, f, _, _ in run["lake"]:
        try:
            d = diff_tables(con, f"read_parquet('{f}/*.parquet')", t)
        except Exception as e:  # a replay error is a failed check
            d = f"check error: {e}"
        if d:
            failed.add(f"final:{t}")
            notes.append(f"final contents of {t} differ: {d}")
    con.close()
    return failed, notes, changed


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    s = sorted(xs)
    x = p / 100 * (len(s) - 1)
    lo = math.floor(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def end_to_end(run, changed, failed, attempted):
    timed = [s["ms"] for s in run["statements"] if s["phase"] == "timed"]
    n = len(timed)
    p = run["tail_pct"]
    m = {
        "setup_s": statistics.median(run["setup_s"]),
        "stmt_p50_ms": statistics.median(timed),
        "stmt_tail_ms": pct(timed, p),
        "throughput_stmt_s": n / run["timed_s"],
        "cpu_ms_per_stmt": run["timed_cpu_ms"] / n,
        "heap_retained_mb": run["heap_retained_mb"],
    }
    extra = {"fail_ratio": failed / attempted,
             "tail_percentile": p, "tail_samples_beyond": n * (1 - p / 100),
             "timed_statements": n}
    if run["lake"]:
        on_disk = sum(x[2] for x in run["lake"])
        plain = sum(x[3] for x in run["lake"])
        extra["space_amp"] = on_disk / plain
        extra["write_bytes_per_row"] = (run["timed_write_bytes"] / changed
                                        if changed else None)
    return m, extra


# Per-layer metrics of a traced run: (name, unit, better). Each traced run
# also reports op.<family>.p50_ms for the statement families of the
# workloads BENCHMARK.json names (GATED) and of its own workload.
LAYER = [("trace.stmt_ms", "ms", "lower"), ("trace.overhead_pct", "%", "lower")]
LAYER += [(f"self.{l}_ms", "ms", "lower") for l in
          ("bench", "lakesql", "catalyst", "exec", "sources", "operators",
           "trace")]
LAYER += [
    ("lakesql.sql_ms", "ms", "lower"),
    ("lakesql.rewrite_parse_ms", "ms", "lower"),
    ("lakesql.driver_self_ms", "ms", "lower"),
    ("catalyst.analyze_ms", "ms", "lower"),
    ("catalyst.optimize_ms", "ms", "lower"),
    ("catalyst.physical_ms", "ms", "lower"),
    ("exec.run_ms", "ms", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_busy_ms", "ms", "lower"),
    ("exec.task_cpu_ms", "ms", "lower"),
    ("exec.task_wait_ms", "ms", "lower"),
    ("exec.core_util", "ratio", "higher"),
    ("exec.shuffle_write_bytes", "B", "lower"),
    ("exec.shuffle_read_bytes", "B", "lower"),
    ("exec.shuffle_fetch_wait_ms", "ms", "lower"),
    ("exec.input_bytes", "B", "lower"),
    ("exec.spill_bytes", "B", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("exec.files_read", "count", "lower"),
    ("sources.meta_read_bytes", "B", "lower"),
    ("sources.snapshot_ms", "ms", "lower"),
    ("sources.log_versions", "count", "lower"),
    ("sources.files_live", "count", "lower"),
    ("sources.files_kept_ratio", "ratio", "lower"),
    ("sources.commit_files", "count", "lower"),
    ("sources.data_bytes_written", "B", "lower"),
    ("sources.jobs_per_dml", "count", "lower"),
    ("sources.maintenance_ms", "ms", "lower"),
    ("sources.maintenance_bytes_rewritten", "B", "lower"),
    ("operators.call_ms", "ms", "lower"),
    ("operators.output_rows", "count", "higher"),
    ("operators.shuffle_records_per_output_row", "ratio", "lower"),
]
GATED = ["lake-dml", "llm-dedup"]


def layer_spec(workload):
    fams = [f for w in GATED for f in families(w)]
    fams += [f for f in families(workload) if f not in fams]
    return LAYER + [(f"op.{f}.p50_ms", "ms", "lower") for f in fams]


def per_layer(run, workload):
    """Per-layer values in layer_spec order. Per-family medians take the
    traced and the untraced statements after the warm-up."""
    lat = {}
    for s in run["statements"]:
        if s["phase"] in ("timed", "traced"):
            lat.setdefault(s["family"], []).append(s["ms"])
    out = {}
    for name, unit, _ in layer_spec(workload):
        if name.startswith("op."):
            xs = lat.get(name[3:-len(".p50_ms")])
            out[name] = (statistics.median(xs) if xs else 0.0, unit)
        else:
            out[name] = (run["per_layer"][name], unit)
    return out


def families(workload):
    """Statement families per workload, kept in step with Gen.scala."""
    return {
        "interactive-dialect": ["point_order", "point_customer", "qualify",
                                "distinct_on", "list", "map", "strftime",
                                "string_agg", "exclude", "group_by_all",
                                "small_join", "top_k", "events_json",
                                "split_part", "join_lines", "order_by_all"],
        "lake-dml": ["merge", "fullsync", "update", "delete", "insert",
                     "point", "read", "travel", "hudi_upsert", "hudi_read",
                     "optimize"],
        "llm-dedup": ["t04_fingerprint", "t06_tfidf",
                      "d02_minhash_lsh", "d03_simhash",
                      "d16_exact_substring", "a02_ann_lsh"],
    }[workload]


def repeat_check(a, cur):
    """Compare this run's counters with the previous traced run of the same
    workload and seed in this checkout: each counter repeats or varies."""
    path = os.path.join(WORK, "artifacts",
                        f"counters-{a.workload}-{a.seed}.json")
    verdict = None
    if os.path.exists(path):
        prev = json.load(open(path))
        verdict = {k: ("repeats" if prev.get(k) == v else "varies")
                   for k, v in cur.items()}
    with open(path, "w") as f:
        json.dump(cur, f)
    return verdict


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["throw", "wrong", "drift"],
                    default=None,
                    help="plant one throwing statement, one wrong result, "
                    "or (lake-dml) one write the DuckDB replay does not make")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala",
                                       "graft"))):
        die(f"no graft sources next to {HERE}; run from a graft checkout")
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    cp = build()
    run_dir = os.path.join(
        WORK, f"run-{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    loadavg_before = os.getloadavg()
    try:
        run = launch(cp, a, run_dir)
        t_check = time.time()
        failed, notes, changed = check(run, run_dir)
        check_s = time.time() - t_check
        attempted = len(run["statements"])
        nfailed = len(failed)
        e2e, extra = end_to_end(run, changed, nfailed, attempted)
        artifact = {"workload": a.workload, "seed": a.seed,
                    "seconds": a.seconds, "trace": a.trace,
                    "inject": a.inject, "host": run["host"],
                    "loadavg_before": loadavg_before,
                    "loadavg_after": os.getloadavg(),
                    "setup_s_samples": run["setup_s"],
                    "phase_end_s": run["phase_end_s"], "check_s": check_s,
                    "end_to_end": e2e, "extra": extra,
                    "statement_ms": [[st["phase"], st["family"], st["ms"]]
                                     for st in run["statements"]],
                    "attempted": attempted, "failed": nfailed,
                    "failures": notes[:50], "wall_s": time.time() - t0}
        if a.trace:
            layer = per_layer(run, a.workload)
            artifact["per_layer"] = {k: v for k, (v, _) in layer.items()}
            artifact["counters"] = {k: layer[k][0] for k in COUNTERS}
            artifact["counter_repeat"] = repeat_check(a, artifact["counters"])
            shutil.copy(os.path.join(run_dir, "trace.jsonl"), os.path.join(
                WORK, "artifacts", f"trace-{a.workload}-{a.seed}.jsonl"))
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in layer.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
        with open(os.path.join(WORK, "artifacts",
                               f"run-{a.workload}-{a.seed}-t{a.trace}.json"),
                  "w") as f:
            json.dump(artifact, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for n in notes[:20]:
        print(f"FAIL {n}")
    h = run["host"]
    print(f"host: sentinel cpu {h['sentinel_cpu_s_before']:.3f}s -> "
          f"{h['sentinel_cpu_s_after']:.3f}s, io "
          f"{h['sentinel_io_s_before']:.3f}s -> "
          f"{h['sentinel_io_s_after']:.3f}s, load "
          f"{loadavg_before[0]:.2f} -> {os.getloadavg()[0]:.2f}")
    for k, u in E2E + PRINTED:
        print(f"{k} = {e2e[k]:.4f} {u}")
    print(f"stmt_tail_ms is p{extra['tail_percentile']:g} of "
          f"{extra['timed_statements']} statements "
          f"({extra['tail_samples_beyond']:.1f} beyond it)")
    print(f"fail_ratio = {extra['fail_ratio']:.4f} ratio "
          f"({nfailed} of {attempted})")
    for k, u in LAKE_ONLY:
        if k in extra and extra[k] is not None:
            print(f"{k} = {extra[k]:.4f} {u}")
    if a.trace:
        for k, (v, u) in layer.items():
            print(f"{k} = {v:.4f} {u}")
        print(f"counter repeat check: {artifact['counter_repeat']}")
    correct = nfailed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": nfailed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
