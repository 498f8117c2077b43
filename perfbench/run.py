#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <etl_leaderboard|store_load>
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and the measuring JVM (`perfbench/scala`) from source
into `.bench_build/perfbench/`, generates the workload's inputs from the
seed (`gen.py`), runs one JVM at `local[nproc]` with a single client in a
closed loop, checks every op's output against its DuckDB oracle, and
prints one JSON object as the last line of stdout. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones (see
BENCHMARK.json and perfbench/README.md). Everything the run writes stays
under `.bench_build/perfbench/` and is removed at the end, except the run
record in `.bench_build/perfbench/records/`.
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
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

# The workloads; BENCHMARK.json says why each was chosen.
WORKLOADS = ["etl_leaderboard", "store_load"]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 165
# Timed passes per run, at the least. Passes run until --seconds have gone
# by and at least this many have run; at 10 s that is exactly this many on
# a 4-core host. A fixed count keeps the sample count, and so the tail's
# percentile, the same from run to run: 36 calls on etl_leaderboard and 42
# on store_load, so the tail lies among a run's steadier calls (the store's
# `optimize` rather than the edge of its `deleteWhere` calls).
MIN_PASSES = {"etl_leaderboard": 4, "store_load": 6}
HEAP = "3g"


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars() -> list:
    """The Spark distribution the library builds against: $SPARK_HOME/jars,
    else the directory build.sbt names as its unmanagedBase."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    fail("no Spark jars found (set SPARK_HOME)")


def build(jars: list) -> str:
    """Compiles src/main/scala plus perfbench/scala once per source hash."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no library sources under src/main/scala: run from a checkout of the repository")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    h = hashlib.sha1()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_BUILT")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    cp = ":".join(jars)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-d", tmp, "-classpath", cp, "-nowarn", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed", 1)
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, "_BUILT"), "w").close()
    os.rename(tmp, out)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_jvm(classes, jars, args, work) -> None:
    tmpdir = os.path.join(work, "tmp")
    jvmdir = os.path.join(work, "jvm")
    os.makedirs(tmpdir)
    os.makedirs(jvmdir)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + ":" + ":".join(jars), "perfbench.PerfBench"] + args
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=jvmdir, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        print(open(log).read()[-6000:], file=sys.stderr)
        fail(f"measuring JVM failed ({rc})", 1)


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it. With 21
    samples or fewer that would not lie above the median, and the slowest
    sample is reported instead. Returns (value, percentile, samples)."""
    s = sorted(xs)
    k = len(s) - 11 if len(s) > 21 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s), len(s)


def pass_time(p):
    return sum(o["seconds"] for o in p["ops"])


def op_medians(passes):
    """The median latency of each op over the passes."""
    groups = {}
    for p in passes:
        for o in p["ops"]:
            groups.setdefault(o["op"], []).append(o["seconds"])
    return [median(v) for v in groups.values()]


def union_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by the union of `intervals`."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def job_owner(p):
    """Job id -> the op whose wall-clock window holds the job's start (one
    client, so op windows never overlap; 1 ms slack for clock rounding)."""
    owner = {}
    for j in p["spark"]["jobs"]:
        for o in p["ops"]:
            if o["start_ms"] - 1 <= j["start_ms"] <= o["end_ms"] + 1:
                owner[j["id"]] = o["op"]
                break
    return owner


def layer_pass(p, input_bytes, capacity):
    """Per-layer numbers of one traced pass, plus its spans' self times."""
    sp = p["spark"]
    t = sp["tasks"]
    jobs = [j for j in sp["jobs"] if j["end_ms"] >= 0]
    stages = [s for s in sp["stages"] if s["start_ms"] >= 0 and s["end_ms"] >= 0]
    stages_of = {}
    for s in stages:
        stages_of.setdefault(s["job"], []).append((s["start_ms"], s["end_ms"]))
    m = {
        "entry.build_s": 0.0, "plans.analysis_s": 0.0, "plans.optimization_s": 0.0,
        "plans.planning_s": 0.0, "driver.gap_s": 0.0,
        "self.op_s": 0.0, "self.entry_build_s": 0.0, "self.job_s": 0.0,
        "self.stage_s": 0.0,
    }
    owner = job_owner(p)
    # jobs that also carried their op's local property (pool threads may not)
    linked = sum(1 for j in jobs if j["op"] == f'{p["index"]}/{owner.get(j["id"])}')
    out_rows = 0
    for o in p["ops"]:
        lo, hi = o["start_ms"], o["end_ms"]
        mine = [j for j in jobs if owner.get(j["id"]) == o["op"]]
        job_iv = [(j["start_ms"], j["end_ms"]) for j in mine]
        phase_iv = [(ph["start_ms"], ph["end_ms"]) for ph in o["phases"]]
        for ph in o["phases"]:
            k = f'plans.{ph["name"]}_s'
            if k in m:
                m[k] += (ph["end_ms"] - ph["start_ms"]) / 1e3
        build_iv = [tuple(o["build"])] if o["build"] else []
        if build_iv:
            b0, b1 = build_iv[0]
            m["entry.build_s"] += (b1 - b0) / 1e3
            inner = [iv for iv in job_iv + phase_iv if iv[0] >= b0 and iv[1] <= b1]
            m["self.entry_build_s"] += ((b1 - b0) - union_ms(inner, b0, b1)) / 1e3
        m["driver.gap_s"] += ((hi - lo) - union_ms(job_iv, lo, hi)) / 1e3
        m["self.op_s"] += ((hi - lo) - union_ms(job_iv + phase_iv + build_iv, lo, hi)) / 1e3
        for j in mine:
            st = stages_of.get(j["id"], [])
            m["self.job_s"] += ((j["end_ms"] - j["start_ms"])
                                - union_ms(st, j["start_ms"], j["end_ms"])) / 1e3
            m["self.stage_s"] += union_ms(st, j["start_ms"], j["end_ms"]) / 1e3
        if o["kind"] in ("query", "read"):
            out_rows += max(o["rows"], 0)
    m.update({
        "scheduler.jobs": len(sp["jobs"]),
        "scheduler.stages": len(sp["stages"]),
        "scheduler.tasks": t["tasks"],
        "scheduler.delay_s": t["scheduler_delay_ms"] / 1e3,
        "exec.run_s": t["run_ms"] / 1e3,
        "exec.cpu_s": t["cpu_ns"] / 1e9,
        "exec.gc_s": t["gc_ms"] / 1e3,
        "shuffle.write_bytes": t["shuffle_write_bytes"],
        "shuffle.read_bytes": t["shuffle_read_bytes"],
        "shuffle.fetch_wait_s": t["fetch_wait_ms"] / 1e3,
        "spill.disk_bytes": t["spill_disk_bytes"],
        "spill.mem_bytes": t["spill_mem_bytes"],
        "sources.input_bytes": t["input_bytes"],
        "sources.input_rows": t["input_rows"],
        "sources.rows_per_output_row": t["input_rows"] / max(out_rows, 1),
        "cache.peak_storage_bytes": sp["peak_storage_bytes"],
        "cache.peak_storage_share": sp["peak_storage_bytes"] / max(capacity, 1),
        "cache.blocks_dropped": sp["blocks_dropped"],
        "cache.registry_live": max([o["extra"].get("registry_live", 0) for o in p["ops"]] + [0]),
        "trace.jobs_linked_ratio": linked / max(len(jobs), 1),
    })
    for kind in ("append", "merge", "delete", "optimize", "expire", "read"):
        m[f"sinks.{kind}_s"] = sum(o["seconds"] for o in p["ops"] if o["kind"] == kind)
    for k in ("bytes_written", "files_written"):
        m[f"sinks.{k}"] = sum(o["extra"].get(k, 0) for o in p["ops"])
    m["sinks.dirs_rewritten"] = p["extra"].get("dirs_rewritten", 0)
    total = p["extra"].get("dirs_total", 0)
    m["sinks.dirs_opened_ratio"] = p["extra"].get("dirs_opened", 0) / total if total else 0.0
    on_disk = p["extra"].get("store_bytes_on_disk", 0)
    m["sinks.write_amp"] = m["sinks.bytes_written"] / input_bytes if on_disk else 0.0
    m["sinks.space_amp"] = on_disk / input_bytes if on_disk else 0.0
    return m


def spans(p):
    """The pass's span tree: op -> entry.build / plans phases / jobs -> stages.
    Each span is {id, parent, name, start_ms, end_ms}; ids are unique in the
    pass and the op span's id is the op's local-property value."""
    out = []
    owner = job_owner(p)
    for o in p["ops"]:
        op_id = f'{p["index"]}/{o["op"]}'
        out.append({"id": op_id, "parent": None, "name": f'op.{o["op"]}',
                    "start_ms": o["start_ms"], "end_ms": o["end_ms"]})
        if o["build"]:
            out.append({"id": op_id + "/build", "parent": op_id, "name": "entry.build",
                        "start_ms": o["build"][0], "end_ms": o["build"][1]})
        for ph in o["phases"]:
            out.append({"id": f'{op_id}/plans.{ph["name"]}', "parent": op_id,
                        "name": f'plans.{ph["name"]}', "start_ms": ph["start_ms"],
                        "end_ms": ph["end_ms"]})
    for j in p["spark"]["jobs"]:
        parent = f'{p["index"]}/{owner[j["id"]]}' if j["id"] in owner else None
        out.append({"id": f'job{j["id"]}', "parent": parent, "name": "scheduler.job",
                    "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    for st in p["spark"]["stages"]:
        out.append({"id": f'stage{st["id"]}', "parent": f'job{st["job"]}',
                    "name": "exec.stage", "start_ms": st["start_ms"], "end_ms": st["end_ms"]})
    return out


def op_counters(p):
    """Jobs, stages, tasks and shuffle bytes of a traced pass, per op."""
    owner = job_owner(p)
    out = {o["op"]: {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
                     "shuffle_read_bytes": 0} for o in p["ops"]}
    for j in p["spark"]["jobs"]:
        if j["id"] in owner:
            out[owner[j["id"]]]["jobs"] += 1
    for st in p["spark"]["stages"]:
        op = owner.get(st["job"])
        if op is None:
            continue
        out[op]["stages"] += 1
        for k in ("tasks", "shuffle_write_bytes", "shuffle_read_bytes"):
            out[op][k] += (st["tasks"] or {}).get(k, 0)
    return out


# Counters that must repeat exactly across traced passes. Shuffle bytes are
# recorded beside them but not required to: the compressed size of a
# shuffle block depends on the order rows arrive from the fetch, which
# varies run to run (by ~0.01% on etl_leaderboard).
EXACT = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks",
         "sinks.bytes_written", "sinks.space_amp"]
NEAR_EXACT = ["shuffle.write_bytes", "shuffle.read_bytes"]


# ---------------------------------------------------------------- oracle

def canon_frame(df):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # the repository's oracle comparison (tools/check.py)
    return check.canon(df)


def compare(name, exp, got):
    ec, er = canon_frame(exp)
    gc, gr = canon_frame(got)
    if ec != gc:
        return f"{name}: columns differ: oracle={ec} spark={gc}"
    if len(er) != len(gr):
        return f"{name}: row count differs: oracle={len(er)} spark={len(gr)}"
    bad = [(a, b) for a, b in zip(er, gr) if a != b]
    if bad:
        return f"{name}: {len(bad)}/{len(er)} rows differ; first: oracle={bad[0][0]} spark={bad[0][1]}"
    return None


def read_dump(path):
    import pandas as pd
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_queries(data, checkdir, inputs, rows):
    """Compares each query dump with its oracle; records dump row counts."""
    import duckdb
    con = duckdb.connect()
    for t in inputs:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = json.load(open(os.path.join(checkdir, "oracle_sql.json")))
    problems = {}
    for name, sql in sorted(oracle.items()):
        got = read_dump(os.path.join(checkdir, name))
        if got is None:
            problems[name] = f"{name}: no output"
            continue
        rows[name] = len(got)
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            problems[name] = f"{name}: oracle SQL error: {e}"
            continue
        err = compare(name, exp, got)
        if err:
            problems[name] = err
    return problems


def check_store(data, checkdir, params, rows):
    """Replays the Load tier's DML as SQL over the flat batches and compares
    every skip-range read and the final snapshot."""
    import datetime
    import duckdb
    days, retain = params["days"], params["retain_days"]
    day = lambda d: (datetime.date(2024, 1, 1) + datetime.timedelta(days=d)).isoformat()
    con = duckdb.connect()
    b = lambda kind, d: f"'{data}/{kind}_{d:02d}.parquet'"
    con.sql(f"CREATE TABLE t AS SELECT * FROM {b('append', 0)}")
    problems = {}

    def cmp(name, sql):
        got = read_dump(os.path.join(checkdir, name))
        if got is None:
            problems[name] = f"{name}: no output"
            return
        rows[name] = len(got)
        got["day"] = got["day"].astype(str)
        exp = con.sql(sql).df()
        err = compare(name, exp, got)
        if err:
            problems[name] = err

    cols = "event_id, CAST(day AS VARCHAR) AS day, user_id, event_type, value"
    for d in range(1, days):
        con.sql(f"INSERT INTO t SELECT * FROM {b('append', d)}")
        con.sql(f"DELETE FROM t WHERE event_id IN (SELECT event_id FROM {b('upsert', d)})")
        con.sql(f"INSERT INTO t SELECT * FROM {b('upsert', d)}")
        cmp(f"read_{d:02d}", f"SELECT {cols} FROM t WHERE day = DATE '{day(d)}'")
        con.sql(f"DELETE FROM t WHERE day < DATE '{day(d - retain + 1)}'")
    cmp("store_final", f"SELECT {cols} FROM t")
    return problems


# ---------------------------------------------------------------- main

def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped and the work
    # directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the repository root")
    bench = json.load(open(bench_json))
    jars = spark_jars()
    classes = build(jars)
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    work = os.path.join(BUILD, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    wall = {"start": time.time()}
    try:
        import gen
        inputs = gen.generate(a.workload, a.seed, data)
        input_bytes = sum(v["bytes"] for v in inputs.values())
        wall["generated"] = time.time()
        run_jvm(classes, jars, [a.workload, data, out, os.path.join(work, "jvm"),
                                str(a.seconds), str(a.trace), str(a.seed),
                                str(MIN_PASSES[a.workload])], work)
        wall["measured"] = time.time()
        raw = json.load(open(os.path.join(out, "raw.json")))
        checkdir = os.path.join(out, "check")
        dump_rows = {}
        if a.workload == "store_load":
            problems = check_store(data, checkdir, raw["params"], dump_rows)
        else:
            problems = check_queries(data, checkdir, list(inputs), dump_rows)
        wall["checked"] = time.time()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # Checked items: every op of the check pass plus the checkers' extra
    # comparisons (the store's final snapshot). Timed calls fail when they
    # throw or their row count differs from the checked output.
    checked = raw["check"]
    for name, res in checked.items():
        if isinstance(res, str) and res != "dumped":
            problems[name] = f"{name}: {res}"
    check_items = set(checked) | set(problems)
    expected_rows = {**{k: v for k, v in checked.items() if isinstance(v, int)}, **dump_rows}
    timed_ops = [o for p in raw["passes"] for o in p["ops"]]
    timed_bad = [o for o in timed_ops if o["error"] or
                 o["rows"] != expected_rows.get(o["op"], o["rows"])]
    failed = len(problems) + len(timed_bad)
    attempted = len(check_items) + len(timed_ops)
    for o in timed_bad:
        problems[f'{o["op"]} (timed)'] = f'{o["op"]}: timed call {o["error"] or "row count differs"}'

    untraced = [p for p in raw["passes"] if not p["traced"]]
    traced = [p for p in raw["passes"] if p["traced"]]
    lat = [o["seconds"] for p in untraced for o in p["ops"]]
    tail_v, tail_pct, tail_n = tail(lat)
    record = {
        "workload": a.workload, "seed": a.seed,
        "why": next(w["why"] for w in bench["workloads"] if w["name"] == a.workload),
        "nproc": raw["nproc"], "seconds": a.seconds, "trace": a.trace,
        "inputs": inputs, "input_bytes": input_bytes,
        "input_rows": sum(v["rows"] for v in inputs.values()),
        "ops_per_pass": len(raw["ops_per_pass"]), "ops": raw["ops_per_pass"],
        "passes": {"untraced": len(untraced), "traced": len(traced)},
        "setup_s_samples": raw["setup_s"],
        "wall_s": {"generate": wall["generated"] - wall["start"],
                   "measure": wall["measured"] - wall["generated"],
                   "check": wall["checked"] - wall["measured"],
                   "check_pass": raw["check_s"], "timed": sum(p["seconds"] for p in raw["passes"])},
        "op_seconds": {n: [o["seconds"] for p in untraced for o in p["ops"] if o["op"] == n]
                       for n in raw["ops_per_pass"]},
        "op_tail": {"percentile": tail_pct, "samples": tail_n},
        "storage_capacity_bytes": raw["storage_capacity_bytes"],
        "attempted": attempted, "failed": failed, "fail_ratio": failed / attempted,
        "mismatches": sorted(problems.values()),
    }
    if a.trace == 0:
        values = {
            "setup_s": median(raw["setup_s"]),
            "pass_s": sum(op_medians(untraced)),
            "op_p50_s": median(lat),
            "op_tail_s": tail_v,
            "heap_live_mb": max(o["heap_mb"] for p in raw["passes"] for o in p["ops"]),
        }
    else:
        per = [layer_pass(p, input_bytes, raw["storage_capacity_bytes"]) for p in traced]
        values = {k: median([m[k] for m in per]) for k in per[0]}
        repeat = {k: sorted({m[k] for m in per}) for k in EXACT + NEAR_EXACT}
        values["counters.exact_repeat"] = float(all(len(repeat[k]) == 1 for k in EXACT))
        values["trace.overhead_ratio"] = (median([pass_time(p) for p in traced]) /
                                          median([pass_time(p) for p in untraced]))
        values["ops.fail_ratio"] = failed / attempted
        record["exact_counters"] = repeat
        per_op = [op_counters(p) for p in traced]
        record["per_op_counters"] = per_op[0]
        with open(os.path.join(BUILD, "records",
                               f"{a.workload}-seed{a.seed}-spans.json"), "w") as f:
            json.dump([sp for p in traced for sp in spans(p)], f)
        record["per_op_counters_varying"] = sorted(
            op for op in per_op[0] if any(c.get(op) != per_op[0][op] for c in per_op[1:]))
    declared = bench["per_layer" if a.trace else "end_to_end"]
    missing = {m["name"] for m in declared} ^ set(values)
    if missing:
        fail(f"computed and declared metrics differ: {sorted(missing)}", 1)
    metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in declared}
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    with open(os.path.join(BUILD, "records",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for msg in record["mismatches"]:
        print(f"perfbench: FAIL {msg}", file=sys.stderr)
    print(json.dumps({k: v for k, v in record.items() if k not in ("ops", "metrics")},
                     sort_keys=True), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
