#!/usr/bin/env python3
"""The engine's benchmark: one command per workload run.

    python3 perfbench/run.py --workload ais_session --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The command builds the engine and the
JVM harness from source (sbt, offline, only when the sources changed),
generates the seeded fixture (once per generator version), runs one
workload in one fresh JVM, checks the outputs, and prints one JSON
object as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics. Everything the run
leaves behind is under .bench_build/ in the checkout; the full record
of a run (host stamp, per-pass and per-query figures, spans) is kept in
.bench_build/results/. See perfbench/README.md for the workloads and
metrics. Exits non-zero, without a result line, when anything fails.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
# Set-ups per run; the first pays the JVM's class loading and JIT and is
# left out of setup_s, which is the median of the others.
SETUPS = 3
# Warm passes per run unless the workload sets its own ("warm" in
# workloads.json): a fixed count, so that a slow host does not change
# what a run measures.
WARM_PASSES = 2
JVM_TIMEOUT_S = 160
# Spark on JDK 17 needs these module openings outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class Failure(Exception):
    """A run that cannot produce a result: exit non-zero, print nothing."""


def sha256_files(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def read(path, default=None):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return default


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def tmpdir():
    d = os.path.join(BUILD, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise Failure("no Spark distribution: set SPARK_HOME")
    return os.path.join(home, "jars")


# ---------------------------------------------------------------- build

def build():
    """Compile the engine plus the harness; skipped when the sources
    are unchanged since the last successful build."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise Failure(f"engine sources not found under {ROOT}")
    srcs = sorted(glob.glob(os.path.join(engine, "**", "*.scala"),
                            recursive=True) +
                  glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                            recursive=True))
    srcs += [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    stamp = sha256_files(srcs)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if read(stamp_file) == stamp and os.path.isdir(classes):
        return classes
    tmp = tmpdir()
    opts = os.environ.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos} -Dsbt.offline=true")
    opts += (f" -Dsbt.global.base={os.path.join(BUILD, 'sbt')}"
             " -Dsbt.server.autostart=false"
             f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    env = dict(os.environ, SBT_OPTS=opts.strip(), COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            raise Failure(f"build did not finish: {e}")
    if rc != 0:
        sys.stderr.write(read(log, "")[-3000:])
        raise Failure(f"build failed (log: {log})")
    write(stamp_file, stamp)
    return classes


def java_cmd(classes, main, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cp = os.pathsep.join([classes, os.path.join(spark_jars(), "*")])
    return ([java, *OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}",
             "-Dspark.ui.enabled=false", "-cp", cp, main] +
            [f"{k}={v}" for k, v in args.items()])


def run_jvm(cmd, work, cpus, timeout=JVM_TIMEOUT_S):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise Failure(f"JVM did not finish in {timeout} s ({log})")
    if rc != 0:
        tail = [l for l in read(log, "").splitlines()
                if "Exception" in l or "guard" in l or "Error" in l][-12:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise Failure(f"JVM exited with {rc} ({log})")
    return proc.pid


# -------------------------------------------------------------- fixtures

def table_record(d):
    import pyarrow.parquet as pq
    rec = {}
    for p in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        files = [p] if os.path.isfile(p) else sorted(
            glob.glob(os.path.join(p, "*.parquet")))
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        rec[name] = [rows, sum(os.path.getsize(f) for f in files)]
    return rec


def fixture(name, spec, classes):
    """The named catalog, generated once per generator version and then
    checked against the row counts and bytes recorded in
    workloads.json, so a changed generator fails the run instead of
    silently changing the workload."""
    d = os.path.join(BUILD, "data", name)
    gen = os.path.join(HERE, "gen.py")
    stamp = sha256_files([gen], json.dumps(
        {k: v for k, v in spec.items() if k != "tables"}, sort_keys=True))
    if read(os.path.join(d, ".stamp")) != stamp:
        shutil.rmtree(d, ignore_errors=True)
        if "base" in spec:
            base = fixture(spec["base"], WORKLOADS["fixtures"][spec["base"]],
                           classes)
            os.makedirs(d)
            run_jvm(java_cmd(classes, "graft.ScaleFixture", {}, tmpdir()) +
                    [base, d, str(spec["factor"]), "relational"],
                    tmpdir(), os.cpu_count(), timeout=1800)
            for t in spec["copy"]:
                shutil.copy(os.path.join(base, f"{t}.parquet"), d)
        else:
            sys.path.insert(0, HERE)
            import gen as generator
            generator.write_catalog(d, spec["seed"])
        write(os.path.join(d, ".stamp"), stamp)
    got = table_record(d)
    if got != spec["tables"]:
        diff = {t: (got.get(t), spec["tables"].get(t))
                for t in set(got) | set(spec["tables"])
                if got.get(t) != spec["tables"].get(t)}
        raise Failure(f"fixture {name} differs from its record "
                      f"(table: [rows, bytes] got vs recorded): {diff}")
    return d


# ------------------------------------------------------------ statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile): the highest of these percentiles with at least
    ten samples beyond it (nearest rank), or (None, None) if none has."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            return xs[max(0, math.ceil(p / 100 * n) - 1)], p
    return None, None


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


# ------------------------------------------------------------ correctness

def digest(result):
    cols, types, rows = result
    h = hashlib.sha256(json.dumps([cols, types]).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return {"cols": cols, "types": types, "rows": len(rows),
            "sha256": h.hexdigest()}


def oracle_check(data, verify_dir, names, dumped):
    """Row counts every execution of `names` must return, plus findings:
    each `dumped` query is compared with DuckDB running its oracle SQL,
    using scripts/check.py's normalisation (columns sorted by name,
    types normalised, every row in order); a query without an oracle
    must return rows. The oracle side depends only on the fixture and
    the SQL, so its digest is cached next to the fixture."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check
    import duckdb
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for t in check.TABLES:
        p = os.path.join(data, t + ".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{p}{'/*.parquet' if os.path.isdir(p) else ''}'")
    cache = os.path.join(data, ".oracle")
    expected, findings = {}, []
    for n in names:
        if n not in sqls:
            continue
        key = hashlib.sha256(sqls[n].encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{n}.{key}.json")
        exp = json.loads(read(path, "null"))
        if exp is None:
            try:
                exp = digest(check.fetch_sorted_cols(con, sqls[n]))
            except duckdb.Error as e:
                findings.append(f"{n}: oracle SQL error: {e}")
                continue
            write(path, json.dumps(exp))
        expected[n] = exp
    rows = {n: e["rows"] for n, e in expected.items()}
    for n in dumped:
        got = check.fetch_sorted_cols(
            con, f"SELECT * FROM '{verify_dir}/{n}/*.parquet'")
        if n not in sqls:
            rows[n] = len(got[2])
            if not got[2]:
                findings.append(f"{n}: no-oracle query returned no rows")
            continue
        if n not in expected or digest(got) == expected[n]:
            continue
        full = check.fetch_sorted_cols(con, sqls[n])
        first = next((i for i, (g, e) in enumerate(zip(got[2], full[2]))
                      if g != e), min(len(got[2]), len(full[2])))
        findings.append(
            f"{n}: differs from its DuckDB oracle ({len(got[2])} vs "
            f"{len(full[2])} rows; first differing row {first}: "
            f"got={got[2][first] if first < len(got[2]) else None} "
            f"exp={full[2][first] if first < len(full[2]) else None})")
    return rows, findings


def voyages_reference(slices_dir):
    """Closed voyages of an in-order replay, computed independently of
    the engine: per vessel, reports in (ts, event_id) order split at
    gaps over 30 minutes; each closed voyage gives (origin zone,
    destination zone, points). The last voyage of a vessel stays open."""
    import numpy as np
    import pyarrow.parquet as pq
    ev = pq.read_table(slices_dir).select(["event_id", "ts", "user_id"])
    eid = ev["event_id"].to_numpy()
    ts = ev["ts"].cast("int64").to_numpy()
    uid = ev["user_id"].to_numpy()
    order = np.lexsort((eid, ts, uid))
    eid, ts, uid = eid[order], ts[order], uid[order]
    lat = (eid * 7919 % 18000) / 100.0 - 90.0
    lon = (eid * 104729 % 36000) / 100.0 - 180.0
    zone = [f"{a}:{b}" for a, b in zip(np.floor(lat / 30.0).astype(np.int64),
                                         np.floor(lon / 30.0).astype(np.int64))]
    new_user = np.r_[True, uid[1:] != uid[:-1]]
    starts = new_user | np.r_[True, ts[1:] - ts[:-1] > 1800 * 1_000_000]
    idx = np.flatnonzero(starts)
    ends = np.r_[idx[1:], len(uid)]
    closed = np.r_[~new_user[idx[1:]], False]   # a later voyage of the vessel
    return sorted((int(uid[s]), zone[s], zone[e - 1], int(e - s))
                  for s, e, c in zip(idx, ends, closed) if c)


def stream_check(raw, work, slices_dir):
    """Failures of the streaming run: the first replay must emit exactly
    the in-order reference voyages, every replay the same count and
    checksum, and no report may be dropped as late."""
    import pyarrow.parquet as pq
    findings = []
    got = pq.read_table(os.path.join(work, "verify", "voyages")).to_pylist()
    got = sorted((r["user_id"], r["o_zone"], r["d_zone"], r["n_points"])
                 for r in got)
    exp = voyages_reference(slices_dir)
    if got != exp:
        findings.append(f"voyages differ from the in-order reference "
                        f"({len(got)} vs {len(exp)})")
    first = raw["replays"][0]
    attempted, failed = 1, int(got != exp)
    for r in raw["replays"]:
        attempted += len(r["batches"])
        late = r["late_rows_dropped"]
        if (r["rows_out"], r["checksum"]) != (first["rows_out"],
                                              first["checksum"]) or late:
            failed += len(r["batches"])
            findings.append(f"replay {r['replay']}: {r['rows_out']} voyages, "
                            f"checksum {r['checksum']}, {late} late rows")
    return attempted, failed, findings


def batch_check(raw, data, work, spec):
    """Failures of a batch run. The dumped queries are compared with their
    DuckDB oracles (or, without one, must return rows); every timed
    execution of every query must succeed with the oracle's row count
    (without an oracle: the dumped count, else the same non-zero count
    in every pass)."""
    dumped = [n for n, err in raw["verify"].items() if not err]
    findings = [f"{n}: verification dump failed: {err}"
                for n, err in raw["verify"].items() if err]
    rows, oracle_findings = oracle_check(
        data, os.path.join(work, "verify"), spec["queries"], dumped)
    findings += oracle_findings
    failed = len(findings)
    attempted = len(raw["verify"])
    for p in raw["passes"]:
        for q in p["queries"]:
            attempted += 1
            want = rows.setdefault(q["name"], q["rows"] or None)
            if q["error"] or q["rows"] != want:
                failed += 1
                findings.append(f"{q['id']}: {q['error'] or 'rows'} "
                                f"({q['rows']} rows, verified {want})")
    return attempted, failed, findings


# ---------------------------------------------------------------- metrics

def end_to_end(raw, kind):
    """The end-to-end figures. A batch "pass" runs every query of the
    workload once and an "op" is one query execution; a stream "pass"
    replays every slice and an "op" is one micro-batch."""
    setup = median([s["total_s"] for s in raw["setups"][1:]])
    if kind == "batch":
        passes = raw["passes"]
        warm = passes[1:]
        ops = [q["wall_s"] for p in warm for q in p["queries"]]
    else:
        passes = raw["replays"]
        warm = passes[1:]
        ops = [b["duration_s"] for p in warm for b in p["batches"]]
    t, pct = tail(ops)
    warm_s = median([p["wall_s"] for p in warm])
    info = {"op_tail_s": t, "op_tail_percentile": pct, "op_samples": len(ops),
            "warm_passes": len(warm),
            "warm_total_s": sum(p["wall_s"] for p in warm)}
    if kind == "stream":
        info["stream_rows_per_s"] = median(
            [sum(b["input_rows"] for b in p["batches"]) / p["wall_s"]
             for p in warm])
    else:
        info["index_disk_mb"] = raw.get("index_disk_mb", 0.0)
    return {
        "setup_s": (setup, "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (warm_s, "s"),
        "op_p50_s": (median(ops), "s"),
        "peak_heap_mb": (max(p["heap_live_mb"] for p in passes), "MB"),
    }, info


def layer_pass(p, groups, spans, kind, nproc):
    """Per-layer figures of one traced pass (or replay)."""
    mb = 1048576.0
    if kind == "batch":
        units = p["queries"]
        ids = [q["id"] for q in units]
        exec_s = sum(q["exec_s"] for q in units)
        rows_out = sum(max(q["rows"], 0) for q in units)
        construct = sum(q["construct_s"] for q in units)
    else:
        units = [p]
        ids = [f"r{p['replay']}"]
        exec_s = p["wall_s"] - p["construct_s"]
        rows_out = p["rows_out"]
        construct = p["construct_s"]
    g = [groups[i] for i in ids if i in groups]

    def gs(k):
        return sum(x.get(k, 0.0) for x in g)

    def qs(k):
        return sum(q.get(k, 0) for q in units) if kind == "batch" else 0

    stages = gs("stages")
    builds, hits = qs("cache_builds"), qs("cache_hits")
    batches = p.get("batches", [])
    m = {
        "operators.construct_s": construct,
        "catalyst.analysis_s": qs("analysis_s"),
        "catalyst.optimization_s": qs("optimization_s"),
        "catalyst.planning_s": qs("planning_s"),
        "catalyst.exchanges": qs("exchanges"),
        "scheduler.jobs": gs("jobs"),
        "scheduler.stages": stages,
        "scheduler.tasks": gs("tasks"),
        "scheduler.exec_s": exec_s,
        "scheduler.s_per_stage": exec_s / stages if stages else 0.0,
        "scheduler.delay_s": gs("delay_ms") / 1e3,
        "executor.run_s": gs("run_ms") / 1e3,
        "executor.cpu_s": gs("cpu_ms") / 1e3,
        "executor.gc_s": gs("gc_ms") / 1e3,
        "executor.busy_frac": (gs("run_ms") / 1e3 / (exec_s * nproc)
                               if exec_s else 0.0),
        "shuffle.write_mb": gs("shuffle_write_b") / mb,
        "shuffle.read_mb": gs("shuffle_read_b") / mb,
        "shuffle.fetch_wait_s": gs("fetch_wait_ms") / 1e3,
        "spill.mem_mb": gs("spill_mem_b") / mb,
        "spill.disk_mb": gs("spill_disk_b") / mb,
        "sources.read_mb": gs("input_b") / mb,
        "sources.rows_read": gs("input_rows"),
        "sources.rows_read_per_row_out": (gs("input_rows") / rows_out
                                          if rows_out else 0.0),
        "sources.write_mb": gs("output_b") / mb,
        "Cache.builds": builds,
        "Cache.hits": hits,
        "Cache.hit_ratio": hits / (hits + builds) if hits + builds else 0.0,
        "Cache.mem_mb": p.get("cache_mem_mb", 0.0),
        "Cache.clear_s": p.get("clear_s", 0.0),
        "Cache.index_builds": p.get("index_builds", 0),
        "Cache.index_opens": qs("index_opens"),
        "Cache.index_write_mb": p.get("index_write_mb", 0.0),
        "streaming.batches": len(batches),
        "jvm.gc_s": p["gc_s"],
        "jvm.jit_s": p["jit_s"],
        "jvm.heap_live_mb": p["heap_live_mb"],
    }
    for k in ("add_batch_s", "planning_s", "wal_commit_s", "state_commit_s"):
        m[f"streaming.{k}"] = sum(b[k] for b in batches)
    m["streaming.late_rows_dropped"] = p.get("late_rows_dropped", 0)
    last = batches[-1] if batches else {}
    m["streaming.state_rows"] = last.get("state_rows", 0)
    m["streaming.state_mem_mb"] = last.get("state_mem_mb", 0.0)
    m.update(self_times(ids, spans))
    return m


def self_times(ids, spans):
    """Self time of each layer along the blocking path of each unit
    (query or replay), summed: construct, plan, the part of execute
    that no job covers, the job part not covered by a
    stage, the stage time, and whatever of the unit's wall time no
    construct, plan or execute span covers; plus the number of jobs
    started during construct."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out = {k: 0.0 for k in ("trace.construct_self_s", "trace.plan_self_s",
                            "trace.execute_self_s", "trace.job_self_s",
                            "trace.stage_s", "trace.uncovered_s")}
    construct_jobs = 0
    for i in ids:
        kids = {s["kind"]: s for s in by_parent.get(i, [])}
        unit = next((s for s in spans if s["id"] == i), None)
        if unit is None or "execute" not in kids:
            continue
        jobs = [s for s in by_parent.get(i, []) if s["kind"] == "job"]
        stages = [s for j in jobs for s in by_parent.get(j["id"], [])]
        ex = kids["execute"]
        lo, hi = ex["start_ms"], ex["end_ms"]
        job_iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
        stage_iv = [(s["start_ms"], s["end_ms"]) for s in stages]
        jobs_in_exec = union_ms(job_iv, lo, hi)
        stages_in_exec = union_ms(stage_iv, lo, hi)
        c = kids.get("construct")
        if c:
            construct_jobs += sum(1 for j in jobs
                                  if c["start_ms"] <= j["start_ms"] < c["end_ms"])
            out["trace.construct_self_s"] += (c["end_ms"] - c["start_ms"]) / 1e3
        pl = kids.get("plan")
        if pl:
            out["trace.plan_self_s"] += (pl["end_ms"] - pl["start_ms"]) / 1e3
        out["trace.execute_self_s"] += (hi - lo - jobs_in_exec) / 1e3
        out["trace.job_self_s"] += (jobs_in_exec - stages_in_exec) / 1e3
        out["trace.stage_s"] += stages_in_exec / 1e3
        covered = sum(s["end_ms"] - s["start_ms"] for k, s in kids.items()
                      if k in ("construct", "plan", "execute"))
        out["trace.uncovered_s"] += max(
            0.0, unit["end_ms"] - unit["start_ms"] - covered) / 1e3
    out["operators.construct_jobs"] = construct_jobs
    return out


def per_layer(raw, spans, kind):
    """(medians over the traced warm passes plus set-up, cold-pass and
    overhead figures, the per-pass table)."""
    nproc = raw["host"]["nproc"]
    groups = {g["group"]: g for g in raw.get("groups", [])}
    units = raw["passes"] if kind == "batch" else raw["replays"]
    key = "pass" if kind == "batch" else "replay"
    off = set(raw["untraced_passes"])
    traced = [u for u in units[1:] if u[key] not in off]
    rows = [layer_pass(u, groups, spans, kind, nproc) for u in traced]
    m = {k: median([r[k] for r in rows]) for k in rows[0]}
    setup = groups.get("setup", {})
    m["EngineConf.session_s"] = median(
        [s["session_s"] for s in raw["setups"][1:]])
    m["Tables.load_s"] = median([s["tables_s"] for s in raw["setups"][1:]])
    m["Tables.load_jobs"] = setup.get("jobs", 0)
    cold = layer_pass(units[0], groups, spans, kind, nproc)
    for k in ("Cache.builds", "Cache.index_builds", "Cache.index_write_mb",
              "jvm.jit_s", "jvm.gc_s", "operators.construct_s",
              "scheduler.exec_s", "scheduler.stages"):
        m[f"cold.{k}"] = cold[k]
    on = median([u["wall_s"] for u in traced])
    untraced = [u["wall_s"] for u in units[1:] if u[key] in off]
    m["trace.overhead_frac"] = on / median(untraced) - 1 if untraced else 0.0
    return m, [dict(layer_pass(u, groups, spans, kind, nproc),
                    **{key: u[key], "traced": u[key] not in off})
               for u in units]


# ------------------------------------------------------------------ main

def loadavg():
    try:
        return float(read("/proc/loadavg", "-1").split()[0])
    except ValueError:
        return -1.0


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def assignments(path):
    """The batch workloads' query lists for the harness's coverage guard.
    A workload that is `part_of` others runs a fixed subset of their
    queries, sized to the benchmark's run budget, and is not counted
    again."""
    full = {w: spec for w, spec in WORKLOADS["workloads"].items()
            if spec["kind"] == "batch" and "part_of" not in spec}
    for w, spec in WORKLOADS["workloads"].items():
        if "part_of" not in spec:
            continue
        extra = set(spec["queries"]).difference(
            *(full.get(p, {}).get("queries", []) for p in spec["part_of"]))
        if extra:
            raise Failure(f"{w}: not part of {spec['part_of']}: {extra}")
    lines = [f"{w}\t{q}" for w, spec in full.items() for q in spec["queries"]]
    write(path, "\n".join(lines) + "\n")


def run(args):
    spec = WORKLOADS["workloads"].get(args.workload)
    if spec is None:
        raise Failure(f"unknown workload {args.workload!r}; one of "
                      f"{sorted(WORKLOADS['workloads'])}")
    load_start = loadavg()
    classes = build()
    fx = WORKLOADS["fixtures"][spec["fixture"]]
    data = fixture(spec["fixture"], fx, classes)
    cpus = os.cpu_count()
    tag = f"{args.workload}_s{args.seed}_t{args.trace}"
    work = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    assign = os.path.join(work, "assign.tsv")
    assignments(assign)
    jvm_args = {"mode": spec["kind"], "data": data, "work": work,
                "seed": args.seed,
                "trace": args.trace, "cpus": cpus, "setups": SETUPS,
                "assign": assign, "warm": spec.get("warm", WARM_PASSES)}
    if spec["kind"] == "batch":
        jvm_args["queries"] = ",".join(spec["queries"])
        # Each run compares a third of the queries with their oracles,
        # a different third for each seed; row counts are checked for all.
        jvm_args["verify"] = ",".join(
            q for i, q in enumerate(sorted(spec["queries"]))
            if i % 3 == args.seed % 3)
    else:
        sys.path.insert(0, HERE)
        import gen as generator
        slices = os.path.join(work, "slices")
        generator.write_slices(os.path.join(data, "events.parquet"), slices,
                               spec["slices"], args.seed)
        jvm_args["slices"] = slices
    started = time.time()
    run_jvm(java_cmd(classes, "perfbench.Harness", jvm_args, work), work, cpus,
            timeout=spec.get("timeout_s", JVM_TIMEOUT_S))
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    spans = []
    if args.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f if l.strip()]
    if spec["kind"] == "batch":
        attempted, failed, findings = batch_check(raw, data, work, spec)
    else:
        attempted, failed, findings = stream_check(raw, work, jvm_args["slices"])
    e2e, e2e_info = end_to_end(raw, spec["kind"])
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "commit": git_commit(),
        "host": dict(raw["host"], heap=HEAP, load_start=load_start,
                     load_end=loadavg()),
        "fixture": {"name": spec["fixture"], "tables": fx["tables"]},
        "wall_s": time.time() - started, "attempted": attempted,
        "failed": failed, "failed_frac": failed / attempted,
        "findings": findings,
        "end_to_end": {k: v for k, (v, _) in e2e.items()}, **e2e_info,
        "setups": raw["setups"], "verify_s": raw.get("verify_s"),
        "per_pass": [{k: v for k, v in p.items() if k not in ("queries", "batches")}
                     for p in raw.get("passes", raw.get("replays", []))],
        "per_query": [q for p in raw.get("passes", []) for q in p["queries"]],
    }
    if args.trace:
        layers, per_pass = per_layer(raw, spans, spec["kind"])
        record["per_layer"] = layers
        record["per_pass_layers"] = per_pass
        record["spans"] = spans
    write(os.path.join(BUILD, "results", tag + ".json"), json.dumps(record))
    shutil.rmtree(work, ignore_errors=True)
    return record, e2e


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        record, e2e = run(args)
    except Failure as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    bench = json.loads(read(os.path.join(ROOT, "BENCHMARK.json"), "{}"))
    h = record["host"]
    print(f"# {record['workload']} seed={record['seed']} "
          f"trace={record['trace']} commit={record['commit'][:12]} "
          f"nproc={h['nproc']} Xmx={h['heap']} jdk={h['jdk']} "
          f"spark={h['spark']} load={h['load_start']:.2f}->{h['load_end']:.2f}")
    for k, (v, unit) in e2e.items():
        print(f"# {k} = {v:.4f} {unit}")
    if record["op_tail_s"] is None:
        print(f"# op_tail_s: no percentile has ten samples beyond it "
              f"({record['op_samples']} ops)")
    else:
        print(f"# op_tail_s = {record['op_tail_s']:.4f} s: "
              f"p{record['op_tail_percentile']:g} of {record['op_samples']} ops")
    for k in ("stream_rows_per_s", "index_disk_mb"):
        if k in record:
            print(f"# {k} = {record[k]:.4f}")
    print(f"# {record['warm_passes']} warm passes measured "
          f"{record['warm_total_s']:.1f} s (--seconds {args.seconds:g}); "
          f"attempted "
          f"{record['attempted']}, failed {record['failed']}, "
          f"failed_frac = {record['failed_frac']:.4f}")
    for f in record["findings"]:
        print(f"# FAIL {f}")
    if args.trace:
        names = [m["name"] for m in bench.get("per_layer", [])]
        units = {m["name"]: m["unit"] for m in bench.get("per_layer", [])}
        metrics = {n: {"value": record["per_layer"][n], "unit": units[n]}
                   for n in names}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in bench.get("end_to_end", [])}
    print(json.dumps({"correct": record["failed"] == 0,
                      "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0 if record["failed"] == 0 else 1


with open(os.path.join(HERE, "workloads.json")) as _f:
    WORKLOADS = json.load(_f)

if __name__ == "__main__":
    sys.exit(main())
