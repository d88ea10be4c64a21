#!/usr/bin/env python3
"""graft benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload geo_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run then

  1. labels box contention (nproc, 1-minute load, a fixed CPU canary),
  2. generates the workload's inputs from the seed (gen.py, own process),
  3. starts one JVM (graftbench.Main) that sets up a Spark session like
     the engine's mains, warms up, measures for --seconds and runs the
     in-JVM correctness checks,
  4. replays the geo operators and the minhash registry query in DuckDB,
  5. prints every metric by name with its unit and, as the last line,
     {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
     with --trace 0, the per-layer metrics with --trace 1.

Everything it writes stays under .bench_build/ in the working directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("geo_batch", "curate_batch", "ann_serve")
# Fixed heap (-Xms = -Xmx): peak_rss_mb compares runs only when the heap
# is held fixed; a growable heap made it swing 1.3-2.3 GB between seeds.
HEAP = "3g"
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Float columns compare within this absolute tolerance (rounding of the
# last printed digit may differ between engines); keys compare exactly.
FLOAT_TOL = 1e-6


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ----------------------------------------------------------------- build

def sources():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala"]
    files = sorted({f for p in pats
                    for f in glob.glob(os.path.join(ROOT, p), recursive=True)})
    return files


def build():
    """Compile engine + benchmark if the sources changed; return classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found (run from the repository root)")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"], 850, cwd=BENCH, env=env,
                       stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed, see {log}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    with open(cp_file) as c:
        return c.read().strip()


# ------------------------------------------------------------ contention

def canary():
    """Fixed CPU work, best of three: seconds on this box right now."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ---------------------------------------------------------------- checks

def compare(con, name, spark_sql, oracle_sql, keys, floats=()):
    """Row-for-row comparison: same row count, every key present on both
    sides, float columns within FLOAT_TOL. Returns (ok, detail)."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE s AS {spark_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {oracle_sql}")
    ns = con.execute("SELECT count(*) FROM s").fetchone()[0]
    no = con.execute("SELECT count(*) FROM o").fetchone()[0]
    on = " AND ".join(f"s.{k} IS NOT DISTINCT FROM o.{k}" for k in keys)
    # FULL JOIN on the keys: a row without a partner has a NULL marker
    marker = " OR ".join(["s.__m IS NULL", "o.__m IS NULL"] +
                         [f"abs(s.{f} - o.{f}) > {FLOAT_TOL}" for f in floats])
    nbad = con.execute(
        f"SELECT count(*) FROM (SELECT *, 1 AS __m FROM s) s FULL JOIN "
        f"(SELECT *, 1 AS __m FROM o) o ON {on} WHERE {marker}").fetchone()[0]
    ok = ns == no and nbad == 0 and no > 0
    return ok, f"{name}: spark {ns} rows, oracle {no} rows, {nbad} mismatched"


def dbl(v):
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def geo_oracles(con, inp, work, man):
    p, m = man["params"], man["sizes"]
    t = lambda name: f"read_parquet('{inp}/{name}/*.parquet')"
    s = lambda name: f"SELECT * FROM read_parquet('{work}/checks/{name}/*.parquet')"
    wp, wb, wg = m["window_points"], m["window_boxes"], m["window_grid"]
    r = p["snap_frame"]
    inside = lambda w: (f"x0 >= {dbl(w[0])} AND x1 < {dbl(w[2])} AND "
                        f"y0 >= {dbl(w[1])} AND y1 < {dbl(w[3])}")
    snap = f"""
      WITH pts AS (SELECT id, x, y FROM {t('points')}
                   WHERE x >= {dbl(wp[0])} AND x < {dbl(wp[2])}
                     AND y >= {dbl(wp[1])} AND y < {dbl(wp[3])}),
      tgt AS (SELECT tid, x AS tx, y AS ty FROM {t('targets')}
              WHERE x >= {dbl(wp[0] - r - 1)} AND x <= {dbl(wp[2] + r + 1)}
                AND y >= {dbl(wp[1] - r - 1)} AND y <= {dbl(wp[3] + r + 1)}),
      best AS (
        SELECT p.id, t.tid, t.tx, t.ty,
          (p.x - t.tx) * (p.x - t.tx) + (p.y - t.ty) * (p.y - t.ty) AS d2
        FROM pts p JOIN tgt t
          ON (p.x - t.tx) * (p.x - t.tx) + (p.y - t.ty) * (p.y - t.ty)
             <= {dbl(r * r)}
        QUALIFY ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY d2, t.tid) = 1)
      SELECT p.id, COALESCE(b.tx, p.x) AS x, COALESCE(b.ty, p.y) AS y,
        b.tid, b.tid IS NOT NULL AS snapped
      FROM pts p LEFT JOIN best b USING (id)"""
    boxes = f"SELECT rid, x0, y0, x1, y1 FROM {t('boxes')} WHERE {inside(wb)}"
    pairs = f"""
      WITH r AS ({boxes})
      SELECT a.rid AS ida, b.rid AS idb,
        a.x0 AS ax0, a.y0 AS ay0, a.x1 AS ax1, a.y1 AS ay1,
        b.x0 AS bx0, b.y0 AS by0, b.x1 AS bx1, b.y1 AS by1
      FROM r a, r b
      WHERE a.x0 <= b.x1 AND b.x0 <= a.x1 AND a.y0 <= b.y1 AND b.y0 <= a.y1"""
    part = f"""
      SELECT ida, idb, part FROM (
        SELECT ida, idb,
          FLOOR(GREATEST(0.0, LEAST(ax1, bx1) - GREATEST(ax0, bx0))
              * GREATEST(0.0, LEAST(ay1, by1) - GREATEST(ay0, by0))
              / ((ax1 - ax0) * (ay1 - ay0)) * 10000.0 + 0.5) / 10000.0 AS part
        FROM ({pairs})) WHERE part > 0.0"""
    tol = p["border_tol"]
    ox = "LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0)"
    oy = "LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0)"
    borders = f"""
      WITH poly AS (SELECT pid, name, x0, y0, x1, y1 FROM {t('grid')}
                    WHERE {inside(wg)})
      SELECT a.pid AS ida, b.pid AS idb, a.name || '-' || b.name AS front,
        ROUND(CASE WHEN {ox} <= {tol} AND {ox} >= -{tol} THEN {oy}
                   ELSE {ox} END, 4) AS length
      FROM poly a, poly b
      WHERE a.pid < b.pid
        AND (({ox} <= {tol} AND {ox} >= -{tol} AND {oy} > {tol})
          OR ({oy} <= {tol} AND {oy} >= -{tol} AND {ox} > {tol}))"""
    return [
        compare(con, "snap", s("snap"), snap, ["id", "tid", "snapped"],
                ["x", "y"]),
        compare(con, "intersects", s("intersects"),
                f"SELECT ida, idb FROM ({pairs})", ["ida", "idb"]),
        compare(con, "intersection_part", s("intersection_part"), part,
                ["ida", "idb"], ["part"]),
        compare(con, "find_borders", s("find_borders"), borders,
                ["ida", "idb", "front"], ["length"]),
    ]


def curate_oracles(con, inp, work, man):
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"read_parquet('{inp}/check/documents.parquet')")
    with open(f"{work}/checks/dedup_minhash.sql") as f:
        oracle = f.read()
    return [compare(con, "dedup_minhash",
                    f"SELECT * FROM read_parquet('{work}/checks/dedup_minhash/*.parquet')",
                    oracle, ["ida", "idb"], ["est"])]


def oracle_checks(workload, inp, work, man):
    """DuckDB replays; each check is one attempted operation."""
    if workload == "ann_serve":
        return []
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    fn = geo_oracles if workload == "geo_batch" else curate_oracles
    try:
        return fn(con, inp, work, man)
    except Exception as e:  # a missing output or SQL error is a failure
        return [(False, f"oracle error: {type(e).__name__}: {e}")]


# --------------------------------------------------------------- metrics

def tail(xs):
    """Highest percentile with at least ten samples beyond it (the max
    when there are ten samples or fewer): (value, percentile, n)."""
    s = sorted(xs)
    n = len(s)
    i = n - 11 if n >= 11 else n - 1
    return s[i], 100.0 * (i + 1) / n, n


def end_to_end(res, man, setup_s):
    med = statistics.median
    if "pass_s" in res:
        # the mean of the first two timed passes: passes keep speeding up
        # (JIT), and no window length holds the same number of passes on
        # a fast and a slow box, so a median over the window would jump
        passes = res["pass_s"]
        job = sum(passes[:2]) / 2
        tl, pct, n = tail(passes)
        m = {"job_s": job, "records_per_s": man["sizes"]["records"] / job,
             "index_build_s": job, "topk_p50_ms": job * 1e3,
             "topk_tail_ms": tl * 1e3}
        note = f"passes={n}; topk_tail_ms is p{pct:.1f} of {n} passes"
    else:
        req = res["req_ms"]
        build = med(res["build_s"])
        tl, pct, n = tail(req)
        m = {"job_s": med(req) / 1e3,
             "records_per_s": res["batch"] * len(req) / (sum(req) / 1e3),
             "index_build_s": build, "topk_p50_ms": med(req),
             "topk_tail_ms": tl}
        note = (f"settle requests={res['settle_requests']}, timed "
                f"requests={n}; topk_tail_ms is p{pct:.1f} of {n} requests")
    m["setup_s"] = setup_s
    m["peak_rss_mb"] = res["peak_rss_mb"]
    return m, note


def per_layer(res, man):
    """Every layer value the run produced, derived ones included."""
    lay = dict(res.get("layers", {}))
    g = lambda k: lay.get(k, 0.0)
    per_pair = lambda s: g(s + "_s") * 1e9 / g(s + ".rows_out") \
        if g(s + ".rows_out") > 0 else 0.0
    lay["sources.wkt_rows"] = g("sources.wkt_parse.rows_out")
    lay["geom.clip_ns_per_pair"] = per_pair("geom.clip_area")
    lay["geom.hausdorff_ns_per_pair"] = per_pair("geom.hausdorff")
    kb = man["sizes"].get("kilobytes", 0)
    lay["functions.minhash_ns_per_kb"] = \
        g("functions.minhash_sig_s") * 1e9 / kb if kb else 0.0
    lay["operators.ivf_probe_ms"] = g("operators.ivf_probe_s") * 1e3
    lay["operators.snap.snapped_ratio"] = res.get("snapped_ratio", 0.0)
    lay["curate.dup_recall"] = res.get("dup_recall", 0.0)
    lay["operators.ivf_probe.recall_at_k"] = res.get("recall_at_k", 0.0)
    lay["Tune.initial_partitions"] = res["initial_partitions"]
    med = lambda xs: statistics.median(xs) if xs else 0.0
    if "pass_s" in res:
        # the first timed pass (untraced) carries most of the JIT warm-up,
        # which no pass order cancels; compare the passes after it
        on, off = med(res["pass_traced_s"]), med(res["pass_s"][1:])
        lay.update({"trace.job_s_on": on, "trace.job_s_off": off,
                    "trace.topk_p50_ms_on": on * 1e3,
                    "trace.topk_p50_ms_off": off * 1e3})
    else:
        on, off = med(res["req_traced_ms"]), med(res["req_ms"])
        lay.update({"trace.job_s_on": on / 1e3, "trace.job_s_off": off / 1e3,
                    "trace.topk_p50_ms_on": on, "trace.topk_p50_ms_off": off})
    return lay


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found (run from the repository root)")
    with open(spec_path) as f:
        spec = json.load(f)
    os.makedirs(OUT, exist_ok=True)
    cp = build()
    t_start = time.time()  # the run limit excludes a (first-run) build

    label = {"nproc": os.cpu_count(), "load1_before": load1(),
             "canary_before_s": canary()}
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t_gen = time.time()
        if run_child([sys.executable, os.path.join(BENCH, "gen.py"),
                      "--workload", a.workload, "--seed", str(a.seed),
                      "--out", inp], 60) != 0:
            fail("input generation failed", 1)
        with open(os.path.join(inp, "manifest.json")) as f:
            man = json.load(f)
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
        for o in JDK_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graftbench.Main", a.workload, inp, work,
                str(a.seconds), str(a.trace)]
        left = RUN_LIMIT_S - (time.time() - t_start)
        t_launch = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            rc = run_child(cmd, left, cwd=work, stdout=log,
                           stderr=subprocess.STDOUT)
        if rc != 0:
            with open(os.path.join(work, "jvm.log")) as log:
                sys.stderr.write(log.read()[-4000:])
            fail(f"benchmark JVM exited with {rc}", 1)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        t_exit = time.time()
        setup_s = res["setup_done_ms"] / 1e3 - t_launch
        oracle = oracle_checks(a.workload, inp, work, man)
        label["phases_s"] = {
            "generate": t_launch - t_gen,
            "session": res["session_ready_ms"] / 1e3 - t_launch,
            "warm_up": (res["setup_done_ms"] - res["session_ready_ms"]) / 1e3,
            "measure": (res["measure_done_ms"] - res["setup_done_ms"]) / 1e3,
            "jvm_checks": (res["checks_done_ms"] - res["measure_done_ms"]) / 1e3,
            "jvm_exit": t_exit - res["checks_done_ms"] / 1e3,
            "oracle_checks": time.time() - t_exit}
        label.update({"load1_after": load1(), "canary_after_s": canary()})

        checks = res["checks"]
        attempted = res["attempted"] + len(oracle)
        failed = res["failed"] + sum(1 for ok, _ in oracle if not ok)
        e2e, note = end_to_end(res, man, setup_s)
        e2e["ok_ratio"] = (attempted - failed) / attempted
        fail_ratio = failed / attempted
        if a.trace:
            layers = per_layer(res, man)
            values = {x["name"]: float(layers.get(x["name"], 0.0))
                      for x in spec["per_layer"]}
            units = {x["name"]: x["unit"] for x in spec["per_layer"]}
        else:
            values = {x["name"]: float(e2e[x["name"]])
                      for x in spec["end_to_end"]}
            units = {x["name"]: x["unit"] for x in spec["end_to_end"]}

        record = {"workload": a.workload, "seed": a.seed,
                  "seconds": a.seconds, "trace": a.trace, "contention": label,
                  "end_to_end": e2e, "fail_ratio": fail_ratio, "note": note,
                  "checks": checks,
                  "oracle_checks": [d for _, d in oracle],
                  "errors": res["errors"], "raw": res, "metrics": values}
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        base = os.path.join(OUT, "results",
                            f"{a.workload}-s{a.seed}-t{a.trace}")
        with open(base + ".json", "w") as f:
            json.dump(record, f, indent=1)
        if a.trace and os.path.exists(os.path.join(work, "spans.json")):
            shutil.copy(os.path.join(work, "spans.json"), base + ".spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"# {a.workload} seed={a.seed} trace={a.trace} "
          f"nproc={label['nproc']} load1={label['load1_before']:.2f}->"
          f"{label['load1_after']:.2f} canary={label['canary_before_s']:.3f}s"
          f"->{label['canary_after_s']:.3f}s")
    print(f"# {note}")
    for k, c in checks.items():
        print(f"# check {k}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    for ok, d in oracle:
        print(f"# oracle {d}: {'ok' if ok else 'FAILED'}")
    for e in res["errors"]:
        print(f"# error {e}")
    print(f"# fail_ratio {fail_ratio} ratio ({failed} of {attempted})")
    if a.trace:  # layer values BENCHMARK.json does not list
        for k, v in layers.items():
            if k not in values:
                print(f"# layer {k} {v!r}")
    for k, v in values.items():
        print(f"{k} {v!r} {units[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()}}))


if __name__ == "__main__":
    main()
