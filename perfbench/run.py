#!/usr/bin/env python3
"""End-to-end benchmark of the graft pipeline runner and a fixed query mix.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

W is one workload below, or `all` for both, one after another.
Run from the repository root. The first run builds the program and the
harness from source (perfbench/build.sh) into $CARGO_TARGET_DIR, default
.bench_build; later runs reuse the build while the sources are unchanged.

Workloads (BENCHMARK.json says why each is there):
  pipeline_employees  Employees.phases through Pipeline.run, CSV source and
                      CSV checkpoints, ErrorPolicy.Warn, on a generated
                      employees CSV with planted dirty rows.
  query_mix           5 SparkEntry queries on the sf0.01 tables (rows in a
                      seed-chosen order): build, plan, noop-sink
                      materialize, Persists.releaseAll.

Every input is written from the seed before any timing starts; the program
only receives file paths. Expected outputs come from outside the program:
the generator's planted counts, and DuckDB running the oracle SQL of
SparkEntry.oracleSql on the same inputs.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics.
The last stdout line is {"correct", "attempted", "failed", "metrics"}. Each
workload's full record (machine, seed, inputs, samples, checks) is printed
on a line before it and written under <build>/results/, with the spans of
a traced run. perfbench/METRICS.md defines every metric.
"""
import argparse
import csv
import datetime
import decimal
import hashlib
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
DATA = BENCH / "data"
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")

def spark_home():
    """$SPARK_HOME, else the distribution that holds spark-submit."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit is None:
        raise SystemExit("set SPARK_HOME to a Spark 4 distribution")
    return Path(submit).resolve().parent.parent



WORKLOADS = ["pipeline_employees", "query_mix"]
EMPLOYEE_ROWS = 30_000
RUN_DEADLINE_S = 170      # the whole invocation, build excluded
# Speed probe time (Main.speedProbe) of the reference machine: the
# end-to-end times are unit times scaled to it (see evaluate)
PROBE_REF_S = 0.13
# untimed units before timing (the first is checked) while the JIT settles:
# unit times fall steeply over the first units of a JVM
WARMUP_UNITS = 3
QUERY_MIX = ["p1_phase_columns", "r4_renumber", "x57_fuzzy_link", "x197_fs_weights",
             "x138_cluster_cohesion"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(list((ROOT / "src/main/scala").rglob("*.scala")) +
                   list((BENCH / "src").rglob("*.scala")) + [BENCH / "build.sh"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    stamp_file = BUILD / "classes.stamp"
    if (BUILD / "classes").is_dir() and stamp_file.exists() \
            and stamp_file.read_text() == stamp:
        return
    log("building program and harness from source")
    BUILD.mkdir(parents=True, exist_ok=True)
    t = time.time()
    r = subprocess.run(["bash", str(BENCH / "build.sh"), str(BUILD)], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr,
                       env={**os.environ, "SPARK_HOME": str(spark_home())})
    if r.returncode != 0:
        raise SystemExit(f"build failed (exit {r.returncode})")
    stamp_file.write_text(stamp)
    log(f"build took {time.time() - t:.1f} s")


# ----------------------------------------------------------------- inputs

FIRST = ["Ada", "Ben", "Chloe", "Dev", "Emil", "Fay", "Gus", "Hana", "Ivo",
         "Jun", "Kai", "Lena", "Milo", "Nia", "Omar", "Pia", "Quin", "Rosa"]
LAST = ["Archer", "Baker", "Chen", "Diaz", "Evans", "Fischer", "Garcia",
        "Hughes", "Ito", "Jensen", "Kowalski", "Lopez", "Moreau", "Novak"]
PAY_TYPES = ["hourly", "salary", "exception hourly", "monthly", "weekly", "daily"]
PERIODS = ["Hour", "Day", "Week", "Month", "Year"]


def gen_employees(path, seed, n):
    """A CSV in the shape of the reference employees fixture. 20% of rows
    are dirty, in thirds: a payType outside the allowed values (dropped by
    the column's DropRow policy), inactive with a blank ID (dropped by the
    drop_no_id_inactive step), payRate=0 (a min_value warning). Every other
    ID is unique and no active row has a blank ID."""
    rng = random.Random(seed)
    dirty = rng.sample(range(n), n // 5)
    third = len(dirty) // 3
    bad_type = set(dirty[:third])
    blank_id = set(dirty[third:2 * third])
    zero_rate = set(dirty[2 * third:])
    ids = rng.sample(range(10_000_000), n)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["employeeNumber", "firstName", "lastName", "payType",
                    "paidPer", "payRate", "bonusAmount", "Status"])
        for i in range(n):
            period = rng.choice(PERIODS)
            rate = {"Hour": rng.uniform(12, 90), "Day": rng.uniform(100, 700),
                    "Week": rng.uniform(500, 3500), "Month": rng.uniform(2000, 15000),
                    "Year": rng.uniform(25000, 180000)}[period]
            w.writerow([
                "" if i in blank_id else f"E{ids[i]:07d}",
                rng.choice(FIRST), rng.choice(LAST),
                "contractor" if i in bad_type else rng.choice(PAY_TYPES),
                period,
                "0" if i in zero_rate else f"{rate:.2f}",
                f"{rng.uniform(0, 5000):.2f}" if rng.random() < 0.5 else "",
                "Inactive" if i in blank_id else rng.choice(["Active", "Inactive"])])
    drops = len(bad_type) + len(blank_id)
    return {"rows": n - drops, "dropped_validator": drops,
            "planted_bad_pay_type": len(bad_type), "planted_blank_id_inactive":
            len(blank_id), "planted_zero_pay_rate": len(zero_rate)}


def shuffled_copy(src, dst, seed):
    """`src` with its rows in an order chosen by `seed`, as one row group
    like the original."""
    import pyarrow.parquet as pq
    t = pq.read_table(src)
    order = list(range(t.num_rows))
    random.Random(f"{seed}:{src.name}").shuffle(order)
    pq.write_table(t.take(order), dst, row_group_size=max(1, t.num_rows))


def oracle_sql():
    return json.loads((BUILD / "classes/oracle_sql.json").read_text())


def duck(views):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(v):
    """A value as a string that is the same whichever engine produced it."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, int) and abs(v) >= 2 ** 53:
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f + 0.0)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(rel):
    """Row count and an order-independent digest of a DuckDB relation."""
    cols = [c.lower() for c in rel.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(hashlib.sha256("\x1f".join(canon(r[i]) for i in order)
                                 .encode()).hexdigest() for r in rel.fetchall())
    h = hashlib.sha256(",".join(cols[i] for i in order).encode())
    for r in rows:
        h.update(r.encode())
    return {"rows": len(rows), "digest": h.hexdigest()}


def prepare(workload, seed, inp):
    """Writes the workload's inputs; returns (program input path, source
    bytes, expected outputs, input description)."""
    inp.mkdir(parents=True)
    if workload == "pipeline_employees":
        path = inp / "employees.csv"
        expect = gen_employees(path, seed, EMPLOYEE_ROWS)
        return path, path.stat().st_size, expect, {"employees_rows": EMPLOYEE_ROWS}
    tables = inp / "tables"
    tables.mkdir()
    for t in TABLES:
        shuffled_copy(DATA / "sf0.01" / f"{t}.parquet", tables / f"{t}.parquet", seed)
    con = duck({t: tables / f"{t}.parquet" for t in TABLES})
    sql = oracle_sql()
    expect = {q: digest(con.sql(sql[q])) for q in QUERY_MIX}
    size = sum(f.stat().st_size for f in tables.iterdir())
    return tables, size, expect, {"sf": 0.01, "queries": len(QUERY_MIX)}


# -------------------------------------------------------------------- jvm

def java(args, work, timeout):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the module options Spark's launcher passes (written at build time)
    opens = (BUILD / "classes/jvm_options.txt").read_text().split()
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m", *opens,
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{BUILD / 'classes'}{os.pathsep}{spark_home() / 'jars'}/*",
           "graftbench.Main", *args]
    with open(work / "jvm.log", "a") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=logf)
        try:
            rc = p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("benchmark JVM timed out")
    if rc != 0:
        tail = (work / "jvm.log").read_text().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"benchmark JVM failed (exit {rc})")


# ---------------------------------------------------------------- metrics

def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["all", *WORKLOADS],
                    help="all: every workload, one after another")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in (ROOT / "src/main/scala", DATA / "sf0.01"):
        if not need.exists():
            raise SystemExit(f"missing {need.relative_to(ROOT)}: run from a full checkout")
    build()
    if a.workload != "all":
        record = run_workload(a.workload, a)
    else:
        records = [run_workload(w, a) for w in WORKLOADS]
        record = {"correct": all(r["correct"] for r in records),
                  "attempted": sum(r["attempted"] for r in records),
                  "failed": sum(r["failed"] for r in records),
                  "metrics": {f"{r['workload']}.{k}": v for r in records
                              for k, v in r["metrics"].items()}}
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))


def run_workload(workload, a):
    """One workload in its own JVM; prints and saves its full record."""
    t_start = time.time()
    deadline = t_start + RUN_DEADLINE_S
    nproc = os.cpu_count() or 1
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else nproc
    work = BUILD / "work" / f"{workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        src, src_bytes, expect, inputs = prepare(workload, a.seed, work / "input")
        log(f"inputs ready in {time.time() - t_start:.1f} s")

        out = work / "run.json"
        java(["run", "--workload", workload, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cpus", str(cpus), "--work", str(work / "jvm"),
              "--input", str(src), "--out", str(out), "--queries", ",".join(QUERY_MIX),
              "--warmup-units", str(WARMUP_UNITS)],
             work, deadline - time.time())
        res = json.loads(out.read_text())
        record = evaluate(workload, a.trace, res, expect, src_bytes, work)
    finally:
        log_text = (work / "jvm.log").read_text() if (work / "jvm.log").exists() else ""
        shutil.rmtree(work, ignore_errors=True)

    record.update({"workload": workload, "seed": a.seed, "trace": a.trace,
                   "seconds": a.seconds, "nproc": nproc, "cpus": cpus,
                   "spark_version": res["spark_version"], "inputs": inputs,
                   "source_bytes": src_bytes, "python": platform.python_version(),
                   "wall_clock_s": round(time.time() - t_start, 3)})
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{workload}-seed{a.seed}-trace{a.trace}"
    (results / f"{stem}.json").write_text(json.dumps(record, indent=1))
    if a.trace:
        (results / f"{stem}.spans.json").write_text(
            json.dumps({"spans": res["spans"], "jobs": res["job_spans"]}))
    (results / f"{stem}.jvm.log").write_text(log_text)
    print(json.dumps(record, separators=(",", ":")), flush=True)
    return record


def evaluate(workload, trace, res, expect, src_bytes, work):
    units = res["units"]
    checks = {}
    if workload == "query_mix":
        con = duck({})
        for q in QUERY_MIX:
            got_dir = work / "jvm" / "check" / q
            try:
                got = digest(con.sql(f"SELECT * FROM read_parquet('{got_dir}/*.parquet')"))
            except Exception as e:  # missing output: the query threw
                got = {"error": str(e).splitlines()[0]}
            checks[q] = {"ok": got == expect[q], "want": expect[q], "got": got}
        all_ok = all(c["ok"] for c in checks.values())
        unit_ok = [all_ok and u["error"] is None for u in units]
    else:
        keys = ["rows", "dropped_validator"]
        unit_ok = [u["error"] is None and all(u["observed"].get(k) == expect[k] for k in keys)
                   for u in units]
        checks = {"expected": expect,
                  "mismatched_units": [{"id": u["id"], "error": u["error"],
                                        **{k: u["observed"].get(k) for k in keys}}
                                       for u, ok in zip(units, unit_ok) if not ok]}
    attempted = len(units)
    failed = unit_ok.count(False)

    # The machine's speed drifts by ±20% over tens of seconds (it is a share
    # of a shared host), so each unit's times are scaled by how fast the
    # machine ran around it: PROBE_REF_S over the mean of the speed probes
    # taken just before and just after the unit.
    timed = [u for u in units if u["id"] >= res["first_timed_unit"]]
    probes = [u["probe_s"] for u in timed] + [res["last_probe_s"]]
    for k, u in enumerate(timed):
        u["speed"] = PROBE_REF_S / ((probes[k] + probes[k + 1]) / 2)
    plain = [u["wall_s"] * u["speed"] for u in timed if not u["traced"]]
    metrics = {}
    extra = {"unit_walls_s": [round(u["wall_s"], 4) for u in timed],
             "unit_speed": [round(u["speed"], 4) for u in timed],
             "unit_cpu_s": [round(u["cpu_s"], 4) for u in timed],
             "unit_jit_s": [round(u["jit_s"], 4) for u in timed],
             "unit_items_s": [u["items"] for u in timed if u["items"]],
             "warmup_units": [{"wall_s": u["wall_s"], "items": u["items"]}
                              for u in units[:res["first_timed_unit"]]]}

    def put(name, value, unit):
        metrics[name] = {"value": value, "unit": unit}

    if trace == 0:
        put("setup_s", res["setup"]["session_s"] + res["setup"]["warmup_s"], "s")
        put("wall_s_p50_norm", statistics.median(plain), "s")
        raw = [u["wall_s"] for u in timed if not u["traced"]]
        extra.update({"wall_s_p50": statistics.median(raw), "wall_s_max": max(raw),
                      "wall_s_samples": len(raw)})
        if workload == "query_mix":
            per_q = {q: statistics.median(u["items"][q] * u["speed"] for u in timed)
                     for q in QUERY_MIX}
            put("query_s_geomean_norm", geomean(per_q.values()), "s")
            extra["query_s_median_norm"] = per_q
            put("write_amp", units[0]["work_bytes"] / src_bytes, "ratio")
        else:
            # a pipeline run is the workload's one query
            put("query_s_geomean_norm", statistics.median(plain), "s")
            put("write_amp", statistics.median(u["work_bytes"] for u in units) / src_bytes,
                "ratio")
        put("driver_heap_mb", res["driver_heap_mb"], "MB")
        put("success_frac", 1.0 - failed / attempted, "ratio")
    else:
        layers = dict(res["layers"])
        traced = [u["wall_s"] * u["speed"] for u in timed if u["traced"]]
        layers["setup.session_s"] = res["setup"]["session_s"]
        layers["setup.warmup_s"] = res["setup"]["warmup_s"]
        layers["trace.overhead_frac"] = \
            (statistics.median(traced) - statistics.median(plain)) / statistics.median(plain)
        for name, unit in PER_LAYER:
            put(name, float(layers.get(name, 0.0)), unit)
        extra["layers"] = layers
        extra["traced_walls_s"] = traced
        extra["traced_storage_peak_bytes"] = [u["storage_peak_bytes"] for u in timed
                                              if u["traced"]]
        extra["other_call_sites"] = res["other_call_sites"]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "checks": checks, **extra}


SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else {}
PER_LAYER = [(m["name"], m["unit"]) for m in SPEC.get("per_layer", [])]

if __name__ == "__main__":
    main()
