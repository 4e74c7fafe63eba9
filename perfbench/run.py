#!/usr/bin/env python3
"""Runs one spiderspark benchmark workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) into `.bench_build/`
(or `$CARGO_TARGET_DIR`); later runs reuse the build while the sources are
unchanged. Each run starts one JVM at local[4], which sets up, measures for
S seconds, checks every output and writes its figures; this script adds the
DuckDB check of `query_suite` and prints one JSON object as the last line of
standard output. Everything else goes to standard error. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("wide_crawl", "skew_crawl", "polite_crawl", "query_suite")
DATA = HERE / "data" / "sf0.01"
TABLES = ("customer", "documents", "embeddings", "events", "lineitem", "nation",
          "orders", "part", "region", "supplier")
# a run must end within 180 s; the JVM gets 150 s, leaving room for the
# DuckDB check (about 20 s while its cache is cold)
JVM_LIMIT_S = 150
BUILD_LIMIT_S = 840
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit:
        return str(Path(submit).resolve().parent.parent)
    sys.exit("SPARK_HOME is not set and spark-submit is not on PATH")


def source_stamp():
    h = hashlib.sha256()
    files = sorted(list((ROOT / "src" / "main").rglob("*.scala")) +
                   list((HERE / "src").rglob("*.scala")) +
                   [HERE / "build.sbt", HERE / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Runs cmd in its own process group; kills the group past limit_s."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(build_dir):
    """Compiles engine + benchmark once per source state; returns the classpath."""
    target = build_dir / "target"
    stamp_file, cp_file = target / "stamp", target / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building engine + benchmark with sbt")
    env = dict(os.environ, SPARK_HOME=spark_home(), PERFBENCH_TARGET=str(target))
    cmd = ["sbt", f"-Dsbt.global.base={build_dir / 'sbt-global'}",
           "-Dsbt.server.autostart=false", "--batch", "-Dsbt.log.noformat=true",
           "writeClasspath"]
    code = run_bounded(cmd, BUILD_LIMIT_S, cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not cp_file.exists():
        sys.exit(f"build failed (exit {code})")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


# --------------------------------------------------------------------------
# query_suite output check: replay SparkEntry.oracleSql in DuckDB
# --------------------------------------------------------------------------

def _norm(v):
    import decimal
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in sorted(v.items()))
    return v


def _sort_key(row):
    return tuple((x is None, round(x, 6) if isinstance(x, float) else x if not isinstance(x, tuple) else repr(x))
                 for x in row)


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(float(a) - float(b)) <= 1e-6 * max(1.0, abs(float(a)), abs(float(b)))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _spark_value(v):
    """Renders a DuckDB value the way Spark's Row.json renders it."""
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (f".{v.microsecond:06d}".rstrip("0") if v.microsecond else "")
    if isinstance(v, (list, tuple)):
        return [_spark_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _spark_value(x) for k, x in v.items()}
    return v


def _oracle_rows(con, sql, data_key):
    """DuckDB's answer to one oracle query, cached under perfbench/.cache by
    the SQL text and the tables' content (the tables are fixed)."""
    h = hashlib.sha256(sql.encode() + data_key.encode())
    cache = HERE / ".cache" / f"duckdb-{h.hexdigest()[:32]}.json"
    if cache.exists():
        cols, rows = json.loads(cache.read_text())
    else:
        rel = con.sql(sql)
        cols, rows = rel.columns, [[_spark_value(v) for v in r] for r in rel.fetchall()]
        cache.parent.mkdir(parents=True, exist_ok=True)
        tmp = cache.with_suffix(".tmp")
        tmp.write_text(json.dumps([cols, rows], default=str))
        tmp.replace(cache)
    return cols, [tuple(_norm(v) for v in r) for r in rows]


def duckdb_check(check_dir, data_dir):
    """Replays SparkEntry.oracleSql in DuckDB against every dumped pass.

    Returns {op id: failure message} for each (pass, query) that differs.
    """
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / (t + '.parquet')}')")
    data_key = hashlib.sha256(b"".join((data_dir / (t + ".parquet")).read_bytes()
                                       for t in TABLES)).hexdigest()
    bad, oracle = {}, {}
    for rep in sorted(p for p in check_dir.iterdir() if p.is_dir()):
        sqls = json.loads((rep / "oracle_sql.json").read_text())
        for f in sorted(rep.glob("*.json")):
            name = f.stem
            if name == "oracle_sql":
                continue
            op = f"{rep.name}/{name}"
            try:
                lines = f.read_text().splitlines()
                cols = json.loads(lines[0])
                got = [tuple(_norm(json.loads(line)[c]) for c in cols) for line in lines[1:]]
                if name not in oracle:
                    oracle[name] = _oracle_rows(con, sqls[name], data_key)
                want_cols, want = oracle[name]
                if [c.lower() for c in cols] != [c.lower() for c in want_cols]:
                    bad[op] = f"columns {cols} != oracle {want_cols}"
                    continue
                got.sort(key=_sort_key)
                want = sorted(want, key=_sort_key)
                if len(got) != len(want):
                    bad[op] = f"{len(got)} rows != oracle {len(want)}"
                elif not all(_same(x, y) for x, y in zip(got, want)):
                    i = next(i for i, (x, y) in enumerate(zip(got, want)) if not _same(x, y))
                    bad[op] = f"row {i}: {got[i]!r} != oracle {want[i]!r}"
            except Exception as e:  # output that cannot be read fails its check
                bad[op] = f"check error: {e}"
    return bad


# --------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("engine sources (src/main/scala/graft) not found: run from a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classpath = build(build_dir)

    out = build_dir / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={out / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", str(out), "--cache", str(HERE / ".cache"), "--data", str(DATA)])
    t_jvm = time.monotonic()
    code = run_bounded(cmd, JVM_LIMIT_S, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    log(f"JVM ran {time.monotonic() - t_jvm:.1f} s")
    res_file = out / "jvm.json"
    if code != 0 or not res_file.exists():
        sys.exit(f"benchmark JVM failed (exit {code})")
    res = json.loads(res_file.read_text())
    failures = list(res["failures"])
    failed_ops = set(res["failed_ops"])
    if args.workload == "query_suite":
        t_check = time.monotonic()
        bad = duckdb_check(out / "check", DATA)
        log(f"DuckDB check took {time.monotonic() - t_check:.1f} s")
        failures += [f"{name}: {why}" for name, why in sorted(bad.items())]
        failed_ops |= set(bad)
        log(f"DuckDB check: {len(bad)} of {res['attempted']} query results differ from the oracle")
    for f in failures:
        log(f"FAILED {f}")
    failed = len(failed_ops)

    kind = "per_layer" if args.trace else "end_to_end"
    want = [m["name"] for m in spec[kind]]
    got = res[kind]
    for name in want:
        if name not in got:
            if kind == "per_layer":
                unit = next(m["unit"] for m in spec[kind] if m["name"] == name)
                got[name] = {"value": 0.0, "unit": unit}  # layer idle in this workload
            else:
                sys.exit(f"end-to-end metric {name} missing")
    extra = sorted(set(got) - set(want))
    if extra:
        sys.exit(f"metrics not declared in BENCHMARK.json: {extra}")
    metrics = {name: got[name] for name in want}
    bad_values = [k for k, v in metrics.items()
                  if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    if bad_values:
        sys.exit(f"metrics without a finite value: {bad_values}")
    if args.trace:
        (out / "end_to_end.json").write_text(json.dumps(res["end_to_end"], indent=1))
        table = "\n".join(f"  {k:<40} {v['value']:>14.6g} {v['unit']}" for k, v in metrics.items())
        log(f"per-layer metrics (labels in perfbench/README.md):\n{table}")
    for sub in ("tmp", "work", "check", "spark-local", "warehouse"):
        shutil.rmtree(out / sub, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
