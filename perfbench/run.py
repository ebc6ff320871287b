#!/usr/bin/env python3
"""Benchmark of the follower (ingest) and the query surface.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ingest|query_suite \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source on first use (sbt; outputs
under .bench_build/ and the sbt target directories), generates the run's
inputs from the seed, runs one workload in a fresh JVM, checks its outputs,
and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the span file plus the tracing overhead are written
next to the full result under .bench_build/results/.
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
from decimal import Decimal
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("ingest", "query_suite")
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 840
JVM_HEAP = "2g"
JVM_YOUNG = "256m"
# Row counts of the generated query dataset: the shapes of a 0.01 scale
# factor, where the suite pays per-job fixed cost rather than data cost.
QUERY_ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
              "lineitem": 60000, "events": 10000, "documents": 500,
              "embeddings": 500}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(t0):
    """Compiles program + harness once per source state; returns the JVM
    classpath."""
    sources = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
               ROOT / "src" / "main", BENCH / "build.sbt",
               BENCH / "project" / "build.properties", BENCH / "src"]
    stamp = tree_digest([p for p in sources if p.exists()])
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "classpath.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=BENCH, env=env, stdout=out,
                         budget=BUILD_BUDGET_S - (time.time() - t0))
    lines = log.read_text().strip().splitlines()
    cp = next((x.strip() for x in reversed(lines)
               if x.count(".jar") > 10 and "scala-2.13/classes" in x), None)
    if rc != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (rc={rc}); see {log}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_bounded(cmd, budget, **kw):
    """Runs cmd in its own process group; kills the group past the budget.
    Always waits for the process to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(budget, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def gen_query_data(seed, out):
    """Seeded star schema + events + corpus + embeddings, in the shapes
    and types of the program's test data (one parquet file per table)."""
    import duckdb
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"CREATE MACRO u(i, salt) AS (hash(i, salt, {seed}) % 1000003) / 1000003.0")
    con.execute(f"CREATE MACRO pick(i, salt, n) AS CAST(hash(i, salt, {seed}) % n AS BIGINT)")
    n = QUERY_ROWS
    words = ("join hash row batch scan customer column filter small slow merge order "
             "vector line data table agg value key stream window spark a group part "
             "big sort query fast the").split()
    vocab = "[" + ",".join(f"'{w}'" for w in words) + "]"
    day = "INTERVAL 1 DAY"
    tables = {
        "region": "SELECT i::INTEGER r_regionkey, ['AFRICA','AMERICA','ASIA','EUROPE',"
                  "'MIDDLE EAST'][i + 1] r_name FROM range(5) t(i)",
        "nation": "SELECT i::INTEGER n_nationkey, 'NATION_' || i n_name, "
                  "(i % 5)::INTEGER n_regionkey FROM range(25) t(i)",
        "customer": f"""SELECT i c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') c_name,
            pick(i, 1, 25)::INTEGER c_nationkey, round(u(i, 2) * 10991.69 - 994.28, 2) c_acctbal,
            ['MACHINERY','AUTOMOBILE','HOUSEHOLD','BUILDING','FURNITURE'][pick(i, 3, 5) + 1]
              c_mktsegment FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') s_name,
            pick(i, 4, 25)::INTEGER s_nationkey, round(u(i, 5) * 10777.32 - 821.16, 2) s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i p_partkey,
            ['blue','old','small','new','hot','large','cold','red'][pick(i, 6, 8) + 1] || ' ' ||
            ['ring','gear','widget','gizmo','bolt','plate','anvil','rod'][pick(i, 7, 8) + 1] p_name,
            'Brand#' || (pick(i, 8, 25) + 1) p_brand,
            ['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO'][pick(i, 9, 6) + 1] p_type,
            (pick(i, 10, 50) + 1)::INTEGER p_size, 900 + (i % 1000) / 10.0 p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i o_orderkey, pick(i, 11, {n['customer']}) o_custkey,
            ['F','O','P'][pick(i, 12, 3) + 1] o_orderstatus,
            round(1013.7 + u(i, 13) * 498964.89, 2) o_totalprice,
            TIMESTAMP '1995-01-01' + pick(i, 14, 2404) * {day} o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][pick(i, 15, 5) + 1]
              o_orderpriority FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT pick(i, 16, {n['orders']}) l_orderkey,
            pick(i, 17, {n['part']}) l_partkey, pick(i, 18, {n['supplier']}) l_suppkey,
            (pick(i, 19, 7) + 1)::INTEGER l_linenumber, (pick(i, 20, 50) + 1)::DOUBLE l_quantity,
            round(901.82 + u(i, 21) * 104096.06, 2) l_extendedprice,
            pick(i, 22, 11) / 100.0 l_discount, pick(i, 23, 9) / 100.0 l_tax,
            ['A','N','R'][pick(i, 24, 3) + 1] l_returnflag,
            ['F','O'][pick(i, 25, 2) + 1] l_linestatus,
            TIMESTAMP '1995-01-02' + pick(i, 26, 2498) * {day} l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT i event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(((i + u(i, 27)) * 2592000000000 /
              {n['events']})::BIGINT) ts,
            pick(i, 28, 150) user_id,
            ['click','signup','error','view','purchase'][pick(i, 29, 5) + 1] event_type,
            round(0.01 + u(i, 30) * 490.01, 2) "value", '{{"k": ' || pick(i, 31, 100) || '}}' props
            FROM range({n['events']}) t(i)""",
    }
    for name, sql in tables.items():
        con.execute(f"COPY ({sql}) TO '{out / name}.parquet' (FORMAT parquet)")
    # corpus: random-word documents, 5% of them near-copies of an earlier one
    con.execute(f"""CREATE TABLE base AS SELECT i doc_id,
        array_to_string(list_transform(range(10 + pick(i, 32, 90)),
          j -> {vocab}[pick(i * 1000 + j, 33, {len(words)}) + 1]), ' ') AS "text",
        ['en','en','en','de','es','fr','zh'][pick(i, 34, 7) + 1] lang,
        'src' || pick(i, 35, 20) source FROM range({n['documents']}) t(i)""")
    con.execute(f"""COPY (SELECT d.doc_id,
        CASE WHEN s.doc_id IS NULL THEN d.text ELSE s.text || ' dup' END AS "text",
        d.lang, d.source,
        length(CASE WHEN s.doc_id IS NULL THEN d.text ELSE s.text || ' dup' END)::BIGINT n_chars
        FROM base d LEFT JOIN base s ON d.doc_id > 0 AND u(d.doc_id, 36) < 0.05
          AND s.doc_id = pick(d.doc_id, 37, d.doc_id) ORDER BY d.doc_id)
        TO '{out}/documents.parquet' (FORMAT parquet)""")
    # embeddings: unit vectors around 10 label centers
    con.execute(f"""COPY (WITH r AS (SELECT i, pick(i, 38, 10) AS label,
          list_transform(range(64), d -> (u(pick(i, 38, 10) * 64 + d, 39) - 0.5)
            + (u(i * 64 + d, 40) - 0.5) * 1.2) AS v FROM range({n['embeddings']}) t(i)),
        m AS (SELECT *, sqrt(list_sum(list_transform(v, y -> y * y))) AS norm FROM r)
        SELECT i AS vec_id, list_transform(v, x -> (x / norm)::FLOAT) AS embedding,
          label::INTEGER AS label FROM m ORDER BY i)
        TO '{out}/embeddings.parquet' (FORMAT parquet)""")
    con.close()


def norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def oracle_check(data, results):
    """Each query result against its DuckDB oracle SQL over the same
    parquet files: column names and types, then every cell, after sorting
    columns by name and rows by value. Returns [(query, ok, detail)]."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    for p in data.glob("*.parquet"):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    oracle = json.loads((results / "oracle_sql.json").read_text())
    out = []
    for d in sorted(p for p in results.iterdir() if p.is_dir()):
        name, glob = d.name, f"{d}/*.parquet"
        try:
            sdesc = con.execute(f"DESCRIBE SELECT * FROM '{glob}'").fetchall()
            scols = sorted(x[0] for x in sdesc)
            order = ", ".join(f'"{c}"' for c in scols)
            srows = con.execute(f"SELECT {order} FROM '{glob}' ORDER BY {order}").fetchall()
            if name not in oracle:
                out.append((name, len(srows) > 0, f"rows-only {len(srows)} rows"))
                continue
            ddesc = con.execute(f"DESCRIBE SELECT * FROM ({oracle[name]})").fetchall()
            if sorted(x[0] for x in ddesc) != scols:
                out.append((name, False, "column names differ"))
                continue
            st, dt = dict((x[0], x[1]) for x in sdesc), dict((x[0], x[1]) for x in ddesc)
            bad = [c for c in scols if st[c] != dt[c]]
            if bad:
                out.append((name, False, f"types differ: {bad}"))
                continue
            drows = con.execute(
                f"SELECT {order} FROM ({oracle[name]}) ORDER BY {order}").fetchall()
            if len(srows) != len(drows):
                out.append((name, False, f"rows spark={len(srows)} oracle={len(drows)}"))
                continue
            diff = next(((i, c) for i, (sr, dr) in enumerate(zip(srows, drows))
                         for c, (sv, dv) in enumerate(zip(map(norm, sr), map(norm, dr)))
                         if not same(sv, dv)), None)
            out.append((name, diff is None,
                        f"{len(srows)} rows" if diff is None
                        else f"cell row={diff[0]} col={scols[diff[1]]}"))
        except Exception as e:  # an unreadable result or a failing oracle
            out.append((name, False, f"error: {e}"))
    for name in sorted(set(oracle) - {p.name for p in results.iterdir()}):
        out.append((name, False, "no result written"))
    con.close()
    return out


def trace_overhead(workload, traced):
    """Traced minus untraced end-to-end values, as shares of the untraced
    ones, against the newest untraced result of the same workload."""
    prior = sorted((BUILD / "results").glob(f"{workload}-seed*-trace0.json"),
                   key=lambda p: p.stat().st_mtime)
    if not prior:
        return {"untraced_result": None,
                "note": "no untraced run of this workload yet in this checkout"}
    base = json.loads(prior[-1].read_text())["metrics"]
    return {"untraced_result": prior[-1].name,
            "share": {k: (v - base[k]["value"]) / base[k]["value"]
                      for k, v in traced.items()
                      if k in base and base[k]["value"] and v is not None}}


def reported(res, traced):
    """The metrics BENCHMARK.json names, with its units: the end-to-end
    ones, or when traced the per-layer ones (0 for a layer the workload
    leaves idle)."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not traced:
        return {m["name"]: {"value": res["metrics"][m["name"]]["value"], "unit": m["unit"]}
                for m in spec["end_to_end"]}
    return {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
            for m in spec["per_layer"]}


def source_identity():
    commit = None
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return commit, tree_digest([ROOT / "src" / "main"])


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft", "BENCHMARK.json"):
        if not (ROOT / need).exists():
            die(f"run from the root of a checkout of the program: {need} is missing")

    cp = build(t0)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = BUILD / "work" / f"{tag}-{os.getpid()}"
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data = work / "qdata"
    gen_query_data(a.seed, data)
    out = results / f"{tag}.json"
    out.unlink(missing_ok=True)
    cores = len(os.sched_getaffinity(0))
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # the heap is sized up front with a fixed young generation, so its size
    # does not hang on when the collector chose to grow it, but it is not
    # pre-touched: a page becomes resident when a region is first used, and
    # peak resident memory follows the peak of the heap in use as well as
    # native and off-heap memory
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", str(work), "--data", str(data), "--out", str(out),
           "--fixtures", str(ROOT / "src" / "test" / "resources" / "fixtures" / "basic"),
           "--cores", str(cores)]
    log = BUILD / "logs" / f"{tag}.log"
    log.parent.mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    try:
        with open(log, "w") as err:
            rc = run_bounded(cmd, cwd=work, env=env, stdout=err, stderr=err,
                             budget=RUN_BUDGET_S - (time.time() - t0) - 10)
        if rc != 0 or not out.exists():
            sys.stderr.write("".join(log.read_text().splitlines(True)[-40:]))
            die(f"workload run failed (rc={rc}); see {log}")
        res = json.loads(out.read_text())
        if a.workload == "query_suite":
            for name, ok, detail in oracle_check(data, work / "results"):
                res["attempted"] += 1
                res["failed"] += 0 if ok else 1
                res["checks"].append({"check": f"oracle.{name}", "ok": ok, "detail": detail})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    commit, digest = source_identity()
    res["provenance"].update({"git_commit": commit, "source_sha256": digest,
                              "nproc": os.cpu_count(), "jvm_heap": JVM_HEAP,
                              "jvm_young": JVM_YOUNG,
                              "query_rows": QUERY_ROWS})
    if a.trace == "1":
        res["extra"]["trace_overhead"] = trace_overhead(
            a.workload, {k: v["value"] for k, v in res["metrics"].items()})
    res["named"]["failed_ops_ratio"] = {
        "value": res["failed"] / max(res["attempted"], 1), "unit": "failed/attempted"}
    out.write_text(json.dumps(res, indent=1))

    failed_checks = [c for c in res["checks"] if not c["ok"]]
    for c in failed_checks[:10]:
        print(f"FAILED {c['check']}: {c['detail']}")
    print(json.dumps({"workload": a.workload, "named": res["named"],
                      "provenance": res["provenance"], "result_file": str(out)}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": reported(res, a.trace == "1")}))


if __name__ == "__main__":
    main()
