#!/usr/bin/env python3
"""Expected outputs, computed apart from the program.

Query results: DuckDB runs each query's `SparkEntry.oracleSql` text over
the same generated parquet, and the rows are hashed cell by cell the way
`Canon` in the benchmark's Scala hashes Spark's rows (floats and decimals
rounded to 12 significant digits, half-even). lake_etl: the generator's
own bookkeeping gives the positions table, every day's refined top-5 and
the row counts.

    python3 perfbench/expect.py --workload analyst_session --seed 1 --out expected.json

regenerates the expected outputs for one seed (it needs a build, which
`run.py` makes on its first run). `check` is what `run.py` calls after
each run.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import shutil
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
_CTX = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)


def _dec(d):
    if d == 0:
        return "0"
    return format(_CTX.plus(d).normalize(_CTX), "f")


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return _dec(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _dec(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S") + (f".{v.microsecond:06d}" if v.microsecond else "")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    return str(v)


def digest(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(cell(v) for v in r) + "\n").encode())
    return h.hexdigest()


def oracle_digests(tables_dir, names, oracle_json):
    """{query: {"columns", "rows", "sha"}} from DuckDB over `tables_dir`."""
    import duckdb
    oracles = json.load(open(oracle_json))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = {}
    for n in names:
        cur = con.execute(oracles[n])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[n] = {"columns": cols, "rows": len(rows), "sha": digest(rows)}
    return out


def lake_expected(days, history, n_days):
    """Positions, refined top-5 per processed day and raw row count for the
    first `n_days` generated days (the first `history` are the set-up)."""
    latest, totals, tops = {}, {}, []
    for d in range(n_days):
        for cod, acao, _tipo, q, _part in days[d]:
            latest[cod] = q
            if q is not None:
                totals[(cod, acao)] = totals.get((cod, acao), 0) + q
        if d >= history:
            best = sorted(totals.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:5]
            tops += [[cod, acao, tot] for (cod, acao), tot in best]
    return {"positions_rows": len(latest),
            "positions_qtde_sum": sum(v for v in latest.values() if v is not None),
            "refined_rows": sorted(tops),
            "raw_rows": sum(len(days[d]) for d in range(n_days))}


def check(workload, run_dir, res, days, oracle_json):
    """Problems found in one run's outputs; empty when all is as expected."""
    problems = []
    if workload == "lake_etl":
        from run import LAKE_PLAN
        lk = res["lake"]
        exp = lake_expected(days, LAKE_PLAN["history"], lk["days"])
        if lk["positions_rows"] != exp["positions_rows"]:
            problems.append(f"positions rows {lk['positions_rows']} != {exp['positions_rows']}")
        if int(lk["positions_qtde_sum"]) != exp["positions_qtde_sum"]:
            problems.append(f"positions qtde sum {lk['positions_qtde_sum']} != {exp['positions_qtde_sum']}")
        got = sorted([r[0], r[1], r[2]] for r in lk["refined_rows"])
        if got != exp["refined_rows"]:
            problems.append(f"refined zone holds {len(got)} rows, not the {len(exp['refined_rows'])} expected top-5 rows")
        bad_dates = {r[3] for r in lk["refined_rows"]} - set(lk["stamp_dates"])
        if bad_dates:
            problems.append(f"refined created_at {sorted(bad_dates)} not the run date {lk['stamp_dates']}")
        if not lk["raw_rows"] == lk["sink_rows"] == lk["sink_distinct"] == exp["raw_rows"]:
            problems.append(f"raw {lk['raw_rows']} / sink {lk['sink_rows']} / sink distinct "
                            f"{lk['sink_distinct']} / generated {exp['raw_rows']} differ")
        if lk["raw_fingerprint"] != lk["sink_fingerprint"]:
            problems.append("stream sink content differs from the raw zone")
        if not lk["compactions"]:
            problems.append("no compaction ran")
        for c in lk["compactions"]:
            if c["rows_before"] != c["rows_after"] or c["sum_before"] != c["sum_after"]:
                problems.append(f"compaction changed the table: {c}")
        if lk["intents"] or lk["positions_intent"]:
            problems.append(f"commit intent left behind: {lk['intents']} {lk['positions_intent']}")
        return problems
    from run import DASHBOARD, FAMILIES
    names = DASHBOARD + FAMILIES
    phases = ("cold", "warm")
    exp = oracle_digests(os.path.join(run_dir, "tables"), names, oracle_json)
    seen = set()
    for dg in res["digests"]:
        e = exp[dg["name"]]
        seen.add((dg["name"], dg["phase"]))
        if (dg["columns"], dg["rows"], dg["sha"]) != (e["columns"], e["rows"], e["sha"]):
            problems.append(f"{dg['phase']}/{dg['name']}: spark {dg['columns']} {dg['rows']} rows "
                            f"{dg['sha'][:12]} != duckdb {e['columns']} {e['rows']} rows {e['sha'][:12]}")
    for n in names:
        for ph in phases:
            if (n, ph) not in seen:
                problems.append(f"{ph}/{n}: no result to check")
    return problems


def main():
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import run
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    d = os.path.abspath(os.path.join(".bench_run", f"expect-{a.workload}-{a.seed}-{os.getpid()}"))
    try:
        days = run.make_inputs(a.workload, a.seed, d)
        if a.workload == "lake_etl":
            p = run.LAKE_PLAN
            exp = {f"after_day_{n}": lake_expected(days, p["history"], n)
                   for n in range(p["history"] + 1, p["days"] + 1)}
        else:
            run.ensure_build()
            names = run.DASHBOARD + run.FAMILIES
            exp = oracle_digests(os.path.join(d, "tables"), names,
                                 os.path.join(run.build_dir(), "bench", "oracle_sql.json"))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    with open(a.out, "w") as f:
        json.dump(exp, f, indent=1)


if __name__ == "__main__":
    main()
