#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload analyst_session --seed 1 --seconds 4 --trace 0

Run from the repository root. The first run in a checkout compiles the
program (src/main) and the benchmark's Scala with the Scala compiler that
ships with Spark; later runs reuse that build until a source changes.
Each run makes its inputs from --seed in a fresh directory under
.bench_run/, runs the workload in one JVM, checks the outputs against
expectations computed apart from the program (expect.py), removes the
directory and prints {"correct", "attempted", "failed", "metrics"}.
--trace 1 reports the per-layer metrics instead of the end-to-end ones
and writes the spans to .bench_out/. --record FILE also appends the
full record (workload, seed, every metric) to FILE for diff.py.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import expect  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("analyst_session", "lake_etl")
# JVM CPU seconds, not wall seconds, gate the timed phases: on a shared VM
# the hypervisor's steal moves wall times 20-25 % between runs (README)
E2E = {"setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s", "op_p50_cpu_s": "s",
       "ops_per_cpu_s": "1/s"}
# the analyst's dashboard: relational, warehouse, window and function
# queries that keep no session memo
DASHBOARD = ["a1_groupby_sum_top5", "a4_rollup", "a10_multi_distinct", "j4_star_join",
           "w1_window_topn", "w4_sessionize", "l2_cdc_apply", "f_string_funcs"]
# one curation family per session-memo site, plus one CorpusIndexCache user (d2)
FAMILIES = ["d5_components", "s5_kmeans_assign", "g5_components", "t42_dsir_weights",
            "t41_substring_dedup", "d10_allpairs_jaccard", "d2_minhash_lsh"]
LAKE = ["transform_s", "stream_batch_s", "refined_s", "upsert_s", "compact_s",
        "upsert_bytes_written_per_row", "bytes_per_row"] + [
    f"{k}.{z}" for z in ("raw", "refined", "positions", "stream") for k in ("files", "bytes")]


def layer_units():
    """Every per-layer metric with its unit; a workload that does not
    exercise a layer reports 0 for it."""
    u = {"construct_s": "s", "execute_s": "s", "outside_job_s": "s", "jobs_per_op": "count",
         "stages_per_op": "count", "catalyst_ms_per_op": "ms", "task_s": "s", "gc_s": "s",
         "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
         "cold_construct_s": "s", "cold_execute_s": "s", "wall_cold_s": "s",
         "wall_warm_s": "s", "wall_op_p50_s": "s", "wall_ops_per_s": "1/s"}
    for n in DASHBOARD + FAMILIES:
        u.update({f"cold_s.{n}": "s", f"warm_s.{n}": "s", f"jobs_cold.{n}": "count",
                  f"jobs_warm.{n}": "count"})
    for f in FAMILIES:
        u.update({f"cached_mb.{f}": "MB", f"recover_s.{f}": "s"})
    u["cached_mb"] = "MB"
    for m in LAKE:
        u[m] = ("s" if m.endswith("_s") else "bytes/row" if m.endswith("per_row")
                else "count" if m.startswith("files.") else "bytes")
    return u


# ------------------------------------------------------------------ build

def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def scalac(out, sources, classpath):
    jars = spark_jars()
    tool = ":".join(glob.glob(os.path.join(jars, n))[0] for n in (
        "scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                        f"-Djava.io.tmpdir={os.path.dirname(out)}", "-cp", tool, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed for {out}")


def _digest(paths, seed=b""):
    h = hashlib.sha256(seed)
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Compile src/main, then the benchmark, each unless its build is up to
    date. Returns the seconds spent building (0 when both are reused)."""
    main_src = sorted(glob.glob("src/main/**/*.scala", recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not main_src:
        raise SystemExit("no program sources under src/main: run from the repository root")
    out = build_dir()
    jars = os.path.join(spark_jars(), "*")
    main_key = _digest(main_src)
    bench_key = _digest(bench_src, main_key.encode())
    t = time.time()
    built = False
    for part, key, compile_part in (
            ("classes", main_key, lambda d: scalac(d, main_src, jars)),
            ("bench", bench_key, lambda d: (
                scalac(d, bench_src, os.path.join(out, "classes") + ":" + jars),
                jvm(["--workload", "oracles", "--out", os.path.join(d, "oracle_sql.json")],
                    d + ".log", out)))):
        stamp = os.path.join(out, part + ".stamp")
        if os.path.exists(stamp) and open(stamp).read() == key:
            continue
        shutil.rmtree(os.path.join(out, part), ignore_errors=True)
        if os.path.exists(stamp):
            os.remove(stamp)
        compile_part(os.path.join(out, part))
        with open(stamp, "w") as f:
            f.write(key)
        built = True
    return time.time() - t if built else 0.0


JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio",
              "java.base/java.util", "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar", "java.base/jdk.internal.ref",
              "java.base/jdk.internal.misc"]


def jvm(args, log, tmp, timeout=170):
    """Run the benchmark's JVM with a fixed 3 GiB heap; waits for it to end."""
    out = build_dir()
    cp = ":".join([os.path.join(out, "bench"), os.path.join(out, "classes"),
                   os.path.join(spark_jars(), "*")])
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.abspath(tmp)}"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in JAVA_OPENS]
    cmd += ["--add-exports=java.base/sun.nio.ch=ALL-UNNAMED", "-cp", cp, "perfbench.Main"] + args
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"JVM timed out; see {log}")
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"JVM exited with {rc}")


# ----------------------------------------------------------------- inputs

LAKE_PLAN = {"history": 15, "days": 50, "rows_per_day": 2000, "keys": 20000}
# scale factor of the query tables (0.01 ~ 60 k lineitem rows, 500 documents)
TABLE_SF = 0.01


def make_inputs(workload, seed, d):
    if workload == "lake_etl":
        p = LAKE_PLAN
        days = gen.b3_days(os.path.join(d, "b3"), seed, p["days"], p["rows_per_day"], p["keys"])
        with open(os.path.join(d, "b3", "plan.txt"), "w") as f:
            f.write("".join(f"{k}={v}\n" for k, v in p.items()))
        return days
    gen.tables(os.path.join(d, "tables"), seed, TABLE_SF)
    return None


# ------------------------------------------------------------------ main

def _steal():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the full record to this JSON-lines file")
    a = ap.parse_args()

    build_s = ensure_build()
    run_dir = os.path.abspath(os.path.join(
        ".bench_run", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        t_gen = time.time()
        days = make_inputs(a.workload, a.seed, run_dir)
        t_jvm = time.time()
        st0 = _steal()
        res_path = os.path.join(run_dir, "result.json")
        jvm(["--workload", a.workload, "--data", run_dir, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", res_path,
             "--dashboard", ",".join(DASHBOARD), "--families", ",".join(FAMILIES)],
            os.path.join(run_dir, "jvm.log"), os.path.join(run_dir, "tmp"))
        with open(res_path) as f:
            res = json.load(f)
        t_check = time.time()
        # share of the machine's CPU time the hypervisor took during the JVM
        steal = (_steal() - st0) / os.sysconf("SC_CLK_TCK") / os.cpu_count() / (t_check - t_jvm)
        problems = expect.check(a.workload, run_dir, res, days,
                                os.path.join(build_dir(), "bench", "oracle_sql.json"))
        sys.stderr.write(f"wall: build {build_s:.1f} s, inputs {t_jvm - t_gen:.1f} s, "
                         f"jvm {t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s, "
                         f"steal {steal:.1%}\n")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        units = layer_units()
        layers = res["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
        os.makedirs(".bench_out", exist_ok=True)
        with open(os.path.join(".bench_out", f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": res["spans"],
                       "ops": res["ops"], "layers": layers, "e2e": res["e2e"]}, f)
    else:
        setup_s = res["ready_ms"] / 1000.0 - T0 - build_s
        vals = dict(res["e2e"], setup_s=setup_s)
        metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in E2E.items()}
    for p in problems:
        sys.stderr.write(f"check failed: {p}\n")
    for e in res.get("errors", []):
        sys.stderr.write(f"failed op: {e}\n")
    out = {"correct": not problems, "attempted": int(res["attempted"]),
           "failed": int(res["failed"]), "metrics": metrics}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps(dict(out, workload=a.workload, seed=a.seed, trace=a.trace,
                                    steal=steal)) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
