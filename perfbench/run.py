#!/usr/bin/env python3
"""End-to-end benchmark of graft's pipelines.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: etl_ref, crawl_corpus_hidup, crawl_corpus_lowdup (see
perfbench/README.md). The first run in a checkout builds the program and the
harness from source with sbt into .bench_build/. Each run then:

  1. samples host steal and load;
  2. starts one JVM that times its session set-up, generates the seeded
     inputs, runs the job cold, then back to back for --seconds, checking
     every job's output digests, and with --trace 1 runs the job once more
     span by span;
  3. re-computes the last job's outputs in DuckDB from the registry's oracle
     SQL and compares them with what Spark wrote;
  4. prints a summary line and, last, one JSON result line.

It exits non-zero without a result line when the program cannot be built or
a run cannot finish.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")

RUN_LIMIT_S = 170          # a run past its build must end within this
BUILD_LIMIT_S = 800
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (the program's own
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]



class RunError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_proc(cmd, timeout, **kw):
    """Run to completion in its own process group; kill the group and wait
    for it on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RunError(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")


def build():
    """Compile program + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise RunError("program sources not found: run from the root of a graft checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")  # the build resolves from local caches only
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    out_path = os.path.join(BUILD, "build.log")
    log("perfbench: building the program and harness (first run in this checkout)")
    with open(out_path, "w") as out:
        rc = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                      BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                      stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        log("\n".join(lines[-30:]))
        raise RunError(f"build failed (exit {rc}); log in {out_path}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, work, main_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", *opens,
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/local", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", cp, "perfbench.Main", *main_args]


def run_jvm(cp, work, name, args, deadline):
    result = os.path.join(work, f"{name}.json")
    logf = os.path.join(work, f"{name}.log")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    cmd = java_cmd(cp, work, ["--result", result, "--launch-ms", str(int(time.time() * 1000)),
                              *args])
    t0 = time.monotonic()
    with open(logf, "w") as out:
        rc = run_proc(cmd, deadline - time.monotonic(), cwd=work, env=env,
                      stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    log(f"perfbench: {name} JVM {time.monotonic() - t0:.1f} s")
    if rc != 0 or not os.path.exists(result):
        with open(logf, errors="replace") as f:
            log("".join(f.readlines()[-40:]))
        raise RunError(f"{name} JVM failed (exit {rc}); log in {logf}")
    with open(result) as f:
        return json.load(f)


def host_sample():
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return cpu, load


def host_health(a, b):
    (c0, l0), (c1, l1) = a, b
    total = sum(c1) - sum(c0)
    steal = 100.0 * (c1[7] - c0[7]) / total if total > 0 else 0.0
    return steal, (l0 + l1) / 2


def materialized(sql):
    """The same SQL with every plain CTE marked MATERIALIZED: DuckDB then
    evaluates each CTE once instead of once per reference. It changes the
    plan, not the result; the oracles reference their CTEs many times."""
    return re.sub(r"(\bWITH(?: RECURSIVE)? |,\s*)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


def duck():
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {nproc()}")
    con.execute("SET TimeZone = 'UTC'")
    return con


def parquet(t):
    return f"read_parquet('{t['glob']}', hive_partitioning = {str(t['hive']).lower()})"


def digest(con, t):
    """Order-independent digest of a table: row count plus the XOR of each
    row's hash over its columns in name order."""
    cols = sorted(d[0] for d in con.sql(f"SELECT * FROM {parquet(t)} LIMIT 0").description)
    quoted = ", ".join(f'"{c}"' for c in cols)
    n, h = con.sql(f"SELECT count(*), bit_xor(hash({quoted})) FROM {parquet(t)}").fetchone()
    return f"{n}:{h or 0:016x}"


def check_jobs(con, jobs):
    """Digest every job's outputs; every job must write the same tables.
    Returns the first good job's digests and one problem per failed job."""
    ref, problems = None, []
    for j in jobs:
        if j["error"]:
            problems.append(f"{j['dir']} threw: {j['error']}")
            continue
        d = {t["name"]: digest(con, t) for t in j["outputs"]}
        if ref is None:
            ref = d
        elif d != ref:
            problems.append(f"{j['dir']} wrote {d}, the first job wrote {ref}")
    return ref, problems


def check_oracles(con, oracles):
    """Compare each Spark output with the oracle SQL in DuckDB, as
    multisets over the same column names. Returns the mismatches."""
    bad = []
    for o in oracles:
        try:
            for v, glob in o["views"].items():
                con.execute(f"CREATE OR REPLACE VIEW {v} AS SELECT * FROM read_parquet('{glob}')")
            got = parquet({"glob": o["output"], "hive": o["hive"]})
            exp = f"({materialized(o['sql'])})"
            gcols = [d[0] for d in con.sql(f"SELECT * FROM {got} LIMIT 0").description]
            ecols = [d[0] for d in con.sql(f"SELECT * FROM {exp} LIMIT 0").description]
            if sorted(gcols) != sorted(ecols):
                bad.append(f"{o['name']}: columns {sorted(gcols)} vs oracle {sorted(ecols)}")
                continue
            cols = ", ".join(f'"{c}"' for c in sorted(gcols))
            con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT {cols} FROM {got}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS SELECT {cols} FROM {exp}")
            n_got, n_exp, extra, missing = con.sql("""
                SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM exp),
                       (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM exp)),
                       (SELECT count(*) FROM (SELECT * FROM exp EXCEPT ALL SELECT * FROM got))
            """).fetchone()
            if extra or missing or n_got == 0:
                bad.append(f"{o['name']}: {n_got} rows vs oracle {n_exp}; "
                           f"{extra} unexpected, {missing} missing")
        except Exception as e:  # an oracle that cannot run is a failed check
            bad.append(f"{o['name']}: {type(e).__name__}: {e}")
    return bad


DIGESTS = os.path.join(HERE, "digests.json")


def recorded_digests(workload, seed):
    """Input and output digests recorded for this seed, if any: a change to
    a planting helper or to the job's output cannot pass unnoticed."""
    if not os.path.exists(DIGESTS):
        return None
    with open(DIGESTS) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def record_digests(workload, seed, seen):
    table = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as f:
            table = json.load(f)
    table.setdefault(workload, {})[str(seed)] = seen
    with open(DIGESTS, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


def load_spec():
    """BENCHMARK.json names every metric a run reports, with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_ref", "crawl_corpus_hidup", "crawl_corpus_lowdup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this seed's input and output digests in perfbench/digests.json")
    a = ap.parse_args()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        cp = build()
        deadline = time.monotonic() + RUN_LIMIT_S
        shutil.rmtree(work, ignore_errors=True)
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(work, d))
        host0 = host_sample()
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work]
        r = run_jvm(cp, work, "run", args, deadline)
        t_check = time.monotonic()
        con = duck()
        input_digest = hashlib.md5(";".join(
            f"{t['name']}={digest(con, t)}" for t in r["inputs"]).encode()).hexdigest()
        outputs, job_problems = check_jobs(con, r["jobs"])
        problems = job_problems + [f"oracle mismatch: {m}" for m in check_oracles(con, r["oracles"])]
        con.close()
        seen = {"input": input_digest, "outputs": outputs}
        rec = recorded_digests(a.workload, a.seed)
        if rec is not None and seen != rec:
            problems.append(f"digests {seen} differ from the recorded {rec}")
        log(f"perfbench: checks {time.monotonic() - t_check:.1f} s, "
            f"run {time.monotonic() - deadline + RUN_LIMIT_S:.1f} s")
        host1 = host_sample()
    except RunError as e:
        log(f"perfbench: {e}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if r["job_s_p50"] is None:
        log("perfbench: no timed job succeeded: " + "; ".join(p[:500] for p in problems))
        return 1
    if a.record and not problems:
        record_digests(a.workload, a.seed, seen)
    attempted = len(r["jobs"])
    # an oracle or recorded-digest mismatch condemns every job, since all
    # jobs' outputs carry the same digests
    failed = attempted if len(problems) > len(job_problems) else len(job_problems)
    steal, load = host_health(host0, host1)
    # steal above the tightest run-time bound marks a run contended
    spec = load_spec()
    contended = steal > 100.0 * min(m["bound"] for m in spec["end_to_end"] if m["name"] != "setup_s")
    values = {
        "records_per_s": r["records"] / r["job_s_p50"],
        "job_s_p50": r["job_s_p50"],
        "cold_job_s": r["cold_job_s"],
        "setup_s": r["setup_s"],
        "peak_live_heap_mb": r["peak_live_heap_mb"],
        "out_bytes_per_in_byte": r["out_bytes_per_in_byte"],
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    summary = [f"{k}={v:.6g} {units[k]}" for k, v in values.items()]
    summary += [f"failed_job_ratio={failed / attempted:.6g} ({failed}/{attempted} jobs)",
                f"timed_jobs={len(r['job_s'])}", f"gen_s={r['gen_s']:.4g}",
                f"records={r['records']}", f"input_digest={input_digest}",
                f"host.steal_pct={steal:.3g}", f"host.load_1m={load:.3g}"]
    if contended:
        summary.append("CONTENDED")
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: " + " | ".join(summary))
    for p in problems:
        log(f"perfbench: FAILED CHECK: {p[:2000]}")

    if a.trace:
        layers = dict(r.get("layers", {}))
        layers["host.steal_pct"] = steal
        layers["host.load_1m"] = load
        listed = spec["per_layer"]
    else:
        layers, listed = values, spec["end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in layers]
    if missing:
        log(f"perfbench: the run produced no value for {missing}")
        return 1
    metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in listed}
    # the run's artifact: every figure above plus host health, spans and checks
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    with open(os.path.join(BUILD, "artifacts", f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "values": values, "failed_job_ratio": failed / attempted,
                   "job_s": r["job_s"], "gen_s": r["gen_s"], "records": r["records"],
                   "digests": seen, "host": {"steal_pct": steal, "load_1m": load,
                                             "contended": contended},
                   "layers": r.get("layers"), "problems": problems}, f, indent=1)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
