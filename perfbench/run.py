#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The script
  1. compiles src/main/scala plus perfbench/scala with the Scala compiler
     shipped in the Spark distribution (cached by source digest under
     .bench_build/perfbench),
  2. generates the fixed star-schema tables (seed 42, sf0.1) once and,
     for ingest_json, the seeded JSON batches of this run,
  3. runs one JVM (perfbench.PerfBench) that sets up a local[N] session,
     primes it with one untimed pass, and times whole passes over the
     workload's ops for --seconds seconds,
  4. checks every output: registry ops against their oracle SQL in DuckDB
     (tools/check.py, read-only) and against the checksum of every timed
     run; ingest_json tables against the generator's row counts and key
     sums,
  5. writes a stamped artifact under .bench_build/perfbench/artifacts and
     prints one JSON line: correct, attempted, failed and the metrics
     named in BENCHMARK.json (end_to_end with --trace 0, per_layer with
     --trace 1).
It exits nonzero, without a result line, when the checkout lacks the
engine sources, and nonzero after the line when any output is wrong.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark distribution's jar directory: SPARK_HOME's, else the one
    beside a bin directory on PATH, whichever ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.get_exec_path()]
    for home in homes:
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    return os.path.join(homes[0], "jars")


SPARK_JARS = spark_jars()
TABLE_SF, TABLE_SEED = "0.1", 42
CPUS = max(1, min(2, os.cpu_count() or 1))
XMX = "2g"
# ingest_json: batches per pass and documents per batch
N_BATCHES, DOCS_PER_BATCH = 1, 60
JVM_BUDGET_S = 160
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
    "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
    "sun.nio.cs sun.security.action sun.util.calendar").split()]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not engine or not bench or not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        raise SystemExit("perfbench: run from a checkout holding src/main/scala, "
                         "tools/check.py and perfbench/scala")
    return engine + bench


def build():
    """Compile the engine and the benchmark; reuse a build of the same sources."""
    srcs = sources()
    out = os.path.join(BUILD, "classes-" + digest(srcs)[:16])
    if os.path.isfile(os.path.join(out, ".ok")):
        return out, srcs
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    compiler = [p for m in ("compiler", "library", "reflect")
                for p in glob.glob(os.path.join(SPARK_JARS, f"scala-{m}-2.*.jar"))]
    t0 = time.time()
    log(f"compiling {len(srcs)} sources")
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath",
         os.path.join(SPARK_JARS, "*"), "-d", out] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: compile failed\n" + r.stdout[-4000:])
    open(os.path.join(out, ".ok"), "w").close()
    log(f"compiled in {time.time() - t0:.1f} s")
    return out, srcs


def tables():
    """The fixed sf0.1 tables, generated once per generator version."""
    gen = os.path.join(HERE, "gen_tables.py")
    out = os.path.join(BUILD, f"tables-sf{TABLE_SF}-seed{TABLE_SEED}-{digest([gen])[:12]}")
    if not os.path.isfile(os.path.join(out, ".ok")):
        for old in glob.glob(os.path.join(BUILD, "tables-*")):
            shutil.rmtree(old, ignore_errors=True)
        subprocess.run([sys.executable, gen, out, TABLE_SF, str(TABLE_SEED)], check=True)
        open(os.path.join(out, ".ok"), "w").close()
    return out


def dir_bytes(d):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
               if os.path.isfile(p))


def run_jvm(classes, work, props, timeout):
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")]),
            "perfbench.PerfBench"] + [f"{k}={v}" for k, v in props.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})\n{tail}")
    with open(props["out"]) as f:
        return json.load(f)


def check_registry(res, tabs):
    """Names of ops whose output is wrong: oracle mismatch, a run whose
    checksum differs from the oracle-checked dump, or an error."""
    bad = {o["name"] for o in res["ops"] if o["error"]}
    dumped = res["check"]["dumped"]
    for o in res["ops"]:
        d = dumped.get(o["name"])
        if not o["error"] and (d is None or (d["rows"], d["sum"]) != (o["rows"], o["sum"])):
            bad.add(o["name"])
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), tabs,
                        res["check"]["dump_dir"]],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    seen = set()
    for line in r.stdout.splitlines():
        m = re.match(r"(ok|FAIL)\s+(\S+?):", line)
        if m:
            seen.add(m.group(2))
            if m.group(1) == "FAIL":
                bad.add(m.group(2))
                log(line)
    bad |= {o["name"] for o in res["ops"]} - seen
    return bad, r.stdout


def check_ingest(res, docs_dir):
    """Mismatches between the written tables and the generator's counts,
    and the share of documents the router dropped (from the distinct
    document keys that reached the document-level tables)."""
    import duckdb
    with open(os.path.join(docs_dir, "expected.json")) as f:
        exp = json.load(f)
    runs = res["check"]["ingested"]
    want = {}
    for b in exp["batches"]:
        k = runs.get(b["dir"], 0)
        for t, v in b["tables"].items():
            r, s = want.get(t, (0, 0))
            want[t] = (r + k * v["rows"], s + k * v["key_sum"])
    out = res["check"]["out_dir"]
    con = duckdb.connect()
    got, problems = {}, []
    for t in sorted(os.listdir(out)):
        key = exp["keys"].get(t)
        if key is None:
            problems.append(f"{t}: unexpected output table")
            continue
        src = f"read_parquet('{out}/{t}/*.parquet', union_by_name=true)"
        got[t] = con.execute(f"SELECT count(*), coalesce(sum({key}), 0) FROM {src}").fetchone()
    for t in sorted(set(want) | set(got)):
        g, w = tuple(got.get(t, (0, 0))), want.get(t, (0, 0))
        if g != w:
            problems.append(f"{t}: got rows/key_sum {g}, expected {w}")
    doc_tables = [t for t in ("reccomendation_action", "master_table", "base_credit",
                              "bank_scrape_info") if t in got]
    parsed = con.execute("SELECT count(DISTINCT doc_no) FROM (" + " UNION ALL ".join(
        f"SELECT doc_no FROM read_parquet('{out}/{t}/*.parquet', union_by_name=true)"
        for t in doc_tables) + ")").fetchone()[0] if doc_tables else 0
    docs = sum(b["docs"] for b in exp["batches"])
    valid = docs - sum(b["malformed"] for b in exp["batches"])
    if parsed != valid:
        problems.append(f"router kept {parsed} documents, expected {valid}")
    return problems, 1.0 - parsed / docs


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_json", "iter_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classes, srcs = build()
    tabs = tables()
    t0 = time.time()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    props = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
             "tables": tabs, "work": work, "cpus": CPUS,
             "out": os.path.join(work, "result.json")}
    docs = None
    gen_s = 0.0
    if a.workload == "ingest_json":
        sys.path.insert(0, HERE)
        import gen_docs
        docs = os.path.join(work, "docs")
        g0 = time.time()
        gen_docs.main(docs, a.seed, N_BATCHES, DOCS_PER_BATCH)
        gen_s = time.time() - g0
        props["docs"] = docs
    res = run_jvm(classes, work, props, JVM_BUDGET_S - (time.time() - t0))

    if a.workload == "ingest_json":
        problems, dropped = check_ingest(res, docs)
        if a.trace:
            res["layers"]["router.dropped_frac"] = dropped
        bad = {o["name"] for o in res["ops"]} if problems else set()
        bad |= {o["name"] for o in res["ops"] if o["error"]}
        for p in problems:
            log("MISMATCH " + p)
        oracle_out = ""
    else:
        bad, oracle_out = check_registry(res, tabs)
        if a.trace:
            res["layers"]["router.dropped_frac"] = 0.0
    timed = [o for o in res["ops"] if o["pass"] > 0]
    failed = sum(1 for o in timed if o["name"] in bad)
    correct = not bad and bool(timed)

    section = "per_layer" if a.trace else "end_to_end"
    values = res["layers"] if a.trace else res["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[section]}

    stamp = dict(res["stamp"], git_sha=git_sha(), source_sha256=digest(srcs),
                 workload=a.workload, trace=a.trace, table_sf=TABLE_SF,
                 table_seed=TABLE_SEED, table_bytes=dir_bytes(tabs),
                 input_bytes=dir_bytes(docs) if docs else dir_bytes(tabs),
                 input_generation_s=gen_s)
    artifact = {"stamp": stamp, "correct": correct, "attempted": len(timed),
                "failed": failed, "failed_ops": sorted(bad), "end_to_end": res["end_to_end"],
                "extra": res["extra"], "layers": res["layers"], "passes": res["passes"],
                "ops": res["ops"], "oracle_check": oracle_out.splitlines()}
    adir = os.path.join(BUILD, "artifacts")
    os.makedirs(adir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(adir, name + ".json"), "w") as f:
        json.dump(artifact, f, indent=1)
    if a.trace and os.path.isfile(os.path.join(work, "spans.json")):
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(adir, name + ".spans.json"))
    log(f"{name}: wall={time.time() - started:.1f}s passes={res['extra']['passes']:.0f} ops={len(timed)} "
        f"tail=p{res['extra']['op_tail_percentile']:.0f} artifact={adir}/{name}.json")
    print(json.dumps({"correct": correct, "attempted": len(timed), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
