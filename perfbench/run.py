#!/usr/bin/env python3
"""Benchmark of the extraction engine: two workloads, each measured end to
end and split into layers (kernel, functions, job, operators).

Run from the repository root:

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 20 --trace 0

Workloads (BENCHMARK.json records why each exists):
  crawl_mix     the production ExtractJob (scan → salted repartition →
                extract_doc → bucket-partitioned parquet → lineage) over the
                generator's natural page mix
  curation_ops  q19_dedup_ngram (q37_ann_ivf and q52_dup_clusters too when
                traced) over the fixed tables in perfbench/data/curation
                (the seed is not used)

Each run builds the program if its sources changed (perfbench/build.py),
starts one JVM for the workload at local[nproc] and one more JVM that only
sets up, so `setup_s` is the median of two set-ups (a JVM takes about 11 s
to be ready on a 4-core host; more samples would not fit the benchmark's
time budget). `--trace 0` prints the end-to-end metrics; `--trace 1` is a
separate traced run that prints the per-layer metrics. A per-layer metric
reads 0 on a workload that does not exercise its layer (kernel.*,
functions.* and the job's table I/O on curation_ops; ops.* on crawl_mix).

Every output is checked against an oracle and every mismatch is a failed
operation: per url against the committed goldens or the single-threaded
kernel for the extraction workloads, per query against its DuckDB oracle for
curation_ops. `--inject-fault` corrupts one checked output to prove the check
fails.

The last stdout line is {"correct", "attempted", "failed", "metrics"}. The
line before it is the full record (host, input fingerprint, checks, every
metric), also saved under <build dir>/perfbench/results/. Two saved records
are compared with

    python3 perfbench/run.py --compare A.json B.json

which refuses records whose input fingerprints differ.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("crawl_mix", "curation_ops")
SETUP_SAMPLES = 2
DEADLINE_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def jvm(classes, work, main_args, deadline):
    # no hsperfdata file: the JVM would write it to the system temp directory
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                                    os.path.join(build.spark_jar_dir(), "*")]),
            "graft.perfbench.BenchMain"] + main_args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    remaining = deadline - time.monotonic()
    if remaining <= 0:
        raise BenchError("out of time before starting a JVM")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            cwd=work, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=remaining)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.communicate()
        raise BenchError(f"JVM exceeded the {DEADLINE_S}s run limit")
    if proc.returncode != 0:
        raise BenchError(f"JVM exited {proc.returncode}:\n{err[-4000:]}")
    return out


def cpu_steal():
    """(steal, total) jiffies from /proc/stat, or None where it is absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def tagged(out, tag):
    for line in out.splitlines():
        if line.startswith(tag + " "):
            return json.loads(line[len(tag) + 1:])
    raise BenchError(f"JVM printed no {tag} line")


def evict_inputs(inputs, workload):
    """Keeps the two newest materialized inputs of a workload (one per seed)."""
    dirs = sorted(glob.glob(os.path.join(inputs, workload + "-*")), key=os.path.getmtime)
    for d in dirs[:-2]:
        shutil.rmtree(d, ignore_errors=True)


# ---- curation_ops: DuckDB oracle, canonical sort and hash of tools/check_oracle.py ----

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frame_sig(df):
    def cell(v):
        return f"{v:.10g}" if isinstance(v, float) else str(v)
    cells = [cell(v) for row in df.itertuples(index=False) for v in row]
    return hashlib.md5("\x1f".join(cells).encode()).hexdigest()


def check_curation(record, cache_dir, work, inject_fault):
    import duckdb
    info = record["info"]
    tables = info["curation_tables"]
    tables_md5 = record["fingerprint"]["input_md5"]
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work}/duckdb'")
    for t in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        con.execute(f"CREATE VIEW {os.path.basename(t)[:-8]} AS SELECT * FROM '{t}'")
    # an oracle result is a function of the tables and the SQL alone; caching
    # it saves seconds per run (about 20 s for q52)
    os.makedirs(cache_dir, exist_ok=True)
    checks = []
    for i, (name, sql) in enumerate(sorted(info["curation_oracle_sql"].items())):
        key = hashlib.md5((tables_md5 + "\0" + sql).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cached):
            with open(cached) as f:
                oracle = json.load(f)
        else:
            o = canon(con.execute(sql).df())
            oracle = {"columns": list(o.columns), "rows": len(o), "sig": frame_sig(o)}
            with open(cached, "w") as f:
                json.dump(oracle, f)
        for j, result in enumerate(info["curation_results"][name]):
            out = con.execute(f"SELECT * FROM read_parquet('{result}/*.parquet')").df()
            if inject_fault and i == 0 and j == 0 and len(out):
                c = out.columns[0]
                out.at[0, c] = out.at[0, c] + 1
            a = canon(out)
            problems = []
            if list(a.columns) != oracle["columns"]:
                problems.append(f"columns {list(a.columns)} != oracle {oracle['columns']}")
            if len(a) != oracle["rows"]:
                problems.append(f"rows {len(a)} != oracle {oracle['rows']}")
            if not problems and frame_sig(a) != oracle["sig"]:
                problems.append("value hash differs from the DuckDB oracle")
            checks.append({"name": f"curation_ops:{name}#{j}", "attempted": 1,
                           "failed": 1 if problems else 0, "examples": problems})
    return checks


# ---- one run ----

def run(args):
    start = time.monotonic()
    deadline = start + DEADLINE_S
    bench = spec()
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    base = build.build_dir()
    inputs, results = f"{base}/inputs", f"{base}/results"
    work = f"{base}/work/{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in (inputs, results, work):
        os.makedirs(d, exist_ok=True)
    evict_inputs(inputs, args.workload)
    steal0 = cpu_steal()
    try:
        out = jvm(classes, work, [
            "run", f"workload={args.workload}", f"seed={args.seed}",
            f"seconds={args.seconds}", f"trace={args.trace}", f"work={work}",
            f"inputs={inputs}", f"results={results}", f"data={ROOT}/data",
            f"curation={ROOT}/perfbench/data/curation",
            f"fault={1 if args.inject_fault else 0}"], deadline)
        record = tagged(out, "PERFBENCH_RECORD")
        steal1 = cpu_steal()
        if steal0 and steal1 and steal1[1] > steal0[1]:
            # share of CPU time the hypervisor took from this VM during the run
            record["host"]["steal_frac"] = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
        setups = [record["setup_s"]]
        # setup_s is an end-to-end metric: a traced run does not report it
        for _ in range(0 if args.trace else SETUP_SAMPLES - 1):
            setups.append(tagged(jvm(classes, work, ["setup", f"work={work}"], deadline),
                                 "PERFBENCH_SETUP")["setup_s"])
        checks = record["checks"]
        if args.workload == "curation_ops":
            checks += check_curation(record, f"{base}/oracle-cache", work, args.inject_fault)
    except BenchError as e:
        fail(str(e))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(c["attempted"] for c in checks)
    failed = sum(c["failed"] for c in checks)
    for c in checks:
        if c["failed"]:
            print(f"perfbench: CHECK FAILED {c['name']}: {c['failed']} of {c['attempted']} "
                  f"outputs differ from the oracle; " + "; ".join(c["examples"][:3]),
                  file=sys.stderr)
    record["setup_samples_s"] = setups
    record["end_to_end"]["setup_s"] = statistics.median(setups)
    record["end_to_end"]["pass_rate"] = (attempted - failed) / attempted if attempted else 0.0
    record["checks"] = checks
    record["wall_s"] = time.monotonic() - start

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = record["per_layer"] if args.trace else record["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail(f"run produced no value for {', '.join(missing)}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    path = os.path.join(results, record["run_id"] + ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": attempted > 0 and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def compare(a_path, b_path):
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if a["fingerprint"] != b["fingerprint"]:
        fail(f"refusing to compare: input fingerprints differ\n  {a['fingerprint']}\n"
             f"  {b['fingerprint']}")
    for section in ("end_to_end", "per_layer"):
        for name in sorted(set(a[section]) & set(b[section])):
            x, y = a[section][name], b[section][name]
            rel = f"{(y - x) / x:+.1%}" if x else "n/a"
            print(f"{section:10s} {name:36s} {x:14.6g} {y:14.6g} {rel}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject-fault", action="store_true",
                   help="corrupt one checked output; the run must report correct=false")
    p.add_argument("--compare", nargs=2, metavar=("A", "B"),
                   help="compare two saved records instead of running")
    args = p.parse_args()
    if args.compare:
        compare(*args.compare)
    elif args.workload:
        run(args)
    else:
        p.error("--workload or --compare is required")


if __name__ == "__main__":
    main()
