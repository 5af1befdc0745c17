#!/usr/bin/env python3
"""graft's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record-expected

Builds the harness (perfbench/build.sbt, which compiles graft's sources
with it) when the sources changed, generates the workload's corpus,
then measures in fresh JVMs and checks every query's output after
timing: against DuckDB running the query's oracle SQL on the same
files, or, for queries without one, against the digest recorded in
expected.json. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones of
a traced run. A wrong output makes the command exit 1.

Workloads, their frozen query lists and the reason for each are in
workloads.json. The seed sets the query order of every pass and, for
tpch_x10, how rows are dealt to files; the corpus itself is fixed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.dont_write_bytecode = True  # write nothing outside perfbench/
from compare import TABLES, norm  # tools/compare.py, the repo's result normalization
JVMS = 2
HEAP = "4g"
DEADLINE_S = 170
PASS_S = 2.0  # a warm pass of either workload's list takes about this long


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
        h.update(b"\0")
    return h.hexdigest()


def tree_files(root, exts):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(exts)]
    return sorted(out)


# ---- build ----------------------------------------------------------------

def build():
    graft_src = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(graft_src):
        raise BenchError(f"graft sources not found at {graft_src}")
    files = (tree_files(graft_src, (".scala", ".java")) +
             tree_files(os.path.join(HERE, "src"), (".scala",)) +
             [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")])
    fp = sha(*(os.path.relpath(f, REPO) + open(f, "rb").read().hex() for f in files))
    stamp = os.path.join(WORK, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == fp:
        return fp
    os.makedirs(WORK, exist_ok=True)
    log("building the harness and graft (sbt compile)")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0:
        raise BenchError(f"sbt compile failed (exit {rc}); see {out.name}")
    with open(stamp, "w") as f:
        f.write(fp)
    return fp


ADD_OPENS = [a for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
    "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
    "sun.nio.cs sun.security.action sun.util.calendar").split()
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def java_cmd(args, tmp):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise BenchError("SPARK_HOME is not set")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cp = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                          os.path.join(spark_home, "jars", "*")])
    return [java, *ADD_OPENS, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness", *args]


def harness(args, deadline, session=True):
    """Runs one harness JVM to completion in its own temp dir; returns the
    time from spawn to its READY line (session up, first job done)."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    errlog = open(os.path.join(WORK, "harness.log"), "a")
    t0 = time.perf_counter()
    proc = subprocess.Popen(java_cmd(args, tmp), stdout=subprocess.PIPE,
                            stderr=errlog, stdin=subprocess.DEVNULL, text=True)
    ready = []

    def read():
        for line in proc.stdout:
            if line.strip() == "READY" and not ready:
                ready.append(time.perf_counter() - t0)
            elif line.strip():
                log(line.rstrip())

    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise BenchError(f"harness {args[0]} passed the run deadline")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        reader.join(timeout=10)
        errlog.close()
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        raise BenchError(f"harness {args[0]} exited {rc}; see work/harness.log")
    if session and not ready:
        raise BenchError(f"harness {args[0]} never reported READY")
    return ready[0] if ready else None


# ---- inputs -----------------------------------------------------------------

def corpus(scale):
    gen = os.path.join(HERE, "gen_corpus.py")
    key = sha(open(gen, "rb").read(), scale)[:12]
    out = os.path.join(WORK, "corpus", f"sf{scale}-{key}")
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(out, ignore_errors=True)
        log(f"generating the sf{scale} corpus")
        sys.path.insert(0, HERE)
        import gen_corpus
        gen_corpus.generate(out, scale)
        open(os.path.join(out, ".done"), "w").close()
    return out, key


def splitmix64(x):
    import numpy as np
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def blowup(spec, build_fp, cores, seed, deadline):
    """ScaleProbe.buildBlowup's key-shifted copies of the base corpus,
    built once per (base corpus, code) and then dealt to `files` parquet
    files per table by a hash of the row's key and the seed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    base, base_key = corpus(spec["base_scale"])
    factor, files = spec["factor"], spec["files"]
    key = sha(base_key, build_fp, factor)[:12]
    blown = os.path.join(WORK, "blowup", f"x{factor}-{key}")
    if not os.path.exists(os.path.join(blown, ".done")):
        shutil.rmtree(os.path.join(WORK, "blowup"), ignore_errors=True)
        log(f"building the {factor}x blow-up")
        t0 = time.perf_counter()
        harness(["blowup", str(cores), base, blown, str(factor)], deadline)
        with open(os.path.join(blown, ".done"), "w") as f:
            f.write(str(time.perf_counter() - t0))
    dealt = os.path.join(WORK, "dealt", f"x{factor}-{key}-seed{seed}")
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(dealt, ".done")):
        shutil.rmtree(os.path.join(WORK, "dealt"), ignore_errors=True)
        for t in TABLES:
            tab = pq.read_table(os.path.join(blown, f"{t}.parquet"))
            keys = tab.column(0).to_numpy().astype(np.int64).view(np.uint64)
            salt = splitmix64(np.full(1, seed % 2**64, np.uint64))[0]
            which = splitmix64(keys ^ salt) % np.uint64(files)
            d = os.path.join(dealt, f"{t}.parquet")
            os.makedirs(d)
            for i in range(files):
                part = tab.filter(pa.array(which == np.uint64(i)))
                pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"),
                               row_group_size=max(1, part.num_rows))
        open(os.path.join(dealt, ".done"), "w").close()
    gen_s = float(open(os.path.join(blown, ".done")).read() or 0)
    return dealt, f"x{factor}-{key}", {"blowup_build_s": gen_s,
                                            "deal_s": time.perf_counter() - t0}


# ---- result check -------------------------------------------------------------

def digest(cols, rows, ordered):
    """sha256 of the rows, normalized as tools/compare.py does, with
    columns sorted by name; rows in output order when the query fixes
    one, sorted otherwise."""
    ix = sorted(range(len(cols)), key=lambda i: cols[i])
    body = ["\x1f".join(norm(r[i]) for i in ix) for r in rows]
    if not ordered:
        body.sort()
    return sha(json.dumps([cols[i] for i in ix]), *body), len(body)


def output_digest(path, ordered):
    """Digest of a parquet output the harness wrote, read through DuckDB
    as tools/compare.py reads Verify's."""
    import duckdb
    con = duckdb.connect()
    cur = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    result = digest([d[0] for d in cur.description], cur.fetchall(), ordered)
    con.close()
    return result


def oracle_digest(corpus_dir, corpus_id, name, sql):
    """DuckDB's answer, computed once per corpus content and SQL text."""
    cache = os.path.join(WORK, "oracle", corpus_id, f"{name}-{sha(sql)[:16]}.json")
    if os.path.exists(cache):
        return tuple(json.load(open(cache)))
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    for t in TABLES:
        path = os.path.join(corpus_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    result = digest(cols, cur.fetchall(), ordered=True)
    con.close()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump(result, f)
    return result


def check(execs, oracle_sql, rows_dir, corpus_dir, corpus_id, expected):
    """Checks every distinct output of the executions in `execs`; returns
    {(name, output): problem} for each wrong one. `expected` holds the
    recorded digests for this corpus."""
    bad = {}
    for n, out in sorted({(e["name"], e["output"]) for e in execs if not e["error"]}):
        path = os.path.join(rows_dir, n, out)
        want = expected.get(n)
        if not os.path.isdir(path):
            bad[n, out] = "no output"
            continue
        if want is not None:
            got = output_digest(path, ordered=False)
        elif oracle_sql.get(n):
            got = output_digest(path, ordered=True)
            want = oracle_digest(corpus_dir, corpus_id, n, oracle_sql[n])
        else:
            bad[n, out] = "no oracle SQL and no recorded digest"
            continue
        if tuple(got) != tuple(want):
            bad[n, out] = (f"digest {got[0][:12]} ({got[1]} rows), "
                           f"expected {want[0][:12]} ({want[1]} rows)")
    return bad


# ---- machine record -------------------------------------------------------------

def cpu_mhz():
    try:
        with open("/proc/cpuinfo") as f:
            mhz = [float(l.split(":")[1]) for l in f if l.startswith("cpu MHz")]
        return (min(mhz), max(mhz)) if mhz else (0.0, 0.0)
    except OSError:
        return (0.0, 0.0)


def cpu_ticks():
    """(steal, total) jiffies since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v)
    except OSError:
        return 0, 0


def machine_sample():
    lo, hi = cpu_mhz()
    return {"cpu_mhz_min": lo, "cpu_mhz_max": hi, "load_1m": os.getloadavg()[0]}


# ---- metrics ------------------------------------------------------------------

def merge(results):
    """One record for the run's JVMs. Passes are renumbered 100 * jvm +
    pass; in each JVM pass 0 is cold, pass 1 is the warm-up and every
    later pass is timed. Pass 1 runs about a third slower than the later
    passes while the JIT catches up, and the JIT keeps working after it."""
    passes, execs = [], []
    for j, r in enumerate(results):
        for p in r["passes"]:
            passes.append({**p, "pass": 100 * j + p["pass"], "cold": p["pass"] == 0,
                           "timed": p["pass"] > 1})
        execs += [{**e, "pass": 100 * j + e["pass"]} for e in r["execs"]]
    return {"passes": passes, "execs": execs, "oracle": results[0]["oracle"],
            "retained_heap_mb": statistics.median(r["retained_heap_mb"] for r in results),
            "heap_max_mb": results[0]["heap_max_mb"],
            "code_cache_mb": results[0]["code_cache_mb"]}


def end_to_end(setup, res):
    """total_s adds up each query's median over the timed passes of both
    JVMs: a typical pass, and one a single slow execution cannot move."""
    timed = {p["pass"] for p in res["passes"] if p["timed"] and not p["traced"]}
    samples = {}
    for e in res["execs"]:
        if e["pass"] in timed:
            samples.setdefault(e["name"], []).append(e["wall_ms"])
    return {
        "setup_s": (statistics.median(setup), "s"),
        "cold_total_s": (statistics.median(
            p["queries_ms"] for p in res["passes"] if p["cold"]) / 1000, "s"),
        "total_s": (sum(statistics.median(v) for v in samples.values()) / 1000, "s"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }


def per_layer(res, cores):
    """Per-layer totals of a traced run, per traced timed pass, except
    the cold.* metrics, which are per cold pass."""
    execs = res["execs"]
    passes = {p["pass"]: p for p in res["passes"]}
    traced = [p for p, r in passes.items() if r["timed"] and r["traced"]]
    untraced = [p for p, r in passes.items() if r["timed"] and not r["traced"]]
    cold = [p for p, r in passes.items() if r["cold"]]
    k = len(traced)

    def tot(sel, f, ps):
        return sum(f(e) for e in execs if e["pass"] in ps and e.get("trace") and sel(e))

    def tr(field, ps=traced, sel=lambda e: True):
        return tot(sel, lambda e: e["trace"][field], ps) / max(1, len(ps))

    def ex(field, ps=traced):
        return tot(lambda e: True, lambda e: e[field], ps) / max(1, len(ps))

    def per_pass(field, ps=traced):
        return statistics.mean(passes[p][field] for p in ps)

    wall = ex("wall_ms")
    shares = [e["trace"]["unattributed_ms"] / e["wall_ms"]
              for e in execs if e["pass"] in traced and e.get("trace") and e["wall_ms"] > 0]
    t_med = statistics.median(passes[p]["queries_ms"] for p in traced)
    u_med = statistics.median(passes[p]["queries_ms"] for p in untraced) \
        if untraced else t_med
    if max(shares, default=0.0) > 0.05:
        log(f"a traced query has {100 * max(shares):.1f} % of its wall time unattributed")
    m = {
        "operators.build_ms": (ex("build_ms"), "ms"),
        "operators.build_jobs": (tr("build_jobs"), "count"),
        "operators.queries_with_build_jobs": (
            tot(lambda e: e["trace"]["build_jobs"] > 0, lambda e: 1, traced) / k, "count"),
        "planner.analyze_ms": (ex("analyze_ms"), "ms"),
        "planner.optimize_ms": (ex("optimize_ms"), "ms"),
        "planner.physical_ms": (ex("physical_ms"), "ms"),
        "planner.exchanges": (tr("exchanges"), "count"),
        "planner.plan_nodes": (tr("plan_nodes"), "count"),
        "scheduler.jobs": (tr("jobs"), "count"),
        "scheduler.stages": (tr("stages"), "count"),
        "scheduler.tasks": (tr("tasks"), "count"),
        "scheduler.outside_jobs_ms": (tr("outside_jobs_ms"), "ms"),
        "scheduler.in_job_idle_ms": (tr("in_job_idle_ms"), "ms"),
        "exec.busy_ms": (tr("busy_ms"), "ms"),
        "exec.task_run_ms": (tr("task_run_ms"), "ms"),
        "exec.task_cpu_ms": (tr("task_cpu_ms"), "ms"),
        "exec.task_gc_ms": (tr("task_gc_ms"), "ms"),
        "exec.records_read": (tr("records_read"), "count"),
        "exec.bytes_read": (tr("bytes_read"), "bytes"),
        "exec.shuffle_write_bytes": (tr("shuffle_write_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (tr("shuffle_read_bytes"), "bytes"),
        "exec.spill_bytes": (tr("spill_bytes"), "bytes"),
        "exec.busy_frac": (tr("task_run_ms") / max(1e-9, wall * cores), "ratio"),
        "exec.single_task_stage_ms": (tr("single_task_stage_ms"), "ms"),
        "jvm.jit_ms": (per_pass("jit_ms"), "ms"),
        "jvm.codegen_compiles": (per_pass("codegen_compiles"), "count"),
        "jvm.gc_ms": (per_pass("gc_ms"), "ms"),
        "jvm.gc_count": (per_pass("gc_count"), "count"),
        "cold.sources.artifact_builds": (
            sum(len(e["artifacts"]) for e in execs if e["pass"] in cold) / len(cold), "count"),
        "cold.sources.artifact_build_ms": (
            sum(sum(e["artifacts"].values()) for e in execs if e["pass"] in cold) / len(cold),
            "ms"),
        "cold.sources.artifact_bytes_written": (tr("bytes_written", cold), "bytes"),
        "cold.operators.build_ms": (ex("build_ms", cold), "ms"),
        "cold.scheduler.outside_jobs_ms": (tr("outside_jobs_ms", cold), "ms"),
        "cold.exec.task_run_ms": (tr("task_run_ms", cold), "ms"),
        "cold.jvm.jit_ms": (per_pass("jit_ms", cold), "ms"),
        "cold.jvm.codegen_compiles": (per_pass("codegen_compiles", cold), "count"),
        "trace.query_wall_ms": (wall, "ms"),
        "trace.unattributed_ms": (tr("unattributed_ms"), "ms"),
        "trace.max_unattributed_share": (max(shares, default=0.0), "ratio"),
        "trace.overhead_frac": ((t_med - u_med) / u_med if u_med else 0.0, "ratio"),
    }
    return m


def write_spans(res, path):
    """query -> build/analyze/optimize/physical/action spans (ids derived
    from the execution index) ahead of the job/stage spans the harness
    recorded; all in ms."""
    with open(path, "w") as out:
        for i, e in enumerate(res["execs"], 1):
            q = f"q{i}"
            out.write(json.dumps({"span": "query", "id": q, "parent": None,
                                  "name": e["name"], "pass": e["pass"],
                                  "ms": e["wall_ms"], "error": e["error"]}) + "\n")
            for f in ("build", "analyze", "optimize", "physical", "action"):
                out.write(json.dumps({"span": f, "id": f"{q}.{f}", "parent": q,
                                      "ms": e[f"{f}_ms"]}) + "\n")
        harness_spans = os.path.join(os.path.dirname(path), "spans.jsonl")
        if os.path.exists(harness_spans):
            for line in open(harness_spans):
                if line.strip():
                    s = json.loads(line)
                    s["parent"] = f"q{s['exec']}.action" if s["span"] == "job" else None
                    out.write(json.dumps(s) + "\n")


def record_expected():
    """Writes expected.json: the digest of each output of the queries
    without oracle SQL, from one cold pass over the sf0.1 corpus. Run it
    only to define the benchmark; later runs are checked against it."""
    build()
    cores = len(os.sched_getaffinity(0))
    data, _ = corpus(0.1)
    out = os.path.join(WORK, "expected")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    deadline = time.monotonic() + 3600
    harness(["inventory", os.path.join(out, "inventory.json")], deadline, session=False)
    names = sorted(n for n, sql in json.load(open(os.path.join(out, "inventory.json"))).items()
                   if not sql)
    with open(os.path.join(out, "names.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    harness(["run", str(cores), data, f.name, "1", "0", "0", out], deadline)
    digests = {}
    for e in json.load(open(os.path.join(out, "result.json")))["execs"]:
        if e["error"]:
            raise BenchError(f"{e['name']} failed: {e['error']}")
        digests[e["name"]] = output_digest(os.path.join(out, "rows", e["name"], e["output"]),
                                           ordered=False)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"sf0.1": digests}, f, indent=1, sort_keys=True)
        f.write("\n")


# ---- main -----------------------------------------------------------------------

def run(args):
    deadline = time.monotonic() + DEADLINE_S
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec_all = json.load(f)
    if args.workload not in spec_all["workloads"]:
        raise BenchError(f"unknown workload {args.workload}")
    spec = spec_all["workloads"][args.workload]
    expected = json.load(open(os.path.join(HERE, "expected.json")))
    cores = len(os.sched_getaffinity(0))
    start = machine_sample()
    ticks0 = cpu_ticks()
    build_fp = build()
    deadline = max(deadline, time.monotonic() + 150)  # a build does not eat the run
    t0 = time.perf_counter()
    if "factor" in spec:
        data, corpus_id, gen = blowup(spec, build_fp, cores, args.seed, deadline)
        digests = {}
    else:
        data, key = corpus(spec["scale"])
        corpus_id, gen = f"sf{spec['scale']}-{key}", {}
        digests = expected.get(f"sf{spec['scale']}", {})
    gen["inputs_s"] = time.perf_counter() - t0

    out = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    names_file = os.path.join(out, "names.txt")
    with open(names_file, "w") as f:
        f.write("\n".join(spec["queries"]) + "\n")
    # Each of the JVMS JVMs sets up, runs a cold pass, a warm-up pass and
    # its share of the timed window in passes of about PASS_S: a fixed
    # count, so every run does the same work. Pooling JVMs averages out
    # how one JVM's JIT happened to go.
    warm = 1 + max(1, round(args.seconds / JVMS / PASS_S))
    setup, results = [], []
    for j in range(JVMS):
        sub = os.path.join(out, f"jvm{j}")
        parity = args.trace * (1 + j % 2)
        setup.append(harness(["run", str(cores), data, names_file, str(args.seed + j),
                              str(warm), str(parity), sub], deadline))
        results.append(json.load(open(os.path.join(sub, "result.json"))))
    res = merge(results)
    end = machine_sample()
    ticks1 = cpu_ticks()

    # every execution counts: one that threw, or whose output is wrong
    failed = sum(1 for e in res["execs"] if e["error"])
    for j in range(JVMS):
        execs = [e for e in res["execs"] if e["pass"] // 100 == j]
        bad = check(execs, res["oracle"], os.path.join(out, f"jvm{j}", "rows"),
                    data, corpus_id, digests)
        for (n, o), why in sorted(bad.items()):
            log(f"WRONG {n} (jvm{j}, output {o}): {why}")
        failed += sum(1 for e in execs if (e["name"], e["output"]) in bad)
    attempted = len(res["execs"])
    machine = {
        "seed": args.seed, "workload": args.workload, "nproc": cores,
        "start": start, "end": end,
        "band_changed": abs(start["cpu_mhz_max"] - end["cpu_mhz_max"]) > 0.05 * max(1.0, start["cpu_mhz_max"])
        or abs(start["cpu_mhz_min"] - end["cpu_mhz_min"]) > 0.05 * max(1.0, start["cpu_mhz_min"]),
        "steal_frac": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        "heap_max_mb": res["heap_max_mb"], "code_cache_mb": res["code_cache_mb"],
        "setup_samples_s": setup, "failed_frac": failed / attempted,
        "jvms": JVMS, "warm_passes_per_jvm": warm,
        "timed_passes": [p["pass"] for p in res["passes"] if p["timed"]],
        "timed_samples": sum(1 for e in res["execs"] if e["pass"] in
                             {p["pass"] for p in res["passes"] if p["timed"]}),
        **gen,
    }
    if args.trace:
        metrics = per_layer(res, cores)
        for j in range(JVMS):
            write_spans(results[j], os.path.join(out, f"jvm{j}", "trace.jsonl"))
    else:
        metrics = end_to_end(setup, res)
    with open(os.path.join(out, "machine.json"), "w") as f:
        json.dump(machine, f, indent=1)
    print(json.dumps({"machine": machine}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that a slow projected column is timed")
    ap.add_argument("--record-expected", action="store_true",
                    help="rewrite expected.json from this commit's outputs")
    args = ap.parse_args()
    # SIGTERM unwinds like an error, so the running JVM is killed and reaped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.selftest:
            build()
            harness(["selftest", str(len(os.sched_getaffinity(0)))],
                    time.monotonic() + DEADLINE_S)
            return 0
        if args.record_expected:
            record_expected()
            return 0
        if not args.workload:
            ap.error("--workload is required")
        return run(args)
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
