#!/usr/bin/env python3
"""Production-path benchmark of graft: graft.Main and the SparkEntry query block.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles src/main and
perfbench/scala with the Scala compiler shipped in Spark's jars (cached under
.bench_build/). Each run builds its inputs from the seed, runs the program as
separate JVMs, checks the outputs, and prints one JSON object as the last
line of stdout. With --trace 0 it reports the end-to-end metrics; with
--trace 1 it adds a traced run and reports the per-layer metrics. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import querydata  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = len(os.sched_getaffinity(0))
HEAP = "-Xmx2g"            # the same heap on every JVM of every run
CHILD_TIMEOUT_S = 150
SETUP_REPS = 3
RUN_ID = "bench"
STAGES = ["docs", "signatures", "bands", "cand_pairs", "verified_pairs",
          "cluster_assignments"]
# The query block: every SparkEntry query that a benchmark run can execute
# reaches one of these layers; see README.md for the ones left out and why.
QUERIES = ["q09_docs_winnow_neardup", "q17_docs_langid", "q20_sketch_hll_distinct",
           "q21_sketch_kll_quantiles", "q23_embeddings_ann_ivf", "q29_sketch_freq_purge"]
# Queries no benchmark run can execute; reported as skipped, never as passed.
SKIPPED = {
    "q26_sketch_ds_interop": "needs the reference repository's golden sketch files, not in a checkout",
    "q33_sketch_write_side_export": "needs the reference repository's golden sketch files, not in a checkout",
    "q12_transcripts_dedup_e2e": "writes a shared corpus under a fixed /tmp path, outside the checkout",
    "q24_dedup_resume": "writes its checkpoints under a fixed /tmp path, outside the checkout",
    "q28_streaming_docs": "writes its stream under a fixed /tmp path, outside the checkout",
    "q30_catalog_tableio": "reads the shared corpus it writes under a fixed /tmp path",
}
WORKLOADS = {
    "dedup_fresh": dict(kind="fresh", convs=6000, sample=300),
    "dedup_resume": dict(kind="resume", convs=6000, sample=300),
}
# Spark 4 on JDK 17 outside spark-submit (the same list as build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    # the unmanaged jar directory the sbt build compiles against
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BenchError("no Spark jars: set SPARK_HOME")


def compile_scala(jars, classpath, srcs, out):
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{c}-2.13.*.jar"))[0]
        for c in ("compiler", "library", "reflect"))
    os.makedirs(out)
    cmd = ["java", "-Xmx1536m", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Compile src/main and the benchmark's Scala once per source state."""
    main_srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main_srcs:
        raise BenchError("no src/main/scala here: run from the root of a graft checkout")
    bench_srcs = sorted(glob.glob(os.path.join(BENCH, "scala", "*.scala")))
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in main_srcs + bench_srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        jar_cp = os.path.join(jars, "*")
        compile_scala(jars, jar_cp, main_srcs, os.path.join(out, "main"))
        compile_scala(jars, os.pathsep.join([os.path.join(out, "main"), jar_cp]),
                      bench_srcs, os.path.join(out, "bench"))
        open(os.path.join(out, "done"), "w").close()
        log(f"compiled in {time.perf_counter() - t0:.1f} s")
    return os.pathsep.join([os.path.join(out, "main"), os.path.join(out, "bench"),
                            os.path.join(jars, "*")])


# ---- child processes --------------------------------------------------------

class Child:
    """One JVM: wall time from launch to exit, and its own CPU and peak RSS."""

    def __init__(self, wall_s, cpu_s, rss_mb, out):
        self.wall_s, self.cpu_s, self.rss_mb, self.out = wall_s, cpu_s, rss_mb, out


def run_jvm(classpath, main, args, workdir, cores=CORES, pin=False, traced=False):
    """Run `main` in a fresh JVM with a fresh workdir-local temp and Spark
    local dir, every SPARK_GRAFT_* setting unset except the master."""
    tmp = os.path.join(workdir, "jvm-tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_MASTER"] = f"local[{cores}]"
    env["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    jvm = ["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}"] + ADD_OPENS
    if pin:
        jvm = ["taskset", "-c", str(min(os.sched_getaffinity(0))), "java",
               f"-XX:ActiveProcessorCount={cores}"] + jvm[1:]
    if traced:
        jvm.append("-Dspark.extraListeners=perfbench.StageListener")
    argv = jvm + ["-cp", classpath, main] + [str(a) for a in args]
    log_path = os.path.join(workdir, f"{main.rsplit('.', 1)[-1]}.log")
    os.sync()  # no write-back of earlier JVMs' files during this one
    with open(log_path, "w") as log_f:
        t0 = time.perf_counter()
        p = subprocess.Popen(argv, cwd=workdir, env=env, stdout=log_f,
                             stderr=subprocess.STDOUT, start_new_session=True)
        timer = threading.Timer(CHILD_TIMEOUT_S, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        def stop(*_):  # a benchmark stopped from outside stops its JVM too
            os.killpg(p.pid, signal.SIGKILL)
            os.waitpid(p.pid, 0)
            sys.exit(143)
        signal.signal(signal.SIGTERM, stop)
        try:
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
        wall = time.perf_counter() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
    out = open(log_path).read()
    log(f"{main} {' '.join(str(a) for a in args[:1])}: {wall:.1f} s, exit {p.returncode}")
    if p.returncode != 0:
        raise BenchError(f"{main} exited with {p.returncode}:\n{out[-3000:]}")
    return Child(wall, ru.ru_utime + ru.ru_stime, ru.ru_maxrss / 1024.0, out)


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def read_parquet_rows(path, cols):
    import pyarrow.parquet as pq
    return pq.read_table(path, columns=cols).to_pylist()


# ---- dedup workloads ----------------------------------------------------------

def dedup_setup(cp, spec, seed, reps, rdir):
    d = os.path.join(rdir, "setup")
    os.makedirs(d)
    t0 = time.perf_counter()
    run_jvm(cp, "perfbench.Setup",
            [spec["kind"], d, spec["convs"], seed, reps, spec["sample"]], d)
    wall = time.perf_counter() - t0
    s = json.load(open(os.path.join(d, "setup.json")))
    truth = json.load(open(os.path.join(d, "truth.json")))
    # set-up time: the median input build plus the one-time oracle/snapshot
    # work; the JVM start and the JIT-cold first build only reach the log
    setup_s = statistics.median(s["build_s"]) + s["once_s"]
    log(f"setup {wall:.1f} s wall, builds {s['build_s']}, once {s['once_s']:.2f} s")
    return d, truth, setup_s


def assignments(ckpt):
    rows = read_parquet_rows(os.path.join(ckpt, RUN_ID, "cluster_assignments"),
                             ["conv_id", "cluster_id"])
    return {r["conv_id"]: r["cluster_id"] for r in rows}


def recall(truth, asg):
    pairs = truth["pairs"]
    if not pairs:
        raise BenchError("the oracle sample holds no dup pairs: recall is undefined")
    missing = [p for p in pairs if p[0] not in asg or p[1] not in asg]
    if missing:
        raise BenchError(f"{len(missing)} sampled conversations have no assignment")
    hit = sum(1 for a, b in pairs if asg[a] == asg[b])
    return hit / len(pairs)


def dedup_iteration(cp, kind, setup_dir, it_dir, cores=CORES, pin=False, traced=False):
    """One submitted job: a fresh run, or a resume of the crashed snapshot.
    Returns the child and its checked output."""
    ckpt = os.path.join(it_dir, "ckpt")
    if kind == "resume":
        shutil.copytree(os.path.join(setup_dir, "snap"), ckpt)
    main = "perfbench.TracedMain" if traced else "graft.Main"
    args = ["--input", os.path.join(setup_dir, "corpus"), "--workdir", ckpt,
            "--run-id", RUN_ID]
    if traced:
        args += ["--trace-out", os.path.join(it_dir, "trace.json")]
    child = run_jvm(cp, main, args, it_dir, cores=cores, pin=pin, traced=traced)
    asg = assignments(ckpt)
    if kind == "resume":
        ref = assignments(os.path.join(setup_dir, "ref"))
        if asg != ref:
            diff = sum(1 for k in set(ref) | set(asg) if ref.get(k) != asg.get(k))
            raise BenchError(f"resumed cluster_assignments differ from the "
                             f"uninterrupted run on {diff} conversations")
        if not traced and "stages computed: verified_pairs, cluster_assignments" not in child.out:
            raise BenchError("the resumed run did not resume at verified_pairs")
    child.asg = asg
    child.ckpt_bytes = du(ckpt)
    return child


def job(cp, kind, setup_dir, truth, it_dir, **kw):
    """One checked job (see dedup_iteration) whose recall must reach 0.99."""
    os.makedirs(it_dir)
    child = dedup_iteration(cp, kind, setup_dir, it_dir, **kw)
    child.recall = recall(truth, child.asg)
    if child.recall < 0.99:
        raise BenchError(f"dup_pair_recall {child.recall} < 0.99")
    return child


def run_dedup(cp, spec, seed, seconds, rdir):
    """--trace 0: the end-to-end metrics, medians over the jobs that fit in
    `seconds` (at least one). A failed job or a wrong output ends the run
    with no result, so a run that reports has failed none."""
    setup_dir, truth, setup_s = dedup_setup(cp, spec, seed, SETUP_REPS, rdir)
    children = []
    deadline = time.perf_counter() + seconds
    while not children or time.perf_counter() < deadline:
        it_dir = os.path.join(rdir, f"it{len(children)}")
        children.append(job(cp, spec["kind"], setup_dir, truth, it_dir))
        shutil.rmtree(it_dir)
    med = statistics.median
    wall = med([c.wall_s for c in children])
    n = len(children)
    e2e = {
        "wall_s": (wall, "s"),
        "turns_per_s": (truth["turns"] / wall, "1/s"),
        "cpu_core_s": (med([c.cpu_s for c in children]), "s"),
        "ckpt_bytes_ratio": (med([c.ckpt_bytes for c in children]) / truth["input_bytes"], "ratio"),
        "dup_pair_recall": (min(c.recall for c in children), "ratio"),
        "ops_ok_ratio": (n / n, "ratio"),
        "setup_s": (setup_s, "s"),
    }
    info = {"turns": truth["turns"], "input_bytes": truth["input_bytes"],
            "truth_pairs": len(truth["pairs"]), "walls_s": [c.wall_s for c in children]}
    return e2e, n, info


def trace_dedup(cp, spec, seed, seconds, rdir):
    """--trace 1: per-layer metrics of one traced job, plus the Spark-free
    kernel bench and the workload's extra leg: the 1-core job for
    dedup_fresh, the untraced base of the tracing overhead and the query
    block for dedup_resume. (dedup_fresh has no time for a second n-core JVM
    next to its 1-core leg, so its n-core base is the traced job.)"""
    setup_dir, truth, _ = dedup_setup(cp, spec, seed, 1, rdir)
    kind = spec["kind"]
    info = {"turns": truth["turns"], "input_bytes": truth["input_bytes"],
            "truth_pairs": len(truth["pairs"])}
    base = job(cp, kind, setup_dir, truth, os.path.join(rdir, "base")) \
        if kind == "resume" else None
    it_dir = os.path.join(rdir, "traced")
    child = job(cp, kind, setup_dir, truth, it_dir, traced=True)
    tr = json.load(open(os.path.join(it_dir, "trace.json")))
    info["trace"] = {"spans": tr["spans"], "tags": tr["tags"]}
    spans = {s["name"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in tr["spans"]}
    tags = tr["tags"]
    ckpt = os.path.join(it_dir, "ckpt")
    rows = {}
    for r in read_parquet_rows(os.path.join(ckpt, RUN_ID, "metrics"), ["stage", "rows_out"]):
        rows[r["stage"]] = rows.get(r["stage"], 0) + r["rows_out"]
    m = {}
    for st in STAGES:
        t = [tags[k] for k in (st, f"{st}.lineage") if k in tags]
        m[f"stage.{st}.wall_s"] = spans.get(f"stage.{st}", 0.0)
        m[f"stage.{st}.lineage_s"] = spans.get(f"stage.{st}.lineage", 0.0)
        m[f"stage.{st}.task_cpu_s"] = sum(x["task_cpu_s"] for x in t)
        m[f"stage.{st}.gc_s"] = sum(x["gc_s"] for x in t)
        m[f"stage.{st}.shuffle_write_bytes"] = sum(x["shuffle_write_bytes"] for x in t)
        m[f"stage.{st}.spill_bytes"] = sum(x["spill_bytes"] for x in t)
        m[f"stage.{st}.fetch_wait_s"] = sum(x["fetch_wait_s"] for x in t)
        m[f"stage.{st}.task_skew"] = tags[st]["task_skew"] if st in tags else 0.0
        m[f"stage.{st}.jobs"] = sum(x["jobs"] for x in t)
        m[f"stage.{st}.rows_out"] = rows.get(st, 0)
        m[f"stage.{st}.ckpt_bytes"] = du(os.path.join(ckpt, RUN_ID, st))
    m["verify.pass_ratio"] = rows["verified_pairs"] / max(rows["cand_pairs"], 1)
    m["cand.pairs_per_doc"] = rows["cand_pairs"] / max(rows["docs"], 1)
    m["cc.edges"] = rows["verified_pairs"]
    m["resume.plan_s"] = spans.get("resume.plan", 0.0)
    m["resume.ckpt_read_bytes"] = sum(
        v["input_bytes"] for k, v in tags.items() if k not in ("docs", "plan"))
    m["jvm.peak_rss_mb"] = (base or child).rss_mb
    m["jvm.gc_s"] = tr["jvm_gc_s"]
    m["jvm.startup_s"] = tr["jvm_startup_s"]
    m["trace.wall_s"] = child.wall_s
    m.update(kernels(cp, os.path.join(setup_dir, "sample.bin"), rdir))
    attempted = 2  # jobs: the traced one, and the base or the 1-core leg
    if base:
        m["trace.overhead_s"] = child.wall_s - base.wall_s
        info["trace_base_wall_s"] = base.wall_s
        m.update(query_block(cp, seed, seconds, rdir))
        attempted += len(QUERIES)
        info.update(queries=QUERIES, queries_skipped=SKIPPED)
    else:
        # the N leg of the N -> 4N pair: the same job pinned to one core
        one = job(cp, kind, setup_dir, truth, os.path.join(rdir, "one_core"), cores=1, pin=True)
        m["scaling.turns_per_s_ncore"] = truth["turns"] / child.wall_s
        m["scaling.turns_per_s_1core"] = truth["turns"] / one.wall_s
        m["scaling.eff_1_n"] = m["scaling.turns_per_s_ncore"] / (CORES * m["scaling.turns_per_s_1core"])
    return m, attempted, info


def kernels(cp, sample, rdir):
    d = os.path.join(rdir, "kernels")
    os.makedirs(d)
    out = os.path.join(d, "kernels.json")
    run_jvm(cp, "perfbench.Kernels", [sample, out], d)
    return json.load(open(out))


# ---- the query block ----------------------------------------------------------

def query_block(cp, seed, seconds, rdir):
    """graft.SparkEntry's queries on seeded tables, traced, each result
    checked against its oracle SQL in DuckDB. Returns per-layer metrics."""
    data = os.path.join(rdir, "query-data")
    os.makedirs(data)
    querydata.write_tables(data, seed)
    d = os.path.join(rdir, "queries")
    os.makedirs(d)
    run_jvm(cp, "perfbench.Queries", [data, d, CORES, seconds] + QUERIES, d, traced=True)
    passes = json.load(open(os.path.join(d, "passes.json")))
    failed = [q for p in passes for q, r in p.items() if not r["ok"]]
    if failed:
        raise BenchError("queries failed: " + ", ".join(failed))
    mismatches, pair_recall = oracle_compare(data, d)
    if mismatches:
        raise BenchError("query outputs differ from the DuckDB oracle: " + ", ".join(mismatches))
    if pair_recall < 0.99:
        raise BenchError(f"q09 near-dup pair recall {pair_recall} < 0.99")
    tags = json.load(open(os.path.join(d, "trace.json")))["tags"]
    m = {}
    for q in QUERIES:
        m[f"query.{q}.wall_s"] = statistics.median(p[q]["wall_s"] for p in passes)
        m[f"query.{q}.jobs"] = tags.get(f"query.{q}", {}).get("jobs", 0) / len(passes)
    m["query.block_wall_s"] = sum(m[f"query.{q}.wall_s"] for q in QUERIES)
    return m


def oracle_compare(data, out):
    """Compare each query's last timed result with its oracle SQL in DuckDB
    (the comparison graft.Verify's outputs get). Returns the mismatching
    queries and q09's near-dup pair recall against its exact oracle."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad, pair_recall = [], None
    for name in QUERIES:
        files = glob.glob(os.path.join(out, "results", name, "*.parquet"))
        s = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        d = con.execute(sqls[name]).fetchdf()
        cols = sorted(d.columns)
        try:
            s = s[cols].sort_values(cols).reset_index(drop=True)
            d = d[cols].sort_values(cols).reset_index(drop=True)
            pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=True)
        except (AssertionError, KeyError) as e:
            log(f"{name} mismatch: {str(e)[:300]}")
            bad.append(name)
        if name == "q09_docs_winnow_neardup":
            truth = set(zip(d["a"].astype(str), d["b"].astype(str)))
            found = set(zip(s["a"].astype(str), s["b"].astype(str))) if len(s) else set()
            if not truth:
                raise BenchError("q09's oracle found no near-dup pairs: recall is undefined")
            pair_recall = len(truth & found) / len(truth)
    return bad, pair_recall


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    rdir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(rdir, ignore_errors=True)
    os.makedirs(rdir)
    try:
        cp = build()
        if a.trace:
            layers, attempted, info = trace_dedup(cp, WORKLOADS[a.workload], a.seed,
                                                  a.seconds, rdir)
        else:
            e2e, attempted, info = run_dedup(cp, WORKLOADS[a.workload], a.seed,
                                             a.seconds, rdir)
    except BenchError as e:
        # a wrong output or a failed job: no result line, non-zero exit
        log(f"FAILED: {e}")
        return 1
    finally:
        shutil.rmtree(rdir, ignore_errors=True)
    # what the program saw, then the result as the last line
    info.update(workload=a.workload, seed=a.seed, master=f"local[{CORES}]", heap=HEAP,
                one_core_leg="taskset to one CPU + -XX:ActiveProcessorCount=1",
                env="SPARK_GRAFT_* unset except SPARK_GRAFT_MASTER; fresh SPARK_LOCAL_DIRS, "
                    "java.io.tmpdir and workdir per JVM")
    print(json.dumps({"context": info}))
    if a.trace:
        unknown = set(layers) - {m["name"] for m in spec["per_layer"]}
        assert not unknown, unknown
        # a layer this workload does not reach did no work there: 0
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
