#!/usr/bin/env python3
"""Repository benchmark: two workloads of inventory keys, run in one
Spark process on local[nproc] as a closed loop with a single client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from
source into .bench_build/ and generates the input tables; later runs
reuse both. A run warms up at the workload's own scale, times passes
over the workload's keys for --seconds seconds (at least MIN_PASSES),
checks every output, and prints one JSON result as its last line. A
key or commit that throws or returns a wrong output is counted as
failed, never timed, and makes the command exit 1.

With --trace 1 the harness also records Spark listener events on every
other pass and reports per-layer sums, span self times and the tracing
overhead (traced minus untraced pass wall, same process); the spans are
written to .bench_build/traces/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
RUN = os.path.join(BUILD, "run")
# Some builders write fixtures under a hard-coded absolute directory
# ending in /target/; the benchmark compiles a copy of the sources in
# which every such root points inside the run directory, so a run never
# writes outside its checkout.
FIXTURE_ROOT = re.compile(r'(?<=")/[A-Za-z0-9_.-][A-Za-z0-9_./-]*?/target/')

WORKLOADS = {
    # the paper's PDF -> chunk -> annotate -> dedup -> retrieval path:
    # the most executor time per pass; a change to the job floor or to
    # commits should not move it
    "qa_pipeline": dict(keys="""q_pdf_scan q_pipeline_qa q_text_chunk
        q_pii_redact q_dedup_minhash q_topk_knn q_knn_join""".split()),
    # driver-bound work: a BSP graph loop, whose jobs start inside the
    # builder call, beside the table format's pruned reads and a series
    # of small MERGE upserts that crosses a manifest checkpoint
    "driver_bound": dict(keys="""q_sssp q_scan_docstore q_docstore_prune_bloom
        q_docstore_partition""".split(), merges=7),
}
END_TO_END_UNITS = dict(setup_s="s", pass_s="s", heap_peak_mb="MB")
PER_LAYER_UNITS = dict(
    build_s="s", build_jobs="count", sink_s="s", jobs="count", stages="count",
    tasks="count", driver_idle_s="s", analysis_s="s", optimization_s="s",
    planning_s="s", task_s="s", task_cpu_s="s", gc_s="s", shuffle_read_mb="MB",
    shuffle_write_mb="MB", spill_mb="MB", commit_s="s", commit_p50_s="s",
    commit_tail_s="s", commit_tail_pct="percentile", commit_samples="count",
    commit_files_written="count", manifest_bytes="bytes", blocks_read="count",
    blocks_skipped="count", files_bloom_skipped="count",
    files_partition_skipped="count", block_skip_ratio="ratio",
    block_skip_base="count", persisted_rdds_left="count",
    self_pass_s="s", self_key_s="s", self_build_s="s", self_sink_s="s",
    self_plan_s="s", self_job_s="s", self_stage_s="s", self_commit_s="s",
    self_series_init_s="s", traced_pass_s="s", untraced_pass_s="s",
    trace_overhead_s="s")
MIN_PASSES = 3
WARMUPS = 2
# a run of --seconds 10 thus ends within 180 s, with time for the checks
HARNESS_SLACK_S = 150
SERIES_ROWS = (6, 2)  # per merge: existing rows updated, new rows inserted

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
    "-XX:MaxMetaspaceSize=1g",
    "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- build
def source_files():
    for base in ("src/main/scala", "src/main/resources", "perfbench/jvm"):
        for d, _, fs in sorted(os.walk(os.path.join(ROOT, base))):
            for f in sorted(fs):
                yield os.path.relpath(os.path.join(d, f), ROOT)


def spark_jars():
    """Spark's jars: the directory build.sbt compiles the program against
    (its unmanagedBase), or $SPARK_HOME/jars when SPARK_HOME is set."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("[perfbench] build.sbt names no unmanagedBase; set SPARK_HOME")
    return m.group(1)


def build():
    """Compile the program and the harness with the Scala compiler that
    ships in Spark's jars. The classes are reused while no source
    changed."""
    h = hashlib.sha256(spark_jars().encode())
    files = list(source_files())
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    src, classes = os.path.join(BUILD, "src"), os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "STAMP")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    log("building the program from source")
    fixtures = os.path.join(RUN, "fixtures") + "/"
    if any(c in fixtures for c in '"\\$'):
        raise SystemExit(f"checkout path unusable in a string literal: {fixtures}")
    for d in (src, classes):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    os.makedirs(classes)
    scala = []
    for f in files:
        path = os.path.join(ROOT, f)
        if f.startswith("src/main/resources/"):
            dst = os.path.join(classes, os.path.relpath(f, "src/main/resources"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(path, dst)
        elif f.endswith(".scala"):
            dst = os.path.join(src, f)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            with open(path, encoding="utf-8") as fh:
                text = FIXTURE_ROOT.sub(fixtures, fh.read())
            with open(dst, "w", encoding="utf-8") as fh:
                fh.write(text)
            scala.append(dst)
    argfile = os.path.join(BUILD, "scalac-args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala))
    cp = os.path.join(spark_jars(), "*")
    rc = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                         "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                         "-d", classes, "-classpath", cp, "@" + argfile],
                        stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"[perfbench] build failed (scalac exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def data_dir():
    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(BUILD, f"data-{tag}")
    if not os.path.isdir(d):
        log("generating input tables")
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        datagen.generate(d)
    return d


# ------------------------------------------------------------ the inputs
def commit_batches(seed, merges):
    """Seed-chosen MERGE batches: each updates existing doc_ids near a
    random position and inserts brand-new ones past the current max."""
    rng = random.Random(seed * 7919 + 1)
    n, (upd, new) = datagen.ROWS["documents"], SERIES_ROWS
    batches = []
    for i in range(merges):
        lo = rng.randrange(0, n - 64)
        ids = rng.sample(range(lo, lo + 64), upd) + [n + i * new + j for j in range(new)]
        batches.append([(d, rng.choice(datagen.LANGS), rng.randrange(10, 600))
                        for d in ids])
    return batches


def prepare_run(workload, seed, seconds, trace, data, plant_fail, warmups, min_passes):
    """Empty the run directory and write the harness plan into it."""
    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("tmp", "spark-local", "fixtures", "verify"):
        os.makedirs(os.path.join(RUN, d))
    keys = workload["keys"]
    lines = [f"data {data}", f"seconds {seconds}", f"min_passes {min_passes}",
             f"warmups {warmups}", f"trace {trace}",
             f"verify {os.path.join(RUN, 'verify')}"]
    if plant_fail:
        lines.append(f"plant_fail {plant_fail}")
    # warm-up passes run the keys in their listed order, so the JIT
    # profile the run starts from does not depend on the seed
    lines += ["order " + " ".join(keys)] * warmups
    for p in range(64):
        order = list(keys)
        random.Random(seed * 1000003 + p).shuffle(order)
        lines.append("order " + " ".join(order))
    batches = []
    if workload.get("merges"):
        lines.append(f"series {os.path.join(RUN, 'series')}")
        batches = commit_batches(seed, workload["merges"])
        lines += ["batch " + " ".join(f"{d}:{l}:{n}" for d, l, n in b) for b in batches]
    plan = os.path.join(RUN, "plan.txt")
    with open(plan, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return plan, batches


def launch(classes, plan, records, seconds):
    """Run the harness JVM in the run directory; True if it exited 0.
    The time limit leaves HARNESS_SLACK_S for JVM start, warm-up and the
    untimed passes beyond the --seconds of timed passes."""
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={RUN}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        f"-Dspark.local.dir={RUN}/spark-local",
        f"-Dspark.sql.warehouse.dir={RUN}/warehouse",
        "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
        "-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
        "org.apache.spark.perfbench.Harness", plan, records]
    proc = subprocess.Popen(cmd, cwd=RUN, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=seconds + HARNESS_SLACK_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("harness timed out")
        return False
    if rc != 0:
        log(f"harness exited with {rc}")
    return rc == 0


# ----------------------------------------------------------- correctness
def canonical_digest(con, path):
    """sha256 of a parquet output canonicalised exactly as
    tools/check_oracle.py does: columns sorted by name, cells
    stringified, rows sorted."""
    rel = con.execute(f"SELECT * FROM '{path}/*.parquet'")
    cols = [c[0] for c in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "<null>"
        if isinstance(v, float):
            return "NaN" if v != v else repr(v)
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    rows = sorted(tuple(cell(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha256(json.dumps([cols[i] for i in order]).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest(), len(rows)


def series_expected(con, data, batches):
    """Final (rows, sum(n_chars)) of the commit series, by DuckDB over
    the source parquet with the same upserts applied in order."""
    con.execute("CREATE OR REPLACE TEMP TABLE t AS SELECT doc_id, lang, n_chars "
                f"FROM '{data}/documents.parquet'")
    for b in batches:
        ids = ",".join(str(d) for d, _, _ in b)
        con.execute(f"DELETE FROM t WHERE doc_id IN ({ids})")
        con.executemany("INSERT INTO t VALUES (?, ?, ?)", b)
    return tuple(con.execute("SELECT count(*), sum(n_chars) FROM t").fetchone())


def check_outputs(recs, w, data, batches):
    import duckdb
    con = duckdb.connect()
    with open(os.path.join(HERE, "expected_digests.json")) as fh:
        expected = json.load(fh)
    # the first warm-up pass and the pass after the timed ones wrote
    # each key's output under verify/<pass>/<key>
    bad_keys = []
    verify = os.path.join(RUN, "verify")
    for p in sorted(os.listdir(verify), key=int):
        for k in WORKLOADS[w]["keys"]:
            path = os.path.join(verify, p, k)
            if not os.path.isdir(path):
                continue  # the key threw; counted as a failed run already
            got, n = canonical_digest(con, path)
            if expected.get(k) != got:
                log(f"pass {p} {k}: output digest {got[:12]} ({n} rows) != "
                    f"expected {str(expected.get(k))[:12]}")
                bad_keys.append((p, k))
    bad_series = []
    if batches:
        want = series_expected(con, data, batches)
        for r in recs:
            if r["rec"] == "series_check":
                if not r.get("ok", True) or (r["rows"], r["sum_chars"]) != want:
                    log(f"pass {r['pass']}: commit series ended at "
                        f"{r.get('rows')}/{r.get('sum_chars')}, expected {want}")
                    bad_series.append(r["pass"])
    return bad_keys, bad_series


# ------------------------------------------------------------------ main
def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no program sources under {ROOT}/src/main/scala; run from a checkout")
        return 2
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        # one run per checkout at a time: runs share the build and the
        # fixture directory under .bench_build/run
        fcntl.flock(lock, fcntl.LOCK_EX)
        return run(a)


def run(a):
    data = data_dir()
    classes = build()
    # a traced run alternates traced and untraced passes; one more
    # warm-up and one more pass give each side two steady passes
    plan, batches = prepare_run(WORKLOADS[a.workload], a.seed, a.seconds, a.trace,
                                data, os.environ.get("PERFBENCH_PLANT_FAIL"),
                                warmups=WARMUPS + a.trace,
                                min_passes=MIN_PASSES + a.trace)
    records = os.path.join(RUN, "records.jsonl")
    launch_us = time.time() * 1e6
    if not launch(classes, plan, records, a.seconds):
        return 1
    recs = [json.loads(l) for l in open(records)]
    for r in recs:
        if r["rec"] in stats.RUNS and not r.get("ok", True):
            log(f"pass {r['pass']} {r.get('key', r['rec'])}: {r['error']}")
    bad_keys, bad_series = check_outputs(recs, a.workload, data, batches)
    attempted, failed = stats.failures(recs, bad_keys, bad_series)
    e2e = stats.end_to_end(recs, launch_us)
    walls, commits = e2e.pop("pass_walls"), stats.commit_walls(recs)
    summary = dict(workload=a.workload, seed=a.seed,
                   **{k: dict(value=v, unit=END_TO_END_UNITS[k]) for k, v in e2e.items()},
                   failed_share=dict(value=failed / max(attempted, 1), unit="ratio"))
    if walls:
        q1, med, q3 = stats.quartiles(walls)
        summary["pass_wall_s"] = dict(median=med, q1=q1, q3=q3, n=len(walls), unit="s")
    if commits:
        summary["commit_p50_s"] = dict(value=stats.median(commits), n=len(commits),
                                       unit="s")
        tail = stats.tail_percentile(commits)
        summary["commit_tail_s"] = (dict(percentile=tail[0], value=tail[1],
                                         n=len(commits), unit="s") if tail else None)
    print(json.dumps(summary))
    if a.trace:
        values, spans, layers = stats.layer_metrics(recs)
        units = PER_LAYER_UNITS
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json"),
                  "w") as fh:
            json.dump(dict(spans=spans, self_us=stats.self_times(spans),
                           passes=layers), fh)
    else:
        values, units = e2e, END_TO_END_UNITS
    metrics = {k: dict(value=values.get(k), unit=u) for k, u in units.items()}
    ok = failed == 0
    print(json.dumps(dict(correct=ok, attempted=attempted, failed=failed,
                          metrics=metrics)))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
