#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the harness from
source on first use (perfbench/build.sbt, on top of the repository's own
build), checks the sf0.1 fixture in perfbench/fixture/, generates the
seed's inputs under .perfbench/, runs the workload in one JVM
(perfbench.Main), checks its outputs, prints a report table and, as the
last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Workloads: catalog_browse, curation_batch, warehouse_ingest (see
perfbench/DESIGN.md). --record-fingerprints rewrites
perfbench/fingerprints.json from this run instead of checking against it.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
# the engine's sf0.1 test fixture, copied byte for byte, and the row counts
# it must have
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
FIXTURE_ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000, "documents": 5_000,
    "embeddings": 2_000,
}
# Graft.localScratchDir's default for shuffle scratch (tmpfs), where a
# killed JVM leaves its Spark dirs behind
SCRATCH = "/dev/shm/graft-spark-local"
RUN_LIMIT_S = 170

WORKLOADS = ("catalog_browse", "curation_batch", "warehouse_ingest")

# warehouse_ingest sizing: epochs, comics per batch, documents per epoch
INGEST_EPOCHS = 2
INGEST_COMICS = 1500
INGEST_DOCS = 500
INGEST_EVAL = 200

E2E = ["setup_s", "latency_p50_ms", "ops_per_s"]
PER_LAYER = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.gc_s", "spark.shuffle_read_mib", "spark.shuffle_write_mib", "spark.spill_mib",
    "spark.output_mib", "spark.driver_gap_s", "spark.core_busy_frac", "spark.failed_tasks",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "core.session_build_s", "core.pinned_rdds", "core.pinned_mib", "jvm.peak_rss_mib",
    "trace.overhead_frac",
]
UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "core.pinned_rdds": "count",
    "spark.core_busy_frac": "ratio", "trace.overhead_frac": "ratio",
    "browse_qps": "req/s", "curation_docs_per_s": "docs/s", "ingest_input_mib_per_s": "MiB/s",
    "wh_bytes_per_input_byte": "ratio", "wh.write_amp": "ratio",
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("ms", "ms"), ("s", "s"), ("mib", "MiB"), ("frac", "ratio")):
        if name.endswith("_" + suffix) or name.endswith("." + suffix):
            return unit
    return "count"


# ---- build ------------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source tree; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources under src/main/scala/graft: run from the root of a graft checkout")
    stamp = os.path.join(STATE, "build", "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("hash") == digest:
            return cached["classpath"]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": classpath, "build_s": time.time() - t0}, f)
    return classpath


# ---- inputs -----------------------------------------------------------------

def fixture():
    """The sf0.1 fixture, its row counts verified before every run."""
    import pyarrow.parquet as pq
    for table, n in FIXTURE_ROWS.items():
        got = pq.ParquetFile(os.path.join(FIXTURE, table + ".parquet")).metadata.num_rows
        if got != n:
            fail(f"fixture table {table} has {got} rows, expected {n}", 3)
    return FIXTURE


def ingest_inputs(corpus, inputs, seed):
    """Seeded comics batches, document epochs and the held-out eval slice.
    Returns the counts a correct run must reproduce."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    os.makedirs(inputs)
    docs = pq.read_table(os.path.join(corpus, "documents.parquet"), columns=["doc_id", "text"])
    order = rng.permutation(docs.num_rows)
    manifest, expect = [], {"valid_lines": [], "docs_fed": 0}

    def docs_file(name, rows):
        path = os.path.join(inputs, name + ".parquet")
        pq.write_table(docs.take(pa.array(np.sort(rows))), path)
        return path

    cut = 0
    for kind in ("eval", "warm_docs"):
        n = INGEST_EVAL
        manifest.append((kind, 0, docs_file(kind, order[cut:cut + n])))
        cut += n
    for k in range(INGEST_EPOCHS):
        manifest.append(("docs", k, docs_file(f"docs_{k:03d}", order[cut:cut + INGEST_DOCS])))
        cut += INGEST_DOCS
        expect["docs_fed"] += INGEST_DOCS
    warm_seen = {}
    path = os.path.join(inputs, "warm_comics.json")
    gen.comics_batch(rng, path, 900, INGEST_COMICS // 4, warm_seen)
    manifest.append(("warm_comics", 0, path))
    seen, bad = {}, 0
    for k in range(INGEST_EPOCHS):
        path = os.path.join(inputs, f"comics_{k:03d}.json")
        b = gen.comics_batch(rng, path, k + 1, INGEST_COMICS, seen)
        manifest.append(("comics", k, path))
        expect["valid_lines"].append(b["valid_lines"])
        bad += b["bad_lines"]
    expect["tables"] = gen.warehouse_expect(seen, bad)
    with open(os.path.join(inputs, "manifest.tsv"), "w") as f:
        f.writelines(f"{kind}\t{k}\t{p}\n" for kind, k, p in manifest)
    return expect


# ---- run --------------------------------------------------------------------

def java(classpath, work, main_args):
    """Command and environment of one JVM run with its state under `work`."""
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # shuffle scratch stays the engine's own default (Graft.localScratchDir);
    # check_env fails a run whose effective setting differs from the first
    env.pop("SPARK_GRAFT_LOCAL_DIR", None)
    env.pop("SPARK_LOCAL_DIRS", None)
    env["GRAFT_ANN_ARTIFACT_DIR"] = os.path.join(work, "artifacts")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath] + main_args, env


def scratch_dirs():
    try:
        return set(os.listdir(SCRATCH))
    except OSError:
        return set()


def clear_stale_scratch():
    """Remove the Spark scratch dirs a killed benchmark JVM left behind: the
    ones that appeared while a run was in progress (recorded in
    .perfbench/scratch-before.json) and that Spark's shutdown hook, which
    removes them on every normal exit, never reached."""
    before_path = os.path.join(STATE, "scratch-before.json")
    if os.path.exists(before_path):
        with open(before_path) as f:
            before = set(json.load(f))
        for name in scratch_dirs() - before:
            shutil.rmtree(os.path.join(SCRATCH, name), ignore_errors=True)
        os.remove(before_path)


def launch(classpath, args, work, out, limit_s):
    clear_stale_scratch()
    with open(os.path.join(STATE, "scratch-before.json"), "w") as f:
        json.dump(sorted(scratch_dirs()), f)
    cmd, env = java(classpath, work, [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", args.corpus, "--work", work, "--out", out])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=limit_s)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            clear_stale_scratch()
            raise
    # the JVM ended by itself, so its shutdown hook removed its scratch dirs
    os.remove(os.path.join(STATE, "scratch-before.json"))
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"{args.workload} run failed (JVM exit {code})", 4)
    with open(out) as f:
        return json.load(f)


def check(args, res, expect):
    """Output checks; returns (failure messages, failed op count)."""
    problems = list(res["check_failures"])
    bad_kinds = set()
    if args.workload in ("catalog_browse", "curation_batch"):
        fp_path = os.path.join(HERE, "fingerprints.json")
        committed = {}
        if os.path.exists(fp_path):
            with open(fp_path) as f:
                committed = json.load(f)
        if args.record_fingerprints:
            committed.update(res["fingerprints"])
            with open(fp_path, "w") as f:
                json.dump(dict(sorted(committed.items())), f, indent=1)
                f.write("\n")
        for q, fp in res["fingerprints"].items():
            if committed.get(q) != fp:
                problems.append(f"{q}: fingerprint {fp} != committed {committed.get(q)}")
                bad_kinds.add(q)
    else:
        for t, n in expect["tables"].items():
            if res["tables"].get(t) != n:
                problems.append(f"table {t}: {res['tables'].get(t)} rows, expected {n}")
        for t in ("issue", "creator", "issue_creator"):
            if res["tables"].get(f"{t}.live_versions") != 1:
                problems.append(f"table {t}: {res['tables'].get(f'{t}.live_versions')} live data_v dirs")
        runs = res["etl_runs"]
        if [r[1] for r in runs] != expect["valid_lines"] or any(r[0] != "SUCCESS" for r in runs):
            problems.append(f"etl runs {runs} != one SUCCESS per batch reading {expect['valid_lines']}")
        if res["tables"].get("etl_run.success") != len(expect["valid_lines"]):
            problems.append(f"etl_run table holds {res['tables'].get('etl_run.success')} SUCCESS rows")
        if res["tables"].get("docs_fed") != expect["docs_fed"]:
            problems.append(f"fed {res['tables'].get('docs_fed')} docs, expected {expect['docs_fed']}")
        if problems:
            bad_kinds = {"comics", "corpus"}
    failed = sum(1 for kind, _, ok, _ in res["ops"] if not ok or kind in bad_kinds)
    return problems, failed


def check_env(workload, env):
    """The session settings that decide where shuffle goes must match the
    first run made in this checkout."""
    path = os.path.join(STATE, f"env-{workload}.json")
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump(env, f, indent=1, sort_keys=True)
        return []
    with open(path) as f:
        first = json.load(f)
    return [f"session setting {k}={env.get(k)!r} differs from the first run's {v!r}"
            for k, v in first.items() if env.get(k) != v]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops and waits for the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    started = time.time()
    args.corpus = fixture()
    # each run starts from an empty work dir: a half-written warehouse from
    # a killed run never leaks into the next
    work = os.path.join(STATE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    expect = None
    if args.workload == "warehouse_ingest":
        expect = ingest_inputs(args.corpus, os.path.join(work, "inputs"), args.seed)
    res = launch(classpath, args, work, os.path.join(work, "result.json"),
                 RUN_LIMIT_S - (time.time() - started))

    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    shutil.copy(os.path.join(work, "result.json"), os.path.join(
        STATE, "results", f"{args.workload}-{args.seed}-t{args.trace}.json"))
    problems, failed = check(args, res, expect)
    problems += check_env(args.workload, res["env"])
    attempted = res["attempted"]

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"ops {attempted}  failed {failed}")
    print("session  " + "  ".join(f"{k}={v}" for k, v in sorted(res["env"].items())))
    for p in problems:
        print(f"CHECK FAILED  {p}")
    rows = [(k, v["value"], v["unit"], v["n"]) for k, v in res["e2e"].items()]
    rows += [(k, v, unit_of(k), "") for k, v in res["info"].items()]
    rows.append(("failed_frac", failed / max(attempted, 1), "ratio", attempted))
    if args.trace:
        rows += [(k, v["value"], unit_of(k), v["n"]) for k, v in res["layers"].items()]
    for name, value, unit, n in rows:
        print(f"  {name:<40} {value:>14.6g} {unit:<8} n={n}")

    if args.trace:
        res["layers"]["jvm.peak_rss_mib"] = res["e2e"]["peak_rss_mib"]
        metrics = {k: {"value": res["layers"][k]["value"] if k in res["layers"] else 0.0,
                       "unit": unit_of(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": res["e2e"][k]["value"], "unit": res["e2e"][k]["unit"]} for k in E2E}
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
