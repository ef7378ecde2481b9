#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload analytics|dedup_search|pipelines \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the JVM driver
(`perfbench/build.sbt`, which depends on the root build) and checks
every batch query's rows against its DuckDB oracle; later runs reuse
both while the sources are unchanged. Each run generates its inputs
from the seed, runs the workload in one JVM at local[nproc], checks its
outputs, and prints one JSON line: end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`. Work files live in perfbench/.work.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

BATCH_SF = 0.01
RUN_LIMIT_S = 170          # a run is stopped before 180 s
BUILD_LIMIT_S = 840        # so is a first run that builds, before 900 s

# Per workload: memo mode and, by engine module, the queries a run times.
# A pass over all 62 `analytics` or all 23 `dedup_search` headline
# queries takes about 20 s on 4 cores, and each query also costs 1-4 s
# of code generation and JIT in the warmup pass of every run, so a run
# times a sample (query_shares.json: measured time of every query).
# `analytics`: in each module, its queries sorted by measured time and
# cut into strata of at most ten, the middle query of each stratum (12%
# of a full pass). `dedup_search`: pagerank (the largest share), the
# blocked Levenshtein + Jaro-Winkler verify kernels, the prefix-filtered
# Jaccard join and brute-force cosine top-k (19%). MinHash/LSH and
# connected components run in the `pipelines` CurationJob.
BATCH = {
    "analytics": ("warm", {
        "Ingest": ("q_ingest_partition",),
        "Relational": ("q_gini_concentration", "q_salted_join", "q_asof_strict",
                       "q3_shipping"),
        "TextOps": ("q_heavy_hitters", "q_chao1"),
        "UrlOps": ("q_url_canonical",),
        "Multimodal": ("q_media_decode",)}),
    "dedup_search": ("cold", {
        "Dedup": ("q_pagerank", "q_fuzzy_jw", "q_jaccard_prefix"),
        "Similarity": ("q_cosine_topk",)}),
}
MODULE_OF = {q: m for _, mods in BATCH.values() for m, qs in mods.items() for q in qs}
PIPELINE = dict(backlog_files=8, backlog_events=8000, waves=8, wave_events=200,
                curation_docs=300, stream_docs=160, stream_files=2)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build_inputs():
    need = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        fail("not a checkout of the program: missing " +
             ", ".join(os.path.relpath(p, ROOT) for p in missing))
    proj = os.path.join(ROOT, "project")
    extra = [os.path.join(proj, f) for f in sorted(os.listdir(proj))
             if f.endswith((".sbt", ".scala", ".properties"))] if os.path.isdir(proj) else []
    return need + extra + [os.path.join(HERE, "project", "build.properties"),
                           os.path.join(HERE, "gen.py"), os.path.join(HERE, "check.py")]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g"
    env["SPARK_DRIVER_MEM"] = "3g"
    return env


def run_proc(cmd, cwd, env, timeout, log):
    """Run to completion in its own process group; on timeout kill the
    whole group and wait for it."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def ensure_build(t_start):
    """Build the driver and run the batch checks, once per source tree.
    Returns the driver's JVM options and whether this run built."""
    stamp = tree_hash(build_inputs())
    bdir = os.path.join(WORK, "build")
    stamp_file = os.path.join(bdir, "stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(launch):
        return [ln for ln in open(launch).read().splitlines() if ln], False
    shutil.rmtree(bdir, ignore_errors=True)
    os.makedirs(bdir)
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
                  HERE, sbt_env(), t_start + BUILD_LIMIT_S - time.time(),
                  os.path.join(bdir, "sbt.log"))
    if rc != 0 or not os.path.exists(launch):
        tail = open(os.path.join(bdir, "sbt.log")).read()[-2000:]
        fail(f"build failed (exit {rc}):\n{tail}")
    opts = [ln for ln in open(launch).read().splitlines() if ln]
    for workload in BATCH:
        batch_checks(opts, workload, t_start + BUILD_LIMIT_S)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return opts, True


def batch_tables():
    """The batch tables: the same in every run, made once per build."""
    tables = os.path.join(WORK, "build", "tables")
    if not os.path.isdir(tables):
        gen.tables(tables + ".tmp", BATCH_SF)
        os.rename(tables + ".tmp", tables)
    return tables


def oracle_digests(opts, names, deadline):
    """DuckDB digests of the queries' oracles over the batch tables,
    cached under the build directory: they depend only on the oracle
    SQL and on the tables."""
    bdir = os.path.join(WORK, "build")
    cache = os.path.join(bdir, "oracle_digests.json")
    have = json.load(open(cache)) if os.path.exists(cache) else {}
    missing = [q for q in names if q not in have]
    if missing:
        sql_file = os.path.join(bdir, "oracle_sql.json")
        rc = run_proc(["java", *opts, "graft.perfbench.Driver", "oracles", sql_file,
                       ",".join(missing)], bdir, os.environ,
                      deadline - time.time(), os.path.join(bdir, "oracles.log"))
        if rc != 0:
            fail("could not read the oracle SQL")
        have.update(check.oracle_digests(batch_tables(), json.load(open(sql_file))))
        with open(cache, "w") as f:
            json.dump(have, f)
    return have


def batch_checks(opts, workload, deadline):
    """Each query's check verdict (None when its rows match the oracle,
    else why not). The program and the tables are the same in every run
    of a build, so the check pass runs once per build, in the workload's
    memo mode, and its verdicts are kept under the build directory."""
    bdir = os.path.join(WORK, "build")
    cache = os.path.join(bdir, f"checks_{workload}.json")
    mode, mods = BATCH[workload]
    names = [q for qs in mods.values() for q in qs]
    if os.path.exists(cache):
        verdict = json.load(open(cache))
        if set(names) <= set(verdict):
            return verdict
    digests = oracle_digests(opts, names, deadline)
    cdir = os.path.join(bdir, f"check_{workload}")
    shutil.rmtree(cdir, ignore_errors=True)
    os.makedirs(cdir)
    raw = jvm(opts, "check", ["--mode", mode, "--queries", ",".join(names),
                              "--data", batch_tables(), "--dump", os.path.join(cdir, "dump")],
              cdir, deadline)
    verdict = {}
    for q in names:
        if q in raw["check_errors"]:
            verdict[q] = raw["check_errors"][q]
        else:
            verdict[q] = check.compare(check.spark_digest(os.path.join(cdir, "dump", q)),
                                       digests.get(q))
    shutil.rmtree(cdir, ignore_errors=True)
    with open(cache, "w") as f:
        json.dump(verdict, f)
    return verdict


def jvm(opts, mode, args, run_dir, deadline):
    # scratch space (Spark's block manager, the JVM's temp files) stays
    # in the run directory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_LOCAL_DIRS"] = tmp
    out = os.path.join(run_dir, "result.json")
    rc = run_proc(["java", f"-Djava.io.tmpdir={tmp}", *opts, "graft.perfbench.Driver", mode,
                   *args, "--out", out],
                  run_dir, env, deadline - time.time(),
                  os.path.join(run_dir, "jvm.log"))
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        fail(f"{mode} run {'timed out' if rc is None else f'failed (exit {rc})'}:\n{tail}",
             code=3)
    with open(out) as f:
        return json.load(f)


def cpus():
    """The cores the run uses: SPARK_GRAFT_CPUS, as for the jobs, else
    every core the process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def cpu_steal():
    """(steal, total) jiffies of all CPUs: time the hypervisor gave to
    other guests, which slows a run without showing in the load average."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def load_avg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return None


def git_rev():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["analytics", "dedup_search", "pipelines"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops and reaps the JVM or sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    opts, built = ensure_build(t_start)
    deadline = t_start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)
    steal0 = cpu_steal()
    ctx = {"git_rev": git_rev(), "nproc": len(os.sched_getaffinity(0)),
           "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "cpus_used": cpus(),
           "loadavg_before": load_avg(), "seed": a.seed, "workload": a.workload,
           "trace": a.trace}
    run_dir = os.path.join(WORK, f"run-{a.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.workload in BATCH:
        mode, mods = BATCH[a.workload]
        names = [q for qs in mods.values() for q in qs]
        random.Random(a.seed).shuffle(names)
        verdict = batch_checks(opts, a.workload, deadline)
        mismatches = {q: verdict[q] for q in names if verdict.get(q)}
        t_setup = time.time()
        data = os.path.join(run_dir, "tables")
        gen.tables(data, BATCH_SF)
        ctx["inputs_s"] = time.time() - t_setup
        raw = jvm(opts, "batch", ["--workload", a.workload, "--mode", mode,
                                  "--queries", ",".join(names), "--data", data,
                                  "--seconds", str(a.seconds), "--trace", str(a.trace)],
                  run_dir, deadline)
        res = report.batch(raw, names, MODULE_OF, mismatches, t_setup, cpus(), a.trace)
    else:
        t_setup = time.time()
        expected = gen.pipeline(run_dir, a.seed, **PIPELINE)
        ctx["inputs_s"] = time.time() - t_setup
        expected["waves"] = PIPELINE["waves"]
        raw = jvm(opts, "pipelines", ["--work", run_dir, "--seconds", str(a.seconds),
                                      "--trace", str(a.trace),
                                      "--waves", str(PIPELINE["waves"])],
                  run_dir, deadline)
        res = report.pipelines(raw, expected, t_setup, cpus(), a.trace)
    ctx["run_s"] = time.time() - t_start
    steal, total = (b - a for a, b in zip(steal0, cpu_steal()))
    ctx["cpu_steal_frac"] = steal / total if total else None
    ctx.update(raw.get("context", {}))
    ctx["loadavg_after"] = load_avg()
    ctx.update(res.pop("context", {}))
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump({"context": ctx, **res}, f, indent=1, default=str)
    for line in res.pop("lines", []):
        print(line)
    print(json.dumps({"context": ctx}, default=str))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
