#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the program and
the harness with sbt (offline); later runs reuse the build while the sources
are unchanged. Inputs are generated from the seed into a per-run directory
on /dev/shm, the harness JVM runs a cold repetition and then one warm
repetition per 5 s of S (at least 3), and every output is checked. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; the line
before it is the full report (quartiles, sample counts, box record). The
exit code is 0 only when every operation was correct. See README.md.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CACHE = os.path.join(HERE, ".cache")
SHM = "/dev/shm"
BUDGET_S = 170  # a run must end within 180 s; keep a margin
BUILD_BUDGET_S = 840  # the first run in a checkout also builds

sys.path.insert(0, HERE)
from inputs import COLLECTION, Corpus  # noqa: E402

# One query per layer, trimmed to fit the run length (README.md lists the
# dropped ones): operators.Checkpoint and graft's MinHash aggregator, graft's
# vector functions with the IVF memos, and the plans AsOfJoin strategy.
MIX_QUERIES = ["dedup_minhash_lsh", "sim_ann_batch", "q41_asof_custom"]

# Sizes per scale. "full" is what the benchmark measures; "tiny" is for the
# self-test. Pipelines: corpus lines x tokens per line, Zipf exponent s over
# a vocabulary, cut into `chunks` files for the stream.
WORKLOADS = {
    "full": {
        "wordcount_batch": dict(lines=120_000, per_line=12, vocab=100_000, s=1.1, chunks=1),
        "wordcount_stream": dict(lines=8_000, per_line=12, vocab=100_000, s=1.1, chunks=4),
        "analytics_mix": dict(sf=0.1, queries=MIX_QUERIES),
    },
    "tiny": {
        "wordcount_batch": dict(lines=4_000, per_line=12, vocab=20_000, s=1.1, chunks=1),
        "wordcount_stream": dict(lines=3_000, per_line=12, vocab=20_000, s=1.1, chunks=3),
        "analytics_mix": dict(sf=0.001, queries=MIX_QUERIES),
    },
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def warm_reps(seconds, trace):
    """The number of warm repetitions: one per 5 s of measuring time, at
    least 3. The count is fixed rather than timed because warm repetitions
    keep speeding up as the JIT compiles more of Spark's planner: a fixed
    count takes the median at the same point of that trend in every run, so
    a faster or slower box (or commit) does not shift where it is taken. A
    traced run alternates untraced and traced repetitions, starting and
    ending untraced, so it needs an odd count of at least 5."""
    n = max(3, int(seconds // 5))
    return max(5, n + 1 - n % 2) if trace else n


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


class Failure(Exception):
    """The run cannot produce a result."""


# ---------------------------------------------------------------- build

def _stamp():
    """Hash of every source and build file the program and harness use."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
            os.path.join(HARNESS, "project", "build.properties"),
            os.path.join(HARNESS, "src")]
    paths = []
    for top in tops:
        if os.path.isfile(top):
            paths.append(top)
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in paths:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def build(deadline):
    """Compile with sbt when the sources changed; return (classpath, stamp)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise Failure(f"no graft sources next to {HERE}: run from a graft checkout")
    stamp = _stamp()
    cp_file = os.path.join(HARNESS, "target", "bench-classpath.txt")
    stamp_file = os.path.join(HARNESS, "target", "bench-stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp, False
    log("building program and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                       cwd=HARNESS, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=max(60, deadline - time.time()))
    if r.returncode != 0 or not os.path.isfile(cp_file):
        raise Failure(f"sbt build failed with exit code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip(), stamp, True


def java_cmd(cp, main, args, rundir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java, *ADD_OPENS, "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={rundir}", f"-Dspark.local.dir={rundir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main, *args]


class Jvm:
    """A child JVM in its own process group, so it can always be stopped."""
    current = None

    def __init__(self, cmd, logpath, env):
        self.logf = open(logpath, "wb")
        self.proc = subprocess.Popen(cmd, stdout=self.logf, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL, start_new_session=True,
                                     env=env)
        Jvm.current = self

    def wait(self, timeout):
        try:
            return self.proc.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            self.stop()
            raise Failure(f"JVM did not finish within {timeout:.0f} s")
        finally:
            self.logf.close()

    def stop(self):
        if self.proc.poll() is None:
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(self.proc.pid, sig)
                    self.proc.wait(timeout=10)
                    break
                except (ProcessLookupError, subprocess.TimeoutExpired):
                    pass
        Jvm.current = None


def run_java(cp, main, args, rundir, logpath, timeout, extra_env=None):
    jvm = Jvm(java_cmd(cp, main, args, rundir), logpath, {**os.environ, **(extra_env or {})})
    code = jvm.wait(timeout)
    if code != 0:
        with open(logpath, "rb") as f:
            tail = f.read()[-4000:].decode("utf-8", "replace")
        raise Failure(f"{main} exited with {code}:\n{tail}")


# ---------------------------------------------------------------- box

def box():
    """Steal, load and memory bandwidth of the machine, and free space on
    /dev/shm. The bandwidth probe streams 256 MB twice (about 25 ms on a
    quiet box); a co-tenant saturating memory shows there first."""
    import numpy as np
    buf = np.ones(32 * 2**20, dtype=np.int64)
    buf.sum()
    t0 = time.perf_counter()
    buf.sum()
    buf.sum()
    bw_ms = (time.perf_counter() - t0) * 1000
    del buf
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    st = os.statvfs(SHM)
    return {"cpu": cpu, "load1": load1, "bw_ms": bw_ms,
            "shm_free_mb": st.f_bavail * st.f_frsize / 2**20,
            "shm_free_inodes": st.f_favail}


def steal_pct(before, after):
    d = [a - b for a, b in zip(after["cpu"], before["cpu"])]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total > 0 and len(d) > 7 else 0.0


def make_rundir(need_mb, need_inodes):
    """One per-run directory on tmpfs, after checking it has room."""
    st = os.statvfs(SHM)
    free_mb, free_inodes = st.f_bavail * st.f_frsize / 2**20, st.f_favail
    if free_mb < need_mb or free_inodes < need_inodes:
        raise Failure(f"{SHM} has {free_mb:.0f} MB and {free_inodes} inodes free; "
                      f"one repetition needs {need_mb} MB and {need_inodes} inodes")
    return tempfile.mkdtemp(prefix="graftbench-", dir=SHM)


# ---------------------------------------------------------------- inputs

def mix_cache(cp, stamp, spec, deadline):
    """Fixture tables from graft's own GenData and the DuckDB oracle results
    for the mix queries. Both depend only on the program, not on the seed,
    so they are made once per build (by the first run of any workload) and
    kept under graftbench/.cache. Returns the directory and whether it was
    made now."""
    key = f"mix-{stamp}-sf{spec['sf']}-" + hashlib.sha256(
        ",".join(sorted(spec["queries"])).encode()).hexdigest()[:8]
    done = os.path.join(CACHE, key)
    if os.path.isdir(done):
        return done, False
    work = done + ".partial"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "oracle"))
    log(f"generating sf{spec['sf']} tables and oracle results (once per build)")
    tables = os.path.join(work, "tables")
    scratch = os.path.join(work, "scratch")
    os.makedirs(scratch)
    run_java(cp, "graft.tools.GenData", [tables, str(spec["sf"]), "1"], scratch,
             os.path.join(scratch, "gendata.log"), deadline - time.time(),
             {"SPARK_GRAFT_CPUS": "4"})
    sqlfile = os.path.join(scratch, "oracle_sql.json")
    run_java(cp, "graftbench.Oracles", [sqlfile, *sorted(spec["queries"])], scratch,
             os.path.join(scratch, "oracles.log"), deadline - time.time())
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for f in sorted(os.listdir(tables)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{tables}/{f}'")
    for q, sql in json.load(open(sqlfile)).items():
        con.execute(f"COPY ({sql}) TO '{work}/oracle/{q}.parquet' (FORMAT PARQUET)")
    con.close()
    shutil.rmtree(scratch)
    os.rename(work, done)
    return done, True


def prepare(scale, t_start):
    """Build, then make the mix's cached inputs; returns (classpath, stamp,
    mix cache dir, deadline). Only a run that had to prepare gets the
    longer budget, and its measuring budget starts after preparing."""
    deadline = t_start + BUILD_BUDGET_S
    cp, stamp, built = build(deadline)
    cache, made = mix_cache(cp, stamp, WORKLOADS[scale]["analytics_mix"], deadline)
    return cp, stamp, cache, (time.time() if built or made else t_start) + BUDGET_S


# ---------------------------------------------------------------- judge

def quartiles(xs):
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return [v, v, v]
    return [float(x) for x in statistics.quantiles(xs, n=4)]


def judge_pipeline(res, exp, inject):
    """Check every repetition against the expected counts. Returns the
    per-repetition verdicts (None = correct) and the deterministic counts."""
    if inject == "count":
        exp = dict(exp, docs_written=exp["docs_written"] + 1)
    verdicts, ref = [], None
    for r in res["reps"]:
        if "error" in r:
            verdicts.append(r["error"].splitlines()[0][:300])
            continue
        st = r["store"]
        got = {
            "docs_written": r["docs"],
            "store_commits": r["commits"],
            "store_bytes": st["store.doc_bytes"] + st["store.feed_bytes"],
            "store.doc_files": st["store.doc_files"],
            "store.doc_bytes": st["store.doc_bytes"],
            "store.feed_bytes": st["store.feed_bytes"],
            "store.feed_entries": st["store.feed_entries"],
            "store.inodes": st["store.inodes"],
            "readback": r["readback"],
            "core.tokens": r["readback"][1],
            "core.distinct_words": r["readback"][0],
            "streaming.triggers": r.get("triggers", 0),
        }
        bad = [f"{k}={got[k]} expected {exp[k]}" for k in exp if k in got and got[k] != exp[k]]
        if got["store.feed_entries"] != got["store_commits"]:
            bad.append(f"feed entries {got['store.feed_entries']} != commits {got['store_commits']}")
        if ref is None:
            ref = got
        bad += [f"{k}={got[k]} differs from the first repetition's {ref[k]}"
                for k in ("store_commits", "store.inodes") if got[k] != ref[k]]
        verdicts.append("; ".join(bad) or None)
    return verdicts, ref


def judge_mix(res, inject):
    oracle = res["oracle"]
    if inject == "oracle":
        q = sorted(oracle)[0]
        oracle = dict(oracle, **{q: [oracle[q][0], oracle[q][1] + 1, oracle[q][2]]})
    verdicts, rows = [], {}
    for r in res["reps"]:
        if "error" in r:
            verdicts += [r["error"].splitlines()[0][:300]] * max(1, len(res["order"]))
            continue
        for e in r["execs"]:
            q = e["q"]
            rows.setdefault(q, e["fp"][0])
            bad = []
            if e["fp"] != oracle[q]:
                bad.append(f"{q} fingerprint {e['fp']} != oracle {oracle[q]}")
            if e["fp"][0] != rows[q]:
                bad.append(f"{q} rows {e['fp'][0]} differ from the first pass's {rows[q]}")
            verdicts.append("; ".join(bad) or None)
    return verdicts, {f"rows.{q}": n for q, n in sorted(rows.items())}


def same_seed_check(stamp, workload, seed, scale, counts):
    """Counts must also agree with every earlier run of the same seed on the
    same build; returns a failure message or None."""
    os.makedirs(CACHE, exist_ok=True)
    path = os.path.join(CACHE, f"counts-{stamp}-{scale}-{workload}-{seed}.json")
    if os.path.isfile(path):
        before = json.load(open(path))
        diff = [f"{k}={counts.get(k)} but an earlier run of seed {seed} had {v}"
                for k, v in before.items() if counts.get(k) != v]
        return "; ".join(diff) or None
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(counts, f)
    os.replace(tmp, path)
    return None


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(WORKLOADS), default="full")
    ap.add_argument("--inject", choices=("count", "delete_doc", "oracle"),
                    help="self-test: perturb one expected count, delete one "
                         "stored document, or alter one oracle fingerprint")
    ap.add_argument("--trace-out", help="write the traced run's spans here")
    a = ap.parse_args()
    t_start = time.time()

    rundir = None

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)

    try:
        cp, stamp, cache, deadline = prepare(a.scale, t_start)
        spec = WORKLOADS[a.scale][a.workload]
        box0 = box()
        pipeline = "lines" in spec
        if pipeline:
            # doc files (one tmpfs page each) plus the feed, per repetition
            need_inodes = 2 * spec["vocab"] + 10_000
            rundir = make_rundir(need_mb=2 * spec["vocab"] * 4 // 1024 + 1024,
                                 need_inodes=need_inodes)
        else:
            rundir = make_rundir(need_mb=1024, need_inodes=10_000)
        jvm_args = ["--workload", a.workload, "--rundir", rundir,
                    "--trace", str(a.trace), "--warm", str(warm_reps(a.seconds, a.trace))]
        staging_s = 0.0
        if pipeline:
            corpus = Corpus(a.seed, spec["lines"], spec["per_line"], spec["vocab"],
                            spec["s"], spec["chunks"])
            input_dir = os.path.join(rundir, "input")
            paths, _ = corpus.write(input_dir)
            expected = corpus.expected(COLLECTION)
            jvm_args += ["--input", paths[0] if spec["chunks"] == 1 else input_dir]
            if a.inject == "delete_doc":
                jvm_args += ["--inject", "delete_doc"]
        else:
            t0 = time.time()
            tables, oracles = os.path.join(rundir, "tables"), os.path.join(cache, "oracle")
            shutil.copytree(os.path.join(cache, "tables"), tables)
            staging_s = time.time() - t0
            # the seed picks where the fixed cyclic order starts, so every
            # seed runs the same sequence of queries, only phase-shifted
            k = a.seed % len(spec["queries"])
            order = spec["queries"][k:] + spec["queries"][:k]
            jvm_args += ["--tables", tables, "--oracles", oracles,
                         "--queries", ",".join(order)]

        launched = time.time()
        # leave time after the JVM for judging, reporting and cleanup
        jvm_deadline = deadline - 8
        jvm_args += ["--launched-ms", str(int(launched * 1000)),
                     "--deadline-ms", str(int(jvm_deadline * 1000))]
        run_java(cp, "graftbench.Harness", jvm_args, rundir,
                 os.path.join(rundir, "jvm.log"), jvm_deadline + 5 - time.time())
        res = json.load(open(os.path.join(rundir, "result.json")))
        if a.trace_out:
            shutil.copyfile(os.path.join(rundir, "spans.json"), a.trace_out)
        box1 = box()

        if pipeline:
            verdicts, counts = judge_pipeline(res, expected, a.inject)
            counts = {k: counts[k] for k in ("docs_written", "store_commits", "store_bytes",
                                             "core.tokens", "core.distinct_words",
                                             "streaming.triggers")} if counts else {}
        else:
            res["order"] = order
            verdicts, counts = judge_mix(res, a.inject)
        problem = same_seed_check(stamp, a.workload, a.seed, a.scale, counts) \
            if counts and not a.inject else None
        if problem:
            verdicts = [v or problem for v in verdicts]
        failures = [v for v in verdicts if v]
        for v in sorted(set(failures))[:20]:
            log(f"WRONG: {v}")

        reps = [r for r in res["reps"] if "error" not in r]
        cold = [r for r in reps if r["kind"] == "cold"]
        warm = [r for r in reps if r["kind"] == "warm" and not r["traced"]]
        traced = [r for r in reps if r["kind"] == "warm" and r["traced"]]
        want = warm_reps(a.seconds, a.trace)
        warm_ok = cold and len(warm) + len(traced) == want

        def med(rows, key):
            return statistics.median([r[key] for r in rows]) if rows else 0.0

        detail = {
            "workload": a.workload, "seed": a.seed, "scale": a.scale,
            "setup_s": res["setup_s"] + staging_s,
            "samples": {"cold": len(cold), "warm": len(warm), "traced": len(traced)},
            "rep_wall_s": [[r["kind"][0] + ("t" if r["traced"] else ""), r.get("wall_s")]
                           for r in res["reps"]],
            "quartiles": {k: quartiles([r[k] for r in warm]) for k in ("wall_s", "cpu_s")},
            "counts": counts,
            "box": {"before": {k: v for k, v in box0.items() if k != "cpu"},
                    "after": {k: v for k, v in box1.items() if k != "cpu"},
                    "steal_pct": steal_pct(box0, box1)},
            "jvm_peak_rss_mb": res["jvm_peak_rss_mb"],
        }
        if pipeline:
            detail["quartiles"]["read_s"] = quartiles([r["read_s"] for r in warm])
        else:
            detail["queries_s"] = {q: statistics.median(
                [e["s"] for r in warm for e in r["execs"] if e["q"] == q] or [0.0])
                for q in order}

        if pipeline:
            # what the store saw, per repetition; exact, so reported as
            # counts next to the timings rather than as medians
            detail["store"] = {"read_s": med(warm, "read_s"), **{
                k: counts.get(k, 0) for k in ("docs_written", "store_commits", "store_bytes")}}
        if a.trace == 0:
            vals = {"setup_s": detail["setup_s"],
                    "cold_s": cold[0]["wall_s"] if cold else 0.0,
                    "work_s": med(warm, "wall_s"), "cpu_s": med(warm, "cpu_s")}
            metrics = report(vals, "end_to_end")
        else:
            metrics = report(layer_values(reps, res, box0, box1), "per_layer")

        attempted = len(verdicts)
        failed = len(failures)
        correct = failed == 0 and attempted > 0 and bool(warm_ok)
        if not warm_ok:
            log(f"too few repetitions: {len(cold)} cold, {len(warm) + len(traced)} of {want} warm")
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    except Failure as e:
        log(f"error: {e}")
        return 2
    finally:
        if Jvm.current:
            Jvm.current.stop()
        if rundir:
            shutil.rmtree(rundir, ignore_errors=True)


def report(vals, section):
    """Every metric of a BENCHMARK.json section, by name with its unit."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)[section]
    return {m["name"]: {"value": vals.get(m["name"], 0), "unit": m["unit"]} for m in spec}


def layer_values(reps, res, box0, box1):
    """Per-layer values: the median over the traced warm repetitions of each
    layer metric (0 where the workload does not reach the layer), plus the
    trace totals and the JVM and box records.

    Warm repetitions alternate untraced and traced, starting and ending
    untraced; a traced repetition's overhead is its time minus the mean of
    its two untraced neighbours, which cancels the warm-up trend."""
    seq = [r for r in reps if r["kind"] == "warm"]
    traced = [r for r in seq if r["traced"]]
    overhead = [seq[i]["wall_s"] - (seq[i - 1]["wall_s"] + seq[i + 1]["wall_s"]) / 2
                for i in range(1, len(seq) - 1)
                if seq[i]["traced"] and not seq[i - 1]["traced"] and not seq[i + 1]["traced"]]
    vals = {}
    for r in traced:
        for k, v in r.get("layer", {}).items():
            vals.setdefault(k, []).append(v)
    vals = {k: statistics.median(v) for k, v in vals.items()}
    if traced:
        vals["trace.work_s"] = statistics.median([r["wall_s"] for r in traced])
        if overhead:
            vals["trace.overhead_s"] = statistics.median(overhead)
        vals["jvm.gc_s"] = statistics.median([r["jvm_gc_s"] for r in traced])
    vals["jvm.peak_rss_mb"] = res["jvm_peak_rss_mb"]
    vals["box.steal_pct"] = steal_pct(box0, box1)
    vals["box.load1"] = box0["load1"]
    vals["box.shm_free_mb"] = box0["shm_free_mb"]
    vals["box.bw_ms"] = max(box0["bw_ms"], box1["bw_ms"])
    return vals


if __name__ == "__main__":
    sys.exit(main())
