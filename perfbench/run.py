#!/usr/bin/env python3
"""CoCoA production-path benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark's JVM
program from source (perfbench/build.sh), generates the workload's inputs from the
seed (perfbench/gen.py), and runs the jobs in fresh JVMs with the session
`RunPipeline.main` builds at local[nproc]. One client runs jobs in a closed
loop: a job starts when the previous one ends. Every job's outputs are
checked. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 runs the traced
composition (spans and Spark counters around each layer's public call) in
one JVM, then the untraced production path over the same jobs in another,
checks that both wrote the same outputs, and reports the per-layer
metrics. All files live in one scratch directory under .bench_build/runs,
deleted at exit.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
HEAP = "3g"
# A whole run must end well inside 180 s; a JVM still running at this many
# seconds after the run started is killed and its jobs count as failed.
RUN_DEADLINE_S = 165
# Warm jobs run until --seconds of warm time has passed, and at least this
# many run.
MIN_WARM = 2
MIN_FREE_BYTES = 2 << 30
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def spark_jars():
    """The Spark jars the engine compiles and runs against: $SPARK_HOME/jars,
    else the directory build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME to the Spark installation the build uses")
    return m.group(1)


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, for the steal share."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala; run from a checkout "
             "of the repository")
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=ROOT,
                       env=dict(os.environ, SPARK_JARS=spark_jars()))
    if r.returncode != 0:
        fail("build failed")


def launch(run_dir, tag, workload, strategy, ids, seconds, trace, deadline,
           min_warm=MIN_WARM):
    """One JVM over `ids` (cold first); returns its result dict, or None if
    it failed or ran past the deadline."""
    work = os.path.join(run_dir, tag)
    for d in ("out", "local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xmx" + HEAP, "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", os.path.join(BUILD, "classes") + ":" + spark_jars() + "/*",
            "perfbench.BenchMain",
            "workload=" + workload, "input=" + os.path.join(run_dir, "input"),
            "out=" + os.path.join(work, "out"),
            "local=" + os.path.join(work, "local"),
            "strategy=" + strategy, "jobs=" + ",".join(ids),
            "seconds=%.3f" % seconds, "min_warm=%d" % min_warm,
            "trace=%d" % trace, "result=" + result]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    log = open(os.path.join(work, "jvm.log"), "w")
    steal0, total0 = cpu_ticks()
    launch_ns = time.time_ns()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                            stderr=subprocess.STDOUT)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    # Wall times on a virtual machine stretch when the hypervisor steals
    # CPU; the share is printed so a slow run can be told from a slow host.
    steal1, total1 = cpu_ticks()
    print("perfbench: %s JVM exited after %.1f s, host CPU steal %.1f%%" % (
        tag, (time.time_ns() - launch_ns) / 1e9,
        100.0 * (steal1 - steal0) / max(1, total1 - total0)), file=sys.stderr)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return None
    with open(result) as f:
        res = json.load(f)
    res["launch_ns"] = launch_ns
    res["out"] = os.path.join(work, "out")
    for j in res["jobs"]:
        j["s"] = (int(j["end_ns"]) - int(j["start_ns"])) / 1e9
    return res


# ---- output checks -------------------------------------------------------

def _read_csv(path):
    import pyarrow.csv as pc
    return pc.read_csv(path).to_pydict()


def job_dir(workload, out, job_id):
    """Where one job writes: a date's CSVs, or a generation's release."""
    if workload == "corpus_release":
        return os.path.join(out, "release", "gen_%02d" % int(job_id))
    return os.path.join(out, "adjusted", job_id)


def check_day(meta, base, date):
    """Returns (errors, Σ adjusted_conversion) for one date's outputs."""
    day = next(d for d in meta["days"] if d["date"] == date)
    errors = []
    try:
        data = _read_csv(os.path.join(base, "adjustments_data.csv"))
        summary = _read_csv(os.path.join(base, "adjustments_summary.csv"))
    except (OSError, ValueError) as e:
        return ["%s: unreadable output: %s" % (date, e)], 0.0
    n = len(data["gclid"])
    if n != day["consent_clean"]:
        errors.append("%s: %d adjusted rows, cleaned consent cohort has %d"
                      % (date, n, day["consent_clean"]))
    if any(str(g).startswith("n") for g in data["gclid"]):
        errors.append("%s: a noconsent gclid is in the adjusted output" % date)
    if len(summary["number_matched_conversions"]) != 1:
        errors.append("%s: %d summary rows, expected 1"
                      % (date, len(summary["number_matched_conversions"])))
    added = float(sum(data["adjusted_conversion"]))
    matched = float(sum(summary["total_matched_conversion_value"]))
    if abs(added - matched) > 1e-6 * max(1.0, abs(matched)):
        errors.append("%s: adjustments sum to %.9f, matched noconsent value is "
                      "%.9f" % (date, added, matched))
    if meta["strategy"].startswith("k=") and abs(
            matched - day["noconsent_clean_value"]) > \
            1e-6 * day["noconsent_clean_value"]:
        errors.append("%s: k-NN matched %.9f of %.9f cleaned noconsent value"
                      % (date, matched, day["noconsent_clean_value"]))
    return errors, added


def check_release(meta, base, gen_id):
    """Returns (errors, shipped docs) for one release generation."""
    import pyarrow.parquet as pq
    g = int(gen_id)
    shards = sorted(glob.glob(os.path.join(base, "shard-*.parquet")))
    errors = []
    try:
        manifest = _read_csv(os.path.join(base, "manifest.csv"))
        ids = [pq.read_table(s, columns=["doc_id"]).column(0).to_pylist()
               for s in shards]
        snapshot = set(pq.read_table(os.path.join(
            meta["input"], "docs_%02d" % g), columns=["doc_id"])
            .column(0).to_pylist())
    except (OSError, ValueError) as e:
        return ["gen %d: unreadable release: %s" % (g, e)], 0
    flat = [i for s in ids for i in s]
    if not flat:
        errors.append("gen %d: the release ships no documents" % g)
    if len(flat) != len(set(flat)):
        errors.append("gen %d: a doc id appears in more than one shard row" % g)
    if not set(flat) <= snapshot:
        errors.append("gen %d: shipped doc ids missing from the snapshot" % g)
    if sorted(int(s) for s in manifest["out_shard"]) != sorted(
            int(os.path.basename(s)[6:-8]) for s in shards) or \
            sum(manifest["n_docs"]) != len(flat):
        errors.append("gen %d: manifest does not match the shard files" % g)
    return errors, len(flat)


def check_jobs(workload, meta, res):
    """Per-job errors (job id → list) and the run's recovered-value sums."""
    errs, num, den = {}, 0.0, 0.0
    for j in res["jobs"]:
        if not j["ok"]:
            errs[j["id"]] = ["job failed: " + j["error"]]
            continue
        base = job_dir(workload, res["out"], j["id"])
        if workload == "corpus_release":
            e, shipped = check_release(meta, base, j["id"])
            num += shipped
            den += meta["generations"][int(j["id"])]["docs"]
        else:
            e, added = check_day(meta, base, j["id"])
            num += added
            den += next(d["noconsent_clean_value"] for d in meta["days"]
                        if d["date"] == j["id"])
        if e:
            errs[j["id"]] = e
    return errs, num, den


def job_rows(workload, meta, job_id):
    if workload == "corpus_release":
        return meta["generations"][int(job_id)]["docs"]
    d = next(d for d in meta["days"] if d["date"] == job_id)
    return d["consent_rows"] + d["noconsent_rows"]


def _rows(path):
    with open(path) as f:
        lines = f.read().splitlines()
    return lines[:1] + sorted(lines[1:])


def _same_field(a, b):
    try:
        x, y = float(a), float(b)
    except ValueError:
        return a == b
    return abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))


def outputs_match(workload, out_a, out_b, job_id):
    """Whether two runs wrote the same outputs for one job. Row order is
    ignored. Numbers may differ in their last bits (Spark's sums depend on
    partition order), so day outputs are compared field by field to 1e-9
    relative; release shards and manifests hold no floats and must be
    identical."""
    if workload == "corpus_release":
        import pyarrow.parquet as pq

        def digest(out):
            base = job_dir(workload, out, job_id)
            parts = []
            for s in sorted(glob.glob(os.path.join(base, "shard-*.parquet"))):
                rows = pq.read_table(s).to_pylist()
                parts.append(os.path.basename(s) + repr(sorted(
                    tuple(sorted(r.items())) for r in rows)))
            parts += _rows(os.path.join(base, "manifest.csv"))
            return hashlib.sha256("\n".join(parts).encode()).hexdigest()
        return digest(out_a) == digest(out_b)
    for name in ("adjustments_data.csv", "adjustments_summary.csv"):
        a, b = (_rows(os.path.join(job_dir(workload, o, job_id), name))
                for o in (out_a, out_b))
        if len(a) != len(b):
            return False
        for ra, rb in zip(a, b):
            fa, fb = ra.split(","), rb.split(",")
            if len(fa) != len(fb) or not all(map(_same_field, fa, fb)):
                return False
    return True


def written(workload, out, job_id):
    """(bytes, files) one job left in its output directory."""
    nbytes = nfiles = 0
    for d, _, files in os.walk(job_dir(workload, out, job_id)):
        for f in files:
            nbytes += os.path.getsize(os.path.join(d, f))
            nfiles += 1
    return nbytes, nfiles


# ---- runs ------------------------------------------------------------------

def job_ids(workload, meta):
    if workload == "corpus_release":
        return [str(g["generation"]) for g in meta["generations"]]
    return [d["date"] for d in meta["days"]]


def untraced(workload, strategy, meta, run_dir, seconds, deadline):
    res = launch(run_dir, "jobs", workload, strategy, job_ids(workload, meta),
                 seconds, 0, deadline)
    if res is None:
        return None
    errs, num, den = check_jobs(workload, meta, res)
    for e in (e for es in errs.values() for e in es):
        print("perfbench: " + e, file=sys.stderr)
    jobs = res["jobs"]
    warm = jobs[1:]
    if not warm:
        return len(jobs), max(1, len(errs)), False, {}
    warm_rows = sum(job_rows(workload, meta, j["id"]) for j in warm)
    metrics = {
        "setup_s": ((res["ready_ns"] - res["launch_ns"]) / 1e9, "s"),
        "cold_job_s": (jobs[0]["s"], "s"),
        "job_s_p50": (statistics.median(j["s"] for j in warm), "s"),
        "rows_per_s": (warm_rows / sum(j["s"] for j in warm), "1/s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
        "value_recovered_frac": (num / den if den else 0.0, "ratio"),
    }
    print("perfbench: %s job seconds %s" % (
        workload, " ".join("%.2f" % j["s"] for j in jobs)), file=sys.stderr)
    return len(jobs), len(errs), not errs, metrics


def traced(workload, strategy, meta, run_dir, seconds, deadline):
    ids = job_ids(workload, meta)
    # one warm job is enough for per-layer means when it already fills
    # --seconds, and the replay below repeats every job, so this keeps a
    # traced run well inside the run deadline
    t = launch(run_dir, "traced", workload, strategy, ids, seconds, 1, deadline,
               min_warm=1)
    if t is None:
        return None
    done = [j["id"] for j in t["jobs"]]
    u = launch(run_dir, "untraced", workload, strategy, done, 0.0, 0, deadline,
               min_warm=len(done) - 1)
    if u is None:
        return None
    errors = []
    attempted = failed = 0
    for res in (t, u):
        errs, _, _ = check_jobs(workload, meta, res)
        attempted += len(res["jobs"])
        failed += len(errs)
        errors += [e for es in errs.values() for e in es]
    if [j["id"] for j in u["jobs"]] != done:
        errors.append("the untraced run did not process the traced run's jobs")
    else:
        for j in done:
            if not outputs_match(workload, t["out"], u["out"], j):
                errors.append("job %s: traced outputs differ from untraced" % j)
    for e in errors:
        print("perfbench: " + e, file=sys.stderr)
    metrics = {}
    for name, value in sorted(t["layers"].items()):
        unit = "s" if name.endswith("_s") else "MB" if name.endswith("_mb") \
            else "ratio" if name.endswith(("_ratio", "_frac")) else "count"
        metrics[name] = (value, unit)
    w = [written(workload, t["out"], j) for j in done]
    metrics["io.bytes_written"] = (sum(b for b, _ in w) / len(w), "bytes")
    metrics["io.files_written"] = (sum(f for _, f in w) / len(w), "count")
    metrics["pipeline.pinned_relations"] = (
        int(u["jobs"][-1]["pinned_rdds"]) / len(u["jobs"]), "count")

    def p50(r):
        return statistics.median(j["s"] for j in r["jobs"][1:] or r["jobs"])
    metrics["trace.overhead_s"] = (p50(t) - p50(u), "s")
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    with open(os.path.join(BUILD, "traces", "%s.json" % workload), "w") as f:
        json.dump({"jobs": t["jobs"], "spans": t["spans"],
                   "layers": t["layers"]}, f)
    return attempted, failed, not errors, metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(gen.WORKLOADS) + ["corpus_release"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_DEADLINE_S
    build()
    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed,
                                                         os.getpid()))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        os.makedirs(run_dir)
        if shutil.disk_usage(run_dir).free < MIN_FREE_BYTES:
            print("perfbench: disk nearly full", file=sys.stderr)
            out = (1, 1, False, {})
        else:
            inp = os.path.join(run_dir, "input")
            meta = gen.generate(a.workload, a.seed, inp)
            meta["input"] = inp
            strategy = gen.WORKLOADS.get(a.workload, {}).get("strategy", "none")
            run = traced if a.trace else untraced
            out = run(a.workload, strategy, meta, run_dir, a.seconds, deadline)
            if out is None:
                print("perfbench: a benchmark JVM failed or timed out",
                      file=sys.stderr)
                out = (1, 1, False, {})
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted, failed, ok, metrics = out
    # failed_frac is 0 on a healthy run, so it is printed here and carried
    # in the JSON as attempted/failed rather than as a metric
    table = list(metrics.items()) + [("failed_frac", (failed / attempted, "ratio"))]
    for name, (value, unit) in table:
        print("%-32s %14.6f %s" % (name, value, unit))
    print(json.dumps({
        "correct": bool(ok and failed == 0),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
