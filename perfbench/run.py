#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload books_etl --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (sbt, cached by a digest of their
sources), generates the seeded inputs, runs the harness JVM (perfbench.Main)
under local[4], checks the outputs against the DuckDB oracle or the
generator's expected rows, and prints a report line per metric followed by
one JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. See perfbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
DEADLINE_S = 170
# Inputs: the sf0.01 tables (500 documents, 500 embeddings, 60k lineitem
# rows) and a feed of 1000 books. Both keep a run's set-up and its timed
# loop inside the per-run time budget on a 4-core machine.
SF = 0.01
N_BOOKS = 1000
WORKLOADS = ["books_etl", "daily_increment"]

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build reads: the engine's sources and build
    definition, and the harness's."""
    h = hashlib.sha256()
    files = sorted([os.path.join(d, "build.sbt") for d in (ROOT, HERE)]
                   + glob.glob(os.path.join(ROOT, "project", "*.*"))
                   + glob.glob(os.path.join(HERE, "project", "*.*"))
                   + glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source digest; returns the
    classpath and the engine build's JVM options."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: the engine sources (src/main/scala) are missing")
    stamp = os.path.join(BUILD, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"], cached["java_options"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "engineJavaOptions", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = [ln for ln in lines if not ln.startswith("[")][-1].strip()
    with open(os.path.join(BUILD, "engine-java-options.txt")) as f:
        java_options = [ln.strip() for ln in f if ln.strip()]
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp, "java_options": java_options}, f)
    return cp, java_options


def cpu_ticks():
    """(busy, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[4:7]), v[7] if len(v) > 7 else 0


def run_jvm(cp, java_options, work, args, timeout):
    """Runs perfbench.Main. The engine keeps its index artifacts under
    /tmp/graft_*; the entries the run creates there are removed when the
    JVM has ended, also when the run is terminated."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m"] + java_options
           + [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
              "-cp", cp, "perfbench.Main"] + args)
    before = set(glob.glob("/tmp/graft_*"))
    busy0, steal0 = cpu_ticks()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            for d in set(glob.glob("/tmp/graft_*")) - before:
                shutil.rmtree(d, ignore_errors=True)
    busy1, steal1 = cpu_ticks()
    log(f"CPU time stolen by the hypervisor during the run: "
        f"{100.0 * (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0):.1f}%")
    with open(os.path.join(work, "jvm.log")) as f:
        jvm_log = f.read()
    if rc != 0:
        sys.stderr.write(jvm_log[-60000:])
        sys.exit(f"perfbench: harness JVM failed ({rc})")
    sys.stderr.write("".join(ln + "\n" for ln in jvm_log.splitlines()
                             if ln.startswith("[perfbench]")))


# ---------------------------------------------------------------- checks

def oracle_check(data, dump):
    """Per-key pass/fail from tools/oracle_check.py's comparison."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import oracle_check
    rec = os.path.join(dump, "oracle_records.json")
    with contextlib.redirect_stdout(sys.stderr):
        oracle_check.main(data, dump, rec)
    with open(rec) as f:
        records = json.load(f)
    return {k: (r["hash_match"] is True) or (r["hash_match"] is None and r["rows_match"] is True)
            for k, r in records.items()}


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def books_check(books, dump):
    import pandas as pd
    with open(os.path.join(books, "expected.json")) as f:
        expected = json.load(f)
    with open(os.path.join(books, "feed.json")) as f:
        feed = sorted(json.load(f), key=lambda r: r["id"])
    ok = {}
    cols = ["id", "title", "image", "genres", "rating", "author_id", "author_name"]
    for key in ["books_export", "books_warehouse"]:
        df = pd.read_parquet(os.path.join(dump, key)).sort_values("id")
        got = [{c: _norm(r[c]) for c in cols} for r in df.to_dict("records")]
        ok[key] = got == expected
        if not ok[key]:
            bad = next((g, e) for g, e in zip(got + [None] * len(expected), expected) if g != e)
            log(f"{key} differs from the generator: got {bad[0]} want {bad[1]}")
    df = pd.read_parquet(os.path.join(dump, "books_feed")).sort_values("id")
    ok["books_feed"] = [{c: _norm(r[c]) for c in ["id", "title", "rating"]}
                        for r in df.to_dict("records")] == feed
    return ok


# --------------------------------------------------------------- metrics

def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of all
    order statistics. A mix of ops clusters its latencies by key, and a
    single middle order statistic jumps between clusters from run to run;
    this estimate does not."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 4000

    def pdf(t):
        if t <= 0.0 or t >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log(1 - t))

    cdf = [0.0]
    for k in range(1, steps + 1):  # trapezoid rule for the Beta(a, b) CDF
        cdf.append(cdf[-1] + (pdf((k - 1) / steps) + pdf(k / steps)) / (2 * steps))
    weight = [cdf[round(i * steps / n)] / cdf[-1] for i in range(n + 1)]
    return sum(x * (weight[i + 1] - weight[i]) for i, x in enumerate(xs))


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(run, samples):
    lat = [s["seconds"] for s in samples]
    n = len(lat)
    ok_items = sum(s["items"] for s in samples if "err" not in s)
    p90 = quantile(lat, 0.9)
    beyond = sum(1 for x in lat if x > p90)
    m = {
        "setup_s": (run["setup_s"], "s", 1),
        "op_s_p50": (quantile(lat, 0.5), "s", n),
        "items_per_s": (ok_items / sum(lat), "1/s", n),
        "heap_live_mb": (run["heap_live_mb"], "MB", 1),
    }
    report = dict(m)
    report["failed_ratio"] = (sum(1 for s in samples if "err" in s) / n, "ratio", n)
    if beyond >= 10:
        report["op_s_p90"] = (p90, "s", n)
    return m, report


def per_layer(run, samples):
    """Per-layer metrics from the traced ops' spans. A layer's time is the
    mean per call of its span, Spark counters are means per traced op, and
    index row counts are per traced round (one day absorbed and served)."""
    traced = [s for s in samples if s["traced"]]
    untraced = [s for s in samples if not s["traced"]]
    ops = {s["op"] for s in traced}
    rounds = len({s["round"] for s in traced}) or 1
    spans = [sp for sp in run["spans"] if sp["op"] in ops]
    by_op = {o: [sp for sp in spans if sp["op"] == o] for o in ops}
    roots = {sp["op"]: sp for sp in spans if sp["parent"] == -1}

    def op_mean(field):
        return mean([sum(sp[field] for sp in by_op[o]) for o in ops])

    def per_round(field):
        return sum(sp[field] for sp in spans) / rounds

    def span_s(name):
        """Mean time per call of the named layer span."""
        return mean([sp["seconds"] for sp in spans if sp["name"] == name])

    def count_mean(key):
        return mean([s["counts"][key] for s in samples if key in s["counts"]])

    def busy(o):
        """(seconds some task ran, summed task seconds) within op o."""
        r = roots[o]
        ivs = sorted((max(b, r["start_ms"]), min(e, r["end_ms"]))
                     for sp in by_op[o] for b, e in sp["task_intervals"])
        union = task = 0
        cur_b = cur_e = None
        for b, e in ivs:
            task += max(0, e - b)
            if cur_e is None or b > cur_e:
                union += (cur_e - cur_b) if cur_e is not None else 0
                cur_b, cur_e = b, e
            else:
                cur_e = max(cur_e, e)
        union += (cur_e - cur_b) if cur_e is not None else 0
        return union / 1e3, task / 1e3

    gaps, ratios = [], []
    for o in ops:
        wall = roots[o]["seconds"]
        union, task = busy(o)
        gaps.append(max(0.0, wall - union))
        ratios.append(task / (wall * run["cores"]) if wall > 0 else 0.0)

    loads = [sp for sp in spans if sp["name"] == "sources.jdbc_load"]
    load_s = sum(sp["seconds"] for sp in loads)
    rows = sum(sp["counts"].get("rows", 0.0) for sp in loads)
    postings = per_round("postings_rows")
    docs = count_mean("batch_docs")
    batch = count_mean("batch_bytes")

    # tracing overhead: per key, median traced over median untraced latency
    keys = {s["key"] for s in traced} & {s["key"] for s in untraced}
    def med(xs, k):
        return statistics.median([s["seconds"] for s in xs if s["key"] == k])
    t_sum = sum(med(traced, k) for k in keys)
    u_sum = sum(med(untraced, k) for k in keys)

    mb = 1048576.0
    return {
        "spark.plan_ms": (op_mean("plan_ms"), "ms"),
        "spark.jobs": (op_mean("jobs"), "count"),
        "spark.tasks": (op_mean("tasks"), "count"),
        "spark.driver_gap_s": (mean(gaps), "s"),
        "spark.core_busy_ratio": (mean(ratios), "ratio"),
        "spark.executor_run_s": (op_mean("run_ms") / 1e3, "s"),
        "spark.executor_cpu_s": (op_mean("cpu_ns") / 1e9, "s"),
        "spark.shuffle_read_bytes": (op_mean("shuffle_read"), "bytes"),
        "spark.shuffle_write_bytes": (op_mean("shuffle_write"), "bytes"),
        "spark.spill_bytes": (op_mean("spill"), "bytes"),
        "spark.peak_task_mem_mb": (max([sp["peak_mem"] for sp in spans] or [0]) / mb, "MB"),
        "spark.plan_nodes": (op_mean("plan_nodes"), "count"),
        "spark.codegen_compiles": (mean([s["codegen"] for s in samples]), "count"),
        "jvm.gc_s": (mean([s["gc_ms"] for s in samples]) / 1e3, "s"),
        "jvm.jit_ms": (float(run["jit_setup_ms"]), "ms"),
        "sources.pages_s": (span_s("sources.pages"), "s"),
        "sources.http_requests": (count_mean("http_requests"), "count"),
        "sources.http_bytes": (count_mean("http_bytes"), "bytes"),
        "sources.http_retries": (count_mean("http_retries"), "count"),
        "sources.jdbc_load_s": (span_s("sources.jdbc_load"), "s"),
        "sources.jdbc_replay_s": (span_s("sources.jdbc_replay"), "s"),
        "sources.jdbc_read_s": (span_s("sources.jdbc_read"), "s"),
        "sources.jdbc_rows_per_s": (rows / load_s if load_s else 0.0, "1/s"),
        "ops.books.flatten_s": (span_s("ops.books.flatten"), "s"),
        "pipeline.books_run_s": (span_s("pipeline.books_run"), "s"),
        "ops.pipeline.curation_s": (span_s("ops.pipeline.curation"), "s"),
        "ops.pipeline.pack_s": (span_s("ops.pipeline.pack"), "s"),
        "ops.dedup.append_s": (span_s("ops.dedup.append"), "s"),
        "ops.vector.append_s": (span_s("ops.vector.append"), "s"),
        "jobs.audit_s": (span_s("jobs.audit"), "s"),
        "ops.index.bytes_written": (count_mean("index_bytes"), "bytes"),
        "ops.index.write_amp": (count_mean("index_bytes") / batch if batch else 0.0, "ratio"),
        "ops.dedup.postings_rows_read": (postings, "count"),
        "ops.dedup.postings_rows_per_batch_doc": (postings / docs if docs else 0.0, "ratio"),
        "ops.relational.query_s": (span_s("ops.relational.query"), "s"),
        "ops.events.query_s": (span_s("ops.events.query"), "s"),
        "ops.text.query_s": (span_s("ops.text.query"), "s"),
        "ops.dedup.probe_s": (span_s("ops.dedup.probe"), "s"),
        "ops.vector.probe_s": (span_s("ops.vector.probe"), "s"),
        "ops.vector.codes_rows_read": (per_round("codes_rows"), "count"),
        "calib.start_s": (run["calib_start_s"], "s"),
        "calib.end_s": (run["calib_end_s"], "s"),
        "trace.overhead_ratio": (t_sum / u_sum - 1.0 if u_sum else 0.0, "ratio"),
    }


def write_spans(run, workload, seed):
    """Keeps the traced run's spans, with each span's self time: its
    duration minus the time its child spans cover (children of a span run
    one after another)."""
    spans = run["spans"]
    child_s = {}
    for sp in spans:
        if sp["parent"] >= 0:
            child_s[sp["parent"]] = child_s.get(sp["parent"], 0.0) + sp["seconds"]
    out = [dict({k: v for k, v in sp.items() if k != "task_intervals"},
                self_s=sp["seconds"] - child_s.get(sp["id"], 0.0)) for sp in spans]
    path = os.path.join(BUILD, "spans", f"{workload}-{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.seconds <= 0:
        sys.exit("perfbench: --seconds must be positive")
    cp, java_options = build()
    start = time.time()

    t0 = time.time()  # set-up starts here: inputs, JVM, warm-up, indexes
    work = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data, books = os.path.join(work, "data"), os.path.join(work, "books")
        if a.workload == "books_etl":
            gen.books(books, N_BOOKS, a.seed)
        else:
            gen.tables(data, SF, a.seed)
        out = os.path.join(work, "run.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--t0-ms", str(int(t0 * 1000)), "--work", work,
                "--data", data, "--books", books, "--n-books", str(N_BOOKS), "--out", out]
        log(f"inputs generated in {time.time() - t0:.2f} s")
        run_jvm(cp, java_options, work, args, DEADLINE_S - (time.time() - start))
        t_jvm = time.time()
        with open(out) as f:
            run = json.load(f)

        dump = os.path.join(work, "dump")
        if a.workload == "books_etl":
            checks = books_check(books, dump)
            failed_keys = set() if all(checks.values()) else {"books_etl"}
        else:
            checks = oracle_check(data, dump)
            failed_keys = {k for k, good in checks.items() if not good}
        log(f"harness JVM ran {t_jvm - t0:.2f} s since set-up start; "
            f"checks took {time.time() - t_jvm:.2f} s")
        samples = run["samples"]
        for k, good in sorted(checks.items()):
            if not good:
                log(f"output check failed: {k}")
        for s in samples:
            if s["key"] in failed_keys and "err" not in s:
                s["err"] = "reference output failed its oracle check"
        failed = sum(1 for s in samples if "err" in s)
        untraced = [s for s in samples if not s["traced"]]
        e2e, report = end_to_end(run, untraced)
        for name, (v, unit, n) in report.items():
            print(f"{a.workload} {name} = {v:.6g} {unit} (n={n})")
        if a.trace == "1":
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in per_layer(run, samples).items()}
            path = write_spans(run, a.workload, a.seed)
            log(f"spans written to {os.path.relpath(path, ROOT)}")
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        print(json.dumps({"correct": failed == 0 and all(checks.values()),
                          "attempted": len(samples), "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
