#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <stream_dashboard|registry_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine plus the
benchmark's own Scala sources with sbt (offline) into the checkout; later
runs reuse the build while the sources are unchanged. The stream's input
is generated from the seed under `.bench_out/`; the registry reads the
tables under `perfbench/data/` in an order the seed fixes. The workload
runs in one JVM on `local[nproc]`, the outputs are checked against DuckDB
oracles, and the last line of stdout is the result object. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("stream_dashboard", "registry_mix")
# one or two queries per kind of work the registry does; README.md lists
# the ones left out and why
REGISTRY_QUERIES = [
    "q108_training_layout", "q152_prefix_jaccard", "q163_ppr",
    "q219_equidepth_hist", "q236_grouped_kmv", "q242_perplexity_buckets",
    "q05_join_chain", "q23_itemcf_histogram", "q40_boardstats_pairs"]
# queries whose layer metrics the README maps (ops rank cutover, llm)
OPS_RANK_QUERIES = ["q219_equidepth_hist", "q236_grouped_kmv",
                    "q242_perplexity_buckets"]
LLM_QUERIES = ["q108_training_layout", "q152_prefix_jaccard"]
# the reference's batch jobs (graft.jobs): ItemCF and BoardStats
JOBS_QUERIES = ["q23_itemcf_histogram", "q40_boardstats_pairs"]

# the engine's documented sf0.01 test tables (TESTDATA.md), copied unchanged
REGISTRY_TABLES = os.path.join(HERE, "data", "sf0.01")
# sizes: chosen so one run, set-up included, stays under a minute on 4
# cores (see README.md, "Sizing")
STREAM = dict(file_every_ms=50, rows_per_file=40,
              burst_rows=40000, burst_files=8, speedup=600,
              disorder_ms=300000, late_every=10, late_rows=20,
              late_by_ms=90 * 60000, trigger_ms=200)
# the measured stream's first data batch plans the query; its latency
# is set-up, not steady state
WARM_BATCHES = 1
JVM_TIMEOUT_S = 165
# fixed, so peak RSS compares across runs
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build ---------------------------------------------------------------

def source_fingerprint(root):
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/scala"):
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + benchmark sources once per source state; return
    the runtime classpath."""
    bdir = os.path.join(root, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "cp.txt")
    fp = source_fingerprint(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as c:
            same, cp = f.read() == fp, c.read().strip()
        # a plain sbt compile of the engine drops the benchmark's classes
        harness = os.path.join(cp.split(os.pathsep)[0], "perfbench",
                               "Harness.class")
        if same and os.path.exists(harness):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):  # resolve from the local mirror only
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           'set Compile / unmanagedSourceDirectories += '
           'baseDirectory.value / "perfbench" / "scala"',
           "compile", "export Runtime/fullClasspath"]
    log("building with sbt (first run in this checkout)")
    with open(os.path.join(bdir, "build.log"), "w") as out:
        r = subprocess.run(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
        out.write(r.stdout)
    cps = [l.strip() for l in r.stdout.splitlines()
           if "scala-2.13/classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"sbt build failed, see {bdir}/build.log", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    return cps[-1]


# ---- inputs --------------------------------------------------------------

def make_inputs(workload, seed, work, seconds):
    import gen
    os.makedirs(work, exist_ok=True)
    conf = {}
    if workload == "registry_mix":
        conf["input"] = REGISTRY_TABLES
        order = list(REGISTRY_QUERIES)
        random.Random(seed).shuffle(order)
        conf["queries"] = order
    else:
        # the schedule fills the measuring time: steady phase, a quiet
        # tenth, then the burst
        gen.write_stream(os.path.join(work, "stream"), seed,
                         steady_s=0.8 * seconds, quiet_ms=int(100 * seconds),
                         **STREAM)
        conf["plan"] = os.path.join(work, "stream", "plan.json")
    return conf


# ---- metrics -------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * q
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def read_source_log(ckpt):
    """file name → id of the micro-batch that read it, from the file
    source's metadata log in the checkpoint."""
    d = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _iso_ms(s):
    from datetime import datetime
    return datetime.strptime(s.replace("Z", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1000.0


def stream_latencies(landed, progress, file_batch,
                     skip_batches=None):
    """Per on-time steady file: seconds from its due time to the end of the
    micro-batch that read it. Files read by the first `skip_batches` data
    batches (warm-up) are excluded. Returns (latencies, burst catch-up s,
    burst lines)."""
    if skip_batches is None:
        skip_batches = WARM_BATCHES
    ends = {}
    for p in progress:
        ends[p["batchId"]] = _iso_ms(p["timestamp"]) + \
            p["durationMs"].get("triggerExecution", 0)
    data_batches = sorted({file_batch[f["name"]] for f in landed
                           if f["name"] in file_batch})
    skip = set(data_batches[:skip_batches])
    lat, burst_end, burst_lines, burst_landed = [], 0.0, 0, None
    for f in landed:
        b = file_batch.get(f["name"])
        if b is None or b not in ends:
            continue
        if f["burst"]:
            burst_end = max(burst_end, ends[b])
            burst_lines += f["lines"]
            burst_landed = f["landed_ms"] if burst_landed is None \
                else min(burst_landed, f["landed_ms"])
        elif not f["late"] and b not in skip:
            lat.append((ends[b] - f["due_ms"]) / 1000.0)
    catchup = (burst_end - burst_landed) / 1000.0 if burst_landed else float("nan")
    return lat, catchup, burst_lines


def summarize(workload, res, trace):
    """→ (end-to-end metrics, per-layer metrics, named workload metrics)."""
    m = res["measured"]
    setup = res["setup"]
    e2e = {"setup_s": setup["total_s"], "peak_rss_mb": res["peak_rss_mb"]}
    named = {}
    layer = {"core.session_s": setup["session_s"],
             "core.warmup_s": setup["warmup_s"]}
    spans = res["spans"]

    def add_counters(prefix, c, per=1.0):
        for k in ("jobs", "tasks", "shuffle_write_bytes",
                  "shuffle_write_records", "spill_bytes", "executor_cpu_s"):
            layer[f"{prefix}.{'spark_jobs' if k == 'jobs' else k}"] = \
                c.get(k, 0) / per

    if workload == "registry_mix":
        runs = [q for p in m["passes"] for q in p["queries"]]
        took = lambda q: q["construct_s"] + q["action_s"]
        qs = [q["query"] for q in m["passes"][0]["queries"]]
        plain = {q: [took(r) for r in runs if r["query"] == q
                     and not r["traced"]] for q in qs}
        per_q = {q: median(v) for q, v in plain.items()}
        # a traced run has no untraced pass; its total is then the sum of
        # the untraced query times
        whole = [sum(took(r) for r in p["queries"]) for p in m["passes"]
                 if not any(r["traced"] for r in p["queries"])]
        e2e["pass_s"] = median(whole) if whole else sum(per_q.values())
        e2e["op_p50_s"] = median([x for v in plain.values() for x in v])
        e2e["op_geomean_s"] = geomean(list(per_q.values()))
        named.update({"registry_total_s": e2e["pass_s"],
                      "registry_geomean_s": e2e["op_geomean_s"]})
        if trace:
            traced = {q: [r for r in runs if r["query"] == q and r["traced"]]
                      for q in qs}
            layer["trace.overhead_ratio"] = sum(
                median([took(r) for r in traced[q]]) for q in qs) / sum(
                per_q.values())
            layer["core.cached_bytes_peak"] = m["cached_bytes_peak"]

            def per_run(names):
                """Counters of the traced runs of `names`, per run of each
                query, summed over the queries."""
                tot = {}
                for q in names:
                    c = _total(spans, lambda s, q=q: s == f"queries.{q}")
                    for k, v in c.items():
                        tot[k] = tot.get(k, 0) + v / len(traced[q])
                return tot
            for q in qs:
                layer[f"queries.{q}.construct_s"] = median(
                    [r["construct_s"] for r in traced[q]])
                layer[f"queries.{q}.action_s"] = median(
                    [r["action_s"] for r in traced[q]])
                layer[f"queries.{q}.spark_jobs"] = per_run([q]).get("jobs", 0)
            rank = per_run(OPS_RANK_QUERIES)
            layer["ops.rank.spark_jobs"] = rank.get("jobs", 0)
            layer["ops.rank.shuffle_write_records"] = \
                rank.get("shuffle_write_records", 0)
            llm = per_run(LLM_QUERIES)
            layer["llm.shuffle_write_bytes"] = llm.get("shuffle_write_bytes", 0)
            layer["llm.executor_cpu_s"] = llm.get("executor_cpu_s", 0)
            add_counters("jobs", per_run(JOBS_QUERIES))
            add_counters("spark", per_run(qs))
    else:
        progress = m["progress"]
        file_batch = read_source_log(m["checkpoint"])
        lat, catchup, burst_lines = stream_latencies(
            m["landed"], progress, file_batch)
        # batches that read on-time steady files; a batch of late rows
        # only is all dropped and skips the store flush
        steady_batches = sorted({file_batch[f["name"]] for f in m["landed"]
                                 if not f["burst"] and not f["late"]
                                 and f["name"] in file_batch})
        trig = {p["batchId"]: p["durationMs"].get("triggerExecution", 0) / 1e3
                for p in progress}
        steady = [trig[b] for b in steady_batches[WARM_BATCHES:] if b in trig]
        e2e["pass_s"] = median(steady)
        e2e["op_p50_s"] = median(lat)
        e2e["op_geomean_s"] = geomean(lat)
        named.update({"stream_latency_p50_s": median(lat),
                      "stream_latency_p95_s": quantile(lat, 0.95),
                      "stream_latency_samples": len(lat),
                      "stream_catchup_rows_per_s": burst_lines / catchup,
                      "stream_generator_lag_s": max(
                          (f["landed_ms"] - f["due_ms"]) / 1e3
                          for f in m["landed"] if not f["late"]),
                      "stream_late_wait_s": max(
                          [(f["landed_ms"] - f["due_ms"]) / 1e3
                           for f in m["landed"] if f["late"]] or [0.0])})
        if trace:
            # even batches are traced, odd ones not (see Harness.scala)
            kept = [b for b in steady_batches[WARM_BATCHES:] if b in trig]
            tr = [trig[b] for b in kept if b % 2 == 0]
            untr = [trig[b] for b in kept if b % 2 == 1]
            layer["trace.overhead_ratio"] = (median(tr) / median(untr)
                                             if tr and untr else 1.0)
            bc = {c["key"]: c["counters"] for c in res["counters"]}
            nb = max(1, len(bc))
            tot = {}
            for c in bc.values():
                for k, v in c.items():
                    tot[k] = tot.get(k, 0) + v
            add_counters("spark", tot, nb)
            layer["streaming.spark_jobs_per_batch"] = tot.get("jobs", 0) / nb
            layer["streaming.tasks_per_batch"] = tot.get("tasks", 0) / nb
    if trace:
        if workload == "stream_dashboard":
            d = lambda k: [p["durationMs"].get(k, 0) / 1e3 for p in progress
                           if p["batchId"] in set(steady_batches[WARM_BATCHES:])]
            layer.update({
                "streaming.batches": len(progress),
                "streaming.add_batch_s.p50": median(d("addBatch")),
                "streaming.trigger_s.p50": median(d("triggerExecution")),
                "streaming.trigger_s.p95": quantile(d("triggerExecution"), 0.95),
                "streaming.query_planning_s.p50": median(d("queryPlanning")),
                "streaming.wal_commit_s.p50": median(d("walCommit")),
                "sources.latest_offset_s.p50": median(d("latestOffset")),
                "sources.get_batch_s.p50": median(d("getBatch")),
                "streaming.state_rows_max": max(
                    [o["numRowsTotal"] for p in progress
                     for o in p.get("stateOperators", [])] or [0]),
                "streaming.state_bytes_max": max(
                    [o["memoryUsedBytes"] for p in progress
                     for o in p.get("stateOperators", [])] or [0]),
                "streaming.rows_dropped_by_watermark": sum(
                    o.get("numRowsDroppedByWatermark", 0) for p in progress
                    for o in p.get("stateOperators", [])),
                "streaming.catchup_batch_s": catchup,
                "streaming.generator_lag_s": named["stream_generator_lag_s"],
                "sinks.stream_store_files": m["store_files"]})
            wm = [(_iso_ms(p["timestamp"]), _iso_ms(p["eventTime"]["watermark"]),
                   _iso_ms(p["eventTime"]["max"]))
                  for p in progress if "max" in p.get("eventTime", {})]
            layer["streaming.watermark_lag_s"] = median(
                [(mx - w) / 1e3 for _, w, mx in wm]) if wm else 0.0
        layer["trace.spans"] = len(spans)
    return e2e, layer, named


def _subtree(spans, ids):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), list(ids)
    while todo:
        i = todo.pop()
        if i not in out:
            out.add(i)
            todo += kids.get(i, [])
    return out


def _total(spans, pred):
    """Counters of every span matching `pred`, summed with descendants."""
    sub = _subtree(spans, {s["id"] for s in spans if pred(s["name"])})
    tot = {}
    for s in spans:
        if s["id"] in sub:
            for k, v in s["counters"].items():
                tot[k] = tot.get(k, 0) + v
    return tot


# ---- main ----------------------------------------------------------------

def unit_of(name):
    """Unit of a printed workload or layer metric, from its name."""
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if "bytes" in name:
        return "bytes"
    if "ratio" in name:
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "BENCHMARK.json"))):
        fail("run from the root of a checkout of the engine (needs "
             "build.sbt, src/main/scala/graft and BENCHMARK.json)")
    cp = build(root)

    work = os.path.join(".bench_out", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    t = time.time()
    conf = make_inputs(a.workload, a.seed, work, a.seconds)
    log(f"inputs generated in {time.time() - t:.1f} s")
    cores = len(os.sched_getaffinity(0))
    conf.update(workload=a.workload, work=work, seconds=a.seconds,
                trace=bool(a.trace), cores=cores)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    conf_path = os.path.join(work, "conf.json")
    with open(conf_path, "w") as f:
        json.dump(conf, f)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
            "perfbench.Harness", conf_path]
    with open(os.path.join(work, "jvm.log"), "w") as jl:
        try:
            r = subprocess.run(cmd, stdout=jl, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload timed out; see {work}/jvm.log", 4)
    if r.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as jl:
            sys.stderr.write("".join(jl.readlines()[-40:]))
        fail(f"workload JVM exited {r.returncode}; see {work}/jvm.log", 4)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    import checks
    if a.workload == "registry_mix":
        counted = {}
        for p in res["measured"]["passes"]:
            for q in p["queries"]:
                counted.setdefault(q["query"], []).append(q["rows"])
        results = checks.check_registry(root, conf["input"],
                                        res["checks"]["dir"], counted)
        ops = sum(len(p["queries"]) for p in res["measured"]["passes"])
    else:
        m = res["measured"]
        with open(conf["plan"]) as f:
            plan = json.load(f)
        results = checks.check_stream(m["store"], os.path.join(
            os.path.dirname(conf["plan"]), plan["watch_dir"]),
                                      m["landed"], plan["scenes"])
        ops = len(m["landed"])
        if m["lines_seen"] != m["lines_total"]:
            results.append(("stream.all_lines_read", False,
                            f"{m['lines_seen']} of {m['lines_total']}"))
    failed_checks = [r for r in results if not r[1]]
    for name, ok, detail in failed_checks[:20]:
        log(f"CHECK FAILED {name}: {detail}")
    log(f"{len(results) - len(failed_checks)}/{len(results)} output checks pass")

    e2e, layer, named = summarize(a.workload, res, bool(a.trace))
    attempted = ops + len(results)
    failed = len(failed_checks)
    named["failed_ratio"] = failed / attempted
    host = res["host"]
    log("host: loadavg %s→%s spin %.3f→%.3f s io %.3f→%.3f s" % (
        host["start"]["loadavg"], host["end"]["loadavg"],
        host["start"]["spin_probe_s"], host["end"]["spin_probe_s"],
        host["start"]["io_probe_s"], host["end"]["io_probe_s"]))
    for k, v in sorted(named.items()):
        print(f"{a.workload} {k} = {v:.6g} {unit_of(k)}")
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "e2e": e2e, "named": named, "layer": layer, "host": host,
              "checks": [list(r) for r in results], "spans": res["spans"]}
    with open(os.path.join(".bench_out", f"{a.workload}-seed{a.seed}-"
                           f"trace{a.trace}.json"), "w") as f:
        json.dump(record, f)
    # the metric names and units of the result line are BENCHMARK.json's
    with open("BENCHMARK.json") as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = layer if a.trace else e2e
    if a.trace:
        for k, v in sorted(layer.items()):
            print(f"{a.workload} layer {k} = {v:.6g} {unit_of(k)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec}
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        fail(f"no measurement for {bad}; see {work}/jvm.log", 5)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
