#!/usr/bin/env python3
"""The benchmark of the transcript log pipeline: one command per workload.

    python3 perfbench/run.py --workload flagship_batch --seed 0 --seconds 20 --trace 0

Run from the repository root. It compiles the engine and the harness
(perfbench/build.py), generates the workload's inputs from --seed, runs the
workload in one JVM with at most four task threads, checks the outputs, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, measured untraced; with
--trace 1 they are the per-layer ones from a traced repeat of the same work,
and the spans are written to .bench_work/spans/.

Workloads (perfbench/workloads.json has the full notes):
  flagship_batch  TranscriptJob.run over generated transcripts into 5 sinks
  query_suite     warm passes over a fixed subset of the query registries

Add --record to store the run's outputs as the expected values of its seed
(query_suite: of every seed) in perfbench/expected.json.
"""

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import build  # noqa: E402
import querydata  # noqa: E402

CORES = 4
DEADLINE_S = 170  # the whole command, build excluded
QUERY_DATA_SEED = 42  # the query tables are fixed; the seed orders the queries

ROUTES = (("parse_hotrod", r"\t"), ("parse_json", r"^\s*\{"),
          ("parse_status", r"^status: "), ("parse_kv", r"^a="))
DEFAULT_ROUTE = "noop"
# Every sixth query of the sorted 128-query registry: a fixed subset, so
# that a cold pass and two timed warm passes fit the run; all four
# registries are represented.
SUITE = (
    "q_ann_brute", "q_attribute_keys", "q_body_edit", "q_containment",
    "q_curation_e2e", "q_dedup_simhash", "q_dup_clusters",
    "q_firehose_metrics", "q_hll_distinct", "q_llm_costs", "q_metrics_hist",
    "q_minhash_incremental", "q_normalize", "q_pii_redact",
    "q_resource_dedup", "q_severity_hist", "q_span_errors",
    "q_split_leakproof", "q_time_parser", "q_trace_summary",
    "q_transcript_sessions", "q_view_refresh")
FLAGSHIP_TURNS = 40000
# the micro-batch phase of the traced flagship run: one small file per batch
STREAM_FILES = 12
STREAM_CONVS = 500
SINKS = ("logs_v2", "logs_v2_resource", "tag_attributes_v2",
         "logs_attribute_keys", "logs_resource_keys")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_json(path):
    with open(path) as fh:
        return json.load(fh)


def metric_units(section):
    """(name, unit) of every metric in one section of BENCHMARK.json."""
    spec = load_json(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    return [(m["name"], m["unit"]) for m in spec[section]]


# ---------------------------------------------------------------- running

class Runner:
    def __init__(self, args, classpath, work):
        self.args = args
        self.classpath = classpath
        self.work = work
        self.t0 = time.monotonic()

    def jvm(self, workload, extra):
        """Run the harness for one workload; return its raw result."""
        out = os.path.join(self.work, f"{workload}.json")
        log = os.path.join(self.work, f"{workload}.log")
        cmd = ["java"]
        for p in JVM_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
                f"-Djava.io.tmpdir={self.work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", os.pathsep.join(self.classpath), "perfbench.Harness",
                "--workload", workload, "--seed", str(self.args.seed),
                "--trace", str(self.args.trace), "--cores", str(CORES),
                "--work", self.work, "--out", out]
        for k, v in extra.items():
            cmd += [f"--{k}", str(v)]
        t_start = time.monotonic()
        left = DEADLINE_S - (t_start - self.t0)
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(1.0, left))
            except subprocess.TimeoutExpired:
                raise SystemExit(f"perfbench: {workload} did not finish in time")
            finally:
                if proc.poll() is None:  # timed out, or this process is being stopped
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(out):
            with open(log, errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"perfbench: {workload} JVM exited with {code}")
        with open(out) as fh:
            raw = json.load(fh)
        shutil.copy(out, os.path.join(os.path.dirname(self.work), f"last-{workload}.json"))
        sys.stderr.write(f"perfbench: {workload} JVM {time.monotonic() - t_start:.1f}s, "
                         f"set-ups {[round(x, 2) for x in raw.get('setup_s', [])]}, marks {raw.get('marks')}\n")
        return raw


def classify_routes(parquet_dir):
    """Independent route counts: first match of the router's four
    predicates on `text`, else the default route."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    text = ds.dataset(parquet_dir, format="parquet").to_table(columns=["text"])["text"]
    remaining = pc.is_valid(text)
    counts = {}
    for route, pattern in ROUTES:
        hit = pc.and_(remaining, pc.fill_null(pc.match_substring_regex(text, pattern), False))
        counts[route] = pc.sum(hit).as_py() or 0
        remaining = pc.and_(remaining, pc.invert(hit))
    counts[DEFAULT_ROUTE] = pc.sum(remaining).as_py() or 0
    return counts


class Checks:
    """Operation outcomes: every timed operation and every output check."""

    def __init__(self):
        self.outcomes = []
        self.notes = []

    def op(self, ok, what=""):
        self.outcomes.append(bool(ok))
        if not ok:
            self.notes.append(what)

    def expect(self, name, got, want):
        self.op(got == want, f"{name}: got {got!r}, want {want!r}")


# ---------------------------------------------------------------- workloads

def flagship(runner, args, checks, expected):
    sizes = {"convs": 14000, "turns": FLAGSHIP_TURNS, "warm": 2,
             "reps": 1 if args.trace else max(3, round(args.seconds / 7)),
             "stream_files": STREAM_FILES, "stream_convs": STREAM_CONVS}
    raw = runner.jvm("flagship_batch", sizes)
    turns = raw["turns"]
    runs = raw["runs"]
    first = runs[0].get("counts")
    for r in runs:
        checks.op(r["ok"] and r["counts"] == first,
                  f"run: {r.get('error', '')} counts {r.get('counts')}")
    sinks = raw["sinks"]
    want = expected.get("sinks") if expected else None
    for name in SINKS:
        s = sinks[name]
        ok = s["snapshot_rows"] == s["read_rows"] == (first or {}).get(name)
        if want:
            ok = ok and want[name] == {"rows": s["read_rows"], "hash": s["hash"]}
        checks.op(ok, f"sink {name}: {s}")
    checks.expect("logs_v2 rows = input turns", sinks["logs_v2"]["read_rows"], turns)
    routes = classify_routes(os.path.join(runner.work, "flagship", "input"))
    checks.expect("route counts", raw["routes"], routes)
    if expected:
        checks.expect("recorded route counts", raw["routes"], expected["routes"])
    record = {"sinks": {n: {"rows": sinks[n]["read_rows"], "hash": sinks[n]["hash"]}
                        for n in SINKS}, "routes": routes}
    # one operation (the job) per repeat
    e2e = end_to_end(raw["setup_s"], turns, [[r["ms"] if r["ok"] else None] for r in runs])
    if not args.trace:
        return e2e, record
    layers = traced_layers(raw["trace"], checks, lambda runs: [(r["ok"], r["ms"] / 1000) for r in runs])
    layers["sinks.files"] = sum(sinks[n]["files"] for n in SINKS)
    layers["sinks.bytes_per_turn"] = sum(sinks[n]["bytes"] for n in SINKS) / turns
    layers.update(ablation_layers(raw["ablation"]))
    layers.update(stream_layers(raw["stream"], os.path.join(runner.work, "flagship", "stream_in"),
                                checks))
    # both sides: best of three untraced jobs after the same two warm-ups
    four = runs + raw["trace"]["before"] + raw["trace"]["after"]
    one = raw["one_thread"]
    for r in one["runs"]:
        checks.op(r["ok"], f"one-thread run: {r.get('error', '')}")
    rate4 = turns / (min(r["ms"] for r in four if r["ok"]) / 1000)
    rate1 = one["turns"] / (min(r["ms"] for r in one["runs"] if r["ok"]) / 1000)
    layers["executor.scaling_eff"] = rate4 / (CORES * rate1)
    return layers, raw.get("spans", [])


def stream_layers(stream, input_dir, checks):
    """Check the micro-batch ingest phase and return its layer metrics:
    every file is one batch, every batch commits, and the committed table
    holds every input turn, in the routes that an independent
    classification of the same files gives."""
    import pyarrow.dataset as ds
    appends = stream["appends"]
    for a in appends:
        checks.op(a["ok"], f"stream append: {a.get('error', '')}")
    checks.expect("stream batches = input files", len(appends), stream["input_files"])
    turns = ds.dataset(input_dir, format="parquet").count_rows()
    checks.expect("stream committed rows = input turns", stream["read_rows"], turns)
    checks.expect("stream snapshot rows = input turns", stream["snapshot_rows"], turns)
    checks.expect("stream route counts", stream["routes"], classify_routes(input_dir))
    return {"streaming.batch_ms": benchlib.median(stream["batch_ms"]),
            "streaming.plan_ms": benchlib.median(stream["plan_ms"]),
            "streaming.offsets_ms": benchlib.median(stream["offsets_ms"]),
            "streaming.wal_ms": benchlib.median(stream["wal_ms"]),
            "sinks.append_ms": benchlib.median([a["ms"] for a in appends]),
            "sinks.snapshot_bytes": stream["snapshot_bytes"]}


def query_suite(runner, args, checks, expected):
    names = list(SUITE)
    random.Random(args.seed).shuffle(names)
    data = os.path.join(runner.work, "qdata")
    querydata.write(data, QUERY_DATA_SEED)
    qfile = os.path.join(runner.work, "queries.txt")
    with open(qfile, "w") as fh:
        fh.write("\n".join(names))
    raw = runner.jvm("query_suite", {"data": data, "queries": qfile,
                                     "passes": 1 if args.trace else max(2, round(args.seconds / 7))})
    passes = raw["passes"]
    want_all = (expected or {}).get("queries", {})
    for p in passes:
        for q in p:
            want = want_all.get(q["query"], {"rows": q["rows"], "hash": q["hash"]})
            checks.op(q["ok"] and {"rows": q["rows"], "hash": q["hash"]} == want,
                      f"{q['query']}: {q.get('error', '')} rows {q['rows']} hash {q['hash']}")
    record = {"queries": {q["query"]: {"rows": q["rows"], "hash": q["hash"]}
                          for q in passes[0] if q["ok"]}}
    e2e = end_to_end(raw["setup_s"], len(names),
                     [[q["ms"] if q["ok"] else None for q in p] for p in passes])
    if not args.trace:
        return e2e, record
    layers = traced_layers(raw["trace"], checks, lambda qs: [(q["ok"], q["ms"] / 1000) for q in qs])
    traced = raw["trace"]["traced"]
    layers["driver.build_s"] = sum(q["build_ms"] for q in traced) / 1000
    for reg in ("logs", "data", "traces", "metrics"):
        layers[f"queries.{reg}_s"] = sum(q["ms"] for q in traced if q["registry"] == reg) / 1000
    return layers, raw.get("spans", [])


def end_to_end(setup_s, items, repeats):
    """End-to-end metrics from the set-up samples and k aligned repeats of
    the timed operations (ms, None where an operation failed). Throughput
    and p50 use each operation's best over the repeats, which filters the
    host's bursts of slowness; the tail is taken over every raw sample, so
    that intermittent slowness of the program shows there."""
    best = benchlib.best_of(repeats)
    raw = [x for rep in repeats for x in rep if x is not None]
    return {"setup_s": benchlib.median(setup_s),
            "items_per_s": items / (sum(best) / 1000),
            "op_p50_ms": benchlib.median(best),
            "op_tail_ms": benchlib.tail(raw)[1]}


def traced_layers(trace, checks, units):
    """Layer counters of the traced repeat, its executor busy share, and the
    tracing overhead against the mean of the untraced repeats around it.
    `units` maps one repeat to [(ok, seconds)] per operation."""
    seconds = {}
    for part in ("before", "traced", "after"):
        ops = units(trace[part])
        for ok, _ in ops:
            checks.op(ok, f"traced run, {part} repeat")
        seconds[part] = sum(t for _, t in ops)
    layers = dict(trace["layers"])
    layers["executor.busy_share"] = layers.get("executor.task_s", 0) / (seconds["traced"] * CORES)
    layers["trace.overhead"] = seconds["traced"] / ((seconds["before"] + seconds["after"]) / 2) - 1
    return layers


def ablation_layers(ablation):
    stages = (("scan", "sources.scan_s"), ("adapt", "sources.adapt_s"),
              ("route_parse", "pipeline.route_parse_s"),
              ("enrich", "enrich.lookup_s"), ("shape", "exporter.shape_s"))
    prefix = ablation["prefix_s"]
    own = benchlib.prefix_self_times([(s, min(prefix[s])) for s, _ in stages])
    out = {metric: own[stage] for stage, metric in stages}
    routes = ablation["routes"]
    for route in [r for r, _ in ROUTES] + [DEFAULT_ROUTE]:
        out[f"pipeline.route_rows.{route}"] = routes.get(route, {}).get("rows", 0)
    parsers = [v for r, v in routes.items() if r != DEFAULT_ROUTE]
    out["pipeline.parse_ok_ratio"] = (sum(v["parsed"] for v in parsers)
                                      / max(1, sum(v["rows"] for v in parsers)))
    return out


WORKLOADS = {"flagship_batch": flagship, "query_suite": query_suite}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this seed's outputs in perfbench/expected.json")
    args = ap.parse_args(argv)
    # a stop request unwinds through the finally blocks, which stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: stopped"))

    root = os.getcwd()
    t_build = time.monotonic()
    classpath = build.build(root)
    build_s = time.monotonic() - t_build
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    expected_all = load_json(os.path.join(HERE, "expected.json"))
    section = expected_all.get(args.workload, {})
    expected = section if args.workload == "query_suite" else \
        section.get("seeds", {}).get(str(args.seed))
    checks = Checks()
    try:
        runner = Runner(args, classpath, work)
        values, extra = WORKLOADS[args.workload](runner, args, checks, expected)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        spans_dir = os.path.join(root, ".bench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"spans": extra,
                       "self_s_by_name": {k: v / 1000 for k, v in
                                          benchlib.self_time_by_name(extra).items()}}, fh)
        values["trace.spans"] = len(extra)
        table = metric_units("per_layer")
    else:
        table = metric_units("end_to_end")
        if args.record and args.workload != "query_suite":
            expected_all.setdefault(args.workload, {}).setdefault("seeds", {})[str(args.seed)] = extra
        elif args.record:
            expected_all[args.workload] = extra
        if args.record:
            with open(os.path.join(HERE, "expected.json"), "w") as fh:
                json.dump(expected_all, fh, indent=1, sort_keys=True)
                fh.write("\n")

    attempted, failed, _ = benchlib.account(checks.outcomes)
    for note in checks.notes:
        sys.stderr.write(f"perfbench: check failed: {note}\n")
    sys.stderr.write(f"perfbench: build {build_s:.1f}s, run {time.monotonic() - t_build - build_s:.1f}s\n")
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in table}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
