"""Metrics from a run's raw record: spans, passes, setups and checks."""
import math
import statistics

# the timed passes' own layer calls (absolute seconds in the layer
# table, shares of the pass wall in the result line)
PASS_CALLS = [
    "analytics.load_s", "analytics.summary_s", "analytics.cv_s",
    "ml.features_s", "ml.train_s", "ml.score_s",
    "dedup.pairs_s", "dedup.clusters_s", "dedup.keep_s",
    "retrieval.index_build_s", "retrieval.probe_long_s",
    "retrieval.probe_short_s",
]
SETUP_CALLS = ["tables.register_s", "fixturegen.write_s", "synth.generate_s"]
RUNNER = ["runner.planning_s", "runner.execution_s", "runner.overhead_s"]
COUNTS = ["runner.queries", "runner.failed", "dedup.pairs",
          "dedup.clusters", "dedup.kept_docs"]
ENGINE = [
    ("engine.jobs", "count"), ("engine.stages", "count"),
    ("engine.tasks", "count"), ("engine.tasks_failed", "count"),
    ("engine.no_task_s", "s"), ("engine.task_run_s", "s"),
    ("engine.task_cpu_s", "s"), ("engine.gc_s", "s"),
    ("engine.input_bytes", "B"), ("engine.input_rows", "count"),
    ("engine.output_bytes", "B"), ("engine.shuffle_write_bytes", "B"),
    ("engine.shuffle_read_bytes", "B"), ("engine.spill_bytes", "B"),
    ("engine.peak_exec_mem_bytes", "B"),
]
# measured but left out of the result line: constant 0 s in local mode
ENGINE_EXTRA = [("engine.shuffle_fetch_wait_s", "s")]


def frac_name(call: str) -> str:
    return call[:-2] + "_frac"


def per_layer_spec():
    """(name, unit) of every metric a traced run reports."""
    spec = [(frac_name(c), "ratio") for c in SETUP_CALLS + RUNNER + PASS_CALLS]
    spec += [(c, "count") for c in COUNTS]
    spec += [("retrieval.index_bytes_per_doc_byte", "ratio")]
    spec += ENGINE
    spec += [("trace.overhead_frac", "ratio")]
    return spec


# run_s (pass wall time) is reported beside these but not gated: on a
# shared host its run-to-run spread follows host contention
END_TO_END = [("setup_s", "s"), ("run_cpu_s", "s"), ("peak_rss_mb", "MB")]


def result_line(line, attempted, failed):
    """The object printed as the last line of a run."""
    units = dict(END_TO_END + per_layer_spec())
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in line.items()}}


def median(xs):
    return statistics.median(xs) if xs else math.nan


def percentile(xs, q):
    """Linear-interpolation percentile (numpy's default), q in [0, 1]."""
    s = sorted(xs)
    if not s:
        return math.nan
    pos = (len(s) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(xs, q, min_above=10):
    """The q-th percentile, or None unless at least `min_above` samples
    lie strictly above it: a tail read off fewer samples is noise."""
    p = percentile(xs, q)
    if math.isnan(p) or sum(1 for x in xs if x > p) < min_above:
        return None
    return p


def highest_tail(xs, min_above=10):
    """(q, value) of the highest percentile that still has `min_above`
    samples above it, or None for fewer than min_above + 1 samples."""
    n = len(xs)
    if n <= min_above:
        return None
    q = (n - 1 - min_above) / (n - 1)
    if tail_percentile(xs, q, min_above) is None:  # ties at the cut
        return None
    return q, percentile(xs, q)


def self_times(spans):
    """{span id: seconds of the span not covered by its children}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ns"], s["start_ns"]),
                     min(c["end_ns"], s["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def root_of(spans):
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] != -1:
            s = by_id[s["parent"]]
        return s
    return {s["id"]: root(s)["id"] for s in spans}


def failure_counts(passes, checks):
    """(attempted, failed): every client call of every timed pass plus
    every output check is one operation; a failed call (runner -1
    sentinel or exception) and a failed check each count once."""
    ops = [o for p in passes for o in p["ops"]]
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + \
        sum(1 for _, ok, _ in checks if not ok)
    return attempted, failed


def op_seconds(passes):
    return [o["s"] for p in passes for o in p["ops"] if o["ok"]]


def end_to_end(result, passes):
    """The result-line metrics of an untraced run."""
    return {
        "setup_s": median(result["setup_s"]),
        "run_cpu_s": median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": max(p["rss_peak_mb"] for p in passes),
    }


def workload_detail(passes):
    """Workload-specific figures, printed beside the result line."""
    out = {"run_s": median([p["wall_s"] for p in passes])}
    # the JVM's own JIT and GC seconds inside the timed passes: how much
    # of run_cpu_s is compilation and collection rather than the work
    for k in ["jit_s", "gc_s"]:
        out[k] = median([p[k] for p in passes if k in p])
    ops = op_seconds(passes)
    tail = highest_tail(ops)
    out["op_samples"] = len(ops)
    out["op_p50_s"] = median(ops)
    if tail:
        out[f"op_p{100 * tail[0]:.0f}_s"] = tail[1]
    qs = [q["runtime_s"] for p in passes for q in p.get("queries", [])
          if q["runtime_s"] >= 0]
    if qs:
        runner_wall = sum(p["extra"].get("runner.planning_s", 0) +
                          p["extra"].get("runner.execution_s", 0) +
                          p["extra"].get("runner.overhead_s", 0)
                          for p in passes)
        out["queries_per_s"] = len(qs) / runner_wall
        out["query_p50_s"] = median(qs)
        out["query_p90_s"] = tail_percentile(qs, 0.9)
        out["query_executions"] = len(qs)
    for k in ["study_s", "ml.p50_qerror", "dedup_docs_per_s", "index_build_s",
              "probe_long_qps", "probe_short_qps"]:
        vals = [p["extra"][k] for p in passes if k in p["extra"]]
        if vals:
            out[k] = median(vals)
    return out


def per_layer(result, spans, untraced_run_s):
    """Per-layer figures of a traced run. Returns (result-line metrics,
    absolute layer seconds for the artifact)."""
    passes = result["passes"]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    selfs = self_times(spans)
    roots = root_of(spans)
    by_id = {s["id"]: s for s in spans}
    # traced pass spans are the ones that carry engine counters
    traced_roots = {s["id"] for s in spans
                    if s["name"] == "bench.pass_s" and s["counters"]}
    setup_roots = {s["id"] for s in spans if s["name"] == "bench.setup_s"}
    n_traced = max(1, len(traced_roots))
    n_setup = max(1, len(setup_roots))
    traced_wall = sum(by_id[i]["end_ns"] - by_id[i]["start_ns"]
                      for i in traced_roots) / 1e9
    setup_wall = sum(by_id[i]["end_ns"] - by_id[i]["start_ns"]
                     for i in setup_roots) / 1e9

    def call_seconds(name, root_ids):
        return sum(s["end_ns"] - s["start_ns"] for s in spans
                   if s["name"] == name and roots[s["id"]] in root_ids) / 1e9

    seconds = {}
    for c in SETUP_CALLS:
        seconds[c] = call_seconds(c, setup_roots) / n_setup
    for c in PASS_CALLS:
        seconds[c] = call_seconds(c, traced_roots) / n_traced
    for k in RUNNER + COUNTS + ["retrieval.index_bytes_per_doc_byte"]:
        seconds[k] = sum(p["extra"].get(k, 0.0) for p in traced) / max(1, len(traced))
    engine = {}
    for i in traced_roots:
        for k, v in by_id[i]["counters"].items():
            if k == "engine.peak_exec_mem_bytes":
                engine[k] = max(engine.get(k, 0.0), v)
            else:
                engine[k] = engine.get(k, 0.0) + v
    for k, _ in ENGINE + ENGINE_EXTRA:
        v = engine.get(k, 0.0)
        seconds[k] = v if k == "engine.peak_exec_mem_bytes" else v / n_traced
    # the traced pass is the run's first, as the single pass of an
    # untraced run is; the base is that untraced run of the same seed
    # when one exists, else this run's later untraced pass (warmer, so
    # the overhead then reads high)
    base = untraced_run_s or median([p["wall_s"] for p in plain])
    seconds["trace.overhead_frac"] = median([p["wall_s"] for p in traced]) / base - 1.0
    seconds["trace.overhead_base_s"] = base
    # self times by layer over every root; they must add up to the wall
    layer_self = {}
    for s in spans:
        layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + selfs[s["id"]]
    root_wall = sum(s["end_ns"] - s["start_ns"] for s in spans
                    if s["parent"] == -1) / 1e9
    seconds["trace.self_sum_frac"] = sum(layer_self.values()) / root_wall
    seconds["layer_self_s"] = layer_self

    line = {}
    for c in SETUP_CALLS:
        line[frac_name(c)] = seconds[c] * n_setup / setup_wall if setup_wall else 0.0
    per_pass_wall = traced_wall / n_traced if traced_wall else math.nan
    for c in RUNNER + PASS_CALLS:
        line[frac_name(c)] = seconds[c] / per_pass_wall
    for k in COUNTS + ["retrieval.index_bytes_per_doc_byte"]:
        line[k] = seconds[k]
    for k, _ in ENGINE:
        line[k] = seconds[k]
    line["trace.overhead_frac"] = seconds["trace.overhead_frac"]
    return line, seconds
