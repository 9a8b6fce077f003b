"""Statistics of one benchmark run: from the raw record the JVM writes to
the end-to-end and per-layer metrics `run.py` prints.

Pure functions only; `test_stats.py` covers them.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# Candidate tail percentiles, highest first (nearest-rank definition).
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10

STMT_KINDS = ("import", "update", "merge", "delete", "select", "batch_insert",
              "export")
LAYERS = ("wrapper", "logstore", "dml", "queries", "spark")
DML_KINDS = ("update", "merge", "delete")
# Query groups of the suite, by package: their members come with the run.
SUITE_GROUPS = ("queries.graph_s", "queries.vector_s")
# Spark counters summed over a traced operation's spans: metric, span key,
# unit.
SPARK_SUMS = (("spark.jobs", "jobs", "count"),
              ("spark.stages", "stages", "count"),
              ("spark.tasks", "tasks", "count"),
              ("spark.task_failures", "task_failures", "count"),
              ("spark.task_run_ms", "run_ms", "ms"),
              ("spark.task_cpu_ms", "cpu_ms", "ms"),
              ("spark.task_gc_ms", "gc_ms", "ms"),
              ("spark.task_wait_ms", "wait_ms", "ms"),
              ("spark.shuffle_read_bytes", "shuffle_read", "B"),
              ("spark.shuffle_write_bytes", "shuffle_write", "B"),
              ("spark.spill_bytes", "spill", "B"),
              ("spark.output_bytes", "out_bytes", "B"))


def valid_name(name):
    """A metric or workload name: a letter or digit, then at most 63
    letters, digits, `_`, `.` and `-`."""
    return isinstance(name, str) and NAME_RE.match(name) is not None


def nearest_rank(sorted_values, pct):
    """Index of the nearest-rank `pct` percentile in a sorted list."""
    n = len(sorted_values)
    return min(n - 1, max(0, math.ceil(pct / 100.0 * n) - 1))


def tail(values, min_beyond=MIN_BEYOND):
    """(value, percentile) at the highest ladder percentile with at least
    `min_beyond` samples above it. With too few samples for any rung, no
    tail percentile can be measured and the median is reported (percentile
    50): the maximum of a handful of samples is a single sample, and varies
    from run to run as much as one operation does."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    for pct in TAIL_LADDER:
        i = nearest_rank(s, pct)
        if len(s) - 1 - i >= min_beyond:
            return s[i], pct
    return median(s), 50.0


def fail_ratio(attempted, failed):
    """Failed operations over attempted ones; `attempted` must be >= 1."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must be within 0..attempted")
    return failed / attempted


def count_failed(ops, failed_names=()):
    """Failed operations: those the JVM flagged, plus every operation whose
    name failed a run-level output check."""
    bad = set(failed_names)
    return sum(1 for op in ops if op["failed"] or op["name"] in bad)


def median(values, default=0.0):
    return statistics.median(values) if values else default


def mean(values, default=0.0):
    return sum(values) / len(values) if values else default


def ops_from_record(rec):
    return [{"name": o[0], "s": o[1], "traced": o[2], "failed": o[3],
             "id": o[4]} for o in rec["ops"]]


def end_to_end(rec, ops, failed, gen_s):
    """The user-visible metrics of one run."""
    times = [o["s"] for o in ops if not o["traced"]] or [o["s"] for o in ops]
    tail_v, tail_p = tail(times)
    setup = (gen_s + rec["session_s"] + median(rec["setup_reps_s"])
             + rec["warmup_s"])
    metrics = {
        "op_p50_s": (median(times), "s"),
        "op_tail_s": (tail_v, "s"),
        "ops_per_s": (len(ops) / rec["wall_s"], "1/s"),
        "setup_s": (setup, "s"),
        "peak_rss_mb": (rec["vm_hwm_kb"] / 1024.0, "MB"),
    }
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["s"])
    detail = {"op_samples": len(times), "op_tail_percentile": tail_p,
              "op_max_s": max(times),
              "op_median_s_by_name": {k: [len(v), median(v)]
                                      for k, v in sorted(by_name.items())},
              "fail_ratio": fail_ratio(len(ops), failed),
              "setup_parts_s": {"generate": gen_s,
                                "session": rec["session_s"],
                                "setup_reps": rec["setup_reps_s"],
                                "warmup": rec["warmup_s"]}}
    return metrics, detail


def _self_ms(span, children):
    """Time a span spends outside its child spans, its Spark jobs and its
    planning."""
    return max(0.0, span["ms"] - sum(c["ms"] for c in children)
               - span["job_wall_ms"] - span["plan_ms"])


def per_layer(rec, ops, failed, suite_groups):
    """Per-layer metrics of a traced run. Spans come from the traced
    operations only; every metric is reported, 0 for an idle layer."""
    spans = rec["spans"]
    traced = [o for o in ops if o["traced"]]
    n_traced = max(1, len(traced))
    untraced = [o["s"] for o in ops if not o["traced"]]
    by_name = {}
    children = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
        children.setdefault(s["parent"], []).append(s)
    extra = rec.get("extra", {})
    m = {}

    def named_ms(name):
        return [s["ms"] for s in by_name.get(name, [])]

    for name in ("open", "commit", "finish"):
        m[f"wrapper.{name}_ms"] = (median(named_ms(name)), "ms")
    for k in STMT_KINDS:
        m[f"wrapper.stmt_ms.{k}"] = (median(named_ms(k)), "ms")
        m[f"wrapper.jobs_per_stmt.{k}"] = (
            mean([s["jobs"] for s in by_name.get(k, [])]), "count")
    d = rec.get("dispatch_us")
    m["wrapper.dispatch_us"] = (d if d is not None else 0.0, "us")

    jobs = extra.get("jobs", 0)
    m["logstore.files"] = (extra.get("log_files", 0), "count")
    m["logstore.bytes_per_job"] = (
        extra.get("log_bytes", 0) / jobs if jobs else 0.0, "B")
    per_job = {}
    for name in ("commit", "finish"):
        for s in by_name.get(name, []):
            per_job[s["op"]] = per_job.get(s["op"], 0.0) + s["ms"]
    series = [per_job[k] for k in sorted(per_job)]
    m["logstore.growth"] = (growth(series), "ratio")

    dml = [s for k in DML_KINDS for s in by_name.get(k, [])]
    affected = sum(max(0, s.get("rows", 0)) for s in dml)
    written = sum(s["out_records"] for s in dml)
    m["dml.write_amp"] = (written / affected if affected else 0.0, "ratio")
    m["dml.bytes_written"] = (
        sum(s["out_bytes"] for s in dml) / n_traced if dml else 0.0, "B")

    builds = by_name.get("build", [])
    execs = by_name.get("exec", [])
    m["queries.build_ms"] = (median([s["ms"] for s in builds]), "ms")
    m["queries.build_jobs"] = (mean([s["jobs"] for s in builds]), "count")
    m["queries.exec_ms"] = (
        median([s["ms"] - s["plan_ms"] for s in execs]), "ms")
    per_query = {}
    for o in ops:
        per_query.setdefault(o["name"], []).append(o["s"])
    for metric in SUITE_GROUPS:
        m[metric] = (sum(median(per_query[q])
                         for q in suite_groups.get(metric, ())
                         if q in per_query), "s")

    m["spark.plan_ms"] = (sum(s["plan_ms"] for s in spans) / n_traced, "ms")
    for metric, key, unit in SPARK_SUMS:
        m[metric] = (sum(s[key] for s in spans) / n_traced, unit)
    m["spark.peak_exec_mem_bytes"] = (
        max([s["peak_mem"] for s in spans] or [0]), "B")
    op_ms = sum(o["s"] for o in traced) * 1000.0
    m["spark.core_util"] = (
        sum(s["run_ms"] for s in spans) / (op_ms * rec["cpus"])
        if op_ms else 0.0, "ratio")

    selfs = {layer: 0.0 for layer in LAYERS}
    top_level = 0.0
    for s in spans:
        if s["layer"] == "op":
            top_level += sum(c["ms"] for c in children.get(s["id"], []))
            continue
        selfs[s["layer"]] += _self_ms(s, children.get(s["id"], []))
        selfs["spark"] += s["job_wall_ms"] + s["plan_ms"]
    for layer in LAYERS:
        m[f"self_ms.{layer}"] = (selfs[layer] / n_traced, "ms")
    m["unattributed_ms"] = (max(0.0, op_ms - top_level) / n_traced, "ms")

    m["trace.overhead_s"] = (
        median([o["s"] for o in traced]) - median(untraced)
        if traced and untraced else 0.0, "s")
    m["env.canary_s"] = (mean(rec["canary_s"]), "s")
    m["env.nproc"] = (rec["cpus"], "count")
    m["env.heap_mb"] = (rec["heap_mb"], "MB")
    m["env.spark_version"] = (version_number(rec["spark_version"]), "version")
    m["env.steal_pct"] = (rec["steal_pct"], "%")
    m["fail_ratio"] = (fail_ratio(len(ops), failed), "ratio")
    return m


def growth(series):
    """Mean of the last tenth of a series over the mean of its first tenth
    (at least one element each); 0 for fewer than two elements."""
    if len(series) < 2:
        return 0.0
    k = max(1, len(series) // 10)
    first = mean(series[:k])
    return mean(series[-k:]) / first if first else 0.0


def version_number(v):
    """"4.1.2" -> 40102."""
    parts = (re.findall(r"\d+", v) + ["0", "0", "0"])[:3]
    return int(parts[0]) * 10000 + int(parts[1]) * 100 + int(parts[2])
