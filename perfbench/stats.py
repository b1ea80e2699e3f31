"""Pure metric math of the benchmark: medians, quartiles, work parity
and the per-layer aggregation of a traced run. No I/O, so it is unit
tested in ``perfbench/tests``."""

import statistics

# query families whose build phase writes shards (the `sources` layer)
SOURCE_QUERIES = ("k2_", "k7_", "k8_", "k11_")
# queries whose action runs the image kernels (the `functions` layer)
IMAGE_QUERIES = ("k1_",)
# queries whose build phase runs structured-streaming micro-batches
STREAM_QUERIES = ("q34_", "q70_", "q81_", "q103_")


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them;
    one value is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else 0.0


def parity_flags(queries, expected):
    """Work-parity check over the ``query`` records of one run.

    A query is flagged when
    * a warm pass (pass >= 1) returns another hash than expected, or
    * its warm passes do not all run the same number of jobs, or
    * its cold pass ran another number of jobs than its warm passes
      while building no fixture (the only allowed difference).
    Returns {query: reason}.
    """
    by_q = {}
    for r in queries:
        by_q.setdefault(r["query"], []).append(r)
    flags = {}
    for q, recs in by_q.items():
        cold = [r for r in recs if r["pass"] == 0]
        warm = [r for r in recs if r["pass"] >= 1]
        want = expected.get(q)
        bad = sorted({r["hash"] for r in warm if r["hash"] != want})
        jobs = sorted({r["jobs"] for r in warm})
        if want is not None and bad:
            flags[q] = f"warm hash {','.join(bad)} != expected {want}"
        elif len(jobs) > 1:
            flags[q] = f"warm passes ran {jobs} jobs"
        elif cold and jobs and cold[0]["jobs"] != jobs[0] \
                and cold[0]["fixtures_built"] == 0:
            flags[q] = (f"cold pass ran {cold[0]['jobs']} jobs, warm "
                        f"{jobs[0]}, with no fixture build")
    return flags


def failures(queries, expected):
    """Query executions that threw or returned a hash other than the
    expected one (a query without an expected hash cannot mismatch)."""
    bad = []
    for r in queries:
        want = expected.get(r["query"])
        if r["error"] or (want is not None and r["hash"] != want):
            bad.append(r)
    return bad


def live_memory_mb(queries):
    """Most memory any query held after its action: heap plus non-heap
    in use right after a full collection, over the probed queries (0
    when no query was probed)."""
    return max((r["live_heap_mb"] + r["live_nonheap_mb"] for r in queries
                if r["live_heap_mb"] > 0), default=0.0)


def attribute_jobs(jobs, spans):
    """Give each job that is not in a phase's job group (a streaming
    query runs its micro-batches under a group of its own) the phase
    span whose time window holds the job's start."""
    phases = [s for s in spans if s["kind"] == "phase"]
    for j in jobs:
        if j["parent"].count("/") == 2:
            continue
        for s in phases:
            if s["start_ms"] <= j["start_ms"] <= s["end_ms"]:
                j["parent"] = s["id"]
                break


def _sum(recs, key, pick=lambda r: True):
    return sum(r[key] for r in recs if pick(r))


def layer_metrics(records, cores):
    """Per-layer values of one traced warm pass from its records: the
    pass's ``query`` records plus the ``job``/``stage``/``stream``
    records whose spans fall in it. ``records`` is a dict with keys
    pass, queries, jobs, stages, streams."""
    qs = records["queries"]
    phase_of = {}  # job id -> (query, phase)
    for j in records["jobs"]:
        parts = j["parent"].split("/")
        if len(parts) == 3:
            phase_of[j["job"]] = (parts[1], parts[2])
    stages = records["stages"]

    def st(phase, key, query=lambda q: True):
        return sum(s[key] for s in stages
                   if s["job"] in phase_of and phase_of[s["job"]][1] == phase
                   and query(phase_of[s["job"]][0]))

    eager_jobs = sum(1 for p in phase_of.values() if p[1] == "build")
    action_jobs = sum(1 for p in phase_of.values() if p[1] == "action")
    action_stages = [s for s in stages
                     if phase_of.get(s["job"], ("", ""))[1] == "action"]
    action_s = _sum(qs, "action_s")
    task_s = st("action", "task_s")
    cpu_floor = task_s / cores
    mb = 1.0 / 1048576
    is_src = lambda q: q.startswith(SOURCE_QUERIES)
    is_stream = lambda q: q.startswith(STREAM_QUERIES)
    return {
        "SparkEntry.build_s": _sum(qs, "build_s"),
        "SparkEntry.eager_jobs": eager_jobs,
        "SparkEntry.eager_task_s": st("build", "task_s"),
        "catalyst.plan_s": _sum(qs, "plan_s"),
        "exec.action_s": action_s,
        "exec.jobs": action_jobs,
        "exec.stages": len(action_stages),
        "exec.tasks": sum(s["tasks"] for s in action_stages),
        "exec.task_s": task_s,
        "exec.cpu_s": st("action", "cpu_s"),
        "exec.gc_s": st("action", "gc_s"),
        "exec.cpu_floor_s": cpu_floor,
        "exec.stage_gap_s": action_s - cpu_floor,
        "exec.shuffle_write_mb": st("action", "shuffle_write_bytes") * mb,
        "exec.shuffle_read_mb": st("action", "shuffle_read_bytes") * mb,
        "exec.spill_mb": st("action", "spill_bytes") * mb,
        "exec.input_mb": st("action", "input_bytes") * mb,
        "exec.task_skew": max((s["skew"] for s in action_stages), default=1.0),
        "exec.failed_tasks": sum(s["failed_tasks"] for s in stages
                                 if s["job"] in phase_of),
        "codegen.compiles": _sum(qs, "compiles"),
        "codegen.compile_s": _sum(qs, "compile_s"),
        "InternalCaches.release_s": _sum(qs, "release_s"),
        "InternalCaches.persisted_rdds": _sum(qs, "persisted_rdds"),
        "InternalCaches.storage_peak_mb": max(
            (r["storage_mb"] for r in qs), default=0.0),
        "sources.write_s": _sum(qs, "build_s", lambda r: is_src(r["query"])),
        "sources.read_s": _sum(qs, "action_s", lambda r: is_src(r["query"])),
        "sources.bytes_written_mb": _sum(
            qs, "scratch_bytes_written", lambda r: is_src(r["query"])) * mb,
        "functions.image_s": _sum(
            qs, "action_s", lambda r: r["query"].startswith(IMAGE_QUERIES)),
        "streaming.build_s": _sum(
            qs, "build_s", lambda r: is_stream(r["query"])),
        # rows the streaming sinks report plus rows their micro-batches
        # wrote to files (a foreachBatch sink reports none)
        "streaming.output_rows": sum(s["rows"] for s in records["streams"])
        + st("build", "output_records", is_stream),
        "streaming.output_mb": st("build", "output_bytes", is_stream) * mb,
        "jvm.gc_s": records["pass"]["jvm_gc_s"],
    }
