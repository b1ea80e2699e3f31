"""Benchmark of the graft query engine: one named workload, one JVM.

    python3 perfbench/run.py --workload tfdata_etl --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The program and the harness are
compiled first (``perfbench/build.py``), the workload's input tables are
generated from ``--seed`` (``perfbench/gendata.py``), and one JVM at
``local[<cores>]`` runs a cold pass over the workload's queries followed
by a fixed number of warm passes (``perfbench/harness``). ``--seconds``
caps one pass: a pass that takes longer fails the run.

Every query's result is checked against ``perfbench/expected_hashes.json``.
Human-readable lines come first; the last line of stdout is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0`` and the per-layer metrics of the
traced warm passes with ``--trace 1``. See ``perfbench/NOTES.md``.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gendata  # noqa: E402
import stats  # noqa: E402

# name -> (queries, input rows the queries read). Each query set is cut
# from a longer one so that a run fits the time budget; NOTES.md lists
# what was cut and why.
WORKLOADS = {
    "tfdata_etl": ([
        "q03_class_dictionary", "q04_shuffle_split", "q05_epoch_batch",
        "q06_class_histogram", "q07_accuracy", "q08_epoch_metrics",
        "q09_shard_assign", "q10_step_counts", "k2_tfrecord_roundtrip",
        "k8_tfrecord_gzip", "k11_tfrecord_zstd", "k7_tar_roundtrip",
        "p1_training_data_pipeline", "p5_length_batches"],
        gendata.N_PARTS + gendata.N_DOCS),
    "eager_ingest": ([
        "s24_nsw_beam", "q103_stream_quality_gate", "q79_merge_commit"],
        gendata.N_DOCS + gendata.N_VECS),
}
# Queries a traced run adds to its workload's. k1_image_pipeline's image
# kernels (the `functions` layer) run in one task, whose time follows one
# core's speed: its cold pass spread 62 % over five seeds even alone, too
# much for end-to-end figures (NOTES.md).
TRACED_ONLY = {"tfdata_etl": ["k1_image_pipeline"]}

# The first set-up also loads the JVM's classes; the median of nine is
# that of a warm JVM.
SETUPS = 9
# A run makes a fixed number of warm passes, whatever their speed. The
# first warm pass still runs code the JIT is compiling, so one pass alone
# is a noisy measure.
WARM = 3
# A traced run makes four warm passes, traced, untraced, untraced,
# traced, so that the tracing overhead is not confused with the passes
# still getting faster as the JIT compiles.
TRACED_WARM = 4
JVM_TIMEOUT_S = 170
# build.sbt's javaOptions, except:
# * a fixed 2 GiB heap (build.sbt sizes it for a 128 GiB host), so that
#   pass times do not depend on when the heap grew;
# * no -XX:+ExplicitGCInvokesConcurrent: the memory probe's System.gc()
#   must be a full collection. The program itself never calls it, and
#   Spark's periodic one is 30 minutes apart.
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load_expected():
    with open(os.path.join(HERE, "expected_hashes.json")) as fh:
        return json.load(fh)


def run_jvm(cp, run_dir, queries, seconds, trace, warm):
    """One JVM over the workload; returns its records, grouped."""
    paths = {k: os.path.join(run_dir, k)
             for k in ("data", "root", "local", "work")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    out = os.path.join(run_dir, "records.jsonl")
    log = os.path.join(run_dir, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=paths["local"])
    cmd = ["java"] + JVM_OPTS + [
        # a run-private scratch root: operator scratch and fixture caches
        # live under java.io.tmpdir, Spark's block manager does not
        f"-Djava.io.tmpdir={paths['root']}",
        f"-Dspark.sql.warehouse.dir={os.path.join(paths['work'], 'warehouse')}",
        "-cp", cp, "perfbench.Harness",
        "queries=" + ",".join(queries), f"data={paths['data']}",
        f"root={paths['root']}", f"seconds={seconds}",
        f"warm={warm}", f"setups={SETUPS}", f"cpus={cores()}",
        f"trace={trace}", f"out={out}"]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=paths["work"], env=env,
                                stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"perfbench: harness JVM failed ({code})")
    return parse_records(out)


def parse_records(path):
    """Group the harness's records; stream progress is attributed to the
    query record that follows it (the harness drains the listener bus
    before writing each query record)."""
    rec = {"setup": [], "pass": [], "query": [], "span": [], "job": [],
           "job_end": [], "stage": [], "stream": [], "end": []}
    pending = []
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            kind = r.pop("type")
            if kind == "stream":
                pending.append(r)
                continue
            if kind == "query":
                for s in pending:
                    s["pass"] = r["pass"]
                    rec["stream"].append(s)
                pending = []
            rec[kind].append(r)
    return rec


def end_to_end(rec, input_rows):
    passes = {p["pass"]: p for p in rec["pass"]}
    warm = [p["wall_s"] for p in rec["pass"] if p["pass"] >= 1
            and not p["traced"]]
    warm_med = stats.median(warm)
    setups = [s["build_s"] + s["warmup_s"] for s in rec["setup"]]
    return {
        "setup_s": (stats.median(setups), "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (warm_med, "s"),
        "records_per_s": (input_rows / warm_med, "1/s"),
        "live_memory_mb": (stats.live_memory_mb(rec["query"]), "MB"),
    }, warm


def per_layer(rec, cores_used):
    """Medians over the traced warm passes of each per-layer metric."""
    stats.attribute_jobs(rec["job"], rec["span"])
    traced = [p for p in rec["pass"] if p["pass"] >= 1 and p["traced"]]
    rows = []
    for p in traced:
        n = p["pass"]
        prefix = f"p{n}/"
        rows.append(stats.layer_metrics({
            "pass": p,
            "queries": [q for q in rec["query"] if q["pass"] == n],
            "jobs": [j for j in rec["job"] if j["parent"].startswith(prefix)],
            "stages": rec["stage"],
            "streams": [s for s in rec["stream"] if s["pass"] == n],
        }, cores_used))
    out = {k: stats.median([r[k] for r in rows]) for k in rows[0]}
    setups = rec["setup"]
    out["GraftSession.build_s"] = stats.median([s["build_s"] for s in setups])
    out["GraftSession.warmup_s"] = stats.median(
        [s["warmup_s"] for s in setups])
    untraced = [p["wall_s"] for p in rec["pass"]
                if p["pass"] >= 1 and not p["traced"]]
    out["trace.overhead_s"] = (stats.median([p["wall_s"] for p in traced])
                               - stats.median(untraced))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cp = build.build()
    queries, input_rows = WORKLOADS[args.workload]
    if args.trace:
        queries = queries + TRACED_ONLY.get(args.workload, [])
    run_dir = os.path.join(build.BUILD, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        gendata.write(os.path.join(run_dir, "data"), args.seed)
        print(f"inputs: seed {args.seed}, "
              f"{time.time() - t0:.1f} s to generate")
        rec = run_jvm(cp, run_dir, queries, args.seconds, args.trace,
                      TRACED_WARM if args.trace else WARM)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    expected = load_expected()
    report(args, rec, {q: expected[q] for q in queries if q in expected},
           queries, input_rows)


def report(args, rec, expected, queries, input_rows):
    attempted = len(rec["query"])
    failed = stats.failures(rec["query"], expected)
    unknown = [q for q in queries if q not in expected]
    flags = stats.parity_flags(rec["query"], expected)
    e2e, warm = end_to_end(rec, input_rows)
    cores_used = rec["end"][0]["cores"]

    print(f"workload {args.workload}: {len(queries)} queries, "
          f"{len(rec['pass'])} passes, local[{cores_used}]")
    for q in queries:
        rs = [r for r in rec["query"] if r["query"] == q]
        cold = rs[0]
        w = [r for r in rs if r["pass"] >= 1]
        tot = lambda r: r["build_s"] + r["plan_s"] + r["action_s"] + r["release_s"]
        print(f"  {q:32s} cold {tot(cold):7.3f} s  warm "
              f"{stats.median([tot(r) for r in w]):7.3f} s "
              f"({' '.join(f'{tot(r):.2f}' for r in w)})  "
              f"build {stats.median([r['build_s'] for r in w]):6.3f} "
              f"plan {stats.median([r['plan_s'] for r in w]):6.3f} "
              f"action {stats.median([r['action_s'] for r in w]):6.3f}  "
              f"jobs {cold['jobs']}/{w[0]['jobs']}  "
              f"compiles {cold['compiles']}/{w[0]['compiles']}  "
              f"live {cold['live_heap_mb']:.0f}+{cold['live_nonheap_mb']:.0f} MB  "
              f"hash {w[0]['hash']}")
    for r in failed:
        print(f"  FAILED pass {r['pass']} {r['query']}: "
              f"{r['error'] or 'hash ' + r['hash'] + ' != ' + str(expected.get(r['query']))}")
    for q in unknown:
        print(f"  NO EXPECTED HASH {q}")
    print(f"parity.flags {len(flags)} count")
    for q, why in sorted(flags.items()):
        print(f"  parity flag {q}: {why}")
    q1, q2, q3 = stats.quartiles(warm)
    print(f"warm passes: {len(warm)}, quartiles {q1:.3f} / {q2:.3f} / "
          f"{q3:.3f} s, each {' '.join(f'{w:.3f}' for w in warm)}")
    print(f"failed_frac {len(failed) / attempted:.4f} frac")
    if args.trace:
        metrics = per_layer(rec, cores_used)
        metrics["parity.flags"] = len(flags)
        result = {k: (v, layer_unit(k)) for k, v in metrics.items()}
    else:
        result = e2e
    for k, (v, u) in result.items():
        print(f"{k} {v:.6g} {u}")
    print(json.dumps({
        "correct": not failed and not unknown,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
    }))


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("task_skew"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
