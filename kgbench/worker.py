"""One benchmark run in one process and one Spark session.

Started by ``run.py`` with the checkout on PYTHONPATH. Prints a JSON info
line and, last, a JSON line ``{"correct", "attempted", "failed", "values"}``
with every metric value by name.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from kgbench import procfs, workloads
from kgbench.tracing import IDLE_GROUP, Tracer, layer_counters

# Input size per workload. An ingest repetition takes about 2.5 s on a
# 4-core machine; a kg_build pass takes 13-30 s whatever its size, since
# per-job and per-file cost dominates it.
PAGES = {"ingest_memo": 4000, "ingest_context": 700, "kg_build": 1200}
# inputs are generated and cached this many times; set-up reports the median
PREPARE_REPS = 3
# Untimed passes before the timed ones (JIT, codegen, worker start, memo).
# kg_build has none: every run starts a fresh JVM, and its passes keep
# getting faster for four or more passes (about 30, 18, 16, 13 s), more
# than a run can afford. Its timed pass is the first one, as in a freshly
# submitted KG job.
WARMUP_PASSES = {"ingest_memo": 1, "ingest_context": 1, "kg_build": 0}
# Ingest repetitions are short, so a run takes the median of at least four.
# A traced kg_build run makes a second, warm pass: trace.overhead_ratio
# compares the traced pass with it rather than with the cold one.
MIN_REPS = {"ingest_memo": 4, "ingest_context": 4, "kg_build": 1}
TRACE_MIN_REPS = {"ingest_memo": 4, "ingest_context": 4, "kg_build": 2}
LAYERS = ["text", "tagging", "triples", "checkpoint.write", "checkpoint.read",
          "er.exact", "er.fuzzy", "er.cc", "canon"]


def _session(cores: int, work: str):
    from unsupervised_ner_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "kgbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()  # first job: class loading
    return spark


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def run(args) -> tuple[dict, dict]:
    cores, ram = procfs.nproc(), procfs.mem_total_bytes()
    started = time.perf_counter()
    spark, session_s = _timed(lambda: _session(cores, args.work))
    sc = spark.sparkContext
    sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    wl = workloads.make(args.workload, spark, args.seed, args.work, PAGES[args.workload])

    prepare_s = [_timed(wl.prepare)[1] for _ in range(PREPARE_REPS)]
    warm_walls, warmup_s = _timed(lambda: warm_up(wl, WARMUP_PASSES[args.workload]))
    setup_s = session_s + statistics.median(prepare_s) + warmup_s

    procfs.reset_peak_rss(procfs.process_tree(jvm_pid))
    cpu0, tree_cpu0 = procfs.cpu_times(), procfs.tree_cpu_s(procfs.process_tree(os.getpid()))
    min_reps = (TRACE_MIN_REPS if args.trace else MIN_REPS)[args.workload]
    walls, out_bytes, failures, attempted = timed_reps(wl, args.seconds, min_reps)
    cpu1, tree_cpu1 = procfs.cpu_times(), procfs.tree_cpu_s(procfs.process_tree(os.getpid()))
    tree = procfs.process_tree(jvm_pid)
    peak_rss = procfs.peak_rss_bytes(tree)
    jvm_rss = procfs.peak_rss_bytes([jvm_pid])

    checks, checks_s = _timed(lambda: wl.checks(len(walls)))
    failed = len(failures)
    if not all(ok for _, ok, _ in checks):
        failed = attempted
    wall_s = statistics.median(walls) if walls else float("nan")
    values = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "docs_per_s": wl.input_props["pages"] / wall_s,
        "peak_rss_mb": peak_rss / (1 << 20),
        "bytes_per_input_byte": statistics.median(out_bytes) / wl.input_props["input_bytes"]
        if out_bytes else float("nan"),
        "ok_ratio": (attempted - failed) / attempted,
    }
    info = {
        "workload": args.workload, "seed": args.seed, "nproc": cores,
        "ram_gb": round(ram / (1 << 30), 2),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEM"),
        "input": wl.input_props,
        "setup": {"session_s": session_s, "prepare_s": prepare_s,
                  "warmup_walls_s": warm_walls},
        "walls_s": walls, "reps": len(walls),
        # over the timed repetitions: the session's CPU seconds, and the
        # machine's share of CPU time taken by other guests of the host
        "timed_cpu_s": tree_cpu1 - tree_cpu0,
        "timed_steal_share": procfs.steal_share(cpu0, cpu1),
        "peak_rss_mb": {"jvm": jvm_rss / (1 << 20), "python_workers": (peak_rss - jvm_rss) / (1 << 20),
                        "processes": len(tree)},
        "session_age_s": time.perf_counter() - started,
        "outputs": wl.reference,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "checks_s": checks_s,
        "failures": failures,
    }

    if args.trace:
        tr = Tracer(sc, run_id=f"{args.workload}-{args.seed}")
        counts = wl.traced(tr)
        sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)
        root = next(s for s in tr.spans if s["parent"] is None)
        if wl.traced_outputs != wl.reference:
            failed = attempted
            info["failures"].append(f"traced outputs {wl.traced_outputs} differ")
        values.update(trace_values(tr, counts, root, walls[-1] if walls else float("nan")))
        values.update(wl.kernel_metrics(tr.self_time("tagging"),
                                        counts["text.sentences_out"], cores))
        for layer, c in layer_counters(sc, LAYERS).items():
            values.update({f"{layer}.{k}": v for k, v in c.items()})
        info["spans"] = tr.spans

    t0 = time.perf_counter()
    spark.stop()
    info["stop_s"] = time.perf_counter() - t0
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "values": values}, info


def warm_up(wl, passes: int) -> list[float]:
    """Untimed passes; the first outputs become the reference every later
    pass and repetition must reproduce. A pass that yields no result (see
    ``Workload.warm_up_pass``) sets no reference."""
    walls = []
    for i in range(passes):
        result, wall = _timed(lambda i=i: wl.warm_up_pass(i))
        walls.append(wall)
        if result is None:
            continue
        outputs = wl.outputs(result)
        if wl.reference is None:
            wl.reference = outputs
        elif outputs != wl.reference:
            raise RuntimeError(f"warm-up outputs differ: {outputs} vs {wl.reference}")
        wl.release(result)
    return walls


def timed_reps(wl, seconds: float, min_reps: int):
    """Closed loop: repetitions until ``seconds`` of measured time and at
    least ``min_reps``; checking and cleanup between them are not timed.
    Returns (walls, output bytes, failures, attempted)."""
    walls, out_bytes, failures = [], [], []
    attempted = 0
    while attempted < min_reps or sum(walls) < seconds:
        attempted += 1
        try:
            result, wall = _timed(lambda: wl.run_once(attempted))
            # the structural checks are deterministic: one repetition suffices
            bad = [f"{name}: {detail}" for name, ok, detail in
                   (wl.rep_checks(result) if attempted == 1 else []) if not ok]
            outputs = wl.outputs(result)
            if wl.reference is None:  # no warm-up: the first repetition sets it
                wl.reference = outputs
            elif outputs != wl.reference:
                bad.append(f"outputs {outputs} differ from the first pass {wl.reference}")
            out_bytes.append(wl.output_bytes(result))
            wl.release(result)
        except Exception:
            traceback.print_exc()
            bad, wall = ["raised"], None
        if bad:
            failures.append(f"rep {attempted}: " + "; ".join(bad))
        if wall is not None:
            walls.append(wall)
        if attempted >= 4 * min_reps and not walls:
            break
    return walls, out_bytes, failures, attempted


def trace_values(tr, counts: dict, root: dict, untraced_s: float) -> dict:
    """Self times and counts by layer; a layer the workload does not run
    reads 0. ``untraced_s`` is the last untraced repetition's wall time."""
    v = {k: 0 for k in (
        "checkpoint.bytes_written", "checkpoint.files_written", "er.exact.nodes_out",
        "er.fuzzy.edges_out", "er.fuzzy.edges_per_node", "er.cc.rounds",
        "er.entities_out", "er.merge_ratio", "canon.rows_out")}
    v.update(counts)
    for layer in ("text", "tagging", "triples", "er", "er.exact", "er.fuzzy", "er.cc", "canon"):
        v[f"{layer}.self_s"] = tr.self_time(layer)
    v["checkpoint.write_s"] = tr.self_time("checkpoint.write")
    v["checkpoint.read_s"] = tr.self_time("checkpoint.read")
    v["tagging.mentions_per_s"] = counts["tagging.mentions_out"] / tr.self_time("tagging")
    v["trace.overhead_ratio"] = (root["end"] - root["start"]) / untraced_s
    return v


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PAGES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    result, info = run(args)
    print(json.dumps({"info": info}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
