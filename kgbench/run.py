"""KG-pipeline benchmark: one run of one workload.

    python3 kgbench/run.py --workload {ingest_memo,ingest_context,kg_build} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of this repository. The run starts one
worker process with one Spark session at local[nproc], counts the ERROR
lines of its log, and prints as its last stdout line one JSON object
(correct, attempted, failed, metrics). With --trace 0 the metrics are the
``end_to_end`` list of BENCHMARK.json, with --trace 1 the ``per_layer``
list; names and units come from that file. See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

TIMEOUT_S = 170
ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")


def fail(msg: str) -> int:
    print(f"kgbench: {msg}", file=sys.stderr)
    return 2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "unsupervised_ner_spark", "__init__.py")):
        return fail("run from the root of a checkout: unsupervised_ner_spark/ is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as fp:
        spec = json.load(fp)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(root, ".kgbench_work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    sys.path.insert(0, root)
    from kgbench.procfs import driver_memory, group_running, mem_total_bytes

    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": driver_memory(mem_total_bytes()),
        # the launcher JVM that spark-submit starts first: no /tmp files
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # one string-hash layout for the driver and every Python worker, so
        # dict and set layouts do not differ from run to run
        "PYTHONHASHSEED": "0",
    })
    cmd = [sys.executable, "-m", "kgbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work]
    # on SIGTERM, leave through the finally below, which stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    out_lines: list[str] = []
    errors = [0]

    def pump_stdout():
        out_lines.extend(proc.stdout)

    def pump_stderr():
        for line in proc.stderr:
            if ERROR_LINE.match(line):
                errors[0] += 1
            sys.stderr.write(line)

    pumps = [threading.Thread(target=f, daemon=True) for f in (pump_stdout, pump_stderr)]
    for t in pumps:
        t.start()
    try:
        proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return fail(f"worker exceeded {TIMEOUT_S} s")
    finally:
        try:  # the session's JVM and Python workers share the process group
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        deadline = time.monotonic() + 30
        while group_running(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        for t in pumps:
            t.join(timeout=10)
        shutil.rmtree(work, ignore_errors=True)
    lines = [line.rstrip("\n") for line in out_lines if line.strip()]
    if proc.returncode != 0 or not lines:
        return fail(f"worker exited with {proc.returncode}")
    result = json.loads(lines[-1])
    values = dict(result["values"], **{"spark.log_error_lines": errors[0]})
    missing = [m["name"] for m in wanted if m["name"] not in values
               or not math.isfinite(values[m["name"]])]
    if missing:
        return fail(f"metrics missing or not finite: {missing}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
