"""One benchmark run's operations: CLI runs in this one fresh process.

    python3 perfbench/op.py WORK WORKLOAD SEED WINDOW_S DEADLINE_S RESULT_JSON

Calls ``session.get_spark`` first (with the benchmark's driver memory), then
makes one untimed warm-up CLI run on a small corpus: a fresh JVM's first run
pays JIT, code generation and Python-worker start, which swing by tens of
seconds with host load. Then, in a closed loop until WINDOW_S have passed,
each operation builds its own corpus (``workloads.op_seed``), writes it to
``WORK/in-<op>.parquet`` and times ``cli.main([that, --out WORK/out-<op>,
--report])``. No operation starts past DEADLINE_S (a monotonic clock
reading); one that runs longer than ``OP_TIMEOUT_S`` ends the process.

RESULT_JSON is rewritten before and after every operation, so a process
that is killed still shows which operation it was in. An exception in an
operation is recorded by class and ends the loop.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import signal
import sys
import time
import traceback

import env
import workloads

OP_TIMEOUT_S = 120.0
TIMEOUT_EXIT = 124


def main(work: str, workload: str, seed: str, window_s: str, deadline_s: str, result_path: str) -> int:
    res: dict = {"ops": []}

    def save() -> None:
        with open(result_path + ".tmp", "w") as f:
            json.dump(res, f)
        os.replace(result_path + ".tmp", result_path)

    def on_timeout(signum, frame) -> None:
        res["ops"][-1].update(failed="timeout", rc=-signal.SIGALRM)
        save()
        os._exit(TIMEOUT_EXIT)  # the harness kills the JVM and reaps it

    def op(tag: str, n_base: int | None, op_index: int) -> dict:
        wl = workloads.build(workload, workloads.op_seed(int(seed), op_index), n_base)
        rec = {
            "tag": tag,
            "input": os.path.join(work, f"in-{tag}.parquet"),
            "golden": os.path.join(work, f"golden-{tag}.json"),
            "out": os.path.join(work, f"out-{tag}"),
            "files": len(wl.rows),
        }
        workloads.write_parquet(wl.rows, rec["input"])
        workloads.write_golden(wl.golden, rec["golden"])
        res["ops"].append(rec)
        save()
        stdout = io.StringIO()
        signal.alarm(int(OP_TIMEOUT_S))
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(stdout):
            rc = cli.main([rec["input"], "--out", rec["out"], "--report", "--master", env.MASTER])
        rec["run_s"] = time.perf_counter() - t0
        signal.alarm(0)
        rec["rc"] = rc
        rec["summary"] = json.loads(stdout.getvalue().splitlines()[0])
        save()
        return rec

    signal.signal(signal.SIGALRM, on_timeout)
    try:
        from facematch_spark import cli
        from facematch_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(master=env.MASTER, extra_conf=env.spark_conf())
        res["get_spark_s"] = time.perf_counter() - t0
        res["warmup_s"] = op("warmup", workloads.WARM_N_BASE, -1)["run_s"]
        res["window_start"] = window_start = time.monotonic()
        i = 0
        while True:
            cycle_start = time.monotonic()
            op(str(i), None, i)
            i += 1
            now = time.monotonic()
            if now - window_start >= float(window_s) or now + 1.5 * (now - cycle_start) > float(deadline_s):
                break
        res["window_end"] = time.monotonic()
        res["peak_rss_mb"] = env.jvm_peak_rss_mb(spark)
        spark.stop()
        return 0
    except Exception as exc:  # the op boundary: record the failure, never hide it
        res["error"] = type(exc).__name__
        res["traceback"] = traceback.format_exc()[-4000:]
        if res["ops"] and "run_s" not in res["ops"][-1]:
            res["ops"][-1]["failed"] = type(exc).__name__
        return 1
    finally:
        signal.alarm(0)
        save()


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:7]))
