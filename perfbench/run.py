"""Product-path dedup benchmark.

    python3 perfbench/run.py --workload fresh-mixed --seed 1 --seconds 17 --trace 0

Run from the root of a checkout. Starts one fresh process
(``perfbench/op.py``): ``get_spark``, an untimed warm-up CLI run, then CLI
operations in a closed loop until SECONDS have passed, each on its own corpus
from ``fixtures.generate_corpus`` seeded from SEED; at least one operation
always runs. Every operation's output is checked in pure Python
(``perfbench/check.py``). The last stdout line is the result JSON.

``--trace 1`` instead makes one traced run (``perfbench/traced.py``: each
layer with spans, a resume pass, a scale probe) and reports per-layer
metrics and the tracing overhead. Work files go
to ``.perfbench_work/`` (removed at exit); details of every run, spans
included, to ``.perfbench_results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import check
import env
import workloads
from op import OP_TIMEOUT_S

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the program: facematch_spark in the checkout

RUN_LIMIT_S = 170.0   # every run ends well inside 180 s
CHECK_S = 10.0        # left after the child for the output checks
HASH_SAMPLE = 200     # docs in the fixed hashing-kernel sample


def measured_run(env_vars: dict, work: str, workload: str, seed: int, seconds: float, started: float) -> tuple[list, dict]:
    """The run's CLI operations, all in one fresh process (``op.py``), each
    operation's output checked. Returns the operations and the process's
    record (set-up walls, window)."""
    res_path = os.path.join(work, "ops.json")
    deadline = started + RUN_LIMIT_S - CHECK_S
    child = env.run_child(
        [os.path.join(HERE, "op.py"), work, workload, str(seed), str(seconds), str(deadline), res_path],
        env_vars, work, os.path.join(work, "children.log"), deadline - time.monotonic(),
    )
    res: dict = {"ops": []}
    if os.path.exists(res_path):
        with open(res_path) as f:
            res = json.load(f)
    ops = res.pop("ops") or [{"tag": "start", "files": 0}]  # it failed before its first operation
    for rec in ops:
        rec.setdefault("rc", child["rc"])
        if "failed" in rec:
            continue
        if "run_s" not in rec:
            rec["failed"] = "timeout" if child["timed_out"] else (res.get("error") or f"exit code {child['rc']}")
            continue
        rows, golden = workloads.read_op_input(rec["input"], rec["golden"])
        verdict = check.check_output(check.Output(rec["out"]), rows, golden)
        rec["check"] = verdict
        if rec["rc"] != 0:
            rec["failed"] = f"exit code {rec['rc']}"
        elif verdict["errors"]:
            rec["failed"] = "wrong output"
        elif (rec["summary"].get("files"), rec["summary"].get("findings"), rec["summary"].get("clusters")) != (
                len(rows), verdict["pairs"], verdict["clusters"]):
            rec["failed"] = "wrong summary"
        shutil.rmtree(rec["out"], ignore_errors=True)
    res["child"] = child
    return ops, res


def end_to_end(ops: list[dict], res: dict, started: float) -> dict:
    """Medians over the measured operations (the warm-up is checked and
    counted, but not timed). A failed operation stays in the sample, counted
    as taking the whole per-operation time limit."""
    measured = [r for r in ops if not r["tag"].startswith("warmup")] or ops
    ok = [r for r in measured if "failed" not in r]
    found = sum(round(r["check"]["golden_recall"] * r["check"]["golden_eligible"]) for r in ok)
    eligible = sum(r["check"]["golden_eligible"] for r in ok)
    run_s = [OP_TIMEOUT_S if "failed" in r else r["run_s"] for r in measured]
    return {
        "run_s": (statistics.median(run_s), "s"),
        "files_per_s": (statistics.median(r["files"] / t for r, t in zip(measured, run_s)), "files/s"),
        "setup_s": (res.get("window_start", time.monotonic()) - started, "s"),
        "golden_recall": (found / eligible if eligible else 0.0, "share"),
        "ops_ok_share": (sum("failed" not in r for r in ops) / len(ops), "share"),
    }


def hashing_kernels(rows: list[dict]) -> dict:
    """µs/doc of the signing and banding kernels, one thread, outside Spark,
    over a fixed sample: the corpus's first HASH_SAMPLE docs of 1-64 KB."""
    from facematch_spark.config import DedupeConfig
    from facematch_spark.functions import hashing as H
    from facematch_spark.operators.signatures import shingle_hashes_for

    cfg = DedupeConfig()
    gammas = H.perm_gammas(cfg.num_perm, cfg.seed)
    docs = [r["content"] for r in rows if 1 << 10 <= len(r["content"]) <= 1 << 16][:HASH_SAMPLE]

    def sign_all() -> list:
        sigs = []
        for text in docs:
            sh = shingle_hashes_for(text, cfg)
            sigs.append(H.minhash_signature(sh, gammas))
            H.simhash_fingerprint(sh)
        return sigs

    def timed(fn, reps: int) -> float:
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls) / len(docs) * 1e6

    sigs = sign_all()
    return {
        "hashing.sign_us_per_doc": (timed(sign_all, 5), "us"),
        "hashing.band_us_per_doc": (
            timed(lambda: [H.band_hashes(s, cfg.bands, cfg.rows_per_band, cfg.seed) for s in sigs], 5), "us"),
    }


def per_layer(trace: dict) -> dict:
    """Per-layer metrics from the traced run's spans: the layers from the
    fresh pass, the checkpoint layer from the resume pass."""
    spans = trace["spans"]

    def under(root_name: str) -> list[dict]:
        root = next(s["id"] for s in spans if s["name"] == root_name)
        return [s for s in spans if s["parent"] == root]

    def wall(children: list[dict], name: str) -> float:
        return sum(s["end"] - s["start"] for s in children if s["name"] == name)

    def sql(children: list[dict], name: str, key: str) -> float:
        return sum(s.get("sql", {}).get(key, 0.0) for s in children if s["name"] == name)

    def rows(children: list[dict], name: str) -> int:
        return sum(s["attrs"].get("rows", 0) for s in children if s["name"] == name)

    fresh, resume = under("pass.fresh"), under("pass.resume")
    counts = next(s for s in spans if s["name"] == "pass.fresh")["attrs"]["counts"]
    # tracing overhead: the traced resume pass against the same resume run
    # untraced through the CLI, both in the same warm JVM
    traced_sum = sum(s["end"] - s["start"] for s in resume)
    untraced = trace["untraced_resume_s"]
    sign_s = wall(fresh, "sign")
    m = {
        "sign.wall_s": (sign_s, "s"),
        "sign.docs": (rows(fresh, "sign"), "count"),
        "sign.us_per_doc": (sign_s / max(1, rows(fresh, "sign")) * 1e6, "us"),
        "sign.ok_share": (counts["ok_share"], "share"),
        "lsh.wall_s": (wall(fresh, "lsh"), "s"),
        "lsh.band_rows": (sql(fresh, "lsh", "mapinpandas_rows"), "count"),
        "lsh.candidates": (counts["candidates"], "count"),
        "lsh.shuffle_bytes": (sql(fresh, "lsh", "shuffle_bytes"), "B"),
        "verify.wall_s": (wall(fresh, "verify"), "s"),
        "verify.shingle_rows": (sql(fresh, "verify", "mapinpandas_rows"), "count"),
        "verify.pairs_out": (counts["pairs"], "count"),
        "verify.yield": (counts["pairs"] / max(1, counts["candidates"]), "share"),
        "verify.shuffle_bytes": (sql(fresh, "verify", "shuffle_bytes"), "B"),
        "verify.broadcast_bytes": (sql(fresh, "verify", "broadcast_bytes"), "B"),
        "cluster.wall_s": (wall(fresh, "cluster"), "s"),
        "cluster.edges": (counts["pairs"], "count"),
        "cluster.clusters": (counts["clusters"], "count"),
        "report.wall_s": (wall(fresh, "report"), "s"),
        "checkpoint.detect_s": (wall(resume, "checkpoint.detect"), "s"),
        "checkpoint.pending_s": (wall(resume, "checkpoint.pending"), "s"),
        "checkpoint.pending_rows": (rows(resume, "checkpoint.pending"), "count"),
        "checkpoint.write_s": (wall(resume, "checkpoint.write"), "s"),
        "checkpoint.bytes_written": (sql(resume, "checkpoint.write", "bytes_written"), "B"),
        "resume.untraced_run_s": (untraced, "s"),
        "resume.traced_sum_s": (traced_sum, "s"),
        "trace.overhead_s": (traced_sum - untraced, "s"),
        "jvm.peak_rss_mb": (trace["passes_peak_rss_mb"], "MB"),
        "trace.sql_executions_missing": (sum(s.get("sql_executions_missing", 0) for s in spans), "count"),
    }
    for factor, probe in sorted(trace["probe"].items()):
        # 1 passed, 0 failed, -1 skipped to stay inside the run's time limit
        m[f"probe.x{factor}.ok"] = ({True: 1, False: 0, None: -1}[probe["ok"]], "state")
        m[f"probe.x{factor}.docs"] = (probe.get("docs", 0), "count")
        m[f"probe.x{factor}.verify_s"] = (probe.get("verify_s", 0.0), "s")
        m[f"probe.x{factor}.broadcast_bytes"] = (probe.get("broadcast_bytes", 0.0), "B")
    m["probe.jvm_peak_rss_mb"] = (trace["peak_rss_mb"], "MB")
    # a fresh JVM's set-up and first CLI run, which the end-to-end run_s
    # leaves out: the run over the corpus's first 90%, with a cold JVM
    m["cold.get_spark_s"] = (trace["setup_s"], "s")
    m["cold.cli_run_s"] = (trace["cold_cli_s"], "s")
    return m


def traced_run(env_vars: dict, work: str, wl, seed: int, started: float) -> tuple[list, dict, dict]:
    metrics = hashing_kernels(wl.rows)
    workloads.write_parquet(wl.rows[: int(len(wl.rows) * workloads.RESUME_PREFIX)], os.path.join(work, "prefix.parquet"))
    for f in workloads.SCALE_FACTORS:
        workloads.write_parquet(workloads.scaled_mixed(seed, f).rows, os.path.join(work, f"scale_{f}.parquet"))

    res_path = os.path.join(work, "trace.json")
    left = RUN_LIMIT_S - (time.monotonic() - started)
    child = env.run_child(
        [os.path.join(HERE, "traced.py"), work, res_path, str(left - CHECK_S)], env_vars, work,
        os.path.join(work, "children.log"), left,
    )
    trace: dict = {}
    if os.path.exists(res_path):
        with open(res_path) as f:
            trace = json.load(f)
    rec = {**child, **{k: trace[k] for k in ("error", "traceback", "peak_rss_mb") if k in trace}}
    if child["timed_out"] or child["rc"] != 0 or "resume" not in trace.get("passes", []):
        rec["failed"] = "timeout" if child["timed_out"] else (trace.get("error") or f"exit code {child['rc']}")
    else:
        out = {name: check.Output(path) for name, path in trace["stores"].items()}
        rec["check_fresh"] = check.check_output(out["fresh"], wl.rows, wl.golden)
        rec["check_resume"] = check.check_output(out["resume"], wl.rows, wl.golden)
        rec["resume_equal"] = check.same_result(out["fresh"], out["resume"])
        rec["untraced_equal"] = check.same_result(out["fresh"], out["cli-resume"])
        if rec["check_fresh"]["errors"] or rec["check_resume"]["errors"]:
            rec["failed"] = "wrong output"
        elif not (rec["resume_equal"] and rec["untraced_equal"]):
            rec["failed"] = "resume or untraced output differs from the traced fresh pass"
        metrics.update(per_layer(trace))
    return [rec], metrics, trace


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(workloads.CORPORA))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "facematch_spark", "__init__.py")):
        print(f"facematch_spark is not importable from {ROOT}: run from the root of a checkout",
              file=sys.stderr)
        return 2

    started = time.monotonic()
    # a SIGTERM unwinds like an exception, so run_child still reaps the child
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    env.become_subreaper()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    try:
        env_vars = env.child_env(ROOT, work)
        if args.trace:
            wl = workloads.build(args.workload, args.seed)
            workloads.write_parquet(wl.rows, os.path.join(work, "input.parquet"))
            ops, metrics, trace = traced_run(env_vars, work, wl, args.seed, started)
            corpus = {"files": len(wl.rows), "bytes": sum(len(r["content"] or "") for r in wl.rows),
                      "golden_pairs": len(wl.golden)}
        else:
            ops, trace = measured_run(env_vars, work, args.workload, args.seed, args.seconds, started)
            metrics = end_to_end(ops, trace, started)
            corpus = {"files_per_op": [r["files"] for r in ops]}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = sum("failed" in r for r in ops)
    details = {
        "workload": args.workload,
        "why": workloads.WHY[args.workload],
        "seed": args.seed,
        "corpus": corpus,
        "host": env.host_facts(),
        "ops": ops,
        "run_wall_s": time.monotonic() - started,
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({**details, "metrics": metrics, "trace": trace}, f)
    print("details: " + json.dumps({k: v for k, v in details.items() if k != "ops"}))
    for r in ops:
        if "failed" in r:
            print(f"failed op: {r['failed']} (exit code {r['rc']})", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
