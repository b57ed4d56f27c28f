"""Traced run: the product dataflow's layers called one by one, with spans.

    python3 perfbench/traced.py WORK_DIR RESULT_JSON DEADLINE_S

WORK_DIR holds ``input.parquet`` (the workload corpus), ``prefix.parquet``
(its first rows, for the resume pass) and ``scale_<f>.parquet`` (the mixed
corpus at f x size, for the scale probe). Calls each module's public
functions in ``plans.pipeline.run_dedupe``'s order, materializing at its
boundaries (``localCheckpoint`` + ``count``), through a ``StageStore`` as the
CLI does. In one JVM, in this order:

  set-up   untraced: a CLI run over the prefix (cold; it also warms the
           JVM and the Python workers); its store is copied, the copy being
           the pristine checkpoint;
  fresh    traced: the full corpus into an empty store;
  resume   traced: the full corpus into the pristine copy: the checkpoint
           layer's non-append guard / anti-join / merge / rewrite path;
  untraced the same resume through the CLI, into the original store: the
           wall that tracing overhead is measured against;
  probe    the verify layer over each scaled corpus, pass or fail; last,
           because the broadcasts it builds crowd the heap for whatever runs
           after it. A probe that would overrun DEADLINE_S is skipped and
           recorded as skipped.

Spans, outputs and probe results go to RESULT_JSON, rewritten after each
pass so a killed run still leaves what it finished.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import time
import traceback

import env
from spans import SqlMetrics, Tracer


def traced_pass(spark, tr: Tracer, source, cfg, store) -> dict:
    """``run_dedupe`` with a store, layer by layer. Returns row counts."""
    from facematch_spark import schema as S
    from facematch_spark.operators import cluster as C
    from facematch_spark.operators import lsh as L
    from facematch_spark.operators import signatures as SIG
    from facematch_spark.operators import verify as V
    from facematch_spark.report import run_summary, top_bottom_edges, write_csv_report, write_html_report
    from facematch_spark.sources.checkpoint import split_lineage, with_partition_lineage

    counts: dict = {}
    if store.exists("signatures"):
        with tr.span("checkpoint.detect") as a:
            a.update(store.detect_non_append(source, spark))
    with tr.span("checkpoint.pending") as a:
        pending = store.pending_inputs(source, spark)
        a["rows"] = counts["pending_rows"] = pending.count()
    with tr.span("sign") as a:
        merged = store.merge_signatures(SIG.sign_documents(pending, cfg), spark).localCheckpoint()
        a["rows"] = merged.count()
    by_status = dict(merged.groupBy("status").count().collect())
    counts["ok_share"] = by_status.get(S.STATUS_OK, 0) / max(1, sum(by_status.values()))
    with tr.span("checkpoint.write", table="signatures"):
        data, lineage = split_lineage(with_partition_lineage(merged, "sign", cfg.config_hash), "sign", cfg.config_hash)
        store.write("signatures", data)
        lineage.write.mode("append").parquet(store.path("lineage_sign"))
        spark.catalog.refreshByPath(store.path("signatures"))
        sigs = store.read(spark, "signatures", S.SIGNATURES)
        counts["files"] = sigs.count()
    with tr.span("lsh") as a:
        cands = L.candidate_pairs(sigs, cfg).localCheckpoint()
        a["rows"] = counts["candidates"] = cands.count()
    with tr.span("verify") as a:
        shingles = SIG.explode_shingles(source, cfg)
        pairs = V.apply_silenced(V.verify_candidates(cands, sigs, shingles, cfg), None).localCheckpoint()
        a["rows"] = counts["pairs"] = pairs.count()
    with tr.span("checkpoint.write", table="pairs"):
        store.write("pairs", pairs)
        pairs = store.read(spark, "pairs", S.PAIRS)
    with tr.span("cluster") as a:
        clusters = C.connected_components(pairs, nodes=sigs.select("file_id")).localCheckpoint()
        a["rows"] = counts["clusters"] = clusters.select("cluster_id").distinct().count()
    with tr.span("checkpoint.write", table="clusters"):
        store.write("clusters", clusters)
        clusters = store.read(spark, "clusters", S.CLUSTERS)
        store.append_metrics(spark, [{"stage": "cluster", "rows_out": counts["clusters"]}])
    with tr.span("report"):
        summary = run_summary({"files": counts["files"], "pairs": counts["pairs"], "clusters": counts["clusters"]}, {}, cfg)
        write_csv_report(pairs, f"{store.root}/report_csv_{cfg.table_suffix()}", cfg.report_threshold)
        write_html_report(pairs, f"{store.root}/report_{cfg.table_suffix()}.html", cfg, summary)
        top_bottom_edges(pairs, cfg.edges)
    return counts


def scale_probe(spark, tr: Tracer, path: str, cfg) -> dict:
    """Verify layer over a scaled mixed corpus; a failure is recorded, not raised."""
    from facematch_spark.operators import lsh as L
    from facematch_spark.operators import signatures as SIG
    from facematch_spark.operators import verify as V
    from facematch_spark.sources.io import read_source_files

    res: dict = {}
    first = len(tr.spans)
    try:
        source = read_source_files(spark, path)
        with tr.span("probe.inputs"):
            sigs = SIG.sign_documents(source, cfg).localCheckpoint()
            res["docs"] = sigs.count()
            cands = L.candidate_pairs(sigs, cfg).localCheckpoint()
            res["candidates"] = cands.count()
        with tr.span("probe.verify") as a:
            pairs = V.verify_candidates(cands, sigs, SIG.explode_shingles(source, cfg), cfg)
            a["rows"] = res["pairs"] = pairs.count()
        res["ok"] = True
    except Exception as exc:  # the probe looks for failures; record and go on
        res["ok"] = False
        res["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
    for span in tr.spans[first:]:
        if span["name"] == "probe.verify":
            res["verify_s"] = span["end"] - span["start"]
            res["broadcast_bytes"] = span.get("sql", {}).get("broadcast_bytes", 0.0)
    return res


def cli_run(cli, input_path: str, out_dir: str) -> float:
    """One untraced CLI run in this process; returns its wall seconds."""
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(io.StringIO()):
        cli.main([input_path, "--out", out_dir, "--report", "--master", env.MASTER])
    return time.perf_counter() - t0


def main(work: str, result_path: str, deadline_s: str) -> int:
    from facematch_spark import cli
    from facematch_spark.config import DedupeConfig
    from facematch_spark.session import get_spark
    from facematch_spark.sources.checkpoint import StageStore
    from facematch_spark.sources.io import read_source_files

    started = time.perf_counter()
    out: dict = {"passes": [], "probe": {}}
    tr = Tracer(run_id=os.path.basename(work))

    def save() -> None:
        out["spans"] = tr.spans
        with open(result_path, "w") as f:
            json.dump(out, f)

    def probe(factor: int) -> None:
        last = max((p.get("wall_s", 0.0) for p in out["probe"].values()), default=20.0)
        if time.perf_counter() - started + 2 * last > float(deadline_s):
            out["probe"][factor] = {"ok": None, "error": "skipped: run deadline"}
            return
        t0 = time.perf_counter()
        with tr.span(f"pass.probe.x{factor}"):
            out["probe"][factor] = scale_probe(spark, tr, os.path.join(work, f"scale_{factor}.parquet"), cfg)
        out["probe"][factor]["wall_s"] = time.perf_counter() - t0
        save()

    try:
        spark = get_spark(master=env.MASTER, extra_conf=env.spark_conf())
        out["setup_s"] = time.perf_counter() - started
        tr.sql = SqlMetrics(spark)
        cfg = DedupeConfig()  # the CLI's defaults
        factors = sorted(int(n[len("scale_") : -len(".parquet")]) for n in os.listdir(work) if n.startswith("scale_"))

        full = os.path.join(work, "input.parquet")
        stores = out["stores"] = {n: os.path.join(work, f"trace-{n}") for n in ("fresh", "resume", "cli-resume")}
        # cold: this also warms the JVM and the Python workers, so the passes
        # below run warm and compare with each other
        out["cold_cli_s"] = cli_run(cli, os.path.join(work, "prefix.parquet"), stores["cli-resume"])
        shutil.copytree(stores["cli-resume"], stores["resume"])  # the pristine checkpoint, restored

        source = read_source_files(spark, full)
        for name in ("fresh", "resume"):
            with tr.span(f"pass.{name}") as a:
                a["counts"] = traced_pass(spark, tr, source, cfg, StageStore(stores[name], cfg))
            out["passes"].append(name)
            save()
        out["untraced_resume_s"] = cli_run(cli, full, stores["cli-resume"])
        out["passes_peak_rss_mb"] = env.jvm_peak_rss_mb(spark)
        for factor in factors:
            probe(factor)
        out["peak_rss_mb"] = env.jvm_peak_rss_mb(spark)
        spark.stop()
        return 0
    except Exception as exc:
        out["error"] = type(exc).__name__
        out["traceback"] = traceback.format_exc()[-4000:]
        return 1
    finally:
        save()


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
