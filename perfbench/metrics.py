"""End-to-end and per-layer metrics from one run's `result.json`.

Every operation attempt counts: failed operations stay in the latency
samples (their time was spent), and nothing is a best-of-N minimum.
"""
import os
import statistics


def _med(xs, default=0.0):
    return float(statistics.median(xs)) if xs else default


def _ops(res, phase=None, kinds=None):
    return [o for o in res["ops"]
            if (phase is None or o["phase"] == phase)
            and (kinds is None or o["kind"] in kinds)]


def main_kind(workload):
    return "job" if workload == "corpus_etl" else "read"


def main_latency_ms(workload, res):
    """Median latency of the workload's main operation (measured loop)."""
    return _med([o["ms"] for o in _ops(res, "measure", {main_kind(workload)})])


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.startswith("part-"))


def end_to_end(workload, res, info):
    """The user-visible metrics; the same names for every workload.

    Probe and append latencies belong to retrieval_serving; every workload
    reports every metric, so on corpus_etl they repeat the job latency
    (aliases, which add no second gate on one figure; the export's own
    time is the per-layer sources.shard_write_s). retrieval_serving's job
    is one request of any kind. See README.md for the full table.
    """
    measured = _ops(res, "measure")
    busy_s = sum(o["ms"] for o in measured) / 1000.0
    first = res["ops"][0]
    inputs = info["sizes_bytes"]
    if workload == "corpus_etl":
        jobs = [o["ms"] for o in measured]
        rows = info["documents_rows"] * len(jobs)
        probes = appends = jobs
        stored = _dir_bytes(res["checks"]["manifest"]) / inputs["documents"]
    else:
        reads = [o for o in measured if o["kind"] == "read"]
        probes = [o["ms"] for o in reads]
        rows = sum(len(o["meta"]["ids"]) for o in reads)
        # the measured loop always runs on until one append is done
        appends = [o["ms"] for o in measured if o["kind"] == "append"]
        stored = res["gauges"]["stored_bytes"] / (inputs["documents"] + inputs["embeddings"])
    m = {
        "setup_s": (res["setup_s"], "s"),
        "first_op_s": (first["ms"] / 1000.0, "s"),
        "job_p50_s": (_med([o["ms"] for o in measured]) / 1000.0, "s"),
        "rows_per_s": (rows / busy_s, "1/s"),
        "probe_p50_ms": (_med(probes), "ms"),
        "requests_per_s": (len(measured) / busy_s, "1/s"),
        "append_p50_ms": (_med(appends), "ms"),
        "stored_bytes_per_input_byte": (stored, "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def sample_counts(workload, res):
    measured = _ops(res, "measure")
    return {"measured_ops": len(measured),
            "main_ops": len([o for o in measured if o["kind"] == main_kind(workload)]),
            "appends": len([o for o in measured if o["kind"] == "append"]),
            "warmup_ops": len(_ops(res, "warmup"))}


def shares(res):
    """Write and repeat shares of the measured requests of this run."""
    reqs = _ops(res, "measure", {"read", "append", "delete", "compact"})
    reads = [tuple(o["meta"]["ids"]) for o in reqs if o["kind"] == "read"]
    repeats = sum(1 for i, r in enumerate(reads) if r in reads[:i])
    return {"requests": len(reqs),
            "write_share": (len(reqs) - len(reads)) / len(reqs) if reqs else None,
            "repeat_share": repeats / len(reads) if reads else None}


def trend(workload, res):
    """Second-half over first-half median latency of the measured main ops
    (1.0 = no drift within the run)."""
    xs = [o["ms"] for o in _ops(res, "measure", {main_kind(workload)})]
    if len(xs) < 2:
        return None
    h = len(xs) // 2
    return round(_med(xs[h:]) / _med(xs[:h]), 4)


# modules whose Checkpoints barriers (cp@<File>:<line> job labels) the
# corpus flagship runs
MODULES = ("Corpus", "Dedup", "TextOps")

# StreamingQueryProgress figures of one landed batch file
STREAM_KEYS = (("trigger_ms", "ms"), ("add_batch_ms", "ms"), ("planning_ms", "ms"),
               ("wal_commit_ms", "ms"), ("state_rows", "count"),
               ("state_mem_mb", "MB"), ("state_commit_ms", "ms"))

PER_LAYER = [
    ("spark.plan_ms", "ms"), ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.idle_ms", "ms"), ("spark.busy_core_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.gc_ms", "ms"),
    ("checkpoints.barrier_jobs", "count"), ("checkpoints.barrier_ms", "ms"),
] + [(f"checkpoints.barrier_ms.{m}", "ms") for m in MODULES] + [
    ("tables.scan_rows", "count"), ("tables.scan_mb", "MB"),
    ("llm.corpus_pipeline_s", "s"), ("llm.textops_quality_s", "s"),
    ("llm.dedup_exact_s", "s"), ("llm.dedup_components_s", "s"),
    ("llm.dedup_decontaminate_s", "s"), ("llm.sampling_mixture_s", "s"),
    ("llm.textops_bpe_s", "s"), ("llm.dedup_pair_yield", "ratio"),
    ("llm.ann_probe_ms", "ms"), ("llm.lexical_probe_ms", "ms"),
    ("llm.ann_rows_scanned_per_result", "ratio"),
    ("llm.lexical_rows_scanned_per_result", "ratio"),
    ("sources.shard_write_s", "s"), ("sources.ann_append_ms", "ms"),
    ("sources.lex_append_ms", "ms"), ("sources.tombstone_ms", "ms"),
    ("sources.compact_ms", "ms"), ("sources.files_per_probe", "count"),
    ("sources.index_files", "count"), ("sources.index_mb", "MB"),
    ("capex.enriched_s", "s"), ("capex.kept_s", "s"), ("capex.pipeline_s", "s"),
    ("capex.validate_s", "s"), ("capex.sheets_s", "s"), ("capex.kept_frac", "ratio"),
    ("sources.csv_export_s", "s"),
] + [(f"streaming.{k}", u) for k, u in STREAM_KEYS]


def per_layer(workload, res):
    """Per-layer metrics of a traced run: medians over measured operations
    of per-operation span and Spark counters. A layer the workload does
    not call reads 0. Writes are few per run, so their spans are taken
    over every write of that kind, the warm-up and traced-only standalone
    writes included; the llm stage, capex and streaming costs come from the
    standalone operations (medians over the landed batches for streaming)."""
    measured = _ops(res, "measure")
    lay = lambda o, k: o["layers"].get(k, 0.0)  # noqa: E731
    part = lambda o, k: o["parts_ms"].get(k, 0.0)  # noqa: E731
    v = {}
    for k in ("spark.plan_ms", "spark.jobs", "spark.tasks", "spark.idle_ms",
              "spark.busy_core_s", "spark.shuffle_write_mb", "spark.spill_mb",
              "spark.gc_ms", "checkpoints.barrier_jobs", "checkpoints.barrier_ms",
              "tables.scan_rows", "tables.scan_mb"):
        v[k] = _med([lay(o, k) for o in measured])
    for m in MODULES:
        k = f"checkpoints.barrier_ms.{m}"
        v[k] = _med([lay(o, k) for o in measured])
    jobs = [o for o in measured if o["kind"] == "job"]
    v["llm.corpus_pipeline_s"] = _med([part(o, "llm.corpus_pipeline") for o in jobs]) / 1000
    v["sources.shard_write_s"] = _med([part(o, "sources.shard_write") for o in jobs]) / 1000
    alone = {o["kind"][len("standalone."):]: o for o in _ops(res, "standalone")}
    for k, q in (("llm.textops_quality_s", "text_quality"),
                 ("llm.dedup_exact_s", "dedup_exact"),
                 ("llm.dedup_components_s", "dedup_components"),
                 ("llm.dedup_decontaminate_s", "decontaminate"),
                 ("llm.sampling_mixture_s", "corpus_mixture"),
                 ("llm.textops_bpe_s", "text_bpe_encode")):
        v[k] = alone[q]["ms"] / 1000 if q in alone else 0.0
    pairs, verified = alone.get("dedup_minhash"), alone.get("dedup_minhash_verified")
    v["llm.dedup_pair_yield"] = (verified["rows"] / pairs["rows"]
                                 if pairs and verified and pairs["rows"] > 0 else 0.0)
    reads = [o for o in measured if o["kind"] == "read"]
    v["llm.ann_probe_ms"] = _med([part(o, "llm.ann_probe") for o in reads])
    v["llm.lexical_probe_ms"] = _med([part(o, "llm.lexical_probe") for o in reads])
    ann_rows = sum(o["meta"].get("ann_rows", 0) for o in reads)
    lex_rows = sum(max(o["rows"], 0) for o in reads) - ann_rows
    v["llm.ann_rows_scanned_per_result"] = (
        sum(lay(o, "scan_rows.llm.ann_probe") for o in reads) / ann_rows if ann_rows else 0.0)
    v["llm.lexical_rows_scanned_per_result"] = (
        sum(lay(o, "scan_rows.llm.lexical_probe") for o in reads) / lex_rows if lex_rows else 0.0)
    v["sources.files_per_probe"] = _med(
        [lay(o, "scan_files.llm.ann_probe") + lay(o, "scan_files.llm.lexical_probe")
         for o in reads])
    writes = lambda kind: _ops(res, kinds={kind})  # noqa: E731
    v["sources.ann_append_ms"] = _med([part(o, "sources.ann_append") for o in writes("append")])
    v["sources.lex_append_ms"] = _med([part(o, "sources.lex_append") for o in writes("append")])
    v["sources.tombstone_ms"] = _med([part(o, "sources.tombstone") for o in writes("delete")])
    v["sources.compact_ms"] = _med([part(o, "sources.compact") for o in writes("compact")])
    v["sources.index_files"] = res["gauges"].get("sources.index_files", 0.0)
    v["sources.index_mb"] = res["gauges"].get("stored_bytes", 0.0) / 2 ** 20
    # the traced-only layer probes: one cold capex job, one stream
    capex = alone.get("capex_job")
    for k in ("enriched", "kept", "pipeline", "validate", "sheets"):
        v[f"capex.{k}_s"] = part(capex, f"capex.{k}") / 1000 if capex else 0.0
    v["sources.csv_export_s"] = part(capex, "sources.csv_export") / 1000 if capex else 0.0
    v["capex.kept_frac"] = (capex["meta"]["kept_rows"] / capex["meta"]["enriched_rows"]
                            if capex and capex["meta"].get("enriched_rows") else 0.0)
    batches = _ops(res, "standalone", {"standalone.stream_batch"})
    for k, _ in STREAM_KEYS:
        v[f"streaming.{k}"] = _med([o["meta"].get(f"streaming.{k}", 0.0) for o in batches])
    units = dict(PER_LAYER)
    return {k: {"value": float(v[k]), "unit": units[k]} for k, _ in PER_LAYER}
