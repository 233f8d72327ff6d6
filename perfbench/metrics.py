"""Turns the harness's raw record (result.json) into the reported metrics.

Every workload reports every metric: the end-to-end ones from the
untraced run, the per-layer ones from the traced run (0 where the
workload does not call that layer). README.md says what each metric
means on each workload.
"""
import statistics

MB = 1024 * 1024

# counter positions in a span (perfbench/harness/perfbench/Trace.scala)
JOBS, TASKS, IN_B, IN_R, CPU_NS, TASK_GC, SH_R, SH_W, OUT_B, CG_N, CG_NS, JVM_GC = range(12)

END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "rotation_p50_ms": "ms",
    "alloc_mb_per_op": "MB",
}

PER_LAYER = {
    "imaging.plan_ms": "ms",
    "imaging.exec_ms": "ms",
    "imaging.jobs": "count",
    "imaging.tasks": "count",
    "imaging.input_mb": "MB",
    "imaging.shuffle_mb": "MB",
    "imaging.scan_rows_per_result_row": "ratio",
    "imaging.codegen_compiles": "count",
    "imaging.codegen_ms": "ms",
    "imaging.cpu_ms": "ms",
    "imaging.gc_ms": "ms",
    "imaging.cli_download_ms": "ms",
    "imaging.cli_upload_ms": "ms",
    "imaging.cli_upload_jobs": "count",
    "imaging.cli_upload_output_mb": "MB",
    "multimodal.tiff_read_amplification": "ratio",
    "multimodal.cpu_ms_per_frame": "ms",
    "multimodal.decode_ms": "ms",
    "sources.retrieval.exec_ms": "ms",
    "sources.retrieval.jobs": "count",
    "sources.retrieval.input_mb": "MB",
    "sources.frame_storage.bytes_copied": "bytes",
    "sources.frame_storage.objects_written": "count",
    "sources.frame_storage.objects_skipped": "count",
    "sources.frame_storage.bytes_written": "bytes",
    "sources.frame_storage.fetch_ms": "ms",
    "memory.gc_ms_per_op": "ms",
    "memory.gc_share": "ratio",
    "memory.heap_peak_mb": "MB",
    "memory.live_heap_mb": "MB",
    "memory.peak_rss_mb": "MB",
    "imaging.failed": "count",
    "multimodal.failed": "count",
    "sources.failed": "count",
    "catalog_lookup.search_p50_ms": "ms",
    "catalog_lookup.slice_p50_ms": "ms",
    "catalog_lookup.meta_p50_ms": "ms",
    "catalog_lookup.retrieve_p50_ms": "ms",
    "catalog_lookup.download_p50_ms": "ms",
    "catalog_lookup.lookup_p75_ms": "ms",
    "catalog_lookup.requests": "count",
    "stack_roundtrip.fetch_frames_per_s": "1/s",
    "stack_roundtrip.stored_bytes_per_input_byte": "ratio",
    "trace.rotation_p50_ms": "ms",
    "host.ref_ms": "ms",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def ratio(a, b):
    return a / b if b else 0.0


def speed(res):
    """Reference.NominalMs / the run's median reference time: the
    factor that takes a time measured on the run's host to the
    reference core speed (Reference.scala)."""
    return res["ref_nominal_ms"] / median(res["ref_ms"])


def rotations(res):
    """Wall time of each whole rotation of the workload's op mix, ms."""
    n = res["rotation"]
    ms = [o["ms"] for o in res["ops"]]
    return [sum(ms[i:i + n]) for i in range(0, len(ms), n)]


def end_to_end(workload, res):
    """Times scaled to the reference core speed; counts as measured."""
    ops = res["ops"]
    k = speed(res)
    if workload == "catalog_lookup":
        work = ratio(len(ops), sum(o["ms"] for o in ops) / 1e3)
    else:
        work = ratio(sum(o["extra"]["frames_up"] for o in ops),
                     sum(o["steps"]["upload"] for o in ops) / 1e3)
    return {
        "setup_s": median(res["setup_s"]) * k,
        "work_per_s": work / k,
        "rotation_p50_ms": median(rotations(res)) * k,
        "alloc_mb_per_op": ratio(res["alloc_mb"], len(ops)),
    }


def per_layer(workload, res):
    ops = res["ops"]
    spans = res["spans"]
    n_ops = len(ops)

    def of(layer, fn=None, suffix=""):
        return [s for s in spans if s["layer"] == layer
                and (fn is None or s["fn"] == fn) and s["fn"].endswith(suffix)]

    def total(ss, k):
        return sum(s["c"][k] for s in ss)

    def ms(ss):
        return median([s["ms"] for s in ss])

    def extra(k):
        return sum(o["extra"].get(k, 0) for o in ops)

    m = {}
    # imaging: catalog calls (plan build and collect are separate spans)
    plan, exe = of("imaging", suffix=".plan"), of("imaging", suffix=".exec")
    req, n_req = plan + exe, len(exe)
    m["imaging.plan_ms"] = ms(plan)
    m["imaging.exec_ms"] = ms(exe)
    m["imaging.jobs"] = ratio(total(req, JOBS), n_req)
    m["imaging.tasks"] = ratio(total(req, TASKS), n_req)
    m["imaging.input_mb"] = ratio(total(req, IN_B) / MB, n_req)
    m["imaging.shuffle_mb"] = ratio((total(req, SH_R) + total(req, SH_W)) / MB, n_req)
    m["imaging.scan_rows_per_result_row"] = ratio(
        total(exe, IN_R), sum(max(s["rows"], 0) for s in exe))
    m["imaging.codegen_compiles"] = ratio(total(req, CG_N), n_req)
    m["imaging.codegen_ms"] = ratio(total(req, CG_NS) / 1e6, n_req)
    m["imaging.cpu_ms"] = ratio(total(req, CPU_NS) / 1e6, n_req)
    m["imaging.gc_ms"] = ratio(total(req, TASK_GC), n_req)
    dl, up = of("imaging.cli", "download"), of("imaging.cli", "upload")
    m["imaging.cli_download_ms"] = ms(dl)
    m["imaging.cli_upload_ms"] = ms(up)
    m["imaging.cli_upload_jobs"] = ratio(total(up, JOBS), len(up))
    m["imaging.cli_upload_output_mb"] = ratio(total(up, OUT_B) / MB, len(up))

    # multimodal: TIFF split and PNG encode run inside the upload
    m["multimodal.tiff_read_amplification"] = round(
        ratio(total(up, IN_B), extra("tiff_bytes")), 2)
    m["multimodal.cpu_ms_per_frame"] = ratio(total(up, CPU_NS) / 1e6, extra("frames_up"))
    m["multimodal.decode_ms"] = ms(of("multimodal", "decodeFrames"))

    # sources
    ret, ret_exe = of("sources.retrieval"), of("sources.retrieval", suffix=".exec")
    m["sources.retrieval.exec_ms"] = ms(ret_exe)
    m["sources.retrieval.jobs"] = ratio(total(ret, JOBS), len(ret_exe))
    m["sources.retrieval.input_mb"] = ratio(total(ret, IN_B) / MB, len(ret_exe))
    m["sources.frame_storage.bytes_copied"] = ratio(extra("bytes_copied"), len(dl))
    m["sources.frame_storage.objects_written"] = ratio(extra("objects_written"), len(up))
    m["sources.frame_storage.objects_skipped"] = ratio(extra("objects_skipped"), len(up))
    m["sources.frame_storage.bytes_written"] = ratio(extra("png_bytes"), len(up))
    m["sources.frame_storage.fetch_ms"] = ms(of("sources.frame_storage", "downloadManifest"))

    # memory and GC over the measured region
    m["memory.gc_ms_per_op"] = ratio(res["gc_ms"], n_ops)
    m["memory.gc_share"] = ratio(res["gc_ms"], res["measured_s"] * 1e3)
    m["memory.heap_peak_mb"] = res["heap_peak_mb"]
    m["memory.live_heap_mb"] = res["heap_live_mb"]
    m["memory.peak_rss_mb"] = res["vm_hwm_kb"] / 1024

    # failed calls per layer; tables and ops are reached only through
    # imaging and sources calls, so their failures count there
    for layer in ("imaging", "multimodal", "sources"):
        m[f"{layer}.failed"] = float(sum(
            1 for s in spans if s["failed"] and s["layer"].split(".")[0] == layer))

    # per-class views of the workloads
    by = {}
    for o in ops:
        by.setdefault(o["cls"], []).append(o["ms"])
    catalog = workload == "catalog_lookup"
    for cls in ("search", "slice", "meta", "retrieve", "download"):
        m[f"catalog_lookup.{cls}_p50_ms"] = median(by.get(cls, [])) if catalog else 0.0
    lat = sorted(o["ms"] for o in ops)
    m["catalog_lookup.lookup_p75_ms"] = statistics.quantiles(lat, n=4)[2] \
        if catalog and len(lat) > 1 else 0.0
    m["catalog_lookup.requests"] = float(n_ops) if catalog else 0.0
    steps = sum(o["steps"].get("fetch", 0) + o["steps"].get("decode", 0) for o in ops)
    m["stack_roundtrip.fetch_frames_per_s"] = ratio(extra("frames_fetched"), steps / 1e3)
    m["stack_roundtrip.stored_bytes_per_input_byte"] = ratio(
        extra("png_bytes") + extra("parquet_bytes"), extra("tiff_bytes"))
    m["trace.rotation_p50_ms"] = median(rotations(res)) * speed(res)
    m["host.ref_ms"] = median(res["ref_ms"])
    return m


def summarize(workload, res, bad, traced):
    """The printed result: op counts plus every metric with its unit."""
    ops = res["ops"]
    failed = sum(1 for i, o in enumerate(ops) if not o["ok"] or i in bad)
    units = PER_LAYER if traced else END_TO_END
    values = per_layer(workload, res) if traced else end_to_end(workload, res)
    assert set(values) == set(units), set(values) ^ set(units)
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
