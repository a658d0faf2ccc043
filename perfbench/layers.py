"""The traced run: where each job's time goes, layer by layer.

Driver-side spans wrap the public functions the jobs call (where they
are bound: ``plans.lineage`` imports ``extract`` by name, the jobs
import ``sources.tables`` and the operator modules at call time).
Lazy plan builders only build plans, so single layers are also forced
alone through ``noop`` sinks.  Per-image layers are timed in-process by
running ``oracle.ocr_image`` over a seeded sample of the workload's
distinct images with ``oracle``, ``models.ctpn`` and ``models.crnn``
bindings wrapped (the models import ``conv2d`` etc. by name).
"""

from __future__ import annotations

import os
import statistics

import numpy as np

from rss import RssSampler
from spans import Tracer

# every per-layer metric, so each traced run reports the same keys; a
# layer the workload never calls reads 0
PER_LAYER = {
    "sources.session.get_spark_s": "s",
    "operators.extract.ocr_transcripts_s": "s",
    "operators.extract.reassembly_s": "s",
    "operators.extract.media_spans": "count",
    "operators.extract.distinct_images": "count",
    "operators.extract.ocr_calls_per_media_span": "ratio",
    "operators.extract.partitions": "count",
    "operators.extract.partition_ms_p50": "ms",
    "operators.extract.partition_ms_max": "ms",
    "operators.extract.partition_skew": "ratio",
    "operators.extract.udf_busy_frac": "ratio",
    "operators.extract.udf_overhead_frac": "ratio",
    "plans.lineage.commit_s": "s",
    "plans.lineage.bytes_written": "bytes",
    "plans.lineage.files_written": "count",
    "plans.lineage.run_bucketed_write_s": "s",
    "oracle.ocr_image.calls": "count",
    "oracle.ocr_image.ms_p50": "ms",
    "oracle.ocr_image.ms_p90": "ms",
    "oracle.char_rec.self_s": "s",
    "oracle.crop_yield": "ratio",
    "models.ctpn.get_det_boxes.self_s": "s",
    "models.ctpn.ctpn_forward.self_s": "s",
    "models.ctpn.nms.self_s": "s",
    "models.ctpn.get_text_lines.self_s": "s",
    "models.ctpn.proposals": "count",
    "models.ctpn.quads": "count",
    "models.crnn.recognize.calls": "count",
    "models.crnn.recognize.self_s": "s",
    "models.crnn.crnn_forward.self_s": "s",
    "models.crnn.timesteps": "count",
    "kernels.conv2d.calls": "count",
    "kernels.conv2d.self_s": "s",
    "kernels.conv2d.gflop": "GFLOP",
    "kernels.conv2d.gflops": "GFLOP/s",
    "kernels.bigru.self_s": "s",
    "kernels.bilstm.self_s": "s",
    "kernels.rotate_crop.self_s": "s",
    "kernels.resize_area.self_s": "s",
    "kernels.resize_lanczos.self_s": "s",
    "kernels.maxpool2d.self_s": "s",
    "operators.dedup.dup_components_s": "s",
    "operators.dedup.components": "count",
    "operators.text.quality_score_s": "s",
    "operators.text.lang_id_s": "s",
    "operators.text.gate_pass_frac": "ratio",
    "images_per_s": "1/s",
    "peak_rss_mb": "MB",
    "worker_rss_mb": "MB",
    "failed_frac": "ratio",
    "mismatch_docs": "count",
    "trace_overhead_frac": "ratio",
    "job.first_call_extra_s": "s",
    "trace.image_attributed_frac": "ratio",
}


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return size, files


def _timed_noop(tr: Tracer, name: str, df) -> float:
    with tr.span(name) as s:
        df.write.format("noop").mode("overwrite").save()
    return s["end"] - s["start"]


def _wrap_driver(tr: Tracer, captured: dict) -> None:
    from ocr_pytorch_spark.operators import dedup, text
    from ocr_pytorch_spark.plans import lineage
    from ocr_pytorch_spark.sources import tables

    def keep_acc(_tr, _args, acc):
        captured["acc"] = acc

    tr.wrap(lineage, "extract", "operators.extract.extract")
    tr.wrap(lineage, "committed_buckets", "plans.lineage.committed_buckets")
    tr.wrap(lineage, "ocr_timing_accumulator",
            "operators.extract.ocr_timing_accumulator", keep_acc)
    tr.wrap(lineage, "run_bucketed_write",
            "plans.lineage.run_bucketed_write")
    tr.wrap(tables, "write_partitioned", "sources.tables.write_partitioned")
    tr.wrap(tables, "read_partitioned", "sources.tables.read_partitioned")
    tr.wrap(dedup, "dup_components", "operators.dedup.dup_components")
    tr.wrap(text, "quality_score", "operators.text.quality_score")
    tr.wrap(text, "lang_id", "operators.text.lang_id")


def _wrap_per_image(tr: Tracer) -> None:
    from ocr_pytorch_spark import oracle
    from ocr_pytorch_spark.models import crnn, ctpn

    def count(key, fn):
        def hook(t, args, out):
            t.counts[key] += fn(args, out)
        return hook

    def conv_flop(args, out):
        o, c, kh, kw = args[1].shape
        return 2.0 * out.size * c * kh * kw

    conv = count("kernels.conv2d.flop", conv_flop)
    tr.wrap(oracle, "ocr_image", "oracle.ocr_image",
            count("transcripts", lambda a, o: len(o)))
    tr.wrap(oracle, "sort_box", "oracle.sort_box")
    tr.wrap(oracle, "char_rec", "oracle.char_rec")
    tr.wrap(oracle, "get_det_boxes", "models.ctpn.get_det_boxes",
            count("models.ctpn.quads", lambda a, o: len(o[0])))
    tr.wrap(oracle, "rotate_crop", "kernels.rotate_crop")
    tr.wrap(oracle, "recognize", "models.crnn.recognize")
    for mod in (ctpn, crnn):
        tr.wrap(mod, "conv2d", "kernels.conv2d", conv)
        tr.wrap(mod, "maxpool2d", "kernels.maxpool2d")
    tr.wrap(ctpn, "ctpn_forward", "models.ctpn.ctpn_forward")
    tr.wrap(ctpn, "nms", "models.ctpn.nms")
    tr.wrap(ctpn, "get_text_lines", "models.ctpn.get_text_lines",
            count("models.ctpn.proposals", lambda a, o: len(a[0])))
    tr.wrap(ctpn, "bigru", "kernels.bigru")
    tr.wrap(ctpn, "resize_area", "kernels.resize_area")
    tr.wrap(crnn, "crnn_forward", "models.crnn.crnn_forward",
            count("models.crnn.timesteps", lambda a, o: o.shape[0]))
    tr.wrap(crnn, "bilstm", "kernels.bilstm")
    tr.wrap(crnn, "resize_lanczos", "kernels.resize_lanczos")


def _per_image(tr: Tracer, b, sample: int) -> dict:
    """Run oracle.ocr_image in-process over a seeded sample of the
    workload's distinct images, one trace id per image."""
    import pyarrow.parquet as pq

    from ocr_pytorch_spark import oracle
    from ocr_pytorch_spark.models import weights as W

    imgs = pq.read_table(os.path.join(b.inp["dir"], "images.parquet")
                         ).to_pylist()
    rng = np.random.default_rng([b.seed, 0x1A])
    pick = sorted(rng.choice(len(imgs), min(sample, len(imgs)),
                             replace=False))
    ctpn_w, crnn_w = W.load_bundled()
    _wrap_per_image(tr)
    try:
        for i in pick:
            r = imgs[i]
            img = np.frombuffer(r["data"], np.uint8).reshape(
                r["height"], r["width"], r["channels"])
            tr.trace_id = f"img:{r['media_ref']}"
            try:
                oracle.ocr_image(img, ctpn_w, crnn_w, b.cfg)
            except Exception:  # the job's ERROR_BOX_ORDER case
                pass
    finally:
        tr.restore()
    selfs = tr.self_times("img:")
    walls = tr.durations("oracle.ocr_image", "img:")
    flop = tr.counts["kernels.conv2d.flop"]
    conv_s = selfs.get("kernels.conv2d", 0.0)
    quads = tr.counts["models.ctpn.quads"]
    p90 = statistics.quantiles(walls, n=10)[8]
    out = {
        "oracle.ocr_image.calls": len(walls),
        "oracle.ocr_image.ms_p50": statistics.median(walls) * 1e3,
        "oracle.ocr_image.ms_p90": p90 * 1e3,
        "oracle.crop_yield": tr.counts["transcripts"] / quads if quads
        else 0.0,
        "models.ctpn.proposals": tr.counts["models.ctpn.proposals"],
        "models.ctpn.quads": quads,
        "models.crnn.recognize.calls": len(
            tr.durations("models.crnn.recognize", "img:")),
        "models.crnn.timesteps": tr.counts["models.crnn.timesteps"],
        "kernels.conv2d.calls": len(tr.durations("kernels.conv2d", "img:")),
        "kernels.conv2d.gflop": flop / 1e9,
        "kernels.conv2d.gflops": flop / 1e9 / conv_s if conv_s else 0.0,
        # share of ocr_image time spent inside the wrapped layers; the
        # rest is ocr_image's own self time (work no wrapper covers)
        "trace.image_attributed_frac": 1.0 - selfs["oracle.ocr_image"]
        / sum(walls),
    }
    for name in ("oracle.char_rec", "models.ctpn.get_det_boxes",
                 "models.ctpn.ctpn_forward", "models.ctpn.nms",
                 "models.ctpn.get_text_lines", "models.crnn.recognize",
                 "models.crnn.crnn_forward", "kernels.conv2d",
                 "kernels.bigru", "kernels.bilstm", "kernels.rotate_crop",
                 "kernels.resize_area", "kernels.resize_lanczos",
                 "kernels.maxpool2d"):
        out[f"{name}.self_s"] = selfs.get(name, 0.0)
    return out


def _ocr_layers(tr: Tracer, b, job_s: float, captured: dict,
                dst: str, sample: int) -> dict:
    import pyarrow.parquet as pq

    from ocr_pytorch_spark.operators import extract as X

    import workloads

    meta = b.inp["meta"]
    docs, imgs = b.ocr_tables(b.inp["dir"])
    media = X.explode_spans(docs).where("kind = 'media'")
    acc = X.ocr_timing_accumulator(b.spark)
    # persisted so the error rows can be counted without a second OCR
    # pass; caching a few hundred short rows adds milliseconds
    trans = X.ocr_transcripts(imgs, media, X.file_weights_spec(), b.cfg,
                              timing_acc=acc).persist()
    o_s = _timed_noop(tr, "operators.extract.ocr_transcripts", trans)
    errors = X.ocr_errors(trans).select("media_ref").distinct().count()
    trans.unpersist()
    x_s = _timed_noop(tr, "operators.extract.extract", X.extract(
        docs, imgs, X.file_weights_spec(), b.cfg))
    probe_walls = [w / 1e3 for _, _, w in acc.value]
    job_rows = captured["acc"].value
    part_ms = [w for _, _, w in job_rows]
    p50 = statistics.median(part_ms)
    size, files = _dir_size(dst)
    out = {
        "operators.extract.ocr_transcripts_s": o_s,
        "operators.extract.reassembly_s": x_s - o_s,
        "plans.lineage.commit_s": job_s - x_s,
        "plans.lineage.bytes_written": size,
        "plans.lineage.files_written": files,
        "operators.extract.media_spans": meta["media_spans"],
        "operators.extract.distinct_images": meta["images"],
        "operators.extract.ocr_calls_per_media_span":
            sum(n for _, n, _ in job_rows) / meta["media_spans"],
        "operators.extract.partitions": len(part_ms),
        "operators.extract.partition_ms_p50": p50,
        "operators.extract.partition_ms_max": max(part_ms),
        "operators.extract.partition_skew": max(part_ms) / p50 if p50
        else 0.0,
        "operators.extract.udf_busy_frac":
            sum(probe_walls) / (o_s * b.spark.sparkContext
                                 .defaultParallelism),
    }
    # ocr_image over every distinct image on nproc single-thread
    # workers, as the job's tasks run it, against the probe's task walls
    refs = pq.read_table(os.path.join(b.inp["dir"], "images.parquet"),
                         columns=["media_ref"]).column(0).to_pylist()
    image_s = sum(s for _, s in workloads.ocr_for_refs(refs, b.seed)
                  .values())
    out["operators.extract.udf_overhead_frac"] = 1.0 - (
        image_s / sum(probe_walls))
    # images the probe's UDF attempted (its task rows) plus job calls
    attempted = sum(n for _, n, _ in acc.value) + b.calls
    out["failed_frac"] = (errors + b.raised) / attempted
    out.update(_per_image(tr, b, sample))
    return out


def _corpus_layers(tr: Tracer, b, summary: dict, dst: str) -> dict:
    from pyspark.sql import functions as F

    from ocr_pytorch_spark.operators import dedup as D, text as T

    docs = b.spark.read.parquet(os.path.join(b.inp["dir"],
                                             "documents.parquet"))
    with tr.span("operators.dedup.dup_components") as s:
        comp = D.dup_components(docs, bucket_cap=1000)
        comp.write.format("noop").mode("overwrite").save()
    n_comp = comp.agg(F.countDistinct("component")).first()[0]
    size, files = _dir_size(dst)
    return {
        "operators.dedup.dup_components_s": s["end"] - s["start"],
        "operators.dedup.components": n_comp,
        "operators.text.quality_score_s": _timed_noop(
            tr, "operators.text.quality_score", T.quality_score(docs)),
        "operators.text.lang_id_s": _timed_noop(
            tr, "operators.text.lang_id", T.lang_id(docs)),
        "operators.text.gate_pass_frac": summary["dedup+filter"] / n_comp,
        "plans.lineage.run_bucketed_write_s": sum(tr.durations(
            "plans.lineage.run_bucketed_write", "job")),
        "plans.lineage.bytes_written": size,
        "plans.lineage.files_written": files,
    }


def run_traced(b, context: dict, work: str, sample: int) -> dict:
    """One cold set-up, a first job call (the one untraced runs time),
    one untraced and one traced warm call, then the single-layer
    probes.  -> every PER_LAYER metric."""
    tr = Tracer()
    tr.trace_id = f"run:{b.name}:{b.seed}"
    with tr.span("setup"):
        get_spark_s, _ = b.setup()
    first_s, _ = b.timed_call()
    with RssSampler() as rss:
        untraced_s, _ = b.timed_call()
    captured: dict = {}
    _wrap_driver(tr, captured)
    tr.trace_id = f"job:{b.name}:{b.seed}"
    try:
        with tr.span("job") as js:
            traced_s, dst = b.timed_call(keep=True)
    finally:
        tr.restore()
    tr.trace_id = f"layers:{b.name}:{b.seed}"
    values = dict.fromkeys(PER_LAYER, 0.0)
    values["sources.session.get_spark_s"] = get_spark_s
    if b.raised == 0:
        if b.kind == "ocr":
            values.update(_ocr_layers(tr, b, traced_s, captured, dst,
                                      sample))
            values["images_per_s"] = b.inp["meta"]["images"] / first_s
        else:
            summary = _corpus_summary(dst)
            values.update(_corpus_layers(tr, b, summary, dst))
    values["trace_overhead_frac"] = traced_s / untraced_s - 1.0
    # the other layer metrics explain a warm call; this is what the
    # first call, the one job_s times, pays on top of it
    values["job.first_call_extra_s"] = first_s - untraced_s
    if b.kind != "ocr" or b.raised:
        values["failed_frac"] = b.raised / b.calls
    values["mismatch_docs"] = b.mismatch_docs
    values["peak_rss_mb"] = rss.peak_total_mb
    values["worker_rss_mb"] = rss.peak_workers_mb
    context["job_calls_s"] = {"first": first_s, "untraced": untraced_s,
                              "traced": traced_s,
                              "traced_span": js["end"] - js["start"]}
    tr.dump(os.path.join(work, f"spans-{b.name}-{b.seed}.json"))
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}


def _corpus_summary(dst: str) -> dict:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(dst, "_stats")).to_pylist()[0]
