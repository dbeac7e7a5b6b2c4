"""Workload ``corpus``: the batch query catalog, then the LSM corpus
ingest, in one Spark session (catalog.py, ingest.py).

The catalog runs the batch operator families (relational, text, dedup,
similarity, pipeline, multimodal, and sessionize in batch mode) through
``__spark_entry__``; the ingest is the one writer, LSM appends and
compactions under ``corpus_ingest_sink``. Both use the ``dedup``
candidate kernel, one reading and one writing, so a change to it shows on
both halves; a change only to the streaming micro-batch path of the
clickstream job should leave the catalog half unchanged.

End-to-end metrics: ``work_per_s`` is ingested documents per second of
stream wall, ``p50_ms`` the median sink-call wall over the append-only
ingest epochs, ``batch_s`` the catalog's total query wall. ``live_heap_mb``
is the largest live-heap reading: after set-up, after each catalog query
and after the ingest.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time

import obs
from catalog import Catalog
from ingest import BATCH_DOCS, EPOCHS, CorpusIngest


def run(ctx) -> dict:
    sf_dir = ctx.path("sf")
    gen_proc = subprocess.Popen(
        [sys.executable, ctx.gen_py, "tables", "--seed", str(ctx.seed),
         "--dir", sf_dir, "--sf", "0.1", "--ingest-batches", str(EPOCHS),
         "--ingest-batch-size", str(BATCH_DOCS)],
        stdout=subprocess.PIPE, text=True, env=ctx.gen_env(),
    )
    spark = sampler = None
    try:
        # the generator writes while the JVM starts; set-up is timed from
        # the session start and includes waiting for the inputs
        t0 = time.perf_counter()
        spark = ctx.session()
        sampler = obs.RssSampler(spark.sparkContext._jvm.ProcessHandle.current().pid())
        generated = json.loads(gen_proc.stdout.readline())
        if gen_proc.wait(timeout=120) != 0:
            raise RuntimeError("input generator failed")
        phases = {"session_s": time.perf_counter() - t0}
        catalog = Catalog(ctx, sf_dir)
        ingest = CorpusIngest(ctx, f"{sf_dir}/ingest", generated["ingest_text_bytes"])
        catalog.setup(spark)
        phases["catalog_setup_s"] = time.perf_counter() - t0 - phases["session_s"]
        pairs = catalog.results["dedup_minhash_jaccard"]
        ingest.setup(spark, zip(pairs["doc_a"], pairs["doc_b"], pairs["jaccard"]))
        phases["ingest_setup_s"] = time.perf_counter() - t0 - sum(phases.values())
        setup_s = time.perf_counter() - t0
        heap = obs.HeapProbe(spark)
        heap.sample()
        catalog.measure(spark, heap)
        ingest.measure(spark)
        heap.sample()
        peak_rss = sampler.stop()
        jobs = obs.StatusStore(spark).jobs() if ctx.trace else None
    finally:
        if sampler is not None:
            sampler.stop()
        if gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
        if spark is not None:
            spark.stop()
    cat, ing = catalog.report(jobs), ingest.report(jobs)
    named = {
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB", "n": 1},
        "live_heap_mb": {"value": heap.peak_mb, "unit": "MB", "n": len(heap.samples)},
        **cat["named"], **ing["named"],
    }
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "live_heap_mb": {"value": heap.peak_mb, "unit": "MB"},
        "work_per_s": {"value": ing["named"]["ingest_docs_per_s"]["value"], "unit": "1/s"},
        "p50_ms": {"value": ing["named"]["epoch_p50_s"]["value"] * 1000.0, "unit": "ms"},
        "batch_s": {"value": cat["named"]["catalog_s"]["value"], "unit": "s"},
    }
    return {
        "attempted": cat["attempted"] + ing["attempted"],
        "failed": cat["failed"] + ing["failed"],
        "e2e": e2e, "named": named, "layers": {**cat["layers"], **ing["layers"]},
        "info": {"setup": phases, "live_heap_mb": heap.samples, "heap_s": heap.seconds, "catalog": cat["info"], "ingest": ing["info"]},
    }
