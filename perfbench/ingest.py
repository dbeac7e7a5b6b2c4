"""The corpus-ingest half of workload ``corpus``: documents through
``streaming.ingest.corpus_ingest_sink``.

``EPOCHS`` files of ``BATCH_DOCS`` generated documents stream one file per
micro-batch into the sink with both legs on: the near-dup probe against
the written LSM dedup state (``on_pairs``) and decontamination flags
against a benchmark gram table saved during set-up (``on_flags``).
``max_bucket_size=None`` keeps the pairs exact, and ``COMPACT_EVERY``
makes the middle epoch compact. The epoch median is taken over the two
append-only epochs, so compaction shows only in the stream's docs/s. This is the only
part of the benchmark that writes: LSM appends and compactions.

Correctness: the union of emitted pairs must equal the batch pipeline's
pairs (``dedup.minhash_near_duplicates``, the catalog's
``dedup_minhash_jaccard``, itself checked against its DuckDB oracle) over
the streamed documents, and the union of emitted flags must equal
``pipeline.decontaminate_incremental`` over them. Each missing or extra
pair or flag is one failed operation.
"""

from __future__ import annotations

import os
import time

import obs
import stats

EPOCHS = 3
BATCH_DOCS = 100
COMPACT_EVERY = 2
#: banded-state partition modulus, sized to this corpus/batch ratio as
#: operators.dedup.NUM_STATE_BUCKETS advises (its 64 suits larger corpora)
STATE_BUCKETS = 8
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _new_files(root: str, seen: dict) -> tuple[int, int]:
    """Bytes of files under ``root`` not seen before (LSM files are
    immutable, so a new path or size is a write), and the count of live
    delta files."""
    written = delta = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            key = (st.st_size, st.st_mtime_ns)
            if seen.get(p) != key:
                seen[p] = key
                written += st.st_size
            if os.path.basename(dirpath) == "delta" and f.endswith(".parquet"):
                delta += 1
    return written, delta


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    )


class CorpusIngest:
    def __init__(self, ctx, data: str, text_bytes: int):
        """``data`` holds the stream (``src/``) and ``test.parquet`` that
        ``gen.py tables`` cut from the documents table."""
        self.ctx, self.tracer, self.text_bytes = ctx, ctx.tracer, text_bytes
        self.data, self.src = data, f"{data}/src"
        self.state, self.grams = ctx.path("state"), ctx.path("grams")
        self.epochs: dict[int, dict] = {}
        self.pairs: list[tuple] = []
        self.flags: dict[int, int] = {}
        self.seen: dict = {}

    def setup(self, spark, corpus_pairs) -> None:
        """Save the benchmark grams, build the correctness reference and
        initialize an empty dedup state. The pair reference is the batch
        pipeline's pairs over the whole documents table (``corpus_pairs``:
        rows of doc_a, doc_b, jaccard) restricted to the streamed
        documents: with exact candidates (``max_bucket_size=None``) a
        pair's banding and verification depend only on its two
        documents."""
        from flink_clickstream_processor_msk_spark.operators import pipeline
        from flink_clickstream_processor_msk_spark.streaming.ingest import (
            init_dedup_state,
        )

        n = EPOCHS * BATCH_DOCS
        self.want_pairs = {
            (int(a), int(b), round(float(j), 12))
            for a, b, j in corpus_pairs
            if a < n and b < n
        }
        pipeline.save_test_grams(spark.read.parquet(f"{self.data}/test.parquet"),
                                 self.grams)
        docs = spark.read.schema(DOC_SCHEMA).parquet(self.src)
        self.want_flags = {
            r["doc_id"]: r["contaminated"]
            for r in pipeline.decontaminate_incremental(
                docs, pipeline.load_test_grams(spark, self.grams)).collect()
        }
        spark.catalog.clearCache()
        init_dedup_state(spark, self.state, n_buckets=STATE_BUCKETS)

    def _on_pairs(self, df, epoch_id: int) -> None:
        with self.tracer.span("on_pairs"):
            t = time.time()
            rows = df.collect()
            self.epochs[epoch_id]["pairs_s"] = time.time() - t
        self.pairs.extend((r["doc_a"], r["doc_b"], round(r["jaccard"], 12)) for r in rows)

    def _on_flags(self, df, epoch_id: int) -> None:
        with self.tracer.span("on_flags"):
            t = time.time()
            rows = df.collect()
            self.epochs[epoch_id]["flags_s"] = time.time() - t
        self.flags.update((r["doc_id"], r["contaminated"]) for r in rows)

    def measure(self, spark) -> None:
        """Stream the documents through the sink, timing each sink call."""
        from flink_clickstream_processor_msk_spark.streaming.ingest import (
            corpus_ingest_sink,
        )

        inner = corpus_ingest_sink(
            self.state, self.grams, self._on_pairs, self._on_flags,
            max_bucket_size=None, compact_every=COMPACT_EVERY,
        )
        traced = bool(self.ctx.trace)
        if traced:
            _new_files(self.state, self.seen)

        def write(batch, epoch_id: int) -> None:
            e = self.epochs[epoch_id] = {}
            with self.tracer.span("epoch", trace=f"epoch{epoch_id}", epoch=epoch_id):
                e["start"] = time.time()
                inner(batch, epoch_id)
                e["end"] = time.time()
            e["compacted"] = (epoch_id + 1) % COMPACT_EVERY == 0
            if traced:
                e["written"], e["delta_files"] = _new_files(self.state, self.seen)

        q = (
            spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1)
            .parquet(self.src).writeStream.foreachBatch(write)
            .option("checkpointLocation", self.ctx.path("ckpt")).start()
        )
        t = time.perf_counter()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        self.wall = time.perf_counter() - t
        self.n_docs = EPOCHS * BATCH_DOCS
        self.state_bytes = _dir_bytes(self.state)

    def report(self, jobs: list[dict] | None) -> dict:
        got = set(self.pairs)
        failed_pairs = len(self.want_pairs ^ got) + (len(self.pairs) - len(got))
        failed_flags = sum(self.flags.get(d) != c for d, c in self.want_flags.items())
        failed_flags += len(set(self.flags) - set(self.want_flags))
        attempted = len(self.want_pairs) + len(self.want_flags)
        ep = [self.epochs[k] for k in sorted(self.epochs)]
        walls = [e["end"] - e["start"] for e in ep]
        append_walls = [w for w, e in zip(walls, ep) if not e["compacted"]]
        named = {
            "ingest_docs_per_s": {"value": self.n_docs / self.wall, "unit": "docs/s",
                                  "n": self.n_docs},
            "epoch_p50_s": {"value": stats.median(append_walls), "unit": "s",
                            "n": len(append_walls)},
        }
        layers = {}
        if jobs is not None:
            rest = [e["end"] - e["start"] - e["pairs_s"] - e["flags_s"] for e in ep]
            compactions = [r for r, e in zip(rest, ep) if e["compacted"]]
            per = [obs.job_totals(obs.jobs_between(jobs, e["start"], e["end"])) for e in ep]
            layers = {
                "ingest.pairs_ms_p50": stats.median([e["pairs_s"] for e in ep]) * 1e3,
                "ingest.flags_ms_p50": stats.median([e["flags_s"] for e in ep]) * 1e3,
                "ingest.fold_ms_p50": stats.median(
                    [r for r, e in zip(rest, ep) if not e["compacted"]]) * 1e3,
                "ingest.compact_s_mean": sum(compactions) / len(compactions),
                "lsm.delta_files_max": max(e["delta_files"] for e in ep),
                "lsm.write_amplification": sum(e["written"] for e in ep) / self.text_bytes,
                "lsm.state_bytes_final": self.state_bytes,
                "exec.jobs_per_epoch": sum(p["jobs"] for p in per) / len(ep),
                "exec.shuffle_bytes_per_epoch":
                    sum(p["shuffle_bytes"] for p in per) / len(ep),
            }
        info = {"epochs": len(walls), "docs": self.n_docs, "pairs": len(self.want_pairs),
                "flagged": sum(self.want_flags.values()), "failed_pairs": failed_pairs,
                "failed_flags": failed_flags, "epoch_walls_s": walls,
                "compactions": sum(e["compacted"] for e in ep)}
        return {"attempted": attempted,
                "failed": min(attempted, failed_pairs + failed_flags),
                "named": named, "layers": layers, "info": info}
