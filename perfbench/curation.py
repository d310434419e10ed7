"""curation_microbatch: the curation loop driven batch by batch.

Closed loop, one client. Inputs from the seed: a corpus of distinct
documents with random embeddings, and a fixed sequence of batches.
Every batch document carries a label the generator knows and the
program never sees:

- ``fresh``: new text and a new random embedding -> accepted;
- ``exact_dup``: the text of a corpus document -> quarantined;
- ``near_dup``: a corpus document's text plus one extra word
  (shingle jaccard ~0.98, far above the 0.5 verify threshold) ->
  quarantined;
- ``low_quality``: a handful of tokens repeating one word (quality
  ~0.1, under the 0.45 gate) -> quarantined.

One run:

1. setup: session start (launching the JVM) plus input generation;
2. ``op.cold`` — build both stores over the corpus
   (``build_signature_store``, ``build_ivf_index``);
3. ``op.warm`` batches through ``process_curation_batch`` for
   ``--seconds`` (at least ``min_batches``);
4. traced runs only: ``op.finish`` — ``curation_audit_report`` over
   the batches run — and each store function called on its own
   against a byte copy of the freshly built stores, with the first
   batch, so its cost can be set against the batch time.

Afterwards, outside the timed region, the curated lake and the
rejects evidence are read back with pyarrow: each document's accept or
quarantine outcome must match its label, accepted plus quarantined
must equal the batch size, and the audit's per-batch counts must agree.
A mismatch fails that batch (or the audit op).
"""

from __future__ import annotations

import random
import shutil
import time
from statistics import median

SIZES = {
    "full": {"corpus": 200, "batch": 60, "min_batches": 1},
    "tiny": {"corpus": 40, "batch": 20, "min_batches": 1},
    "large": {"corpus": 1000, "batch": 200, "min_batches": 4},
}
# share of each label in a batch; low_quality takes the remainder
MIX = {"fresh": 0.4, "exact_dup": 0.2, "near_dup": 0.2}
DIM = 32
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
_BATCH_SCHEMA = "doc_id long, text string, e array<double>, src string"


class Inputs:
    """Seed -> corpus and batches. Batches are produced on demand, in
    order, from the same generator, so batch k is the same for a seed
    however many batches a run gets through."""

    def __init__(self, seed: int, corpus: int, batch: int):
        self._rng = random.Random(seed)
        self._words = self._vocabulary(6000)
        self.batch_size = batch
        self.corpus = [
            (i, self._text(), self._vector(), "corpus") for i in range(corpus)
        ]
        self.next_id = corpus
        self.batches: list[tuple[list[tuple], dict[int, str]]] = []

    def _vocabulary(self, n: int) -> list[str]:
        words: set[str] = set()
        while len(words) < n:
            k = self._rng.randint(3, 10)
            words.add("".join(self._rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(k)))
        return sorted(words)

    def _text(self) -> str:
        rng = self._rng
        tokens = rng.sample(self._words, rng.randint(60, 90))
        for _ in range(len(tokens) // 7):
            tokens.insert(rng.randrange(len(tokens)), rng.choice(_STOPWORDS))
        return " ".join(tokens)

    def _vector(self) -> list[float]:
        return [self._rng.gauss(0.0, 1.0) for _ in range(DIM)]

    def next_batch(self) -> tuple[list[tuple], dict[int, str]]:
        """(rows, {doc_id: label}) for the next batch in the sequence."""
        rng, n = self._rng, self.batch_size
        counts = {k: int(n * share) for k, share in MIX.items()}
        counts["low_quality"] = n - sum(counts.values())
        labels = [k for k, c in counts.items() for _ in range(c)]
        rng.shuffle(labels)
        rows, truth = [], {}
        for label in labels:
            doc_id, self.next_id = self.next_id, self.next_id + 1
            if label == "fresh":
                text = self._text()
            elif label == "exact_dup":
                text = rng.choice(self.corpus)[1]
            elif label == "near_dup":
                text = rng.choice(self.corpus)[1] + " " + rng.choice(self._words)
            else:
                text = " ".join([rng.choice(self._words)] * rng.randint(5, 12))
            rows.append((doc_id, text, self._vector(), "crawl"))
            truth[doc_id] = label
        self.batches.append((rows, truth))
        return rows, truth


def _ids(path: str, col: str) -> set[int]:
    import os

    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return set()
    return set(pq.read_table(path, columns=[col]).column(col).to_pylist())


def _batch_ok(work, batch_id: int, truth: dict[int, str]) -> tuple[bool, dict]:
    """Checks one batch's outcome against its labels; returns (ok,
    expected audit counts)."""
    lake, rej = f"{work}/lake", f"{work}/rejects"
    accepted = _ids(f"{lake}/batch_id={batch_id}", "doc_id")
    quality = _ids(f"{rej}/quality/batch_id={batch_id}", "doc_id")
    dups = _ids(f"{rej}/text/batch_id={batch_id}", "new_id") | _ids(
        f"{rej}/intra/batch_id={batch_id}", "new_id"
    )
    ann = _ids(f"{rej}/ann/batch_id={batch_id}", "new_id")
    quarantined = quality | dups | ann

    def want(*labels):
        return {d for d, lab in truth.items() if lab in labels}

    ok = (
        accepted == want("fresh")
        and quality == want("low_quality")
        and dups == want("exact_dup", "near_dup")
        and not ann
        and not accepted & quarantined
        and len(accepted) + len(quarantined) == len(truth)
    )
    return ok, {"lake_rows": len(accepted), "quality_rejects": len(quality)}


def run(ctx):
    from harness import WorkloadResult, tree_stats
    from pyspark.sql import functions as F

    from weather_etl_pipeline_spark.operators.dedup_store import build_signature_store
    from weather_etl_pipeline_spark.operators.ivf_store import build_ivf_index
    from weather_etl_pipeline_spark.streaming.curation_loop import (
        curation_audit_report,
        process_curation_batch,
    )

    cfg = SIZES[ctx.size]
    t = ctx.tracer
    work = str(ctx.work)
    sig, ivf = f"{work}/stores/sig", f"{work}/stores/ivf"

    def generate():
        inp = Inputs(ctx.seed, cfg["corpus"], cfg["batch"])
        inp.next_batch()
        return inp

    inp = ctx.setup(generate)
    spark = ctx.spark
    corpus = spark.createDataFrame(inp.corpus, _BATCH_SCHEMA)

    with t.span("op.cold"):
        with t.span("stores.sig_build"):
            build_signature_store(spark, corpus.select("doc_id", "text"), sig)
        with t.span("stores.ivf_build"):
            build_ivf_index(spark, corpus.select(F.col("doc_id").alias("vec_id"), "e"), ivf)
    if ctx.trace:
        # byte copy of the fresh stores for the standalone layer probes
        shutil.copytree(f"{work}/stores", f"{work}/probe")

    t0 = time.perf_counter()
    n = 0
    while n < cfg["min_batches"] or time.perf_counter() - t0 < ctx.seconds:
        rows, _ = inp.batches[n] if n < len(inp.batches) else inp.next_batch()
        df = spark.createDataFrame(rows, _BATCH_SCHEMA)
        n += 1
        with t.span("op.warm"):
            process_curation_batch(
                spark, df, n, sig, ivf, f"{work}/lake", f"{work}/rejects"
            )
    ctx.mark_peak()
    audit = files_per_append = None
    if ctx.trace:
        with t.span("op.finish"):
            audit = curation_audit_report(
                spark, f"{work}/rejects", f"{work}/lake", sig, ivf
            )
        files_per_append = _probe_layers(ctx, inp.batches[0])

    failed = 0
    audit_ok = True
    for batch_id, (_, truth) in enumerate(inp.batches[:n], start=1):
        ok, counts = _batch_ok(work, batch_id, truth)
        if audit is not None:
            row = audit["batches"].get(batch_id, {})
            audit_ok &= all(row.get(k) == v for k, v in counts.items())
        failed += not ok
    failed += not audit_ok
    attempted = n + (audit is not None)

    docs = cfg["corpus"] + sum(
        1 for _, truth in inp.batches[:n] for lab in truth.values() if lab == "fresh"
    )
    sig_files, sig_bytes = tree_stats(sig)
    ivf_files, ivf_bytes = tree_stats(ivf)
    files, size = tree_stats(work + "/lake")
    warm = [s.seconds for s in t.named("op.warm")]
    result = WorkloadResult(
        attempted=attempted,
        failed=failed,
        files=files + sig_files + ivf_files,
        bytes_per_row=(size + sig_bytes + ivf_bytes) / docs,
    )
    result.details = {
        "store_build_s": (t.named("op.cold")[0].seconds, "s"),
        "batch_p50_s": (median(warm), "s"),
        "batches": (n, "count"),
        "batch_size": (cfg["batch"], "count"),
        "batch_first_s": (warm[0], "s"),
        "batch_last_s": (warm[-1], "s"),
        "failed_ops_ratio": (failed / attempted, "ratio"),
        "stores.sig_files": (sig_files, "count"),
        "stores.bytes_per_doc": ((sig_bytes + ivf_bytes) / docs, "bytes"),
    }
    result.layer_spans = {
        "stores.sig_build_s": ("stores.sig_build", "seconds", "s"),
        "stores.ivf_build_s": ("stores.ivf_build", "seconds", "s"),
        "curation.batch_jobs": ("op.warm", "jobs", "count"),
        "curation.quality_gate_s": ("curation.quality_gate", "seconds", "s"),
        "stores.sig_probe_s": ("stores.sig_probe", "seconds", "s"),
        "stores.sig_append_s": ("stores.sig_append", "seconds", "s"),
        "stores.ivf_probe_s": ("stores.ivf_probe", "seconds", "s"),
        "stores.ivf_append_s": ("stores.ivf_append", "seconds", "s"),
        "audit_s": ("op.finish", "seconds", "s"),
    }
    if ctx.trace:
        result.details["stores.sig_files_per_append"] = (files_per_append, "count")
    return result


def _probe_layers(ctx, batch) -> int:
    """Each store/curation function on its own, against a copy of the
    freshly built stores, with ``batch`` (the first batch's documents).
    Returns the files one signature append adds."""
    from harness import tree_stats
    from pyspark.sql import functions as F

    from weather_etl_pipeline_spark.operators.curation import _Q_KEEP
    from weather_etl_pipeline_spark.operators.dedup_store import (
        append_signature_batch,
        probe_signature_store,
    )
    from weather_etl_pipeline_spark.operators.ivf_store import (
        append_ivf_batch,
        probe_ivf_index,
    )
    from weather_etl_pipeline_spark.operators.text import quality_expr
    from weather_etl_pipeline_spark.sources.lease import writer_lease

    spark, t, work = ctx.spark, ctx.tracer, str(ctx.work)
    sig, ivf = f"{work}/probe/sig", f"{work}/probe/ivf"
    rows, truth = batch
    df = spark.createDataFrame(rows, _BATCH_SCHEMA)
    hi = max(truth)
    fresh = df.filter(F.col("doc_id").isin([d for d, lab in truth.items() if lab == "fresh"]))

    def noop(frame) -> None:
        frame.write.format("noop").mode("overwrite").save()

    with t.span("curation.quality_gate"):
        noop(
            df.select("doc_id", F.round(quality_expr(), 6).alias("_q")).filter(
                F.col("_q") >= _Q_KEEP
            )
        )
    with t.span("stores.sig_probe"):
        noop(probe_signature_store(spark, df.select("doc_id", "text"), sig))
    before, _ = tree_stats(sig)
    with t.span("stores.sig_append"):
        append_signature_batch(spark, fresh.select("doc_id", "text"), sig, watermark_hi=hi)
    files_per_append = tree_stats(sig)[0] - before
    queries = df.select(F.col("doc_id").alias("query_id"), F.col("e").alias("qe"))
    with t.span("stores.ivf_probe"):
        noop(probe_ivf_index(spark, queries, ivf, topk=1, nprobe=1))
    with t.span("stores.ivf_append"):
        append_ivf_batch(
            spark, fresh.select(F.col("doc_id").alias("vec_id"), "e"), ivf, watermark_hi=hi
        )
    for _ in range(5):
        with t.span("sources.lease_roundtrip"):
            with writer_lease(spark, sig):
                pass
    return files_per_append
