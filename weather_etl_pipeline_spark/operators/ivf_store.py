"""Persisted IVF (inverted-file) ANN index — build once, probe per batch.

``simsearch_ivf_kmeans`` (ivf.py) is the right QUERY shape for
cell-probed similarity search, but it re-runs Lloyd's AND rebuilds the
inverted lists inline on every call — the same inline-rebuild shape the
signature store (dedup_store.py) eliminated for minhash dedup. A
production similarity service builds the IVF index once per compaction
cycle and probes it per query batch; probe cost then scales with the
BATCH and the probed cells, not the corpus. Same two-op layout as the
signature store:

- ``build_ivf_index`` — one corpus pass: Lloyd's k-means (the exact
  arithmetic of ``ivf.kmeans_centroids``), final assignment, inverted
  lists written to ``<index>/cells`` PARTITIONED BY cell id (probes
  prune to their matched cells), centroids to ``<index>/centroids``
  (k rows), and a max-vec_id watermark to ``<index>/meta``.
- ``probe_ivf_index`` — batch-vs-index only: each query is assigned to
  its ``nprobe`` nearest centroids map-side (centroids ride along as
  one broadcast array column — no row explosion), the cells scan is
  partition-pruned to the batch's probe-cell set (a bounded work-list:
  ≤ k cell ids), the batch side broadcasts into the scan, and the
  top-k window runs over the bounded candidate set. No corpus-side
  k-means, no index shuffle, anywhere.

Scale notes (the 100 TB contract):
- build is the linear per-compaction job; at lake scale run Lloyd's on
  a sample and keep the one final full assignment pass (ivf.py module
  doc) — the index layout here is unchanged by that swap.
- probe reads shrink with nprobe/k (a 1-of-64-cells probe scans ~1.6%
  of the corpus); worst case it scans the matched cell partitions
  (columnar doubles, IO-speed) but never folds or shuffles them. The
  only exchange in the probe plan is the final per-query top-k window
  over candidates, whose size is probe-set x cell membership, not
  corpus size. ``tools/ivf_store_sweep.py`` measures probe flatness
  across @xN corpus growth, the signature-store sweep pattern.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.jvmrows import empty_df, one_row_df
from ..functions.vectors import cosine
from ..sources.fs import path_exists
from .ivf import _assign, _dist2, _ITERS, _K, _seed_rows, kmeans_centroids

__all__ = [
    "append_ivf_batch",
    "build_ivf_index",
    "ivf_cell_stats",
    "probe_ivf_index",
    "read_ivf_watermark",
]


# at-or-above this centroid count, assignment switches from the HOF
# fold (codegen'd, zero Python — unbeatable at small k) to one numpy
# matmul per Arrow batch (BLAS — the difference between minutes and
# seconds at k in the hundreds). k MUST grow with the corpus to keep
# per-probe cell membership bounded (n/k vectors per cell is the whole
# IVF cost model), so the vectorized path is the 100 TB path. The two
# paths differ in d2 rounding at ULP scale (fold vs expanded matmul
# formula), so BUILD and PROBE must pick by the same threshold on the
# same k — which they do: build passes its k, probe counts the stored
# centroids.
_VEC_ASSIGN_MIN_K = 64


def _assign_np(emb: DataFrame, cent_rows: list, m: int = 1) -> DataFrame:
    """Vectorized nearest-centroid assignment: (vec_id, e, cell) via
    mapInPandas — same (min d2, then lower cell) contract as
    ivf._assign. ``cent_rows`` = [(cell, [float]*dim)] sorted by cell
    ascending; argmin's first-minimum rule then breaks ties toward the
    lower cell exactly like the HOF struct-min. ``m`` > 1 emits one row
    per vector per m-nearest cell (multi-assignment — see
    build_ivf_index's assign_m); stable argsort keeps the m=1 prefix
    identical to argmin."""
    import numpy as np
    import pandas as pd

    C = np.asarray([c for _, c in cent_rows], dtype=np.float64)
    cells = np.asarray([c0 for c0, _ in cent_rows], dtype=np.int64)
    c2 = (C * C).sum(axis=1)
    m = min(m, len(cent_rows))

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["e"].to_numpy())
            d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
            if m == 1:
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "e": pdf["e"],
                        "cell": cells[np.argmin(d2, axis=1)],
                    }
                )
            else:
                idx = np.argsort(d2, axis=1, kind="stable")[:, :m]
                rep = np.repeat(np.arange(len(pdf)), m)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy()[rep],
                        "e": pdf["e"].to_numpy()[rep],
                        "cell": cells[idx].ravel(),
                    }
                )

    return emb.mapInPandas(fn, "vec_id long, e array<double>, cell int")


def _assign_m_hof(emb: DataFrame, cent: DataFrame, m: int) -> DataFrame:
    """HOF (small-k) twin of multi-assignment: each vector lands in its
    m nearest cells — slice of the sorted (d2, cell) struct array, the
    exact ordering ivf._assign's array_min takes the head of."""
    cs = cent.agg(
        F.sort_array(F.collect_list(F.struct("cell", "centroid"))).alias("_cs")
    )
    near = F.slice(
        F.array_sort(
            F.transform(
                "_cs",
                lambda c: F.struct(
                    _dist2(F.col("e"), c["centroid"]).alias("d2"),
                    c["cell"].alias("cell"),
                ),
            )
        ),
        1,
        m,
    )
    return (
        emb.join(F.broadcast(cs))
        .select(
            "vec_id",
            "e",
            F.explode(F.transform(near, lambda s: s["cell"])).alias("cell"),
        )
    )


def _rank_cells_np(queries: DataFrame, cent_rows: list, nprobe: int) -> DataFrame:
    """Per-query nprobe-nearest cells, vectorized: (query_id, qe, qcell)
    with one row per (query, probed cell). Stable argsort + ascending
    cell order reproduces the HOF path's (d2, then lower cell) ranking."""
    import numpy as np
    import pandas as pd

    C = np.asarray([c for _, c in cent_rows], dtype=np.float64)
    cells = np.asarray([c0 for c0, _ in cent_rows], dtype=np.int64)
    c2 = (C * C).sum(axis=1)
    np_ = min(nprobe, len(cent_rows))

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["qe"].to_numpy())
            d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
            idx = np.argsort(d2, axis=1, kind="stable")[:, :np_]
            rep = np.repeat(np.arange(len(pdf)), np_)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy()[rep],
                    "qe": pdf["qe"].to_numpy()[rep],
                    "qcell": cells[idx].ravel(),
                }
            )

    return queries.mapInPandas(fn, "query_id long, qe array<double>, qcell int")


def _centroids_vectorized(
    spark: SparkSession, emb: DataFrame, k: int, iters: int, dim: int
) -> list:
    """Lloyd's with the numpy assignment — the large-k twin of
    ivf.kmeans_centroids (same k-means++ init, same driver round-trip
    of k×dim doubles, same empty-cluster keep-old rule); returns
    cent_rows."""
    rows = _seed_rows(emb, k, "kmeans++")
    for _ in range(iters):
        sums = (
            _assign_np(emb, rows)
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("e", d + 1)).alias(f"s{d}")
                    for d in range(dim)
                ],
            )
        )
        got = {r["cell"]: r for r in sums.collect()}
        rows = [
            (
                i,
                [got[i][f"s{d}"] / got[i]["n"] for d in range(dim)]
                if i in got
                else rows[i][1],
            )
            for i in range(k)
        ]
    return rows


def _cells_path(index_path: str) -> str:
    return os.path.join(index_path, "cells")


def _centroids_path(index_path: str) -> str:
    return os.path.join(index_path, "centroids")


def _meta_path(index_path: str) -> str:
    return os.path.join(index_path, "meta")


#: skew ratio (max cell / mean cell) above which ivf_cell_stats
#: recommends a rebuild. The probe kernel keeps a crowded cell at
#: scan speed (never per-candidate HOF speed), so skew is a COST
#: multiplier on probes hitting that cell, not a melt-down — but past
#: ~8× the quantizer no longer reflects the stored distribution and a
#: rebuild on the compaction cadence restores the n/k cost model.
_SKEW_REBUILD_RATIO = 8.0


def ivf_cell_stats(spark: SparkSession, index_path: str) -> dict:
    """Per-cell population stats for maintenance dashboards — the
    operator-facing view of IVF cell skew (round 14: appends of
    out-of-distribution batches concentrate into few cells; the next
    batch from that distribution probes exactly those cells, so probe
    cost multiplies by max-cell/mean-cell on the hot path — see
    _scored_cells_np, which bounds the damage to scan speed).

    Returns ``{"trained": False}`` for an untrained/empty index, else
    ``trained, n_cells, empty_cells, total_vectors, max_cell,
    mean_cell, skew_ratio, top_cells, rebuild_recommended``.
    ``top_cells`` = the 5 most populated (cell, count) pairs.
    Committed rows only (vec_id <= watermark), same visibility rule as
    the probe. One grouped count over the (cell, vec_id) columns of
    the cells table — column-pruned, ≤ k result rows, an audit run,
    not a hot-path op. ``mean_cell`` divides by TRAINED cell count (k
    from meta), so emptied cells drag the mean down and skew up —
    that asymmetry is the signal: a quantizer whose cells are mostly
    empty while a few bulge is exactly one trained on a distribution
    the corpus no longer has."""
    watermark, _, trained, _, _, n_cells = _read_meta_full(spark, index_path)
    if not trained or watermark < 0:
        return {"trained": False}
    cent = spark.read.parquet(_centroids_path(index_path))
    k = n_cells if n_cells is not None else cent.count()
    counts = (
        spark.read.parquet(_cells_path(index_path))
        .filter(F.col("vec_id") <= watermark)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_cell = {int(r["cell"]): int(r["n"]) for r in counts}
    total = sum(by_cell.values())
    if not total:
        return {"trained": True, "n_cells": int(k), "total_vectors": 0}
    max_cell = max(by_cell.values())
    mean_cell = total / max(1, int(k))
    skew = max_cell / mean_cell
    top = sorted(by_cell.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    return {
        "trained": True,
        "n_cells": int(k),
        "empty_cells": int(k) - len(by_cell),
        "total_vectors": total,
        "max_cell": max_cell,
        "mean_cell": round(mean_cell, 1),
        "skew_ratio": round(skew, 2),
        "top_cells": top,
        "rebuild_recommended": skew >= _SKEW_REBUILD_RATIO,
    }


def read_ivf_watermark(spark: SparkSession, index_path: str) -> int:
    """Committed high-water vec_id (-1 = index built over an empty
    corpus: zero cell files — consumers must branch on this before
    touching the data dirs, mirroring dedup_store.read_store_watermark)."""
    return _read_meta(spark, index_path)[0]


def _read_meta(spark: SparkSession, index_path: str) -> tuple[int, int, bool]:
    """(watermark, assign_m, trained). Older meta rows lack the newer
    columns: assign_m defaults to 1, trained to watermark >= 0 (an
    untrained index used to be exactly "watermark -1"; the flag was
    split out when builds gained a watermark FLOOR, which can leave an
    empty/untrained index with a positive committed watermark)."""
    return _read_meta_full(spark, index_path)[:3]


def _read_meta_full(
    spark: SparkSession, index_path: str
) -> tuple[int, int, bool, int | None, bool, int | None]:
    """(watermark, assign_m, trained, pending_hi, legacy, n_cells) —
    the append journal view. ``pending_hi`` non-null = an append
    declared intent and never committed; ``legacy`` = meta predates the
    journal column (torn state can't be ruled out from meta alone, so
    the next append runs the orphan recovery scan once); ``n_cells`` =
    stored centroid count (None on pre-round-10 meta — consumers fall
    back to counting the centroids table). Mirrors
    dedup_store._read_sig_meta."""
    row = spark.read.parquet(_meta_path(index_path)).collect()[0]
    fields = row.__fields__
    wm = int(row["max_vec_id"])
    m = row["assign_m"] if "assign_m" in fields else 1
    trained = row["trained"] if "trained" in fields else (wm >= 0)
    legacy = "pending_hi" not in fields
    pending = None if legacy or row["pending_hi"] is None else int(row["pending_hi"])
    n_cells = (
        int(row["n_cells"])
        if "n_cells" in fields and row["n_cells"] is not None
        else None
    )
    return wm, int(m if m is not None else 1), bool(trained), pending, legacy, n_cells


def build_ivf_index(
    spark: SparkSession,
    emb: DataFrame,
    index_path: str,
    k: int | None = None,
    iters: int = _ITERS,
    assign_m: int = 1,
    watermark_hi: int | None = None,
    lease_ttl_s: float | None = 900.0,
    _fence=None,
) -> None:
    """One corpus pass → the persisted IVF index (see module doc).

    ``emb`` needs (vec_id, e array<double>). Overwrites any prior
    index — rebuild runs on the compaction cadence, not per batch.

    ``k=None`` (default) auto-sizes the quantizer to the corpus:
    k = clamp(round(sqrt(n)), _K, 4096). sqrt(n) balances the IVF cost
    model's two terms — per-probe candidate work is nprobe·(n/k) and
    per-query cell ranking is O(k), so their sum is minimized at
    k ~ sqrt(n) (the standard IVF sizing rule, e.g. the FAISS
    guidelines). The floor keeps tiny corpora at the small-k HOF path
    this module's contract tests pin; the 4096 cap bounds the
    driver-side centroid round-trip (4096 × dim doubles) and the
    centroid-assignment matmul width — past it, per-cell membership
    keeps growing linearly but a deeper structure (IVF-PQ, sharded
    coarse quantizers) is the right answer, not more cells.

    ``watermark_hi`` / watermark preservation: same contract as
    build_signature_store — the meta watermark lands at max(corpus
    max, existing watermark, watermark_hi), so a compaction rebuild
    from the accepted corpus (or an ingest bootstrap whose batch tail
    was quality-rejected) can never regress the committed batch marker
    below what a streaming loop already relies on for its replay
    short-circuit.

    ``assign_m``: store each vector in its m nearest cells (classic
    IVF multi-assignment). Storage and probed bytes scale ×m; recall
    at fixed nprobe rises because true neighbors just across a cell
    boundary become visible from the query's cells. This is THE dial
    for corpora with weak coarse-cluster structure — measured on
    sf0.1's isotropic embeddings (EXPLAINS.md "IVF recall"): seeding
    and extra Lloyd iterations move recall@nprobe by <1% (inertia
    1907→1897 vs total variance 1999 — there are no real clusters to
    find), while m=2 lifts recall@5 at nprobe=4 from 0.74 to ≥0.95.
    Probes dedupe candidates, so output semantics are unchanged;
    nprobe=k remains exactly brute force. Appends inherit m from meta.

    Mutates under the index's single-writer lease by default (same
    contract as build_signature_store; ``lease_ttl_s=None`` opts out).
    """
    if lease_ttl_s is not None:
        from ..sources.lease import fence_for, writer_lease

        with writer_lease(
            spark, index_path, owner="build_ivf_index", ttl_s=lease_ttl_s
        ) as token:
            return build_ivf_index(
                spark,
                emb,
                index_path,
                k,
                iters,
                assign_m,
                watermark_hi,
                lease_ttl_s=None,
                _fence=fence_for(spark, index_path, token),
            )
    # watermark floor, read BEFORE the overwrite clobbers meta. Only a
    # MISSING meta (fresh build) may skip the floor; a present-but-
    # unreadable meta fails loudly — same replay-window rationale as
    # build_signature_store.
    floor = -1 if watermark_hi is None else int(watermark_hi)
    if path_exists(spark, _meta_path(index_path)):
        floor = max(floor, read_ivf_watermark(spark, index_path))
    # vec_id is a key: replicated ingest rows must not multiply cell
    # membership (the probe's candidate set) or degenerate the k-means
    # init (replicated sample rows yield duplicate seed centroids) —
    # same collapse-first posture as the dedup family
    emb = emb.dropDuplicates(["vec_id"]).cache()
    try:
        hi = emb.agg(F.max("vec_id").alias("hi")).collect()[0]["hi"]
        if hi is None:
            # empty corpus: meta only, flagged UNTRAINED (zero-row
            # partitioned writes leave no schema-readable files — the
            # probe short-circuits on the flag; the watermark itself
            # may sit at the floor, which is why trained is a separate
            # column and not "watermark >= 0"). assign_m is RECORDED
            # even though nothing is assigned yet: an empty build is
            # how a stream pre-configures its index, and the bootstrap
            # rebuild reads m back from meta — dropping it here would
            # silently downgrade the stream to m=1 forever.
            if _fence is not None:
                # this unconditional overwrite can CLOBBER a
                # successor's trained meta (regressing trained and the
                # watermark — probes would then short-circuit untrained
                # and admit duplicates of the committed corpus): fence
                # it like every other commit-point write
                _fence()
            _write_meta(
                spark,
                index_path,
                floor,
                max(1, int(assign_m)),
                trained=False,
            )
            return
        dim = len(emb.select("e").first()["e"])
        n = emb.count()
        if k is None:
            # auto-k (docstring): sqrt-n sizing, floored at the legacy
            # default so small/test corpora keep their pinned plans
            k = max(_K, min(4096, int(round(n**0.5))))
        # clamp k to the corpus: both Lloyd paths seed from the first k
        # vectors and index rows[i] for i < k — a k beyond the corpus
        # size would IndexError mid-iteration (a 10-vector bootstrap
        # corpus with the k=64 production default is a legitimate call)
        k = max(1, min(k, n))
        # meta records the CONFIGURED m; this build's own assignment
        # clamps to the k it actually trained (a 1-vector bootstrap
        # corpus can only fill one cell) — probes and appends re-clamp
        # against the stored centroid count themselves, so the
        # configured m takes effect again as the corpus grows instead
        # of being silently downgraded forever
        assign_m = max(1, int(assign_m))
        m_eff = min(assign_m, k)
        if k >= _VEC_ASSIGN_MIN_K:
            rows = _centroids_vectorized(spark, emb, k, iters, dim)
            cent = spark.createDataFrame(
                rows, "cell int, centroid array<double>"
            )
            cells = _assign_np(emb, rows, m=m_eff)
        else:
            cent = kmeans_centroids(emb, k=k, iters=iters, dim=dim)
            cells = (
                _assign(emb, cent)
                if m_eff == 1
                else _assign_m_hof(emb, cent, m_eff)
            )
        # one task per cell dir → one file per dir (k files total), the
        # same tiny-file guard as the signature store's shard layout.
        # partitionOverwriteMode=static PER-WRITE: the session default
        # is dynamic (the lake's append-shaped overwrites need it), but
        # a REBUILD must clear the whole layout — under dynamic mode a
        # cell that receives no rows in the new build (empty cluster,
        # auto-k drift across compactions) would keep the OLD index's
        # rows, which pass the probe's committed filter because rebuilds
        # preserve the watermark floor: deleted vectors stay searchable.
        if _fence is not None:
            # fence BEFORE the destructive static overwrites of cells/
            # centroids (same rationale as build_signature_store): a
            # rebuild whose lease already lapsed must not erase a
            # successor's committed rows — missing-below-the-watermark
            # is undetectable by the orphan-above scan. A lapse DURING
            # the overwrites remains the TTL hold-guarantee boundary.
            _fence()
        (
            cells.repartition(k, "cell")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("cell")
            .parquet(_cells_path(index_path))
        )
        # repartition(1), not coalesce(1): cent is a Python-local
        # relation (defaultParallelism Python-backed partitions); a
        # coalesced single task would drain them SEQUENTIALLY, one
        # Python-worker round-trip each (~4.5s flat on local[32] —
        # functions/jvmrows.py). The shuffle reads them in parallel,
        # then one task writes the one file.
        cent.repartition(1).write.mode("overwrite").parquet(
            _centroids_path(index_path)
        )
        # INVARIANT: n_cells = k = row count of the centroids table
        # just written (empty clusters keep their old centroid, so
        # kmeans_centroids always emits exactly k rows). Probes key the
        # _VEC_ASSIGN_MIN_K branch and the min(assign_m, k) dedupe gate
        # on this meta value and skip their own cent.count() job; the
        # large-k probe re-verifies len(centroids) == n_cells at
        # collect time and refuses a torn index (see probe_ivf_index).
        if _fence is not None:
            _fence()  # abort pre-commit if the lease lapsed mid-build
        _write_meta(spark, index_path, max(int(hi), floor), assign_m, n_cells=k)
    finally:
        emb.unpersist()


def _write_meta(
    spark: SparkSession,
    index_path: str,
    max_vec_id: int,
    assign_m: int = 1,
    trained: bool = True,
    pending_hi: int | None = None,
    n_cells: int | None = None,
) -> None:
    # JVM-side 1-row build — see functions/jvmrows.py (a Python-local
    # 1-row coalesce(1) write cost ~4.5s flat, paid twice per append).
    # Atomic swap, not a bare overwrite — same rationale as
    # dedup_store._write_sig_meta (round 11): no crash window where
    # meta is gone on an index that still holds cells.
    from ..plans.metadata import _atomic_overwrite

    _atomic_overwrite(
        one_row_df(
            spark,
            (
                int(max_vec_id),
                int(assign_m),
                bool(trained),
                None if pending_hi is None else int(pending_hi),
                None if n_cells is None else int(n_cells),
            ),
            "max_vec_id long, assign_m int, trained boolean, pending_hi long,"
            " n_cells int",
        ),
        _meta_path(index_path),
    )


def append_ivf_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    watermark_hi: int | None = None,
    lease_ttl_s: float | None = 900.0,
    _fence=None,
) -> None:
    """The ingest loop's accept step for ANN — append a batch's vectors
    to the existing cells WITHOUT re-clustering (centroids are the
    index's coarse quantizer; production IVF re-trains on the
    compaction cadence, not per batch — drift between the trained
    centroids and newly ingested vectors is the documented trade every
    IVF service makes).

    Contract mirrors append_signature_batch exactly: batch vec_ids
    strictly greater than the stored watermark (monotonic ingest
    sequence, asserted), assignment uses the SAME arithmetic path the
    index was built with (shared _VEC_ASSIGN_MIN_K threshold on the
    stored k), cells written BEFORE meta so a mid-append crash leaves
    the new vectors merely unsearchable (the probe reads committed
    rows only), and a retry over a torn state is REFUSED loudly —
    blindly re-appending would commit the crashed attempt's orphan
    rows alongside the retry's copies once the watermark passes them
    (duplicate candidates forever). Recovery = rebuild, the compaction
    cadence's job anyway.

    ``watermark_hi``: the ingest batch's max vec_id INCLUDING rejected
    vectors — the streaming loop's batch-commit marker, identical in
    role and rationale to append_signature_batch's parameter (a batch
    whose tail vectors were all quarantined must still read as fully
    committed, in ONE meta write, or a replay lands in the
    self-duplicate window).

    Runs under the index's single-writer lease by default
    (``lease_ttl_s=None`` opts out) — the single-writer contract above
    is enforced, not assumed.
    """
    if lease_ttl_s is not None:
        from ..sources.lease import fence_for, writer_lease

        with writer_lease(
            spark, index_path, owner="append_ivf_batch", ttl_s=lease_ttl_s
        ) as token:
            return append_ivf_batch(
                spark,
                batch,
                index_path,
                watermark_hi,
                lease_ttl_s=None,
                _fence=fence_for(spark, index_path, token),
            )
    lo_hi = batch.agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).collect()[0]
    stored_max, assign_m, trained, pending, legacy, n_cells = _read_meta_full(
        spark, index_path
    )
    # torn detection via the meta journal (pending_hi), FIRST — before
    # even the empty-batch path: a clean commit point skips the orphan
    # footer scan entirely — the scan is file-count-bound and was a
    # fixed per-batch tax in the ingest loop. A set intent (or legacy
    # meta) runs it once; orphan rows ⇒ refuse (rebuild recovers),
    # none ⇒ the crash landed before any data write and the retry is
    # safe. The empty-batch path MUST sit behind this check: it
    # advances the watermark, and advancing past a crashed append's
    # orphan rows would legitimize them silently. Mirrors
    # append_signature_batch.
    if pending is not None or legacy:
        # shared scan with the signature store (one copy of the
        # version-brittle missing-path message matching — file-less or
        # missing cells dir reads as no orphans)
        from .dedup_store import _orphans_above

        if _orphans_above(spark, _cells_path(index_path), "vec_id", stored_max):
            raise ValueError(
                f"torn append detected: cells hold vec_ids above the meta "
                f"watermark {stored_max} — a previous append crashed "
                "mid-write; rebuild the index"
            )
    if lo_hi["lo"] is None:
        # all-duplicates ingest batch: advance the commit marker only.
        # The write also clears a recovery-vetted journal / upgrades
        # legacy meta (proven clean just above) — mirrors
        # append_signature_batch's empty path.
        new_wm = stored_max
        if watermark_hi is not None and watermark_hi > stored_max:
            new_wm = int(watermark_hi)
        if new_wm != stored_max or pending is not None or legacy:
            if _fence is not None:
                _fence()  # this write advances the watermark: fence it
            _write_meta(
                spark, index_path, new_wm, assign_m, trained, n_cells=n_cells
            )
        return
    if lo_hi["lo"] <= stored_max:
        raise ValueError(
            f"append contract violated: batch min vec_id {lo_hi['lo']} "
            f"<= stored max {stored_max} (ingest ids must be monotonic)"
        )
    if not trained:
        raise ValueError(
            "cannot append into an untrained IVF index: no centroids "
            "to assign against — build_ivf_index over the first corpus"
        )
    hi = int(lo_hi["hi"])
    if watermark_hi is not None:
        hi = max(hi, int(watermark_hi))
    if _fence is not None:
        # EARLY fence before the intent record and any data write: an
        # abort here is clean (nothing written, retry replays freely);
        # an abort at the late fence below is a journal-torn state the
        # retry refuses — identical to a mid-append crash. Mirrors
        # append_signature_batch.
        _fence()
    # intent record: crash anywhere below is detectable from meta alone
    _write_meta(
        spark,
        index_path,
        stored_max,
        assign_m,
        trained,
        pending_hi=hi,
        n_cells=n_cells,
    )
    batch = batch.dropDuplicates(["vec_id"])
    cent = spark.read.parquet(_centroids_path(index_path))
    cent_rows = sorted(
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in cent.collect()
    )
    k = len(cent_rows)
    if k >= _VEC_ASSIGN_MIN_K:
        cells = _assign_np(batch, cent_rows, m=assign_m)
    else:
        cent_df = spark.createDataFrame(
            cent_rows, "cell int, centroid array<double>"
        )
        cells = (
            _assign(batch, cent_df)
            if assign_m == 1
            else _assign_m_hof(batch, cent_df, assign_m)
        )
    (
        cells.repartition(min(k, 64), "cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(_cells_path(index_path))
    )
    if _fence is not None:
        # fencing check before commit: a lapsed lease means a successor
        # may already be mutating — abort, leaving rows above the
        # unadvanced watermark (the journal recovery's torn state)
        _fence()
    # commit: watermark advances, intent journal clears
    _write_meta(spark, index_path, hi, assign_m, n_cells=n_cells)


# Driver-side cap on the (query, probed-cell) rows the scoring kernel
# collects (≤ ~35 MB of 64-dim doubles). Ingest batches (the 100 TB
# loop's shape) sit orders of magnitude under it; an over-cap
# analytical probe falls back to the HOF join.
_VEC_SCORE_MAX_QCELLS = 65536

# Per-batch candidate margin for the kernel's top-k pruning — same
# constant and reasoning as simsearch._SCAN_MARGIN: the kernel prunes
# with float64 BLAS sims while the returned rows are RE-SCORED with the
# exact fold, so the cut keeps extra rows in case two sims sit within
# summation-order noise of each other at the cut line.
_IVF_SCAN_MARGIN = 8


def _scored_cells_np(
    spark: SparkSession, qc_rows: list, cells: DataFrame, topk: int
) -> DataFrame:
    """(query_id, neighbor_id, cos_sim) candidate scoring as ONE BLAS
    matmul per (Arrow batch, cell) through mapInPandas — the skew-proof
    spelling of the probe's scoring stage (same shape as
    simsearch_knn_topk_scan's corpus scan).

    Why this exists (round 14): the HOF-join path evaluates one
    codegen'd cosine fold per (query, cell-vector) candidate — fine at
    the design point (balanced cells, n/k vectors each), but cell
    population is data-dependent: appends of out-of-distribution
    batches (vs the corpus the quantizer was trained on) concentrate
    into few cells, and the NEXT batch from that distribution probes
    exactly those cells. Measured in the @x10/5000-doc curation sweep:
    the second batch's probe hit one ~5k-vector cell × 5k queries =
    25M HOF cosines ≈ 85s, vs ~2s for the same candidates as numpy
    matmuls. The kernel's cost is one Python stage over the pruned
    scan regardless of how candidates distribute across cells — the
    worst case degrades to brute-force-scan speed (the
    simsearch_knn_topk_scan envelope), never to per-row HOF speed.

    Exactness: the kernel only PRUNES — per (query, Arrow-batch, cell)
    it keeps the top-(topk + margin) candidate ids in the FINAL rank's
    order (rounded sim desc, then neighbor_id; non-finite sims sort
    last, matching the window's NULLS LAST) — and the survivors are
    re-scored with the exact ``cosine`` fold expression, so emitted
    values are bit-identical to the HOF join's (the store-vs-inline
    equality pins and the driver oracle hold unchanged). Each survivor
    carries its neighbor embedding out of the kernel, so the re-score
    needs no second scan of the probed cells. Self-matches are masked
    in the kernel. Multi-assign duplicates ((q, n) surviving from two
    probed cells) stay one row per copy; the shared ``dropDuplicates``
    tail in the probe removes them exactly as it does for the HOF path.
    """
    import numpy as np
    import pandas as pd

    by_q: dict[int, tuple[list, list]] = {}
    for r in qc_rows:
        by_q.setdefault(int(r["query_id"]), (r["qe"], []))[1].append(
            int(r["qcell"])
        )
    q_ids = np.array(sorted(by_q), dtype=np.int64)
    q_mat = np.stack(
        [np.asarray(by_q[int(q)][0], dtype=np.float64) for q in q_ids]
    )
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    cell_to_qidx: dict[int, list] = {}
    for qi, q in enumerate(q_ids):
        for c in by_q[int(q)][1]:
            cell_to_qidx.setdefault(c, []).append(qi)
    cell_to_qidx = {c: np.asarray(v) for c, v in cell_to_qidx.items()}
    keep = topk + _IVF_SCAN_MARGIN

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_n, out_e = [], [], []
            # cells/ is partitioned by cell, so an Arrow batch is almost
            # always one group; the groupby is correctness, not cost
            for c, sub in pdf.groupby("cell"):
                qidx = cell_to_qidx.get(int(c))
                if qidx is None:
                    continue
                ids = sub["vec_id"].to_numpy(dtype=np.int64)
                vecs = sub["e"].to_numpy()
                cm = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
                cn = np.sqrt((cm * cm).sum(axis=1))
                # chunk the query side so the sims matrix stays ≤ ~64MB
                # regardless of how many of the batch's queries probe
                # this cell (the driver cap bounds TOTAL queries, not
                # per-cell concentration — and concentration is exactly
                # the skew case this kernel exists for)
                chunk = max(1, 8_000_000 // max(1, len(ids)))
                for lo in range(0, len(qidx), chunk):
                    qpart = qidx[lo : lo + chunk]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        sims = (q_mat[qpart] @ cm.T) / (
                            q_norm[qpart][:, None] * cn[None, :]
                        )
                    # non-finite (zero-norm) sims must never crowd out
                    # real candidates: -inf sorts last under the
                    # lexsort below, mirroring the exact path's NULL
                    # cos_sim NULLS LAST
                    sims[~np.isfinite(sims)] = -np.inf
                    for row_i in range(len(qpart)):
                        qi = qpart[row_i]
                        cand = np.nonzero(ids != q_ids[qi])[0]
                        if not len(cand):
                            continue
                        row = sims[row_i]
                        order = np.lexsort(
                            (ids[cand], -np.round(row[cand], 6))
                        )
                        top = cand[order[:keep]]
                        out_q.append(
                            np.full(len(top), q_ids[qi], dtype=np.int64)
                        )
                        out_n.append(ids[top])
                        out_e.extend(vecs[top])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "e": out_e,
                    }
                )

    survivors = cells.select("cell", "vec_id", "e").mapInPandas(
        scan, "query_id long, neighbor_id long, e array<double>"
    )
    # exact re-score: the bounded survivors stream against the
    # broadcast query vectors (rebuilt driver-side from the
    # already-collected rows — no recompute job); no shuffle and no
    # second cells scan
    q_df = spark.createDataFrame(
        [(int(q), list(by_q[int(q)][0])) for q in q_ids],
        "query_id long, qe array<double>",
    )
    return (
        survivors.join(F.broadcast(q_df), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qe"), F.col("e")), 6).alias("cos_sim"),
        )
    )


def probe_ivf_index(
    spark: SparkSession,
    queries: DataFrame,
    index_path: str,
    topk: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rk) — the batch's top-``topk``
    cosine neighbors among index vectors in each query's ``nprobe``
    nearest cells; the persisted-index twin of ``simsearch_ivf_kmeans``
    (pytest pins the outputs equal at nprobe=1 over the same corpus).
    ``queries`` needs (query_id, qe array<double>). Self-matches
    (neighbor_id == query_id) are excluded, as in the inline op.
    """
    watermark, assign_m, trained, _, _, n_cells = _read_meta_full(
        spark, index_path
    )
    if watermark < 0 or not trained:
        # untrained (possibly floor-watermarked) or empty index:
        # nothing searchable, and the data dirs hold zero files
        return empty_df(
            spark, "query_id long, neighbor_id long, cos_sim double, rk long"
        )
    cent = spark.read.parquet(_centroids_path(index_path))
    # probe-set dedupe by key (the inline op's guard): replicated query
    # rows must not multiply the cell-scan work
    q = queries.dropDuplicates(["query_id"])
    # k from meta when recorded (the centroids table always holds
    # exactly k rows) — saves a count job per probe in the ingest loop;
    # pre-round-10 meta falls back to counting
    k = n_cells if n_cells is not None else cent.count()
    if k >= _VEC_ASSIGN_MIN_K:
        # large-k path: MUST match the build's assignment arithmetic
        # (shared threshold — see _VEC_ASSIGN_MIN_K) so a stored vector
        # probes back to its own cell exactly
        cent_rows = sorted(
            (int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in cent.collect()
        )
        if len(cent_rows) != k:
            # meta n_cells and the centroids table are written by two
            # separate overwrites; a crash between them (or a future
            # build path emitting fewer rows) would silently skew the
            # _VEC_ASSIGN_MIN_K branch choice and the min(assign_m, k)
            # dedupe gate — fail loudly instead (rebuild recovers)
            raise ValueError(
                f"IVF index torn: meta records n_cells={k} but the "
                f"centroids table holds {len(cent_rows)} rows — "
                "meta and centroids are out of sync; rebuild the index"
            )
        qcells = _rank_cells_np(q, cent_rows, nprobe)
    else:
        # centroids ride along as ONE broadcast array column (k x dim
        # doubles); per-query cell ranking is a map-side sort of the k
        # (d2, cell) structs — same argmin arithmetic as ivf._assign
        cs = cent.agg(
            F.sort_array(
                F.collect_list(F.struct("cell", "centroid"))
            ).alias("_cs")
        )
        if n_cells is not None:
            # torn-index guard for THIS branch too (round-11 review):
            # the large-k path verifies len(collected centroids) ==
            # meta n_cells driver-side; without a twin here, a rebuild
            # crash that left meta recording a small stale n_cells over
            # a larger fresh centroids table would probe with the wrong
            # branch arithmetic and return silently wrong neighbors.
            # Plan-embedded (when/otherwise is lazy; raise_error fires
            # only on mismatch) so the steady state still pays ZERO
            # extra jobs — the n_cells meta field exists precisely to
            # skip a per-probe cent.count(). Surfaces as
            # SparkRuntimeException[USER_RAISED_EXCEPTION] at execution.
            dt = cs.schema["_cs"].dataType.simpleString()
            cs = cs.select(
                F.when(F.size("_cs") == F.lit(int(k)), F.col("_cs"))
                .otherwise(
                    F.raise_error(
                        F.lit(
                            f"IVF index torn: meta records n_cells={k} "
                            "but the centroids table holds a different "
                            "row count — meta and centroids are out of "
                            "sync; rebuild the index"
                        )
                    ).cast(dt)
                )
                .alias("_cs")
            )
        near = F.slice(
            F.array_sort(
                F.transform(
                    "_cs",
                    lambda c: F.struct(
                        _dist2(F.col("qe"), c["centroid"]).alias("d2"),
                        c["cell"].alias("cell"),
                    ),
                )
            ),
            1,
            nprobe,
        )
        qcells = q.join(F.broadcast(cs)).select(
            "query_id",
            "qe",
            F.explode(F.transform(near, lambda s: s["cell"])).alias("qcell"),
        )
    # bounded work-list collect: the batch's (query, probed-cell) rows —
    # ≤ Q × nprobe — double as BOTH the probe-cell set for partition
    # pruning AND the scoring kernel's query-side matrices (one driver
    # round-trip instead of two). Over the cap (an analytical query set
    # too large to hold driver-side), fall back to the HOF-join scoring
    # below, whose cost model needs no driver copy of the queries.
    qc_rows = qcells.limit(_VEC_SCORE_MAX_QCELLS + 1).collect()
    kernel = 0 < len(qc_rows) <= _VEC_SCORE_MAX_QCELLS
    if kernel:
        probe_cells = sorted({r["qcell"] for r in qc_rows})
    else:
        probe_cells = [
            r["qcell"] for r in qcells.select("qcell").distinct().collect()
        ]
    # committed rows only (vec_id <= watermark): rows a torn append
    # left above the watermark are invisible, so probes stay
    # deterministic under append retries — the same contract as the
    # signature store's probe
    cells = (
        spark.read.parquet(_cells_path(index_path))
        .filter(F.col("cell").isin(probe_cells) if probe_cells else F.lit(False))
        .filter(F.col("vec_id") <= watermark)
    )
    if kernel:
        scored = _scored_cells_np(spark, qc_rows, cells, topk)
    else:
        cand = F.broadcast(qcells).join(
            cells,
            (F.col("cell") == F.col("qcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        scored = cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qe"), F.col("e")), 6).alias("cos_sim"),
        )
    if min(assign_m, k) > 1:
        # multi-assignment: a vector in two probed cells surfaces twice
        # with an identical score — dedupe before ranking so rk stays a
        # dense per-query rank (bounded exchange: candidates only).
        # Keyed on the EFFECTIVE m — builds clamp assignment to
        # min(assign_m, k) while meta records the configured value, so
        # an index that actually holds one row per vector (k == 1 at
        # bootstrap) skips the exchange; m=1 indexes keep the round-8
        # probe plan byte-identical either way.
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= topk)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )
