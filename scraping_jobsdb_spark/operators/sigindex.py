"""The lifecycle shared by the persisted content indexes.

An ongoing ingest pipeline must NOT re-sign its 100 TB corpus on every
arriving batch. A signature index stores the corpus signatures in a
transactional table (``sources/txn.py``) and maintains the per-key
document count as an incrementally-refreshed aggregate view
(``sources/mv.py``), so admitting a new batch costs

  sign(batch)                                — map-only over the batch
  + one broadcast probe join into the index  — zero corpus-sized shuffles
  + append(batch sigs) + O(delta + view) count refresh

independent of corpus size. This is the content-level, at-scale
generalization of the reference's per-run "skip already-scraped job ids"
anti-join (``airflow/dags/scrape_url.py``, there by exact key). Two
subclasses exist: ``fpindex.FingerprintIndex`` (winnowing fingerprints,
containment verdict) and ``lshindex.LshSignatureIndex`` (LSH band keys,
candidate verdict).

Layout at ``path``: the signature table under ``path/<TABLE>`` whose v1
manifest pins the index parameters (``<PREFIX>_<param>`` keys — every
writer and every probe must agree on them or signatures stop being
comparable), and the count view under ``path/<VIEW>``.

Lifecycle:

- ``create`` signs the corpus once and persists it; ``__init__`` reopens
  an index from its manifest and refuses any other directory.
- ``add`` appends a batch's signatures (all-or-nothing visibility) and
  folds the append delta into the count view; ``add_stream_batch`` is the
  same as an epoch-idempotent ``foreachBatch`` body — a replayed
  (app_id, epoch) appends nothing and the refresh no-ops, so N
  micro-batches leave the index byte-identical to one ``add`` of their
  union.
- ``admit_stream_batch`` is ONLINE dedup admission: probe the batch,
  append only the kept documents' signatures, return the verdict frame.
  The batch is signed ONCE and the materialized frame shared by the probe
  and the append (signing is deterministic per doc, so the filtered frame
  is row-identical to signing the kept docs). Duplicates WITHIN a batch
  survive together — compose an intra-batch dedup upstream. Replay-stable:
  the probe excludes corpus signatures carrying the batch's own ids, else
  a failure-recovery replay would find the first attempt's kept docs in
  the index and flip them to dropped. Contract: doc ids are unique across
  the stream.
- ``maintain`` compacts the table past ``max_files`` files. Compaction is
  row-preserving, so the view keeps folding appends incrementally
  (``append_delta_files(skip_row_preserving=True)``).
- ``probe`` scores a batch against the stored corpus. Keys held by more
  than the subclass limit (``hot_buckets``, read from the view — no
  corpus scan) are anti-joined away on both sides; the pruned batch set
  is BROADCAST, so the join streams over the index scan map-side and only
  matched (batch doc, corpus doc) pairs shuffle, never the index.

Freshness: a table commit and its view refresh are two txns, so a crash
between them leaves the view stale. The next ``hot_buckets``/``probe``
self-heals by folding the pending delta; ``refresh`` is the explicit
repair entry point. Both are no-ops on a current view.

A subclass supplies ``KIND``, ``TABLE``/``VIEW``/``PREFIX``, ``PARAMS``
(manifest parameters with their ``create`` defaults, in manifest order),
``KEYS``/``COUNT``/``LIMIT`` (key columns, view count column, the
parameter bounding it), ``APP`` (default stream app id), the signer
``_sign`` and the verdict step ``_verdict``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scraping_jobsdb_spark.sources.mv import IncrementalAggView
from scraping_jobsdb_spark.sources.txn import TxnTable

__all__ = ["SignatureIndex"]


class SignatureIndex:
    """A signature index at ``path``; subclasses fill in the class
    attributes and hooks the module docstring lists."""

    KIND: str
    TABLE: str
    VIEW: str
    PREFIX: str
    PARAMS: dict
    KEYS: list
    COUNT: str
    LIMIT: str
    APP: str

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.sigs_path = os.path.join(path, self.TABLE)
        if not TxnTable.exists(spark, self.sigs_path):
            raise ValueError(f"{path}: not {self.KIND} (no {self.TABLE} table)")
        m = TxnTable(spark, self.sigs_path)._manifest(1)
        keys = {p: f"{self.PREFIX}_{p}" for p in self.PARAMS}
        missing = [k for k in keys.values() if k not in m]
        if missing:
            raise ValueError(
                f"{self.sigs_path}: not {self.KIND} (v1 manifest lacks "
                f"{missing})"
            )
        self.params = {p: type(d)(m[keys[p]]) for p, d in self.PARAMS.items()}
        self.__dict__.update(self.params)
        self._view = IncrementalAggView(
            spark,
            self.sigs_path,
            os.path.join(path, self.VIEW),
            group_cols=self.KEYS,
            measures={self.COUNT: ("count", None)},
        )

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        corpus: DataFrame,
        *,
        text_col: str = "text",
        **params,
    ):
        """Sign ``corpus`` once (map-only) and persist the index. One pass
        over the corpus, ever; every later batch pays only its own size.
        ``params`` are the subclass's ``PARAMS``, defaulted."""
        unknown = sorted(set(params) - set(cls.PARAMS))
        if unknown:
            raise TypeError(f"{cls.__name__}.create: unknown {unknown}")
        params = {p: type(d)(params.get(p, d)) for p, d in cls.PARAMS.items()}
        TxnTable.create(
            spark,
            os.path.join(path, cls.TABLE),
            cls._sign(corpus, text_col, **params),
            meta={f"{cls.PREFIX}_{p}": v for p, v in params.items()},
        )
        idx = cls(spark, path)
        idx._view.refresh()
        return idx

    # ------------------------------------------------------------- maintain

    def sign(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        """``docs``' signatures under THIS index's pinned parameters — the
        exact frame every write/probe path derives internally. Public so a
        caller composing probe-then-add over the same batch can
        materialize the signing ONCE (``localCheckpoint``) and hand it to
        both via ``_sig_b``/``_sigs``; the caller owns the row-identity."""
        return self._sign(docs, text_col, **self.params)

    def add(
        self,
        docs: DataFrame,
        text_col: str = "text",
        _sigs: DataFrame | None = None,
    ) -> int:
        """Admit ``docs``; returns the new table version."""
        sigs = self.sign(docs, text_col) if _sigs is None else _sigs
        t = TxnTable(self.spark, self.sigs_path)
        t.append(sigs)
        self._view.refresh()
        return t.version()

    def add_stream_batch(
        self,
        docs: DataFrame,
        epoch_id: int,
        app_id: str | None = None,
        text_col: str = "text",
    ) -> int:
        """Epoch-idempotent ``add``; returns signature rows appended (0 for
        a recognized replay). ``app_id`` defaults to ``APP``."""
        sigs = self.sign(docs, text_col)
        n = TxnTable(self.spark, self.sigs_path).stream_epoch_append(
            sigs, app_id or self.APP, epoch_id
        )
        self._view.refresh()
        return n

    def admit_stream_batch(
        self,
        docs: DataFrame,
        epoch_id: int,
        app_id: str | None = None,
        text_col: str = "text",
        _sig_b: DataFrame | None = None,
        **verdict_kw,
    ) -> DataFrame:
        """Online admission; returns the verdict frame. ``app_id``
        defaults to ``APP-admit``. ``_sig_b``: an already-materialized
        signature frame for exactly ``docs`` (a filtered superset is valid)
        — removes the signing pass. ``verdict_kw`` goes to ``probe``."""
        sig_b = (
            self.sign(docs, text_col).localCheckpoint()
            if _sig_b is None
            else _sig_b
        )
        verdict = self.probe(
            docs,
            text_col=text_col,
            exclude_self_ids=True,
            _sig_b=sig_b,
            **verdict_kw,
        ).localCheckpoint()
        kept_ids = verdict.filter(F.col("kept")).select(self.id_col)
        sigs = sig_b.join(kept_ids, self.id_col, "left_semi")
        TxnTable(self.spark, self.sigs_path).stream_epoch_append(
            sigs, app_id or f"{self.APP}-admit", epoch_id
        )
        self._view.refresh()
        return verdict

    def maintain(self, max_files: int = 64) -> int | None:
        """Compact the table once its snapshot exceeds ``max_files`` files
        (call per admitted batch for amortized O(snapshot/max_files)
        rewrite cost). Returns the compacted snapshot's file count, or
        None if under the threshold."""
        n = TxnTable(self.spark, self.sigs_path).maybe_compact(
            max_files=max_files
        )
        if n is not None:
            # advance the view's watermark over the compact commit (a
            # zero-delta fold)
            self._view.refresh()
        return n

    def refresh(self) -> None:
        """Fold any table commits the view hasn't seen (O(delta), no-op
        when current) — the repair for a crash between a commit and its
        view refresh."""
        self._view.refresh()

    # ---------------------------------------------------------------- reads

    def signatures(self) -> DataFrame:
        """The corpus signature set at the current version."""
        return TxnTable(self.spark, self.sigs_path).read()

    def hot_buckets(self) -> DataFrame:
        """Keys held by more than ``LIMIT`` corpus documents, read from the
        view (no corpus scan); small by construction, so consumers
        broadcast it. Self-heals a stale view first: a hot-key list that
        missed committed signatures would drift the pruned universes
        between batches."""
        applied = self._view.applied_source_version()
        if applied < TxnTable(self.spark, self.sigs_path).version():
            self.refresh()
        return (
            self._view.read()
            .filter(F.col(self.COUNT) > getattr(self, self.LIMIT))
            .select(*self.KEYS)
        )

    # ---------------------------------------------------------------- probe

    def probe(
        self,
        batch: DataFrame,
        text_col: str = "text",
        exclude_self_ids: bool = False,
        _sig_b: DataFrame | None = None,
        **verdict_kw,
    ) -> DataFrame:
        """Score every batch document against the stored corpus: one row
        per batch doc, shaped by the subclass's ``_verdict``.
        ``exclude_self_ids`` drops corpus signatures whose id appears in
        the batch itself (a broadcast anti-join on the small batch-id
        set). ``_sig_b``: already-materialized batch signatures; only the
        standalone path pays its own checkpoint."""
        hot = F.broadcast(self.hot_buckets())
        sig_b = self.sign(batch, text_col) if _sig_b is None else _sig_b
        pruned_b = self._batch_side(sig_b.join(hot, self.KEYS, "left_anti"))
        if _sig_b is None:
            pruned_b = pruned_b.localCheckpoint()
        pruned_b = F.broadcast(pruned_b)
        pruned_c = self.signatures().join(hot, self.KEYS, "left_anti")
        if exclude_self_ids:
            pruned_c = pruned_c.join(
                F.broadcast(batch.select(self.id_col).distinct()),
                self.id_col,
                "left_anti",
            )
        return self._verdict(batch, pruned_b, pruned_c, **verdict_kw)

    def _batch_side(self, pruned_b: DataFrame) -> DataFrame:
        """The pruned batch signatures as ``_verdict`` takes them."""
        return pruned_b
