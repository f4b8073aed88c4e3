"""Incremental corpus dedup: exact + MinHash-LSH against a persisted
signature store (SURVEY-beyond: the streaming twin of the batch
``operators.dedup`` family).

A production training-data pipeline ingests documents continuously;
re-running batch dedup over the full corpus per increment is O(corpus)
per batch. This module processes each NEW batch against a persisted
store of previously-seen content keys and MinHash band buckets:

- **exact tier**: batch-internal ``exact_dedup`` on the content hash,
  then an anti-join against the store — first-ARRIVAL wins across
  batches (stream semantics; equals the batch min-tiebreak survivor
  whenever arrival order follows the tiebreak, pytest-asserted).
- **near tier**: MinHash signatures for the truly-new docs, banded
  LSH buckets joined against the store's buckets PLUS the batch's own
  — each emitted candidate pair surfaces exactly once, in the batch
  where its second member arrives. The accumulated pair set equals
  the batch :func:`~..operators.dedup.minhash_dedup_pairs` output
  over the same corpus (pytest-asserted).

Scale shape: per batch the work is O(batch) signature computation +
an equi-join of the batch's bands against the store (shuffle keyed on
(band, bucket) — at warehouse scale partition the store by ``band``
so the join prunes to touched bands). Nothing rescans the corpus; the
store grows by one row per unique doc and ``bands`` rows per doc.

Replay safety: every append carries the batch id; a replayed batch id
is detected from the store and returns empty results without
double-appending (the same idempotent-upsert contract as
``store.rollup.RollupStore``). Reference analog: the RSS poll loop's
in-memory ``seen_ids`` set (``algo-data-ingestion/app/adapters/
news_adapter.py:138-171``) — this is that set made durable,
distributed, and extended to near-duplicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import banded_buckets, exact_dedup, minhash_signatures
from ..sources.lake import read_parquet_or_empty

_KEYS_DIR = "keys"
_BANDS_DIR = "bands"


class IncrementalDedup:
    """Persisted incremental dedup state at ``path`` (two parquet
    tables: ``keys/`` = (key, id, sig, __batch_id) one row per unique
    doc; ``bands/`` = (band, bucket, id, __batch_id))."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 64,
        bands: int = 16,
        n: int = 3,
        threshold: float = 0.7,
    ) -> None:
        if num_hashes % bands:
            raise ValueError("num_hashes must be divisible by bands")
        self.spark = spark
        self.path = path.rstrip("/")
        self.id_col = id_col
        self.text_col = text_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.n = n
        self.threshold = threshold

    # -- store access -------------------------------------------------
    def _read(self, sub: str, schema: str) -> DataFrame:
        """Read one store table; ONLY a missing path yields the empty
        frame (a brand-new store). Any other failure — corrupt footer,
        permissions, FS hiccup — propagates: silently substituting an
        empty store would make the anti-join re-emit previously-seen
        docs as unique (the silent-reset failure mode
        ``RollupStore._read_manifest`` guards against)."""
        return read_parquet_or_empty(
            self.spark, os.path.join(self.path, sub), schema)

    def keys(self) -> DataFrame:
        return self._read(
            _KEYS_DIR,
            "key bigint, id bigint, sig array<bigint>, __batch_id string",
        )

    def band_rows(self) -> DataFrame:
        return self._read(
            _BANDS_DIR, "band int, bucket bigint, id bigint, __batch_id string"
        )

    def seen_batch_ids(self) -> set[str]:
        return {
            r[0]
            for r in self.keys().select("__batch_id").distinct().collect()
        }

    # -- the per-batch step -------------------------------------------
    def process_batch(
        self, batch: DataFrame, batch_id: str
    ) -> tuple[DataFrame, DataFrame]:
        """Process one micro-batch; returns ``(new_unique, pairs)``:
        the batch's first-seen unique docs ``(id, key)`` and the
        near-dup candidate pairs ``(id_a, id_b, est_jaccard)`` whose
        SECOND member arrived in this batch. Appends the new docs'
        keys/signatures/bands to the store; a replayed ``batch_id``
        is a no-op returning empty frames."""
        spark = self.spark
        if batch_id in self.seen_batch_ids():
            empty_u = spark.createDataFrame([], "id bigint, key bigint")
            empty_p = spark.createDataFrame(
                [], "id_a bigint, id_b bigint, est_jaccard double"
            )
            return empty_u, empty_p

        keyed = batch.select(
            F.col(self.id_col).cast("bigint").alias("id"),
            F.xxhash64(self.text_col).alias("key"),
            F.col(self.text_col).alias("__text"),
        )
        # batch-internal exact dedup (min id per content), then drop
        # content already in the store: first arrival wins
        batch_unique = exact_dedup(keyed, ["key"], tiebreak_col="id")
        new_docs = batch_unique.join(
            self.keys().select("key"), "key", "left_anti"
        )
        sig = minhash_signatures(
            new_docs.select("id", "__text"),
            id_col="id", text_col="__text",
            num_hashes=self.num_hashes, n=self.n,
        )
        new_rows = (
            new_docs.select("id", "key")
            .join(sig, "id", "left")  # docs w/o tokens keep a NULL sig
            .withColumn("__batch_id", F.lit(batch_id))
            .localCheckpoint()  # pin: appended AND joined below
        )
        new_banded = banded_buckets(
            new_rows.filter(F.col("sig").isNotNull()).select("id", "sig"),
            num_hashes=self.num_hashes, bands=self.bands,
        ).localCheckpoint()

        # candidates: new-vs-(store ∪ new) band collisions; each pair
        # fires once — when its younger member arrives
        store_banded = self.band_rows().join(
            self.keys().select(F.col("id").alias("__sid"), "sig"),
            F.col("id") == F.col("__sid"),
        ).select("band", "bucket", "id", "sig")
        other = store_banded.unionByName(
            new_banded.select("band", "bucket", "id", "sig")
        )
        a = new_banded.alias("a")
        b = other.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        est = (
            F.size(
                F.filter(
                    F.zip_with(
                        "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
                    ),
                    lambda v: v == 1,
                )
            )
            / F.lit(float(self.num_hashes))
        )
        pairs = (
            cand.withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= self.threshold)
            .select("id_a", "id_b", "est_jaccard")
            .localCheckpoint()
        )

        # bands FIRST, keys last: the replay guard checks only keys/,
        # so the keys append is the commit marker. A crash between the
        # two appends leaves orphan band rows for an uncommitted batch;
        # the replay re-appends them (benign — candidate pairs are
        # dropDuplicates'd), whereas the reverse order would mark the
        # batch seen with its band rows lost, silently dropping every
        # future near-dup pair involving those docs.
        new_banded.select("band", "bucket", "id").withColumn(
            "__batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(os.path.join(self.path, _BANDS_DIR))
        new_rows.write.mode("append").parquet(
            os.path.join(self.path, _KEYS_DIR)
        )
        return new_rows.select("id", "key"), pairs

    # -- structured-streaming wiring ----------------------------------
    def attach(self, stream_df: DataFrame, *, checkpoint: str):
        """``writeStream.foreachBatch`` wiring: every micro-batch runs
        :meth:`process_batch` keyed by the epoch id (replays after a
        crash are no-ops thanks to the batch-id guard)."""

        def _step(batch: DataFrame, epoch_id: int) -> None:
            self.process_batch(batch, f"epoch-{epoch_id}")

        return (
            stream_df.writeStream.foreachBatch(_step)
            .option("checkpointLocation", checkpoint)
        )

    def survivors(self) -> DataFrame:
        """All first-arrival unique docs currently in the store."""
        return self.keys().select("id", "key")

    def all_pairs_from_store(self) -> DataFrame:
        """Recompute the full candidate-pair set from the persisted
        store (diagnostic / bootstrap parity with the batch
        ``minhash_dedup_pairs``)."""
        banded = self.band_rows().join(
            self.keys().select(F.col("id").alias("__sid"), "sig"),
            F.col("id") == F.col("__sid"),
        ).select("band", "bucket", "id", "sig")
        a = banded.alias("a")
        b = banded.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        est = (
            F.size(
                F.filter(
                    F.zip_with(
                        "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
                    ),
                    lambda v: v == 1,
                )
            )
            / F.lit(float(self.num_hashes))
        )
        return (
            cand.withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= self.threshold)
            .select("id_a", "id_b", "est_jaccard")
        )
