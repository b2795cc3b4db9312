"""Streaming ANN index maintenance: encode arriving embeddings into a
persistent IVFADC store, micro-batch by micro-batch.

The whole encode pipeline — coarse assignment (literal-folded argmin, or
the BLAS kernel once the quantizer outgrows the unroll limit),
residual subtraction, PQ coding, stored reconstruction norm — is
scan-local narrow expressions (``ivf_pq_index(assign="local",
residual=True)``), so it streams without any stateful operator: each
micro-batch is one map-only pass.  The codebooks ride as plain Python
data (model parameters, exactly the batch posture).

Sink idempotence is STRUCTURAL, the :func:`..streaming.cms_table_stream`
strategy: appending code rows is not replay-idempotent (a retried batch
would duplicate its vectors), so every batch writes its own
``batch_id=N/`` partition path with ``partitionBy(list_id)`` below it —
a replay under the same checkpoint overwrites that path with identical
rows.  The same contract boundary applies: the checkpoint is part of
the store's identity; a redeploy that discards it re-numbers batches
and must pair with a fresh index_dir.  Searches read the whole tree
(:func:`read_ivfadc_index`) and still prune on ``list_id`` — partition
pruning applies to any partition column, at any depth.

Reference scope note: the reference system (bcgov/nr-rfc-dischargeobs)
has no ANN tier; this extends the §2.10 extension surface's IVFADC
stack (extensions/similarity.py) to the streaming tier the same way
streaming/sketches.py extends the sketch stack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import is_missing_path
from ..extensions import similarity


def ivfadc_index_stream(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    coarse_rows: list[tuple[int, list[int]]],
    centroid_rows: list[tuple[int, list[int]]],
    m: int = 4,
    dim: int = 64,
    available_now: bool = True,
    admit_once: bool = False,
    rotation: dict | None = None,
):
    """Maintain a persistent IVFADC index over a streaming frame of
    ``(vec_id, embedding)`` rows.  Each micro-batch encodes scan-locally
    (zero exchanges — the ``assign="local"`` build) and lands under
    ``batch_id=N/list_id=K/``; replays overwrite their own batch path
    (structural idempotence, see module docstring).

    Duplicate ``vec_id``s ACROSS batches are the caller's ingest
    contract by default, exactly like the observation store's: the
    stream encodes what arrives (most embedding pipelines assign unique
    ids upstream).  ``admit_once=True`` switches to at-most-once
    vec_id admission — each batch anti-joins its ids against the
    already-indexed store first (the ``land_document_stream`` strategy:
    the store IS the seen-set, outliving every checkpoint).  The
    anti-join reads ONLY the ``vec_id`` column of the index (a
    column-pruned scan of 8-byte codes metadata), and same-batch
    replays stay idempotent either way (the replayed batch overwrites
    its own path; under ``admit_once`` its rows are not yet visible to
    its own anti-join — batch N reads only batches < N).

    ``rotation`` (an :func:`~..extensions.ann_store._check_rotation`
    spec) applies the index's pre-transform to every arriving vector
    BEFORE quantized encoding — the composition hole a rotated store
    otherwise leaves open: a stream encoding raw-basis vectors into a
    rotated-basis index would store garbage codes silently.  Pass the
    SAME spec to :func:`~..extensions.ann_store.write_ivfadc_model` at
    deploy time so the artifact's sidecar tells searchers the truth.
    Streamed rotated admission is value-identical to the batch build on
    the same vectors (pinned in tests) — the transform is scan-local
    either way, so the micro-batch stays one map-only pass.

    Returns the started ``StreamingQuery``."""
    from ..extensions.ann_store import _check_rotation, apply_rotation

    rotation = _check_rotation(rotation)  # validate BEFORE the stream starts

    def _encode(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df
        if admit_once:
            sess = batch_df.sparkSession
            # existence probed by ATTEMPTING the read (an os.path probe
            # is always False on non-local stores — errors.py rule);
            # missing/empty store = first batch, everything admits
            try:
                # STRICTLY batches < N: a replayed batch must not
                # anti-join against its own previously-written rows —
                # that would overwrite its path with an EMPTY frame
                # (data loss), the exact opposite of idempotence.  The
                # batch_id partition filter prunes directories, so the
                # seen-scan never even lists the current batch path.
                seen = (
                    sess.read.parquet(index_dir)
                    .filter(F.col("batch_id") < batch_id)
                    .select("vec_id")
                )
                out = out.join(seen, "vec_id", "left_anti")
            except Exception as ex:  # noqa: BLE001 — filtered below
                if not is_missing_path(ex):
                    raise
        prep = apply_rotation(out, rotation)
        (
            similarity.ivf_pq_index(
                prep, None, centroid_rows, m=m, dim=dim,
                assign="local", residual=True, coarse_rows=coarse_rows,
            )
            .write.partitionBy("list_id")
            .mode("overwrite")
            .parquet(f"{index_dir.rstrip('/')}/batch_id={batch_id}")
        )

    writer = stream.writeStream.foreachBatch(_encode).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_ivfadc_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current streamed index, ready for
    :func:`~..extensions.similarity.ivfadc_topk` (which selects only the
    columns it needs — the ``batch_id`` partition column rides along
    harmlessly).  ``list_id`` predicates prune partitions at any depth
    of the ``batch_id=N/list_id=K/`` layout."""
    return spark.read.parquet(index_dir)


def tombstone_stream(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming DELETIONS: a stream of ``(vec_id)`` delete events
    lands in the index's ``_deleted`` side table
    (:data:`~..extensions.ann_store.TOMBSTONE_DIR`), so GDPR requests
    flow through the same micro-batch machinery as admissions; the
    bytes follow at the next :func:`~..extensions.ann_store.
    compact_deleted` sweep.

    Visibility contract, per surface — stated precisely because the
    GDPR clock cares: the OPERATOR surfaces
    (:meth:`~..extensions.ann_store.IvfadcIndex.search`,
    :func:`~..extensions.ann_store.search_segments`) resolve the side
    table per search call, so streamed deletions stop ranking there
    within one trigger interval.  The SQL TVFs
    (``register_ivfadc_search_tvf`` / ``register_ivfadc_segments_tvf``)
    SNAPSHOT the tombstones at REGISTRATION time — the registered view
    freezes both the tombstone listing and the decision that there were
    none — so deletions streamed after registration keep ranking in a
    TVF until it is re-registered.  Re-register after a deletion batch
    (metadata-cheap) if the SQL surface must reflect it.

    Replay-idempotence here is SEMANTIC, not structural — and that is
    sufficient, stated: tombstones are a SET under union (deletion is
    monotone — re-deleting a deleted id is a no-op), and the search
    side reads the table through a ``distinct``, so a replayed batch
    re-appending the same ids changes nothing.  This is also why the
    side table stays FLAT (plain appends, like
    :func:`~..extensions.ann_store.delete_vectors`) instead of the
    admission sink's ``batch_id=N`` layout: batch deletes and streamed
    deletes write the same table, and mixing partitioned and flat
    writers at one directory level would break discovery (the
    CONFLICTING_PARTITION_COLUMN_NAMES hazard the store tests pin).

    Returns the started ``StreamingQuery``."""
    import os

    from ..extensions.ann_store import MODEL_FILE, TOMBSTONE_DIR, _local_path

    # validate ONCE at stream start that index_dir actually holds an
    # IVFADC store (delete_vectors gets this from load_ivfadc) — a
    # typo'd index_dir would otherwise silently create an orphan
    # tombstone table that suppresses nothing.  Saved artifacts carry
    # the model sidecar; streamed stores may not be deployed yet
    # (write_ivfadc_model comes later), so any non-underscore table
    # content also qualifies.
    local = _local_path(index_dir)
    if not os.path.isdir(local) or not (
        os.path.exists(os.path.join(local, MODEL_FILE))
        or any(not f.startswith(("_", ".")) for f in os.listdir(local))
    ):
        raise ValueError(
            f"tombstone_stream: {index_dir!r} is not an IVFADC store"
            " (no model sidecar and no table data) — refusing to land"
            " tombstones that would suppress nothing"
        )

    target = f"{index_dir.rstrip('/')}/{TOMBSTONE_DIR}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        ids = batch_df.select("vec_id").distinct()
        ids.write.mode("append").parquet(target)

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
