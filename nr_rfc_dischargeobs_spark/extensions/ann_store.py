"""Persistent IVFADC index ARTIFACTS: the code table plus its model.

The search half of IVFADC needs three things the parquet rows do not
carry: the coarse centroids, the trained PQ codebook, and the (m, dim)
geometry.  Until now those lived only as Python values in the training
session — a fresh session could read a stored index table but could not
SEARCH it without retraining, which defeats the train-once / store /
search-many production split (`plans/extensions.py
sim_ivfadc_store_topk` pins the table half; this module completes it
with the model half).  FAISS serializes the model into the index file;
here the table stays parquet partitioned by ``list_id`` (partition
pruning on search, any reader can scan it) and the model rides as a
JSON sidecar ``_ivfadc_model.json`` inside the index directory — the
underscore prefix makes every parquet reader ignore it as a non-data
file, the same convention as ``_SUCCESS``.

Write order is the atomicity story: the sidecar is written AFTER the
table commit, so a crashed save leaves a directory without a model file
and :func:`load_ivfadc` fails loudly ("no model sidecar") instead of
silently searching a partial index.  The sidecar is plain JSON of plain
integers (quantized-grid model parameters), so it is engine- and
version-portable by construction.

Reference scope note: the reference system (bcgov/nr-rfc-dischargeobs)
has no ANN tier; this extends the §2.10 extension surface's IVFADC
stack the same way ``sources/store.py`` wraps the observation store.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import similarity

MODEL_FILE = "_ivfadc_model.json"
# tombstone side table: vec_ids deleted from the index SINCE the last
# rewrite.  Underscore-prefixed, so every parquet reader of the index
# table ignores it (the _SUCCESS convention, verified) while a direct
# read of <index>/_deleted sees it.  Deletions are soft until
# compact_deleted (or merge_segments) physically drops the rows.
TOMBSTONE_DIR = "_deleted"
# version 1: table + coarse/codebook model.  Version 2 adds the optional
# query-side ROTATION (an integer matrix carried with the artifact): a
# v1 reader would search a rotated index with unrotated queries —
# silently wrong — so rotated artifacts version-bump and an old loader
# refuses them loudly; unrotated artifacts keep writing v1, and this
# loader reads both.
_FORMAT_VERSION = 1
_ROTATED_VERSION = 2


def _check_rotation(rotation: dict | None) -> dict | None:
    """Validate a rotation spec: ``mode`` is ``"post_int"``, an
    all-integer matrix (e.g. :func:`~.similarity.hadamard_rows`)
    applied to the quantized vectors via ``rotate_quantized``; exact,
    hence oracle-checkable.  A sidecar is input from outside the
    process, so :func:`load_ivfadc` runs every check again.
    Returns a plain-JSON-normalized copy."""
    if rotation is None:
        return None
    mode = rotation.get("mode")
    comps = rotation.get("components")
    if mode != "post_int" or not comps:
        raise ValueError(
            f'rotation must carry mode "post_int" (got {mode!r}) and a'
            " non-empty components matrix"
        )
    width = len(comps[0])
    if any(len(row) != width for row in comps):
        raise ValueError(
            "rotation components rows must all have the same length —"
            " a ragged matrix would fail (or misproject) deep inside"
            " the projection instead of at the artifact boundary"
        )
    if any(int(v) != v for row in comps for v in row):
        raise ValueError("post_int rotation components must be integers")
    return {"mode": mode,
            "components": [[int(v) for v in row] for row in comps]}


def apply_rotation(emb: DataFrame, rotation: dict | None) -> DataFrame:
    """Raw (vec_id, embedding) rows → a :func:`~.similarity.prepare`
    frame in the basis a ``rotation`` spec describes (or the identity
    basis for ``None``) — THE one definition of how a spec is applied,
    shared by index builds, query preparation, and streamed admission
    so they can never drift."""
    rotation = _check_rotation(rotation)
    prepared = similarity.prepare(emb)
    if rotation is None:
        return prepared
    return similarity.rotate_quantized(prepared, rotation["components"])


def _local_path(path: str) -> str:
    """The sidecar is written with plain file IO, which only a local
    (or file://) path supports — object stores need the same bytes at
    ``<index>/_ivfadc_model.json`` via their own client, stated loudly
    rather than half-working."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if "://" in path:
        raise ValueError(
            f"save/load_ivfadc write the model sidecar with local file"
            f" IO; for a remote store ({path!r}) write/read the JSON at"
            f" <index>/{MODEL_FILE} with the store's client instead"
        )
    return path


@dataclass(frozen=True)
class IvfadcIndex:
    """A loaded IVFADC artifact: geometry + model, ready to search.

    ``search`` is :func:`~.similarity.ivfadc_topk` over the stored
    table — a plain partition-pruned scan (the ``_index_barrier``
    pass-through shape), with the coarse centroids rebuilt as a
    metadata-scale frame from the sidecar rows."""

    path: str
    m: int
    dim: int
    coarse_rows: list[tuple[int, list[int]]]
    centroid_rows: list[tuple[int, list[int]]]
    rotation: dict | None = None

    def frame(self, spark: SparkSession) -> DataFrame:
        """The stored code table (vec_id, list_id, code_*, sq_err, rn)."""
        return spark.read.parquet(self.path)

    def coarse_frame(self, spark: SparkSession) -> DataFrame:
        """The coarse centroids as a ``prepare``-shaped frame (k rows —
        a model parameter, never corpus-scale)."""
        return spark.createDataFrame(
            [
                (int(cid), [int(v) for v in cq], sum(int(v) ** 2 for v in cq))
                for cid, cq in self.coarse_rows
            ],
            "vec_id long, q array<bigint>, n long",
        )

    def prepare_queries(self, emb: DataFrame) -> DataFrame:
        """Raw (vec_id, embedding) queries → the INDEX'S basis: the
        sidecar rotation (if any) applied exactly as it was at build
        time, then quantized.  This is why the rotation rides with the
        artifact — a fresh session cannot search a rotated index
        correctly without it."""
        return apply_rotation(emb, self.rotation)

    def search_embeddings(
        self,
        emb: DataFrame,
        k: int = 3,
        nprobe: int = 2,
        where=None,
        probe_matching_only: bool = False,
        target_candidates: int | None = None,
    ) -> DataFrame:
        """Search from RAW embeddings — :meth:`prepare_queries` then
        :meth:`search`.  The safe entry point for rotated artifacts:
        it cannot be called with queries in the wrong basis."""
        return self.search(
            self.prepare_queries(emb), k=k, nprobe=nprobe, where=where,
            probe_matching_only=probe_matching_only,
            target_candidates=target_candidates,
        )

    def range_search_embeddings(
        self,
        emb: DataFrame,
        threshold: float,
        nprobe: int = 2,
        where=None,
        probe_matching_only: bool = False,
        target_candidates: int | None = None,
    ) -> DataFrame:
        """Range search from RAW embeddings — :meth:`prepare_queries`
        then :meth:`range_search` (the :meth:`search_embeddings`
        posture for the radius question)."""
        return self.range_search(
            self.prepare_queries(emb), threshold, nprobe=nprobe,
            where=where, probe_matching_only=probe_matching_only,
            target_candidates=target_candidates,
        )

    def range_search(
        self,
        queries: DataFrame,
        threshold: float,
        nprobe: int = 2,
        where=None,
        probe_matching_only: bool = False,
        target_candidates: int | None = None,
    ) -> DataFrame:
        """All probed neighbors with reconstructed cosine >=
        ``threshold`` — :func:`~.similarity.ivfadc_range` over the
        stored table (FAISS ``range_search``): the same probed pruned
        scan and hybrid dials as :meth:`search`, with the rank window
        DELETED — a scan-local predicate instead of a per-query sort
        exchange.  Tombstones anti-joined like every search surface.
        Output: (query_id, neighbor_id, cosine_adc), unranked."""
        spark = queries.sparkSession
        return similarity.ivfadc_range(
            queries,
            self.frame(spark),
            self.coarse_frame(spark),
            self.centroid_rows,
            threshold,
            nprobe=nprobe,
            m=self.m,
            dim=self.dim,
            where=where,
            probe_matching_only=probe_matching_only,
            anti=deleted_ids(spark, self.path),
            target_candidates=target_candidates,
        )

    def search(
        self,
        queries: DataFrame,
        k: int = 3,
        nprobe: int = 2,
        where=None,
        probe_matching_only: bool = False,
        target_candidates: int | None = None,
    ) -> DataFrame:
        """Residual-ADC top-k over the stored index.  ``queries`` is a
        :func:`~.similarity.prepare` frame ALREADY IN THE INDEX'S BASIS
        (for a rotated artifact, use :meth:`search_embeddings` or
        :meth:`prepare_queries` — raw-basis queries against a rotated
        index score garbage); output is ivfadc_topk's (query_id,
        neighbor_id, rank, cosine_adc).  ``where`` pre-filters the
        probed-list scan (hybrid search) — see
        :func:`~.similarity.ivfadc_topk`.  Tombstones
        (:func:`delete_vectors`) are anti-joined automatically —
        deleted vectors can neither rank nor displace survivors."""
        spark = queries.sparkSession
        return similarity.ivfadc_topk(
            queries,
            self.frame(spark),
            self.coarse_frame(spark),
            self.centroid_rows,
            k=k,
            nprobe=nprobe,
            m=self.m,
            dim=self.dim,
            where=where,
            probe_matching_only=probe_matching_only,
            anti=deleted_ids(spark, self.path),
            target_candidates=target_candidates,
        )


def save_ivfadc(
    index: DataFrame,
    path: str,
    coarse_rows: list[tuple[int, list[int]]],
    centroid_rows: list[tuple[int, list[int]]],
    m: int = 4,
    dim: int = 64,
    rotation: dict | None = None,
) -> IvfadcIndex:
    """Write an :func:`~.similarity.ivf_pq_index(residual=True)` frame
    as a complete self-describing artifact: the code table partitioned
    by ``list_id`` (overwrite — an artifact save is a publish, not an
    append) followed by the model sidecar.  Validates the model shape
    (:func:`~.similarity._pq_check`) and the residual layout (the
    stored ``rn`` column) BEFORE writing — a raw-coded index saved here
    would search wrong, the same guard as ``ivfadc_topk``.

    ``rotation`` (see :func:`_check_rotation`) records the integer
    rotation the corpus went through before indexing, carried WITH the
    artifact so any fresh session rotates queries identically
    (:meth:`IvfadcIndex.search_embeddings`).  Rotated artifacts write
    format version 2; version-1 readers refuse them instead of
    silently searching with unrotated queries."""
    similarity._pq_check(centroid_rows, m, dim)
    rotation = _check_rotation(rotation)
    if "rn" not in index.columns:
        raise ValueError(
            "save_ivfadc stores the residual (IVFADC) layout — build the"
            " index with ivf_pq_index(..., residual=True)"
        )
    _local_path(path)  # refuse remote schemes BEFORE the table write
    (
        index.write.partitionBy("list_id")
        .mode("overwrite")
        .parquet(path)
    )
    write_ivfadc_model(
        path, coarse_rows, centroid_rows, m=m, dim=dim, rotation=rotation
    )
    return IvfadcIndex(
        path=path, m=int(m), dim=int(dim),
        coarse_rows=[(int(c), [int(v) for v in q]) for c, q in coarse_rows],
        centroid_rows=[
            (int(c), [int(v) for v in q]) for c, q in centroid_rows
        ],
        rotation=rotation,
    )


def write_ivfadc_model(
    path: str,
    coarse_rows: list[tuple[int, list[int]]],
    centroid_rows: list[tuple[int, list[int]]],
    m: int = 4,
    dim: int = 64,
    rotation: dict | None = None,
) -> None:
    """Write ONLY the model sidecar into an existing index directory —
    the streamed-index completion: :func:`~..streaming.ann.
    ivfadc_index_stream` maintains the code table under
    ``batch_id=N/list_id=K/`` but holds the model as plain Python; one
    ``write_ivfadc_model(index_dir, …)`` at deploy time makes the
    streamed store a :func:`load_ivfadc`-loadable artifact (the
    ``batch_id`` partition column rides through search harmlessly —
    ``ivfadc_topk`` selects only the columns it needs).  Same tmp +
    rename commit as :func:`save_ivfadc`, so a concurrent loader never
    reads a half-written JSON."""
    similarity._pq_check(centroid_rows, m, dim)
    rotation = _check_rotation(rotation)
    local = _local_path(path)
    model = {
        "format_version": (
            _ROTATED_VERSION if rotation is not None else _FORMAT_VERSION
        ),
        "layout": "ivfadc_residual",
        "m": int(m),
        "dim": int(dim),
        "coarse_rows": [
            [int(cid), [int(v) for v in cq]] for cid, cq in coarse_rows
        ],
        "centroid_rows": [
            [int(cid), [int(v) for v in cq]] for cid, cq in centroid_rows
        ],
        "quant": similarity.QUANT,
    }
    if rotation is not None:
        model["rotation"] = rotation
    tmp = os.path.join(local, MODEL_FILE + ".part")
    with open(tmp, "w") as fh:
        json.dump(model, fh)
    os.replace(tmp, os.path.join(local, MODEL_FILE))


def load_ivfadc(path: str) -> IvfadcIndex:
    """Load the model sidecar of a saved artifact; fails loudly on a
    missing sidecar (crashed/partial save), an unknown format version,
    a non-residual layout, or a quantization grid that differs from
    this engine's (scores would be silently wrong scale otherwise)."""
    local = _local_path(path)
    sidecar = os.path.join(local, MODEL_FILE)
    if not os.path.exists(sidecar):
        raise ValueError(
            f"no model sidecar at {sidecar} — not a save_ivfadc artifact"
            " (or the save crashed before the sidecar commit)"
        )
    with open(sidecar) as fh:
        model = json.load(fh)
    version = model.get("format_version")
    if version not in (_FORMAT_VERSION, _ROTATED_VERSION):
        raise ValueError(
            f"unknown ivfadc artifact version {version!r} (this engine"
            f" reads {_FORMAT_VERSION} and {_ROTATED_VERSION})"
        )
    if version == _ROTATED_VERSION and "rotation" not in model:
        raise ValueError(
            "version-2 artifact without a rotation spec — corrupt sidecar"
        )
    if model.get("layout") != "ivfadc_residual":
        raise ValueError(f"unknown index layout {model.get('layout')!r}")
    if model.get("quant") != similarity.QUANT:
        raise ValueError(
            f"artifact quantization grid {model.get('quant')} != engine"
            f" grid {similarity.QUANT} — re-encode, scores would not be"
            " comparable"
        )
    return IvfadcIndex(
        path=path,
        m=int(model["m"]),
        dim=int(model["dim"]),
        coarse_rows=[
            (int(cid), [int(v) for v in cq])
            for cid, cq in model["coarse_rows"]
        ],
        centroid_rows=[
            (int(cid), [int(v) for v in cq])
            for cid, cq in model["centroid_rows"]
        ],
        rotation=_check_rotation(model.get("rotation")),
    )


def deleted_ids(spark: SparkSession, path: str) -> DataFrame | None:
    """The tombstone set of a stored index — distinct deleted
    ``vec_id`` rows, or ``None`` when nothing was ever deleted (the
    common case pays one ``listdir``, no Spark job).  Deduplicated
    here because :func:`delete_vectors` appends (two deletes of an
    overlapping predicate write a vec_id twice)."""
    local = _local_path(path)
    d = os.path.join(local, TOMBSTONE_DIR)
    if not os.path.isdir(d) or not any(
        not f.startswith(("_", ".")) for f in os.listdir(d)
    ):
        return None
    return (
        spark.read.parquet(os.path.join(path, TOMBSTONE_DIR))
        .select("vec_id")
        .distinct()
    )


def delete_vectors(spark: SparkSession, path: str, where) -> int:
    """Soft-delete index rows by predicate — the GDPR tier of the
    store: ``where`` (a Column or SQL string over the stored table's
    columns) selects rows whose ``vec_id`` is APPENDED to the
    ``_deleted`` tombstone side table; every subsequent search
    (:meth:`IvfadcIndex.search`, hence also :func:`search_segments`
    and the SQL TVF) anti-joins the tombstones BEFORE top-k selection,
    so deleted vectors can neither rank nor displace survivors.  The
    bytes stay on disk until :func:`compact_deleted` (pure purge) or
    an in-place :func:`merge_segments` physically drops them —
    deletion latency is one small parquet append, never a corpus
    rewrite.

    Scale shape: one pruned scan of the code table (the predicate
    pushes into parquet) for the count + id projection; the tombstone
    table is one slim bigint column, broadcast at search time —
    deletions are small relative to the corpus by assumption, and a
    corpus-scale deletion is exactly when the caller should rewrite
    via :func:`compact_deleted` instead.  Returns the number of NEWLY
    tombstoned vec_ids: matched ids already in the side table are
    anti-joined out BEFORE counting and appending, so (a) callers
    summing return values across overlapping deletes count each
    deletion exactly once, and (b) the side table never accumulates
    duplicate rows (re-running a GDPR sweep appends nothing).

    Tombstones are PER-STORE, which is what makes delete-then-reinsert
    work under the segment model: re-admission lands in a fresh
    directory (the quiesced contract), where the new copy carries no
    tombstone — :func:`search_segments` suppresses only the frozen
    base's stale copy and returns the fresh one (pinned in tests).
    Re-appending the same vec_id into the SAME tombstoned store would
    stay suppressed until :func:`compact_deleted` clears the side
    table — deletion wins within a store, by design."""
    loaded = load_ivfadc(path)  # validates the artifact before mutating
    ids = loaded.frame(spark).filter(where).select("vec_id").distinct()
    already = deleted_ids(spark, path)
    if already is not None:
        ids = ids.join(F.broadcast(already), "vec_id", "left_anti")
    n = ids.count()
    if n:
        ids.write.mode("append").parquet(os.path.join(path, TOMBSTONE_DIR))
    return int(n)


def compact_deleted(spark: SparkSession, path: str) -> dict:
    """Physically drop tombstoned rows — the purge half of
    :func:`delete_vectors`, WITHOUT retraining: same coarse, same
    codebook, same codes, just an anti-join rewrite of the table
    through the crash-recoverable staged swap
    (:func:`~..streaming.documents.compact_corpus` — snapshot guard,
    ``.precompact`` recovery), with the unchanged model sidecar
    written INTO the stage.  The swap replaces the whole directory,
    so the ``_deleted`` side table vanishes atomically with the rows
    it named — a crash at any point leaves either the old table WITH
    its tombstones or the purged table without them, never a purged
    table whose tombstones re-delete fresh rows.  Run quiesced, like
    every sweep.  Returns ``{compacted, purged, kept}``."""
    from ..streaming.documents import compact_corpus

    loaded = load_ivfadc(path)
    dele = deleted_ids(spark, path)
    if dele is None:
        return {"compacted": False, "purged": 0}

    def transform(old_codes: DataFrame) -> DataFrame:
        return old_codes.join(F.broadcast(dele), "vec_id", "left_anti")

    def finalize(staged: str) -> None:
        write_ivfadc_model(
            staged, loaded.coarse_rows, loaded.centroid_rows,
            m=loaded.m, dim=loaded.dim, rotation=loaded.rotation,
        )

    kept, dropped = compact_corpus(
        spark, path, transform, partition_by=("list_id",), finalize=finalize
    )
    return {"compacted": True, "purged": int(dropped), "kept": int(kept)}


def search_segments(
    spark: SparkSession,
    paths: list[str],
    emb: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    where=None,
    probe_matching_only: bool = False,
    target_candidates: int | None = None,
) -> DataFrame:
    """Search SEVERAL stored indexes as one — the FAISS-shards /
    Lucene-segments posture: streamed admission writes into a NEW
    directory beside a frozen base store, so "the" index is a frozen
    base plus one or more fresh admission segments and production
    search must read them all.

    Per segment this is exactly :meth:`IvfadcIndex.search_embeddings`:
    the segment's OWN coarse quantizer ranks its OWN lists, its OWN
    sidecar rotation is applied to the raw queries (segments may
    disagree on basis — a rotated base + an unrotated fresh segment is
    legal, which is why the input is RAW embeddings, not a prepared
    frame in any one basis), its OWN tombstones are anti-joined.
    Segments must agree on ``(m, dim)`` — refused loudly otherwise,
    because reconstructed-cosine scores across different geometries
    are not one comparable scale.  The global top-k then merges the
    per-segment slates: reconstructed cosine approximates the SAME
    true cosine in every segment, so a max-per-(query, neighbor)
    dedup (a vector re-admitted into a fresh segment appears twice)
    followed by one rank window is the whole merge.

    Scale shape: each segment search keeps its own plan — pruned
    index scan, broadcast probe side, nprobe×m-byte cost — and the
    merge operates on slates of ≤ k·n_segments rows per query, never
    on corpus-scale data; the one added exchange is the slate-sized
    groupBy.  ``where``/``probe_matching_only`` pass through to every
    segment (each computes its own matched-list set from its own
    pruned scan).

    Output: (query_id, neighbor_id, rank, cosine_adc) — identical to
    a single-index search, pinned in tests to be row-identical to
    searching one merged index when the segments share a model."""
    if not paths:
        raise ValueError("search_segments needs at least one segment path")
    idxs = [load_ivfadc(p) for p in paths]
    geoms = {(ix.m, ix.dim) for ix in idxs}
    if len(geoms) != 1:
        raise ValueError(
            f"segments disagree on (m, dim): {sorted(geoms)} —"
            " reconstructed-cosine scores across different PQ"
            " geometries are not comparable; rebuild to one geometry"
            " before merging"
        )
    slates = [
        ix.search_embeddings(
            emb, k=k, nprobe=nprobe, where=where,
            probe_matching_only=probe_matching_only,
            target_candidates=target_candidates,
        )
        for ix in idxs
    ]
    union = reduce(lambda a, b: a.unionByName(b), slates)
    best = union.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine_adc").alias("cosine_adc")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        best.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_adc")
    )


def range_search_segments(
    spark: SparkSession,
    paths: list[str],
    emb: DataFrame,
    threshold: float,
    nprobe: int = 2,
    where=None,
    probe_matching_only: bool = False,
    target_candidates: int | None = None,
) -> DataFrame:
    """RANGE search over SEVERAL stored indexes as one — the radius
    question (:meth:`IvfadcIndex.range_search`) asked of the frozen
    base + fresh admission segments that :func:`search_segments`
    reads: every probed neighbor in ANY segment whose reconstructed
    cosine is ``>= threshold``.  Per segment this is exactly
    :meth:`IvfadcIndex.range_search_embeddings` — own coarse, own
    sidecar rotation on the raw queries, own tombstones, all hybrid
    dials — and the merge is even lighter than top-k's: a
    max-per-(query, neighbor) dedup (a re-admitted vector appears in
    two segments; per-segment thresholding commutes with the max,
    since any copy ≥ tau implies the max is) and NO rank window at
    all, so the only exchange the merge adds is the dedup groupBy on
    the already-thresholded rows.  Geometry must agree across
    segments for the same reason as :func:`search_segments` — the
    threshold is one scale only if every score approximates the same
    true cosine.

    Output: (query_id, neighbor_id, cosine_adc) — unranked, like
    :func:`~.similarity.ivfadc_range`.  Pinned in tests: equals
    :func:`search_segments` with a full-width slate filtered to
    score >= tau."""
    if not paths:
        raise ValueError(
            "range_search_segments needs at least one segment path"
        )
    idxs = [load_ivfadc(p) for p in paths]
    geoms = {(ix.m, ix.dim) for ix in idxs}
    if len(geoms) != 1:
        raise ValueError(
            f"segments disagree on (m, dim): {sorted(geoms)} —"
            " reconstructed-cosine scores across different PQ"
            " geometries are not one comparable threshold scale;"
            " rebuild to one geometry before merging"
        )
    slates = [
        ix.range_search_embeddings(
            emb, threshold, nprobe=nprobe, where=where,
            probe_matching_only=probe_matching_only,
            target_candidates=target_candidates,
        )
        for ix in idxs
    ]
    union = reduce(lambda a, b: a.unionByName(b), slates)
    return union.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine_adc").alias("cosine_adc")
    )


def merge_segments(
    spark: SparkSession,
    paths: list[str],
    dest: str,
) -> dict:
    """Fold segments back into ONE store — the lifecycle CLOSER that
    :func:`search_segments` was missing: beside a frozen base store,
    admission accumulates fresh segments, so search cost grows
    linearly with the segment count (each segment re-prepares and
    re-probes every query) and nothing shrinks the set — the
    FAISS/Lucene answer is a segment merge, and this is it.
    ``paths[0]`` is the BASE: its model (coarse + codebook) and basis
    (sidecar rotation) define the merged store; every other segment's
    live rows are folded into that model.

    Every segment must share the base's model and basis (coarse,
    codebook and rotation) — the admission norm, since fresh segments
    are encoded with the frozen base's own model: code rows move as-is.
    Bit-exact, zero re-encoding — a scan→write copy, no shuffle.  A
    segment with another model or basis is refused; rebuild it with
    the base's model first.

    Tombstones are RESOLVED, not copied: each segment's ``_deleted``
    side table drops that segment's own rows before the fold (the
    per-store semantics every search applies), and the merged store
    starts tombstone-free.  Duplicate vec_ids across segments resolve
    LATER-SEGMENT-WINS on live rows — re-admission supersedes the
    frozen base, matching :func:`search_segments` (whose max-score
    dedup is the search-time view of the same rule; the merged store
    keeps one physical copy, the latest admission).  Note the
    composition: a fresh segment's tombstone kills only the fresh
    copy, so a base copy of the same id SURVIVES the merge — exactly
    what ``search_segments`` returns on the pre-merge set.

    ``dest == paths[0]`` merges IN PLACE through the crash-recoverable
    staged swap (:func:`~..streaming.documents.compact_corpus` —
    snapshot guard, ``.precompact`` recovery), the base's model
    sidecar written INTO the stage so table and model swap together
    and the base's ``_deleted`` vanishes atomically with the rows it
    named.  Any other ``dest`` writes a NEW artifact (sidecar
    committed after the table — :func:`save_ivfadc`'s atomicity
    story) and leaves every source segment untouched; ``dest`` equal
    to a NON-base source is refused (overwriting an input mid-scan).
    Either way, run quiesced like every sweep, and retire the folded
    fresh segments afterwards — searches go back to ONE path.

    Scale shape: carry is a pruned scan → partitioned write; the
    later-wins resolution anti-joins each segment against the LIVE id
    sets of later segments (fresh segments are small next to the
    frozen base by construction — corpus-scale duplication belongs in
    a full rebuild); nothing collects corpus-scale data.
    STREAMED source segments (the ``batch_id=N/list_id=K/`` layout of
    :func:`~..streaming.ann.ivfadc_index_stream`, deployed with a
    model sidecar) merge transparently: the canonical column selection
    drops ``batch_id``, so the merge is ALSO the compaction of the
    segment's batch history into the flat layout — pinned by the
    full-lifecycle test, which merges a streamed admission directory.

    Returns ``{merged, dest, segments, rows, carried, dropped_deleted,
    superseded}``."""
    from ..streaming.documents import compact_corpus

    if not paths:
        raise ValueError("merge_segments needs at least one segment path")
    if dest in paths[1:]:
        raise ValueError(
            "dest must be the base segment (in-place swap) or a fresh"
            " directory — overwriting a non-base source segment while"
            " it is being read would corrupt the merge"
        )
    idxs = [load_ivfadc(p) for p in paths]
    base = idxs[0]
    geoms = {(ix.m, ix.dim) for ix in idxs}
    if len(geoms) != 1:
        raise ValueError(
            f"segments disagree on (m, dim): {sorted(geoms)} — rebuild"
            " to one geometry before merging"
        )
    cols = (
        ["vec_id"]
        + [f"code_{s}" for s in range(base.m)]
        + ["sq_err", "rn", "list_id"]
    )

    def _same_model(ix: IvfadcIndex) -> bool:
        return (
            ix.coarse_rows == base.coarse_rows
            and ix.centroid_rows == base.centroid_rows
            and ix.rotation == base.rotation
        )

    for p, ix in zip(paths[1:], idxs[1:]):
        if not _same_model(ix):
            raise ValueError(
                f"segment {p!r} has a different model"
                + (" and a different basis" if ix.rotation != base.rotation
                   else "")
                + " — rebuild it with the base's model before merging"
            )

    # live rows per segment: own tombstones out, then later-wins —
    # anti-join against every LATER segment's live id set
    lives = []
    dropped_deleted = 0
    for p, ix in zip(paths, idxs):
        rows = ix.frame(spark)
        dele = deleted_ids(spark, p)
        if dele is not None:
            n0 = rows.count()
            rows = rows.join(F.broadcast(dele), "vec_id", "left_anti")
            dropped_deleted += n0 - rows.count()
        lives.append(rows)
    superseded = 0
    for i in range(len(lives) - 1):
        later = reduce(
            lambda a, b: a.unionByName(b),
            [lv.select("vec_id") for lv in lives[i + 1:]],
        ).distinct()
        n0 = lives[i].count()
        lives[i] = lives[i].join(later, "vec_id", "left_anti")
        superseded += n0 - lives[i].count()

    base_live, *parts = [live.select(*cols) for live in lives]
    report = {}

    def _merged(base_part: DataFrame) -> DataFrame:
        return reduce(lambda a, b: a.unionByName(b), [base_part, *parts])

    def finalize(staged: str) -> None:
        write_ivfadc_model(
            staged, base.coarse_rows, base.centroid_rows,
            m=base.m, dim=base.dim, rotation=base.rotation,
        )

    if dest == paths[0]:
        # in-place: the staged swap drops the base's _deleted side
        # table atomically with the rows it named.  The transform
        # re-derives the base's live rows from the frame compact_corpus
        # hands it (its snapshot-guarded read), not from our earlier
        # plan over the same directory.
        base_dele = deleted_ids(spark, paths[0])
        later_ids = (
            reduce(
                lambda a, b: a.unionByName(b),
                [lv.select("vec_id") for lv in lives[1:]],
            ).distinct()
            if len(lives) > 1
            else None
        )

        def transform(old_codes: DataFrame) -> DataFrame:
            live0 = old_codes
            if base_dele is not None:
                live0 = live0.join(
                    F.broadcast(base_dele), "vec_id", "left_anti"
                )
            if later_ids is not None:
                live0 = live0.join(later_ids, "vec_id", "left_anti")
            return _merged(live0.select(*cols))

        kept, _ = compact_corpus(
            spark, dest, transform, partition_by=("list_id",),
            finalize=finalize,
        )
        n_rows = int(kept)
    else:
        merged = _merged(base_live)
        _local_path(dest)  # refuse remote schemes before the write
        merged.write.partitionBy("list_id").mode("overwrite").parquet(dest)
        finalize(dest)
        n_rows = spark.read.parquet(dest).count()

    report.update(
        carried=n_rows,
        merged=True,
        dest=dest,
        segments=len(paths),
        rows=n_rows,
        dropped_deleted=int(dropped_deleted),
        superseded=int(superseded),
    )
    return report
