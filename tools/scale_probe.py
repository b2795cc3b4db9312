"""Reproducible scale spot-runs behind the README's "Measured scale
behavior" tables.

Synthesizes corpora well beyond the driver testdata volume (10M-row events
/ 1M documents by default) and times the headline operators on them,
force-evaluating EVERY output column (``max(xxhash64(*cols))``) so
Catalyst cannot prune the work being measured — a plain ``count()``
silently optimizes scan-fused operators down to nothing.

    python tools/scale_probe.py [--events N] [--docs N] [--out FILE]
    python tools/scale_probe.py --tier ann [--adc-vecs N]

Prints one JSON object; re-run after operator changes and refresh the
README numbers from it.  Two tiers remain: ``all`` (the default: events,
documents, embeddings, the ann-recall matrix, composed curation with the
``semantic_dedup(salt=)`` rows, and the EP1/EP2/EP3 pipeline rows) and
``ann`` (the ann-recall matrix alone).  The tiers that re-measured
finished rounds (rotation, segments, tombstones, adaptive nprobe,
candidate budget, range search, SQ8) are gone; their last numbers stay
frozen in ``SCALE_PROBE.json`` under keys such as ``seg_*``, ``lc_*``,
``bud_*``, ``rng_*``, ``sq8_*``, ``rebalance_*`` and ``pca_gram_*``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from py4j.protocol import Py4JJavaError  # noqa: E402
from pyspark.sql import DataFrame, functions as F  # noqa: E402

from nr_rfc_dischargeobs_spark.session import (  # noqa: E402
    get_spark,
    release_plan_caches,
)


def force(df: DataFrame) -> int:
    """Evaluate the frame completely; return the row count."""
    return df.select(
        F.max(F.xxhash64(*df.columns)).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0].n


def error_line(ex: BaseException) -> str:
    """The one line a probe row records for a failure: its cause.

    A Py4J failure's own first line is only the ``An error occurred
    while calling oNNN.collectToPython.`` preamble, so for a
    ``Py4JJavaError`` this is the first line of the Java exception;
    otherwise the first line that is not that preamble."""
    if isinstance(ex, Py4JJavaError):
        text = str(ex.java_exception.toString())
    else:
        text = str(ex)
    lines = [
        ln for ln in text.splitlines()
        if ln.strip() and not ln.startswith("An error occurred while calling")
    ]
    return (lines[0] if lines else repr(ex))[:200]


def timed(results: dict, name: str, df: DataFrame) -> None:
    t0 = time.time()
    try:
        n = force(df)
        results[name] = {"sec": round(time.time() - t0, 1), "rows": n}
    except Exception as ex:  # noqa: BLE001 — a probe entry that dies
        # (disk-full spill, OOM) must not lose every other measurement:
        # record the failure and keep sweeping
        results[name] = {
            "sec": round(time.time() - t0, 1),
            "error": error_line(ex),
        }
        print(f"  FAILED  {name}: {results[name]['error'][:120]}",
              file=sys.stderr)
        return
    finally:
        # once the clock stops, free what the operators pinned so the
        # entries do not accrete caches
        release_plan_caches()
    print(f"  {results[name]['sec']:7.1f} s  {n:>12,} rows  {name}",
          file=sys.stderr)


def recall_row(t: dict, key: str, exact: DataFrame, found) -> None:
    """One recall@10 row: mean recall of ``found()`` against ``exact``.
    Like :func:`timed`, a row that dies (a broadcast over the driver
    heap, an OOM) records ``{"sec", "error"}`` under its key and the
    sweep goes on to the next row."""
    from nr_rfc_dischargeobs_spark.extensions import similarity

    t0 = time.time()
    try:
        row = similarity.ann_recall(found(), exact).agg(
            F.avg("recall").alias("r"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
    except Exception as ex:  # noqa: BLE001 — record and keep sweeping
        t[key] = {
            "sec": round(time.time() - t0, 1),
            "error": error_line(ex),
        }
        print(f"  FAILED  {key}: {t[key]['error'][:120]}", file=sys.stderr)
        return
    t[key] = {
        "sec": round(time.time() - t0, 1),
        "rows": row.n,
        "mean_recall_at_10": round(row.r, 4),
    }
    print(f"  {t[key]['sec']:7.1f} s  recall@10 "
          f"{t[key]['mean_recall_at_10']}  {key}", file=sys.stderr)


def synth_events(spark, n: int) -> DataFrame:
    """events-shaped table: n rows, ~n/666 series, 5-min-ish cadence."""
    series = max(n // 666, 1)
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") / series).cast("long") * 300
        ).alias("ts"),
        (F.col("id") % series).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.round(F.sin(F.col("id") / 97.0) * 50 + 50, 2)).alias("value"),
    )


def synth_docs(spark, n: int, tokens: int = 60) -> DataFrame:
    """documents-shaped table: n docs of ~`tokens` pseudo-words."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"concat_ws(' ', transform(sequence(0, {tokens - 1}),"
            " i -> substr(md5(concat(cast(id as string), '_',"
            " cast(i % 17 as string))), 1, 5)))"
        ).alias("text"),
    )


def synth_neardup_docs(spark, n: int, group: int = 5, tokens: int = 20) -> DataFrame:
    """Documents in ``group``-sized NEAR-duplicate families: member 0 is
    the family BASE; every other member swaps ONE base token for a
    member-unique one at a member-specific position.  Exact dedup cannot
    collapse any of them (distinct fingerprints), while the
    MinHash→Jaccard tier must: each non-base member's edge to the base
    has 2-gram Jaccard (s−2)/(s+2) (≈ 0.81 at 20 tokens ≥ the default
    0.8 verify threshold), and the per-edge min-id drop rule removes all
    ``group−1`` of them against the base — kept ≈ n/group.  Member↔member
    edges sit BELOW the threshold ((s−4)/(s+4)) — the collapse must flow
    through the base edges, which also exercises the rule's
    one-hop semantics.  Positions scale with ``tokens`` so every unique
    token lands inside the document."""
    stride = max((tokens - 1) // group, 1)
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"concat_ws(' ', transform(sequence(0, {tokens - 1}),"
            f" i -> CASE WHEN id % {group} != 0"
            f" AND i = (id % {group}) * {stride}"
            f" THEN substr(md5(concat('u', cast(id as string))), 1, 5)"
            f" ELSE substr(md5(concat(cast(id - id % {group} as string),"
            f" '_', cast(i as string))), 1, 5) END))"
        ).alias("text"),
    )


def synth_embs(spark, n: int, dim: int = 64) -> DataFrame:
    """embeddings-shaped table: n deterministic dim-d float vectors.

    NOTE: ``sin(id·0.37 + …)`` is periodic in id with period ≈ 17, so
    the corpus is ~17 directions replicated n/17× each — fine for COST
    probes (the scans/joins don't care), degenerate for QUALITY metrics
    (any top-k is a coin flip among ~n/17 near-identical neighbors;
    recall@k reads ≈ 0 for every method).  Use
    :func:`synth_random_embs` for recall/accuracy measurements."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}),"
            " i -> cast(sin(id * 0.37 + i * 1.13) as float))"
        ).alias("embedding"),
    )


def synth_random_embs(spark, n: int, dim: int = 64) -> DataFrame:
    """n deterministic but hash-diverse dim-d vectors (the classic
    fract(sin(x)·43758.5453) hash) — every vector its own direction, so
    nearest-neighbor QUALITY metrics are meaningful.  Note that fully
    random high-dim vectors have NO cluster structure: any coarse
    quantizer's recall ceiling is nprobe/n_lists (the true neighbors
    spread uniformly over lists) — use :func:`synth_clustered_embs`
    when measuring IVF-family recall, which presumes clusterable data."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), i -> cast("
            " sin(id * 12.9898 + i * 78.233) * 43758.5453"
            " - floor(sin(id * 12.9898 + i * 78.233) * 43758.5453)"
            " - 0.5 as float))"
        ).alias("embedding"),
    )


def synth_clustered_embs(
    spark, n: int, dim: int = 64, k: int = 64, noise: float = 0.25
) -> DataFrame:
    """n vectors in ``k`` hash-random clusters: vector = center(id % k)
    + ``noise``·random — the shape real embedding corpora have and the
    shape IVF presumes (a query's true neighbors live in its own
    cluster, so a trained coarse quantizer's probes actually capture
    them).  ``noise=0`` with ``n=k`` yields the pure centers — the
    stand-in for a kmeans-trained coarse quantizer."""
    ctr = f"(id % {k}) * 12.9898 + i * 78.233"
    nz = "id * 7.1234 + i * 3.456"
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), i -> cast("
            f" (sin({ctr}) * 43758.5453"
            f"  - floor(sin({ctr}) * 43758.5453) - 0.5)"
            f" + {noise} * (sin({nz}) * 9871.123"
            f"  - floor(sin({nz}) * 9871.123) - 0.5) as float))"
        ).alias("embedding"),
    )


def ann_recall_tier(spark, t: dict, adc_n: int) -> None:
    """recall@10 vs the exact baseline — the FULL round-9 matrix:
    fixture × codebook × nprobe.  Fixtures: CLUSTERED (64 true
    clusters, true centers as the coarse quantizer — the kmeans-
    trained stand-in; the shape IVF presumes) and RANDOM (hash-diverse
    directions, arbitrary coarse vectors — the honest adversarial
    number: with no cluster structure the coarse ceiling is
    nprobe/n_lists regardless of codebook quality).  Codebooks:
    UNTRAINED (8 raw seed rows, raw coding — the r8 configuration,
    recall@10 0.0004 at nprobe=4) vs TRAINED (m=32/k=16 per-subspace
    k-means over residuals, 4 Lloyd iterations on a 50k sample —
    IVFADC) vs TRAINED256 (round 10: the PRODUCTION m=32/k=256
    geometry — 8-bit codes, the BLAS encode by size).  nprobe ∈
    {1,4,16,64}; 64 = every list probed, isolating pure codebook
    quality from coarse recall.  Round 10 adds the production COARSE axis too: n_lists ∈
    {256, 1024} (≈ √n at 1M) trained by k-means|| seeding + BLAS-
    assignment Lloyd — the recall-vs-scanned-fraction story.  Exact ground truth via
    the Arrow kernel (one corpus pass per fixture); every search
    audited with ann_recall.  A refined row (R=30 slate, exact
    re-rank) per fixture at nprobe=4 keeps the r8 ceiling story
    comparable.

    persist(), NOT localCheckpoint, for the tier-local frames: a
    checkpointed DataFrame's .unpersist() is a no-op (the CacheManager
    never saw its LogicalRDD plan), so the pinned 1M-row blocks would
    silently survive into the disk-hungry curation tier below — the
    headroom that tier's dial was sized for.  persist() entries
    release for real.  Each recall row is failure-isolated by
    recall_row() (the contract timed() keeps per entry), and the tier
    body as a whole by one try: an OOM in the eager ground-truth build
    must not forfeit every measurement below.
    """
    from nr_rfc_dischargeobs_spark.extensions import similarity

    held = []
    try:
        for fixture, gen, coarse_df in (
            ("clustered", synth_clustered_embs(spark, adc_n),
             similarity.prepare(synth_clustered_embs(spark, 64, noise=0.0))),
            ("random", synth_random_embs(spark, adc_n),
             similarity.prepare(
                 synth_random_embs(spark, adc_n + 64)
                 .filter(F.col("vec_id") >= adc_n))),
        ):
            prep_r = similarity.prepare(gen).persist()
            held.append(prep_r)
            prep_r.count()
            q_side = prep_r.filter(F.col("vec_id") < 256)
            c_side = prep_r.filter(F.col("vec_id") >= 256)
            exact10 = similarity.brute_force_topk_arrow(
                q_side, c_side, k=10
            ).persist()
            held.append(exact10)
            exact10.count()
            coarse_rows = [
                (int(r["vec_id"]), [int(v) for v in r["q"]])
                for r in coarse_df.select("vec_id", "q").collect()
            ]
            # trained codebook: 4 Lloyd iterations over a deterministic
            # 50k residual sample (training cost is sample-scale, never
            # corpus-scale — codebook quality saturates far below full
            # coverage).  HASH-based sampling, not `vec_id % 20`: the
            # modulo spelling aliased against the fixture's id%64 cluster
            # assignment (gcd(20,64)=4 → the sample covered only 16 of 64
            # clusters — a degenerate training set that silently capped
            # every learned-coarse experiment; the same hazard exists on
            # any production id scheme with structure, so hash always)
            sample = c_side.filter(
                F.pmod(F.xxhash64("vec_id"), F.lit(20)) == 0
            )
            residual_sample = similarity.residualize(
                similarity.ivf_assign(sample, coarse_df, 1, None),
                coarse_rows,
            )
            t0 = time.time()
            trained_cb = similarity.pq_train_codebooks(
                residual_sample, k=16, m=32, dim=64, iters=4
            )
            t[f"ivfadc_train_m32_k16_sample_{fixture}"] = {
                "sec": round(time.time() - t0, 1), "rows": 16 * 64,
            }
            untrained_cb = [
                (i, [int(v) for v in r["q"]])
                for i, r in enumerate(
                    c_side.orderBy("vec_id").limit(8).collect()
                )
            ]
            # k=256 production geometry (Jégou §II: one byte per
            # subspace) at m=32 — the r9 clustered plateau (0.5648 flat
            # across nprobe) was PQ distortion; k=256 at m=16 (same 128
            # bits as m=32/k=16) measured a near-noop 0.6691 vs 0.6484
            # at 100k, while doubling the BITRATE (m=32 × 8 bits = 256)
            # reads 0.9070 — distortion follows bits, not k alone.  This
            # size takes the BLAS encode (the unrolled literal tree
            # heap-OOMs janino at this k).
            t0 = time.time()
            cb256 = similarity.pq_train_codebooks(
                residual_sample, k=256, m=32, dim=64, iters=4
            )
            t[f"ivfadc_train_m32_k256_sample_{fixture}"] = {
                "sec": round(time.time() - t0, 1), "rows": 256 * 64,
            }
            variants = [
                ("untrained", untrained_cb, 4, False, coarse_df,
                 [1, 4, 16, 64], {}),
                ("trained", trained_cb, 32, True, coarse_df,
                 [1, 4, 16, 64], {}),
                ("trained256", cb256, 32, True, coarse_df,
                 [1, 4, 16, 64], {"assign": "local"}),
            ]
            if fixture == "clustered":
                # the fully-TRAINED pipeline — no true-centers stand-in:
                # farthest-first seeding (Gonzalez k-center: one seed per
                # separated cluster, deterministically) + kmeans_lite on
                # the hash sample trains the coarse quantizer (Lloyd
                # dropout can leave < 64 lists; honest production
                # reality), then the PQ codebook retrains on residuals
                # AGAINST that coarse.  First-k seeding instead measured
                # 18× residual norms and ~0.2 recall — seeding quality IS
                # the coarse-training axis.  Probes {1,4} + refined keep
                # the added wall bounded.
                t0 = time.time()
                km_coarse = similarity.kmeans_lite(
                    sample, k=64, iters=3,
                    seeds=similarity.farthest_first_seeds(sample, 64),
                ).persist()
                held.append(km_coarse)
                n_lists = km_coarse.count()
                t[f"ivfadc_coarse_train_k64_sample_{fixture}"] = {
                    "sec": round(time.time() - t0, 1), "rows": n_lists,
                }
                km_rows = [
                    (int(r["vec_id"]), [int(v) for v in r["q"]])
                    for r in km_coarse.select("vec_id", "q").collect()
                ]
                res2 = similarity.residualize(
                    similarity.ivf_assign(sample, km_coarse, 1, None),
                    km_rows,
                )
                t0 = time.time()
                cb2 = similarity.pq_train_codebooks(
                    res2, k=16, m=32, dim=64, iters=4
                )
                t[f"ivfadc_train_m32_k16_kmcoarse_{fixture}"] = {
                    "sec": round(time.time() - t0, 1), "rows": 16 * 64,
                }
                variants.append(
                    ("fullytrained", cb2, 32, True, km_coarse, [1, 4], {})
                )
            # production list counts (n_lists ≈ √n — Jégou §V): the
            # r9 random-fixture recall still climbed at nprobe=64 of 64
            # lists, i.e. the coarse tier was the ceiling.  Train the
            # coarse quantizer at 256 and 1024 lists with the scalable
            # path (k-means|| seeding + Lloyd on the BLAS assignment —
            # the per-seed Gonzalez loop would be 1024 sequential jobs)
            # and record recall vs nprobe: the story is equal-or-better
            # recall at a far smaller scanned corpus fraction
            # (nprobe/n_lists), which IS the production win.
            for n_lists in (256, 1024):
                t0 = time.time()
                seeds = similarity.kmeans_parallel_seeds(
                    sample, n_lists, rounds=5
                )
                kmc = similarity.kmeans_lite(
                    sample, k=n_lists, iters=3, seeds=seeds,
                    assign="local",
                ).persist()
                held.append(kmc)
                nl = kmc.count()  # Lloyd dropout can leave < n_lists
                t[f"ivf_coarse_train_k{n_lists}_{fixture}"] = {
                    "sec": round(time.time() - t0, 1), "rows": nl,
                }
                km_rows = [
                    (int(r["vec_id"]), [int(v) for v in r["q"]])
                    for r in kmc.select("vec_id", "q").collect()
                ]
                resn = similarity.residualize(
                    similarity.ivf_assign_local(sample, km_rows),
                    km_rows,
                )
                t0 = time.time()
                cbn = similarity.pq_train_codebooks(
                    resn, k=256, m=32, dim=64, iters=4
                )
                t[f"ivfadc_train_m32_k256_lists{n_lists}_{fixture}"] = {
                    "sec": round(time.time() - t0, 1), "rows": 256 * 64,
                }
                variants.append((
                    f"trained256_lists{n_lists}", cbn, 32, True, kmc,
                    [1, 4, 16, 64], {"assign": "local"},
                ))
            for cb_lbl, cb, m_, residual, coarse_v, probes, bkw in variants:
                t0 = time.time()
                ix = similarity.ivf_pq_index(
                    c_side, coarse_v, cb, m=m_, dim=64, residual=residual,
                    **bkw,
                ).persist()
                held.append(ix)
                n_ix = ix.count()
                t[f"ivfadc_index_build_{adc_n // 1_000_000}m_{fixture}_{cb_lbl}"] = {
                    "sec": round(time.time() - t0, 1), "rows": n_ix,
                }

                def search(k_, nprobe_, cb=cb, ix=ix, m_=m_,
                           residual=residual, coarse_v=coarse_v):
                    fn = (similarity.ivfadc_topk if residual
                          else similarity.ivf_pq_topk)
                    return fn(q_side, ix, coarse_v, cb, k=k_,
                              nprobe=nprobe_, m=m_, dim=64)

                stem = f"ann_recall10_{adc_n // 1_000_000}m_{fixture}_{cb_lbl}"
                for nprobe in probes:
                    recall_row(t, f"{stem}_nprobe{nprobe}", exact10,
                               lambda nprobe=nprobe: search(10, nprobe))
                # refined at the operating point: R=30 ADC slate, exact
                # re-rank — must sit at the slate ceiling (r8 identity)
                recall_row(
                    t, f"{stem}_nprobe4_refined", exact10,
                    lambda: similarity.ivf_pq_refine(
                        search(30, 4), q_side, c_side, k=10,
                        kernel="arrow",
                    ),
                )
                ix.unpersist()
            exact10.unpersist()
            prep_r.unpersist()
    except Exception as ex:  # noqa: BLE001 — isolate the tier
        t["ann_recall_tier_error"] = error_line(ex)
        print(f"  FAILED  ann_recall tier: {t['ann_recall_tier_error']}",
              file=sys.stderr)
    finally:
        # unpersist in FINALLY: an exception above would otherwise leak
        # ~1M-row cached blocks into the disk-headroom-sensitive curation
        # tier below — the exact storage-pressure failure the persist()
        # comment warns about (double-unpersist on the success path is a
        # no-op)
        for df in held:
            df.unpersist()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=10_000_000)
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--vecs", type=int, default=200_000)
    ap.add_argument("--adc-vecs", type=int, default=1_000_000)
    ap.add_argument("--curate-docs", type=int, default=10_000_000)
    ap.add_argument("--weather-stations", type=int, default=1_000)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--tier", choices=["all", "ann"], default="all",
        help="'ann' runs the ann-recall matrix (codebook x coarse x "
             "nprobe) alone at --adc-vecs.  Default 'all' runs the full "
             "probe.")
    args = ap.parse_args()

    from nr_rfc_dischargeobs_spark.extensions import (
        contamination,
        dedup,
        packing,
        sampling,
        similarity,
        sketches,
        text,
    )
    from nr_rfc_dischargeobs_spark.operators import conform, rollup
    from nr_rfc_dischargeobs_spark.plans import timeseries

    spark = get_spark("scale-probe")
    results: dict = {
        "events_rows": args.events,
        "docs_rows": args.docs,
        "timings": {},
    }
    t = results["timings"]

    if args.tier == "ann":
        ann_recall_tier(spark, t, args.adc_vecs)
        out = json.dumps(results)
        print(out)
        if args.out:
            Path(args.out).write_text(out)
        return 0

    print(f"events tier ({args.events:,} rows):", file=sys.stderr)
    ev = synth_events(spark, args.events).localCheckpoint()
    timed(t, "hourly_rollup_last_override", rollup.hourly_rollup_with_final_override(
        ev.select("user_id", F.col("ts").alias("obs_time"),
                  F.col("value")).withColumnRenamed("user_id", "station_id"),
        "station_id", "obs_time", "value",
    ))
    timed(t, "dedup_5min_grid", conform.dedup_keep_first(
        ev.withColumn("slot", conform.round_to_grid(F.col("ts"))),
        ["user_id", "slot"], "event_id",
    ))
    # the exact-arithmetic window plans take (spark, sf_dir): park the
    # synthetic events as a parquet table so the REGISTERED plan — scan,
    # timeutil normalization, DECIMAL accumulators — is what gets timed
    import shutil
    import tempfile

    ev_dir = tempfile.mkdtemp(prefix="scale_ev_", dir=str(Path(__file__).parent))
    try:
        ev.write.mode("overwrite").parquet(str(Path(ev_dir) / "events.parquet"))
        timed(t, "cusum_drift", timeseries.cusum_drift(spark, ev_dir))
        timed(t, "deseasonalized_residuals",
              timeseries.deseasonalized_residuals(spark, ev_dir))
    finally:
        shutil.rmtree(ev_dir, ignore_errors=True)

    from nr_rfc_dischargeobs_spark.extensions import diagnostics

    timed(t, "skew_profile_10m_events",
          diagnostics.skew_profile(ev, key="user_id", top=10))

    print(f"documents tier ({args.docs:,} docs):", file=sys.stderr)
    docs = synth_docs(spark, args.docs).localCheckpoint()
    timed(t, "pack_assignments_1024shards",
          packing.pack_assignments(docs, budget=2048, shards=1024))
    timed(t, "gopher_rules", text.gopher_rules(docs))
    timed(t, "pii_scrub", text.pii_scrub(docs))
    timed(t, "repetition_stats", text.repetition_stats(docs, n=2))
    timed(t, "quality_scores", text.quality_scores(docs))
    timed(t, "exact_clusters", dedup.exact_clusters(docs))
    bench_docs = docs.filter(F.col("doc_id") % 1000 == 0)
    timed(t, "ngram_contamination_1k_bench",
          contamination.ngram_contamination(docs, bench_docs, n=8))
    timed(t, "contamination_spans_1k_bench",
          contamination.contamination_spans(docs, bench_docs, n=8))
    # Bloom gate at the same corpus/bench split as the exact screen:
    # the filter is built once (bench-sized job) and the 1M-doc screen
    # is the zero-join scan — compare against ngram_contamination above
    timed(t, "bloom_decontam_1m_1k_bench",
          contamination.bloom_decontamination(docs, bench_docs, n=8))
    # HLL vocabulary per 5 synthetic facets: 60M token rows fold into
    # 5 × 256 registers (production shape: exact_audit off)
    timed(t, "hll_vocab_1m_docs_5facets",
          sketches.hll_cardinality(
              docs.select(
                  (F.col("doc_id") % 5).alias("facet"),
                  F.explode(F.split(F.lower(F.col("text")), " "))
                  .alias("token"),
              ),
              key="token", facets=("facet",), p=8,
          ))
    # CMS at the same token stream: the d4×w1024 table folds ~60M
    # occurrences into ≤4,096 rows; the estimate side broadcasts it
    # against a ~17k-token candidate set (tokens of the first 1k docs)
    _cms_toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    )
    timed(t, "cms_estimate_1m_docs_17k_cands",
          sketches.cms_estimate(
              docs.filter(F.col("doc_id") < 1000)
              .select(F.explode(F.split(F.lower(F.col("text")), " "))
                      .alias("token")).distinct(),
              sketches.cms_table(_cms_toks, key="token"),
              key="token",
          ))
    # histogram quantiles: 1M doc lengths fold into 5 facets × 64 bins
    timed(t, "hist_quantiles_1m_docs_5facets",
          sketches.histogram_quantiles(
              docs.select((F.col("doc_id") % 5).alias("facet"),
                          F.length("text").alias("len")),
              col="len", lo=0, hi=512, bins=64,
              quantiles=(25, 50, 75, 95, 99), facets=("facet",),
          ))
    # PSI drift between the corpus halves: two binned scans fold into
    # 5 facets × 64 bins each, everything after is metadata-scale
    timed(t, "psi_drift_1m_docs_halves",
          diagnostics.psi_drift(
              docs.filter(F.col("doc_id") % 2 == 0).withColumn(
                  "facet", F.col("doc_id") % 5
              ).withColumn("len", F.length("text")),
              docs.filter(F.col("doc_id") % 2 == 1).withColumn(
                  "facet", F.col("doc_id") % 5
              ).withColumn("len", F.length("text")),
              col="len", lo=0, hi=512, bins=64, facets=("facet",),
          ))
    # Winnowing: ~54M windows select ~21 fps/doc (density 2/(w+1));
    # the pair report joins on fp buckets over the planted duplicates
    timed(t, "winnow_fps_1m_docs", text.winnow_fingerprints(docs))
    # plant 5-doc clone clusters so the pair join has real bucket mass
    # (200k clusters × C(5,2) = 2M true pairs)
    cloned = spark.range(args.docs).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 59),"
            " i -> substr(md5(concat(cast(id - id % 5 as string), '_',"
            " cast(i as string))), 1, 5)))"
        ).alias("text"),
    )
    timed(t, "winnow_pairs_1m_docs_5xclones",
          text.winnow_pairs(cloned, min_shared=2, max_df=50))
    # PMI collocations: ~60M adjacent pairs fold into the pair/unigram
    # aggregates (two corpus scans, both plan-cached), min_count prunes
    # before the joins, top-30 via TakeOrdered
    timed(t, "collocations_1m_docs_top30",
          text.collocations(docs, min_count=5, k=30))
    # BPE induction: the synthetic corpus's vocabulary saturates near
    # 1M distinct 5-char tokens (16^5 md5 prefixes) — a web-scale vocab
    # shape.  Work happens inside the call (one vocab aggregation job,
    # then the merge loop on the driver), so time the call itself.
    from nr_rfc_dischargeobs_spark.extensions import bpe as bpe_mod

    t0 = time.time()
    _bpe_rows = bpe_mod.bpe_merges(docs, n_merges=10).count()
    t["bpe_merges_1m_docs_10merges"] = {
        "sec": round(time.time() - t0, 1), "rows": _bpe_rows,
    }
    print(f"  {t['bpe_merges_1m_docs_10merges']['sec']:7.1f} s  "
          f"{_bpe_rows:>12,} rows  bpe_merges_1m_docs_10merges",
          file=sys.stderr)
    timed(t, "chunk_windows_64x32",
          text.chunk_windows(docs, chunk_tokens=64, stride=32))
    timed(t, "top_terms_k3", text.top_terms(docs, k=3))
    timed(t, "hash_classifier", text.hash_classifier(docs))
    timed(t, "token_entropy", text.token_entropy(docs))
    timed(t, "bigram_lm_selftrained", text.bigram_lm_scores(docs))
    # DSIR importance weights: target model trained on every 20th doc,
    # raw model on the whole corpus — two bounded count tables broadcast
    # back, the corpus scored in one pass (same cost class as the LM)
    timed(t, "dsir_weights_1m_5pct_target",
          sampling.dsir_log_ratio(
              docs, docs.filter(F.col("doc_id") % 20 == 0)))
    # synthetic docs are unique, so plant line structure: every doc gets
    # the same boilerplate footer line — the op must strip 1M of them
    lined = docs.withColumn(
        "text",
        F.concat(F.col("text"), F.lit("\nshared boilerplate footer line")),
    )
    timed(t, "line_dedup_1m_footers", text.line_dedup(lined))
    # plant verbatim repetition: every 10th doc appends the same 12-token
    # passage — span_dedup must strip the later occurrences corpus-wide.
    # Position-unique tokens here (NOT synth_docs' 17-token cycle, whose
    # period-17 self-repeats make every 8-gram a within-doc duplicate —
    # a pathological 100%-duplicate corpus): the planted passage is the
    # only repetition, so the entry measures the intended healthy-corpus
    # case.
    spanned = spark.range(args.docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.expr(
                "concat_ws(' ', transform(sequence(0, 59),"
                " i -> substr(md5(concat(cast(id as string), '_',"
                " cast(i as string))), 1, 6)))"
            ),
            F.when(
                F.col("id") % 10 == 0,
                F.lit(" the twelve token passage that repeats across"
                      " many documents verbatim again"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    ).localCheckpoint()
    timed(t, "span_dedup_1m_planted", text.span_dedup(spanned, n=8))
    timed(t, "shard_plan_1024", sampling.shard_plan(docs, "doc_id", 1024))
    # skewed domains: 30% of docs in one hot domain — the shape the
    # two-stage pre-rank exists for
    capped = docs.withColumn(
        "source",
        F.concat(
            F.lit("dom"),
            F.when(F.col("doc_id") % 10 < 3, 0)
            .otherwise(F.col("doc_id") % 37)
            .cast("string"),
        ),
    )
    timed(t, "source_caps_cap1000",
          sampling.source_caps(capped, cap=1000, prerank_buckets=32))

    print(f"embeddings tier ({args.vecs:,} vecs):", file=sys.stderr)
    prep = similarity.prepare(synth_embs(spark, args.vecs)).localCheckpoint()
    timed(t, "quantize_int8_d64", similarity.quantize_int8_stats(prep))
    # SemDeDup probe: dim-16 / k=128; dim passed so the pair scoring runs
    # the unrolled codegen dot (5× the HOF fold — similarity.dot) and the
    # sin-curve vectors make clusters deliberately skewed (~30M pairs)
    prep16 = similarity.prepare(
        synth_embs(spark, min(args.vecs, 50_000), dim=16)
    ).localCheckpoint()
    cents16 = prep16.filter(F.col("vec_id") < 128)
    timed(t, "semantic_dedup_50k_d16_k128",
          similarity.semantic_dedup(prep16, cents16, threshold=0.98, dim=16))
    pq_cents = [(r["vec_id"], r["q"])
                for r in prep.filter(F.col("vec_id") < 8).collect()]
    timed(t, "pq_codes_m4_d64", similarity.pq_codes(prep, pq_cents))

    # --- PQ-ADC at production shape: the codes table is a STORED
    # artifact (encode once), search is the marginal cost.  1M codes ×
    # 256 queries: the corpus side scanned is 4 small ints/vector —
    # localCheckpoint stands in for the stored table so the timing is
    # the search alone, exactly the deployment split.
    adc_n = args.adc_vecs
    prep_adc = similarity.prepare(synth_embs(spark, adc_n)).localCheckpoint()
    codes_1m = similarity.pq_codes(
        prep_adc.filter(F.col("vec_id") >= 256), pq_cents
    ).localCheckpoint()
    timed(t, f"pq_adc_topk_{adc_n // 1_000_000}m_codes_256q",
          similarity.pq_adc_topk(
              prep_adc.filter(F.col("vec_id") < 256), codes_1m, pq_cents,
              k=10))

    # --- IVF-PQ at the same volume: the coarse tier prunes the scored
    # set to Σ|probed lists| (~nprobe/n_lists of the corpus) ON TOP of
    # the 16× code-size reduction.  64 lists, nprobe=4 → ~1/16 of the
    # codes scored per query vs pq_adc's full scan; the index is
    # localCheckpoint-materialized (it is a stored artifact — and the
    # barrier keeps the encode and search stages separately compilable,
    # see sim_ivf_pq_topk).
    coarse_cents = similarity.prepare(
        synth_embs(spark, 320).filter(F.col("vec_id") >= 256)
    )
    ivfpq_index = similarity.ivf_pq_index(
        prep_adc.filter(F.col("vec_id") >= 256), coarse_cents, pq_cents
    ).localCheckpoint()
    timed(t, f"ivf_pq_topk_{adc_n // 1_000_000}m_codes_64lists_nprobe4_256q",
          similarity.ivf_pq_topk(
              prep_adc.filter(F.col("vec_id") < 256), ivfpq_index,
              coarse_cents, pq_cents, k=10, nprobe=4))
    # --- the refine stage on top of the same index: top-30 ADC slate
    # re-scored EXACTLY against raw vectors (Arrow kernel; candidates
    # broadcast into one corpus scan).  The marginal cost over the
    # un-refined search is the production question — it buys back the
    # recall the PQ compression gave up (pinned in tests).
    timed(t, f"ivf_pq_refined_{adc_n // 1_000_000}m_codes_R30_k10",
          similarity.ivf_pq_refine(
              similarity.ivf_pq_topk(
                  prep_adc.filter(F.col("vec_id") < 256), ivfpq_index,
                  coarse_cents, pq_cents, k=30, nprobe=4),
              prep_adc.filter(F.col("vec_id") < 256),
              prep_adc.filter(F.col("vec_id") >= 256),
              k=10, kernel="arrow"))
    ann_recall_tier(spark, t, adc_n)
    # index-build A/B at the same volume: the window spelling pays one
    # corpus-keyed exchange, the literal-fold spelling zero — both
    # produce identical assignments (pinned in tests)
    timed(t, f"ivf_pq_index_build_{adc_n // 1_000_000}m_window",
          similarity.ivf_pq_index(
              prep_adc.filter(F.col("vec_id") >= 256), coarse_cents,
              pq_cents))
    timed(t, f"ivf_pq_index_build_{adc_n // 1_000_000}m_local",
          similarity.ivf_pq_index(
              prep_adc.filter(F.col("vec_id") >= 256), coarse_cents,
              pq_cents, assign="local"))

    # --- semantic decontamination at volume: 64-vector benchmark
    # broadcast against a 1M-vector corpus, corpus scanned ONCE.  dim is
    # deliberately NOT passed: the scoring sits in a
    # BroadcastNestedLoopJoin stage, which whole-stage-codegen cannot
    # cover, so the unrolled dot runs INTERPRETED there and the 3-node
    # HOF fold beats it ~6× (measured 6.1 s vs 35.9 s on 12.8M d64
    # pairs) — the unrolled dial only pays inside codegen-capable
    # stages (see similarity.dot)
    timed(t, f"contamination_semantic_{adc_n // 1_000_000}m_corpus_64bench",
          similarity.semantic_contamination(
              prep_adc.filter(F.col("vec_id") < 64),
              prep_adc.filter(F.col("vec_id") >= 64),
              threshold=0.9))

    # --- SemDeDup under deliberate skew (the fleet failure mode): one
    # cluster holds ~20% of the corpus, so its pair count dominates
    # Σ|cluster|².  A/B the same probe with salt=1 vs salt=8 — identical
    # output by construction, the salted join spreads the hot cluster's
    # b-side over 8 reducers instead of landing |hot|² work on one task.
    skew_n = min(args.vecs, 100_000)
    skew = spark.range(skew_n).select(
        F.col("id").alias("vec_id"),
        F.when(
            F.col("id") % 5 == 0,  # 20% hot: all ≈ e0, tiny unique tilt
            F.expr(
                "transform(sequence(0, 7), i -> cast("
                "case when i = 0 then 1.0 else id * 1e-9 + i * 1e-6 end"
                " as float))"
            ),
        ).otherwise(
            F.expr(
                "transform(sequence(0, 7),"
                " i -> cast(sin(id * 0.37 + i * 1.13) as float))"
            )
        ).alias("embedding"),
    )
    prep_skew = similarity.prepare(skew).localCheckpoint()
    # ONE hot centroid (vec_id 0 ≈ e0 — every hot vector lands on it)
    # plus 64 spread centroids: k=65, one cluster at ~20% of the corpus
    cents_skew = prep_skew.filter(
        (F.col("vec_id") == 0)
        | ((F.col("vec_id") % 5 != 0) & (F.col("vec_id") < 81))
    )
    timed(t, f"semantic_dedup_skew20pct_{skew_n // 1000}k_salt1",
          similarity.semantic_dedup(
              prep_skew, cents_skew, threshold=0.9999, dim=8, salt=1))
    timed(t, f"semantic_dedup_skew20pct_{skew_n // 1000}k_salt8",
          similarity.semantic_dedup(
              prep_skew, cents_skew, threshold=0.9999, dim=8, salt=8))

    # --- composed curation at 10M docs (10× the per-operator tier):
    # the full rule→exact→MinHash-LSH→Jaccard chain over near-duplicate
    # FAMILIES (exact dedup can't collapse them; the LSH tier must).
    # The 1M run with the SAME planted structure sits next to it so the
    # pair-join blowup is measurable inside one artifact: candidate
    # work is Σ|bucket|² over family-sized buckets — linear in corpus
    # size for fixed family size, NOT n².
    from nr_rfc_dischargeobs_spark.extensions import curate

    print(
        f"curation tier (composed chain, {args.curate_docs:,} docs):",
        file=sys.stderr,
    )
    # 20 tokens/doc, 2-gram shingles, NO shingle cache — sized to THIS
    # box's ~80 GB spill headroom: the chain's inherent cost is the
    # minhash shuffle plus the Jaccard-verify join's TWO doc_id-keyed
    # shuffles of the full shingle frame, ~n·(t−1) rows × ~110 B each.
    # 60-token 3-gram docs needed >90 GB at 10M and died mid-probe
    # (2026-08-15, twice); this dial fits while keeping the semantics —
    # family Jaccard ≈ 17/21 ≈ 0.81 ≥ the 0.8 verify threshold, so the
    # LSH→Jaccard tier still must collapse what exact dedup cannot.
    # Same dial for BOTH sizes so the blowup ratio is apples-to-apples.
    for label, n_cur in (
        ("curate_corpus_1m_5xneardups", min(args.curate_docs, 1_000_000)),
        (f"curate_corpus_{args.curate_docs // 1_000_000}m_5xneardups",
         args.curate_docs),
    ):
        # persist(), not localCheckpoint: the 10M-doc text frame must
        # actually FREE when the loop iteration ends (a checkpointed
        # frame's unpersist is a no-op — review fix), and the fixture
        # is a cheap expression over range() if recompute ever happens
        cdocs = synth_neardup_docs(spark, n_cur, tokens=20).persist()
        cdocs.count()
        timed(t, label, curate.curate_corpus(cdocs, shingle_n=2))
        if n_cur == args.curate_docs:
            # semantic curation at the same 10M-doc gate: quality-scan
            # all docs, inner-join the embedded subset (the production
            # contract — SemDeDup only sees embedded docs), then the
            # audited semantic_dedup plan on the survivors
            emb_sub = similarity.prepare(
                synth_embs(spark, 100_000, dim=16)
            )
            gated_ids = text.quality_scores(cdocs).filter(
                (F.col("n_words") >= 10) & (F.col("uniq_ratio") >= 0.2)
            ).select("doc_id")
            prep_sem = emb_sub.join(
                gated_ids, emb_sub["vec_id"] == gated_ids["doc_id"]
            ).select("vec_id", "q", "n").persist()
            prep_sem.count()
            cents_sem = prep_sem.filter(F.col("vec_id") < 128)
            timed(t,
                  f"curate_semantic_{args.curate_docs // 1_000_000}m_gate"
                  "_100k_embedded",
                  similarity.semantic_dedup(
                      prep_sem, cents_sem, threshold=0.98, dim=16))
            prep_sem.unpersist()
        cdocs.unpersist()

    # --- EP1 end-to-end at probe volume: landing-zone file stream →
    # foreachBatch coalescing upsert into the partitioned store, drained
    # with availableNow over several micro-batches — the reference's
    # ingest loop as a stream.  Drift check: the streamed store must
    # hold EXACTLY the batch-written store's rows (xxhash-sum compared),
    # the same batch-vs-stream parity contract as the A1 rollup tests.
    print(f"pipelines tier (EP1 stream ingest, {args.events:,} obs):",
          file=sys.stderr)
    import shutil
    import tempfile

    from nr_rfc_dischargeobs_spark.sources import ObservationStore
    from nr_rfc_dischargeobs_spark.streaming.ingest import (
        stream_upsert_into_store,
    )

    n_st_ep1 = 300
    obs_ep1 = spark.range(args.events).select(
        F.format_string(
            "S%03d", (F.col("id") % n_st_ep1).cast("int")
        ).alias("station_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") / n_st_ep1).cast("long") * 300
        ).alias("obs_time"),
        F.lit("Q").alias("datatype"),
        F.round(F.sin(F.col("id") / 97.0) * 50 + 50, 3).alias("value"),
        F.lit("raw").alias("qc_level"),
        F.lit("synth").alias("source"),
    )
    ep1_root = tempfile.mkdtemp(
        prefix="scale_ep1_", dir=str(Path(__file__).parent)
    )
    try:
        landing = str(Path(ep1_root) / "landing")
        obs_ep1.repartition(8).write.mode("overwrite").parquet(landing)
        stream = (
            spark.readStream.schema(obs_ep1.schema)
            .option("maxFilesPerTrigger", 2)  # force several micro-batches
            .parquet(landing)
        )
        s_store = ObservationStore(spark, str(Path(ep1_root) / "stream_store"))
        t0 = time.time()
        q = stream_upsert_into_store(
            stream, s_store, str(Path(ep1_root) / "ckpt")
        )
        # bounded wait: a hung drain must not forfeit the EP2/EP3 tiers
        # below (the per-entry failure-tolerance contract) — at 10M rows
        # the drain measures ~1 min, so 30 min is a dead stream
        if not q.awaitTermination(1800):
            q.stop()
            raise RuntimeError("EP1 stream drain did not finish in 1800 s")
        n_streamed = s_store.read().count()
        t["ep1_stream_upsert_10m"] = {
            "sec": round(time.time() - t0, 1), "rows": n_streamed,
        }
        print(f"  {t['ep1_stream_upsert_10m']['sec']:7.1f} s  "
              f"{n_streamed:>12,} rows  ep1_stream_upsert_10m",
              file=sys.stderr)
        b_store = ObservationStore(spark, str(Path(ep1_root) / "batch_store"))
        b_store.write(obs_ep1)

        def _sig(df):
            # decimal(38,0) sum: int64 hashes summed over 10M rows
            # overflow a BIGINT accumulator under ANSI mode
            cols = sorted(df.columns)
            return df.select(
                F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]

        s_sig, b_sig = _sig(s_store.read()), _sig(b_store.read())
        t["ep1_stream_upsert_10m"]["matches_batch"] = bool(
            s_sig.s == b_sig.s and s_sig.n == b_sig.n
        )
        if not t["ep1_stream_upsert_10m"]["matches_batch"]:
            print("  !! EP1 stream/batch store MISMATCH", file=sys.stderr)
    except Exception as ex:  # noqa: BLE001 — isolate the tier
        t["ep1_stream_tier_error"] = error_line(ex)
        print(f"  FAILED  ep1 stream tier: {t['ep1_stream_tier_error']}",
              file=sys.stderr)
    finally:
        shutil.rmtree(ep1_root, ignore_errors=True)

    # --- EP2 end-to-end at probe volume: the reference's actual daily
    # job (pruned store read → A1 hourly+override → dense spine → W1
    # ffill → A3 daily+override → A5 pivot + formula estimates), run
    # against a real partitioned ObservationStore holding the full
    # events-tier row count — ~60× the reference's production day
    # (173k obs) at the default 10M.
    print(f"pipelines tier (EP2 chain, {args.events:,} obs):",
          file=sys.stderr)
    import datetime as dt

    from nr_rfc_dischargeobs_spark import pipelines
    from nr_rfc_dischargeobs_spark.sources import ObservationStore

    n_st = 300
    obs = spark.range(args.events).select(
        F.format_string("S%03d", (F.col("id") % n_st).cast("int")).alias(
            "station_id"
        ),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") / n_st).cast("long") * 300
        ).alias("obs_time"),
        F.lit("Q").alias("datatype"),
        F.round(F.sin(F.col("id") / 97.0) * 50 + 50, 3).alias("value"),
        F.lit("raw").alias("qc_level"),
        F.lit("synth").alias("source"),
    )
    store_dir = tempfile.mkdtemp(
        prefix="scale_store_", dir=str(Path(__file__).parent)
    )
    try:
        t0 = time.time()
        store = ObservationStore(spark, store_dir)
        store.write(obs)
        t["ep2_store_write"] = {
            "sec": round(time.time() - t0, 1), "rows": args.events,
        }
        print(f"  {t['ep2_store_write']['sec']:7.1f} s  "
              f"{args.events:>12,} rows  ep2_store_write", file=sys.stderr)
        end = dt.datetime.utcfromtimestamp(
            1704067200 + (args.events // n_st) * 300
        ).strftime("%Y-%m-%d %H:%M:%S")
        stations = [f"S{i:03d}" for i in range(n_st)]
        t0 = time.time()
        hourly = pipelines.update_hourly(
            store, "2024-01-01 00:00:00", end,
            ffill_until=F.lit(end).cast("timestamp"),
        )
        n_h = force(hourly)
        daily = pipelines.update_daily(hourly)
        n_d = force(daily)
        export = pipelines.model_export_frame(
            daily,
            stations,
            estimates={
                "EST1": "{S001} + {S002} * 2",
                "EST2": "({S003} + {S004}) / 2",
            },
        )
        n_e = force(export)
        t["ep2_rollup_export_chain"] = {
            "sec": round(time.time() - t0, 1),
            "rows": n_e,
            "hourly_rows": n_h,
            "daily_rows": n_d,
        }
        print(f"  {t['ep2_rollup_export_chain']['sec']:7.1f} s  "
              f"{n_e:>12,} rows  ep2_rollup_export_chain "
              f"(hourly {n_h:,}, daily {n_d:,})", file=sys.stderr)
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)

    # --- EP3 end-to-end at probe volume: the weather pipeline
    # (station×hour SWOB XML → xpath parse → unpivot conform → dense
    # scaffold align → wide export pivot) at ~1k stations × a full year
    # of hours — ~8.8M XML payloads, ~300× the reference's production
    # day (24 h × ~30 stations, ECCC_hourly.py).  The scaffold here is a
    # year-long backfill spine rather than ingest_weather's single-day
    # one: same operators (time_spine → key_spine → scaffold_align),
    # probe-scale bounds.
    n_ws = args.weather_stations
    hours_yr = 24 * 365
    print(
        f"pipelines tier (EP3 weather, {n_ws:,} stations × "
        f"{hours_yr:,} h):",
        file=sys.stderr,
    )
    from nr_rfc_dischargeobs_spark.operators import align
    from nr_rfc_dischargeobs_spark.sources import swob

    payloads = spark.range(n_ws * hours_yr).select(
        F.format_string(
            "CWX%04d", (F.col("id") % n_ws).cast("int")
        ).alias("station"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") / n_ws).cast("long") * 3600
        ).alias("obs_hour"),
        # every 13th temp and 7th precip is MSNG — the dirty-payload
        # path conform_swob's try_cast scrub exists for
        F.format_string(
            "<report><elements>"
            "<element name='air_temp' value='%s'/>"
            "<element name='avg_air_temp_pst1hr' value='%s'/>"
            "<element name='pcpn_amt_pst1hr' value='%s'/>"
            "</elements></report>",
            F.when(F.col("id") % 13 == 0, F.lit("MSNG")).otherwise(
                F.round(F.sin(F.col("id") / 31.0) * 20 + 5, 1).cast(
                    "string"
                )
            ),
            F.round(F.sin(F.col("id") / 37.0) * 20 + 5, 1).cast("string"),
            F.when(F.col("id") % 7 == 0, F.lit("MSNG")).otherwise(
                F.round(F.abs(F.sin(F.col("id") / 11.0)) * 3, 1).cast(
                    "string"
                )
            ),
        ).alias("xml"),
    ).localCheckpoint()
    t0 = time.time()
    parsed = swob.parse_swob_xml(payloads)
    n_p = force(parsed)
    t[f"ep3_swob_parse_{n_ws}st_year"] = {
        "sec": round(time.time() - t0, 1), "rows": n_p,
    }
    print(f"  {t[f'ep3_swob_parse_{n_ws}st_year']['sec']:7.1f} s  "
          f"{n_p:>12,} rows  ep3_swob_parse_{n_ws}st_year",
          file=sys.stderr)
    parsed_ck = parsed.localCheckpoint()
    t0 = time.time()
    conformed = swob.conform_swob(parsed_ck)
    spine = align.time_spine(
        spark, "2024-01-01 00:00:00", "2024-12-30 23:00:00", "1 hour",
        "obs_time",
    ).withColumn("obs_time", F.col("obs_time") - F.expr("INTERVAL 8 HOURS"))
    stations_df = payloads.select(
        F.substring("station", 2, 10).alias("station_id")
    ).distinct()
    aligned = align.scaffold_align(
        align.key_spine(stations_df, spine),
        conformed,
        ["station_id", "obs_time"],
    )
    n_a = force(aligned)
    t[f"ep3_weather_align_{n_ws}st_year"] = {
        "sec": round(time.time() - t0, 1), "rows": n_a,
    }
    print(f"  {t[f'ep3_weather_align_{n_ws}st_year']['sec']:7.1f} s  "
          f"{n_a:>12,} rows  ep3_weather_align_{n_ws}st_year",
          file=sys.stderr)
    t0 = time.time()
    wide = pipelines.weather_wide(
        aligned, "air_temp",
        [f"WX{i:04d}" for i in range(n_ws)],
    )
    n_w = force(wide)
    t[f"ep3_weather_wide_{n_ws}st_year"] = {
        "sec": round(time.time() - t0, 1), "rows": n_w,
    }
    print(f"  {t[f'ep3_weather_wide_{n_ws}st_year']['sec']:7.1f} s  "
          f"{n_w:>12,} rows  ep3_weather_wide_{n_ws}st_year",
          file=sys.stderr)

    out = json.dumps(results, indent=2)
    if args.out:
        Path(args.out).write_text(out + "\n")
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
