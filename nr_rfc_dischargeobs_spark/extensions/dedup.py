"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All are built from native expressions (md5, split, explode, groupBy) — no
Python in the data path.  Hash functions are md5-based so every engine
computes identical signatures (md5 is bytewise-portable; lexicographic min
over hex strings is a valid min-hash family).

Scale notes (100 TB corpus):
- exact dedup is a single groupBy on a 16-byte fingerprint — shuffle payload
  is |docs| × ~50 B regardless of document size (fingerprint computed at the
  scan, text never shuffled);
- MinHash bands turn near-dup search from O(n²) into |bucket|² within
  buckets: the band join shuffles on (band, signature), and skewed buckets
  (a viral boilerplate string) are exactly the AQE skew-join case;
- SimHash reduces each doc to a 16-bit integer; collision grouping is a
  trivial groupBy.  Widen to 64-bit by taking 16 hex chars when real
  corpora need it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def exact_clusters(docs: DataFrame) -> DataFrame:
    """Exact dedup via content fingerprint: one row per distinct content,
    with the cluster size and the keeper (min id)."""
    return (
        docs.select(F.md5(F.col("text")).alias("fingerprint"), F.col("doc_id"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def tokens(text_col: Column) -> Column:
    """Whitespace tokens of lowercased text (shared by all dedup ops)."""
    return F.split(F.lower(text_col), " ")


def shingle_rows(docs: DataFrame, n: int = 1) -> DataFrame:
    """(doc_id, shingle) rows — distinct word n-grams, exploded.

    The token array is materialized in its own projection and the n-gram
    lambda indexes into it (O(1) per element); inlining ``split`` into the
    lambda instead re-tokenizes the document per shingle — O(tokens²) per
    doc, measured 4× slower at 5k docs and growing with document length.
    Out-of-range indexes yield NULL, which ``concat_ws`` drops — short
    documents produce their partial tail shingle exactly like ``slice``.

    Degenerate documents (NULL/empty/whitespace-only text) emit NO
    shingles: the n ≥ 2 branch used to manufacture one EMPTY-STRING
    shingle for them (all-NULL gets → concat_ws ''), which made every
    degenerate doc collide with every other — false 100%-contamination
    hits in the n-gram screen and false Jaccard-1.0 near-dup drops
    between docs that share zero content.
    """
    toks = docs.select(F.col("doc_id"), tokens(F.col("text")).alias("__toks"))
    if n == 1:
        sh = F.array_distinct(F.col("__toks"))
    else:
        # get() is 0-based and yields NULL out of range (bracket indexing
        # throws under ANSI mode); concat_ws drops the NULLs, so short docs
        # produce their partial tail shingle exactly like slice().
        idx = ", ".join(f"get(__toks, i + {k})" for k in range(n))
        sh = F.array_distinct(
            F.expr(
                f"transform(sequence(0, greatest(size(__toks) - {n}, 0)),"
                f" i -> concat_ws(' ', {idx}))"
            )
        )
    return (
        toks.select(F.col("doc_id"), F.explode(sh).alias("shingle"))
        .filter(F.trim(F.col("shingle")) != "")
    )


def minhash_signatures(
    shingles: DataFrame,
    bands: int = 4,
    rows_per_band: int = 1,
    with_count: bool = False,
) -> DataFrame:
    """Per-doc banded min-hash signature, one column per band
    (``mh0..mh{b-1}``).

    ``rows_per_band`` (r) is the LSH precision dial: a band collides only
    when ALL r of its min-hashes agree, so the candidate probability for
    true Jaccard s is 1−(1−s^r)^bands.  r=1 on a low-diversity corpus
    (small vocabulary, high baseline overlap) buckets nearly every pair —
    Σ|bucket|² ≈ n² — while r≥2 suppresses the sub-threshold mass
    exponentially.  One groupBy computes all bands×r mins at once; band
    signatures are hashes of their row concatenation.

    The per-shingle hash family is ⌈n/4⌉ md5 calls (min 2), not bands×r:
    each call yields 32 hex chars sliced into four 32-bit hex words
    (independent for min-hash purposes, byte-portable to any md5-capable
    engine), concatenated as ``md5(s) || md5('x'||s) || md5('x002'||s)
    || md5('x003'||s) || …`` — the salted extension of the original
    two-call family, so every configuration with bands×r ≤ 8 produces
    byte-identical signatures to the historical spelling.  Salts for
    call ≥ 2 are FIXED-WIDTH (``x%03d``): equal-length salts cannot
    prefix-collide with each other, so no two extended hash coordinates
    can be forced equal by shingle content (``md5('x2'||'3abc') ==
    md5('x23'||'abc')`` was possible under variable-width numbering —
    correlated coordinates violate the independence the 1−(1−s^r)^b
    S-curve assumes).  The two LEGACY salts keep their documented
    residual ambiguity (a shingle literally starting ``'x'``/``'x00N'``
    can alias across families — the pre-existing ''/'x' property,
    unchanged).  This admits production bandings like b=16/r=4 (64
    permutations — the standard 0.8-Jaccard operating point, S-curve
    midpoint s* = (1/b)^(1/r) ≈ 0.5) at 16 md5 calls per DISTINCT
    shingle; hashing stays the signature-cost floor but scales linearly
    in ⌈n/4⌉, not n.  Capped at 256 hashes — past b·r ≈ 256 the md5
    bill dominates any realistic precision gain (widen r, not the
    family, beyond that).
    """
    n_hashes = bands * rows_per_band
    if n_hashes > 256:
        raise ValueError("bands * rows_per_band must be <= 256")
    n_calls = max(2, -(-n_hashes // 4))
    salts = ["", "x"] + [f"x{j:03d}" for j in range(2, n_calls)]
    cat = F.concat(
        *[
            F.md5(
                F.concat(F.lit(salt), F.col("shingle"))
                if salt
                else F.col("shingle")
            )
            for salt in salts[:n_calls]
        ]
    )
    hashed = shingles.select(F.col("doc_id"), cat.alias("__cat"))
    aggs = [
        F.min(F.substring(F.col("__cat"), 8 * h + 1, 8)).alias(f"__h{h}")
        for h in range(n_hashes)
    ]
    # ``with_count`` (r13, guide §2.4): ride the per-doc shingle count
    # on the SAME groupBy — shingle rows are distinct per doc, so
    # count(1) here IS |shingle set|, and downstream Jaccard/containment
    # verification no longer needs its own sizes aggregation + re-attach
    # joins (the count threads through the LSH pair join as two ints).
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("n_sh"))
    extra = ["n_sh"] if with_count else []
    per_hash = hashed.groupBy("doc_id").agg(*aggs)
    if rows_per_band == 1:
        return per_hash.select(
            "doc_id",
            *[F.col(f"__h{b}").alias(f"mh{b}") for b in range(bands)],
            *extra,
        )
    return per_hash.select(
        "doc_id",
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"__h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias(f"mh{b}")
            for b in range(bands)
        ],
        *extra,
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    max_bucket: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any band's signature (r=1
    banding).  Unpivot signatures to (band, sig) rows, self-join on equality
    — the join key is the bucket, so work is Σ|bucket|², never n².

    ``max_bucket`` is the hot-bucket gate (the winnowing ``max_df``
    discipline applied to its sibling): a (band, sig) bucket holding more
    than ``max_bucket`` docs is DROPPED before the self-join.  At corpus
    scale a viral boilerplate string puts millions of docs in one bucket
    — |bucket|² pairs of which almost none survive the Jaccard verify —
    so the gate trades recall on that one degenerate signature for
    removing the dominant term of Σ|bucket|².  True near-dup pairs keep
    every OTHER band to collide on (the standard banding redundancy), so
    the recall cost is bounded by the per-band miss rate.  ``None``
    (default) disables the gate — the plan and results are exactly the
    historical ones.  The gate itself is one aggregation on the SAME
    (band, sig) key the join shuffles on (map-side combinable) plus a
    semi-join back — no new exchange key, no window sort.

    ``carry`` names extra per-doc columns on ``signatures`` (e.g. the
    ``with_count`` shingle count) to thread through the pair join as
    ``<col>_a`` / ``<col>_b`` — a few ints per row, which lets the
    Jaccard verifier skip its own sizes aggregation + two re-attach
    joins (r13, guide §2.4)."""
    long_ = signatures.unpivot(
        ["doc_id", *carry], [f"mh{b}" for b in range(bands)], "band", "sig"
    )
    if max_bucket is not None:
        keep = (
            long_.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("band", "sig")
        )
        long_ = long_.join(keep, ["band", "sig"], "leftsemi")
    a = long_.select(
        F.col("doc_id").alias("doc_a"),
        F.col("band"),
        F.col("sig"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    b = long_.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band"),
        F.col("sig"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    carried = [f"{c}_a" for c in carry] + [f"{c}_b" for c in carry]
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", *carried)
        .distinct()
    )


def incremental_admission(
    new_docs: DataFrame,
    corpus: DataFrame,
    *,
    bands: int = 4,
    rows_per_band: int = 1,
    n: int = 3,
) -> DataFrame:
    """Admission screen for an INCOMING batch against a LANDED corpus —
    the continuous-ingest posture (each crawl snapshot deduplicated
    against everything already kept) as a batch operator, the batch twin
    of ``streaming/documents.py::land_document_stream``.

    One row per incoming document::

        (doc_id, exact_dup_of, near_dup_of, admit)

    ``exact_dup_of`` is the smallest landed doc_id with byte-identical
    content (md5 fingerprint), ``near_dup_of`` the smallest landed
    doc_id sharing any MinHash band signature (the LSH candidate rule,
    same ``minhash_signatures`` family as the self-join path — so a
    tuned (bands, rows_per_band) operating point transfers verbatim),
    and ``admit`` is true iff neither screen fired.  Both evidence
    columns are NULL when clean, so the caller can route rejects to an
    audit table with provenance.

    Differences from the self-join dedup ops, and why they matter at
    100 TB:

    - the band join is new×corpus, NOT corpus×corpus: per-bucket work is
      |bucket_new|·|bucket_corpus|, and the incoming batch is typically
      orders of magnitude smaller than the corpus — the dominant cost is
      one scan of the corpus side, not a quadratic pair explosion;
    - admission is deterministic and order-free: a replayed batch
      returns the identical admit set (no state beyond the corpus).
    """
    fp_raw = corpus.select(
        F.md5(F.col("text")).alias("fingerprint"), F.col("doc_id")
    )
    fp_corpus = fp_raw.groupBy("fingerprint").agg(
        F.min("doc_id").alias("exact_dup_of")
    )
    fp_new = new_docs.select(
        F.col("doc_id"), F.md5(F.col("text")).alias("fingerprint")
    )
    exact = fp_new.join(fp_corpus, "fingerprint", "left").select(
        "doc_id", "exact_dup_of"
    )

    band_cols = [f"mh{b}" for b in range(bands)]
    sig_new = minhash_signatures(
        shingle_rows(new_docs, n=n),
        bands=bands,
        rows_per_band=rows_per_band,
    ).unpivot(["doc_id"], band_cols, "band", "sig")
    sig_corpus = minhash_signatures(
        shingle_rows(corpus, n=n),
        bands=bands,
        rows_per_band=rows_per_band,
    ).unpivot(["doc_id"], band_cols, "band", "sig")
    near = (
        sig_new.select(
            F.col("doc_id").alias("__new_id"), "band", "sig"
        )
        .join(
            sig_corpus.select(
                F.col("doc_id").alias("__corpus_id"), "band", "sig"
            ),
            ["band", "sig"],
        )
        .groupBy("__new_id")
        .agg(F.min("__corpus_id").alias("near_dup_of"))
        .withColumnRenamed("__new_id", "doc_id")
    )

    return (
        new_docs.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .withColumn(
            "admit",
            F.col("exact_dup_of").isNull() & F.col("near_dup_of").isNull(),
        )
    )


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit SimHash from md5 nibbles of each (frequency-weighted) token.

    bit b reads nibble ``b div 4`` of md5(token) (64 bits consume the first
    16 of md5's 32 hex nibbles); contribution is +1/-1 by bit ``b mod 4`` of
    that nibble; the sign of the summed contribution sets the output bit.
    Pure integer expressions → identical in any engine.

    64 bits, not fewer: a w-bit simhash birthday-collides at ~2^(w/2) docs,
    so 16 bits saturates at a few hundred documents while 64 holds to
    billions — the corpus-scale requirement.  Bit 63 is the sign bit of the
    BIGINT result; its weight is written as the two's-complement literal
    (−2^63) so the sum stays in range under ANSI overflow checking in both
    engines, and the stored value is simply the signed interpretation of
    the 64-bit pattern.
    """
    tok = docs.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok")
    ).withColumn("h", F.md5(F.col("tok")))
    bits = tok.select(
        "doc_id",
        "h",
        F.explode(F.expr("sequence(0, 63)")).alias("bit"),
    ).withColumn(
        "contrib",
        F.expr(
            f"2 * ((CAST(instr('{HEX}', substr(h, CAST(bit div 4 AS INT) + 1, 1)) AS INT) - 1)"
            " div shiftleft(1, CAST(bit % 4 AS INT)) % 2) - 1"
        ),
    )
    weight = F.when(
        F.col("bit") == 63, F.lit(-9223372036854775808)
    ).otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
    return (
        bits.groupBy("doc_id", "bit")
        .agg(F.sum("contrib").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, weight).otherwise(F.lit(0))
            ).alias("simhash")
        )
    )


def jaccard_pairs(
    docs: DataFrame, threshold: float = 0.6, n: int = 1
) -> DataFrame:
    """Word/n-gram Jaccard similarity pairs ≥ threshold.

    |A∩B| via self-join on shared shingles (bucketed by shingle — never a
    cross product), |A∪B| = |A|+|B|−|A∩B|; the ratio is one exact int
    division.  At corpus scale, run *after* LSH candidate generation; this
    direct form is the verifier / small-partition path.
    """
    sh = shingle_rows(docs, n=n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    )
    sz_b = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
    )
    jac = (
        F.col("n_inter").cast("double")
        / (F.col("na") + F.col("nb") - F.col("n_inter"))
    )
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    docs: DataFrame, threshold: float = 0.9, n: int = 3
) -> DataFrame:
    """Shingle-containment pairs: (inner, outer) where
    |shingles(inner) ∩ shingles(outer)| / |shingles(inner)| ≥ threshold.

    The doc-in-doc case Jaccard structurally misses: a short document
    pasted into a much longer one has Jaccard ≈ |inner|/|outer| (tiny)
    but containment ≈ 1 — the standard second screen (Broder's
    containment measure) next to resemblance.  Emits both directions
    when both clear the threshold (near-identical docs), so the caller's
    keep-rule stays theirs.

    Same scale shape as :func:`jaccard_pairs`: the intersection is a
    self-join bucketed on the shingle hash — never a cross product — and
    at corpus scale it runs *after* LSH candidate generation; this direct
    form is the verifier / small-partition path.
    """
    sh = shingle_rows(docs, n=n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("inner_id"), "shingle")
    b = sh.select(F.col("doc_id").alias("outer_id"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("inner_id") != F.col("outer_id"))
        .groupBy("inner_id", "outer_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("inner_id"),
                F.col("n_sh").alias("n_inner"),
            ),
            "inner_id",
        )
        .withColumn(
            "containment",
            F.col("n_inter").cast("double") / F.col("n_inner"),
        )
        .filter(F.col("containment") >= threshold)
        .select("inner_id", "outer_id", "n_inner", "n_inter", "containment")
    )


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components over a near-dup pair graph → (node, label).

    The cluster-level upgrade to ``curate``'s per-edge min-id rule: every
    member of a duplicate CLUSTER maps to the cluster's minimum id, even
    when the pair graph is a chain (A~B, B~C but never A~C).

    Min-label propagation: each round, every node takes the min label
    among itself and its neighbors; converges in O(graph diameter)
    rounds — near-dup clusters are shallow (stars/chains of a few hops),
    so a handful of rounds suffices.  EAGER at call time: the rounds run
    while the plan is built; the returned frame reads the final labels.

    Round shape — ONE exchange per round, and no label table, no join
    and no separate convergence probe:

    - the state is a single row set ``(a, b, la)``: the symmetric edge
      set plus one self row ``(n, n, label_n)`` per node, where ``la`` is
      the current label of ``a``;
    - a round is ``min(la) over partitionBy(b)`` (b's new label: the min
      over its neighbors' labels and its own self row) and emits every
      row REVERSED as ``(b, a, new label of b)``.  Reversing a symmetric
      row set yields the same set, so the next round's rows again carry
      their source's label;
    - convergence is an :class:`~pyspark.sql.Observation` counting the
      self rows whose label changed, collected by the round's own eager
      ``localCheckpoint`` (which also truncates lineage, so the plan never
      grows with the round count) — no separate probe job, and no label
      set collects to the driver;
    - the first round runs straight over the pair plan (executed once,
      not checkpointed on its own): hop 0 is implicit (a node's initial
      label is its id) and ``row_number() == 1`` per ``b`` creates each
      node's self row in the same window, including nodes whose only
      edge is a self-loop.  Self-loop rows themselves are dropped.

    Measured on the ``dedup_cc_clusters`` plan (sf0.01, local[2] and
    local[4], AQE on): 12 Spark jobs to build — the pair plan's AQE
    stages plus 2 per round (the window's shuffle-map job and the
    checkpoint job) — against 42 for the previous join + aggregate +
    changed-probe loop (~9 jobs per round).

    For adversarial diameters (long chains at web scale) use
    :func:`connected_components_star`, which needs O(log n) rounds.
    """
    # round 1 over the pair plan: symmetric rows (a, b) with la = a
    ordered = Window.partitionBy("b").orderBy("a")
    pairs = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
                F.struct(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    # running min over an ascending order is the partition min
    hop1 = pairs.select(
        "a",
        "b",
        F.least(F.col("b"), F.min("a").over(ordered)).alias("la"),
        (F.row_number().over(ordered) == 1).alias("first"),
    )
    # (b, a) for every non-loop row, plus (b, b) once per b; ``prev`` is
    # the new source's label before the round (hop 0: its own id)
    stepped = (
        hop1.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("b").alias("a"),
                        F.col("a").alias("b"),
                        (F.col("a") != F.col("b")).alias("keep"),
                    ),
                    F.struct(
                        F.col("b").alias("a"),
                        F.col("b").alias("b"),
                        F.col("first").alias("keep"),
                    ),
                )
            ).alias("r"),
            "la",
        )
        .filter("r.keep")
        .select("r.a", "r.b", "la", F.col("r.a").alias("prev"))
    )
    changed = F.count(
        F.when((F.col("a") == F.col("b")) & (F.col("la") != F.col("prev")), 1)
    ).alias("changed")
    everyone = Window.partitionBy("b")
    for _ in range(max_iter):
        obs = Observation()
        rows = (
            stepped.observe(obs, changed)
            .drop("prev")
            .localCheckpoint(eager=True)
        )
        if obs.get["changed"] == 0:
            break
        stepped = rows.select(
            F.col("b").alias("a"),
            F.col("a").alias("b"),
            F.min("la").over(everyone).alias("la"),
            F.col("la").alias("prev"),
        )
    else:
        # fail loudly: falling through with changed > 0 would return
        # intermediate labels — one real cluster reported as several —
        # indistinguishable from a converged result to the caller.
        # One-hop propagation converges in ≤ graph diameter rounds;
        # near-dup cluster graphs are dense (diameter a handful), so a
        # >50-hop chain signals either a pathological corpus or a bug —
        # either way the caller must decide, not receive wrong labels.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter}"
            " iterations (label propagation covers one hop per round;"
            " the pair graph has a longer chain) — raise max_iter"
        )
    return rows.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("node"), F.col("la").alias("label")
    )


def _canon_edges(df: DataFrame) -> DataFrame:
    """(x, y) in any orientation → distinct canonical (a=min, b=max),
    self-loops dropped."""
    return (
        df.select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


# live edges up to which a star round recomputes its large-star result
# instead of checkpointing it (see connected_components_star)
_LIGHT_EDGES = 100_000


def connected_components_star(
    edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """EAGER at call time (counts + checkpoints per round, unlike the
    lazy sibling operators — composing this into a larger plan pays the
    full compute on construction).  Connected components by alternating
    large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the adversarial-diameter scale path next to
    :func:`connected_components`.

    Same contract and output (``(node, label)`` with label = component
    min), different convergence mechanics: min-label propagation moves
    labels ONE hop per round (O(diameter) rounds — fine for shallow
    near-dup clusters, fatal for web-graph-shaped inputs with million-hop
    chains), while each star round REWIRES the edge set itself —
    large-star hangs every larger neighbor directly off the local
    minimum, small-star flattens the remaining paths — provably
    converging to a star forest in O(log n) rounds regardless of
    diameter.  A 64-node path converges in 5 rounds here vs 63 label
    hops.

    Per round: two aggregations and two joins, all keyed on a node
    column (map-side combinable, one exchange family), edge set
    re-materialized via ``localCheckpoint`` so the plan never grows;
    convergence is an exact distributed set-equality check (count +
    anti-join ``limit(1)``), nothing collects to the driver.

    Fixed-overhead cut: while the live edge set is ≤
    ``_LIGHT_EDGES`` rows, the intermediate large-star result is NOT
    eagerly materialized — the small-star stage recomputes its (tiny)
    subtree twice inside one job, which beats paying an extra eager
    checkpoint job per round (measured ~25% of the whole operator at
    sf0.1 — round-count × job overhead dominates small inputs).  Above
    the threshold the per-round checkpoint returns: at web-graph scale,
    recomputing a large-star shuffle twice costs far more than one
    materialization.  The labeling is identical either way.
    """
    raw = edges.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
    # node universe BEFORE self-loop removal: a node whose only edge is
    # a self-loop must still appear in the output (as its own singleton
    # component), exactly as the min-label variant labels it
    # LAZY checkpoint + count (r13, guide §1.2 — one job, not two): the
    # count materializes the checkpoint; lineage truncation afterwards
    # is identical to the eager spelling.  Same fusion per round below.
    nodes = (
        raw.select(F.col("x").alias("node"))
        .unionByName(raw.select(F.col("y").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = _canon_edges(raw).localCheckpoint(eager=False)
    n_edges = e.count()
    for _ in range(max_iter):
        # --- large-star: v > u attaches to min(Γ(u) ∪ {u}) ---
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        lmin = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", F.col("u")).alias("m"))
        )
        e1 = _canon_edges(
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
        )
        if n_edges > _LIGHT_EDGES:
            # big graph: materialize once — small-star consumes e1 twice
            e1 = e1.localCheckpoint(eager=True)
        # --- small-star: canonical (a < b) is already max-oriented; every
        # smaller neighbor of b (and b itself) attaches to min(N(b)) ---
        smin = e1.groupBy("b").agg(F.min("a").alias("m"))  # m < b always
        children = (
            e1.join(smin, "b")
            .select(F.col("a").alias("x"), F.col("m").alias("y"))
        )
        selfs = smin.select(F.col("b").alias("x"), F.col("m").alias("y"))
        e2 = _canon_edges(children.unionByName(selfs)).localCheckpoint(
            eager=False
        )
        # --- converged when the edge set is a fixed point (exactly the
        # star-forest state: both operations are idempotent on it) ---
        n2 = e2.count()
        if n2 == n_edges and (
            e2.join(e, ["a", "b"], "left_anti").limit(1).count() == 0
        ):
            e = e2
            break
        e, n_edges = e2, n2
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter}"
            " rounds — O(log n) is the proven bound, so this is a bug or"
            " a pathological input, not a tuning problem"
        )
    # star forest: a = component root (min), b = member.  Union the
    # star labels with a self-label per node from the PRE-canon node
    # universe and take the min: roots and self-loop-only singletons
    # label themselves (root label a ≤ node always, so min picks the
    # star label whenever one exists) — one map-side-combinable
    # aggregation, no anti-join.
    return (
        e.select(F.col("b").alias("node"), F.col("a").alias("label"))
        .unionByName(
            e.select(F.col("a").alias("node"), F.col("a").alias("label"))
        )
        .unionByName(nodes.withColumn("label", F.col("node")))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
