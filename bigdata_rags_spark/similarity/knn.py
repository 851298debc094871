"""Exact cosine neighbors and vector near-dup pairs over an ``array<float>``
column.

- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query set
  against the full corpus; one pass, no shuffle of the corpus, a window
  per-query top-k.  This is the correctness reference for the one ANN
  serving path, IVFPQ (``similarity/pq.py``), and the right plan whenever
  |queries| x |corpus| work fits the cluster.
- Near-dup pairs: exact all-pairs cosine above a threshold
  (``cosine_pairs_above*``) and random-hyperplane LSH candidates verified
  by exact cosine (``lsh_verified_pairs``, sign-of-projection sketch,
  Charikar 2002).  Hyperplanes are derived deterministically from md5
  bytes, so results are reproducible run-to-run (no RNG state).

All math is ``zip_with``/``aggregate`` column expressions (codegen'd); no
Python in the scoring loop.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.vectors import (
    _deterministic_hyperplanes,
    as_double_array,
    dot,
    norm,
)


def _scored(queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # norms are precomputed per vector (one pass per side), so each pair
    # costs ONE dot product instead of three; dot/na/nb keeps the exact
    # op order of the oracle's dot/sqrt(dot(a,a))/sqrt(dot(b,b)).
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    return (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "similarity",
            F.round(dot(F.col("qv"), F.col("cv")) / F.col("qn") / F.col("cn"), 6),
        )
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine similarity.

    Rounded similarity is the ranking key (ties broken by neighbor id) so
    the result set is fully deterministic and oracle-matchable.

    The per-query window's exchange — not the cosine math — dominates this
    sweep (SCALE.md r12 binary probe), so each partition pre-prunes to its
    own per-query top k before the global window (``local_topk_prefilter``,
    hash-identical by the superset argument): the exchange carries
    <= |Q| x partitions x k rows instead of |Q| x N.
    """
    from pyspark.sql import Window

    from bigdata_rags_spark.similarity.topk import local_topk_prefilter

    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("neighbor_id")
    )
    scored = _scored(queries, corpus, id_col, vec_col).select(
        "query_id", "neighbor_id", "similarity"
    )
    return (
        local_topk_prefilter(
            scored, ["query_id"], [("similarity", False), ("neighbor_id", True)], k
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pos_ceiling: float = 0.9,
) -> DataFrame:
    """Hard-negative mining for contrastive retriever training (the DPR /
    ANCE training-data op): per anchor, the k highest-cosine candidates
    BELOW the positive band — ``similarity < pos_ceiling`` excludes
    near-dups/positives, the top-k-by-similarity keeps only the negatives
    hard enough to carry gradient.  Also reports ``n_positives`` (the
    excluded above-band count) per anchor so the training pipeline can see
    the positive/negative split it mined from.

    Returns (query_id, neighbor_id, similarity, neg_rank, n_positives).
    Same exact-math conventions as ``brute_force_topk`` (rounded
    similarity as the ranking key, neighbor-id tiebreak); same broadcast-
    queries scan shape — one corpus pass, per-anchor window top-k, no
    corpus shuffle.  At 100 TB swap the candidate source for the IVFPQ
    index (mine negatives among probed candidates only) — the
    band-filter + top-k stages are unchanged.
    """
    from pyspark.sql import Window

    from bigdata_rags_spark.similarity.topk import local_topk_prefilter

    scored = _scored(queries, corpus, id_col, vec_col)
    pos = (
        scored.filter(F.col("similarity") >= pos_ceiling)
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_positives"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("neighbor_id")
    )
    neg = local_topk_prefilter(
        scored.filter(F.col("similarity") < pos_ceiling).select(
            "query_id", "neighbor_id", "similarity"
        ),
        ["query_id"],
        [("similarity", False), ("neighbor_id", True)],
        k,
    )
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .join(pos, "query_id", "left")
        .select(
            "query_id",
            "neighbor_id",
            "similarity",
            "neg_rank",
            F.coalesce(F.col("n_positives"), F.lit(0).cast("bigint")).alias(
                "n_positives"
            ),
        )
    )


def cosine_pairs_above(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup pairs: all (a < b) with cosine >= threshold.

    Quadratic by construction — correct baseline for modest corpora; use
    ``lsh_verified_pairs`` candidates as the pre-filter at scale.
    """
    a = df.select(
        F.col(id_col).alias("id_a"), as_double_array(F.col(vec_col)).alias("va")
    ).withColumn("na", norm(F.col("va")))
    b = df.select(
        F.col(id_col).alias("id_b"), as_double_array(F.col(vec_col)).alias("vb")
    ).withColumn("nb", norm(F.col("vb")))
    # broadcast one side: BroadcastNestedLoopJoin = one pass over `a`'s
    # partitions instead of a P_a x P_b cartesian task grid.  Norms are
    # precomputed per vector (dot/na/nb == the oracle's op order).  Only
    # viable while the corpus fits a broadcast; beyond that use
    # lsh_verified_pairs.
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "similarity",
            F.round(dot(F.col("va"), F.col("vb")) / F.col("na") / F.col("nb"), 6),
        )
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "similarity")
    )


def cosine_pairs_above_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    block_rows: int = 4096,
) -> DataFrame:
    """All-pairs cosine >= threshold via block-pair EQUI-join decomposition —
    exact values, no corpus x corpus BroadcastNestedLoopJoin.

    Rows are hashed into B = ceil(N / block_rows) blocks; each row is
    replicated to its (block_i <= block_j) pair cells via an exploded
    sequence (a-side covers (blk, j >= blk), b-side covers (i <= blk, blk),
    so every unordered block pair meets exactly once), and the pair work is
    a plain shuffle join on the (bi, bj) cell key: B(B+1)/2 independent
    cells, each bounded at block_rows^2 candidate pairs, shuffle volume
    O(N * B) rows.  The driver sees one metadata-served ``count()`` to size
    B.  Unlike ``cosine_pairs_above`` nothing is broadcast, so the plan
    survives corpora that outgrow a broadcast; unlike
    ``cosine_pairs_above_mm`` the per-pair math is the same codegen'd
    zip_with/aggregate expression tree as the oracle (dot product summed in
    dimension order, divided by the smaller-id norm then the larger-id
    norm), so values are bit-identical to the SQL oracle and the driver
    hash-matches.

    Why not LSH prefiltering (the obvious "subquadratic" move): measured on
    the fixture embeddings (near-isotropic, true-pair cosine barely above
    the random-pair band), zero-miss candidate generation at threshold 0.4
    needs 8 planes x 8 tables x Hamming-radius-3 probing and still retains
    96% of ALL pairs as candidates — more work than all-pairs.  Sound LSH
    pruning needs a similarity margin this data does not have; where the
    margin exists (near-dup text via MinHash), the repo's dedup tier does
    exactly that composition.  Exact all-pairs-above-threshold is
    Omega(N^2) in the worst case; the right scale lever is distributing
    those N^2 pair evaluations with bounded per-task memory, which is what
    this decomposition does.
    """
    import math

    n = df.count()  # one lightweight job; parquet answers from metadata
    n_blocks = max(1, math.ceil(n / block_rows))

    base = (
        df.select(F.col(id_col).alias("vid"), as_double_array(F.col(vec_col)).alias("v"))
        .withColumn("nrm", norm(F.col("v")))
        .withColumn("blk", F.pmod(F.hash("vid"), F.lit(n_blocks)))
    )
    a_rep = base.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
        F.col("vid").alias("ia"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b_rep = base.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.col("vid").alias("ib"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    # same-block cells hold every row on both sides (keep ia < ib once);
    # cross-block cells meet each pair exactly once in arbitrary orientation
    # (keep all, canonicalize ids).  Norm division order follows ids — the
    # oracle divides by sqrt(dot(a,a)) then sqrt(dot(b,b)) with a = lower id.
    n_lo = F.when(F.col("ia") < F.col("ib"), F.col("na")).otherwise(F.col("nb"))
    n_hi = F.when(F.col("ia") < F.col("ib"), F.col("nb")).otherwise(F.col("na"))
    return (
        a_rep.join(b_rep, ["bi", "bj"])
        .filter((F.col("bi") != F.col("bj")) | (F.col("ia") < F.col("ib")))
        .withColumn(
            "similarity",
            F.round(dot(F.col("va"), F.col("vb")) / n_lo / n_hi, 6),
        )
        .filter(F.col("similarity") >= threshold)
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "similarity",
        )
    )


def cosine_pairs_above_mm(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    block_rows: int = 4096,
) -> DataFrame:
    """All-pairs cosine >= threshold via distributed block-pair BLAS matmul.

    Same semantics as ``cosine_pairs_above`` but the O(N^2 * d) inner loop
    runs as numpy/BLAS gemm inside ``applyInPandas`` — the classic ~100x
    Pandas-UDF-over-row-expressions win for dense numeric kernels — and,
    unlike a formulation that collects blocks to the driver, NOTHING
    funnels through the driver: rows are hashed into ceil(N / block_rows)
    blocks, each row is replicated to its (block_i <= block_j) pair
    groups via an exploded sequence, and every block pair multiplies its
    two sub-matrices executor-side.  This is the standard distributed all-pairs decomposition:
    B(B+1)/2 independent gemm tasks, shuffle volume O(N * B) rows, driver
    sees only the single metadata ``count()`` used to size B.

    Note: BLAS reductions are not sequential, so values can differ from the
    expression path in the last ulps — rounding to 6 dp makes that visible
    only at astronomically unlikely boundaries; registered rows-only with
    the driver (no value-hash oracle) for that reason.
    """
    import math

    import numpy as np
    import pandas as pd

    n = df.count()  # one lightweight job; parquet answers from metadata
    n_blocks = max(1, math.ceil(n / block_rows))

    base = df.select(
        F.col(id_col).alias("vid"), as_double_array(F.col(vec_col)).alias("v")
    ).withColumn("blk", F.pmod(F.hash("vid"), F.lit(n_blocks)))
    # side "a" rows go to every pair (blk, j >= blk); side "b" rows to every
    # pair (i <= blk, blk): each unordered block pair meets exactly once.
    a_rep = base.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
        F.lit("a").alias("side"),
        "vid",
        "v",
    )
    b_rep = base.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit("b").alias("side"),
        "vid",
        "v",
    )
    rep = a_rep.unionByName(b_rep)

    out_schema = "id_a long, id_b long, similarity double"

    def score_block_pair(key, pdf):
        bi, bj = key
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "similarity": []}).astype(
                {"id_a": "int64", "id_b": "int64", "similarity": "float64"}
            )
        a_ids = np.asarray(a["vid"].values, dtype=np.int64)
        b_ids = np.asarray(b["vid"].values, dtype=np.int64)
        a_mat = np.stack([np.asarray(v, dtype=np.float64) for v in a["v"]])
        b_mat = np.stack([np.asarray(v, dtype=np.float64) for v in b["v"]])
        a_mat = a_mat / np.linalg.norm(a_mat, axis=1, keepdims=True)
        b_mat = b_mat / np.linalg.norm(b_mat, axis=1, keepdims=True)
        sims = np.round(a_mat @ b_mat.T, 6)
        if bi == bj:
            # same block on both sides: every unordered pair appears in both
            # orientations — keep the id_a < id_b one (also drops diagonal)
            mask = (sims >= threshold) & (a_ids[:, None] < b_ids[None, :])
        else:
            mask = sims >= threshold
        ka, kb = np.nonzero(mask)
        id_a, id_b = a_ids[ka], b_ids[kb]
        lo, hi = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "similarity": sims[ka, kb]})

    return rep.groupBy("bi", "bj").applyInPandas(score_block_pair, out_schema)


def signature_col(vec: F.Column, planes: list[list[float]]) -> F.Column:
    """n-bit sign-of-projection signature (bit p = sign of <v, plane_p>) as a
    pure column expression over literal plane arrays — one codegen'd pass,
    no UDF.  Projection is the same sequential zip_with/aggregate fold as
    ``dot``, so the SIGN (all that matters here) agrees with DuckDB's
    ``list_dot_product`` bit-for-bit."""
    sig = F.lit(0)
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        proj = F.aggregate(
            F.zip_with(vec, lit_plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def auto_n_planes(
    n_rows: int,
    target_occupancy: int = 8,
    floor: int = 8,
    cap: int = 24,
) -> int:
    """Self-scaling signature width: planes = ceil(log2(N / occupancy)),
    clamped to [floor, cap].

    Operationalizes the round-7 10x scale-probe finding (SCALE.md finding
    #1): with a FIXED plane count, expected bucket occupancy is N / 2^planes
    and candidate volume per table degrades toward N^2 / 2^planes — at 20k
    vectors the old 8-plane default saturated every bucket (>25 min vs 6 s).
    Growing planes with log2(N) pins expected occupancy at
    ``target_occupancy`` so candidate volume stays O(N * occupancy).

    target_occupancy=8 reproduces both prior calibration points exactly:
    the driver fixtures (N=500 at sf0.01, N=2000 at sf0.1) yield 8 planes —
    the value every oracle SQL pins, so driver hashes are unchanged — and
    the 10x probe corpus (N=20000) yields 12, the value the r7 probe
    hand-tuned as ``8 + ceil(log2(10))``.  Hyperplane families are
    prefix-nested (``_deterministic_hyperplanes`` derives plane p from the
    seed alone), so widening only APPENDS signature bits; bucket refinement
    is monotone.  The cap bounds probe fan-out: C(24,2)=276 masks per probe
    at probe_bits=2.
    """
    if n_rows <= 0:
        return floor
    need = math.ceil(math.log2(max(1.0, n_rows / target_occupancy)))
    return max(floor, min(cap, need))


def probe_masks(n_planes: int, probe_bits: int) -> list[int]:
    """All XOR masks of Hamming weight <= probe_bits over n_planes bits —
    the multi-probe neighborhood of a signature."""
    from itertools import combinations

    masks = [0]
    for r in range(1, max(0, probe_bits) + 1):
        for bits in combinations(range(n_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int | None = None,
    n_tables: int = 4,
    probe_bits: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Near-dup pairs via LSH candidates -> exact cosine verify — the
    production-scale composition: candidate pairs are those
    whose n-bit signatures lie within Hamming distance ``probe_bits`` in ANY
    of ``n_tables`` deterministic hyperplane tables; ONLY candidates are
    scored with the exact cosine and thresholded.

    Subquadratic plan: per table the pair join is a plain EQUI-join on the
    probed signature — the a-side explodes its C(b,0)+..+C(b,probe_bits)
    probe signatures (sig XOR mask), and ``a.sig^mask == b.sig`` holds iff
    Hamming(a,b) == weight(mask), so each qualifying pair meets exactly once
    per table (the mask IS the xor).  No corpus x corpus stage exists
    anywhere: shuffle volume is O(N * probes) rows and candidate volume is
    collision-bounded, which on clustered real-world embedding corpora is
    the textbook subquadratic ANN join.  Candidates are deduplicated across
    tables before scoring, so each survivor costs one cosine.

    Semantics are DETERMINISTIC (md5-derived planes, no RNG), so the oracle
    replicates them exactly in SQL — same plane literals, candidate rule
    expressed as ``bit_count(xor(sig_a, sig_b)) <= probe_bits`` — and the
    driver value-hash matches.  Recall vs the exact all-pairs op is the
    honest ANN tradeoff and is measured in tests; on this fixture's
    near-isotropic embeddings (no similarity margin — see
    ``cosine_pairs_above_blocked``) recall at the default parameters is
    ~0.85, while sharply-clustered real corpora get near-1 recall AND
    aggressive pruning from the same construction.
    """
    base = df.select(
        F.col(id_col).alias("vid"), as_double_array(F.col(vec_col)).alias("v")
    )
    if n_planes is None:
        # Self-scaling default: one cheap count job (parquet
        # footer row-counts; a warehouse would use table stats) picks the
        # signature width that pins expected bucket occupancy — on the
        # driver fixtures this resolves to the historical 8, so oracle
        # hashes are unchanged, while 10x corpora get 12 automatically.
        n_planes = auto_n_planes(base.count())
    masks = probe_masks(n_planes, probe_bits)

    cand = None
    for t in range(n_tables):
        planes = _deterministic_hyperplanes(dim, n_planes, seed=f"lsh{t}" if t else "lsh")
        s = base.withColumn("sig", signature_col(F.col("v"), planes))
        a = s.select(
            F.col("vid").alias("id_a"),
            F.explode(
                F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("psig"),
        )
        b = s.select(F.col("vid").alias("id_b"), F.col("sig").alias("psig"))
        pairs = (
            a.join(b, "psig")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.distinct()

    va = base.select(F.col("vid").alias("id_a"), F.col("v").alias("va")).withColumn(
        "na", norm(F.col("va"))
    )
    vb = base.select(F.col("vid").alias("id_b"), F.col("v").alias("vb")).withColumn(
        "nb", norm(F.col("vb"))
    )
    # verify: exact cosine in the oracle's op order (dot / lower-id norm /
    # higher-id norm; id_a < id_b by construction)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "similarity",
            F.round(dot(F.col("va"), F.col("vb")) / F.col("na") / F.col("nb"), 6),
        )
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "similarity")
    )


def lsh_bucket_skew_report(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    probe_bits: int = 2,
    dim: int = 64,
) -> DataFrame:
    """LSH/banded-join bucket-skew PRE-FLIGHT: price
    a signature table's pair join BEFORE running it, from the bucket
    histogram alone.

    The round-14 demotion (`text_hashed_near_dups`) showed that the skew
    which actually bites banded joins is data-correlated SIGNATURE-BUCKET
    skew — invisible to equi-join key audits (`join_key_skew_report`) and
    to wall-clock until the join runs.  But the multi-probe candidate
    volume is an exact function of the per-table bucket histogram: with
    occupancies n_s and probe masks M (Hamming weight <= probe_bits),

        probed_pairs = sum_{m in M, m != 0} sum_s n_s * n_{s XOR m} / 2
                       + sum_s C(n_s, 2)

    so one histogram self-join over the <= C(planes, <=2) literal masks —
    at most 2^planes rows per table, NEVER a corpus-sized join — prices
    the pair join exactly.  This is the query that would have predicted
    the r14 demotion without burning bench rounds.

    Returns one row per table: (tbl, n_docs, n_buckets, max_bucket,
    hottest_share_micro = C(max,2)*1e6 DIV eq_pair_cost, eq_pair_cost =
    sum C(n_s,2), probed_pair_cost, uniform_floor = N^2*|M| DIV 2^(p+1)
    — the uncorrelated-vector expectation — and skew_ratio_micro =
    probed_pair_cost*1e6 DIV max(floor,1)).  All integer arithmetic.

    100 TB: the histogram is one groupBy per table on an 8-24-bit key;
    the mask join touches <= 2^planes * |M| rows.  Run this before any
    banded pair join; a skew_ratio well above 1e6 says fix the
    featurization (e.g. idf-decorrelate), not the partitioning —
    SCALE.md round-14: no partitioning knob fixes data-correlated bucket
    skew.
    """
    base = df.select(as_double_array(F.col(vec_col)).alias("v"))
    sigs = None
    for t in range(n_tables):
        planes = _deterministic_hyperplanes(
            dim, n_planes, seed=f"lsh{t}" if t else "lsh"
        )
        s = base.select(
            F.lit(t).cast("int").alias("tbl"),
            signature_col(F.col("v"), planes).cast("bigint").alias("sig"),
        )
        sigs = s if sigs is None else sigs.unionByName(s)
    # per-(table, signature) occupancy: feeds the eq-cost agg AND both
    # sides of the mask join (multi-branch rule -> materialize once)
    hist = (
        sigs.groupBy("tbl", "sig")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint()
    )
    masks = [m for m in probe_masks(n_planes, probe_bits) if m != 0]
    cross = (
        hist.select(
            "tbl", "sig", "n", F.explode(F.array(*[F.lit(m) for m in masks])).alias("m")
        )
        .withColumn("probe_sig", F.expr("sig ^ m").cast("bigint"))
        .join(
            hist.select(
                F.col("tbl"), F.col("sig").alias("probe_sig"), F.col("n").alias("n2")
            ),
            ["tbl", "probe_sig"],
        )
        .groupBy("tbl")
        # the cross sum is even by symmetry ((s, s^m) and (s^m, s) both
        # contribute), so integer DIV 2 is exact — and stays off the float
        # grid (oracle-parity rule: never divide-then-truncate in float)
        .agg(F.expr("sum(n * n2) DIV 2").cast("bigint").alias("cross_pairs"))
    )
    eq = hist.groupBy("tbl").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.sum(F.expr("n * (n - 1) DIV 2")).cast("bigint").alias("eq_pair_cost"),
    )
    n_masks = len(masks) + 1
    return (
        eq.join(cross, "tbl", "left")
        .select(
            "tbl",
            "n_docs",
            "n_buckets",
            "max_bucket",
            # the N^2-scale products route through DECIMAL(38,0) (HUGEINT in
            # the oracle): bigint overflows the uniform floor at ~5e8 docs
            # and the micro multiplies at ~9.2e12 pairs — counter to the
            # operator's 100-TB pre-flight framing
            F.expr(
                "CASE WHEN eq_pair_cost > 0 THEN"
                " CAST(CAST(max_bucket AS DECIMAL(38,0)) * (max_bucket - 1)"
                " DIV 2 AS DECIMAL(38,0)) * 1000000 DIV eq_pair_cost"
                " ELSE 0 END"
            )
            .cast("bigint")
            .alias("hottest_share_micro"),
            "eq_pair_cost",
            (F.coalesce(F.col("cross_pairs"), F.lit(0)) + F.col("eq_pair_cost"))
            .cast("bigint")
            .alias("probed_pair_cost"),
            F.expr(
                f"CAST(n_docs AS DECIMAL(38,0)) * n_docs * {n_masks}"
                f" DIV {2 ** (n_planes + 1)}"
            )
            .cast("bigint")
            .alias("uniform_floor"),
        )
        .withColumn(
            "skew_ratio_micro",
            F.expr(
                "CAST(probed_pair_cost AS DECIMAL(38,0)) * 1000000"
                " DIV greatest(uniform_floor, 1)"
            ).cast("bigint"),
        )
    )


def rocchio_label_confusion(
    e: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid (Rocchio) label-coherence audit over an embedding
    table: fit one centroid per label, assign every vector to its nearest
    centroid by exact L2, and report the confusion matrix — the
    "are these labels separable in embedding space" check run before
    trusting labels as training signal (diagonal mass = coherent labels;
    an off-diagonal stripe = two labels sharing a region).

    Engine-exact integer pipeline: components quantize to micro via
    explicit FLOOR (the r13 double->bigint cast rule), centroid dims are
    SUM DIV n (truncation-toward-zero in both engines, negative-safe),
    distances are exact bigint squared-difference sums, and the argmin
    ties to the smaller label.  Resubstitution assignment by design —
    this is a coherence AUDIT, not a held-out classifier benchmark.

    Returns (label, predicted_label, n_vecs).  Scale shape: one
    posexplode scan -> per-(label, dim) hash agg for the centroids
    (|labels| x dims rows — broadcast), one dim-keyed join scores
    |vecs| x |labels| candidates, the per-vec argmin window sees
    |labels| rows.  At huge label counts swap the window for
    `local_topk_prefilter`."""
    from pyspark.sql import Window

    m = e.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.posexplode(as_double_array(F.col(vec_col))).alias("dim", "val"),
    ).withColumn("m", F.expr("CAST(FLOOR(val * 1000000) AS BIGINT)"))
    cents = m.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.expr("CAST(SUM(m) DIV COUNT(1) AS BIGINT)").alias("c")
    )
    d2 = (
        m.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(F.expr("(m - c) * (m - c)")).cast("bigint").alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    pred = (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("clabel").alias("predicted_label"))
    )
    return pred.groupBy("label", "predicted_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
