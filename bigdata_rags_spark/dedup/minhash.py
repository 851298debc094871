"""MinHash + LSH near-duplicate detection, fully declarative and portable.

Design (the classic shingle -> minhash -> band -> bucket-join pipeline, e.g.
Broder 1997 / MMDS ch.3, expressed Spark-first):

1. shingles:  distinct k-gram word shingles per doc (explode).  Each doc
              is tokenized once: ``word_shingles`` binds the token array
              before slicing it into shingles.  Shingling,
              not unigrams, is what makes the sketch discriminative: token
              *sets* saturate on small vocabularies (measured on the driver
              corpus: unigram-set LSH emits ~10.9M candidate pairs at sf0.1,
              shingle LSH emits 257 vs 256 true Jaccard>=0.5 pairs).
2. minhash:   ONE md5 per shingle yields a 28-bit base hash
              (``conv(substr(md5(shingle),1,7),16,10)``); the k hash
              functions are affine transforms of it:
              ``h_s = (a_s * base + b_s) mod (2^31-1)`` with ``(a_s, b_s)``
              drawn per seed from md5 bytes (``minhash_coefficients``).
              28-bit base x 31-bit multiplier keeps every intermediate
              under 2^60 — no int64 overflow in either engine, ANSI-safe.
              md5 + plain integer arithmetic give identical values in
              every engine (the whole pipeline is DuckDB-oracle-checkable,
              unlike hash functions private to one engine), and hashing
              each shingle once instead of k times cuts the dominant cost
              k-fold.
3. bands:     concatenate ``rows_per_band`` consecutive minhashes (ordered
              by seed) into a band key.
4. candidates: docs sharing any (band_id, band_key) — a groupBy/self-join on
              the band key, i.e. the only shuffle keys are tiny hashes, never
              the documents.
5. verify:    exact shingle-Jaccard on the (small) candidate set.

Scale: |docs| x num_hashes intermediate rows, all narrow; the band join's
fan-out is bounded by true near-duplicate cluster sizes.  No UDFs anywhere —
everything is codegen'd string/array expressions.  Banding SELF-SCALES with
corpus count (``auto_minhash_params``): rows_per_band grows with log2(N) so
noise-pair collision probability shrinks as the corpus grows (fixed banding
makes false-candidate volume quadratic in N — the saturation class the 10x
scale probes measured for fixed planes/cells), while the band count tracks
the historical ~0.41 similarity threshold.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.text import word_shingles, ws_tokens


def auto_minhash_params(
    n_docs: int,
    target_occupancy: int = 8,
    bits_per_row: int = 5,
    r_floor: int = 2,
    r_cap: int = 8,
    b_cap: int = 64,
) -> tuple[int, int]:
    """Self-scaling banding: ``(num_hashes, rows_per_band)`` from corpus
    count — the ``auto_n_planes`` / ``auto_n_cells`` rule applied to the
    last fixed-width banded family.

    Why bands must scale: a band key discriminates a random (noise) pair
    with probability ~J_noise^r, so expected false candidates are
    ~C(N,2) * b * J_noise^r — QUADRATIC in N for any FIXED r (the exact
    saturation class the 10x probes measured for fixed planes and fixed
    cells, SCALE.md findings #1/#3).  Treating each extra row as
    ``bits_per_row`` bits of discrimination (J_noise ~ 2^-5 on shingled
    text), growing ``r`` with log2(N) pins false-candidate volume per doc
    at ``target_occupancy``:

        r = ceil(log2(N / occupancy) / bits_per_row), clamped [2, 8].

    The band count then tracks the HISTORICAL similarity threshold
    t = (1/6)^(1/2) ~ 0.41 (from the original 12/2 layout) instead of
    drifting with r: b = ceil(6^(r/2)) gives t = (1/b)^(1/r) ~ 0.41 at
    every r (6, 15, 36, 89... bands), capped at ``b_cap`` so the
    signature stays <= b_cap * r min-aggregates wide (past the cap the
    effective threshold rises toward (1/64)^(1/r) — a documented
    recall-for-width tradeoff at extreme N).

    Calibration (pinned in tests/test_scaling_calibration.py): the driver
    fixtures resolve to the historical (12, 2) — documents has N=500 at
    sf0.01 and N=5000 at sf0.1, both inside the r=2 band (N <= 8192) — so
    every MinHash-family oracle hash is unchanged; the 10x probe corpus
    (N=20000) resolves to (45, 3).
    """
    if n_docs <= 0:
        r = r_floor
    else:
        need = math.ceil(
            math.log2(max(1.0, n_docs / target_occupancy)) / bits_per_row
        )
        r = max(r_floor, min(r_cap, need))
    b = min(b_cap, math.ceil(6.0 ** (r / 2.0)))
    return b * r, r


def _rows_per_band_for_width(num_hashes: int) -> int:
    """Invert ``auto_minhash_params`` widths back to their rows_per_band
    (widths are distinct across r); unknown widths fall back to the
    historical 2 so explicitly-sized signatures keep their old banding."""
    for r in range(2, 9):
        b = min(64, math.ceil(6.0 ** (r / 2.0)))
        if b * r == num_hashes:
            return r
    return 2


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_shingles(ws_tokens(F.col(text_col)), k))
        ).alias("token"),
    )


_PRIME = 2147483647  # 2^31 - 1


def minhash_coefficients(seed: int) -> tuple[int, int]:
    """``(a_s, b_s)`` of hash function #seed, drawn independently per seed
    from md5 bytes (as ``functions/vectors._deterministic_hyperplanes``
    draws its planes): ``a_s`` in [1, 2^31 - 2], ``b_s`` in [0, 2^31 - 2].

    The seeds must not be related arithmetically.  With ``(a_s, b_s)`` an
    arithmetic progression in ``s`` (e.g. ``a_s = (2s+1) * 2654435761 mod
    2^31``, ``b_s = 40503 s``), ``h_{s+1} - h_s`` is one near-constant step
    per shingle, so one shingle with a small start and a small step wins
    most of the minima: a Jaccard-0.9 near-dup then misses every band
    ~7e-4 of the time against (1 - J^2)^6 ~ 4e-5 in theory."""
    h = hashlib.md5(f"minhash:{seed}".encode()).digest()
    a = 1 + int.from_bytes(h[:8], "big") % (_PRIME - 1)
    b = int.from_bytes(h[8:], "big") % _PRIME
    return a, b


def _affine(seed: int) -> str:
    """SQL for hash function #seed over the ``base`` column (constants are
    folded at plan time; identical text works in DuckDB for the oracle)."""
    a, b = minhash_coefficients(seed)
    return f"({a} * base + {b}) % {_PRIME}"


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = None,
    shingle_k: int = 5,
) -> DataFrame:
    """Wide signature matrix: (doc_id, h0..h{k-1}).

    All k minhashes are parallel MIN-aggregates over the single md5 base
    hash — one pass, one shuffle of |docs| x k scalars.  (The explode-by-seed
    formulation shuffles |docs| x |shingles| x k rows — measured ~5x slower
    at sf0.1.)

    ``num_hashes=None`` self-scales the width from a one-scalar count job
    (``auto_minhash_params`` — resolves to the historical 12 on the driver
    fixtures, so oracle hashes are unchanged).
    """
    if num_hashes is None:
        num_hashes, _ = auto_minhash_params(df.count())
    toks = _doc_shingles(df, id_col, text_col, shingle_k)
    based = toks.withColumn(
        "base", F.conv(F.substring(F.md5(F.col("token")), 1, 7), 16, 10).cast("bigint")
    )
    return based.groupBy("doc_id").agg(
        *[F.min(F.expr(_affine(s))).alias(f"h{s}") for s in range(num_hashes)]
    )


def lsh_bands(
    signatures: DataFrame, rows_per_band: int | None = None
) -> DataFrame:
    """(doc_id, band, band_key): band key = seed-ordered concat of the band's
    minhashes, derived from the wide signature matrix with a small explode
    (num_hashes/rows_per_band rows per doc).  ``rows_per_band=None`` infers
    the banding that produced the signature width (historical widths -> 2)."""
    sig_cols = [c for c in signatures.columns if c.startswith("h")]
    if rows_per_band is None:
        rows_per_band = _rows_per_band_for_width(len(sig_cols))
    n_bands = len(sig_cols) // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.concat_ws(
                    "_", *[sig_cols[i * rows_per_band + j] for j in range(rows_per_band)]
                ).alias("band_key"),
            )
            for i in range(n_bands)
        ]
    )
    return signatures.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.band_key").alias("band_key")
    )


def candidate_pairs_from_signatures(
    signatures: DataFrame, rows_per_band: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing >=1 band, from an
    ALREADY-COMPUTED signature matrix — callers that also need the
    signatures themselves (e.g. Jaccard estimation) compute them once and
    feed both consumers instead of re-running the shingle->md5->min-agg
    pipeline."""
    bands = lsh_bands(signatures, rows_per_band)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = None,
    rows_per_band: int | None = None,
    shingle_k: int = 5,
) -> DataFrame:
    """Distinct candidate near-dup pairs (doc_a < doc_b) sharing >=1 band.

    With no overrides both banding parameters self-scale from one count job
    (``auto_minhash_params``): (12, 2) on the driver fixtures — oracle
    hashes unchanged — growing to (45, 3) at the 10x probe corpus."""
    if num_hashes is None and rows_per_band is None:
        num_hashes, rows_per_band = auto_minhash_params(df.count())
    return candidate_pairs_from_signatures(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_k), rows_per_band
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact k-gram-shingle Jaccard similarity for all pairs sharing >=1
    shingle; keeps pairs with jaccard >= threshold.

    The shingle self-join is the scalable trick: pairs that share nothing
    never meet, so the quadratic blowup is bounded by shingle collision
    rates, not |docs|^2.  Jaccard is computed on rounded doubles so the
    threshold boundary is engine-deterministic.
    """
    from pyspark.sql import Window

    # Shingle the corpus ONCE; attach each doc's shingle count via a window
    # so both self-join sides already carry their set size — no separate
    # sizes aggregation, no post-join size lookups, and the two join inputs
    # are identical subtrees (one shuffle computed, the other a
    # ReusedExchange).
    shingled = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_shingles(ws_tokens(F.col(text_col)), k))
        ).alias("shingle"),
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    a, b = shingled.alias("a"), shingled.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("intersection"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("intersection")
                / (F.col("na") + F.col("nb") - F.col("intersection")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "intersection", "jaccard")
    )


def build_minhash_store(
    existing: DataFrame,
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = None,
    rows_per_band: int | None = None,
    shingle_k: int = 5,
    num_buckets: int = 8,
) -> tuple[str, str]:
    """Persist the stored corpus's MinHash signature index — the build-once
    half of the build-once/ingest-many dedup lifecycle (the
    `similarity/pq.build_ivfpq_index` split for text).  Without it every
    incremental call would re-shingle and re-hash the whole stored corpus —
    a full corpus pass per ingest batch for a table that only changes at
    build time.

    Writes and returns two managed tables:

    - ``{prefix}_sig`` (doc_id, h0..h{n-1}): the wide signature matrix,
      bucketed AND sorted on ``doc_id`` — the verify join key, so the
      collision-verification point lookups read co-located buckets.  Band
      keys derive from the signature columns with a cheap stack (no raw
      text needed), so one table serves both the band join and the verify.
    - ``{prefix}_meta`` (param, val): num_hashes, rows_per_band, shingle_k,
      num_buckets — the FROZEN banding (ingest reloads it and never
      re-derives it from a count; re-deriving per batch would key new
      bands incompatibly with the stored band table).

    ``num_hashes``/``rows_per_band`` default to ``auto_minhash_params`` on
    the stored-corpus count — evaluated ONCE, at build time, which is the
    lifecycle the two-widths doctrine (SCALE.md #5) prescribes.
    """
    if (num_hashes is None) != (rows_per_band is None):
        raise ValueError(
            "pass BOTH num_hashes and rows_per_band or NEITHER "
            "(auto-derived from the stored corpus count at build time)"
        )
    from bigdata_rags_spark.dedup.stores import write_store_meta
    from bigdata_rags_spark.io.bucketing import drop_managed_table, write_bucketed
    from bigdata_rags_spark.io.jobs import run_overlapped

    spark = existing.sparkSession
    if num_hashes is None:
        num_hashes, rows_per_band = auto_minhash_params(existing.count())
    sig = minhash_signatures(existing, id_col, text_col, num_hashes, shingle_k)
    sig_table, meta_table = f"{table_prefix}_sig", f"{table_prefix}_meta"

    def _w_sig() -> None:
        drop_managed_table(spark, sig_table)
        write_bucketed(sig, sig_table, "doc_id", num_buckets)

    run_overlapped(
        _w_sig,
        lambda: write_store_meta(
            spark,
            meta_table,
            {
                "num_hashes": num_hashes,
                "rows_per_band": rows_per_band,
                "shingle_k": shingle_k,
                "num_buckets": num_buckets,
            },
        ),
    )
    return sig_table, meta_table


def incremental_minhash_keepers(
    batch: DataFrame,
    existing: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = None,
    rows_per_band: int | None = None,
    threshold: float = 0.5,
    store_prefix: str | None = None,
) -> DataFrame:
    """Rows of ``batch`` that survive MinHash near-dedup against the stored
    corpus and against lower-id batch members — the TEXT near-dup member of
    the incremental-ingest family (`dedup/exact.py:incremental_new_keepers`
    exact hashes, `dedup/semantic.py:incremental_semantic_keepers`
    embeddings; this one is the Gopher/RefinedWeb recurring-crawl shape).

    Drop rules (greedy-by-id, non-cascading — the family contract): a batch
    doc dies if a banded LSH collision with (a) ANY stored doc or (b) any
    lower-id batch doc verifies at signature-agreement Jaccard >= threshold
    (#equal minhashes >= ceil(threshold * num_hashes) — integer-exact).

    Banding width is a property of the STORED index (``auto_minhash_params``
    on the existing-corpus count, frozen at index build — re-deriving it per
    batch would key new bands incompatibly with the stored band table).  At
    100 TB the existing side's signatures/bands are the persisted dedup
    index: the batch is shingled+hashed once, the collision joins are
    band-keyed equi-joins, and verification touches only colliding pairs'
    signatures — the corpus text never moves.

    Docs too short to shingle (< shingle_k tokens) have no signature and
    survive by construction, matching the oracle.
    """
    import math

    shingle_k = 5  # the inline path's width; a store reloads its own
    if (existing is None) == (store_prefix is None):
        raise ValueError(
            "pass exactly one of existing (inline store derivation) or "
            "store_prefix (persisted signature index)"
        )
    if store_prefix is not None:
        # the PERSISTED store path (build_minhash_store): the stored side is
        # one bucketed-table scan — zero scans of the raw store documents —
        # and the banding AND shingle width are reloaded from the store's
        # frozen meta (caller banding literals are ignored; the
        # frozen-parameter rule): batch shingles of another width would
        # hash to signatures that never match the stored ones
        from bigdata_rags_spark.dedup.stores import read_store_meta

        spark = batch.sparkSession
        meta = read_store_meta(spark, f"{store_prefix}_meta")
        num_hashes = int(meta["num_hashes"])
        rows_per_band = int(meta["rows_per_band"])
        shingle_k = int(meta["shingle_k"])
        sig_ex = spark.table(f"{store_prefix}_sig")
    else:
        # the two parameters are a unit (the stored index's frozen banding):
        # half-specifying them would silently key batch bands incompatibly
        # with the stored band table, so it is an explicit error
        if (num_hashes is None) != (rows_per_band is None):
            raise ValueError(
                "pass BOTH num_hashes and rows_per_band (the stored index's frozen "
                "parameters) or NEITHER to auto-derive them from the stored corpus count"
            )
        if num_hashes is None:
            num_hashes, rows_per_band = auto_minhash_params(existing.count())
        # sig_ex is DERIVED (shingle explode + num_hashes mins) and feeds
        # bands + verify: materialize (r16; CLAUDE.md multi-branch rule)
        sig_ex = minhash_signatures(
            existing, id_col, text_col, num_hashes
        ).localCheckpoint()
    need_eq = math.ceil(threshold * num_hashes)

    # the batch signature frame is DERIVED and fans out — sig_b to its band
    # projection (read by the vs-index join and both sides of the
    # intra-batch join) plus the two verify joins: without materialization
    # the signature pass re-executed ~6x (measured r16: 60 parquet scans in
    # one plan; CLAUDE.md multi-branch rule).  One row per doc — small.
    sig_b = minhash_signatures(
        batch, id_col, text_col, num_hashes, shingle_k
    ).localCheckpoint()
    bands_ex = lsh_bands(sig_ex, rows_per_band)
    bands_b = lsh_bands(sig_b, rows_per_band)

    sa = sig_b.select(
        "doc_id", *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)]
    )
    sb_ex = sig_ex.select(
        F.col("doc_id").alias("other"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    sb_in = sig_b.select(
        F.col("doc_id").alias("other"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    n_eq = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(num_hashes)
    )

    def drops(cand: DataFrame, sb: DataFrame) -> DataFrame:
        return (
            cand.join(sa, "doc_id")
            .join(sb, "other")
            .filter(n_eq >= need_eq)
            .select(F.col("doc_id").alias(id_col))
            .distinct()
        )

    a, e = bands_b.alias("a"), bands_ex.alias("e")
    cand_ex = (
        a.join(
            e,
            (F.col("a.band") == F.col("e.band"))
            & (F.col("a.band_key") == F.col("e.band_key")),
        )
        .select(F.col("a.doc_id").alias("doc_id"), F.col("e.doc_id").alias("other"))
        .distinct()
    )
    hi, lo = bands_b.alias("hi"), bands_b.alias("lo")
    cand_in = (
        hi.join(
            lo,
            (F.col("hi.band") == F.col("lo.band"))
            & (F.col("hi.band_key") == F.col("lo.band_key"))
            & (F.col("lo.doc_id") < F.col("hi.doc_id")),
        )
        .select(F.col("hi.doc_id").alias("doc_id"), F.col("lo.doc_id").alias("other"))
        .distinct()
    )
    return batch.join(drops(cand_ex, sb_ex), id_col, "left_anti").join(
        drops(cand_in, sb_in), id_col, "left_anti"
    )
