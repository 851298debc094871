"""The MinHash hash family: independent per-seed coefficients.

``h_s(x) = (a_s * x + b_s) mod (2^31 - 1)`` over one 28-bit md5 base per
shingle.  When ``(a_s, b_s)`` were an arithmetic progression in ``s``, the
step ``h_{s+1}(x) - h_s(x)`` was near-constant per shingle, so one shingle
won most of the minima and near-dups missed every band ~20x more often
than theory.
"""

from __future__ import annotations

import numpy as np

from bigdata_rags_spark.dedup.minhash import lsh_bands, minhash_coefficients, minhash_signatures

P = 2147483647
N_HASHES, ROWS_PER_BAND = 12, 2


def test_coefficients_stay_in_range_and_overflow_free():
    for s in range(64):
        a, b = minhash_coefficients(s)
        assert 1 <= a <= 2**31 - 2 and 0 <= b <= P - 1
        # 28-bit base: every intermediate stays far inside int64
        assert a * (2**28 - 1) + b < 2**60


def test_successive_hashes_do_not_step_by_a_constant():
    rng = np.random.default_rng(11)
    coef = [minhash_coefficients(s) for s in range(N_HASHES)]
    for x in rng.integers(0, 1 << 28, size=100).tolist():
        h = [(a * x + b) % P for a, b in coef]
        steps = {(h[s + 1] - h[s]) % P for s in range(N_HASHES - 1)}
        # an arithmetic family gives at most 2 distinct steps per base
        assert len(steps) == N_HASHES - 1


def test_near_dup_band_misses_match_an_independent_family():
    """50k Jaccard-0.905 pairs (100 shingles, 5 replaced): theory says
    (1 - J^2)^6 ~ 3.6e-5, i.e. ~2 pairs that share no band; the arithmetic
    family missed ~30."""
    rng = np.random.default_rng(2024)
    n, m, r = 50_000, 100, 5
    left = rng.integers(0, 1 << 28, size=(n, m), dtype=np.int64)
    right = left.copy()
    right[:, :r] = rng.integers(0, 1 << 28, size=(n, r), dtype=np.int64)
    equal = np.array(
        [
            ((a * left + b) % P).min(axis=1) == ((a * right + b) % P).min(axis=1)
            for a, b in (minhash_coefficients(s) for s in range(N_HASHES))
        ]
    )
    band_hit = equal[0::ROWS_PER_BAND] & equal[1::ROWS_PER_BAND]
    assert int((~band_hit.any(axis=0)).sum()) <= 10


# A planted near-dup from the benchmark corpus at seed 1314 (doc 5466, token
# 40 of doc 1798 replaced: shingle Jaccard 0.901) that shared 3 of 12
# minhashes and no band under the arithmetic family.
_ORIGIN = (
    "t711 t795 t605 t98 t1022 t925 t377 t289 t168 t4192 t396 t615 t245 t1887 "
    "t24 t97 t800 t8 t1476 t968 t1042 t33 t286 t1091 t101 t3963 t348 t95 t115 "
    "t2927 t42 t1679 t104 t1256 t60 t104 t70 t1236 t152 t93 t17 t596 t154 t437 "
    "t4 t67 t572 t1814 t439 t32 t1541 t11092 t131 t14818 t14 t64 t2999 t267 "
    "t216 t890 t2232 t125 t545 t3256 t147 t880 t116 t224 t120 t182 t211 t271 "
    "t1892 t1961 t600 t583 t1337 t349 t1075 t308 t1335 t330 t391 t339 t393 t642 "
    "t2147 t177 t916 t52 t239 t610 t75 t103 t97 t1444 t373 t3881 t3079 t54"
)


def test_planted_near_dup_pair_becomes_a_candidate(spark):
    tokens = _ORIGIN.split(" ")
    edited = " ".join(tokens[:40] + ["edit994404"] + tokens[41:])
    docs = spark.createDataFrame([(1798, _ORIGIN), (5466, edited)], "doc_id long, text string")
    bands = lsh_bands(minhash_signatures(docs, num_hashes=N_HASHES), ROWS_PER_BAND)
    shared = bands.groupBy("band", "band_key").count().filter("count = 2").count()
    assert shared >= 1
