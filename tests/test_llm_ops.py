"""Behavioral tests for the dedup/similarity operators on corpora with
PLANTED duplicates (the sf0.01 documents table has none, so oracle parity
alone would never prove the detectors detect)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_rags_spark.dedup.exact import dup_clusters, exact_dedup
from bigdata_rags_spark.dedup.minhash import lsh_candidate_pairs, ngram_jaccard_pairs
from bigdata_rags_spark.similarity.knn import brute_force_topk, cosine_pairs_above

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the window and the birds sing in the morning light over the hills"
)
OTHER = (
    "completely different text about spark query engines and shuffle "
    "partitions with adaptive execution and broadcast join strategies"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE.replace("morning", "evening")),  # near dup of 1
        (4, OTHER),
        (5, "short text"),
        (6, "  " + BASE + "  "),  # whitespace-normalized dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id_and_normalizes(docs):
    clusters = {r["keeper_id"]: r["cluster_size"] for r in exact_dedup(docs).collect()}
    # 1, 2 and 6 (whitespace variant) collapse to keeper 1
    assert clusters[1] == 3
    assert clusters[3] == 1
    dups = dup_clusters(docs).collect()
    assert len(dups) == 1 and dups[0]["keeper_id"] == 1


def test_minhash_lsh_finds_planted_near_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup should share a band
    assert (1, 4) not in pairs  # unrelated docs must not


def test_ngram_jaccard_scores_planted_pairs(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    dim = 16

    def one_hot(i: int) -> list[float]:
        return [1.0 if j == i else 0.0 for j in range(dim)]

    # orthogonal basis vectors (pairwise cosine 0) + one near-copy of vec 1
    near = [1.0 if j == 1 else (0.05 if j == 3 else 0.0) for j in range(dim)]
    n = math.sqrt(sum(v * v for v in near))
    rows = [(i, one_hot(i)) for i in range(dim)] + [(100, [v / n for v in near])]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def test_brute_force_topk_finds_nearest(vectors):
    out = brute_force_topk(vectors.filter(F.col("vec_id") == 1), vectors, k=3).collect()
    assert [r["neighbor_id"] for r in out][0] == 100  # the bumped copy of vec 1
    assert out[0]["similarity"] > 0.99
    assert len(out) == 3 and [r["rank"] for r in out] == [1, 2, 3]


def test_cosine_pairs_above_threshold(vectors):
    pairs = {(r["id_a"], r["id_b"]) for r in cosine_pairs_above(vectors, threshold=0.99).collect()}
    assert pairs == {(1, 100)}


def test_cosine_pairs_mm_matches_expr_path_across_block_sizes(vectors):
    # the distributed block-pair matmul must agree with the expression path
    # exactly (same 6-dp rounding), including when the corpus is split into
    # many blocks (block_rows=5 -> every (i<=j) block pair exercised: the
    # diagonal dedup branch AND the cross-block least/greatest canonicalization)
    from bigdata_rags_spark.similarity.knn import cosine_pairs_above_mm

    expr = sorted(map(tuple, cosine_pairs_above(vectors, threshold=0.99).collect()))
    for block_rows in (4096, 5):
        mm = sorted(
            map(tuple, cosine_pairs_above_mm(vectors, threshold=0.99, block_rows=block_rows).collect())
        )
        assert mm == expr, block_rows


def test_cosine_pairs_blocked_matches_expr_path_across_block_sizes(vectors):
    # the block-pair EQUI-join decomposition (the registered
    # embedding_near_dup_pairs plan since r3) must agree with the expression
    # path bit-exactly at every block count: block_rows=5 exercises the
    # same-block ia<ib dedup AND the cross-block arbitrary-orientation path,
    # where the norm-division order is canonicalized to lower-id-first to
    # stay bit-identical to the oracle
    from bigdata_rags_spark.similarity.knn import cosine_pairs_above_blocked

    expr = sorted(map(tuple, cosine_pairs_above(vectors, threshold=0.99).collect()))
    for block_rows in (4096, 5, 2):
        blocked = sorted(
            map(
                tuple,
                cosine_pairs_above_blocked(
                    vectors, threshold=0.99, block_rows=block_rows
                ).collect(),
            )
        )
        assert blocked == expr, block_rows


def test_pass_at_k_matches_closed_form(spark):
    """Exact vs the combinatorial definition on hand-picked (n, c):
    pass@k = 1 - C(n-c,k)/C(n,k), with the clamp (n-c < k -> exactly 1)
    and the n >= k drop both exercised."""
    from math import comb

    from bigdata_rags_spark.functions.evals import pass_at_k

    # task 7: n=1000 — the ADVICE r12 overflow regime (the old bigint
    # k=5 product exceeded 2^63 past n ~ 390; DECIMAL(38,0)/HUGEINT
    # intermediates must stay exact)
    cases = [(1, 10, 3), (2, 8, 0), (3, 6, 6), (4, 13, 2), (5, 5, 1), (6, 4, 2), (7, 1000, 3)]
    rows = [
        (t, 1 if i < c else 0) for t, n, c in cases for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["task_id", "correct"])
    out = {r["task_id"]: r for r in pass_at_k(df, ks=(1, 5)).collect()}
    assert 6 not in out  # n=4 < max(k)=5 dropped
    for t, n, c in cases:
        if n < 5:
            continue
        for k, col in ((1, "pass1_micro"), (5, "pass5_micro")):
            expected = 1_000_000 - comb(n - c, k) * 1_000_000 // comb(n, k) \
                if n - c >= k else 1_000_000
            assert out[t][col] == expected, (t, k)
    assert out[3]["pass5_micro"] == 1_000_000 and out[3]["pass1_micro"] == 1_000_000
    assert out[2]["pass1_micro"] == 0  # zero correct


def test_poisson_bootstrap_ci_exact_python_replay(spark):
    """The whole interval must equal a from-scratch python replay of the
    md5 draws, Poisson inverse-CDF thresholds, replicate means, and rank
    picks — and be invariant to input partitioning."""
    import hashlib

    from bigdata_rags_spark.functions.evals import (
        POISSON1_THRESHOLDS,
        poisson_bootstrap_ci,
    )

    tasks = [(i, (i * 37) % 1_000_001) for i in range(40)]
    df = spark.createDataFrame(tasks, ["task_id", "score"])
    B, lo, hi = 50, 2, 49

    from bigdata_rags_spark.functions.evals import poisson_u31_python

    def weight(b, tid):
        h = int(hashlib.md5(f"bs:{tid}".encode()).hexdigest()[:8], 16) % 2**31
        u = poisson_u31_python(h, b)
        for k, t in enumerate(POISSON1_THRESHOLDS):
            if u < t:
                return k
        return 7

    means = []
    for b in range(1, B + 1):
        ws = sum(weight(b, t) * v for t, v in tasks)
        wn = sum(weight(b, t) for t, v in tasks)
        if wn > 0:
            means.append(ws // wn)
    means.sort()
    expected = {
        "n_tasks": 40,
        "n_replicates": B,
        "point_micro": sum(v for _, v in tasks) // 40,
        "ci_lo_micro": means[lo - 1],
        "ci_hi_micro": means[hi - 1],
    }
    for n_parts in (1, 7):
        row = poisson_bootstrap_ci(
            df.repartition(n_parts), "score", n_replicates=B, lo_rank=lo, hi_rank=hi
        ).collect()[0]
        assert row.asDict() == expected, n_parts
    assert expected["ci_lo_micro"] <= expected["point_micro"] <= expected["ci_hi_micro"]


def test_majority_vote_tie_rule_and_agreement(spark):
    from bigdata_rags_spark.functions.evals import majority_vote

    rows = (
        [(1, 7)] * 3 + [(1, 2)] * 2            # clear winner 7
        + [(2, 5)] * 2 + [(2, 3)] * 2 + [(2, 9)]  # tie 5 vs 3 -> lowest (3)
        + [(3, 4)]                               # singleton
    )
    df = spark.createDataFrame(rows, ["task_id", "answer"])
    out = {r["task_id"]: r for r in majority_vote(df).collect()}
    assert out[1]["vote"] == 7 and out[1]["votes"] == 3
    assert out[1]["agreement_micro"] == 3 * 1_000_000 // 5
    assert out[2]["vote"] == 3 and out[2]["votes"] == 2
    assert out[2]["n_distinct_answers"] == 3
    assert out[3]["vote"] == 4 and out[3]["agreement_micro"] == 1_000_000


def test_html_extract_text_rules(spark):
    """Each extraction rule on adversarial snippets: script/style subtree
    drop (including '<' inside script bodies), comment removal, tag strip,
    entity decode order (&amp; last so double-escaped stays literal),
    whitespace collapse."""
    from bigdata_rags_spark.functions.text import html_extract_text

    rows = [
        (1, "<p>hello   <b>world</b></p>"),
        (2, "<script>if (a < b) { alert('x') }</script>visible"),
        (3, "<style>p { color: red }</style>text<!-- hidden -->here"),
        (4, "fish &amp; chips &lt;tag&gt; &quot;q&quot; &#39;s&#39;"),
        (5, "double &amp;lt; stays literal"),
        (6, "<div class='a'\n data-x='1'>multi\nline</div>"),
    ]
    df = spark.createDataFrame(rows, ["i", "html"])
    out = {
        r["i"]: r["t"]
        for r in df.select("i", html_extract_text(F.col("html")).alias("t")).collect()
    }
    assert out[1] == "hello world"
    assert out[2] == "visible"
    assert out[3] == "text here"
    assert out[4] == "fish & chips <tag> \"q\" 's'"
    assert out[5] == "double &lt; stays literal"
    assert out[6] == "multi line"


def test_compression_ratio_exact_replay_and_ordering(spark):
    """Spark output must equal a direct python zlib replay bit-for-bit
    (the rows-only query's correctness anchor), and the signal must order
    looped text below natural prose."""
    import zlib

    from bigdata_rags_spark.quality import compression_ratio_scores

    texts = {
        1: "the quick brown fox jumps over the lazy dog and rivers wind slowly",
        2: "spam " * 200,
        3: "",
        4: "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    out = {r["doc_id"]: r for r in compression_ratio_scores(docs).collect()}
    for d, t in texts.items():
        raw = t.encode("utf-8")
        comp = zlib.compress(raw, 6)
        assert out[d]["raw_bytes"] == len(raw)
        assert out[d]["compressed_bytes"] == len(comp)
        assert out[d]["ratio_micro"] == len(comp) * 1_000_000 // max(len(raw), 1)
    assert out[2]["ratio_micro"] < out[1]["ratio_micro"]   # loop compresses away
    assert out[4]["ratio_micro"] < out[1]["ratio_micro"]
    assert out[1]["keep"] == 1 and out[2]["keep"] == 0
    rep = {
        r["doc_id"]: tuple(r)
        for r in compression_ratio_scores(docs.repartition(5)).collect()
    }
    assert rep == {k: tuple(v) for k, v in out.items()}


def test_bitext_margin_mining_demotes_hub_vector(spark):
    """The margin criterion's reason to exist: a HUB target close to every
    anchor wins raw-cosine top-1 everywhere, but its own dense
    neighborhood divides its margin down — the true translation (near-copy
    of one anchor, far from the others) outranks it for its anchor, and
    anchors whose best candidate is only the hub fall below the margin
    threshold."""
    import math

    from bigdata_rags_spark.similarity.bitext import margin_mining

    dim = 8

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    # anchors: 4 near-orthogonal directions
    src_rows = [(i, unit([1.0 if j == i else 0.01 for j in range(dim)])) for i in range(4)]
    # hub: equal similarity to every anchor; translation: near-copy of anchor 0
    hub = unit([1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0])
    trans = unit([1.0 if j == 0 else (0.05 if j == 7 else 0.01) for j in range(dim)])
    other = unit([0.0] * 7 + [1.0])
    tgt_rows = [(100, hub), (101, trans), (102, other)]
    src = spark.createDataFrame(src_rows, "vec_id long, embedding array<double>")
    tgt = spark.createDataFrame(tgt_rows, "vec_id long, embedding array<double>")
    out = {r["src_id"]: r for r in margin_mining(src, tgt, k=2, margin_threshold_milli=1000).collect()}
    # anchor 0's best-by-margin is the translation, NOT the hub (raw cosine
    # alone cannot guarantee this: cos(a0, hub) ~ 0.5 vs cos(a0, trans) ~ 1)
    assert out[0]["tgt_id"] == 101
    # anchors 1-3 have no true translation: their candidates are hub-like
    # (margin ~ 1000) — none may beat anchor 0's translation margin
    for i in (1, 2, 3):
        if i in out:
            assert out[i]["margin_milli"] < out[0]["margin_milli"]


def test_repetition_quality_gates_planted_docs(spark):
    from bigdata_rags_spark.quality import repetition_quality

    diverse = " ".join(f"w{i}" for i in range(60))          # 60 distinct words
    loop = " ".join(["spam"] * 60)                          # one word repeated
    bigram_loop = " ".join(["tic", "toc"] * 30)             # one bigram repeated
    short = "too few words here"
    docs = spark.createDataFrame(
        [(1, diverse), (2, loop), (3, bigram_loop), (4, short)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in repetition_quality(docs).collect()}
    assert out[1]["keep_flag"] == 1
    assert out[2]["keep_flag"] == 0 and out[2]["top_unigram_frac"] == 1.0
    assert out[3]["keep_flag"] == 0 and out[3]["top_bigram_frac"] > 0.4
    assert out[4]["keep_flag"] == 0 and out[4]["n_words"] == 4
    # feature sanity on the diverse doc
    assert out[1]["distinct_ratio"] == 1.0 and out[1]["top_unigram_frac"] < 0.05


def test_int8_quantization_bounds(spark, sf_oracle):
    from bigdata_rags_spark.queries.llm_ops import embedding_int8_quantization

    out = embedding_int8_quantization(spark, sf_oracle).collect()
    assert len(out) == 500
    for r in out[:50]:
        codes = [int(c) for c in r["codes_csv"].split(",")]
        assert len(codes) == 64
        assert all(-127 <= c <= 127 for c in codes)          # absmax never clips past 127
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-9     # rounding error bound
        assert r["cos_recon"] > 0.999


def test_random_projection_preserves_distance_ordering(spark, sf_oracle):
    import math

    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.projection import (
        project_embeddings,
        projection_planes,
    )

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"].filter(
        F.col("vec_id") < 40
    )
    planes = projection_planes(64, 16, seed="rproj")
    orig = {r["vec_id"]: list(r["embedding"]) for r in e.collect()}
    proj_rows = project_embeddings(e, planes).collect()
    proj = {r["vec_id"]: [r[f"p{j:02d}"] for j in range(16)] for r in proj_rows}

    def d(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ids = sorted(orig)
    pairs = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)] + [
        (ids[i], ids[i + 20]) for i in range(19)
    ]
    od = [d(orig[a], orig[b]) for a, b in pairs]
    pd_ = [d(proj[a], proj[b]) for a, b in pairs]
    # The fixture's near-random vectors have CONCENTRATED pairwise distances
    # (all pairs nearly equidistant), so rank-order checks are noise by
    # construction; the JL guarantee that IS testable is bounded distortion:
    # projected/original distance ratios cluster around one global constant.
    ratios = sorted(p / o for p, o in zip(pd_, od))
    med = ratios[len(ratios) // 2]
    assert med > 0, med
    assert ratios[0] > 0.4 * med and ratios[-1] < 1.9 * med, (ratios[0], med, ratios[-1])
    # deterministic: same planes on a second call
    assert planes == projection_planes(64, 16, seed="rproj")


def test_approx_percentile_accuracy(spark, sf_oracle):
    """The quantile sketch must land within 2% relative error of the exact
    per-group percentiles (GK sketch at accuracy=1000 is far tighter; 2%
    is the hard bound we pin)."""
    from bigdata_rags_spark.queries.extensions import approx_percentile_prices

    approx = {r["o_orderpriority"]: r for r in approx_percentile_prices(spark, sf_oracle).collect()}
    from bigdata_rags_spark.io.readers import read_testdata

    exact_df = (
        read_testdata(spark, sf_oracle, "orders")["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
        )
    )
    exact = {r["o_orderpriority"]: r for r in exact_df.collect()}
    assert set(approx) == set(exact) and len(exact) == 5
    for k in exact:
        assert abs(approx[k]["p50_approx"] - exact[k]["p50"]) / exact[k]["p50"] < 0.02
        assert abs(approx[k]["p95_approx"] - exact[k]["p95"]) / exact[k]["p95"] < 0.02


def test_repetition_quality_flags_single_token_docs(spark):
    """ADVICE r2 (pinned per VERDICT r4 #4): a one-token doc has no bigrams
    but must still get a row with keep_flag=0 — the bigram stats left-join
    as 0 instead of inner-joining the doc away.  Zero-token docs drop out
    (no grams at all), mirroring the oracle's unnest([]) semantics."""
    from bigdata_rags_spark.quality import repetition_quality

    docs = spark.createDataFrame(
        [(1, "solitary"), (2, ""), (3, "a normal document " * 20)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in repetition_quality(docs).collect()}
    for doc_id in (1, 2):  # ws split yields one (possibly empty) token
        assert doc_id in out, "pathological doc must not vanish from the quality gate"
        assert out[doc_id]["keep_flag"] == 0 and out[doc_id]["n_words"] == 1
        assert out[doc_id]["top_bigram_frac"] == 0.0
    assert out[3]["keep_flag"] == 0  # 20x-repeated trigram trips the gates


def test_dup_bigram_fraction_planted(spark, tmp_path):
    """Planted docs pin the duplicate-bigram math: a fully-repetitive doc
    scores 1.0, a no-repeat doc 0.0, a one-token doc keeps a zeroed row."""
    import bigdata_rags_spark.queries.llm_ops as llm

    docs = spark.createDataFrame(
        [
            (1, "spam ham " * 10),        # every bigram repeated
            (2, "a b c d e f g"),          # all bigrams unique
            (3, "solo"),                   # no bigrams at all
        ],
        ["doc_id", "text"],
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["doc_id"]: r.asDict()
        for r in llm.dup_bigram_fraction_docs(spark, str(tmp_path)).collect()
    }
    assert out[1]["dup_frac"] == 1.0 and out[1]["n_bigrams"] == 19
    assert out[2]["dup_frac"] == 0.0 and out[2]["n_dup_instances"] == 0
    assert out[3] == {"doc_id": 3, "n_bigrams": 0, "n_dup_instances": 0, "dup_frac": 0.0}


def test_incremental_dedup_drops_both_paths(spark):
    """incremental_new_keepers must drop (a) batch rows whose hash exists in
    the historical corpus and (b) intra-batch duplicate rows beyond the min
    id — and keep everything else."""
    from bigdata_rags_spark.dedup.exact import incremental_new_keepers

    existing = spark.createDataFrame(
        [(100, "history one"), (101, "history two")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (1, "fresh alpha"),
            (2, "history one"),      # dies: known to the corpus
            (3, "fresh beta"),
            (4, "fresh beta"),       # dies: intra-batch dup of 3
            (5, "  History ONE  "),  # dies: normalized match of corpus
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r["doc_id"] for r in incremental_new_keepers(batch, existing).collect()
    )
    assert kept == [1, 3]


def test_lsh_and_ivf_projections_have_numeric_margin(spark, sf_oracle):
    """ADVICE r5: the LSH/IVF oracles assume DuckDB's list_dot_product folds
    left-to-right like Spark's aggregate().  Guard the assumption where it
    could actually bite: every fixture projection onto every LSH plane must
    sit well away from 0 (sign = bucket bit), and every vector's IVF cell
    ranking must have a non-ulp gap around the probe cutoffs (ranking =
    probe set) — then any float64-faithful summation order agrees."""
    import numpy as np

    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.functions.vectors import _deterministic_hyperplanes
    from bigdata_rags_spark.similarity.ivf import fixed_centroids

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    mat = np.array([list(r["embedding"]) for r in e.collect()], dtype=np.float64)

    planes = []
    for t in range(4):
        planes.extend(_deterministic_hyperplanes(64, 8, seed=f"lsh{t}" if t else "lsh"))
    proj = mat @ np.array(planes, dtype=np.float64).T
    # |proj| ~ O(1); 1e-9 is ~1e7 ulps at this magnitude — far beyond any
    # reordering error of a 64-term sum
    assert np.abs(proj).min() > 1e-9, np.abs(proj).min()

    cents = np.array(fixed_centroids(64, 16), dtype=np.float64)
    sims = np.sort(mat @ cents.T, axis=1)
    gaps = np.diff(sims, axis=1)
    assert gaps.min() > 1e-9, gaps.min()


def test_prefix_dup_clusters_catches_divergent_suffixes(spark):
    """prefix_dup_clusters must cluster docs sharing their first k tokens
    even when the suffixes differ (invisible to whole-doc exact dedup), and
    must NOT cluster docs differing inside the prefix."""
    from bigdata_rags_spark.dedup.exact import dup_clusters, prefix_dup_clusters

    head = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{head} tail one two"),
            (2, f"{head} completely different continuation"),
            (3, f"{head}"),  # exactly the prefix, no suffix
            (4, "alpha beta gamma delta epsilon zeta eta OTHER and more"),
            (5, "short doc"),
            (6, "short doc"),  # exact dup of 5 (prefix = whole text)
        ],
        ["doc_id", "text"],
    )
    out = {r["keeper_id"]: r["cluster_size"] for r in prefix_dup_clusters(docs, k=8).collect()}
    assert out == {1: 3, 5: 2}, out
    # whole-doc exact dedup misses the suffix-divergent cluster
    exact = {r["keeper_id"] for r in dup_clusters(docs).collect()}
    assert exact == {5}


def test_bigram_lm_matches_python_reference(spark):
    """bigram_lm_doc_scores == a direct python MLE recomputation on a small
    corpus, including the deterministic-transition (p=1, nll=0) and
    branching-prefix cases."""
    import math
    import tempfile
    from collections import Counter

    import bigdata_rags_spark.queries.llm_ops as llm

    texts = {
        1: "a b a b a b",       # repeated transition
        2: "a c a d a b",       # 'a' branches into c/d/b
        3: "x y",               # single deterministic bigram
        4: "solo",              # <2 tokens: no bigram rows
    }
    rows = [(i, t) for i, t in texts.items()]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
            f"{d}/documents.parquet"
        )
        got = {
            r["doc_id"]: r.asDict()
            for r in llm.bigram_lm_doc_scores(spark, d).collect()
        }

    bigrams = {
        i: [f"{a} {b}" for a, b in zip(t.split(), t.split()[1:])]
        for i, t in texts.items()
    }
    c2 = Counter(b for bs in bigrams.values() for b in bs)
    cp = Counter()
    for b, c in c2.items():
        cp[b.split()[0]] += c
    for i, bs in bigrams.items():
        if not bs:
            assert i not in got
            continue
        want = round(sum(-math.log(c2[b] / cp[b.split()[0]]) for b in bs) / len(bs), 6)
        assert got[i]["n_bigrams"] == len(bs)
        assert abs(got[i]["bigram_cross_entropy"] - want) < 1e-9, (i, got[i], want)
    assert got[3]["bigram_cross_entropy"] == 0.0  # deterministic transition
    assert got[2]["bigram_cross_entropy"] > got[1]["bigram_cross_entropy"]


def test_deterministic_sketch_siblings_accuracy(spark, sf_oracle):
    """The oracle-checkable sketch siblings must actually estimate: binned
    quantiles within one bin width of the exact quantile, LogLog within a
    loose multiple of its m=64 theoretical error, and both invariant to
    input partitioning (the merge-associativity property that makes them
    the 100 TB patterns)."""
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.queries.catalog import REGISTRY

    o = read_testdata(spark, sf_oracle, "orders")["orders"]
    rows = {r["o_orderpriority"]: r for r in
            REGISTRY["histogram_quantile_prices"].spark(spark, sf_oracle).collect()}
    import numpy as np

    prices = {}
    for r in o.select("o_orderpriority", "o_totalprice").collect():
        prices.setdefault(r["o_orderpriority"], []).append(r["o_totalprice"])
    for pr, r in rows.items():
        xs = np.sort(np.array(prices[pr]))
        for q, col in ((0.5, "p50_lo"), (0.9, "p90_lo"), (0.99, "p99_lo")):
            exact = xs[int(np.ceil(q * len(xs))) - 1]
            assert r[col] <= exact < r[col] + 600, (pr, col, r[col], exact)

    ll = REGISTRY["loglog_distinct_customers"].spark(spark, sf_oracle).collect()[0]
    assert ll["rel_error"] < 0.5  # ~3 sigma of 1.3/sqrt(64)
    assert ll["n_exact"] == o.select("o_custkey").distinct().count()

    # partitioning invariance: the same fixture rewritten as a single
    # parquet file (1 scan partition, different shuffle layout upstream of
    # every aggregation) must produce the byte-identical reports
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        o.coalesce(1).write.parquet(f"{d}/orders.parquet")
        assert REGISTRY["loglog_distinct_customers"].spark(spark, d).collect() == [ll]
        assert sorted(
            map(tuple, REGISTRY["histogram_quantile_prices"].spark(spark, d).collect())
        ) == sorted(map(tuple, (r for pr, r in rows.items())))


def test_corpus_training_selection_per_gate_drops(spark):
    """Every gate of the capstone selection must drop its planted doc:
    duplicate text (non-keeper), too short, too long, >20% duplicate
    bigrams, benchmark contamination, and the probe set itself."""
    import tempfile

    import bigdata_rags_spark.queries.llm_ops as llm

    good = " ".join(f"w{i}" for i in range(40))
    probe = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # doc_id < 5: benchmark probe set (always excluded)
        (0, probe), (1, "p q r s t u v w x y z aa bb cc"),
        (2, "unused probe two three four five six seven eight nine ten"),
        (3, "m n o p q r s t u v w"), (4, "j k l m n o p q r s t"),
        (10, good),                                # survives
        (11, good),                                # exact dup of 10: dropped
        (12, "too short doc"),                      # < 10 tokens: dropped
        (13, " ".join(f"t{i}" for i in range(1200))),  # > 1000: dropped
        (14, "dup dup " * 30 + "ending filler one"),   # >20% dup bigrams
        (15, f"{probe} plus some extra unique tail content here"),  # contaminated
        (16, " ".join(f"u{i}" for i in range(25))),    # survives
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, ["doc_id", "text"]).select(
            "doc_id", "text",
            F.lit("en").alias("lang"), F.lit("test").alias("source"),
            F.length("text").alias("n_chars"),
        ).write.parquet(f"{d}/documents.parquet")
        got = {r["doc_id"] for r in
               llm.corpus_training_selection(spark, d).collect()}
    assert got == {10, 16}, got


def test_minhash_estimates_track_true_jaccard(spark, sf_oracle):
    """The signature-match estimator must be a real estimate: mean absolute
    deviation from the exact Jaccard bounded by the k=12 binomial error
    (std ~ sqrt(J(1-J)/12) <= 0.145), and exact-duplicate pairs (J=1) must
    estimate exactly 1000 milli (all signatures equal)."""
    from bigdata_rags_spark.queries.catalog import REGISTRY

    rows = REGISTRY["minhash_jaccard_estimates"].spark(spark, sf_oracle).collect()
    assert rows
    devs = [abs(r["est_milli"] - r["true_milli"]) / 1000 for r in rows]
    assert sum(devs) / len(devs) < 0.2, sum(devs) / len(devs)
    for r in rows:
        if r["true_milli"] == 1000:
            assert r["est_milli"] == 1000, r
        assert 0 <= r["est_milli"] <= 1000 and r["n_inter"] <= r["n_union"]


def test_correlation_matches_numpy(spark, sf_oracle):
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.queries.catalog import REGISTRY

    import numpy as np

    got = {r["l_returnflag"]: r for r in
           REGISTRY["correlation_price_quantity"].spark(spark, sf_oracle).collect()}
    li = read_testdata(spark, sf_oracle, "lineitem")["lineitem"]
    import math

    def half_up(v: float) -> int:
        # mirror Spark/DuckDB ROUND (half away from zero), not python's
        # banker's rounding — .50 price boundaries are common in TPC-H data
        return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))

    data = {}
    for r in li.select("l_returnflag", "l_quantity", "l_extendedprice").collect():
        data.setdefault(r["l_returnflag"], []).append(
            (half_up(r["l_quantity"]), half_up(r["l_extendedprice"]))
        )
    # the exact-integer moment formula and numpy's mean-centered one differ
    # by float cancellation in the moment differences (~5 digits at these
    # magnitudes) — 1e-4 relative pins the STATISTIC; bit-exactness across
    # engines is what the oracle parity check pins
    for flag, xs in data.items():
        a = np.array(xs, dtype=np.float64)
        want = np.corrcoef(a[:, 0], a[:, 1])[0, 1]
        assert abs(got[flag]["correlation"] - want) < 1e-4, flag
        want_cov = ((a[:, 0] - a[:, 0].mean()) * (a[:, 1] - a[:, 1].mean())).mean()
        assert abs(got[flag]["covariance"] - want_cov) / max(abs(want_cov), 1) < 1e-4


def test_boilerplate_ngram_coverage_planted(spark, tmp_path):
    """Planted corpus: docs A/B share exactly one of their two 3-grams
    ("a b c"), doc C shares nothing -> coverage 500/500/0 milli."""
    from bigdata_rags_spark.queries.catalog import REGISTRY

    rows = [
        (1, "a b c d", "en", "s", 7),
        (2, "a b c x", "en", "s", 7),
        (3, "q w e r t", "en", "s", 9),
        (4, "too short", "en", "s", 9),  # < 3 tokens: no 3-grams, must drop
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_shared"], r["boilerplate_milli"])
        for r in REGISTRY["doc_boilerplate_ngram_coverage"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert got == {1: (2, 1, 500), 2: (2, 1, 500), 3: (3, 0, 0)}, got


def test_cms_heavy_hitters_never_undercounts(spark, sf_smoke):
    """CMS soundness: the min-over-rows estimate can only overcount; the
    top-20 selection must match an independent exact count."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.streaming.events import read_events_batch

    rows = REGISTRY["events_heavy_hitters_cms"].spark(spark, sf_smoke).collect()
    assert 0 < len(rows) <= 20
    assert all(r["overcount"] >= 0 for r in rows)
    assert all(r["cms_est"] == r["exact_cnt"] + r["overcount"] for r in rows)
    exact = {
        r["user_id"]: r["cnt"]
        for r in read_events_batch(spark, sf_smoke)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in rows:
        assert exact[r["user_id"]] == r["exact_cnt"]


def test_ngram_containment_detects_planted_subset_doc(spark, tmp_path):
    """A doc whose text is a strict prefix of another must surface with
    containment 1000 milli in the short->long direction (and < 1000 the
    other way) — the asymmetry symmetric Jaccard cannot express."""
    from bigdata_rags_spark.queries.catalog import REGISTRY

    base = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10", "en", "s", 0),
        (3, " ".join(f"z{i}" for i in range(30)), "en", "s", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["doc_a"], r["doc_b"]): (r["cont_a_milli"], r["cont_b_milli"])
        for r in REGISTRY["ngram_containment_pairs"].spark(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in got, got
    ca, cb = got[(1, 2)]
    assert ca == 1000 and cb < 1000, got


def test_source_pair_overlap_kmv_planted_and_accuracy(spark, sf_smoke):
    """Planted mirror source overlaps every original source; all-original
    pairs are exactly disjoint; the KMV estimate tracks the exact Jaccard
    on the overlapping pairs."""
    from bigdata_rags_spark.queries.catalog import REGISTRY

    rows = REGISTRY["source_pair_overlap_kmv"].spark(spark, sf_smoke).collect()
    assert rows
    mirror = [r for r in rows if "mirror" in (r["source_a"], r["source_b"])]
    others = [r for r in rows if "mirror" not in (r["source_a"], r["source_b"])]
    assert mirror and others
    assert all(r["exact_common"] == 0 for r in others)
    assert all(r["kmv_matches"] == 0 for r in others)  # estimator can't invent overlap
    overlapping = [r for r in mirror if r["exact_common"] > 0]
    assert overlapping, "mirror source must actually overlap"
    for r in overlapping:
        assert r["k_used"] > 0 and 0 <= r["kmv_matches"] <= r["k_used"]
    # aggregate accuracy: mean estimated J within 0.25 of mean true J
    est = sum(r["kmv_matches"] / r["k_used"] for r in overlapping) / len(overlapping)
    true = sum(r["exact_common"] / r["exact_union"] for r in overlapping) / len(overlapping)
    assert abs(est - true) < 0.25, (est, true)


def test_kmv_signature_merge_identity(spark):
    """min-k(A ∪ B) computed from the two k-signatures equals min-k over the
    raw union — the mergeability the pair estimator relies on."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.dedup.kmv import kmv_signatures

    rows = [("a", (i * 131) % 10007) for i in range(300)] + [
        ("b", (i * 257) % 10007) for i in range(300)
    ]
    dist = spark.createDataFrame(rows, "src string, h long").distinct()
    k = 8
    sigs = kmv_signatures(dist, k)
    merged = {
        r["h"]
        for r in kmv_signatures(
            sigs.select(F.lit("u").alias("src"), "h").distinct(), k
        ).collect()
    }
    direct = {
        r["h"]
        for r in kmv_signatures(
            dist.select(F.lit("u").alias("src"), "h").distinct(), k
        ).collect()
    }
    assert merged == direct and len(direct) == k


def test_bloom_prefilter_never_false_negative(spark, sf_smoke):
    """Contract: every true dup is bloom-positive; the filter actually
    prunes (some novel docs are bloom-negative); planted dups exist."""
    from bigdata_rags_spark.queries.catalog import REGISTRY

    rows = REGISTRY["bloom_prefilter_incremental_dedup"].spark(spark, sf_smoke).collect()
    assert rows
    dups = [r for r in rows if r["is_true_dup"] == 1]
    assert dups, "planted re-keyed copies must be true dups"
    assert all(r["bloom_maybe"] == 1 for r in dups), "false negative!"
    assert any(r["bloom_maybe"] == 0 for r in rows), "filter pruned nothing"


def test_bloom_words_merge_across_builds(spark):
    """Filter built over A ∪ B equals BIT_OR-merge of the filters built
    over A and B separately — the property that lets per-source/per-batch
    filters combine without a rebuild."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.dedup.bloom import bloom_build

    a = spark.createDataFrame([(f"k{i}",) for i in range(50)], "ch string")
    b = spark.createDataFrame([(f"k{i}",) for i in range(30, 90)], "ch string")
    merged = {
        (r["w"], r["mask"])
        for r in bloom_build(a, "ch")
        .unionByName(bloom_build(b, "ch"))
        .groupBy("w")
        .agg(F.expr("bit_or(mask)").alias("mask"))
        .collect()
    }
    direct = {
        (r["w"], r["mask"])
        for r in bloom_build(a.unionByName(b), "ch").collect()
    }
    assert merged == direct and len(direct) > 0


def test_pq_rerank_recall_on_real_embeddings(spark, sf_oracle):
    # The fixture embeddings are near-random, best-neighbor cosine ~0.5
    # (ANN's adversarial case), and the PQ codebooks are
    # untrained md5 literals, so raw ADC ranking is lossy by construction.
    # The production path (ADC shortlist=100 of 1000 -> exact rerank)
    # measured 0.80 recall@5; assert >= 0.6.
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.pq import pq_search_rerank

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    q = e.filter(F.col("vec_id") < 20)
    truth: dict[int, set[int]] = {}
    for r in brute_force_topk(q, e, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set[int]] = {}
    for r in pq_search_rerank(q, e, k=5, shortlist=100).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(len(truth[i] & got.get(i, set())) for i in truth) / (5 * len(truth))
    assert recall >= 0.6, recall


def test_pq_encode_in_range_and_partition_independent(spark, sf_oracle):
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.pq import K_CODES, M_SUB, pq_codebooks, pq_encode

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    books = pq_codebooks()
    codes = {(r["id"], r["m"]): r["code"] for r in pq_encode(e, books).collect()}
    n = e.count()
    assert len(codes) == n * M_SUB  # exactly one code per (vector, subspace)
    assert all(0 <= c < K_CODES for c in codes.values())
    again = {
        (r["id"], r["m"]): r["code"]
        for r in pq_encode(e.repartition(13, "label"), books).collect()
    }
    assert again == codes


def test_lsh_tuning_planner_monotone_and_consistent(spark, sf_oracle):
    """More planes -> more buckets, smaller worst bucket, fewer candidate
    pairs; the prefix-nesting makes configs strictly comparable on one
    signature pass.  Candidate counts must also match a direct per-config
    recount."""
    from bigdata_rags_spark.queries.catalog import REGISTRY

    rows = {r["n_planes"]: r for r in
            REGISTRY["lsh_tuning_planner"].spark(spark, sf_oracle).collect()}
    assert sorted(rows) == [6, 8, 10, 12]
    for lo, hi in [(6, 8), (8, 10), (10, 12)]:
        assert rows[lo]["n_buckets_used"] <= rows[hi]["n_buckets_used"]
        assert rows[lo]["max_bucket"] >= rows[hi]["max_bucket"]
        assert rows[lo]["candidate_pairs"] >= rows[hi]["candidate_pairs"]
    n = 500  # sf0.01 embeddings
    # sanity: 6 planes on 500 vectors is saturated (candidates near all-pairs
    # scale), 12 planes is sparse
    assert rows[12]["candidate_pairs"] < rows[6]["candidate_pairs"]
    assert rows[6]["candidate_pairs"] < n * (n - 1) // 2


def test_near_dup_candidate_eval_counts(spark, sf_oracle):
    """The eval row's counts must be internally consistent and the LSH
    recall on true Jaccard>=0.5 pairs must be high (exact dups always
    collide; the 6x2 banding catches >=0.5 with high probability)."""
    from bigdata_rags_spark.queries.catalog import REGISTRY

    r = REGISTRY["near_dup_candidate_eval"].spark(spark, sf_oracle).collect()[0]
    assert r["n_truth"] > 0 and r["n_candidates"] > 0
    assert r["tp"] + r["fn"] == r["n_truth"]
    assert r["tp"] + r["fp"] == r["n_candidates"]
    assert 0 <= r["recall_micro"] <= 1_000_000
    assert r["recall_micro"] >= 800_000, r


def test_auto_n_planes_calibration():
    """The self-scaling LSH signature width (VERDICT r7 #2) must reproduce
    both prior calibration points: 8 planes on the driver fixtures (the
    width every oracle SQL pins) and 12 at the 10x probe corpus (what the
    r7 probe hand-tuned as 8 + ceil(log2(10)))."""
    from bigdata_rags_spark.similarity.knn import auto_n_planes

    assert auto_n_planes(500) == 8      # sf0.01 embeddings
    assert auto_n_planes(2000) == 8     # sf0.1 embeddings
    assert auto_n_planes(2048) == 8     # last 8-plane corpus size
    assert auto_n_planes(2049) == 9
    assert auto_n_planes(20_000) == 12  # r7 probe corpus
    assert auto_n_planes(10**9) == 24   # capped probe fan-out
    assert auto_n_planes(0) == 8        # degenerate input -> floor
    prev = 0
    for n in (1, 10, 100, 1000, 5000, 10_000, 10**5, 10**6, 10**8):
        cur = auto_n_planes(n)
        assert cur >= prev, (n, cur, prev)
        prev = cur


@pytest.mark.slow  # ~14 s measured r17
def test_lsh_auto_planes_matches_pinned_default(spark, sf_oracle):
    """With n_planes omitted, lsh_verified_pairs must resolve to the exact
    historical 8-plane result on the driver fixture — the property that
    keeps the pinned 8-plane oracle SQL green after the self-scaling
    default landed."""
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.knn import lsh_verified_pairs

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    auto = lsh_verified_pairs(e, threshold=0.4, n_tables=4, probe_bits=2)
    pinned = lsh_verified_pairs(
        e, threshold=0.4, n_planes=8, n_tables=4, probe_bits=2
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, pinned.collect())
    )


def test_url_parsing_messy_urls(spark):
    """functions/urls.py on adversarial-but-legal URLs: schemes, ports,
    userinfo-free hosts, query/fragment, missing paths, single-label
    hosts.  (Known naive-2-label caveat: 'co.uk'-style suffixes — see the
    module docstring.)"""
    from bigdata_rags_spark.functions.urls import (
        registrable_domain,
        url_host,
        url_path,
    )

    rows = [
        (1, "https://www.News.Example.COM:8080/a/b?x=1#frag"),
        (2, "http://cdn.example.org/img.png"),
        (3, "ftp+ssh://example.net"),
        (4, "https://localhost/admin"),
        (5, "https://a.b.c.d.example.com/deep/path/"),
    ]
    df = spark.createDataFrame(rows, ["i", "url"])
    out = {
        r["i"]: r
        for r in df.select(
            "i",
            url_host(F.col("url")).alias("host"),
            url_path(F.col("url")).alias("path"),
            registrable_domain(url_host(F.col("url"))).alias("dom"),
        ).collect()
    }
    assert out[1]["host"] == "www.news.example.com"
    assert out[1]["path"] == "/a/b"
    assert out[1]["dom"] == "example.com"
    assert out[2]["host"] == "cdn.example.org"
    assert out[2]["path"] == "/img.png"
    assert out[2]["dom"] == "example.org"
    assert out[3]["host"] == "example.net"
    assert out[3]["path"] == ""
    assert out[3]["dom"] == "example.net"
    assert out[4]["host"] == "localhost"
    assert out[4]["dom"] == "localhost"
    assert out[5]["dom"] == "example.com"


def test_canonical_url_normalization_rules(spark):
    """Every canonicalization rule on adversarial-but-legal URLs: scheme/
    host case, www, default vs real ports, fragment, tracking params,
    param sorting, trailing slashes — plus idempotence (canonicalizing a
    canonical URL is a fixed point)."""
    from bigdata_rags_spark.functions.urls import canonical_url

    rows = [
        (1, "HTTPS://WWW.Site.com:443/p/1/?b=2&utm_source=x&a=1#top"),
        (2, "https://site.com/p/1?a=1&b=2"),
        (3, "http://site.com:8080/x//?gclid=z"),       # real port survives
        (4, "http://site.com:80/x"),                    # default port dropped
        (5, "https://site.com"),                        # no path, no query
        (6, "https://site.com/?utm_campaign=only"),     # all params tracking
        (7, "https://site.com/a?ref=tw&z=9&a=1"),       # mixed, needs sort
    ]
    df = spark.createDataFrame(rows, ["i", "url"])
    out = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()
    }
    assert out[1] == "https://site.com/p/1?a=1&b=2"
    assert out[2] == "https://site.com/p/1?a=1&b=2"
    assert out[1] == out[2]
    assert out[3] == "http://site.com:8080/x?gclid=z".replace("?gclid=z", "")
    assert out[4] == "http://site.com/x"
    assert out[5] == "https://site.com"
    assert out[6] == "https://site.com"
    assert out[7] == "https://site.com/a?a=1&z=9"
    # idempotence: re-canonicalizing the outputs changes nothing
    canon = spark.createDataFrame(
        [(i, c) for i, c in out.items()], ["i", "url"]
    ).select("i", canonical_url(F.col("url")).alias("c"))
    assert {r["i"]: r["c"] for r in canon.collect()} == out


def test_domain_quota_caps_megasite(spark, sf_oracle):
    """No registrable domain may exceed the quota, ranks are 1..k dense per
    domain, and every domain present in the corpus appears."""
    from bigdata_rags_spark.queries.catalog import REGISTRY

    rows = REGISTRY["domain_quota_selection"].spark(spark, sf_oracle).collect()
    per_dom: dict[str, list[int]] = {}
    for r in rows:
        per_dom.setdefault(r["domain"], []).append(r["rank"])
    assert per_dom, "no domains extracted"
    for dom, ranks in per_dom.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), dom
        assert len(ranks) <= 3, dom
        assert "." in dom or dom == "localhost", dom


def test_quality_classifier_separates_planted_docs(spark):
    """The scorer must order documents by their tokens' literal weights:
    docs built from the most-positive-weight buckets score keep=1 with
    high prob; most-negative-bucket docs score keep=0 with low prob.
    Token->bucket math is recomputed in the test with the same md5 rule,
    so this asserts the whole hash->lookup->pool->sigmoid pipeline."""
    import hashlib

    from bigdata_rags_spark.quality import (
        qclf_weights,
        quality_classifier_scores,
    )

    w = qclf_weights()

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % 64

    # mine tokens whose buckets carry strong weights (deterministic search)
    pos = [t for t in (f"tok{i}" for i in range(500)) if w[bucket(t)] > 300_000]
    neg = [t for t in (f"tok{i}" for i in range(500)) if w[bucket(t)] < -300_000]
    assert len(pos) >= 5 and len(neg) >= 5
    docs = spark.createDataFrame(
        [(1, " ".join(pos[:8])), (2, " ".join(neg[:8])), (3, " ".join(pos[:4] + neg[:4]))],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in quality_classifier_scores(docs).collect()}
    assert out[1]["keep"] == 1 and out[1]["prob_micro"] > 600_000
    assert out[2]["keep"] == 0 and out[2]["prob_micro"] < 400_000
    assert out[2]["prob_micro"] < out[3]["prob_micro"] < out[1]["prob_micro"]
    # exact-math spot check on the pure-positive doc
    raw = sum(w[bucket(t)] for t in pos[:8])
    n = 8
    z = 25_000 + (raw + 500_000 * n) // n - 500_000
    p = (500_000 * (1_000_000 + abs(z) + z)) // (1_000_000 + abs(z))
    assert out[1]["z_micro"] == z and out[1]["prob_micro"] == p


def test_nb_fit_separates_planted_corpus(spark):
    """Trained NB classifier (VERDICT r12 #3): fit on a planted separable
    corpus (class-1 docs drawn from one vocabulary, class-0 from a
    disjoint one, shared noise tokens in both) must classify held-out
    docs from each vocabulary correctly, and the fitted weight table must
    replay exactly in python (counts -> smoothed micro rates -> tanh
    quantization)."""
    import hashlib

    from bigdata_rags_spark.quality import NB_BUCKETS, nb_fit_weights, nb_score_docs

    good = [f"fine{i}" for i in range(12)]
    bad = [f"junk{i}" for i in range(12)]
    noise = ["the", "a", "of"]
    rows = []
    for d in range(20):
        voc = good if d % 2 else bad
        toks = [voc[(d + j) % 12] for j in range(10)] + noise
        rows.append((d % 2, " ".join(toks)))
    labeled = spark.createDataFrame(rows, ["y", "text"])
    weights = nb_fit_weights(labeled)
    wrows = {r["b"]: r for r in weights.collect()}
    assert len(wrows) == NB_BUCKETS

    # exact python replay of the fit math
    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % NB_BUCKETS

    c = {b: [0, 0] for b in range(NB_BUCKETS)}
    for y, text in rows:
        for t in text.split():
            c[bucket(t)][y] += 1
    t0 = sum(v[0] for v in c.values())
    t1 = sum(v[1] for v in c.values())
    for b in range(NB_BUCKETS):
        r0 = (1_000_000 * (c[b][0] + 1)) // (t0 + NB_BUCKETS)
        r1 = (1_000_000 * (c[b][1] + 1)) // (t1 + NB_BUCKETS)
        w = (2_000_000 * r1) // (r1 + r0) - 1_000_000
        assert (wrows[b]["c0"], wrows[b]["c1"]) == tuple(c[b]), b
        assert (wrows[b]["r0_micro"], wrows[b]["r1_micro"]) == (r0, r1), b
        assert wrows[b]["w_micro"] == w, b

    # held-out docs from each vocabulary classify correctly
    held = spark.createDataFrame(
        [(100, " ".join(good[:6] + noise)), (101, " ".join(bad[6:] + noise))],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in nb_score_docs(held, weights).collect()}
    assert out[100]["keep"] == 1 and out[100]["score_micro"] > 0
    assert out[101]["keep"] == 0 and out[101]["score_micro"] < 0
    assert out[100]["mean_micro"] > out[101]["mean_micro"]


def test_ct_langid_separates_planted_languages(spark):
    """Trained Cavnar-Trenkle language ID (VERDICT r12 #4): profiles fitted
    on three planted 'languages' with genuinely distinct character
    distributions must classify held-out docs of each language correctly
    (the fixture's shared-vocabulary langs cannot show this — honest
    negative documented on the registered query)."""
    from bigdata_rags_spark.functions.langid import ct_fit_profiles, ct_score_docs

    vocab = {
        "aa": ["mare", "tela", "roma", "vita", "sole", "luna"],
        "bb": ["zwxq", "qxzw", "wqxz", "xqwz", "zqwx", "qzxw"],
        "cc": ["kolo", "pyko", "loky", "kypo", "okyl", "ypok"],
    }
    train = []
    for lang, words in vocab.items():
        for d in range(6):
            train.append((lang, " ".join(words[(d + j) % 6] for j in range(8))))
    labeled = spark.createDataFrame(train, ["lang", "text"])
    profiles = ct_fit_profiles(labeled).localCheckpoint()
    # profile shape: <= 40 ranked grams per language, ranks contiguous
    prof = {}
    for r in profiles.collect():
        prof.setdefault(r["lang"], []).append(r["lrank"])
    for lang, ranks in prof.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), lang

    held = spark.createDataFrame(
        [
            (0, " ".join(vocab["aa"][2:] + vocab["aa"][:2])),
            (1, " ".join(vocab["bb"][3:] + vocab["bb"][:3])),
            (2, " ".join(vocab["cc"][1:] + vocab["cc"][:1])),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["predicted_lang"] for r in ct_score_docs(held, profiles).collect()}
    assert out == {0: "aa", 1: "bb", 2: "cc"}


def test_trained_pq_beats_fixed_codebooks(spark, sf_oracle):
    """Lloyd-trained PQ codebooks must strictly lower mean quantization
    error vs the fixed md5 literals (the k-means property), and the
    trained serving path must not lose shortlist recall vs brute-force
    truth relative to fixed codebooks.  Training is deterministic (md5
    init, no RNG), so these are stable assertions, not flaky ones."""
    import numpy as np

    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.pq import (
        SUB_DIM,
        pq_codebooks,
        pq_search_rerank,
        train_pq_codebooks,
    )

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    fixed = pq_codebooks()
    trained = train_pq_codebooks(e, n_iter=3)

    vecs = np.array(
        [np.asarray(r["embedding"], dtype=np.float64) for r in e.collect()]
    )

    def mean_qerr(books) -> float:
        m, sub = len(books), SUB_DIM
        total = 0.0
        for j in range(m):
            x = vecs[:, j * sub : (j + 1) * sub]
            c = np.array(books[j])  # (k, sub)
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            total += d2.min(axis=1).sum()
        return total / len(vecs)

    err_fixed, err_trained = mean_qerr(fixed), mean_qerr(trained)
    assert err_trained < err_fixed, (err_trained, err_fixed)

    q = e.filter(F.col("vec_id") < 5)
    truth: dict[int, set[int]] = {}
    for r in brute_force_topk(q, e, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(books) -> float:
        got: dict[int, set[int]] = {}
        for r in pq_search_rerank(q, e, k=5, shortlist=100, codebooks=books).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(truth[i] & got.get(i, set())) for i in truth) / (5 * len(truth))

    r_fixed, r_trained = recall(fixed), recall(trained)
    assert r_trained >= r_fixed, (r_trained, r_fixed)


def test_doc_pii_scan_planted_payloads(spark, sf_oracle):
    """Docs at doc_id%7==0 must report exactly one email, %5==0 one phone,
    %11==0 one long-digit id; clean docs report zero and has_pii=0."""
    from bigdata_rags_spark.queries.catalog import REGISTRY

    rows = {r["doc_id"]: r for r in REGISTRY["doc_pii_scan"].spark(spark, sf_oracle).collect()}
    assert rows, "no rows"
    for i, r in rows.items():
        assert r["n_emails"] == (1 if i % 7 == 0 else 0), i
        assert r["n_phones"] == (1 if i % 5 == 0 else 0), i
        if i < 100_000:
            # exact only while doc_id stays under 6 digits: a 6+-digit id
            # embedded in the planted email (user{id}@...) legitimately
            # matches the [0-9]{6,} long-digit pattern too (ADVICE r8)
            assert r["n_long_digits"] == (1 if i % 11 == 0 else 0), i
            assert r["has_pii"] == (
                1 if (i % 7 == 0 or i % 5 == 0 or i % 11 == 0) else 0
            ), i
        else:
            # the 6+-digit id inside the planted email (user{id}@...) adds
            # EXACTLY one [0-9]{6,} match for i % 7 == 0 — the count stays
            # exact, no >= slack (a scanner flagging every row must fail)
            assert r["n_long_digits"] == (1 if i % 11 == 0 else 0) + (
                1 if i % 7 == 0 else 0
            ), i
            assert r["has_pii"] == (
                1 if (i % 7 == 0 or i % 5 == 0 or i % 11 == 0) else 0
            ), i


def test_domain_blocklist_filter_drops_blocked(spark, sf_oracle):
    """Every blocked domain vanishes, every other domain survives intact,
    and the plan is a broadcast LEFT ANTI join (not isin / not a shuffle)."""
    from bigdata_rags_spark.queries.catalog import REGISTRY

    df = REGISTRY["domain_blocklist_filter"].spark(spark, sf_oracle)
    doms = {r["domain"] for r in df.select("domain").distinct().collect()}
    assert doms and not doms & {"src3.com", "src7.net", "src11.org", "src15.com"}
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]


def test_psl_registrable_domain_multilabel_suffixes(spark):
    """PSL longest-match must beat the naive 2-label rule on co.uk-style
    suffixes, fall back to the '*' rule for unknown TLDs, and handle a
    host that IS a public suffix."""
    from bigdata_rags_spark.functions.urls import psl_registrable_domain

    rows = [
        (1, "www.news.mysite.co.uk"),
        (2, "example.com"),
        (3, "localhost"),
        (4, "a.ac.uk"),
        (5, "co.uk"),
        (6, "x.y.unknowntld"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "host"])
    out = {r["doc_id"]: r for r in psl_registrable_domain(df, spark).collect()}
    assert (out[1]["psl_suffix"], out[1]["domain"]) == ("co.uk", "mysite.co.uk")
    assert (out[2]["psl_suffix"], out[2]["domain"]) == ("com", "example.com")
    assert (out[3]["psl_suffix"], out[3]["domain"]) == ("localhost", "localhost")
    assert (out[4]["psl_suffix"], out[4]["domain"]) == ("ac.uk", "a.ac.uk")
    assert (out[5]["psl_suffix"], out[5]["domain"]) == ("co.uk", "co.uk")
    # unknown TLD: '*' fallback — last label is the suffix
    assert (out[6]["psl_suffix"], out[6]["domain"]) == ("unknowntld", "y.unknowntld")


def test_semantic_dedup_cells_matches_numpy_reference(spark, sf_oracle):
    """The SemDeDup survival set must equal a from-scratch numpy replay:
    assign each vector to its best fixed cell (sim desc, cell desc —
    _nearest_cells' tie rule), then drop any vector with a lower-id
    in-cell neighbor at rounded cosine >= 0.4."""
    import numpy as np

    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.similarity.ivf import fixed_centroids

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    data = sorted(
        ((r["vec_id"], np.asarray(r["embedding"], dtype=np.float64)) for r in e.collect()),
        key=lambda t: t[0],
    )
    ids = np.array([t[0] for t in data])
    vecs = np.array([t[1] for t in data])
    cents = np.array(fixed_centroids(64, 16))
    sims = vecs @ cents.T
    cells = (cents.shape[0] - 1) - sims[:, ::-1].argmax(axis=1)

    norms = np.sqrt((vecs * vecs).sum(axis=1))
    dropped = set()
    for c in set(cells.tolist()):
        idx = np.where(cells == c)[0]
        for bi in idx:
            for ai in idx:
                if ids[ai] >= ids[bi]:
                    continue
                cos = vecs[ai] @ vecs[bi] / norms[ai] / norms[bi]
                if np.round(cos, 6) >= 0.4:
                    dropped.add(int(ids[bi]))
                    break
    expected = {int(i) for i in ids} - dropped

    got = {
        r["vec_id"]
        for r in REGISTRY["semantic_dedup_cells"].spark(spark, sf_oracle).collect()
    }
    assert got == expected


def test_pagerank_star_graph_hub_dominates(spark):
    """On a star graph the hub must outrank every leaf; leaves tie; and
    the query reproduces the exact integer recurrence computed by hand."""
    from bigdata_rags_spark.dedup.clusters import pagerank_undirected

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], ["doc_a", "doc_b"]
    )
    out = {r["node"]: r for r in pagerank_undirected(edges, n_iter=3).collect()}
    hub, leaves = out[0], [out[i] for i in range(1, 6)]
    assert hub["degree"] == 5 and all(l["degree"] == 1 for l in leaves)
    assert all(hub["rank_micro"] > l["rank_micro"] for l in leaves)
    assert len({l["rank_micro"] for l in leaves}) == 1
    # hand replay of the integer recurrence
    rh, rl = 1_000_000, 1_000_000
    for _ in range(3):
        rh_new = 150_000 + 850_000 * (5 * (rl // 1)) // 1_000_000
        rl_new = 150_000 + 850_000 * (rh // 5) // 1_000_000
        rh, rl = rh_new, rl_new
    assert hub["rank_micro"] == rh and leaves[0]["rank_micro"] == rl


def test_ivfpq_recall_on_real_embeddings(spark, sf_oracle):
    """IVFPQ (4/16 cells probed + ADC shortlist + exact rerank) must keep
    useful recall@5 vs brute force on the adversarial near-random fixture,
    and can never exceed the cell-probe ceiling (a neighbor outside every
    probed cell is unreachable by construction)."""
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.pq import ivfpq_search_rerank

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    q = e.filter(F.col("vec_id") < 20)
    truth: dict[int, set[int]] = {}
    for r in brute_force_topk(q, e, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set[int]] = {}
    for r in ivfpq_search_rerank(q, e, k=5, n_probe=4, shortlist=50).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(len(truth[i] & got.get(i, set())) for i in truth) / (5 * len(truth))
    assert recall >= 0.3, recall  # floor measured on the fixture; real
    # clustered corpora sit far higher — 4/16 probes bounds recall by the
    # cell-coverage probability on near-random data


def test_source_token_drift_flags_skewed_source(spark):
    """A source whose token distribution collapses onto one token must
    report far higher total-variation drift than balanced sources, and
    that token must surface as its top drifted token."""
    from bigdata_rags_spark.queries.catalog import REGISTRY
    import os
    import tempfile

    balanced = " ".join(f"w{i % 10}" for i in range(50))
    rows = (
        [(i, balanced, "en", "balanced_a", 100) for i in range(5)]
        + [(10 + i, balanced, "en", "balanced_b", 100) for i in range(5)]
        + [(20, " ".join(["spam"] * 50), "en", "skewed", 100)]
    )
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, ["doc_id", "text", "lang", "source", "n_chars"]
        ).write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r["source"]: r
            for r in REGISTRY["source_token_drift"].spark(spark, tmp).collect()
        }
    assert out["skewed"]["top_drift_token"] == "spam"
    assert out["skewed"]["tv_micro"] > 3 * out["balanced_a"]["tv_micro"]
    assert out["balanced_a"]["tv_micro"] == out["balanced_b"]["tv_micro"]


def test_query_likelihood_ranking_properties(spark):
    """QL with Dirichlet smoothing must rank full-match > partial-match >
    no-match at equal length, and every doc must receive a score (zero-tf
    terms smooth toward the collection model instead of dropping docs)."""
    from bigdata_rags_spark.retrieval.bm25 import query_likelihood_scores

    filler = "x1 x2 x3 x4 x5 x6 x7"
    rows = [
        (1, f"alpha beta gamma {filler}"),
        (2, f"alpha b1 b2 {filler}"),
        (3, f"n1 n2 n3 {filler}"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in query_likelihood_scores(docs, ["alpha", "beta", "gamma"], k=10).collect()
    }
    assert set(out) == {1, 2, 3}          # no-match docs still scored
    assert out[1]["matched_terms"] == 3 and out[2]["matched_terms"] == 1
    assert out[3]["matched_terms"] == 0
    assert out[1]["ql_score"] > out[2]["ql_score"] > out[3]["ql_score"]
    assert (out[1]["rnk"], out[2]["rnk"], out[3]["rnk"]) == (1, 2, 3)


def test_contrastive_negatives_exclude_positives(spark, sf_oracle):
    """Sampled negatives must never collide with the query's exact top-5
    neighbors, give exactly 5 per query, and be draw-stable across runs."""
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.queries.catalog import REGISTRY

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    truth: dict[int, set[int]] = {}
    for r in brute_force_topk(q, e, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    run1 = REGISTRY["contrastive_negatives_sample"].spark(spark, sf_oracle).collect()
    per_q: dict[int, set[int]] = {}
    for r in run1:
        per_q.setdefault(r["query_id"], set()).add(r["negative_id"])
    assert set(per_q) == set(truth)
    for qid, negs in per_q.items():
        assert len(negs) == 5
        assert not negs & truth[qid], (qid, negs & truth[qid])
        assert qid not in negs
    run2 = REGISTRY["contrastive_negatives_sample"].spark(spark, sf_oracle).collect()
    assert sorted(map(tuple, run1)) == sorted(map(tuple, run2))


def test_auto_n_cells_calibration():
    """auto_n_cells must keep the driver fixtures at the oracle-pinned 16
    cells and widen at scale (the LSH auto_n_planes discipline; the r8
    probe measured fixed-16 semantic dedup at 45.8x wall for 10x data,
    auto at 2.3x)."""
    from bigdata_rags_spark.similarity.ivf import auto_n_cells

    assert auto_n_cells(500) == 16
    assert auto_n_cells(2000) == 16
    assert auto_n_cells(2048) == 16
    assert auto_n_cells(2049) == 32
    assert auto_n_cells(20_000) == 256
    assert auto_n_cells(10**9) == 256  # capped
    assert auto_n_cells(0) == 16
    prev = 0
    for n in (1, 100, 3000, 10_000, 50_000, 10**6):
        cur = auto_n_cells(n)
        assert cur >= prev
        prev = cur


def test_assign_cells_numpy_path_matches_expression_path(spark, sf_oracle):
    """Past 32 centroids assignment switches to the Arrow numpy pass; both
    strategies must agree cell-for-cell on the same codebook (the left
    fold is bit-identical to the codegen'd expression)."""
    from bigdata_rags_spark.functions.vectors import as_double_array
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.ivf import (
        _nearest_cells,
        assign_cells,
        fixed_centroids,
    )

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    cents = fixed_centroids(64, 64)  # > 32 -> numpy path in assign_cells
    got = {
        r["id"]: r["cell"] for r in assign_cells(e, cents).collect()
    }
    expr = {
        r["vec_id"]: r["cell"]
        for r in e.select(
            "vec_id",
            _nearest_cells(as_double_array(F.col("embedding")), cents, 1)[0].alias("cell"),
        ).collect()
    }
    assert got == expr


def test_encode_with_cells_wide_codebook_matches_join_form(spark, sf_oracle):
    """ADVICE r16: the >32-centroid numpy branch of ``_encode_with_cells``
    (the one that actually runs at probe scale, where ``auto_n_cells``
    resolves to 256) must equal the pre-r16 ``pq_encode(df) ⋈
    assign_cells(df)`` join form code-for-code and cell-for-cell — the
    same parity pin the narrow path inherits from the shared expression."""
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.ivf import assign_cells, fixed_centroids
    from bigdata_rags_spark.similarity.pq import (
        _encode_with_cells,
        pq_codebooks,
        pq_encode,
    )

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    books = pq_codebooks()
    cents = fixed_centroids(64, 64)  # > 32 -> numpy cell branch
    fused = {
        (r["id"], r["m"]): (r["code"], r["cell"])
        for r in _encode_with_cells(e, books, cents).collect()
    }
    joined = {
        (r["id"], r["m"]): (r["code"], r["cell"])
        for r in pq_encode(e, books)
        .join(assign_cells(e, cents), "id")
        .collect()
    }
    assert fused == joined


def test_attach_cells_wide_codebook_matches_join_form(spark, sf_oracle):
    """ADVICE r16: ``attach_cells``' >32-centroid numpy branch must equal
    the df ⋈ assign_cells(df) form it replaced (per-id cell AND untouched
    passthrough columns), mirroring the assign_cells parity pin above."""
    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.ivf import (
        assign_cells,
        attach_cells,
        fixed_centroids,
    )

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    cents = fixed_centroids(64, 64)  # > 32 -> numpy branch
    got = {
        r["vec_id"]: (r["cell"], r["label"])
        for r in attach_cells(e, cents).select("vec_id", "cell", "label").collect()
    }
    joined = {
        r["vec_id"]: (r["cell"], r["label"])
        for r in e.join(
            assign_cells(e, cents).withColumnRenamed("id", "vec_id"), "vec_id"
        )
        .select("vec_id", "cell", "label")
        .collect()
    }
    assert got == joined
    # the schema fix (ADVICE r16): attaching must NOT mutate the caller's
    # cached schema — the original frame still has no cell column
    assert "cell" not in e.columns


def test_incremental_semantic_keepers_planted_paths(spark):
    """Both drop rules fire, exactly and only where planted: (a) near-dup of
    a STORED vector dies vs the index, (b) intra-batch near-dup dies against
    its lower-id sibling; novel vectors survive — including one sharing a
    cell with a stored vector it is NOT similar to."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.dedup.semantic import incremental_semantic_keepers

    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]

    def emb(rows):
        return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
        )

    existing = emb([(1, [1.0, 0.0, 0.0])])                 # cell 0
    batch = emb(
        [
            (10, [0.99, 0.1, 0.0]),   # cell 0, cos~0.995 vs stored -> dies (a)
            (11, [0.0, 1.0, 0.0]),    # cell 1, novel -> survives
            (12, [0.6, 0.8, 0.0]),    # cell 1, cos 0.8 vs 11 -> survives
            (13, [0.61, 0.79, 0.0]),  # cell 1, cos~0.9999 vs 12 -> dies (b)
            (14, [0.7, 0.69, 0.0]),   # cell 0 but cos~0.71 vs stored -> survives
        ]
    )
    out = incremental_semantic_keepers(
        batch, existing, cents, threshold=0.9
    ).collect()
    assert sorted(r["vec_id"] for r in out) == [11, 12, 14]
    cells = {r["vec_id"]: r["cell"] for r in out}
    assert cells == {11: 1, 12: 1, 14: 0}


def test_bpe_merges_match_exact_python_replay(spark):
    """Planted Sennrich-style corpus: the distributed trainer must produce
    the EXACT merge table of a reference python replay (greedy leftmost
    non-overlapping merges, (count desc, left, right) tiebreak) — including
    the overlap case ('aaaa' merges to [aa, aa], not [aa, a, a])."""
    from bigdata_rags_spark.functions.bpe import train_bpe_merges

    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaa": 4}

    def replay(wc, n):
        vocab = {w: [*w, "</w>"] for w in wc}
        merges = []
        for rnd in range(1, n + 1):
            counts: dict[tuple[str, str], int] = {}
            for w, syms in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + wc[w]
            if not counts:
                break
            (l, r), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rnd, l, r, l + r, c))
            for w, syms in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = out
        return merges

    words = spark.createDataFrame(list(wc.items()), ["word", "cnt"])
    got = [
        (r["merge_round"], r["sym_left"], r["sym_right"], r["merged"], r["pair_count"])
        for r in train_bpe_merges(words, n_merges=12).orderBy("merge_round").collect()
    ]
    expected = replay(wc, 12)
    assert got == expected, (got, expected)
    # sanity: the overlap-sensitive merge happened — (a, a) merged with count
    # 3 pairs/word * 4 words = 12, and round 2+ saw the merged 'aa' symbol
    aa_rounds = [m for m in got if m[1] == "a" and m[2] == "a"]
    assert aa_rounds and aa_rounds[0][4] == 12
    assert any(m[1] == "aa" or m[2] == "aa" for m in got)


def test_apply_bpe_merges_matches_replay_segmentation(spark):
    """The serving half must segment exactly like the trainer's internal
    state: apply the trained rules to the training vocab and compare each
    word's subword sequence against a greedy python replay."""
    from bigdata_rags_spark.functions.bpe import apply_bpe_merges, train_bpe_merges

    wc = {"low": 5, "lowest": 2, "newer": 6, "wider": 3, "aaaa": 4}
    words = spark.createDataFrame(list(wc.items()), ["word", "cnt"])
    rules = [
        (r["sym_left"], r["sym_right"])
        for r in train_bpe_merges(words, n_merges=6).orderBy("merge_round").collect()
    ]

    def segment(word):
        syms = [*word, "</w>"]
        for l, r in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {
        r["word"]: (list(r["subwords"]), r["cnt"])
        for r in apply_bpe_merges(words, rules).collect()
    }
    assert got == {w: (segment(w), c) for w, c in wc.items()}
    # at least one rule actually fired (some word is segmented coarser
    # than characters)
    assert any(len(s) < len(w) + 1 for w, (s, _) in got.items())


def test_bpe_encode_documents_matches_replay(spark):
    """Corpus-scale ENCODE (VERDICT r11 next #2): per-doc token-id
    sequences must equal a full python replay — greedy merge application
    per word, sorted-subword vocab ranks as ids, reassembly in document
    word order — and be invariant to input partitioning."""
    from bigdata_rags_spark.functions.bpe import bpe_encode_documents, train_bpe_merges
    from bigdata_rags_spark.functions.text import ws_tokens

    texts = {
        10: "low lower lowest new newest",
        11: "the newest low is the widest low",
        12: "aaaa aaaa wider new",
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    words = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rules = [
        (r["sym_left"], r["sym_right"])
        for r in train_bpe_merges(words, n_merges=6).orderBy("merge_round").collect()
    ]

    def segment(word):
        syms = [*word, "</w>"]
        for l, r in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    all_words = sorted({w for t in texts.values() for w in t.lower().split()})
    vocab = sorted({s for w in all_words for s in segment(w)})
    tid = {s: i + 1 for i, s in enumerate(vocab)}
    expected = {}
    for d, t in texts.items():
        ids = [tid[s] for w in t.lower().split() for s in segment(w)]
        expected[d] = (len(t.split()), len(ids), ",".join(map(str, ids)))

    for n_parts in (1, 7):
        got = {
            r["doc_id"]: (r["n_words"], r["n_tokens"], r["token_ids"])
            for r in bpe_encode_documents(docs.repartition(n_parts), rules).collect()
        }
        assert got == expected, (n_parts, got, expected)
    # the ids are non-trivial: some doc has fewer tokens than characters
    # (a merge fired) and more tokens than words (subword splits exist)
    assert all(nt > nw for nw, nt, _ in expected.values())


def test_decode_token_ids_inverts_encode_and_detects_tampering(spark):
    """The decoder must reconstruct every doc's whitespace-normalized word
    stream exactly (the `</w>` markers carry the boundaries), and the
    round-trip audit must DETECT corruption: remapping one vocab id makes
    lossless drop for exactly the docs containing that token."""
    from bigdata_rags_spark.functions.bpe import (
        bpe_word_segmentation,
        decode_token_ids,
        encode_documents_from_word_pieces,
        subword_vocab,
        train_bpe_merges,
    )
    from bigdata_rags_spark.functions.text import ws_tokens

    texts = {
        10: "low lower lowest new newest",
        11: "the newest low is the widest low",
        12: "aaaa aaaa wider new",
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    words = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rules = [
        (r["sym_left"], r["sym_right"])
        for r in train_bpe_merges(words, n_merges=6).orderBy("merge_round").collect()
    ]
    word_sub = bpe_word_segmentation(docs, rules).localCheckpoint()
    vocab = subword_vocab(word_sub)
    encoded = encode_documents_from_word_pieces(docs, word_sub).localCheckpoint()
    dec = {
        r["doc_id"]: r["decoded"]
        for r in decode_token_ids(encoded, vocab).collect()
    }
    for d, t in texts.items():
        assert dec[d].replace("</w>", " ").rstrip() == t

    # tamper: swap the subword behind the id of '</w>'-terminated token for
    # a wrong string -> decode must no longer round-trip for docs using it
    bad = vocab.withColumn(
        "subword",
        F.when(F.col("token_id") == 1, F.lit("CORRUPT")).otherwise(F.col("subword")),
    )
    dec_bad = {
        r["doc_id"]: r["decoded"]
        for r in decode_token_ids(encoded, bad).collect()
    }
    assert any(
        dec_bad[d].replace("</w>", " ").rstrip() != t for d, t in texts.items()
    )


def test_ngram_diversity_report_detects_template_collapse(spark):
    """A looped/templated corpus must show LOWER distinct ratios and a
    HIGHER top-share than a diverse one at every n; hand-checked counts on
    a tiny doc pin the arithmetic."""
    from bigdata_rags_spark.quality import ngram_diversity_report

    diverse = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(5)],
        ["doc_id", "text"],
    )
    looped = spark.createDataFrame(
        [(i, " ".join(["spam", "ham"] * 10)) for i in range(5)],
        ["doc_id", "text"],
    )
    d = {r["n"]: r for r in ngram_diversity_report(diverse).collect()}
    l = {r["n"]: r for r in ngram_diversity_report(looped).collect()}
    for n in (1, 2, 3, 4):
        assert d[n]["diversity_micro"] > l[n]["diversity_micro"], n
        assert d[n]["top_share_micro"] < l[n]["top_share_micro"], n
    # hand check: one doc "a b a b" -> bigrams: "a b","b a","a b"
    one = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    r2 = {r["n"]: r for r in ngram_diversity_report(one, ns=(2,)).collect()}[2]
    assert (r2["total_ngrams"], r2["distinct_ngrams"]) == (3, 2)
    assert r2["diversity_micro"] == 2 * 1_000_000 // 3
    assert r2["top_share_micro"] == 2 * 1_000_000 // 3


def test_cluster_topic_terms_rare_term_beats_boilerplate(spark, sf_oracle):
    """c-TF-IDF sanity on the real fixtures: every cluster gets exactly 5
    ranked terms, scores are non-increasing in rank, and a term present in
    EVERY cluster can only win rank 1 by raw frequency (score tf*1e6/16),
    while df_clusters=1 terms score tf*1e6."""
    from bigdata_rags_spark.queries.catalog import REGISTRY

    rows = REGISTRY["cluster_topic_terms"].spark(spark, sf_oracle).collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, rs in by_cell.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(
            rs[i]["score_micro"] >= rs[i + 1]["score_micro"] for i in range(len(rs) - 1)
        ), cell
        for r in rs:
            assert r["score_micro"] == r["tf"] * 1_000_000 // r["df_clusters"]


def test_preference_pairs_tie_rules_and_small_groups(spark):
    """Chosen = (best score, lowest id), rejected = (worst score, highest
    id); an all-tied group still yields two distinct docs; singleton
    groups are dropped."""
    from bigdata_rags_spark.operators.sampling import preference_pairs

    rows = [
        ("a", 1, 900), ("a", 2, 100), ("a", 3, 900),   # tie at top
        ("b", 4, 500), ("b", 5, 500), ("b", 6, 500),   # all tied
        ("c", 7, 123),                                   # singleton
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "z_micro"])
    out = {r["source"]: r for r in preference_pairs(df, group_col="source").collect()}
    assert set(out) == {"a", "b"}
    assert (out["a"]["chosen_id"], out["a"]["rejected_id"]) == (1, 2)
    assert out["a"]["margin_micro"] == 800
    assert (out["b"]["chosen_id"], out["b"]["rejected_id"]) == (4, 6)
    assert out["b"]["margin_micro"] == 0 and out["b"]["n_docs"] == 3


def test_preference_pairs_string_ids(spark):
    """ADVICE r12: the tie rules must work for non-numeric document keys
    (string/UUID) — same (best, lowest id) / (worst, highest id) semantics,
    id type preserved in the output."""
    from bigdata_rags_spark.operators.sampling import preference_pairs

    rows = [
        ("a", "doc-x", 900), ("a", "doc-b", 900), ("a", "doc-m", 100),
        ("b", "u1", 500), ("b", "u2", 500),
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "z_micro"])
    out = {r["source"]: r for r in preference_pairs(df, group_col="source").collect()}
    assert (out["a"]["chosen_id"], out["a"]["rejected_id"]) == ("doc-b", "doc-m")
    assert (out["b"]["chosen_id"], out["b"]["rejected_id"]) == ("u1", "u2")
    assert isinstance(out["a"]["chosen_id"], str)


def test_length_bucket_batching_plan(spark):
    """Ceil-pow2 buckets with clamps, padding arithmetic, truncation flag,
    full batches of batch_size, and partitioning invariance."""
    from bigdata_rags_spark.operators.sampling import length_bucket_batching

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(
        [1, 3, 16, 17, 100, 600, 5, 31, 33, 64]
    )]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in length_bucket_batching(docs, batch_size=2).collect()}
    assert out[0]["bucket_cap"] == 16 and out[0]["padding"] == 15     # clamp up
    assert out[1]["bucket_cap"] == 16                                  # 3 -> 4 -> clamp 16
    assert out[2]["bucket_cap"] == 16 and out[2]["padding"] == 0      # exact pow2
    assert out[3]["bucket_cap"] == 32                                  # 17 -> 32
    assert out[4]["bucket_cap"] == 128                                 # 100 -> 128
    assert out[5]["bucket_cap"] == 512 and out[5]["truncated"] == 1   # over cap
    assert out[5]["padding"] == 0
    assert out[7]["bucket_cap"] == 32 and out[8]["bucket_cap"] == 64
    assert out[9]["bucket_cap"] == 64 and out[9]["padding"] == 0
    assert all(r["pos_in_batch"] < 2 for r in out.values())
    rep = {
        r["doc_id"]: r
        for r in length_bucket_batching(docs.repartition(7), batch_size=2).collect()
    }
    assert {k: tuple(v) for k, v in rep.items()} == {k: tuple(v) for k, v in out.items()}


def test_sequence_packing_tokens_col(spark):
    """`sequence_packing_plan(tokens_col=...)` must pack on the supplied
    real counts (+1 EOS), not the whitespace placeholder."""
    from bigdata_rags_spark.operators.sampling import sequence_packing_plan

    rows = [(1, "a b c", 100), (2, "d e", 7), (3, "f", 200)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "real_tokens"])
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in sequence_packing_plan(df, tokens_col="real_tokens").collect()
    }
    assert got == {1: 101, 2: 8, 3: 201}
    ws = {
        r["doc_id"]: r["n_tokens"] for r in sequence_packing_plan(df).collect()
    }
    assert ws == {1: 4, 2: 3, 3: 2}  # default path unchanged


def test_hashed_doc_features_match_python_replay(spark):
    """The hashing-trick featurizer must equal an md5 python replay
    (bucket = first-8-hex mod dim, sign = 9th-hex parity) over unigrams +
    bigrams, and the dense builder must scatter the same weights."""
    import hashlib

    from bigdata_rags_spark.functions.featurize import (
        hashed_doc_features,
        hashed_doc_vectors,
    )

    texts = {1: "the cat sat on the mat", 2: "one", 3: "a b a b"}
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    dim = 16

    def feats(t):
        ws = t.lower().split()
        return ws + [" ".join(p) for p in zip(ws, ws[1:])]

    expected: dict[tuple[int, int], int] = {}
    for d, t in texts.items():
        for f in feats(t):
            h = hashlib.md5(f"feat:{f}".encode()).hexdigest()
            b = int(h[:8], 16) % dim
            s = 1 if int(h[8], 16) % 2 == 0 else -1
            expected[(d, b)] = expected.get((d, b), 0) + s

    got = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in hashed_doc_features(docs, dim=dim).collect()
    }
    assert got == expected
    dense = {
        r["vec_id"]: list(r["embedding"])
        for r in hashed_doc_vectors(docs, dim=dim).collect()
    }
    for d in texts:
        assert dense[d] == [float(expected.get((d, i), 0)) for i in range(dim)]


@pytest.mark.slow  # ~17 s measured r17
def test_text_hashed_near_dups_end_to_end(spark):
    """Raw text -> hashed vectors -> LSH near-dup: a planted near-copy pair
    is found, unrelated docs are not, invariant to partitioning."""
    from bigdata_rags_spark.functions.featurize import hashed_doc_vectors
    from bigdata_rags_spark.similarity.knn import lsh_verified_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        (1, base),
        (2, base + "lambda"),  # near-copy of 1
        (3, "one two three four five six seven eight nine ten " * 4),
        (4, "completely different words about spark catalyst tungsten arrow"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for n_parts in (1, 5):
        vecs = hashed_doc_vectors(docs.repartition(n_parts), dim=64)
        pairs = {
            (r["id_a"], r["id_b"])
            for r in lsh_verified_pairs(
                vecs, threshold=0.8, n_planes=8, n_tables=4, probe_bits=2
            ).collect()
        }
        assert (1, 2) in pairs, pairs
        assert all(p == (1, 2) for p in pairs), pairs


def test_incremental_minhash_keepers_planted_paths(spark):
    """Both drop rules fire exactly where planted: an exact copy of a
    STORED doc dies vs the index, an intra-batch copy dies against its
    lower-id sibling, novel and too-short-to-shingle docs survive."""
    from bigdata_rags_spark.dedup.minhash import incremental_minhash_keepers

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    existing = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [
            (10, base),                  # copy of stored doc 1 -> dies (a)
            (11, other),                 # novel -> survives
            (12, other),                 # copy of batch doc 11 -> dies (b)
            (13, "tiny doc"),            # < 5 tokens: no signature -> survives
        ],
        ["doc_id", "text"],
    )
    out = incremental_minhash_keepers(
        batch, existing, num_hashes=12, rows_per_band=2, threshold=0.5
    ).collect()
    assert sorted(r["doc_id"] for r in out) == [11, 13]


def _store_equivalence_fixture(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    third = "red orange yellow green blue indigo violet black white grey"
    existing = spark.createDataFrame(
        [(1, base), (2, third)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(10, base), (11, other), (12, other), (13, "tiny doc"), (14, third)],
        ["doc_id", "text"],
    )
    return existing, batch


def test_text_dedup_store_paths_match_inline(spark):
    """Ingesting against the PERSISTED MinHash store (build_minhash_store +
    store_prefix) returns exactly the rows the inline existing-frame path
    returns — the store is a materialization of the same derivation,
    frozen params included."""
    from bigdata_rags_spark.dedup.minhash import (
        build_minhash_store,
        incremental_minhash_keepers,
    )
    from bigdata_rags_spark.io.bucketing import drop_managed_table

    existing, batch = _store_equivalence_fixture(spark)

    def ids(df):
        return sorted(r["doc_id"] for r in df.collect())

    try:
        build_minhash_store(
            existing, "t_mh_store", num_hashes=12, rows_per_band=2
        )
        assert ids(
            incremental_minhash_keepers(batch, store_prefix="t_mh_store", threshold=0.5)
        ) == ids(
            incremental_minhash_keepers(
                batch, existing, num_hashes=12, rows_per_band=2, threshold=0.5
            )
        )
    finally:
        for t in ("t_mh_store_sig", "t_mh_store_meta"):
            drop_managed_table(spark, t)


def test_text_dedup_store_params_frozen_from_meta(spark):
    """The MinHash store path reloads its banding from ``{prefix}_meta``
    and IGNORES caller literals (the frozen-parameter rule — serving with
    drifted params against a store built otherwise would silently
    mis-join); passing both or neither of existing / store_prefix is a
    loud error."""
    import pytest as _pytest

    from bigdata_rags_spark.dedup.minhash import (
        build_minhash_store,
        incremental_minhash_keepers,
    )
    from bigdata_rags_spark.dedup.stores import read_store_meta
    from bigdata_rags_spark.io.bucketing import drop_managed_table

    existing, batch = _store_equivalence_fixture(spark)
    try:
        build_minhash_store(existing, "t_mh_meta", num_hashes=12, rows_per_band=2)
        meta = read_store_meta(spark, "t_mh_meta_meta")
        assert meta == {
            "num_hashes": 12, "rows_per_band": 2, "shingle_k": 5, "num_buckets": 8
        }
        # caller literals disagree with the frozen meta -> meta wins: results
        # equal the store-built parameters' inline run (20 hashes would also
        # name signature columns the 12-wide store table does not have)
        via_store = sorted(
            r["doc_id"]
            for r in incremental_minhash_keepers(
                batch, num_hashes=20, rows_per_band=5, store_prefix="t_mh_meta"
            ).collect()
        )
        inline = sorted(
            r["doc_id"]
            for r in incremental_minhash_keepers(
                batch, existing, num_hashes=12, rows_per_band=2
            ).collect()
        )
        assert via_store == inline
        with _pytest.raises(ValueError, match="exactly one"):
            incremental_minhash_keepers(batch, existing, store_prefix="t_mh_meta")
        with _pytest.raises(ValueError, match="exactly one"):
            incremental_minhash_keepers(batch)
    finally:
        for t in ("t_mh_meta_sig", "t_mh_meta_meta"):
            drop_managed_table(spark, t)


def test_minhash_store_path_uses_frozen_shingle_k(spark):
    """A MinHash store built at shingle_k=3 must shingle ingest batches at 3
    too: a 4-token batch doc identical to a stored one is a duplicate under
    3-shingles, but would have no signature (and survive) under the default
    width of 5."""
    from bigdata_rags_spark.dedup.minhash import (
        build_minhash_store,
        incremental_minhash_keepers,
    )
    from bigdata_rags_spark.io.bucketing import drop_managed_table

    existing = spark.createDataFrame(
        [(1, "apple banana cherry date")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(10, "apple banana cherry date"), (11, "zulu yankee xray whiskey")],
        ["doc_id", "text"],
    )
    try:
        build_minhash_store(
            existing, "t_mh_k3", num_hashes=12, rows_per_band=2, shingle_k=3
        )
        kept = incremental_minhash_keepers(batch, store_prefix="t_mh_k3")
        assert sorted(r["doc_id"] for r in kept.collect()) == [11]
    finally:
        for t in ("t_mh_k3_sig", "t_mh_k3_meta"):
            drop_managed_table(spark, t)


def test_epoch_shuffle_plan_properties(spark):
    """Each epoch is a complete permutation (every row exactly once),
    epochs order rows DIFFERENTLY, positions are dense 1..n per shard, and
    the whole plan is bit-stable under repartitioning."""
    from bigdata_rags_spark.operators.sampling import epoch_shuffle_plan
    from pyspark.sql import functions as F

    df = spark.range(200).select(F.col("id").alias("doc_id"))
    out = epoch_shuffle_plan(df, F.col("doc_id"), n_epochs=2, n_shards=4).collect()
    by_epoch: dict[int, list] = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert sorted(by_epoch) == [0, 1]
    for e, rows in by_epoch.items():
        assert sorted(r["doc_id"] for r in rows) == list(range(200))
        shards: dict[int, list[int]] = {}
        for r in rows:
            shards.setdefault(r["shard"], []).append(r["pos"])
        assert set(shards) <= set(range(4)) and len(shards) == 4
        for poss in shards.values():
            assert sorted(poss) == list(range(1, len(poss) + 1))
    # different epochs -> different orderings (same keys, different salt)
    order = lambda e: [  # noqa: E731
        r["doc_id"]
        for r in sorted(by_epoch[e], key=lambda r: (r["shard"], r["pos"]))
    ]
    assert order(0) != order(1)
    # partitioning-independence
    again = epoch_shuffle_plan(
        df.repartition(13), F.col("doc_id"), n_epochs=2, n_shards=4
    ).collect()
    key = lambda r: (r["epoch"], r["shard"], r["pos"], r["doc_id"])  # noqa: E731
    assert sorted(map(key, again)) == sorted(map(key, out))

def test_unigram_pieces_match_exact_python_replay(spark):
    """Planted corpus: the distributed unigram trainer (seed -> 2 x
    greedy-segment/usage/prune -> final decode) must produce the EXACT
    surviving inventory of a reference python replay, including the
    (usage ASC, piece ASC) prune order and the never-prune-alphabet rule."""
    from bigdata_rags_spark.functions.unigram import train_unigram_pieces

    wc = {"banana": 6, "bandana": 3, "ban": 5, "anna": 4, "nab": 2, "a": 7}

    def replay(wc, n_rounds=2, L=4, min_count=2, denom=4):
        seeds: dict[str, int] = {}
        for w, c in wc.items():
            for i in range(len(w)):
                for l in range(1, min(L, len(w) - i) + 1):
                    p = w[i : i + l]
                    seeds[p] = seeds.get(p, 0) + c
        pieces = sorted(p for p, s in seeds.items() if len(p) == 1 or s >= min_count)

        def usage_of(pieces_set):
            usage: dict[str, int] = {}
            nw: dict[str, set] = {}
            for w, c in wc.items():
                pos = 0
                while pos < len(w):
                    for l in range(min(L, len(w) - pos), 0, -1):
                        cand = w[pos : pos + l]
                        if cand in pieces_set:
                            usage[cand] = usage.get(cand, 0) + c
                            nw.setdefault(cand, set()).add(w)
                            pos += l
                            break
                return_guard = True  # greedy always advances (alphabet coverage)
                assert return_guard
            return usage, nw

        for _ in range(n_rounds):
            usage, _ = usage_of(set(pieces))
            multi = [p for p in pieces if len(p) > 1]
            k = len(multi) // denom
            drop = set(sorted(multi, key=lambda p: (usage.get(p, 0), p))[:k])
            pieces = [p for p in pieces if p not in drop]
        usage, nw = usage_of(set(pieces))
        return sorted(
            (p, len(p), usage.get(p, 0), len(nw.get(p, set()))) for p in pieces
        )

    words = spark.createDataFrame(list(wc.items()), ["word", "cnt"])
    got = sorted(
        (r["piece"], r["piece_len"], r["usage"], r["n_words"])
        for r in train_unigram_pieces(words, n_prune_rounds=2).collect()
    )
    expected = replay(wc)
    assert got == expected, (got, expected)
    # non-vacuous: pruning actually removed multi-char pieces, survivors
    # include multi-char pieces with usage, and the alphabet survived intact
    assert any(pl > 1 and u > 0 for _, pl, u, _ in got)
    assert {p for p, pl, _, _ in got if pl == 1} == set("bandn") | {"a"}
    n_seed_multi = len({p for p, s in (lambda d: d.items())({
        w[i:i+l]: 1 for w in wc for i in range(len(w))
        for l in range(2, min(4, len(w) - i) + 1)}) })
    assert len([p for p, pl, _, _ in got if pl > 1]) < n_seed_multi

def test_wordpiece_merges_match_exact_python_replay(spark):
    """Planted corpus where the WordPiece likelihood argmax and the BPE
    frequency argmax DISAGREE: 'th' is the most frequent pair but its parts
    are ubiquitous; 'qz' is rarer but perfectly predictive (its parts occur
    ONLY together), so count(qz)/(count(q)*count(z)) wins.  The distributed
    trainer must match an exact python replay of the quantized-score rule."""
    from bigdata_rags_spark.functions.wordpiece import SCORE_SCALE, train_wordpiece_merges

    # 'the'/'that'/'tath' spread t/h widely; 'qz' appears as a standalone
    # word so q and z have no other contexts
    wc = {"the": 20, "that": 15, "tath": 5, "qz": 3, "hat": 10}

    def replay(wc, n, scale=SCORE_SCALE):
        vocab = {w: [*w, "</w>"] for w in wc}
        merges = []
        for rnd in range(1, n + 1):
            pair_c: dict[tuple[str, str], int] = {}
            sym_c: dict[str, int] = {}
            for w, syms in vocab.items():
                for s in syms:
                    sym_c[s] = sym_c.get(s, 0) + wc[w]
                for a, b in zip(syms, syms[1:]):
                    pair_c[(a, b)] = pair_c.get((a, b), 0) + wc[w]
            if not pair_c:
                break
            scored = {
                (l, r): (c * scale) // (sym_c[l] * sym_c[r])
                for (l, r), c in pair_c.items()
            }
            (l, r), sq = min(
                scored.items(),
                key=lambda kv: (-kv[1], -pair_c[kv[0]], kv[0][0], kv[0][1]),
            )
            merges.append((rnd, l, r, l + r, pair_c[(l, r)], sq))
            for w, syms in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = out
        return merges

    words = spark.createDataFrame(list(wc.items()), ["word", "cnt"])
    got = [
        (
            r["merge_round"],
            r["sym_left"],
            r["sym_right"],
            r["merged"],
            r["pair_count"],
            r["score_q"],
        )
        for r in train_wordpiece_merges(words, n_merges=8)
        .orderBy("merge_round")
        .collect()
    ]
    expected = replay(wc, 8)
    assert got == expected, (got, expected)
    # the likelihood rule picked the predictive pair first, NOT the most
    # frequent one (BPE would have merged a t/h-family pair first)
    assert (got[0][1], got[0][2]) == ("q", "z")
    freq_first = max(
        {(l, r): c for (_, l, r, _, c, _) in [got[0]]}.values()
    )  # qz count is 3 — far from the corpus-max pair count
    assert freq_first == 3


def test_wordpiece_overflow_guard_raises(spark):
    """The quantized-score overflow contract fails loudly (ValueError with
    guidance), never mid-round under ANSI."""
    import pytest

    from bigdata_rags_spark.functions.wordpiece import train_wordpiece_merges

    words = spark.createDataFrame([("aaaa", 1 << 40)], ["word", "cnt"])
    with pytest.raises(ValueError, match="bigint-safe"):
        train_wordpiece_merges(words, n_merges=1, scale=1 << 40)


def test_hard_negative_mining_band_exclusion(spark):
    """Planted vectors: near-dups (cos >= 0.9) are EXCLUDED and counted as
    positives; the returned negatives are the hardest (highest-cos) below
    the band, ranked; an anchor with no positives reports 0."""
    from bigdata_rags_spark.similarity.knn import hard_negative_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # anchor
        (1, [0.99, 0.05, 0.0, 0.0]), # positive (cos ~0.998)
        (2, [0.95, 0.2, 0.0, 0.0]),  # positive (cos ~0.978)
        (3, [0.8, 0.6, 0.0, 0.0]),   # hard negative (cos 0.8)
        (4, [0.6, 0.8, 0.0, 0.0]),   # negative (cos 0.6)
        (5, [0.0, 1.0, 0.0, 0.0]),   # easy negative (cos 0.0)
        (6, [0.0, 0.0, 1.0, 0.0]),   # second anchor, no positives at all
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["query_id"], r["neg_rank"]): r
        for r in hard_negative_topk(
            e.filter("vec_id IN (0, 6)"), e, k=2, pos_ceiling=0.9
        ).collect()
    }
    # anchor 0: positives 1,2 excluded (n_positives=2); hardest negatives 3 then 4
    assert got[(0, 1)]["neighbor_id"] == 3 and got[(0, 1)]["n_positives"] == 2
    assert got[(0, 2)]["neighbor_id"] == 4
    assert abs(got[(0, 1)]["similarity"] - 0.8) < 1e-9
    # anchor 6: everything is a negative, n_positives = 0
    assert got[(6, 1)]["n_positives"] == 0
    assert all(r["similarity"] < 0.9 for r in got.values())


def test_soft_dedup_exact_replay_and_mass(spark):
    """Soft dedup decisions replay exactly in python (same md5 uniforms),
    size-1 clusters are always kept, and the kept mass of a big planted
    cluster is near its expectation of 1."""
    import hashlib

    from bigdata_rags_spark.operators.sampling import soft_dedup_sample

    rows = [(i, "common shared duplicate text") for i in range(200)]
    rows += [(1000 + i, f"unique text number {i}") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in soft_dedup_sample(docs).collect()}

    def u32(doc_id):
        return int(hashlib.md5(f"softdedup:{doc_id}".encode()).hexdigest()[:8], 16)

    for doc_id, _ in rows:
        size = 200 if doc_id < 1000 else 1
        assert got[doc_id]["cluster_size"] == size
        assert got[doc_id]["kept"] == int(u32(doc_id) * size < 2**32), doc_id
    assert all(got[1000 + i]["kept"] == 1 for i in range(50))  # uniques always kept
    kept_mass = sum(got[i]["kept"] for i in range(200))
    assert kept_mass <= 6  # E=1; generous deterministic bound for this seed


def test_temperature_mixing_rebalances_and_caps(spark):
    """tau=2 mixing: the big domain is down-weighted (rate < 1), small
    domains hit the UniMax one-epoch cap (alloc == n_docs), and the exact
    integer allocations match hand computation."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.operators.sampling import temperature_mixing_plan

    df = (
        spark.range(10101)
        .withColumn(
            "source",
            F.when(F.col("id") < 10000, "big")
            .when(F.col("id") < 10100, "mid")
            .otherwise("tiny"),
        )
    )
    got = {r["domain"]: r for r in temperature_mixing_plan(df).collect()}
    # weights: floor(sqrt(10000))=100, floor(sqrt(100))=10, floor(sqrt(1))=1
    # B = 10101 // 2 = 5050, W = 111
    assert got["big"]["alloc"] == min(10000, 5050 * 100 // 111)  # 4549
    assert got["mid"]["alloc"] == 100  # capped at n_docs (5050*10//111=454 > 100)
    assert got["tiny"]["alloc"] == 1  # capped
    assert got["big"]["rate_micro"] == 4549 * 1000000 // 10000
    assert got["mid"]["rate_micro"] == 1000000 and got["tiny"]["rate_micro"] == 1000000
    assert got["big"]["rate_micro"] < 500000  # big domain sampled BELOW the flat rate


def test_sequence_packing_exact_replay(spark):
    """Packing plan equals a python replay of the concatenate-then-chunk
    layout (md5 order per shard, prefix-sum cuts), and the derived
    invariants hold: offsets < seq_len and each shard's stream is gapless
    (start_seq*L + seq_offset == exact tokens before the doc)."""
    import hashlib

    from bigdata_rags_spark.operators.sampling import sequence_packing_plan

    rows = [(i, " ".join(["tok"] * (3 + (i * 7) % 40))) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    L, S = 16, 3
    got = {
        r["doc_id"]: r
        for r in sequence_packing_plan(docs, seq_len=L, n_shards=S).collect()
    }

    def sk(i):
        return hashlib.md5(f"pack:{i}".encode()).hexdigest()

    per_shard: dict[int, list[tuple[str, int, int]]] = {}
    for i, text in rows:
        shard = int(sk(i)[:8], 16) % S
        per_shard.setdefault(shard, []).append((sk(i), i, len(text.split()) + 1))
    for shard, docs_s in per_shard.items():
        before = 0
        for _, i, n in sorted(docs_s):
            r = got[i]
            assert (r["shard"], r["n_tokens"]) == (shard, n)
            assert r["start_seq"] == before // L and r["seq_offset"] == before % L
            assert 0 <= r["seq_offset"] < L
            before += n


def test_split_leakage_audit_planted(spark):
    """Planted dup cluster straddling splits is reported with the right
    member count and sorted split list; single-split clusters are not."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.queries.llm_ops import split_leakage_audit

    # find ids landing in different splits under the md5 bucket rule
    import hashlib

    def split_of(i):
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    # avoid ids divisible by 9: the audit corpus plants re-keyed copies of
    # those, which would add leaks beyond the planted one
    train_ids = [i for i in range(300) if split_of(i) == "train" and i % 9]
    test_ids = [i for i in range(300) if split_of(i) == "test" and i % 9]
    rows = [(train_ids[0], "leaky duplicate text"), (test_ids[0], "leaky duplicate text")]
    rows += [(train_ids[1], "safe duplicate"), (train_ids[2], "safe duplicate")]
    rows += [(train_ids[3], "unique text")]
    import os, tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = split_leakage_audit(spark, d).collect()
    assert len(got) == 1
    assert got[0]["n_docs"] == 2 and got[0]["n_splits"] == 2
    assert got[0]["splits"] == "test,train"


def test_corpus_health_report_planted(spark):
    """Hand-computable planted corpus: dup mass, short docs, integer mean
    and micro rate all exact."""
    import os, tempfile

    from bigdata_rags_spark.queries.llm_ops import corpus_health_report

    long = " ".join(["w"] * 60)
    rows = [
        (0, long, "en", "a"), (1, long, "en", "b"),      # dup pair: 2 dup docs
        (2, "short doc", "es", "a"),                      # short (<50 toks)
        (3, " ".join(["x"] * 50), "en", "c"),             # exactly 50: not short
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, l, s, len(t)) for i, t, l, s in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        r = corpus_health_report(spark, d).collect()[0]
    assert (r["n_docs"], r["n_tokens"], r["n_langs"], r["n_sources"]) == (4, 172, 2, 3)
    assert (r["n_distinct_texts"], r["dup_docs"]) == (3, 2)
    assert r["dup_rate_micro"] == 2 * 1000000 // 4
    assert r["short_docs"] == 1
    assert r["mean_doc_tokens"] == 172 // 4


def test_embedding_decontamination_planted_paraphrase(spark, sf_smoke):
    """A train vector planted as a near-copy (scaled, cosine 1.0) of an
    eval anchor MUST be flagged through the ANN path; its negation
    (cosine -1) must not.  This is the paraphrase case the n-gram
    decontamination misses: same meaning-space position, any surface."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.io.readers import read_testdata
    from bigdata_rags_spark.similarity.pq import ivfpq_search_rerank

    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    anchors = e.filter(F.col("vec_id") < 25)
    anchor3 = e.filter(F.col("vec_id") == 3).select(
        F.lit(9001).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.5)).cast("array<float>").alias("embedding"),
    )
    anti3 = e.filter(F.col("vec_id") == 3).select(
        F.lit(9002).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: -x).cast("array<float>").alias("embedding"),
    )
    train = (
        e.filter(F.col("vec_id") >= 25)
        .select("vec_id", "embedding")
        .unionByName(anchor3)
        .unionByName(anti3)
    )
    hits = ivfpq_search_rerank(anchors, train, k=10, n_probe=4, shortlist=50)
    flagged = {
        r["train_id"]: r["max_similarity"]
        for r in hits.filter(F.col("similarity") >= 0.4)
        .groupBy(F.col("neighbor_id").alias("train_id"))
        .agg(F.max("similarity").alias("max_similarity"))
        .collect()
    }
    assert flagged.get(9001) == 1.0  # planted paraphrase caught at cosine 1
    assert 9002 not in flagged       # opposite direction never flags


def test_quality_weighted_mixing_prefers_small_high_quality_domain(spark):
    """A small high-quality domain must earn a HIGHER sampling rate than a
    big low-quality one (the whole point of weighting by quality), while
    the UniMax cap still bounds alloc at domain size."""
    from bigdata_rags_spark.operators.sampling import quality_weighted_mixing_plan

    rows = [("gold", i, 900_000) for i in range(4)] + [
        ("sludge", 100 + i, 100_000) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "q_micro"])
    plan = {r["domain"]: r for r in quality_weighted_mixing_plan(df).collect()}
    assert plan["gold"]["mean_q_micro"] == 900_000
    assert plan["sludge"]["mean_q_micro"] == 100_000
    # weight: floor(sqrt(4))*9e5 = 1.8e6 vs floor(sqrt(100))*1e5 = 1e6
    assert plan["gold"]["weight"] == 1_800_000
    assert plan["sludge"]["weight"] == 1_000_000
    assert plan["gold"]["rate_micro"] > plan["sludge"]["rate_micro"]
    for r in plan.values():
        assert r["alloc"] <= r["n_docs"]  # never oversample past one epoch
    # exact integer replay: budget = 104 // 2 = 52
    assert plan["gold"]["alloc"] == min(4, 52 * 1_800_000 // 2_800_000)
    assert plan["sludge"]["alloc"] == min(100, 52 * 1_000_000 // 2_800_000)


@pytest.mark.slow  # ~14 s measured r17
def test_text_hashed_ann_topk_finds_planted_neighbor(spark):
    """End-to-end text ANN: querying with a doc that has a planted
    near-copy must return that copy at rank 1 with high exact cosine,
    invariant to partitioning."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.functions.featurize import hashed_doc_vectors
    from bigdata_rags_spark.similarity.pq import ivfpq_search_rerank

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [(1, base), (2, base + "lambda")] + [
        (10 + i, f"filler doc number {i} about topic {i % 7} with words " * 3)
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for n_parts in (1, 4):
        vecs = hashed_doc_vectors(docs.repartition(n_parts), dim=64)
        q = vecs.filter(F.col("vec_id") == 1)
        top = ivfpq_search_rerank(q, vecs, k=3, n_probe=16, shortlist=20).collect()
        best = min(top, key=lambda r: r["rank"])
        assert best["neighbor_id"] == 2 and best["similarity"] >= 0.8, top


def test_wordpiece_encode_differs_from_bpe_when_rules_differ(spark):
    """The trainer-agnostic encode must reflect the RULES it was given: on
    a corpus where WordPiece's likelihood argmax picks a different merge
    than BPE's frequency argmax, the two encodes differ, and each matches
    a replay with its own rules."""
    from bigdata_rags_spark.functions.bpe import bpe_encode_documents, train_bpe_merges
    from bigdata_rags_spark.functions.text import ws_tokens
    from bigdata_rags_spark.functions.wordpiece import train_wordpiece_merges

    # 'xy' is frequent (BPE merges it) but x,y are individually common so
    # WordPiece's count/(cl*cr) score prefers the rare-but-exclusive 'qz'
    texts = {
        1: "xy xy xy xy qz",
        2: "x y x y x y qz",
        3: "xy x y qz qz",
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    words = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bpe = [
        (r["sym_left"], r["sym_right"])
        for r in train_bpe_merges(words, n_merges=2).orderBy("merge_round").collect()
    ]
    wp = [
        (r["sym_left"], r["sym_right"])
        for r in train_wordpiece_merges(words, n_merges=2)
        .orderBy("merge_round")
        .collect()
    ]
    assert bpe != wp  # the planted corpus separates the two argmaxes
    enc_b = {r["doc_id"]: r["token_ids"] for r in bpe_encode_documents(docs, bpe).collect()}
    enc_w = {r["doc_id"]: r["token_ids"] for r in bpe_encode_documents(docs, wp).collect()}
    assert enc_b != enc_w
    # both encodes cover every doc with positive token counts
    assert set(enc_b) == set(enc_w) == set(texts)


def test_hashed_features_idf_scaling(spark):
    """idf=True must scale each occurrence by 1e6 DIV df: a feature in all
    docs gets weight sign*(1e6//N) per occurrence, a singleton gets
    sign*1e6 — replayed exactly in python."""
    import hashlib

    from bigdata_rags_spark.functions.featurize import hashed_doc_features

    texts = {1: "common rare1", 2: "common", 3: "common rare3 rare3"}
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    dim = 16

    def feats(t):
        ws = t.lower().split()
        return ws + [" ".join(p) for p in zip(ws, ws[1:])]

    dfreq: dict[str, set] = {}
    for d, t in texts.items():
        for f in set(feats(t)):
            dfreq.setdefault(f, set()).add(d)
    expected: dict[tuple[int, int], int] = {}
    for d, t in texts.items():
        for f in feats(t):
            h = hashlib.md5(f"feat:{f}".encode()).hexdigest()
            b = int(h[:8], 16) % dim
            s = 1 if int(h[8], 16) % 2 == 0 else -1
            expected[(d, b)] = expected.get((d, b), 0) + s * (1_000_000 // len(dfreq[f]))
    got = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in hashed_doc_features(docs, dim=dim, idf=True).collect()
    }
    assert got == expected


def test_unigram_encode_docs_matches_greedy_replay(spark):
    """The ordered greedy segmentation and the full unigram document
    encode must equal a python replay: longest-prefix-first pieces with
    positions, sorted-piece ids, doc reassembly in word order; words over
    the 16-char cap drop from the stream."""
    from bigdata_rags_spark.functions.bpe import encode_documents_from_word_pieces
    from bigdata_rags_spark.functions.unigram import greedy_segment_pieces

    pieces = ["a", "b", "c", "ab", "abc", "x"]
    texts = {1: "abcab x", 2: "ab abba", 3: "abcabcabcabcabcabcab c"}  # 20-char word drops
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    words = docs.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")).groupBy(
        "word"
    ).agg(F.count(F.lit(1)).alias("cnt"))

    def seg(word):
        out, pos = [], 0
        while pos < len(word):
            for plen in range(min(4, len(word) - pos), 0, -1):
                cand = word[pos : pos + plen]
                if cand in pieces:
                    out.append((pos + 1, cand))
                    pos += plen
                    break
            else:
                out.append((pos + 1, word[pos]))
                pos += 1
        return out

    got = {}
    for r in greedy_segment_pieces(words, pieces).collect():
        got.setdefault(r["word"], []).append((r["spos"], r["piece"]))
    all_words = {w for t in texts.values() for w in t.split() if len(w) <= 16}
    assert {w: sorted(v) for w, v in got.items()} == {w: seg(w) for w in all_words}

    wseg = greedy_segment_pieces(words, pieces).withColumnRenamed("piece", "subword")
    enc = {
        r["doc_id"]: (r["n_words"], r["token_ids"])
        for r in encode_documents_from_word_pieces(docs, wseg).collect()
    }
    vocab = sorted({p for w in all_words for _, p in seg(w)})
    tid = {p: i + 1 for i, p in enumerate(vocab)}
    for d, t in texts.items():
        kept = [w for w in t.split() if len(w) <= 16]
        ids = [tid[p] for w in kept for _, p in seg(w)]
        assert enc[d] == (len(kept), ",".join(map(str, ids))), (d, enc[d])


def test_bradley_terry_orders_planted_tournament(spark):
    """BT ratings from a planted skill order (A beats B 9:1, B beats C 9:1,
    A beats C 9:1) must rank A > B > C, and every MM iteration must equal
    a from-scratch integer python replay (fixed division order)."""
    from bigdata_rags_spark.functions.evals import bradley_terry_ratings

    rows = []
    for a, b in (("A", "B"), ("B", "C"), ("A", "C")):
        rows += [(a, b, a)] * 9 + [(a, b, b)]
    df = spark.createDataFrame(rows, ["model_a", "model_b", "winner"])
    out = {r["model"]: r for r in bradley_terry_ratings(df, n_iter=3).collect()}
    assert [m for m, _ in sorted(out.items(), key=lambda kv: kv[1]["rank"])] == ["A", "B", "C"]
    assert out["A"]["rating_micro"] > out["B"]["rating_micro"] > out["C"]["rating_micro"]
    assert out["A"]["n_matches"] == 20 and out["A"]["n_wins"] == 18

    # exact python replay of the 3 MM rounds
    models = ["A", "B", "C"]
    n = {}; w = {}
    for a, b in (("A", "B"), ("B", "C"), ("A", "C")):
        n[(a, b)] = n[(b, a)] = 10
        w[(a, b)] = 9; w[(b, a)] = 1
    wins = {m: sum(w.get((m, o), 0) for o in models) for m in models}
    r = {m: 1_000_000 for m in models}
    for _ in range(3):
        s = {
            m: sum(
                n[(m, o)] * 1_000_000_000_000 // (r[m] + r[o])
                for o in models
                if (m, o) in n
            )
            for m in models
        }
        raw = {m: wins[m] * 1_000_000_000_000 // s[m] for m in models}
        t = sum(raw.values())
        r = {m: raw[m] * 1_000_000 * len(models) // t for m in models}
    for m in models:
        assert out[m]["rating_micro"] == r[m], m


def test_best_of_n_argmax_median_margin(spark):
    """Winner = reward argmax (ties -> lowest cand id); median = exact
    (n+1) div 2 rank pick; margin = best - median."""
    from bigdata_rags_spark.functions.evals import best_of_n

    rows = [
        (1, 1, 100), (1, 2, 900), (1, 3, 500),          # odd n: median = 500
        (2, 1, 700), (2, 2, 700), (2, 3, 100), (2, 4, 300),  # tie at top -> cand 1
    ]
    df = spark.createDataFrame(rows, ["task_id", "cand_id", "reward_micro"])
    out = {r["task_id"]: r for r in best_of_n(df).collect()}
    assert (out[1]["best_id"], out[1]["best_micro"]) == (2, 900)
    assert out[1]["median_micro"] == 500 and out[1]["margin_micro"] == 400
    # even n=4: rank (4+1) div 2 = 2 under ascending order -> 300
    assert (out[2]["best_id"], out[2]["median_micro"]) == (1, 300)
    assert out[2]["margin_micro"] == 400


def _byte_rules(spark, docs, n_merges=4):
    from bigdata_rags_spark.functions.bpe import encode_word_bytes, train_bpe_merges
    from bigdata_rags_spark.functions.text import ws_tokens
    from pyspark.sql import functions as F

    words = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return [
        (r["sym_left"], r["sym_right"])
        for r in train_bpe_merges(words, n_merges=n_merges, encoder=encode_word_bytes)
        .orderBy("merge_round")
        .collect()
    ]


def test_byte_bpe_roundtrip_lossless_on_planted_unicode(spark):
    """VERDICT r13 #5: the byte-fallback encode must round-trip EXACTLY —
    word boundaries and every non-ASCII byte — on planted unicode docs
    (accents, CJK, emoji)."""
    from bigdata_rags_spark.functions.bpe import (
        bpe_encode_documents_bytes,
        byte_vocab,
        decode_byte_token_ids,
    )

    rows = [
        (1, "héllo wörld héllo wörld"),
        (2, "日本語 テスト 日本語"),
        (3, "emoji 🚀 rocket 🚀 emoji"),
        (4, "mixed ascii and ñ plus €"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    rules = _byte_rules(spark, docs)
    enc = bpe_encode_documents_bytes(docs, rules).localCheckpoint()
    dec = {r["doc_id"]: r["decoded"] for r in
           decode_byte_token_ids(enc, byte_vocab(spark, rules)).collect()}
    for doc_id, text in rows:
        assert dec[doc_id] == " ".join(text.split()), (doc_id, dec[doc_id])


def test_byte_bpe_encodes_out_of_alphabet_serving_text(spark):
    """The byte-fallback guarantee: rules trained on an ASCII-only corpus
    still encode (and losslessly decode) serving text whose characters
    the training alphabet never saw — the exact failure mode of the
    char-seeded encoders under a frozen vocab."""
    from bigdata_rags_spark.functions.bpe import (
        bpe_encode_documents_bytes,
        byte_vocab,
        decode_byte_token_ids,
    )

    train_docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the lazy dog jumps")], ["doc_id", "text"]
    )
    rules = _byte_rules(spark, train_docs)
    serve = spark.createDataFrame([(10, "naïve café 東京 🚀")], ["doc_id", "text"])
    enc = bpe_encode_documents_bytes(serve, rules).localCheckpoint()
    row = enc.collect()[0]
    assert row["n_words"] == 4 and row["n_tokens"] > 0
    dec = decode_byte_token_ids(enc, byte_vocab(spark, rules)).collect()[0]
    assert dec["decoded"] == "naïve café 東京 🚀"


def test_byte_bpe_keeps_bracket_delimiter_words(spark):
    """ADVICE r14 #1: words containing the \\x1f/\\x1e symbol delimiters
    hex-encode under the byte-level encoder (bytes '1F'/'1E' can never
    collide with the raw delimiter chars), so they must NOT be filtered —
    the closed-alphabet lossless guarantee covers literally any input."""
    from bigdata_rags_spark.functions.bpe import (
        bpe_encode_documents_bytes,
        byte_vocab,
        decode_byte_token_ids,
    )

    weird = "a\x1fb c\x1ed plain"
    docs = spark.createDataFrame([(1, weird)], ["doc_id", "text"])
    rules = _byte_rules(spark, docs)
    enc = bpe_encode_documents_bytes(docs, rules).localCheckpoint()
    row = enc.collect()[0]
    assert row["n_words"] == 3  # the delimiter-carrying words survive encode
    dec = decode_byte_token_ids(enc, byte_vocab(spark, rules)).collect()[0]
    assert dec["decoded"] == weird


def test_curriculum_anneal_plan_flattens_toward_uniform(spark):
    """Epoch 1 = natural distribution; each later epoch's sqrt must raise
    the SMALL domains' sampling rate monotonically (flattening toward
    uniform), with the UniMax cap holding in every epoch."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.operators.sampling import curriculum_anneal_plan

    rows = (
        [(i, "big") for i in range(100)]
        + [(i + 100, "mid") for i in range(9)]
        + [(i + 200, "tiny") for i in range(4)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = curriculum_anneal_plan(df, domain_col="source", n_epochs=3).collect()
    assert len(out) == 9
    by = {(r["epoch"], r["domain"]): r for r in out}
    # weight chain: n -> floor(sqrt(n)) -> floor(sqrt(floor(sqrt(n))))
    assert [by[(e, "big")]["weight"] for e in (1, 2, 3)] == [100, 10, 3]
    assert [by[(e, "mid")]["weight"] for e in (1, 2, 3)] == [9, 3, 1]
    for r in out:
        assert 0 <= r["alloc"] <= r["n_docs"]
        assert r["rate_micro"] == r["alloc"] * 1_000_000 // r["n_docs"]
    # small domains' sampling rate is non-decreasing across epochs; the
    # big domain's share of the (constant) budget shrinks
    for dom in ("mid", "tiny"):
        rates = [by[(e, dom)]["rate_micro"] for e in (1, 2, 3)]
        assert rates == sorted(rates), (dom, rates)
    big_rates = [by[(e, "big")]["rate_micro"] for e in (1, 2, 3)]
    assert big_rates[0] > big_rates[-1]


def test_nb_calibration_bins_on_separable_planted_split(spark):
    """A cleanly separable seed/held split must land positives in a high
    probability bin with emp_rate 1e6 and negatives in a low bin with
    emp_rate 0, and gap must equal mean_prob - emp_rate exactly."""
    from bigdata_rags_spark.quality import nb_calibration_bins, nb_fit_weights

    seed = spark.createDataFrame(
        [(1, "good " * 20), (0, "bad " * 20)] * 3, ["y", "text"]
    )
    weights = nb_fit_weights(seed)
    held = spark.createDataFrame(
        [
            (1, "good good good good good", 1),
            (2, "good good good good", 1),
            (3, "bad bad bad bad bad", 0),
            (4, "bad bad bad", 0),
        ],
        ["doc_id", "text", "y"],
    )
    out = nb_calibration_bins(held, weights).collect()
    assert sum(r["n_docs"] for r in out) == 4
    for r in out:
        assert 0 <= r["bin"] <= 9
        assert r["gap_micro"] == r["mean_prob_micro"] - r["emp_rate_micro"]
    hi = max(out, key=lambda r: r["bin"])
    lo = min(out, key=lambda r: r["bin"])
    assert hi["emp_rate_micro"] == 1_000_000 and hi["n_pos"] == hi["n_docs"]
    assert lo["emp_rate_micro"] == 0 and lo["n_pos"] == 0
    assert hi["bin"] > lo["bin"]


def test_ivfpq_recall_report_bounds_and_nonvacuous(spark, sf_oracle):
    from bigdata_rags_spark.queries.catalog import REGISTRY

    out = REGISTRY["ivfpq_recall_report"].spark(spark, sf_oracle).collect()
    assert len(out) == 25  # one row per query, hit or not
    assert all(0 <= r["n_hits"] <= 10 for r in out)
    assert all(r["recall_micro"] == r["n_hits"] * 100_000 for r in out)
    # the probed-cells path must find SOMETHING on the fixture
    assert sum(r["n_hits"] for r in out) > 0


def test_tokenizer_fertility_higher_for_unseen_language(spark):
    """A language whose words the merges never compress must pay more
    tokens per word than the language the merges were trained on."""
    from bigdata_rags_spark.functions.bpe import bpe_encode_documents, train_bpe_merges
    from bigdata_rags_spark.functions.text import ws_tokens
    from pyspark.sql import functions as F

    rows = [
        (1, "aaaa aaaa aaaa aaaa", "aa"),
        (2, "aaaa aaaa aaaa", "aa"),
        (3, "xyzw qrst mnop", "zz"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    words = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rules = [
        (r["sym_left"], r["sym_right"])
        for r in train_bpe_merges(words, n_merges=4).orderBy("merge_round").collect()
    ]
    enc = bpe_encode_documents(docs, rules)
    fert = {
        r["lang"]: r["fertility_micro"]
        for r in enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.expr("SUM(n_tokens) * 1000000 DIV SUM(n_words)")
            .cast("bigint")
            .alias("fertility_micro")
        )
        .collect()
    }
    assert fert["aa"] < fert["zz"]
    assert all(v >= 1_000_000 for v in fert.values())


def test_quality_aware_keepers_picks_best_scored_member(spark):
    """Planted cluster: two docs share an 8-token prefix, scores differ —
    the keeper must be the higher-scored one even when it has the HIGHER
    id (quality overrides min-id); singleton clusters are excluded."""
    from bigdata_rags_spark.dedup.exact import quality_aware_keepers

    head = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, head + " junk junk junk"),
            (2, head + " brilliant insightful prose"),
            (3, "totally unrelated single document here words"),
        ],
        ["doc_id", "text"],
    )
    scores = spark.createDataFrame(
        [(1, -500_000), (2, 900_000), (3, 100_000)], ["doc_id", "score_micro"]
    )
    out = quality_aware_keepers(docs, scores).collect()
    assert len(out) == 1
    r = out[0]
    assert r["keeper_id"] == 2 and r["keeper_score_micro"] == 900_000
    assert r["cluster_size"] == 2 and r["min_id_keeper"] == 1
    assert r["quality_upgraded"] == 1
    # tie on score -> lowest id wins
    tie = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 1)], ["doc_id", "score_micro"]
    )
    r2 = quality_aware_keepers(docs, tie).collect()[0]
    assert r2["keeper_id"] == 1 and r2["quality_upgraded"] == 0


def _skew_vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


@pytest.mark.slow  # ~11 s measured r17
def test_lsh_skew_preflight_prices_pair_join_exactly(spark):
    """The histogram-times-mask formula must equal the brute-force count of
    (a < b) pairs at signature Hamming <= probe_bits, per table."""
    from itertools import combinations

    from bigdata_rags_spark.functions.vectors import _deterministic_hyperplanes
    from bigdata_rags_spark.similarity.knn import (
        lsh_bucket_skew_report,
        signature_col,
    )
    from pyspark.sql import functions as F

    # deterministic varied vectors: index-derived components, mixed signs
    rows = [
        (i, [((i * 31 + d * 17) % 19) - 9.0 for d in range(64)]) for i in range(60)
    ]
    df = _skew_vecs(spark, rows)
    rep = {r["tbl"]: r for r in lsh_bucket_skew_report(df, n_planes=8).collect()}
    for t in range(4):
        planes = _deterministic_hyperplanes(64, 8, seed=f"lsh{t}" if t else "lsh")
        sigs = [
            r["s"]
            for r in df.select(
                signature_col(F.col("embedding"), planes).alias("s")
            ).collect()
        ]
        brute = sum(
            1
            for a, b in combinations(sigs, 2)
            if bin(a ^ b).count("1") <= 2
        )
        assert rep[t]["probed_pair_cost"] == brute, (t, rep[t], brute)


def test_lsh_skew_preflight_flags_degenerate_bucket(spark):
    """All-identical vectors collapse into one bucket per table: the
    pre-flight must price the full C(N,2) quadratic blowup and a skew
    ratio far above the uniform floor."""
    from bigdata_rags_spark.similarity.knn import lsh_bucket_skew_report

    n = 40
    df = _skew_vecs(spark, [(i, [1.0] * 64) for i in range(n)])
    for r in lsh_bucket_skew_report(df, n_planes=8).collect():
        assert r["n_buckets"] == 1 and r["max_bucket"] == n
        assert r["eq_pair_cost"] == n * (n - 1) // 2
        assert r["probed_pair_cost"] == n * (n - 1) // 2
        assert r["hottest_share_micro"] == 1_000_000
        assert r["skew_ratio_micro"] > 5_000_000  # >> 1e6 == at-floor


def test_lsh_skew_preflight_raw_exceeds_idf_on_fixture(spark):
    """The r14 demotion, as a query: the raw-count featurization's
    predicted probed-pair cost must exceed the idf featurization's on the
    real documents fixture, for every table."""
    from bigdata_rags_spark.queries.llm_ops import lsh_bucket_skew_preflight

    rows = lsh_bucket_skew_preflight(spark, "/root/testdata/sf0.001").collect()
    raw = {r["tbl"]: r["probed_pair_cost"] for r in rows if r["variant"] == "raw"}
    idf = {r["tbl"]: r["probed_pair_cost"] for r in rows if r["variant"] == "idf"}
    assert set(raw) == set(idf) == {0, 1, 2, 3}
    for t in raw:
        assert raw[t] > idf[t], (t, raw[t], idf[t])


def test_binary_agreement_kappa_endpoints(spark):
    """Planted endpoints of the kappa scale: identical mixed gates -> 1000,
    perfectly inverted 50/50 gates -> -1000, one-constant gate -> NULL."""
    from bigdata_rags_spark.quality import binary_agreement_report

    same = spark.createDataFrame([(1, 1), (0, 0), (1, 1), (0, 0)], ["a", "b"])
    r = binary_agreement_report(same).collect()[0]
    assert (r["po_micro"], r["kappa_milli"]) == (1_000_000, 1000)
    inv = spark.createDataFrame([(1, 0), (0, 1), (1, 0), (0, 1)], ["a", "b"])
    r = binary_agreement_report(inv).collect()[0]
    assert (r["po_micro"], r["kappa_milli"]) == (0, -1000)
    const = spark.createDataFrame([(1, 1), (1, 1)], ["a", "b"])
    r = binary_agreement_report(const).collect()[0]
    assert r["kappa_milli"] is None  # chance agreement == 1: undefined


def test_score_threshold_ablation_hand_computed(spark):
    """Hand-checkable 3-doc curve: monotone keep counts, exact token
    shares, empty tail."""
    from bigdata_rags_spark.quality import score_threshold_ablation

    m = spark.createDataFrame(
        [(1, 10, -5000), (2, 30, 0), (3, 60, 7000)],
        ["doc_id", "n_tokens", "mean_micro"],
    )
    out = {
        r["thr_micro"]: r
        for r in score_threshold_ablation(m, (-10000, 0, 5000, 10000)).collect()
    }
    assert out[-10000]["n_kept"] == 3 and out[-10000]["token_share_micro"] == 1_000_000
    assert out[0]["n_kept"] == 2 and out[0]["tokens_kept"] == 90
    assert out[0]["token_share_micro"] == 900_000
    assert out[5000]["n_kept"] == 1 and out[5000]["tokens_kept"] == 60
    assert out[10000]["n_kept"] == 0 and out[10000]["token_share_micro"] == 0


def test_dsir_weights_spine_bounds_and_signs(spark):
    """dsir_importance_weights: complete 1024-bucket spine, weights
    bounded in (-1e6, 1e6), and signs follow the target/raw contrast —
    buckets hit only by target bigrams weigh positive, raw-only buckets
    negative."""
    import hashlib

    from bigdata_rags_spark.quality import DSIR_BUCKETS, dsir_importance_weights

    target = spark.createDataFrame(
        [(1, "stir the sauce gently")], ["doc_id", "text"]
    )
    raw = spark.createDataFrame(
        [(1, "stir the sauce gently"), (2, "quarterly earnings beat forecasts")],
        ["doc_id", "text"],
    )
    w = dsir_importance_weights(target, raw).collect()
    assert len(w) == DSIR_BUCKETS
    assert all(-1_000_000 < r["w_micro"] < 1_000_000 for r in w)

    def bucket(bg: str) -> int:
        return int(hashlib.md5(bg.encode()).hexdigest()[:4], 16) % DSIR_BUCKETS

    by_b = {r["b"]: r for r in w}
    # a target bigram's bucket: tc > 0, and the target corpus is smaller so
    # its add-one rate dominates -> positive weight
    assert by_b[bucket("stir the")]["w_micro"] > 0
    # a raw-only bigram's bucket: tc == 0, rc > 0 -> negative weight
    assert by_b[bucket("quarterly earnings")]["w_micro"] < 0


def test_dsir_downweights_nb_kept_domain_mismatch(spark):
    """VERDICT r15 next #4's done-criterion — the generative/discriminative
    separation, planted: a lexically fluent English doc the trained NB
    quality gate KEEPS (stopword-class evidence) gets a NEGATIVE DSIR mean
    importance (its bigrams are foreign to the target domain), while a
    target-domain doc scores positive and outweighs it in the resampling
    weight."""
    from bigdata_rags_spark.quality import (
        dsir_doc_scores,
        dsir_importance_weights,
        nb_fit_weights,
        nb_score_docs,
    )

    # the test_curation seed convention: bucket-disjoint en/es stopwords
    seed = spark.createDataFrame(
        [
            (1, "the and of to in is it you that"),
            (0, "la que un ser no se de y en"),
        ],
        ["y", "text"],
    )
    doc_a = (1, "the and of kiwi mango in to is it cherry")  # fluent, off-domain
    doc_b = (2, "stir the sauce gently then add the salt now")  # on-domain
    docs = spark.createDataFrame([doc_a, doc_b], ["doc_id", "text"])
    # NB keeps doc A: majority class-1 stopword evidence
    nb = {r["doc_id"]: r for r in nb_score_docs(docs, nb_fit_weights(seed)).collect()}
    assert nb[1]["keep"] == 1

    target = spark.createDataFrame(
        [
            (100, "stir the sauce gently then add the salt now"),
            (101, "add the salt then stir the sauce gently now"),
            (102, "simmer the sauce then add the salt and stir"),
        ],
        ["doc_id", "text"],
    )
    # raw = the broad corpus: the target slice is a small minority (the
    # realistic shape — DSIR contrasts a narrow target against a big raw
    # marginal).  The raw bigram mass must also dominate the +DSIR_BUCKETS
    # smoothing term, or the add-one denominators flatten both rates and
    # every target⊆raw bigram goes negative (tc <= rc always) — the exact
    # degenerate regime the first run of this test found.
    fillers = spark.createDataFrame(
        [
            (200 + i, "quarterly earnings beat forecasts as markets rallied today")
            for i in range(100)
        ],
        ["doc_id", "text"],
    )
    raw = target.unionByName(docs).unionByName(fillers)
    w = dsir_importance_weights(target, raw)
    d = {r["doc_id"]: r for r in dsir_doc_scores(docs, w).collect()}
    # DSIR: the NB-kept doc is down-weighted, the domain doc is not
    assert d[1]["mean_imp_micro"] < 0 < d[2]["mean_imp_micro"]
    assert d[1]["weight"] < d[2]["weight"]


def test_binary_agreement_kappa_wide_counts_no_overflow(spark):
    """ADVICE r15 #1: the pe_micro marginal products must survive n large
    enough that bigint arithmetic would overflow ((n-1)^2 * 1e6 > 2^63
    at n = 4M with near-constant gates) — DECIMAL(38,0) keeps the ANSI
    session from erroring and the value exact."""
    from pyspark.sql import functions as F

    from bigdata_rags_spark.quality import binary_agreement_report

    n = 4_000_000
    flags = spark.range(n).select(
        F.expr("CASE WHEN id = 0 THEN 0 ELSE 1 END").alias("a"),
        F.expr("CASE WHEN id = 1 THEN 0 ELSE 1 END").alias("b"),
    )
    r = binary_agreement_report(flags).collect()[0]
    assert (r["n"], r["n11"], r["n10"], r["n01"], r["n00"]) == (n, n - 2, 1, 1, 0)
    po = (n - 2) * 1_000_000 // n
    pe = ((n - 1) * (n - 1) + 1) * 1_000_000 // (n * n)
    assert (r["po_micro"], r["pe_micro"]) == (po, pe)
    assert r["kappa_milli"] == (po - pe) * 1000 // (1_000_000 - pe)


def test_score_threshold_ablation_empty_input_emits_full_ladder(spark):
    """ADVICE r15 #3: an empty scored frame must still emit |thresholds|
    rows, all counts zero — the docstring contract, now via the ladder
    left-join."""
    from bigdata_rags_spark.quality import score_threshold_ablation

    m = spark.createDataFrame([], "doc_id bigint, n_tokens bigint, mean_micro bigint")
    rows = score_threshold_ablation(m, (-10000, 0, 5000)).collect()
    assert sorted(r["thr_micro"] for r in rows) == [-10000, 0, 5000]
    for r in rows:
        assert (r["n_kept"], r["tokens_kept"], r["token_share_micro"]) == (0, 0, 0)


def test_bootstrap_rank_picks_derived_and_validated(spark):
    """ADVICE r15 #4: lo/hi ranks derive from n_replicates when omitted
    (floor 2.5%/97.5% — 5/195 at B=200, 1/39 at B=40) and explicit ranks
    beyond B raise instead of silently yielding a NULL bound."""
    import pytest as _pytest

    from bigdata_rags_spark.functions.evals import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [(i, (i * 37) % 1_000_001) for i in range(20)], ["task_id", "score"]
    )
    # B=40: derived ranks are 1/39 — both bounds must be real picks
    r = poisson_bootstrap_ci(df, "score", n_replicates=40).collect()[0]
    assert r["ci_lo_micro"] is not None and r["ci_hi_micro"] is not None
    assert r["ci_lo_micro"] <= r["ci_hi_micro"]
    with _pytest.raises(ValueError, match="rank picks out of range"):
        poisson_bootstrap_ci(df, "score", n_replicates=40, lo_rank=5, hi_rank=195)


def test_paired_bootstrap_delta_planted(spark):
    """A strictly dominating model must yield a positive, significant
    delta interval; identical models must yield exactly zero and
    not-significant (every replicate's delta mean is 0)."""
    from bigdata_rags_spark.functions.evals import paired_bootstrap_delta

    rows = [(i, 800_000 if i % 2 else 600_000) for i in range(60)]
    a = spark.createDataFrame(rows, ["task_id", "pass1_micro"])
    b = spark.createDataFrame(
        [(i, v - 200_000) for i, v in rows], ["task_id", "pass1_micro"]
    )
    r = paired_bootstrap_delta(a, b, "pass1_micro").collect()[0]
    # per-task delta is constant 200k -> every replicate mean is exactly 200k
    assert (r["delta_micro"], r["ci_lo_micro"], r["ci_hi_micro"]) == (
        200_000, 200_000, 200_000,
    )
    assert r["significant"] == 1 and r["n_tasks"] == 60
    same = paired_bootstrap_delta(a, a, "pass1_micro").collect()[0]
    assert (same["delta_micro"], same["significant"]) == (0, 0)
    # tasks outside the intersection are excluded (paired test contract)
    b_missing = b.filter(b.task_id < 40)
    r2 = paired_bootstrap_delta(a, b_missing, "pass1_micro").collect()[0]
    assert r2["n_tasks"] == 40


def test_stupid_backoff_scores_planted(spark):
    """Seen bigrams score by MLE; unseen ones back off to 0.4 * add-one
    unigram — hand-computed on a 2-doc corpus."""
    import math

    from bigdata_rags_spark.quality import stupid_backoff_scores

    train = spark.createDataFrame([(0, "a b a b c")], ["doc_id", "text"])
    # test doc: "a b" seen (c2=2, cprefix(a)=2 -> p=1), "b z" unseen
    # (z unigram count 0 -> 0.4 * 1 / (T + V)), T=5 train tokens, V=3
    score = spark.createDataFrame([(1, "a b z")], ["doc_id", "text"])
    r = stupid_backoff_scores(train, score).collect()
    row = {x["doc_id"]: x for x in r}[1]
    assert row["n_positions"] == 2 and row["n_backoff"] == 1
    assert row["backoff_rate_micro"] == 500_000
    expected = round((-math.log(2 / 2) + -math.log(2 * 1 / (5 * (5 + 3)))) / 2, 6)
    assert abs(row["sb_cross_entropy"] - expected) < 1e-9
    # the training doc itself never backs off
    trow = {x["doc_id"]: x for x in stupid_backoff_scores(train, train).collect()}[0]
    assert trow["n_backoff"] == 0


def test_rocchio_confusion_separable_and_mislabeled(spark):
    """Well-separated label clusters give a diagonal-only confusion; a
    planted vector carrying label 0 inside cluster 1's region lands on
    the off-diagonal (0 -> predicted 1)."""
    from bigdata_rags_spark.similarity.knn import rocchio_label_confusion

    def vec(axis, v=1.0):
        e = [0.0] * 64
        e[axis] = v
        return e

    rows = (
        [(i, 0, vec(0, 1.0 + 0.01 * i)) for i in range(5)]
        + [(10 + i, 1, vec(1, 1.0 + 0.01 * i)) for i in range(5)]
        # mislabeled: label 0, but sits squarely in cluster 1
        + [(99, 0, vec(1, 1.02))]
    )
    e = spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<double>")
    out = {
        (r["label"], r["predicted_label"]): r["n_vecs"]
        for r in rocchio_label_confusion(e).collect()
    }
    assert out[(1, 1)] == 5
    assert out[(0, 0)] == 5
    assert out[(0, 1)] == 1  # the mislabeled point crosses over
    assert (1, 0) not in out


def test_dual_featurizer_matches_single_variants(spark):
    """hashed_doc_vectors_raw_and_idf must equal the two single-variant
    featurizers bucket-for-bucket."""
    from bigdata_rags_spark.functions.featurize import (
        hashed_doc_vectors,
        hashed_doc_vectors_raw_and_idf,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha gamma"), (2, "beta beta delta"), (3, "")],
        ["doc_id", "text"],
    )
    both = {r["vec_id"]: r for r in hashed_doc_vectors_raw_and_idf(docs).collect()}
    raw = {r["vec_id"]: r for r in hashed_doc_vectors(docs).collect()}
    idf = {r["vec_id"]: r for r in hashed_doc_vectors(docs, idf=True).collect()}
    for i in (1, 2, 3):
        assert both[i]["embedding_raw"] == raw[i]["embedding"], i
        assert both[i]["embedding_idf"] == idf[i]["embedding"], i
