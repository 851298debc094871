"""IVFPQ index build/serve split: the persisted index must serve results
value-identical to the on-the-fly pipeline, with a serving plan that (a)
contains NO corpus encode stage and (b) actually prunes unprobed buckets of
the codes table (the whole point of persisting the index bucketed on cell)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bigdata_rags_spark.io.readers import read_testdata
from bigdata_rags_spark.similarity.pq import (
    build_ivfpq_index,
    ivfpq_index_serve,
    ivfpq_search_rerank,
)

PREFIX = "t_ann_idx"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def built_index(spark, sf_smoke):
    from bigdata_rags_spark.io.bucketing import drop_managed_table

    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    build_ivfpq_index(e, table_prefix=PREFIX)
    yield e
    drop_managed_table(spark, f"{PREFIX}_codes")
    drop_managed_table(spark, f"{PREFIX}_vectors")
    drop_managed_table(spark, f"{PREFIX}_meta")


def test_index_serve_matches_on_the_fly(spark, built_index):
    e = built_index
    q = e.filter(F.col("vec_id") < 5)
    served = ivfpq_index_serve(q, k=5, table_prefix=PREFIX).collect()
    direct = ivfpq_search_rerank(q, e, k=5, n_probe=4, shortlist=50).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(served, key=key) == sorted(direct, key=key)
    assert len(served) > 0


@pytest.mark.parametrize("quantizer", ["fixed", "trained"])
def test_full_probe_full_shortlist_equals_brute_force(spark, sf_oracle, quantizer):
    """Exactness anchor of the one ANN path: probing every cell with a
    shortlist as large as the corpus leaves nothing to approximate, so the
    exact-cosine rerank must reproduce ``brute_force_topk`` row for row
    (query, neighbor, similarity, rank), under a fixed or a trained coarse
    quantizer.  Training the quantizer must be deterministic."""
    from bigdata_rags_spark.similarity.ivf import fixed_centroids, train_ivf_centroids
    from bigdata_rags_spark.similarity.knn import brute_force_topk

    e = read_testdata(spark, sf_oracle, "embeddings")["embeddings"]
    q = e.filter(F.col("vec_id") < 10)
    if quantizer == "fixed":
        cents = fixed_centroids(64, 16)
    else:
        cents = train_ivf_centroids(e, n_cells=8, n_iter=2)
        assert cents == train_ivf_centroids(e, n_cells=8, n_iter=2)
    rows = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["neighbor_id"], r["similarity"], r["rank"]) for r in df.collect()
    )
    got = rows(
        ivfpq_search_rerank(
            q, e, k=5, n_probe=len(cents), shortlist=e.count(), centroids=cents
        )
    )
    assert got == rows(brute_force_topk(q, e, k=5))
    assert len(got) == 50


def _n_arrow_stages(plan: str) -> int:
    # formatted explain prints every node twice (tree line + details
    # header) — count the "(nn) MapInPandas" details headers, one per node
    return len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M))


def test_serving_plan_has_no_corpus_encode(spark, built_index):
    q = built_index.filter(F.col("vec_id") < 5)
    plan = _plan(ivfpq_index_serve(q, k=5, table_prefix=PREFIX))
    # exactly one Arrow stage: the partition-local pre-top-k ahead of
    # the shortlist window (similarity/topk.py).  The per-query lookup
    # table is built on the driver, and the corpus encode (pq_encode's
    # MapInPandas) must not appear — that's the build half, paid once at
    # build_ivfpq_index time.
    assert _n_arrow_stages(plan) == 1, plan[:3000]
    # and the on-the-fly sibling DOES encode the corpus in-plan (one MORE
    # Arrow stage), which is exactly the repeated cost the split amortizes
    fly = _plan(ivfpq_search_rerank(q, built_index, k=5, n_probe=4, shortlist=50))
    assert _n_arrow_stages(fly) == 2


def test_empty_query_frame_serves_no_rows(spark, built_index):
    """A request with no queries returns no rows, with each serve's
    documented schema — the shared query side builds empty frames."""
    from bigdata_rags_spark.similarity.pq import pq_adc_topk

    e = built_index
    q = e.filter(F.col("vec_id") < 0)
    served = {
        "index": ivfpq_index_serve(q, k=5, table_prefix=PREFIX),
        "fly": ivfpq_search_rerank(q, e, k=5, n_probe=4, shortlist=50),
        "adc": pq_adc_topk(q, e, k=5),
    }
    rerank_schema = "query_id:bigint,neighbor_id:bigint,similarity:double,rank:int"
    want = {
        "index": rerank_schema,
        "fly": rerank_schema,
        "adc": "query_id:bigint,neighbor_id:bigint,approx_sim_micro:bigint,rank:int",
    }
    for name, df in served.items():
        got = ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in df.schema)
        assert got == want[name], name
        assert df.count() == 0, name


def test_serving_scan_prunes_unprobed_buckets(spark, built_index):
    q = built_index.filter(F.col("vec_id") == 0)  # 1 query -> 4 probed cells
    plan = _plan(ivfpq_index_serve(q, k=5, table_prefix=PREFIX))
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, f"codes scan is not bucket-pruned:\n{plan[:3000]}"
    assert int(m.group(1)) < int(m.group(2))


@pytest.fixture()
def _drop_tables(spark):
    from bigdata_rags_spark.io.bucketing import drop_managed_table

    created: list[str] = []
    yield created
    for prefix in created:
        for suffix in ("_codes", "_vectors", "_meta", "_tombstones", "_compacting"):
            drop_managed_table(spark, f"{prefix}{suffix}")


@pytest.mark.slow  # ~70 s measured r17
def test_append_serve_equals_rebuild_from_union(spark, sf_smoke, _drop_tables):
    """Serve after append == serve after a full rebuild over the unioned
    corpus: ingest is a batch write, never a corpus rewrite."""
    from bigdata_rags_spark.similarity.pq import append_ivfpq_index

    _drop_tables.extend(["t_ann_app", "t_ann_full"])
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    old = e.filter(F.col("vec_id") % 3 != 0)
    batch = e.filter(F.col("vec_id") % 3 == 0)
    build_ivfpq_index(old, table_prefix="t_ann_app")
    append_ivfpq_index(batch, table_prefix="t_ann_app")
    build_ivfpq_index(e, table_prefix="t_ann_full")
    q = e.filter(F.col("vec_id") < 5)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    appended = sorted(ivfpq_index_serve(q, k=5, table_prefix="t_ann_app").collect(), key=key)
    rebuilt = sorted(ivfpq_index_serve(q, k=5, table_prefix="t_ann_full").collect(), key=key)
    assert appended == rebuilt and len(appended) == 25
    # the appended index still prunes unprobed cell buckets
    q1 = e.filter(F.col("vec_id") == 0)
    plan = _plan(ivfpq_index_serve(q1, k=5, table_prefix="t_ann_app"))
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2)), plan[:3000]


@pytest.mark.slow  # ~49 s measured r17
def test_trained_index_serves_its_own_quantizers(spark, sf_smoke, _drop_tables):
    """build(train=True) freezes the TRAINED quantizers into {prefix}_meta
    and serving reloads them: serve == on-the-fly with the same quantizers
    passed explicitly, the serving plan still has no corpus encode, and
    trained-index recall@5 is not below the fixed-codebook floor."""
    from bigdata_rags_spark.similarity.knn import brute_force_topk
    from bigdata_rags_spark.similarity.pq import _read_index_meta

    _drop_tables.append("t_ann_tr")
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    build_ivfpq_index(e, table_prefix="t_ann_tr", train=True, train_iter=2)
    cents, books, _ = _read_index_meta(spark, "t_ann_tr_meta")
    # trained quantizers actually differ from the fixed literals
    from bigdata_rags_spark.similarity.ivf import fixed_centroids
    from bigdata_rags_spark.similarity.pq import pq_codebooks

    assert cents != fixed_centroids(64, 16) and books != pq_codebooks()

    q = e.filter(F.col("vec_id") < 5)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    served = sorted(ivfpq_index_serve(q, k=5, table_prefix="t_ann_tr").collect(), key=key)
    fly = sorted(
        ivfpq_search_rerank(
            q, e, k=5, n_probe=4, shortlist=50, centroids=cents, codebooks=books
        ).collect(),
        key=key,
    )
    assert served == fly and len(served) == 25
    assert _n_arrow_stages(_plan(ivfpq_index_serve(q, k=5, table_prefix="t_ann_tr"))) == 1

    def recall(rows) -> float:
        truth: dict[int, set[int]] = {}
        for r in brute_force_topk(q, e, k=5).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(truth[i] & got.get(i, set())) for i in truth) / (5 * len(truth))

    fixed_served = ivfpq_search_rerank(q, e, k=5, n_probe=4, shortlist=50).collect()
    assert recall(served) >= recall(fixed_served)


def test_delete_then_compact_lifecycle(spark, sf_smoke, _drop_tables):
    """Tombstoned ids vanish from serving immediately (logical delete);
    compaction physically removes them, clears the tombstone table, and
    serving is value-identical before/after compaction and to a rebuild
    over the surviving corpus.  The serving plan keeps its no-encode and
    bucket-pruning properties through the whole lifecycle."""
    from bigdata_rags_spark.similarity.pq import (
        compact_ivfpq_index,
        delete_from_ivfpq_index,
    )

    _drop_tables.extend(["t_ann_del", "t_ann_ref"])
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731

    build_ivfpq_index(e, table_prefix="t_ann_del")
    delete_from_ivfpq_index(
        e.filter(F.col("vec_id") % 3 == 0).select("vec_id"), table_prefix="t_ann_del"
    )
    deleted = sorted(ivfpq_index_serve(q, k=5, table_prefix="t_ann_del").collect(), key=key)
    # reference: rebuild over only the surviving corpus
    build_ivfpq_index(e.filter(F.col("vec_id") % 3 != 0), table_prefix="t_ann_ref")
    rebuilt = sorted(ivfpq_index_serve(q, k=5, table_prefix="t_ann_ref").collect(), key=key)
    assert deleted == rebuilt and len(deleted) == 25
    assert not any(r["neighbor_id"] % 3 == 0 for r in deleted)

    codes_before = spark.table("t_ann_del_codes").count()
    removed_codes, removed_vecs = compact_ivfpq_index(spark, table_prefix="t_ann_del")
    assert removed_codes > 0 and removed_vecs > 0
    assert spark.table("t_ann_del_codes").count() == codes_before - removed_codes
    assert not spark.catalog.tableExists("t_ann_del_tombstones")
    compacted = sorted(ivfpq_index_serve(q, k=5, table_prefix="t_ann_del").collect(), key=key)
    assert compacted == deleted
    # plan properties survive compaction
    plan = _plan(ivfpq_index_serve(e.filter(F.col("vec_id") == 1), k=5, table_prefix="t_ann_del"))
    assert _n_arrow_stages(plan) == 1
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2)), plan[:3000]


def _live_count(spark, prefix: str, table: str, key: str, ident: int) -> int:
    """Live rows of one id in an index table, read through the index's own
    live-row rule."""
    from bigdata_rags_spark.similarity.pq import _live_rows

    rows = spark.table(f"{prefix}_{table}").filter(F.col(key) == ident)
    return _live_rows(spark, prefix, rows, key).count()


@pytest.mark.slow  # ~35 s measured r17
def test_reappend_revives_deleted_id(spark, sf_smoke, _drop_tables):
    """Appending a previously deleted id revives it: the vector is visible
    at serve time again, with exactly one live copy, and a later compact
    keeps its rows instead of silently dropping the re-ingest."""
    from bigdata_rags_spark.similarity.pq import (
        append_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_serve,
    )

    _drop_tables.append("t_ann_rev")
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    build_ivfpq_index(e, table_prefix="t_ann_rev")
    victim = e.filter(F.col("vec_id") == 7)
    # probe with a CLONE of the victim's embedding under a fresh id: serving
    # excludes self-matches (neighbor_id != query_id), but the clone's exact
    # cosine with the live victim is 1.0 -> rank 1 whenever 7 is visible
    clone = victim.select(F.lit(99999).cast("long").alias("vec_id"), "embedding")

    def neighbors(prefix: str) -> list[int]:
        return [
            r["neighbor_id"]
            for r in ivfpq_index_serve(clone, k=5, table_prefix=prefix).collect()
        ]

    assert 7 in neighbors("t_ann_rev")  # live before the delete
    delete_from_ivfpq_index(victim.select("vec_id"), table_prefix="t_ann_rev")
    assert 7 not in neighbors("t_ann_rev")  # tombstone masks the id
    # re-ingest without a compact in between: the new rows outrank the
    # delete's tombstone, the build-time rows stay masked
    append_ivfpq_index(victim, table_prefix="t_ann_rev")
    assert neighbors("t_ann_rev").count(7) == 1  # revived, served once
    assert _live_count(spark, "t_ann_rev", "vectors", "vec_id", 7) == 1
    # compacting after the re-ingest must keep the revived rows, once
    compact_ivfpq_index(spark, table_prefix="t_ann_rev")
    assert spark.table("t_ann_rev_vectors").filter(F.col("vec_id") == 7).count() == 1
    assert neighbors("t_ann_rev").count(7) == 1


@pytest.mark.slow  # ~20 s measured r17
def test_reappend_over_tombstone_keeps_one_live_copy(spark, sf_smoke, _drop_tables):
    """Append directly over a live tombstone (no compact in between): the
    batch's ids are live again and others stay masked — and the revived id
    has exactly ONE live copy: the logical delete left the old code/vector
    rows in place, and if they were live beside the new ones serving would
    double-count the ADC score and emit the revived neighbor at two ranks.
    Compaction then leaves exactly one physical copy."""
    from bigdata_rags_spark.similarity.pq import (
        append_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
    )

    _drop_tables.append("t_ann_rev2")
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    build_ivfpq_index(e.filter(F.col("vec_id") >= 10), table_prefix="t_ann_rev2")
    delete_from_ivfpq_index(
        e.filter(F.col("vec_id").isin(11, 12)).select("vec_id"), table_prefix="t_ann_rev2"
    )
    append_ivfpq_index(e.filter(F.col("vec_id") == 11), table_prefix="t_ann_rev2")
    # 11 revived, 12 still masked: one live copy per subquantizer for 11
    # (same as a never-deleted id), none for 12
    per_sub = _live_count(spark, "t_ann_rev2", "codes", "id", 13)  # never deleted
    assert _live_count(spark, "t_ann_rev2", "codes", "id", 11) == per_sub
    assert _live_count(spark, "t_ann_rev2", "codes", "id", 12) == 0
    assert _live_count(spark, "t_ann_rev2", "vectors", "vec_id", 11) == 1
    assert _live_count(spark, "t_ann_rev2", "vectors", "vec_id", 12) == 0
    # serving returns each neighbor at most once per query (a second live
    # vectors row would make the rerank join emit the revived neighbor at
    # two ranks).  Self-matches are excluded by design,
    # so probe with OTHER vectors as queries.
    served = ivfpq_index_serve(
        e.filter(F.col("vec_id").between(13, 20)), k=5, table_prefix="t_ann_rev2"
    ).collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in served]
    assert len(pairs) == len(set(pairs)), pairs
    # compaction keeps exactly one physical copy of 11 and none of 12
    compact_ivfpq_index(spark, table_prefix="t_ann_rev2")
    codes2 = spark.table("t_ann_rev2_codes")
    assert codes2.filter(F.col("id") == 11).count() == per_sub
    assert codes2.filter(F.col("id") == 12).count() == 0
    assert spark.table("t_ann_rev2_vectors").filter(F.col("vec_id") == 11).count() == 1


@pytest.mark.slow  # ~14 s measured r17
def test_compact_preserves_bucket_spec(spark, sf_smoke, _drop_tables):
    """The write-then-swap compact (ADVICE r10 #2) must leave the renamed
    tables with their bucket metadata: serving still prunes unprobed cell
    buckets, and no staging leftovers remain."""
    from bigdata_rags_spark.similarity.pq import (
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_serve,
    )

    _drop_tables.append("t_ann_cb")
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    build_ivfpq_index(e, table_prefix="t_ann_cb")
    delete_from_ivfpq_index(
        e.filter(F.col("vec_id") % 5 == 0).select("vec_id"), table_prefix="t_ann_cb"
    )
    compact_ivfpq_index(spark, table_prefix="t_ann_cb")
    assert not spark.catalog.tableExists("t_ann_cb_codes__compacting")
    assert not spark.catalog.tableExists("t_ann_cb_vectors__compacting")
    plan = _plan(
        ivfpq_index_serve(e.filter(F.col("vec_id") == 1), k=5, table_prefix="t_ann_cb")
    )
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2)), plan[:3000]


def test_incremental_minhash_half_params_raise(spark, sf_smoke):
    """Half-specifying the frozen banding parameters is an explicit error
    (ADVICE r10 #4), not a bare assert."""
    from bigdata_rags_spark.dedup.minhash import incremental_minhash_keepers

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").limit(10)
    with pytest.raises(ValueError, match="BOTH num_hashes and rows_per_band"):
        incremental_minhash_keepers(docs, docs, rows_per_band=2)
    with pytest.raises(ValueError, match="BOTH num_hashes and rows_per_band"):
        incremental_minhash_keepers(docs, docs, num_hashes=8)

def test_tuning_report_monotone_and_complete(spark, sf_smoke, _drop_tables):
    """ivfpq_tuning_report: recall and scanned cost are non-decreasing in
    n_probe, and probing every cell reaches exactly recall 1e6 (cell
    coverage is total)."""
    from bigdata_rags_spark.similarity.pq import build_ivfpq_index, ivfpq_tuning_report

    _drop_tables.append("t_ann_tune")
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    build_ivfpq_index(e, table_prefix="t_ann_tune")
    rows = (
        ivfpq_tuning_report(e.filter(F.col("vec_id") < 5), k=5, table_prefix="t_ann_tune")
        .orderBy("n_probe")
        .collect()
    )
    assert [r["n_probe"] for r in rows] == [1, 2, 4, 8, 16]
    recalls = [r["recall_micro"] for r in rows]
    scanned = [r["scanned_codes"] for r in rows]
    assert recalls == sorted(recalls) and scanned == sorted(scanned)
    assert recalls[-1] == 1_000_000
    assert scanned[-1] == 5 * e.count()  # every query scans the whole corpus
    assert 0 < recalls[0] < 1_000_000    # partial probing is genuinely partial


@pytest.mark.parametrize(
    "crash_at",
    [
        "ALTER TABLE t_ann_crash_codes__compacting RENAME",
        "DROP TABLE IF EXISTS t_ann_crash_tombstones",
    ],
    ids=["codes_drop_rename_window", "before_tombstone_drop"],
)
def test_compact_rerun_after_crash(spark, sf_smoke, _drop_tables, monkeypatch, crash_at):
    """A compact that crashes after staging both tables must be finished,
    not redone, by the rerun.  Between the codes table's drop and its
    rename the staging table is the only copy of the codes; after both
    swaps the live rows are reset to seq 0, so recomputing liveness against
    the not-yet-dropped tombstones would drop every upserted row.  Either
    way the rerun must serve exactly what an uninterrupted compact serves,
    with the exact live count and no staging, marker or tombstone left."""
    from bigdata_rags_spark.similarity.pq import (
        append_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_stats,
    )

    prefix = "t_ann_crash"
    _drop_tables.append(prefix)
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    build_ivfpq_index(e, table_prefix=prefix)
    # ids 0-19 replaced (reversed vectors), ids 15-24 then deleted
    append_ivfpq_index(
        e.filter(F.col("vec_id") < 20).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        ),
        table_prefix=prefix,
    )
    delete_from_ivfpq_index(e.filter(F.col("vec_id").between(15, 24)).select("vec_id"), prefix)
    q = e.filter(F.col("vec_id").between(100, 104))
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    expected = sorted(ivfpq_index_serve(q, k=5, table_prefix=prefix).collect(), key=key)
    n_live = e.count() - 10

    sql = spark.sql

    def crashing_sql(query, *args, **kwargs):
        if query.startswith(crash_at):
            raise RuntimeError("simulated crash")
        return sql(query, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", crashing_sql)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_ivfpq_index(spark, prefix)
    monkeypatch.undo()
    assert spark.catalog.tableExists(f"{prefix}_compacting")

    assert compact_ivfpq_index(spark, prefix) == (0, 0)
    for t in ("_compacting", "_tombstones", "_codes__compacting", "_vectors__compacting"):
        assert not spark.catalog.tableExists(f"{prefix}{t}")
    assert spark.table(f"{prefix}_vectors").count() == n_live
    assert ivfpq_index_stats(spark, prefix).agg(F.sum("n_live")).first()[0] == n_live
    got = sorted(ivfpq_index_serve(q, k=5, table_prefix=prefix).collect(), key=key)
    assert got == expected and len(got) == 25


def test_merge_indexes_lifecycle_and_guards(spark, sf_smoke, _drop_tables):
    """merge_ivfpq_indexes: a delete in a source shard survives the merge
    (tombstone union), bucket pruning holds on the merged index, and the
    three merge preconditions fail loudly — overlapping shard ids,
    mismatched quantizers, mismatched predicate-column schemas."""
    import pytest as _pytest

    from bigdata_rags_spark.similarity.pq import (
        build_ivfpq_index,
        delete_from_ivfpq_index,
        merge_ivfpq_indexes,
    )

    _drop_tables.extend(["t_mrg_a", "t_mrg_b", "t_mrg_out", "t_mrg_bad"])
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    a, b = e.filter(F.col("vec_id") % 3 != 0), e.filter(F.col("vec_id") % 3 == 0)
    build_ivfpq_index(a, table_prefix="t_mrg_a")
    build_ivfpq_index(b, table_prefix="t_mrg_b")
    # delete an id from shard A BEFORE the merge: must stay masked after
    dead = a.limit(1).select("vec_id")
    dead_id = dead.collect()[0]["vec_id"]
    delete_from_ivfpq_index(dead, table_prefix="t_mrg_a")
    merge_ivfpq_indexes(spark, ["t_mrg_a", "t_mrg_b"], "t_mrg_out")
    q = e.filter(F.col("vec_id") < 5)
    res = ivfpq_index_serve(q, k=5, table_prefix="t_mrg_out").collect()
    assert len(res) == 25
    assert all(r["neighbor_id"] != dead_id for r in res)  # delete survived
    plan = _plan(ivfpq_index_serve(q.limit(1), k=5, table_prefix="t_mrg_out"))
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2))  # pruning holds post-merge
    # guard 1: overlapping shard ids double-count -> refuse
    with _pytest.raises(ValueError, match="more than one source index"):
        merge_ivfpq_indexes(spark, ["t_mrg_a", "t_mrg_a"], "t_mrg_out")
    # guard 2: different quantizers = different code spaces -> refuse
    build_ivfpq_index(b, table_prefix="t_mrg_bad", n_cells=8)
    with _pytest.raises(ValueError, match="quantizer mismatch"):
        merge_ivfpq_indexes(spark, ["t_mrg_a", "t_mrg_bad"], "t_mrg_out")
    # guard 3: predicate-column schema drift -> refuse
    docs = read_testdata(spark, sf_smoke, "documents")["documents"]
    build_ivfpq_index(
        b, table_prefix="t_mrg_bad", metadata=docs.select("doc_id", "lang")
    )
    with _pytest.raises(ValueError, match="codes schema mismatch"):
        merge_ivfpq_indexes(spark, ["t_mrg_a", "t_mrg_bad"], "t_mrg_out")


def test_predicate_columns_serve_plan_and_parity(spark, sf_smoke, _drop_tables):
    """Build with metadata columns, serve with predicate="lang = 'en'" —
    the predicate must appear as a PUSHED filter on the codes scan, the
    plan must contain zero joins against documents, bucket pruning must
    survive, and the result must equal serving an index built over the
    lang = 'en' corpus only (the replay the ann_predicate_serving oracle
    runs)."""
    from bigdata_rags_spark.similarity.pq import build_ivfpq_index, ivfpq_index_serve

    _drop_tables.extend(["t_ann_pred", "t_ann_pred_en"])
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    docs = read_testdata(spark, sf_smoke, "documents")["documents"]
    build_ivfpq_index(
        e, table_prefix="t_ann_pred", metadata=docs.select("doc_id", "lang", "source")
    )
    q = e.filter(F.col("vec_id") < 5)
    served = ivfpq_index_serve(
        q, k=5, table_prefix="t_ann_pred", predicate="lang = 'en'"
    )
    plan = _plan(served)
    assert re.search(r"PushedFilters: \[[^\]]*lang", plan), plan[:3000]
    assert "documents" not in plan  # zero metadata joins at serve time
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2)), plan[:3000]
    # value parity with an index over the eligible corpus alone (same
    # fixed quantizers), served unfiltered
    elig = docs.filter(F.col("lang") == "en").select(
        F.col("doc_id").alias("vec_id")
    )
    build_ivfpq_index(e.join(elig, "vec_id", "left_semi"), table_prefix="t_ann_pred_en")
    rebuilt = ivfpq_index_serve(q, k=5, table_prefix="t_ann_pred_en")
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    srows = sorted(served.collect(), key=key)
    assert [tuple(r) for r in srows] == [
        tuple(r) for r in sorted(rebuilt.collect(), key=key)
    ]
    assert srows  # non-vacuous
    # ... and the unfiltered serve on a metadata-carrying index is
    # unaffected by the stored columns
    unfiltered = ivfpq_index_serve(q, k=5, table_prefix="t_ann_pred")
    assert unfiltered.count() == 25


def test_predicate_columns_append_and_validation(spark, sf_smoke, _drop_tables):
    """Appends into a predicate-carrying index must supply the same
    metadata columns (schema drift fails loudly), and appended rows must
    be predicate-visible; metadata columns colliding with the codes
    schema are rejected at build."""
    import pytest as _pytest

    from bigdata_rags_spark.similarity.pq import (
        append_ivfpq_index,
        build_ivfpq_index,
        ivfpq_index_serve,
    )

    _drop_tables.extend(["t_ann_predapp", "t_ann_predfull"])
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    docs = read_testdata(spark, sf_smoke, "documents")["documents"]
    md = docs.select("doc_id", "lang", "source")
    old = e.filter(F.col("vec_id") % 3 != 0)
    batch = e.filter(F.col("vec_id") % 3 == 0)
    build_ivfpq_index(old, table_prefix="t_ann_predapp", metadata=md)
    # schema drift: batch without the index's metadata columns
    with _pytest.raises(ValueError, match="append schema mismatch"):
        append_ivfpq_index(batch, table_prefix="t_ann_predapp")
    append_ivfpq_index(batch, table_prefix="t_ann_predapp", metadata=md)
    build_ivfpq_index(e, table_prefix="t_ann_predfull", metadata=md)
    q = e.filter(F.col("vec_id") < 5)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    appended = sorted(
        ivfpq_index_serve(
            q, k=5, table_prefix="t_ann_predapp", predicate="lang = 'en'"
        ).collect(),
        key=key,
    )
    rebuilt = sorted(
        ivfpq_index_serve(
            q, k=5, table_prefix="t_ann_predfull", predicate="lang = 'en'"
        ).collect(),
        key=key,
    )
    assert [tuple(r) for r in appended] == [tuple(r) for r in rebuilt]
    assert appended
    # reserved-name collision fails at build
    bad_md = docs.select("doc_id", F.col("lang").alias("cell"))
    with _pytest.raises(ValueError, match="collide with the codes schema"):
        build_ivfpq_index(e, table_prefix="t_ann_predapp", metadata=bad_md)


def test_upsert_delete_compact_lifecycle_equals_rebuild(spark, sf_smoke, _drop_tables):
    """The log-structured lifecycle: upsert -> delete -> re-upsert ->
    compact -> upsert.  After every step the index serves exactly what a
    fresh build over the live set serves, each neighbor at most once per
    query, and its live count is exact; compaction leaves one physical
    row per live vector and no tombstones, and the upsert after it (whose
    seq restarts at 1) still replaces the compacted rows."""
    from bigdata_rags_spark.similarity.pq import (
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_stats,
    )
    from bigdata_rags_spark.streaming.ingest import ingest_vectors_batch

    prefix, ref = "t_ann_lsm", "t_ann_lsm_ref"
    _drop_tables.extend([prefix, ref])
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"].select(
        "vec_id", "embedding"
    )
    schema = e.schema
    vecs = {r["vec_id"]: list(r["embedding"]) for r in e.collect()}
    live = {i: v for i, v in vecs.items() if i % 4 != 0}
    build_ivfpq_index(spark.createDataFrame(sorted(live.items()), schema), table_prefix=prefix)
    # queries arrive by value under fresh ids, so no hit is a self-match
    queries = spark.createDataFrame(
        [(-1 - j, vecs[i]) for j, i in enumerate((1, 4, 8, 123, 250))], schema
    )
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731

    def upsert(rows: dict[int, list[float]]) -> None:
        ingest_vectors_batch(spark.createDataFrame(sorted(rows.items()), schema), prefix)
        live.update(rows)

    def check(step: str) -> None:
        got = sorted(ivfpq_index_serve(queries, k=5, table_prefix=prefix).collect(), key=key)
        build_ivfpq_index(spark.createDataFrame(sorted(live.items()), schema), table_prefix=ref)
        want = sorted(ivfpq_index_serve(queries, k=5, table_prefix=ref).collect(), key=key)
        assert got == want and len(got) == 25, step
        pairs = [(r["query_id"], r["neighbor_id"]) for r in got]
        assert len(pairs) == len(set(pairs)), step
        n_live = ivfpq_index_stats(spark, prefix).agg(F.sum("n_live")).first()[0]
        assert n_live == len(live), step

    # new ids (multiples of 4) plus in-place updates of existing ids, each
    # re-pointed at another vector so its old rows would rank differently
    upsert({**{i: vecs[i] for i in range(0, 200, 4)}, **{i: vecs[i + 1] for i in (5, 9, 250)}})
    check("upsert")
    gone = [4, 9, 13, 250, 301]  # new, updated and built ids
    delete_from_ivfpq_index(spark.createDataFrame([(i,) for i in gone], "vec_id long"), prefix)
    for i in gone:
        del live[i]
    check("delete")
    upsert({4: vecs[6], 9: vecs[9], 250: vecs[2]})
    check("re-upsert")
    compact_ivfpq_index(spark, prefix)
    assert not spark.catalog.tableExists(f"{prefix}_tombstones")
    assert spark.table(f"{prefix}_vectors").count() == len(live)
    assert spark.table(f"{prefix}_vectors").filter(F.col("seq") != 0).count() == 0
    check("compact")
    upsert({5: vecs[7], 204: vecs[204]})
    check("upsert after compact")


def test_stats_count_an_id_deleted_twice_once(spark, sf_smoke, _drop_tables):
    """Two tombstones for one id (deleted twice) must not double its row in
    ivfpq_index_stats: the counts add up to the stored vectors."""
    from bigdata_rags_spark.similarity.pq import delete_from_ivfpq_index, ivfpq_index_stats

    _drop_tables.append("t_ann_st2")
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    build_ivfpq_index(e, table_prefix="t_ann_st2")
    for _ in range(2):
        delete_from_ivfpq_index(e.filter(F.col("vec_id") == 3).select("vec_id"), "t_ann_st2")
    totals = ivfpq_index_stats(spark, "t_ann_st2").agg(
        F.sum("n_vectors"), F.sum("n_live"), F.sum("n_tombstoned")
    ).first()
    n = e.count()
    assert tuple(totals) == (n, n - 1, 1)


def test_refused_merge_keeps_destination_index(spark, sf_smoke, _drop_tables):
    """A merge refused by the duplicate-id check must leave an index that
    already lives at the destination prefix intact: it still serves the
    same results, and no staging table is left behind."""
    import pytest as _pytest

    from bigdata_rags_spark.similarity.pq import merge_ivfpq_indexes

    _drop_tables.extend(["t_mrg2_a", "t_mrg2_b", "t_mrg2_out"])
    e = read_testdata(spark, sf_smoke, "embeddings")["embeddings"]
    build_ivfpq_index(e.filter(F.col("vec_id") % 2 == 0), table_prefix="t_mrg2_a")
    build_ivfpq_index(e.filter(F.col("vec_id") % 2 == 1), table_prefix="t_mrg2_b")
    build_ivfpq_index(e, table_prefix="t_mrg2_out")
    q = e.filter(F.col("vec_id") < 5)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    before = sorted(ivfpq_index_serve(q, k=5, table_prefix="t_mrg2_out").collect(), key=key)
    with _pytest.raises(ValueError, match="more than one source index"):
        merge_ivfpq_indexes(spark, ["t_mrg2_a", "t_mrg2_b", "t_mrg2_a"], "t_mrg2_out")
    after = sorted(ivfpq_index_serve(q, k=5, table_prefix="t_mrg2_out").collect(), key=key)
    assert after == before and len(after) == 25
    for t in ("codes", "vectors", "meta"):
        assert not spark.catalog.tableExists(f"t_mrg2_out_{t}__merging")

