"""Product quantization (PQ) ANN serving: codes + asymmetric-distance top-k.

The library's one ANN serving path; ``similarity/ivf.py`` is its coarse
quantizer and ``similarity/knn.py:brute_force_topk`` the exact reference.
The reference has no similarity surface at all (its transform DAG is
relational-only, `reference/dag-transform.py`; SURVEY.md §2 extension
tier).  Split the embedding into M subspaces, quantize each
to one of K codebook centroids (Jégou, Douze, Schmid, "Product quantization
for nearest neighbor search", TPAMI 2011).  The corpus is then M small ints
per vector (here 16 codes in [0,16) — a nibble each at scale, 8 bytes vs
256 for the raw float32 vector) and a query scores ANY corpus vector with M
table lookups instead of a d-dim dot product — the asymmetric distance
computation (ADC).  Raw ADC ranking is lossy (the codebooks here are
untrained md5 literals and the fixture embeddings are near-random — the
ANN adversarial case), so every serve is
ADC shortlist, then EXACT cosine rerank of the shortlist only — FAISS's
IVFPQ+refine shape.

One scoring plan serves all four entry points: ``_query_side`` (the
request's queries read to the driver once; probes, probed-cell literal and
LUT built there), ``_adc_topk`` (the ADC shortlist) and ``_serve`` (the
exact rerank).  The production path is ``ivfpq_index_serve`` over the
persisted index; ``ivfpq_search_rerank`` runs the same plan over a corpus
frame it encodes per call; ``pq_adc_topk``/``pq_search_rerank`` are IVFPQ
with a single coarse list (Jégou et al. §V), one all-zero centroid
(``_ONE_CELL``) holding every vector.

Spark-first, fully oracle-checkable:
- codebooks are FIXED md5-derived literals, exact multiples of 1/256, the
  same repr-stable construction as the fixed IVF codebook — k-means PQ
  training is rows-only, serving shouldn't be;
- encode = per-subspace argmax of (dot - ||c||^2/2) over the fixed
  centroids (equivalent to argmin L2 since ||x||^2 is constant per
  subspace), computed in an Arrow-vectorized numpy pass whose per-element
  float64 left fold is bit-identical to the oracle's SQL fold (a 256-
  expression Catalyst projection defeats Janino codegen — see pq_encode);
  ties break to the higher code in both engines;
- ADC scores are ROUNDED per subspace to integer micro-units BEFORE the
  M-way sum: the sum of M bigints is order-independent, so the ranking is
  bit-stable under any partitioning/engine (a float sum would not be).

100 TB shape: corpus vectors are read ONCE to encode; after that only
(id, m, code, cell) rows — a few bytes — cross any exchange.  The
query-side lookup table is |Q| x M x K rows (tiny, broadcast); the ADC
join is an equi-join on (query_id, m, code) followed by a partial+final
SUM and a per-query window top-k.  Full vectors move only for the
|Q| x shortlist rerank fetch.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.vectors import (
    _deterministic_hyperplanes,
    as_double_array,
)

# independent index-table writes / bounded check jobs overlap on driver
# threads (guide §2.6) — shared helper, also used by the dedup stores
from bigdata_rags_spark.io.jobs import run_overlapped as _run_overlapped
from bigdata_rags_spark.similarity.topk import local_topk_prefilter

M_SUB = 16
K_CODES = 16
SUB_DIM = 4  # M_SUB * SUB_DIM must equal the embedding dim (64)


def pq_codebooks(
    dim: int = 64, m: int = M_SUB, k: int = K_CODES, seed: str = "pq"
) -> list[list[list[float]]]:
    """Per-subspace literal codebooks: m lists of k centroids of dim/m."""
    sub = dim // m
    return [_deterministic_hyperplanes(sub, k, seed=f"{seed}{j}") for j in range(m)]


def _subspace_dots(vecs, codebooks: list[list[list[float]]]):
    """(n, m*k) float64 dots of every subvector with every centroid of its
    subspace, column ``j*k + code``.  Each dot is an EXPLICIT left fold of
    float64 elementwise ops from 0.0 (``s = s + x_i * c_i``) — bit-identical
    per element to the SQL fold the oracle replays.  The one kernel behind
    the corpus encode (``_pq_codes``) and the query lookup table
    (``_lut_micro``)."""
    import numpy as np

    n, k = len(vecs), len(codebooks[0])
    dots = np.empty((n, len(codebooks) * k), dtype=np.float64)
    for j, book in enumerate(codebooks):
        sub = len(book[0])
        x = vecs[:, j * sub : (j + 1) * sub]
        for code, c in enumerate(book):
            s = np.zeros(n, dtype=np.float64)
            for i in range(sub):
                s = s + x[:, i] * c[i]
            dots[:, j * k + code] = s
    return dots


def _pq_codes(vecs, codebooks: list[list[list[float]]]):
    """(n, m) int32 codes: per-subspace argmax of dot - ||c||^2/2 (argmin
    L2 without the per-vector constant); ties break to the HIGHER code via
    a reversed argmax, matching the oracle's ORDER BY score DESC, code
    DESC."""
    import numpy as np

    n, m, k = len(vecs), len(codebooks), len(codebooks[0])
    half_norms = np.array(
        [[sum(x * x for x in c) / 2.0 for c in book] for book in codebooks],
        dtype=np.float64,
    )
    scores = _subspace_dots(vecs, codebooks).reshape(n, m, k) - half_norms
    return ((k - 1) - scores[:, :, ::-1].argmax(axis=2)).astype(np.int32)


def _lut_micro(vecs, codebooks: list[list[list[float]]]):
    """(n, m*k) int64 lookup table: subspace dots rounded to integer
    micro-units, so the downstream M-way sum is exact.  Rounding is HALF_UP
    away from zero — floor(x+0.5)/ceil(x-0.5) on the binary double equals
    Spark ROUND's BigDecimal HALF_UP and DuckDB's ROUND for every
    representable input."""
    import numpy as np

    scaled = _subspace_dots(vecs, codebooks) * 1_000_000.0
    return np.where(
        scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
    ).astype(np.int64)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, m, code): per-subspace nearest-centroid assignment.

    score = dot - ||c||^2/2 (argmin-L2 without the per-vector constant);
    ties break to the higher code id, mirroring the descending
    (score, code) order of `similarity/ivf.py:_nearest_cells`.
    """
    # Arrow-vectorized numpy encode, NOT a Catalyst expression.  The M*K
    # (256) score expressions per row defeat whole-stage codegen: both a
    # struct-sort and a flat greatest+CASE formulation produced generated
    # code Janino could not compile (method too large), falling back to
    # interpreted evaluation at ~8-50 s for 2k vectors.  The numpy form is
    # milliseconds AND parity-exact (``_subspace_dots``' explicit left fold).
    import numpy as np
    import pandas as pd

    from bigdata_rags_spark.similarity.ivf import _vector_matrix

    m = len(codebooks)
    ms = np.arange(m, dtype=np.int32)

    def enc(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            codes = _pq_codes(_vector_matrix(pdf["v"]), codebooks)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), m),
                    "m": np.tile(ms, n),
                    "code": codes.reshape(-1),
                }
            )

    prepped = df.select(
        F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
    )
    return prepped.mapInPandas(enc, schema="id long, m int, code int")


def _encode_with_cells(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, m, code, cell): ``pq_encode`` and the coarse-cell assignment in
    ONE corpus pass — the build/append/on-the-fly-serve input, which until
    r16 was ``pq_encode(df).join(assign_cells(df), "id")``: a corpus-sized
    shuffle join (N*M code rows exchanged against N assignments) between two
    frames derived from the SAME scan (guide §2.4 — an Exchange you can
    remove outright).  Values are bit-identical to the join form:

    - <= 32 centroids: the cell is the SAME codegen'd ``_nearest_cells``
      expression ``assign_cells`` uses, computed on the scan projection and
      passed THROUGH the Arrow batch (replicated M-fold per id);
    - wider codebooks: the cell is computed inside the same numpy pass with
      ``assign_cells``' own numpy kernels (``_cell_sims``/``_best_cells``).
    """
    import numpy as np
    import pandas as pd

    from bigdata_rags_spark.similarity.ivf import (
        _best_cells,
        _cell_sims,
        _nearest_cells,
        _vector_matrix,
    )

    m = len(codebooks)
    ms = np.arange(m, dtype=np.int32)
    narrow = len(centroids) <= 32
    cents = [list(c) for c in centroids]

    def enc(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = _vector_matrix(pdf["v"])
            codes = _pq_codes(vecs, codebooks)
            if narrow:
                cells = pdf["cell"].to_numpy()
            else:
                cells = _best_cells(_cell_sims(vecs, cents), 1)[:, 0]
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), m),
                    "m": np.tile(ms, n),
                    "code": codes.reshape(-1),
                    "cell": np.repeat(cells, m),
                }
            )

    v = as_double_array(F.col(vec_col))
    cols = [F.col(id_col).alias("id"), v.alias("v")]
    if narrow:
        cols.append(_nearest_cells(v, cents, 1)[0].alias("cell"))
    return df.select(*cols).mapInPandas(
        enc, schema="id long, m int, code int, cell int"
    )


# PQ alone is IVFPQ with a single coarse list (Jégou et al. 2011 §V): one
# all-zero centroid puts every vector in cell 0, so the PQ-only serves run
# the IVFPQ plan unchanged
_ONE_CELL = [[0.0]]


class _QuerySide(NamedTuple):
    """A request's query side, built on the driver by ``_query_side``."""

    cells: list[int]  # distinct probed cells: the codes-scan literal
    probes: DataFrame  # (query_id, cell)
    lut: DataFrame  # (query_id, m, code, dot_micro)
    qvec: DataFrame  # (query_id, qv)


def _query_side(
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    n_probe: int,
) -> _QuerySide:
    """Read the request's queries to the driver ONCE, as one Arrow batch
    (queries are the small side by contract — every frame derived from them
    is broadcast), and derive each query's ``n_probe`` cells, the distinct
    probed-cell literal and the per-query LUT there with the same left-fold
    numpy kernels the Arrow passes use (``_cell_sims``/``_best_cells``,
    ``_lut_micro``).  The plan never re-runs the caller's frame and holds no
    query-side Python stage.  A request with no queries yields empty frames
    (every kernel accepts a (0, dim) matrix), so its serve returns no rows."""
    import numpy as np
    import pandas as pd

    from bigdata_rags_spark.similarity.ivf import (
        _best_cells,
        _cell_sims,
        _vector_matrix,
    )

    spark = queries.sparkSession
    qtype = queries.schema["vec_id"].dataType.simpleString()
    qpdf = queries.select(
        F.col("vec_id").alias("query_id"), as_double_array(F.col("embedding")).alias("qv")
    ).toPandas()
    qids = qpdf["query_id"].to_numpy()
    dim = sum(len(book[0]) for book in codebooks)
    qmat = _vector_matrix(qpdf["qv"]).reshape(len(qpdf), dim)
    cells = _best_cells(_cell_sims(qmat, centroids), n_probe)
    probes = pd.DataFrame(
        {"query_id": np.repeat(qids, cells.shape[1]), "cell": cells.reshape(-1)}
    )
    m, k = len(codebooks), len(codebooks[0])
    lut = pd.DataFrame(
        {
            "query_id": np.repeat(qids, m * k),
            "m": np.tile(np.repeat(np.arange(m, dtype=np.int32), k), len(qids)),
            "code": np.tile(np.arange(k, dtype=np.int32), m * len(qids)),
            "dot_micro": _lut_micro(qmat, codebooks).reshape(-1),
        }
    )
    return _QuerySide(
        # the literal probed-cell set is what lets a bucketed scan prune —
        # a join alone cannot skip file reads
        sorted(set(cells.reshape(-1).tolist())),
        spark.createDataFrame(probes, f"query_id {qtype}, cell int"),
        spark.createDataFrame(lut, f"query_id {qtype}, m int, code int, dot_micro long"),
        spark.createDataFrame(qpdf, f"query_id {qtype}, qv array<double>"),
    )


def _top(scored: DataFrame, score: str, n: int) -> DataFrame:
    """The per-query top ``n`` rows of ``scored`` by ``score`` (ties to the
    lower neighbor id), numbered by an int ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= n)
        .select("query_id", "neighbor_id", score, "rank")
    )


def _adc_topk(side: _QuerySide, codes: DataFrame, n: int) -> DataFrame:
    """(query_id, neighbor_id, approx_sim_micro, rank): each query's top
    ``n`` corpus ids by asymmetric distance.  ``codes`` rows (id, m, code,
    cell) meet the broadcast probes on ``cell`` — only probed cells are
    scored — and the broadcast LUT on (query_id, m, code); the M
    integer-micro dots then sum exactly in a partial+final aggregate."""
    scored = (
        codes.join(F.broadcast(side.probes), "cell")
        .join(F.broadcast(side.lut), ["query_id", "m", "code"])
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("dot_micro").cast("bigint").alias("approx_sim_micro"))
    )
    # partition-local pre-top-k: the agg's exchange is unavoidable (it IS
    # the ADC sum), but the per-query window would re-shuffle all
    # |Q| x candidates rows into one task per query — prune each
    # partition to its own per-query best n first
    # (hash-identical superset; similarity/topk.py)
    scored = local_topk_prefilter(
        scored, ["query_id"], [("approx_sim_micro", False), ("neighbor_id", True)], n
    )
    return _top(scored, "approx_sim_micro", n)


def _serve(
    side: _QuerySide, codes: DataFrame, vectors: DataFrame, k: int, shortlist: int
) -> DataFrame:
    """(query_id, neighbor_id, similarity, rank): the ADC shortlist of
    ``shortlist`` ids per query, reranked by EXACT cosine against
    ``vectors`` (vec_id, embedding).  Full vectors are fetched for
    |Q| x shortlist ids only; the query side is broadcast."""
    from bigdata_rags_spark.functions.vectors import cosine

    short = _adc_topk(side, codes, shortlist).select("query_id", "neighbor_id")
    cvec = vectors.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_array(F.col("embedding")).alias("cv"),
    )
    scored = (
        short.join(F.broadcast(side.qvec), "query_id")
        .join(cvec, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("similarity"),
        )
    )
    return _top(scored, "similarity", k)


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k neighbors per query via PQ asymmetric distance:
    the IVFPQ ADC stage over a single coarse list — encode the corpus once,
    broadcast the query LUT, equi-join on (query_id, m, code), SUM the M
    integer-micro dots, window top-k per query."""
    books = codebooks if codebooks is not None else pq_codebooks()
    side = _query_side(queries, _ONE_CELL, books, 1)
    return _adc_topk(side, _encode_with_cells(corpus, books, _ONE_CELL), k)


def pq_search_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int = 100,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ serving over a corpus frame: ADC shortlist (cheap, code-space) ->
    exact cosine rerank of the shortlist only -> top-k — ``_serve`` over a
    single coarse list.  Full vectors are touched for |Q| x shortlist rows,
    never the whole corpus; the rerank join is id-keyed with the query side
    broadcast."""
    books = codebooks if codebooks is not None else pq_codebooks()
    side = _query_side(queries, _ONE_CELL, books, 1)
    return _serve(side, _encode_with_cells(corpus, books, _ONE_CELL), corpus, k, shortlist)


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = M_SUB,
    k: int = K_CODES,
    n_iter: int = 5,
    seed: str = "pq",
) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means (Jégou et al. 2011 §III.A) — the trained
    sibling of the fixed literal codebooks, completing the PQ family the
    way ``train_ivf_centroids`` completes IVF: train once (rows-only —
    partition-order float sums make the result oracle-inexact by
    nature), pin the result as literals, serve through
    the SAME oracle-checkable ``pq_adc_topk`` / ``pq_search_rerank`` path.

    Iteration contract (the ``train_ivf_centroids`` discipline): each Lloyd
    round is ONE corpus scan — an Arrow ``mapInPandas`` pass assigns every
    subvector to its nearest centroid (BLAS matmul scoring; training is
    rows-only by nature, so the parity-exact left fold is reserved for the
    serving-side ``pq_encode``) and emits PER-BATCH PARTIAL SUMS
    (j, code, pos, s, cnt),
    so the shuffle carries at most m*k*sub_dim rows per batch and the
    driver collects exactly m*k*sub_dim + m*k bounded rows per round.  No
    join, no per-vector exchange: at 100 TB each round costs one scan +
    one tiny agg, Lloyd's floor.  Initialization is the deterministic md5
    codebook, so training is reproducible run-to-run (no RNG).

    Empty cells keep their previous centroid (stable codebook, same rule
    as IVF).
    """
    import numpy as np
    import pandas as pd

    sub = SUB_DIM
    books = pq_codebooks(dim=m * sub, m=m, k=k, seed=seed)
    prepped = corpus.select(as_double_array(F.col(vec_col)).alias("v"))

    for _ in range(n_iter):
        flat = np.array(
            [[c for c in code] for book in books for code in book], dtype=np.float64
        ).reshape(m, k, sub)
        half_norms = (flat * flat).sum(axis=2) / 2.0

        def stats(batches, flat=flat, half_norms=half_norms):
            sums = np.zeros((m, k, sub), dtype=np.float64)
            cnts = np.zeros((m, k), dtype=np.int64)
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                vecs = np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]],
                    dtype=np.float64,
                )
                for j in range(m):
                    x = vecs[:, j * sub : (j + 1) * sub]
                    scores = x @ flat[j].T - half_norms[j]
                    codes = (k - 1) - scores[:, ::-1].argmax(axis=1)
                    for code in range(k):
                        mask = codes == code
                        if mask.any():
                            sums[j, code] += x[mask].sum(axis=0)
                            cnts[j, code] += int(mask.sum())
            j_idx, c_idx, p_idx = np.meshgrid(
                np.arange(m), np.arange(k), np.arange(sub), indexing="ij"
            )
            yield pd.DataFrame(
                {
                    "j": j_idx.reshape(-1).astype(np.int32),
                    "code": c_idx.reshape(-1).astype(np.int32),
                    "pos": p_idx.reshape(-1).astype(np.int32),
                    "s": sums.reshape(-1),
                    "cnt": np.repeat(cnts.reshape(-1), sub),
                }
            )

        rows = (
            prepped.mapInPandas(stats, schema="j int, code int, pos int, s double, cnt long")
            .groupBy("j", "code", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, tuple[float, int]]] = {}
        for r in rows:
            acc.setdefault((r["j"], r["code"]), {})[r["pos"]] = (r["s"], r["cnt"])
        new_books: list[list[list[float]]] = []
        for j in range(m):
            book = []
            for code in range(k):
                dims = acc.get((j, code))
                cnt = dims[0][1] if dims else 0
                if not cnt:
                    book.append(books[j][code])  # empty cell: keep centroid
                else:
                    book.append([dims[p][0] / cnt for p in range(sub)])
            new_books.append(book)
        books = new_books
    return books


def ivfpq_search_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
    shortlist: int = 50,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF+PQ combined serving over a corpus frame — FAISS's production
    IVFPQ shape (Jégou et al. 2011 §V): the coarse quantizer prunes WHICH
    corpus vectors are scored (only codes whose cell is among the query's
    ``n_probe`` probed cells), PQ ADC prices HOW each surviving candidate
    is scored (M table lookups on bytes), and the exact-cosine rerank of
    the shortlist restores ranking fidelity.  With fixed quantizers the
    full pipeline stays value-hash exact.

    This is ``ivfpq_index_serve``'s plan (``_serve``) over codes encoded
    and cell-assigned in one pass per call (``_encode_with_cells``) — the
    index build's work, which the persisted index pays once.  Serving
    shuffles nothing corpus-sized beyond that encode: probes and the LUT
    are broadcast, candidate volume is |Q| * n_probe/n_cells * N * M code
    rows before the partial+final sum, and full vectors are fetched only
    for the |Q| x shortlist rerank join.
    """
    from bigdata_rags_spark.similarity.ivf import fixed_centroids

    cents = centroids if centroids is not None else fixed_centroids(64, n_cells)
    books = codebooks if codebooks is not None else pq_codebooks()
    side = _query_side(queries, cents, books, n_probe)
    return _serve(side, _encode_with_cells(corpus, books, cents), corpus, k, shortlist)


def _write_index_meta(
    spark,
    table: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    num_buckets: int,
) -> None:
    """Persist the index's quantizers WITH the index (``{prefix}_meta``).

    The quantizers ARE part of the index: serving with any other centroids
    or codebooks than the ones the codes were encoded with silently returns
    garbage (the codes are meaningless under a different codebook).  FAISS
    serializes them into the index file for exactly this reason; here they
    are a tiny managed table of (kind, a, b, pos, val) doubles — exact
    round-trip, so a fixed-literal build re-serves bit-identically."""
    from bigdata_rags_spark.io.bucketing import drop_managed_table

    import pandas as pd

    rows = [
        ("cent", i, 0, p, float(v))
        for i, c in enumerate(centroids)
        for p, v in enumerate(c)
    ]
    rows += [
        ("book", j, code, p, float(v))
        for j, book in enumerate(codebooks)
        for code, c in enumerate(book)
        for p, v in enumerate(c)
    ]
    rows.append(("conf", num_buckets, 0, 0, 0.0))
    # ship the ~20k meta rows through ONE Arrow batch instead of pickling
    # tuples row-by-row (guide §6 "Arrow for driver transfers"; the wide
    # trained codebooks made the pickle path a measurable slice of every
    # build replay).  Same rows, same schema, same table content.
    pdf = pd.DataFrame(rows, columns=["kind", "a", "b", "pos", "val"]).astype(
        {"a": "int32", "b": "int32", "pos": "int32", "val": "float64"}
    )
    df = spark.createDataFrame(pdf, "kind string, a int, b int, pos int, val double")
    drop_managed_table(spark, table)
    df.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(table)


def _read_index_meta(
    spark, table: str
) -> tuple[list[list[float]], list[list[list[float]]], int]:
    """(centroids, codebooks, num_buckets) back from ``{prefix}_meta`` — a
    bounded driver action (n_cells*dim + m*k*sub + 1 rows, a few thousand
    doubles at the widest auto_n_cells width)."""
    # one Arrow batch to the driver instead of a row-collect (guide §6);
    # identical reconstruction — values round-trip exactly (doubles are
    # stored and read bit-for-bit either way)
    pdf = spark.table(table).toPandas()
    cents_d: dict[int, dict[int, float]] = {}
    books_d: dict[tuple[int, int], dict[int, float]] = {}
    num_buckets = 0
    for kind, a, b, pos, val in pdf.itertuples(index=False):
        if kind == "cent":
            cents_d.setdefault(a, {})[pos] = float(val)
        elif kind == "book":
            books_d.setdefault((a, b), {})[pos] = float(val)
        else:
            num_buckets = int(a)
    cents = [
        [cents_d[i][p] for p in range(len(cents_d[i]))] for i in sorted(cents_d)
    ]
    m = max(j for j, _ in books_d) + 1
    k = max(c for _, c in books_d) + 1
    books = [
        [
            [books_d[(j, code)][p] for p in range(len(books_d[(j, code)]))]
            for code in range(k)
        ]
        for j in range(m)
    ]
    return cents, books, num_buckets


_CODES_RESERVED = ("id", "m", "code", "cell", "seq")


def _attach_metadata(codes: DataFrame, metadata: DataFrame | None) -> DataFrame:
    """Denormalize an id-keyed metadata frame into the codes frame (first
    metadata column = the vector id, the rest become predicate columns of
    the codes table).  One id-keyed join paid at BUILD/APPEND time —
    exactly the join the predicate serve path never pays per query."""
    if metadata is None:
        return codes
    attr_cols = list(metadata.columns[1:])
    if not attr_cols:
        raise ValueError("metadata frame needs at least one attribute column")
    clash = set(attr_cols) & set(_CODES_RESERVED)
    if clash:
        raise ValueError(
            f"metadata columns collide with the codes schema: {sorted(clash)}"
        )
    md = metadata.select(
        F.col(metadata.columns[0]).cast("long").alias("id"), *attr_cols
    )
    return codes.join(md, "id", "left")


def _with_liveness(spark, table_prefix: str, rows: DataFrame, key: str) -> DataFrame:
    """``rows`` of an index table plus a boolean ``__live`` column — THE
    live-row rule of the log-structured index, shared by every reader:

        a row is live unless a tombstone for its id has a LARGER ``seq``.

    ``{prefix}_codes``/``_vectors`` rows carry the ``seq`` they were written
    at (0 at build) and ``{prefix}_tombstones`` holds (vec_id, seq) pairs.
    An upsert at ``s`` writes (id, s) tombstones and then its rows at
    ``s``, so it masks every older copy of its ids and stays live itself; a
    delete at ``s`` masks every stored copy.  Tombstones are reduced to one
    (id, max seq) row per id BEFORE the join, so an id deleted or upserted
    repeatedly never multiplies the rows it is joined against."""
    tomb_table = f"{table_prefix}_tombstones"
    if not spark.catalog.tableExists(tomb_table):
        return rows.withColumn("__live", F.lit(True))
    last = (
        spark.table(tomb_table)
        .groupBy(F.col("vec_id").alias("__tid"))
        .agg(F.max("seq").alias("__tseq"))
    )
    return (
        rows.join(F.broadcast(last), F.col(key) == F.col("__tid"), "left")
        .withColumn(
            "__live", F.col("__tseq").isNull() | (F.col("seq") >= F.col("__tseq"))
        )
        .drop("__tid", "__tseq")
    )


def _live_rows(spark, table_prefix: str, rows: DataFrame, key: str) -> DataFrame:
    """The live rows of ``rows`` (``_with_liveness``), schema unchanged."""
    return (
        _with_liveness(spark, table_prefix, rows, key)
        .filter(F.col("__live"))
        .drop("__live")
    )


def _next_seq(spark, table_prefix: str) -> int:
    """The ``seq`` of the next upsert or delete: a logical counter, 1 + the
    tombstone table's max ``seq`` (0 when there is none).  Every row written
    since the last compaction has a tombstone with an equal ``seq``, and
    compaction resets the rows it keeps to 0 when it drops the tombstones,
    so the new ``seq`` exceeds every stored row's."""
    tomb_table = f"{table_prefix}_tombstones"
    top = None
    if spark.catalog.tableExists(tomb_table):
        # a per-partition top-1 merged on the driver: one single-stage job,
        # where an aggregate would add a shuffle stage and a second job
        top = spark.table(tomb_table).select("seq").orderBy(F.desc("seq")).first()
    return 1 + (top[0] if top else 0)


def _with_seq(df: DataFrame, seq: int) -> DataFrame:
    return df.withColumn("seq", F.lit(int(seq)).cast("long"))


def build_ivfpq_index(
    corpus: DataFrame,
    table_prefix: str = "ivfpq_idx",
    n_cells: int = 16,
    num_buckets: int = 16,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: bool = False,
    train_iter: int = 3,
    metadata: DataFrame | None = None,
) -> tuple[str, str]:
    """Persist the IVFPQ index: the build half of FAISS's build-once /
    serve-many lifecycle (``ivfpq_search_rerank`` is the right plan SHAPE
    but re-encodes the whole corpus inside every serving call, the wrong
    LIFECYCLE at 100 TB where the index is built once and served thousands
    of times).

    Writes two managed tables and returns their names:

    - ``{prefix}_codes``  (id, m, code, cell, *predicate columns, seq): the
      PQ-encoded corpus with its coarse-quantizer cell, bucketed AND
      sorted on ``cell`` — serving filters ``cell IN (probed cells)``, so
      only the probed buckets are read off disk (bucket pruning, pinned
      in tests/test_ann_index.py).  ``metadata`` (optional id-keyed frame:
      first column the vector id, the rest filterable attributes like
      lang/source/date) is denormalized INTO the codes table at build
      time — the production vector-store layout:
      ``ivfpq_index_serve(predicate=...)`` then filters the bucket-pruned
      codes scan DIRECTLY, no id-frame join at serve time.  The M-fold
      duplication of attribute values is parquet-dictionary-encoded
      (low-cardinality categoricals cost ~1 byte/row); vectors missing
      from ``metadata`` keep NULL attributes (LEFT join — the index never
      silently drops vectors; NULL never matches a predicate).
    - ``{prefix}_vectors`` (vec_id, embedding, seq): full vectors bucketed
      on ``vec_id`` for the rerank point-lookup join — the corpus side of
      the |Q| x shortlist rerank fetch never shuffles.

    Every row is written at ``seq = 0`` (a constant column, run-length
    encoded to almost nothing): upserts and deletes append rows and
    tombstones at higher ``seq`` and readers apply the live-row rule of
    ``_with_liveness``.

    The corpus is scanned exactly twice at build time (encode+assign, and
    the vector copy) and never again: serving touches codes (bytes) for
    scoring and fetches full vectors only for shortlist ids.  At 100 TB
    pick ``num_buckets`` so one cell-bucket of codes fits an executor read
    (codes are M bytes/vector, so even 10^11 vectors are ~1.6 TB of codes
    total — bucket counts in the hundreds suffice).

    Quantizer lifecycle: the centroids and codebooks used to encode are
    persisted alongside in ``{prefix}_meta`` and re-loaded by
    ``ivfpq_index_serve`` / ``append_ivfpq_index`` — the serving call never
    guesses the codebook the codes were written under.  ``train=True``
    trains both quantizers on the corpus first (``train_ivf_centroids`` +
    ``train_pq_codebooks`` — training is rows-only by nature, but a
    TRAINED-then-persisted index re-serves deterministically because the
    trained literals are frozen in meta at build time).
    """
    from bigdata_rags_spark.io.bucketing import drop_managed_table, write_bucketed
    from bigdata_rags_spark.similarity.ivf import (
        fixed_centroids,
        train_ivf_centroids,
    )

    spark = corpus.sparkSession
    if train:
        if centroids is None:
            centroids = train_ivf_centroids(
                corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells, n_iter=train_iter
            )
        if codebooks is None:
            codebooks = train_pq_codebooks(
                corpus, id_col=id_col, vec_col=vec_col, n_iter=train_iter
            )
    cents = centroids if centroids is not None else fixed_centroids(64, n_cells)
    books = codebooks if codebooks is not None else pq_codebooks()

    codes_table = f"{table_prefix}_codes"
    vectors_table = f"{table_prefix}_vectors"

    # one-pass encode+assign (r16): both frames derive from the same scan,
    # so the former pq_encode ⋈ assign_cells shuffle join is removable
    codes = _encode_with_cells(corpus, books, cents, id_col=id_col, vec_col=vec_col)
    codes = _with_seq(_attach_metadata(codes, metadata), 0)

    # The three index writes are INDEPENDENT jobs the driver used to call
    # sequentially, so each write's task tail left the executors idle
    # (guide §2.6 "overlap independent jobs"): run them from a small driver
    # thread pool — the vectors write back-fills the codes write's tail and
    # the tiny meta write hides entirely.  Actions are only sequential
    # because driver code calls them sequentially; the per-table drop+write
    # pairs touch disjoint tables, and Spark serializes the metastore calls
    # internally.  Table contents are byte-identical to the sequential form.
    def _w_codes() -> None:
        drop_managed_table(spark, codes_table)
        write_bucketed(codes, codes_table, "cell", num_buckets)

    def _w_vectors() -> None:
        drop_managed_table(spark, vectors_table)
        write_bucketed(
            _with_seq(
                corpus.select(
                    F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
                ),
                0,
            ),
            vectors_table,
            "vec_id",
            num_buckets,
        )

    def _w_meta() -> None:
        _write_index_meta(spark, f"{table_prefix}_meta", cents, books, num_buckets)
        # a rebuild starts clean: stale tombstones from a prior index under
        # the same prefix must not mask freshly-indexed vectors, nor may an
        # interrupted compaction's marker swap its stale staging tables in
        drop_managed_table(spark, f"{table_prefix}_tombstones")
        drop_managed_table(spark, f"{table_prefix}_compacting")

    _run_overlapped(_w_codes, _w_vectors, _w_meta)
    return codes_table, vectors_table


def ivfpq_index_serve(
    queries: DataFrame,
    k: int,
    table_prefix: str = "ivfpq_idx",
    n_probe: int = 4,
    shortlist: int = 50,
    predicate: str | Column | None = None,
) -> DataFrame:
    """Serve ANN top-k from a PERSISTED IVFPQ index (``build_ivfpq_index``)
    — the production ANN path: no corpus encode in the plan, value-hash
    identical to the on-the-fly ``ivfpq_search_rerank`` (asserted by the
    ``embedding_ivfpq_index_serve`` oracle, which is the same SQL as the
    on-the-fly sibling's).  It takes no quantizer arguments: the centroids
    and codebooks are always the ones the build froze in ``{prefix}_meta``
    — any others would score the stored codes as garbage.

    ``predicate`` (optional SQL string or Column over the index's stored
    predicate columns — ``build_ivfpq_index(metadata=...)``) serves the
    FILTERED form "top-k WHERE <metadata predicate>" by PRE-FILTERING: the
    predicate becomes a plain filter ON the bucket-pruned codes scan, so
    the shortlist is drawn from eligible candidates only (no post-filter
    starvation).  Catalyst pushes it into the parquet read (plan-pinned:
    PushedFilters carries it, zero joins, bucket pruning intact), so at
    100 TB a selective predicate prunes row groups inside the probed
    buckets.  When None the plan is the unfiltered serve.

    Serving shape, in scan order:
    1. the request's queries reach the driver ONCE (``_query_side``),
       which builds the probes, the probed-cell literal and the LUT;
    2. the probed cells filter the codes scan as a literal ``cell IN
       (...)`` — BUCKET PRUNING: unprobed buckets of the codes table are
       never read (SelectedBucketsCount < total, plan-pinned);
    3. ``_serve`` ADC-scores the surviving live codes into a shortlist,
       then the exact-cosine rerank fetches full live vectors for
       |Q| x shortlist ids from the vec_id-bucketed vectors table
       (point-lookup join; the big side is pre-bucketed so only the tiny
       shortlist side moves).

    Both index reads apply the live-row rule (``_live_rows``): a deleted
    id is never scored or reranked, and an upserted id is scored and
    reranked from its newest rows only.
    """
    spark = queries.sparkSession
    cents, books, _ = _read_index_meta(spark, f"{table_prefix}_meta")
    side = _query_side(queries, cents, books, n_probe)
    codes = spark.table(f"{table_prefix}_codes").filter(F.col("cell").isin(side.cells))
    if predicate is not None:
        # predicate serving: a scan filter on the stored predicate columns
        # — pushed into the parquet read alongside the cell pruning, no
        # join in the plan (the build-time denormalization pays for this)
        codes = codes.filter(
            F.expr(predicate) if isinstance(predicate, str) else predicate
        )
    vectors = spark.table(f"{table_prefix}_vectors")
    return _serve(
        side,
        _live_rows(spark, table_prefix, codes, "id"),
        _live_rows(spark, table_prefix, vectors, "vec_id"),
        k,
        shortlist,
    )


def append_ivfpq_index(
    batch: DataFrame,
    table_prefix: str = "ivfpq_idx",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metadata: DataFrame | None = None,
) -> tuple[str, str]:
    """Upsert a vector batch into an EXISTING persisted IVFPQ index —
    build-once/serve-many becomes build-once/UPSERT-many/serve-many
    (without it, every ingest is a full rebuild).
    A batch id that is new is inserted; one already in the index (live or
    deleted) is replaced.  Batch ids must be unique
    (``ingest_vectors_batch`` collapses duplicates first).

    The batch is encoded and cell-assigned under the index's OWN persisted
    quantizers (``{prefix}_meta`` — never re-derived, so old and new codes
    live in the same code space).  With ``s = _next_seq``, the upsert then
    appends, in this order:

    1. ``(batch ids, s)`` to ``{prefix}_tombstones`` — masking every older
       copy of the ids;
    2. the batch's rows at ``seq = s`` to both bucketed tables (two
       overlapped writes) — live, because only a LARGER tombstone masks.

    ``saveAsTable`` in append mode adds new per-bucket files under the
    SAME bucket spec, so cell-bucket pruning and the vec_id point-lookup
    layout keep holding after any number of upserts (FAISS ``add``
    semantics; the IVF lists just grow).  A crash between 1 and 2 leaves
    the ids masked, never half-visible, and a retry writes at a larger
    ``seq`` that masks whatever the failed attempt left behind.

    Cost: one scan of the BATCH (encode+assign) + batch-sized appends — the
    stored corpus is never read and never rewritten; replaced rows stay on
    disk, masked, until ``compact_ivfpq_index``.  Serving after an upsert is
    value-identical to a rebuild over the live set (pinned in
    tests/test_ann_index.py) because serving math depends only on the live
    rows, not on file layout.
    """
    from bigdata_rags_spark.io.bucketing import write_bucketed

    spark = batch.sparkSession
    cents, books, num_buckets = _read_index_meta(spark, f"{table_prefix}_meta")
    seq = _next_seq(spark, table_prefix)

    codes_table = f"{table_prefix}_codes"
    vectors_table = f"{table_prefix}_vectors"
    codes = _encode_with_cells(batch, books, cents, id_col=id_col, vec_col=vec_col)
    codes = _with_seq(_attach_metadata(codes, metadata), seq)
    # the batch must carry exactly the predicate columns the index was
    # built with: a silent schema drift here would leave appended rows
    # invisible to (or wrongly visible to) every predicate serve
    existing_cols = spark.table(codes_table).columns
    if sorted(codes.columns) != sorted(existing_cols):
        raise ValueError(
            f"append schema mismatch for {codes_table}: index stores "
            f"{sorted(set(existing_cols) - set(_CODES_RESERVED))}, batch "
            f"supplies {sorted(set(codes.columns) - set(_CODES_RESERVED))} "
            "— pass the same metadata columns the index was built with"
        )
    _with_seq(batch.select(F.col(id_col).cast("long").alias("vec_id")), seq).write.mode(
        "append"
    ).format("parquet").saveAsTable(f"{table_prefix}_tombstones")
    # the two batch-sized appends are independent jobs: overlap them so the
    # vectors insert back-fills the codes insert's task tail (guide §2.6)
    _run_overlapped(
        lambda: write_bucketed(
            codes.select(*existing_cols), codes_table, "cell", num_buckets, mode="append"
        ),
        lambda: write_bucketed(
            _with_seq(
                batch.select(
                    F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
                ),
                seq,
            ),
            vectors_table,
            "vec_id",
            num_buckets,
            mode="append",
        ),
    )
    return codes_table, vectors_table


def delete_from_ivfpq_index(
    ids: DataFrame,
    table_prefix: str = "ivfpq_idx",
    id_col: str = "vec_id",
) -> str:
    """Logically delete vectors from a persisted IVFPQ index: append
    ``(ids, _next_seq)`` to ``{prefix}_tombstones``, which masks every
    stored copy of the ids (the live-row rule, ``_with_liveness``).  This
    is the LSM/FAISS `remove_ids`-with-selector shape: a delete never
    rewrites the bucketed codes/vectors tables — at 100 TB a physical
    per-delete rewrite would re-shuffle the whole index for a handful of
    ids.  Reclaim space with ``compact_ivfpq_index`` once the tombstone
    fraction justifies one rebuild-sized write."""
    spark = ids.sparkSession
    table = f"{table_prefix}_tombstones"
    seq = _next_seq(spark, table_prefix)
    out = _with_seq(ids.select(F.col(id_col).cast("long").alias("vec_id")), seq)
    out.write.mode("append").format("parquet").saveAsTable(table)
    return table


def compact_ivfpq_index(
    spark,
    table_prefix: str = "ivfpq_idx",
) -> tuple[int, int]:
    """Physically apply accumulated tombstones — the ONLY operation that
    rewrites index tables: rewrite ``{prefix}_codes`` and
    ``{prefix}_vectors`` keeping only their live rows, reset to ``seq = 0``
    (same bucket spec, so every serving plan property — cell pruning,
    vec_id point lookups — survives the rewrite), and drop the tombstone
    table.  Returns (codes_rows_removed, vectors_rows_removed).  One
    index-sized write, paid when the operator chooses, not per delete.

    Crash-safety: write-then-swap.  Both tables' survivors
    land in ``{table}__compacting`` staging tables FIRST; only then is the
    ``{prefix}_compacting`` marker created, the two tables swapped in, the
    tombstones dropped and the marker removed.  A rerun that finds the
    marker finishes the swaps and the tombstone drop and returns (0, 0).
    It must not recompute: a swapped table's rows are already reset to seq
    0, so the still-present tombstones would mask the upserted ones, and a
    table dropped before its rename exists only as its staging table.
    Without the marker, staging tables are partial leftovers and are
    rebuilt."""
    from bigdata_rags_spark.io.bucketing import drop_managed_table, write_bucketed

    tomb_table = f"{table_prefix}_tombstones"
    marker = f"{table_prefix}_compacting"
    tables = (
        (f"{table_prefix}_codes", "id", "cell"),
        (f"{table_prefix}_vectors", "vec_id", "vec_id"),
    )

    def finish() -> None:
        for table, _, _ in tables:
            if spark.catalog.tableExists(f"{table}__compacting"):
                drop_managed_table(spark, table)
                spark.sql(f"ALTER TABLE {table}__compacting RENAME TO {table}")
        drop_managed_table(spark, tomb_table)
        drop_managed_table(spark, marker)

    if spark.catalog.tableExists(marker):
        finish()
        return (0, 0)
    if not spark.catalog.tableExists(tomb_table):
        return (0, 0)
    _, _, num_buckets = _read_index_meta(spark, f"{table_prefix}_meta")
    removed = []
    for table, key, bucket_col in tables:
        staging = f"{table}__compacting"
        drop_managed_table(spark, staging)
        cur = spark.table(table)
        before = cur.count()
        keep = _with_seq(_live_rows(spark, table_prefix, cur, key), 0)
        write_bucketed(keep, staging, bucket_col, num_buckets)
        removed.append(before - spark.table(staging).count())
    spark.sql(f"CREATE TABLE {marker} (staged INT) USING parquet")
    finish()
    return (removed[0], removed[1])


def merge_ivfpq_indexes(
    spark,
    src_prefixes: list[str],
    dst_prefix: str,
) -> tuple[str, str]:
    """Merge persisted IVFPQ indexes built under the SAME quantizers into
    one index — FAISS ``merge_from`` for the shard-then-merge build
    pattern: at 100 TB the corpus is indexed as independent shards (each a
    bounded build over its slice) and merged into the serving index with
    ONE co-bucketed write per table, never re-encoding a vector.

    Preconditions, each checked and loudly fatal:
    - every source's ``{prefix}_meta`` quantizers (centroids, codebooks,
      bucket count) are bit-identical — codes from different code spaces
      are mutually meaningless, the reason the quantizers travel with the
      index in the first place;
    - the sources' codes tables carry the same predicate-column schema
      (the `build_ivfpq_index(metadata=...)` columns);
    - source LIVE id sets are DISJOINT (the FAISS merge contract) — an id
      live in two shards would double-count its ADC score and surface at
      two ranks, so the overlap check is worth its one id-level aggregate
      against an index-sized write.

    Only live rows are merged (``_live_rows``), reset to ``seq = 0``, and
    the merged index starts without tombstones: an id deleted in a source
    stays absent (delete survives merge), and each source's private
    ``seq`` counter never meets another's.  The merged tables keep the
    shared bucket spec, so cell pruning and vec_id point lookups hold on
    the merged index unchanged — pinned in tests/test_ann_index.py.

    The merged tables are written under ``{dst}_*__merging`` staging names
    and swapped in only after the duplicate-id check returned 0: a refused
    merge drops the staging tables and leaves any index already at
    ``dst_prefix`` untouched and servable."""
    from bigdata_rags_spark.io.bucketing import drop_managed_table, write_bucketed

    if len(src_prefixes) < 2:
        raise ValueError("merge needs at least two source indexes")
    metas = [_read_index_meta(spark, f"{p}_meta") for p in src_prefixes]
    cents, books, num_buckets = metas[0]
    for p, m in zip(src_prefixes[1:], metas[1:]):
        if m != (cents, books, num_buckets):
            raise ValueError(
                f"quantizer mismatch: {src_prefixes[0]} and {p} were built "
                "under different centroids/codebooks/bucket counts — their "
                "codes are not in one code space and cannot be merged"
            )
    codes_frames = [spark.table(f"{p}_codes") for p in src_prefixes]
    cols0 = sorted(codes_frames[0].columns)
    for p, cf in zip(src_prefixes[1:], codes_frames[1:]):
        if sorted(cf.columns) != cols0:
            raise ValueError(
                f"codes schema mismatch: {src_prefixes[0]} stores {cols0}, "
                f"{p} stores {sorted(cf.columns)} — rebuild with matching "
                "predicate columns before merging"
            )
    codes = vectors = ids = None
    for p, cf in zip(src_prefixes, codes_frames):
        live = _with_seq(_live_rows(spark, p, cf, "id"), 0)
        vec = _with_seq(
            _live_rows(spark, p, spark.table(f"{p}_vectors"), "vec_id"), 0
        )
        # m = 0 is the one-row-per-vector slice of the live codes
        s = live.filter(F.col("m") == 0).select("id")
        live = live.select(*codes_frames[0].columns)
        codes = live if codes is None else codes.unionByName(live)
        vectors = vec if vectors is None else vectors.unionByName(vec)
        ids = s if ids is None else ids.unionByName(s)
    dup = ids.groupBy("id").count().filter(F.col("count") > 1)

    # The disjointness aggregate and the three staging writes are
    # independent jobs over the already-persisted source tables — overlap
    # them from a driver thread pool: the id-level check back-fills the
    # co-bucketed writes' task tails instead of serializing a full extra
    # pass ahead of them.
    parts = ("codes", "vectors", "meta")
    staged = {t: f"{dst_prefix}_{t}__merging" for t in parts}
    for t in parts:
        drop_managed_table(spark, staged[t])  # stale leftovers of a crash
    n_dup_box: list[int] = []
    _run_overlapped(
        lambda: n_dup_box.append(dup.count()),
        lambda: write_bucketed(codes, staged["codes"], "cell", num_buckets),
        lambda: write_bucketed(vectors, staged["vectors"], "vec_id", num_buckets),
        lambda: _write_index_meta(spark, staged["meta"], cents, books, num_buckets),
    )
    if n_dup_box[0] > 0:
        for t in parts:
            drop_managed_table(spark, staged[t])
        raise ValueError(
            f"{n_dup_box[0]} vector id(s) appear in more than one source index — "
            "merged serving would double-count them; deduplicate shards first"
        )
    for t in parts:
        drop_managed_table(spark, f"{dst_prefix}_{t}")
        spark.sql(f"ALTER TABLE {staged[t]} RENAME TO {dst_prefix}_{t}")
    drop_managed_table(spark, f"{dst_prefix}_tombstones")
    drop_managed_table(spark, f"{dst_prefix}_compacting")
    return f"{dst_prefix}_codes", f"{dst_prefix}_vectors"


def ivfpq_index_stats(spark, table_prefix: str = "ivfpq_idx") -> DataFrame:
    """Index-health report over a persisted IVFPQ index: per-cell vector
    counts plus occupancy share and the live/tombstoned split — what an
    operator reads before trusting probe latency (a skewed cell serves
    slowly for every query that probes it; a high tombstone fraction says
    run ``compact_ivfpq_index``).

    One scan of the codes table restricted to m = 0 (exactly one code row
    per stored vector copy, so m = 0 is a 1/M-cost proxy for the vector
    rows), flagged by the live-row rule (``_with_liveness``, which reduces
    the tombstones to one row per id before its broadcast join, so an id
    deleted twice is still counted once).  Returns (cell, n_vectors,
    n_live, n_tombstoned, occupancy_micro): n_vectors counts stored rows,
    n_live the live ones and n_tombstoned the masked ones (deleted ids and
    the replaced copies of upserted ids) — until ``compact_ivfpq_index``;
    occupancy_micro is the cell's integer-micro share of all stored rows.
    """
    codes = spark.table(f"{table_prefix}_codes").filter(F.col("m") == 0)
    flagged = _with_liveness(spark, table_prefix, codes, "id").withColumn(
        "__dead", F.when(F.col("__live"), 0).otherwise(1)
    )
    per_cell = flagged.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(1 - F.col("__dead")).cast("bigint").alias("n_live"),
        F.sum("__dead").cast("bigint").alias("n_tombstoned"),
    )
    total = per_cell.agg(F.sum("n_vectors").cast("bigint").alias("__t"))
    return (
        per_cell.crossJoin(F.broadcast(total))
        .select(
            "cell",
            "n_vectors",
            "n_live",
            "n_tombstoned",
            F.expr("n_vectors * 1000000 div nullif(__t, 0)")
            .cast("bigint")
            .alias("occupancy_micro"),
        )
    )


def ivfpq_tuning_report(
    queries: DataFrame,
    k: int = 5,
    table_prefix: str = "ivfpq_idx",
    probe_grid: tuple[int, ...] = (1, 2, 4, 8, 16),
) -> DataFrame:
    """Recall/cost planner for a persisted IVFPQ index — answers "what
    ``n_probe`` do I serve with" the way `lsh_tuning_planner` answers "how
    many hyperplanes": for every ``n_probe`` in the grid,
    the CELL-COVERAGE recall@k against the exact brute-force answer and the
    codes-scanned cost, all from ONE pass over the index.

    Cell ranking is prefix-nested (the top-p cells are a prefix of the full
    ``_nearest_cells`` ranking), so one ranked explode per query serves
    every grid point — no candidate join, no repeated serving runs.
    Cell-coverage recall (is the true neighbor's cell probed?) is the
    standard IVF recall decomposition: it upper-bounds end-to-end serving
    recall, isolates the coarse-quantizer knob from the ADC ``shortlist``
    knob, and is integer-exact (a Viterbi-free membership count), so the
    whole report is oracle-checkable.

    Returns one row per grid point: (n_probe, truth_hits, recall_micro,
    scanned_codes) — recall_micro = truth_hits * 1e6 div (k * |Q|);
    scanned_codes = total live m=0 code rows the probed cells would scan
    across all queries (the latency proxy).  Monotone non-decreasing in
    n_probe by construction; recall_micro = 1e6 at n_probe = n_cells.

    Scale shape: ground truth is |Q| x N exact cosine with the bounded
    query set broadcast (the `embedding_cosine_topk` contract — the
    planner is an offline calibration run, not a serving path); everything
    else is cell-keyed aggregation over (id, cell) pairs."""
    from pyspark.sql import Window

    from bigdata_rags_spark.functions.vectors import cosine
    from bigdata_rags_spark.similarity.ivf import _nearest_cells

    spark = queries.sparkSession
    cents, _books, _ = _read_index_meta(spark, f"{table_prefix}_meta")
    n_cells = len(cents)

    qvec = queries.select(
        F.col("vec_id").alias("query_id"), as_double_array(F.col("embedding")).alias("qv")
    )
    n_q = qvec.count()  # bounded: queries are the small side by contract
    ranked = qvec.select(
        "query_id",
        F.posexplode(_nearest_cells(F.col("qv"), cents, n_cells)).alias("pos", "cell"),
    ).select("query_id", (F.col("pos") + 1).cast("int").alias("cell_rank"), "cell")

    codes = spark.table(f"{table_prefix}_codes").filter(F.col("m") == 0)
    codes = _live_rows(spark, table_prefix, codes, "id")
    vecs = spark.table(f"{table_prefix}_vectors")
    vecs = _live_rows(spark, table_prefix, vecs, "vec_id")

    # exact brute-force truth: per query the k nearest live vectors
    cvec = vecs.select(
        F.col("vec_id").alias("neighbor_id"), as_double_array(F.col("embedding")).alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    truth = (
        F.broadcast(qvec).crossJoin(cvec)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("similarity", F.round(cosine(F.col("qv"), F.col("cv")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    grid = F.explode(F.array(*[F.lit(int(p)) for p in probe_grid])).alias("n_probe")

    # which cell-rank would recall each true neighbor
    hit_rank = (
        truth.join(codes.select(F.col("id").alias("neighbor_id"), "cell"), "neighbor_id")
        .join(ranked, ["query_id", "cell"])
        .select("query_id", "neighbor_id", "cell_rank")
    )
    hits = (
        hit_rank.select("cell_rank").crossJoin(F.broadcast(hit_rank.sparkSession.range(1).select(grid)))
        .filter(F.col("cell_rank") <= F.col("n_probe"))
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("truth_hits"))
    )
    # scanned live codes per grid point (latency proxy)
    occ = codes.groupBy("cell").agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
    scanned = (
        ranked.join(occ, "cell")
        .crossJoin(F.broadcast(spark.range(1).select(grid)))
        .filter(F.col("cell_rank") <= F.col("n_probe"))
        .groupBy("n_probe")
        .agg(F.sum("occ").cast("bigint").alias("scanned_codes"))
    )
    base = spark.createDataFrame([(int(p),) for p in probe_grid], "n_probe int")
    return (
        base.join(hits, "n_probe", "left")
        .join(scanned, "n_probe", "left")
        .select(
            "n_probe",
            F.coalesce(F.col("truth_hits"), F.lit(0)).cast("bigint").alias("truth_hits"),
            F.expr(f"coalesce(truth_hits, 0) * 1000000 div {int(k) * max(int(n_q), 1)}")
            .cast("bigint")
            .alias("recall_micro"),
            F.coalesce(F.col("scanned_codes"), F.lit(0)).cast("bigint").alias("scanned_codes"),
        )
    )
