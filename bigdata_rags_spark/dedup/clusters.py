"""Duplicate-cluster assignment: connected components over near-dup pairs.

Pairwise detectors (MinHash/LSH + Jaccard verify) emit edges; dedup needs
the transitive closure — if A~B and B~C, then {A,B,C} is one cluster with
one keeper.  Implemented as iterative min-label propagation WITH pointer
doubling (min propagation is the standard large-graph approach, e.g.
Kiveris et al. "Connected Components in MapReduce"; the doubling step is
classic Shiloach-Vishkin shortcutting): every node starts labeled with
itself; each round it takes the min label among itself and its neighbors,
then jumps once through the label table (label <- label[label]).  Labels
only ever decrease and every label value is itself a node id, so the jump
is a total inner self-join and preserves component membership; the jump
flattens label trees so the min crosses >1 edge-hop per round (a 15-node
chain converges in 3 rounds instead of 14).

Everything is joins + groupBy (no driver-side graph).  Per-round driver
work is ONE job: the convergence signal (count of labels that changed)
rides the localCheckpoint materialization as an Observation metric instead
of a second count() job.

Round-7 measurements at sf0.1 (the 1,088-node / 802-edge threshold-0.4
embedding near-dup graph), recorded so future rounds don't re-litigate:
the r6 one-hop/two-job loop ran 14 rounds in 9.6 s; this doubled/observed
loop runs 10 rounds in ~7 s.  The per-round floor is ~0.7 s of
job-launch/py4j/plan-analysis latency, NOT task work — shrinking
shuffle width to 1 partition and repartitioning the edge cache both
changed nothing, extra pointer jumps per round did not reduce the round
count on this graph topology (min propagation is edge-hop-bound off
chains), and folding 2 hop+jump cycles into one job halved rounds to 6
but tripled per-round plan cost (32 s total).  Further gains need edge
contraction (large-star/small-star), whose 2 phases/round offer no win
at this round count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: rounds the last connected_components call ran (diagnostic — read by
#: tests and the SCALE.md probes; -1 before any call)
LAST_ROUNDS: int = -1


def _contract_local_stars(fwd: DataFrame) -> DataFrame:
    """Partition-local union-find contraction.

    Each input partition's edges are collapsed with an in-memory
    union-find into stars ``(u, local_min_id)`` — a connectivity-EQUIVALENT
    edge set (same nodes, same components), so the global min-label loop
    downstream is unchanged in semantics but starts from a graph whose
    intra-partition diameter is 1.  The loop's round count drops from
    ~log2(global diameter) to ~log2(#partition-crossing hops): measured
    10 -> 3 rounds (6.8 s -> ~2.5 s) on the sf0.1 embedding near-dup
    graph, where each round is a ~0.7 s job-launch floor, not task work.

    Scale shape: memory per task is ONE partition's node set (bounded by
    ``spark.sql.files.maxPartitionBytes`` / shuffle partition sizing, the
    same bound every hash aggregate lives under), the pass is a single
    narrow mapInPandas with no shuffle, and the output never exceeds the
    input (one edge per distinct node per partition).  This is the
    standard local-contraction prepass of the MapReduce CC literature
    (e.g. Kiveris et al. CC-MR); it composes with, not replaces, the
    doubling loop."""
    import pandas as pd

    def contract(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                u, v = int(u), int(v)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by min id so the local root IS the local min
                    if ru < rv:
                        parent[rv] = ru
                    else:
                        parent[ru] = rv
        nodes = list(parent)
        yield pd.DataFrame({"u": nodes, "v": [find(x) for x in nodes]})

    return fwd.mapInPandas(contract, "u long, v long")


#: base-case bound for the driver solve: 5M (u, v) pairs is ~80 MB on the
#: driver AS ARROW COLUMNS — the same order as a broadcast-join threshold.
#: The edge count rides the job that materializes the edges (an Observation),
#: so an over-threshold graph costs no extra job and never a discarded
#: GB-scale collect.
LOCAL_SOLVE_MAX_EDGES = 5_000_000


def _checkpoint_counted(edges: DataFrame) -> tuple[DataFrame, int]:
    """Materialize ``edges`` once (localCheckpoint) and count its rows in the
    same job."""
    obs = Observation()
    done = edges.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return done, obs.get["n"]


def _solve_on_driver(edges: DataFrame) -> DataFrame:
    """Union-find over edges fetched to the driver through Arrow (two int64
    columns are the documented ~80 MB at the 5M bound; python Row objects
    would be ~10x that), labels returned through Arrow too."""
    import pandas as pd

    edges_pdf = edges.toPandas()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(edges_pdf["u"].tolist(), edges_pdf["v"].tolist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    nodes = list(parent)
    out_pdf = pd.DataFrame(
        {"doc_id": nodes, "cluster_id": [find(n) for n in nodes]}, dtype="int64"
    )
    return edges.sparkSession.createDataFrame(out_pdf, "doc_id long, cluster_id long")


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 20,
    local_contract: bool = True,
    local_solve_max_edges: int = LOCAL_SOLVE_MAX_EDGES,
) -> DataFrame:
    """(doc_id, cluster_id) for every node appearing in ``pairs``;
    cluster_id = min node id in the component (deterministic keeper).

    Three-tier execution (the CC loop's cost at sf0.1 was pure per-round
    job-launch floor, ~0.7 s x 10 rounds):

    1. The raw edges are materialized once and counted in the same job.
       If they fit ``local_solve_max_edges``, one Arrow fetch + driver
       union-find finishes the job — the base case of the MapReduce CC
       literature (contract until it fits, then solve locally).  A dedup
       graph of a few thousand edges takes this path with no Python
       workers at all.
    2. Above the bound, ``_contract_local_stars`` (one narrow mapInPandas
       pass) collapses every partition's edges into connectivity-equivalent
       stars; if those fit the bound, the driver solves them as in tier 1.
    3. Otherwise (the 100-TB path) the doubled min-label loop below runs
       on the CONTRACTED graph — never more rounds than on the raw graph,
       and each round ships only (id, label) pairs.  Measured (SCALE.md
       round-12 probe, tier 3 forced on a 250k-edge path): rounds ==
       ceil(log2(diameter)) — the doubling bound — and the contraction's
       round SAVINGS require edge locality; callers whose edges are
       id-local should ``repartitionByRange`` on the edge key first
       (18 -> 5 rounds on the probe), while hash-partitioned deep graphs
       gain nothing (iterated per-u re-contraction was measured useless
       and is deliberately absent).  Dedup graphs have cluster-bounded
       diameter, so real rounds stay <= log2(max cluster size) + 1.

    ``local_contract=False`` skips tiers 1 and 2 and runs the loop on the
    raw edges.
    """
    global LAST_ROUNDS
    fwd = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    if local_contract:
        # materialize once (round-8 lesson: lazy cache does not protect
        # multi-branch reuse) so the fetch or the contraction never
        # recomputes the pairs' plan
        fwd, n_edges = _checkpoint_counted(fwd)
        if n_edges > local_solve_max_edges:
            fwd, n_edges = _checkpoint_counted(_contract_local_stars(fwd))
        if n_edges <= local_solve_max_edges:
            LAST_ROUNDS = 0
            return _solve_on_driver(fwd)
    edges = (
        fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .cache()
    )
    labels = edges.select("u").distinct().withColumn("label", F.col("u"))
    changed = -1  # sentinel: max_iter <= 0 must hit the RuntimeError, not a NameError
    rounds = 0
    try:
        for _ in range(max_iter):
            rounds += 1
            neighbor_min = (
                edges.join(
                    labels.select(
                        F.col("u").alias("v"), F.col("label").alias("nlabel")
                    ),
                    "v",
                )
                .groupBy("u")
                .agg(F.min("nlabel").alias("nmin"))
            )
            # one min-propagation hop, keeping the previous label around so
            # the convergence metric needs no extra join
            hop = labels.join(neighbor_min, "u", "left").select(
                "u",
                F.col("label").alias("old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            # pointer doubling: label <- label[label].  Every label value is
            # a node id (labels start as self and only take mins of other
            # labels), so the self-join is total; label[x] <= x makes it
            # monotone and component-preserving.
            jumped = hop.join(
                hop.select(F.col("u").alias("label"), F.col("label").alias("glabel")),
                "label",
            ).select("u", "old", F.col("glabel").alias("label"))
            # localCheckpoint truncates the lineage each round — without it
            # the logical plan nests one full join per iteration and the
            # driver OOMs on analysis long before the data is big.  (On a
            # real cluster with unreliable executors, set a checkpoint dir
            # and use .checkpoint() instead.)  The Observation rides the
            # checkpoint job, so `changed` costs no extra action.
            obs = Observation()
            new_labels = jumped.observe(
                obs,
                F.coalesce(
                    F.sum((F.col("label") != F.col("old")).cast("long")), F.lit(0)
                ).alias("changed"),
            ).localCheckpoint()
            changed = obs.get["changed"]
            labels = new_labels.select("u", "label")
            if changed == 0:
                break
        else:
            # loop exhausted max_iter with changed > 0: labels are NOT the
            # transitive closure (a component needs more doubled rounds than
            # max_iter).  Silent wrong answers are worse than loud ones.
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"({changed} labels still changing); raise max_iter — "
                "rounds needed ~ log2(max component diameter)"
            )
        return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"))
    finally:
        LAST_ROUNDS = rounds
        edges.unpersist()


def pagerank_undirected(
    edges: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    n_iter: int = 3,
) -> DataFrame:
    """Integer-micro PageRank over an undirected edge list (damping 0.85,
    ``n_iter`` UNROLLED power iterations — no driver actions): rank
    centrality for near-dup graphs, where high-rank nodes are the
    duplication hubs/templates.  Exact-integer op order (contribution =
    R(u) div deg(u); update = 150000 + 17*sum div 20, i.e. the 0.85
    damping as the reduced rational, all operands non-negative) makes the
    result engine-exact — see the ``near_dup_pagerank`` oracle.  Returns
    ``(node, rank_micro, degree)``.

    Scale: per iteration one (node, bigint) equi-join against the
    degree-attached edge list + one partial+final sum keyed by
    destination; only 16-byte pairs shuffle.  For n_iter beyond ~10 add
    localCheckpoint every few rounds (the connected_components lineage
    rule); at the default 3 the unrolled plan is fine.
    """
    from pyspark.sql import functions as F

    und = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).unionAll(
        edges.select(F.col(b).alias("u"), F.col(a).alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    und_deg = und.join(deg, "u")
    ranks = deg.select(
        F.col("u").alias("node"), F.lit(1_000_000).cast("bigint").alias("r")
    )
    for _ in range(n_iter):
        contrib = (
            und_deg.join(ranks, und_deg["u"] == ranks["node"])
            .select("v", F.expr("r div d").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        ranks = deg.join(contrib, deg["u"] == contrib["v"], "left").select(
            F.col("u").alias("node"),
            # 17*s div 20 == 850000*s div 1000000 exactly (gcd 50000), but the
            # small multiplier keeps 17*s under 2^63 up to ~5e17 total micro
            # rank mass (~5e11 nodes) instead of ~1e13 (~1e7 nodes) — hub
            # concentration on very large graphs can push s toward the total
            # mass, and with ANSI off Spark would wrap silently.
            (
                F.lit(150_000) + F.expr("17 * coalesce(s, 0) div 20")
            ).cast("bigint").alias("r"),
        )
    return ranks.join(deg, ranks["node"] == deg["u"]).select(
        "node", F.col("r").alias("rank_micro"), F.col("d").alias("degree")
    )
