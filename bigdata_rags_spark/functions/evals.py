"""Model-eval aggregation operators: pass@k and self-consistency voting.

The two aggregations every LLM eval harness runs over sampled
generations, expressed as exact-integer Spark aggregates so a SQL oracle
replays them bit-for-bit:

- ``pass_at_k``: the unbiased estimator from Chen et al. 2021 ("Evaluating
  Large Language Models Trained on Code", the HumanEval paper):
  ``pass@k = 1 - C(n-c, k) / C(n, k)`` per task with n samples and c
  correct.  The binomial ratio telescopes to
  ``prod_{i<k} (n-c-i) / (n-i)`` — evaluated as ONE numerator product
  and ONE denominator product in 128-bit-wide integers
  (Spark DECIMAL(38,0) / DuckDB HUGEINT — matched exactly, both floor
  the single final division), then
  ``pass_micro = 1e6 - num * 1e6 DIV den``.  The wide intermediates keep
  the k=5 product exact to n_samples ~ 2.5e6 per task (ADVICE r12: the
  old bigint product silently overflowed past n ~ 390 — real harnesses
  run n = 500-1000).  When fewer than k samples are incorrect the
  numerator clamps to 0 (every k-subset contains a correct sample —
  pass@k is exactly 1).

- ``majority_vote``: self-consistency aggregation (Wang et al. 2022,
  "Self-Consistency Improves Chain of Thought Reasoning"): the modal
  answer per task (ties broken toward the LOWEST answer — engine-exact),
  its vote count, and the integer-micro agreement rate.

Scale shape: both are one hash agg over (task) or (task, answer) rows —
the groupBy-sum/argmax shapes the rest of the repo serves at corpus
size; the vote argmax is a per-task window over that task's distinct
answers only.  Extension beyond the reference (no eval surface —
SURVEY.md §2 extension tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pass_at_k(
    samples: DataFrame,
    group_col: str = "task_id",
    correct_col: str = "correct",
    ks: tuple[int, ...] = (1, 5),
) -> DataFrame:
    """Per-task pass@k for every k in ``ks``: (task, n_samples, n_correct,
    pass{k}_micro ...).  Tasks with fewer than max(ks) samples are dropped
    (the estimator needs n >= k)."""
    kmax = max(ks)
    agg = samples.groupBy(F.col(group_col).alias("task_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sum(F.col(correct_col).cast("bigint")).cast("bigint").alias("n_correct"),
    ).filter(F.col("n_samples") >= kmax)
    out = agg
    cols = ["task_id", "n_samples", "n_correct"]
    for k in ks:
        num = " * ".join(
            f"CAST(GREATEST(n_samples - n_correct - {i}, 0) AS DECIMAL(38,0))"
            for i in range(k)
        )
        den = " * ".join(f"CAST(n_samples - {i} AS DECIMAL(38,0))" for i in range(k))
        out = out.withColumn(
            f"pass{k}_micro",
            F.expr(f"CAST(1000000 - ({num}) * 1000000 DIV ({den}) AS BIGINT)"),
        )
        cols.append(f"pass{k}_micro")
    return out.select(*cols)


def majority_vote(
    samples: DataFrame,
    group_col: str = "task_id",
    answer_col: str = "answer",
) -> DataFrame:
    """Self-consistency vote per task: (task, vote, votes, n_samples,
    n_distinct_answers, agreement_micro) — the modal answer (ties toward
    the lowest answer value) and how much of the sample mass agreed."""
    from pyspark.sql import Window

    votes = samples.groupBy(
        F.col(group_col).alias("task_id"), F.col(answer_col).alias("vote")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    totals = votes.groupBy("task_id").agg(
        F.sum("votes").cast("bigint").alias("n_samples"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_answers"),
    )
    w = Window.partitionBy("task_id").orderBy(F.col("votes").desc(), F.col("vote"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(totals, "task_id")
        .select(
            "task_id",
            "vote",
            "votes",
            "n_samples",
            "n_distinct_answers",
            F.expr("votes * 1000000 DIV n_samples").cast("bigint").alias(
                "agreement_micro"
            ),
        )
    )


# Poisson(1) CDF thresholds in 2^31 units (floor(F(k) * 2^31), k = 0..6;
# the k=7+ tail mass is ~8e-8 and folds into the last bucket).  Shared
# verbatim by the oracle SQL so both engines draw identical weights.
POISSON1_THRESHOLDS: tuple[int, ...] = (
    790015084, 1580030168, 1975037710, 2106706891,
    2139624186, 2146207645, 2147304888,
)

# Integer mixer constants (31-bit lane: every intermediate stays < 2^31 so
# the largest product is < 2^31 * 73244475 < 2^58 — no bigint overflow in
# either engine).  0x45d9f3b is the classic xorshift-multiply hash
# constant; 1013904223 the Numerical Recipes LCG increment.
MIX_INC = 1013904223
MIX_MULT = 73244475  # 0x45d9f3b
MOD31 = 2147483648


def poisson_weight_case_sql(u_expr: str) -> str:
    """CASE expression mapping a uniform 31-bit draw to a Poisson(1)
    weight by inverse CDF — identical text works in Spark SQL and DuckDB."""
    clauses = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}" for k, t in enumerate(POISSON1_THRESHOLDS)
    )
    return f"CASE {clauses} ELSE 7 END"


def poisson_u31_python(h: int, b: int) -> int:
    """Reference mixer: per-(task-hash, replicate) uniform in [0, 2^31).
    ONE md5 per task (h = md5 head % 2^31) plus two xorshift-multiply
    rounds per replicate — 200x fewer hashes than md5-per-(b, task)
    (measured r12: 30M md5s cost ~20 s at sf0.1; the integer mixer is
    codegen arithmetic).  Mirrored exactly by Spark and DuckDB SQL."""
    x = (h + b * MIX_INC) % MOD31
    x = ((x ^ (x >> 16)) * MIX_MULT) % MOD31
    x = ((x ^ (x >> 16)) * MIX_MULT) % MOD31
    return x ^ (x >> 16)


def poisson_bootstrap_ci(
    scores: DataFrame,
    value_col: str,
    id_col: str = "task_id",
    n_replicates: int = 200,
    salt: str = "bs",
    lo_rank: int | None = None,
    hi_rank: int | None = None,
) -> DataFrame:
    """Bootstrap confidence interval for a per-task metric via the POISSON
    bootstrap (Chamandy et al. 2012, "Estimating Uncertainty for Massive
    Data Streams" — Google's distributed resampling): instead of drawing
    n-of-n WITH replacement (which needs a global row index — a corpus
    funnel), each (replicate, task) pair draws an independent Poisson(1)
    weight, which converges to the multinomial bootstrap for large n and
    is embarrassingly parallel: every task row expands to B weighted rows
    ROW-LOCALLY (one explode), and each replicate's mean is one hash agg.

    Deterministic end to end: each task hashes ONCE (md5 head % 2^31) and
    per-replicate uniforms come from the integer xorshift-multiply mixer
    ``poisson_u31_python`` (mirrored in SQL — md5-per-(b, task) measured
    20 s at sf0.1, the mixer makes the expansion pure codegen arithmetic),
    pushed through the exact integer Poisson(1) inverse-CDF thresholds
    (``POISSON1_THRESHOLDS`` — shared verbatim with the oracle); replicate
    means are bigint floor-division micro values; the CI bounds are exact
    RANK PICKS over the B sorted means (lo_rank/hi_rank, derived as the
    floor 2.5%/97.5% ranks of n_replicates when not given — 5/195 at
    B=200 — and validated against B so a custom replicate count cannot
    silently produce a wrong-coverage or NULL interval, ADVICE r15 #4),
    never interpolated.

    Returns ONE row: (n_tasks, n_replicates, point_micro — the full-sample
    mean, ci_lo_micro, ci_hi_micro).  Replicates whose total weight is 0
    (probability ~e^-n) are dropped.  Scale shape: B x n_tasks narrow rows
    through one (replicate) hash agg; the final rank window sees exactly B
    rows."""
    from pyspark.sql import Window

    # derive the 95% rank picks from B when not given (floor 2.5%/97.5%
    # ranks: 5/195 at the B=200 default) and validate explicit ranks —
    # hi_rank > B would silently yield a NULL bound that still feeds a
    # "significant" flag downstream (ADVICE r15 #4)
    if lo_rank is None:
        lo_rank = max(1, (25 * n_replicates) // 1000)
    if hi_rank is None:
        hi_rank = max(lo_rank, (975 * n_replicates) // 1000)
    if not (1 <= lo_rank <= hi_rank <= n_replicates):
        raise ValueError(
            f"rank picks out of range: need 1 <= lo_rank <= hi_rank <= "
            f"n_replicates, got lo={lo_rank} hi={hi_rank} B={n_replicates}"
        )
    # one narrow row per task — hashed ONCE — feeding BOTH the replicate
    # expansion and the point estimate; materialized per the repo-wide
    # multi-branch rule
    base = scores.select(
        F.col(value_col).cast("bigint").alias("__v"),
        F.expr(
            f"CAST(conv(substring(md5(concat('{salt}:', CAST({id_col} AS STRING))),"
            f" 1, 8), 16, 10) AS BIGINT) % {MOD31}"
        ).alias("__h"),
    ).localCheckpoint()
    # per-replicate uniform: the 31-bit xorshift-multiply mixer
    # (poisson_u31_python), hoisted column by column so every step
    # evaluates once — pure integer codegen, no per-(b, task) hashing
    draws = (
        base.select(
            "__h",
            "__v",
            F.explode(F.sequence(F.lit(1), F.lit(n_replicates))).alias("b"),
        )
        # b is INT from sequence(): the product MUST widen to BIGINT first
        # (b * MIX_INC wraps 32-bit silently ANSI-off, errors ANSI-on)
        .withColumn("x0", F.expr(f"(__h + CAST(b AS BIGINT) * {MIX_INC}) % {MOD31}"))
        .withColumn("x1", F.expr(f"((x0 ^ shiftright(x0, 16)) * {MIX_MULT}) % {MOD31}"))
        .withColumn("x2", F.expr(f"((x1 ^ shiftright(x1, 16)) * {MIX_MULT}) % {MOD31}"))
        .withColumn("u", F.expr("x2 ^ shiftright(x2, 16)"))
        .withColumn("w", F.expr(poisson_weight_case_sql("u")).cast("bigint"))
    )
    means = (
        draws.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("__v")).cast("bigint").alias("ws"),
            F.sum("w").cast("bigint").alias("wn"),
        )
        .filter(F.col("wn") > 0)
        .select("b", F.expr("ws DIV wn").cast("bigint").alias("mean_micro"))
    )
    ranked = means.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("mean_micro"), F.col("b")))
    )
    bounds = ranked.agg(
        F.max(F.when(F.col("r") == lo_rank, F.col("mean_micro"))).alias("ci_lo_micro"),
        F.max(F.when(F.col("r") == hi_rank, F.col("mean_micro"))).alias("ci_hi_micro"),
    )
    point = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tasks"),
        F.expr("CAST(SUM(__v) AS BIGINT) DIV COUNT(1)").cast("bigint").alias(
            "point_micro"
        ),
    )
    return (
        point.crossJoin(F.broadcast(bounds))
        .select(
            "n_tasks",
            F.lit(n_replicates).cast("int").alias("n_replicates"),
            "point_micro",
            "ci_lo_micro",
            "ci_hi_micro",
        )
    )


def bradley_terry_ratings(
    matches: DataFrame,
    a_col: str = "model_a",
    b_col: str = "model_b",
    winner_col: str = "winner",
    n_iter: int = 3,
) -> DataFrame:
    """Bradley-Terry skill ratings from pairwise preference judgments —
    the arena-style eval aggregation (Bradley & Terry 1952; the MM update
    from Hunter 2004, "MM algorithms for generalized Bradley-Terry
    models"; Chatbot-Arena-style leaderboards run exactly this fit):

        r_i  <-  w_i / sum_j n_ij / (r_i + r_j)

    iterated ``n_iter`` times from the flat start and renormalized each
    round so the mean rating stays 1e6 micro.  Everything is integer
    micro-units with a FIXED division order (per-(i,j) floor division,
    then the sum, then one closing division — the `eval_bootstrap_ci`
    discipline), so a chained-CTE SQL oracle replays every iteration
    bit-for-bit; no exp/log anywhere (the logistic link never needs to be
    evaluated to FIT the model).

    Input: one row per judged pair; ``winner`` must equal one of the two
    sides (ties dropped — standard BT has no tie term; use Rao-Kupper if
    ties matter).  Returns (model, n_matches, n_wins, rating_micro,
    rank int) sorted ratings with deterministic ties (rating desc, model
    asc).

    100-TB shape: one hash agg shrinks the judgment log to the
    (model_a, model_b) match matrix (|models|^2 rows max); every MM
    round is one join + one hash agg over that matrix — iteration cost
    depends on |models|, never on the log size.
    """
    sym = matches.filter(
        (F.col(winner_col) == F.col(a_col)) | (F.col(winner_col) == F.col(b_col))
    ).select(
        F.col(a_col).alias("i"),
        F.col(b_col).alias("j"),
        (F.col(winner_col) == F.col(a_col)).cast("bigint").alias("win_i"),
    )
    # symmetrize: one row per ordered (i, j) with n_ij total games and the
    # per-model win counts — |models|^2-bounded
    both = sym.unionByName(
        sym.select(
            F.col("j").alias("i"),
            F.col("i").alias("j"),
            (1 - F.col("win_i")).alias("win_i"),
        )
    )
    # the match matrix is DERIVED (full judgment-log scan + agg) and feeds
    # every MM round plus the win totals — materialize once (CLAUDE.md
    # multi-branch rule; it is |models|^2 rows, the checkpoint is free and
    # without it each lazy iteration re-scans the log: measured 7.8 s ->
    # ~1 s warm at sf0.1)
    grid = both.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ij"),
        F.sum("win_i").cast("bigint").alias("w_ij"),
    ).localCheckpoint()
    wins = grid.groupBy("i").agg(
        F.sum("n_ij").cast("bigint").alias("n_matches"),
        F.sum("w_ij").cast("bigint").alias("n_wins"),
    ).localCheckpoint()
    r = wins.select("i", F.lit(1_000_000).cast("bigint").alias("r"))
    n_models = F.broadcast(wins.select(F.count(F.lit(1)).cast("bigint").alias("m")))
    for _ in range(n_iter):
        # s_i = sum_j n_ij * 1e12 DIV (r_i + r_j)   (micro-inverse mass).
        # The micro-inverse products are DECIMAL(38,0) (HUGEINT in the
        # oracle) — n_ij * 1e12 in bigint overflows int64 once one model
        # pair accumulates ~9.2M judgments, the pass_at_k overflow class
        # (ADVICE r13); division order unchanged, so values are identical
        # wherever bigint didn't overflow.
        ra = r.select(F.col("i"), F.col("r").alias("ri"))
        rb = r.select(F.col("i").alias("j"), F.col("r").alias("rj"))
        s = (
            grid.join(ra, "i")
            .join(rb, "j")
            .groupBy("i")
            .agg(
                # DIV returns bigint, so the quotient is re-widened to
                # DECIMAL(38,0) BEFORE the sum — the oracle accumulates in
                # HUGEINT, and a bigint SUM would overflow first at ~1.8e13
                # judgments per (pair, model) (ADVICE r14 #3)
                F.sum(
                    F.expr(
                        "CAST(CAST(n_ij AS DECIMAL(38,0)) * 1000000000000"
                        " DIV (ri + rj) AS DECIMAL(38,0))"
                    )
                ).alias("s")
            )
        )
        raw = wins.join(s, "i").select(
            "i",
            F.expr("CAST(n_wins AS DECIMAL(38,0)) * 1000000000000 DIV s")
            .cast("bigint")
            .alias("r"),
        )
        # renormalize: mean rating pinned at 1e6 micro (BT is scale-free;
        # without this the floor divisions drift the scale downward).
        # raw feeds BOTH the total and the rescale, and r feeds BOTH join
        # sides of the next round — without the per-round materialization
        # the loop-state lineage doubles twice per iteration (2^(2k)
        # subtrees: measured r16, a 508-Exchange / 84-BNLJ plan whose
        # Catalyst planning dwarfed its |models|-row execution; plan
        # collapsed to 14 Exchanges).  |models| rows — the checkpoint is
        # free (dedup/clusters.py's loop-state rule applied to MM).
        raw = raw.localCheckpoint()
        tot = raw.agg(F.sum("r").cast("bigint").alias("t"))
        r = raw.crossJoin(F.broadcast(tot)).crossJoin(n_models).select(
            "i",
            F.expr("CAST(r AS DECIMAL(38,0)) * 1000000 * m DIV t")
            .cast("bigint")
            .alias("r"),
        )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("rating_micro").desc(), F.col("model"))
    return (
        wins.join(r, "i")
        .select(
            F.col("i").alias("model"),
            "n_matches",
            "n_wins",
            F.col("r").alias("rating_micro"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


def best_of_n(
    samples: DataFrame,
    group_col: str = "task_id",
    cand_col: str = "cand_id",
    reward_col: str = "reward_micro",
) -> DataFrame:
    """Best-of-n selection over reward-scored candidate generations — the
    rejection-sampling data op behind BoN distillation / RFT (pick the
    reward argmax per prompt) plus the margin diagnostics a curation
    pipeline filters on (a best barely above the median is a weak
    training signal; a large margin marks a decisive winner).

    Returns (task, n_candidates, best_id, best_micro, median_micro,
    margin_micro).  All-integer and engine-exact: the winner is
    ``min(struct(-reward, cand))`` (ties to the lowest candidate id, the
    `preference_pairs` idiom), the median is an exact RANK PICK — the
    ``(n+1) div 2``-th value under (reward, cand) order, never an
    interpolated average — and the margin is their difference.

    100-TB shape: one per-task window (rank pick) + one hash agg; samples
    shuffle once on task."""
    from pyspark.sql import Window

    w = Window.partitionBy("task_id").orderBy(F.col("reward"), F.col("cand"))
    base = samples.select(
        F.col(group_col).alias("task_id"),
        F.col(cand_col).alias("cand"),
        F.col(reward_col).cast("bigint").alias("reward"),
    ).withColumn("rnk", F.row_number().over(w))
    agg = base.groupBy("task_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.min(F.struct((-F.col("reward")).alias("nr"), F.col("cand").alias("c"))).alias(
            "best"
        ),
    )
    med = base.join(
        agg.select("task_id", "n_candidates"), "task_id"
    ).filter(F.col("rnk") == F.expr("(n_candidates + 1) div 2")).select(
        "task_id", F.col("reward").alias("median_micro")
    )
    return (
        agg.join(med, "task_id")
        .select(
            "task_id",
            "n_candidates",
            F.col("best.c").alias("best_id"),
            (-F.col("best.nr")).alias("best_micro"),
            "median_micro",
            ((-F.col("best.nr")) - F.col("median_micro")).alias("margin_micro"),
        )
    )


def paired_bootstrap_delta(
    a_scores: DataFrame,
    b_scores: DataFrame,
    value_col: str,
    id_col: str = "task_id",
    n_replicates: int = 200,
    salt: str = "bs",
    lo_rank: int | None = None,
    hi_rank: int | None = None,
) -> DataFrame:
    """PAIRED bootstrap comparison of two models on a shared task set —
    the actual decision tool behind "is A better than B" (a per-model CI
    overlap check throws away the pairing and loses most of the power;
    the paired test resamples the per-task DIFFERENCE, so shared task
    difficulty cancels).  Public method: paired bootstrap over per-task
    deltas, here via the same deterministic Poisson(1) machinery as
    ``poisson_bootstrap_ci`` — identical task hashing and mixer, so a
    task draws the SAME weight for its delta as it would for either
    model's score, which is exactly what "paired" means.

    Inner join on ``id_col`` (tasks missing from either side drop — a
    paired test is only defined on the intersection).  Returns ONE row:
    (n_tasks, n_replicates, delta_micro — mean per-task A-B,
    ci_lo_micro, ci_hi_micro, significant int — 1 iff the 95% interval
    excludes zero).  Deltas may be negative; floor division truncates
    toward zero identically in both engines."""
    a = a_scores.select(
        F.col(id_col).alias("task_id"), F.col(value_col).cast("bigint").alias("__a")
    )
    b = b_scores.select(
        F.col(id_col).alias("task_id"), F.col(value_col).cast("bigint").alias("__b")
    )
    delta = a.join(b, "task_id").select(
        "task_id", (F.col("__a") - F.col("__b")).cast("bigint").alias("delta")
    )
    ci = poisson_bootstrap_ci(
        delta, "delta", id_col="task_id", n_replicates=n_replicates,
        salt=salt, lo_rank=lo_rank, hi_rank=hi_rank,
    )
    return ci.select(
        "n_tasks",
        "n_replicates",
        F.col("point_micro").alias("delta_micro"),
        "ci_lo_micro",
        "ci_hi_micro",
        F.expr(
            "CAST(CASE WHEN ci_lo_micro > 0 OR ci_hi_micro < 0 THEN 1 ELSE 0 END AS INT)"
        ).alias("significant"),
    )
