"""Output checks, each independent of the code under test.

- medallion ETL: DuckDB recomputes the three exploration tables (the joins
  and the reference's 30 formulas, written out here in SQL) straight from the
  generated source parquet.
- corpus curation: the surviving ids must equal the generator's planted
  ground truth.
- hybrid retrieval: the catalog's DuckDB oracle SQL for ``hybrid_rag_search``
  with this request's terms and query vector, compared through
  ``bigdata_rags_spark.testing.compare_frames``.
- ANN: each returned similarity is the exact cosine, ranks are ordered, and
  recall@10 is scored against exact brute-force top-10 (numpy).
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# medallion ETL
# --------------------------------------------------------------------------

_ATTACK = """
WITH xa AS (
  SELECT "Team", SUM("Actual Assists") AS aa, SUM("Expected Assists (xA)") AS xa
  FROM player_expected_assists GROUP BY "Team"
), j AS (
  SELECT bc."Team", bc."Big Chances" AS bc, cs."Clean Sheets" AS cs,
         ec."Clearances per Match" AS ecpm, ec."Total Clearances" AS ect,
         xg."Expected Goals" AS xg, ot."Shots on Target per Match" AS sot,
         ot."Shot Conversion Rate (%)" AS scr, pw."Penalties Won" AS pw,
         pw."Conversion Rate (%)" AS pcr,
         pa."Possession Won Final 3rd per Match" AS pwf, pa."Total Possessions Won" AS tpw,
         gm."Goals per Match" AS gpm, gm."Total Goals Scored" AS tgs, gm."Matches" AS m,
         tb."Touches in Opposition Box" AS tob, xa.aa, xa.xa
  FROM big_chance_team bc
  JOIN clean_sheet_team cs USING ("Team")
  JOIN effective_clearance_team ec USING ("Team")
  JOIN expected_goals_team xg USING ("Team")
  JOIN ontarget_scoring_att_team ot USING ("Team")
  JOIN penalty_won_team pw USING ("Team")
  JOIN possession_won_att pa USING ("Team")
  JOIN team_goals_per_match gm USING ("Team")
  JOIN touches_in_opp_box_team tb USING ("Team")
  JOIN xa USING ("Team")
)
SELECT "Team", bc AS "Big Chances", cs AS "Clean Sheets",
       ecpm AS "Clearances per Match", ect AS "Total Clearances",
       xg AS "Expected Goals", sot AS "Shots on Target per Match",
       scr AS "Shot Conversion Rate (%)", pw AS "Penalties Won",
       pcr AS "Penalties Conversion Rate (%)",
       pwf AS "Possession Won Final 3rd per Match", tpw AS "Total Possessions Won",
       gpm AS "Goals per Match", tgs AS "Total Goals Scored", m AS "Matches",
       tob AS "Touches in Opposition Box", aa AS "Actual Assists", xa AS "Expected Assists",
       gpm / NULLIF(bc, 0) AS "Goal Conversion Rate",
       ect / NULLIF(m, 0) AS "Clearance Efficiency",
       pwf / NULLIF(tob, 0) AS "Possession Effectiveness",
       pw / NULLIF(tgs, 0) AS "Penalty Impact",
       (gpm + xg) / 2 AS "Offensive Performance",
       aa / NULLIF(tgs, 0) AS "Assist to Goal Ratio",
       sot * scr / 100 AS "Shooting Efficiency",
       cs / NULLIF(m, 0) AS "Clean Sheet Impact",
       bc / NULLIF(pwf, 0) AS "Chances per Possession",
       (bc + xg + tob) / NULLIF(m, 0) AS "Combined Attack Efficiency"
FROM j
"""

_DEFENSE = """
SELECT egc."Team", egc."Matches", egc."Expected Goals Conceded",
       gc."Goals Conceded per Match", gc."Total Goals Conceded",
       it."Interceptions per Match", it."Total Interceptions",
       pc."Penalties Conceded", pc."Penalty Goals Conceded",
       sv."Saves per Match", sv."Total Saves",
       wt."Successful Tackles per Match", wt."Tackle Success (%)",
       it."Total Interceptions" / NULLIF(egc."Matches", 0) AS "Interceptions Efficiency",
       gc."Goals Conceded per Match" AS "Goals Conceded Efficiency",
       sv."Total Saves" / NULLIF(gc."Total Goals Conceded", 0) AS "Save Effectiveness",
       pc."Penalties Conceded" / NULLIF(egc."Matches", 0) AS "Penalty Average per Match",
       pc."Penalty Goals Conceded" / NULLIF(gc."Total Goals Conceded", 0)
         AS "Penalty Impact on Goals",
       sv."Saves per Match" / NULLIF(egc."Matches", 0) AS "Saves per Match Ratio",
       wt."Successful Tackles per Match" AS "Successful Tackles Average",
       gc."Total Goals Conceded" / NULLIF(it."Total Interceptions", 0)
         AS "Conceded vs Interceptions Ratio",
       gc."Total Goals Conceded" / NULLIF(sv."Total Saves", 0) AS "Goals Conceded to Saves Ratio",
       it."Total Interceptions" / NULLIF(pc."Penalties Conceded", 0)
         AS "Interceptions per Penalty Conceded"
FROM expected_goals_conceded_team egc
JOIN goals_conceded_team_match gc USING ("Team")
JOIN interception_team it USING ("Team")
JOIN penalty_conceded_team pc USING ("Team")
JOIN saves_team sv USING ("Team")
JOIN won_tackle_team wt USING ("Team")
"""

_DISCIPLINE = """
SELECT f."Team", f."Matches", f."Fouls per Match", yc."Yellow Cards", yc."Red Cards",
       it."Interceptions per Match", it."Total Interceptions",
       it."Total Interceptions" / NULLIF(f."Matches", 0) AS "Interceptions Efficiency",
       f."Fouls per Match" / NULLIF(it."Interceptions per Match", 0)
         AS "Fouls to Interceptions Ratio",
       yc."Yellow Cards" / NULLIF(f."Matches", 0) AS "Yellow Cards per Match",
       yc."Red Cards" / NULLIF(f."Matches", 0) AS "Red Cards per Match",
       (f."Fouls per Match" * f."Matches") / NULLIF(yc."Yellow Cards", 0) AS "Fouls per Yellow Card",
       it."Total Interceptions" / NULLIF(yc."Yellow Cards" + yc."Red Cards", 0)
         AS "Interceptions per Card",
       (yc."Yellow Cards" + yc."Red Cards") / NULLIF(f."Matches", 0) AS "Cards per Match",
       yc."Yellow Cards" / NULLIF(yc."Red Cards", 0) AS "Yellow to Red Cards Ratio",
       (yc."Yellow Cards" * 1 + yc."Red Cards" * 2 + f."Fouls per Match" * f."Matches")
         / NULLIF(f."Matches", 0) AS "Discipline Index",
       it."Total Interceptions" / NULLIF(f."Fouls per Match" * f."Matches", 0)
         AS "Interceptions Impact"
FROM fk_foul_lost_team f
JOIN total_yel_card_team yc USING ("Team")
JOIN interception_team it USING ("Team")
"""

EXPLORATION_SQL = {"attack": _ATTACK, "defense": _DEFENSE, "discipline": _DISCIPLINE}


def expected_exploration(source_dir: str) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        for path in glob.glob(os.path.join(source_dir, "*.parquet")):
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {t: con.execute(sql).df() for t, sql in EXPLORATION_SQL.items()}
    finally:
        con.close()


def read_parquet_dir(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def frame_problems(got: pd.DataFrame, want: pd.DataFrame, key: str) -> list[str]:
    """Column set, key set and every value (floats to 1e-9 relative: the
    player rollup sums doubles in a different order per engine)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: {sorted(set(got.columns) ^ set(want.columns))}"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    if len(got) != len(want) or not (got[key].values == want[key].values).all():
        return [f"key set differs: {len(got)} rows vs {len(want)} expected"]
    bad = []
    for col in want.columns:
        if col == key:
            continue
        a = pd.to_numeric(got[col], errors="coerce").to_numpy(dtype=float)
        b = pd.to_numeric(want[col], errors="coerce").to_numpy(dtype=float)
        if not np.allclose(a, b, rtol=1e-9, atol=0.0, equal_nan=True):
            bad.append(f"{col}: values differ")
    return bad


# --------------------------------------------------------------------------
# corpus curation
# --------------------------------------------------------------------------


def expected_survivors(corpus_dir: str) -> set[int]:
    truth = pq.read_table(os.path.join(corpus_dir, "truth.parquet")).to_pandas()
    return set(truth.loc[truth["truth"] == "keep", "doc_id"].tolist())


def survivor_problems(out_dir: str, want: set[int]) -> list[str]:
    got = pq.read_table(out_dir, columns=["doc_id"]).column("doc_id").to_pylist()
    if len(got) != len(set(got)):
        return ["duplicate survivor ids"]
    missing, extra = len(want - set(got)), len(set(got) - want)
    return [f"survivors: {missing} missing, {extra} unexpected"] if missing or extra else []


# --------------------------------------------------------------------------
# hybrid retrieval
# --------------------------------------------------------------------------


class HybridOracle:
    """The catalog's ``hybrid_rag_search`` oracle SQL, re-targeted at one
    request's query terms and query vector id; answers cached per request
    key (the corpus is static)."""

    def __init__(self, serving_dir: str):
        from bigdata_rags_spark.queries import retrieval_ops
        from bigdata_rags_spark.queries.catalog import REGISTRY

        self.sql = REGISTRY["hybrid_rag_search"].oracle
        self.terms_sql = retrieval_ops._TERMS_SQL
        self.con = duckdb.connect()
        for name, file in (("documents", "documents"), ("embeddings", "doc_embeddings")):
            path = os.path.join(serving_dir, f"{file}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.cache: dict[tuple, pd.DataFrame] = {}

    def answer(self, terms: list[str], vec_id: int) -> pd.DataFrame:
        key = (tuple(terms), vec_id)
        if key not in self.cache:
            sql = self.sql.replace(self.terms_sql, ", ".join(f"'{t}'" for t in terms))
            sql = sql.replace("WHERE vec_id = 0)", f"WHERE vec_id = {int(vec_id)})")
            self.cache[key] = self.con.execute(sql).df()
        return self.cache[key]

    def close(self) -> None:
        self.con.close()


def hybrid_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    from bigdata_rags_spark.testing import compare_frames

    return compare_frames(got, want)


# --------------------------------------------------------------------------
# ANN
# --------------------------------------------------------------------------


def ann_problems(got: pd.DataFrame, qvec: np.ndarray, live: dict[int, np.ndarray], k: int) -> tuple[list[str], float]:
    """(problems, recall@k) for one query's served rows against the live
    vector set ``live`` (id -> unit vector)."""
    ids = np.fromiter(live.keys(), dtype=np.int64, count=len(live))
    mat = np.stack(list(live.values()))
    q = qvec / np.linalg.norm(qvec)
    sims = mat @ q / np.linalg.norm(mat, axis=1)
    exact = set(ids[np.argsort(-sims, kind="stable")[:k]].tolist())
    got = got.sort_values("rank")
    probs = []
    if len(got) != k or got["rank"].tolist() != list(range(1, k + 1)):
        probs.append(f"expected ranks 1..{k}, got {got['rank'].tolist()}")
    lookup = dict(zip(ids.tolist(), sims))
    for nid, sim in zip(got["neighbor_id"].tolist(), got["similarity"].tolist()):
        if nid not in lookup:
            probs.append(f"neighbor {nid} is not a live vector")
        elif abs(lookup[nid] - sim) > 2e-6:
            probs.append(f"neighbor {nid}: similarity {sim} != exact {lookup[nid]:.6f}")
    if list(got["similarity"]) != sorted(got["similarity"], reverse=True):
        probs.append("similarities not in rank order")
    recall = len(exact & set(got["neighbor_id"].tolist())) / k
    return probs, recall
