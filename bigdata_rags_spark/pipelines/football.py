"""The reference's three transform families as pure DataFrame functions.

Recasts reference dag-transform.py's ``transform_attack`` (:131-239),
``transform_defense`` (:243-320) and ``transform_discipline`` (:324-389):
each is (player rollup where applicable) -> chained inner equi-join on
``Team`` -> qualified projection/rename -> derived metric family.

Inner-join drop semantics are preserved exactly: a team missing from any
input vanishes from the output (reference :171-181; pinned by tests).

Scale: every input is per-team/per-player dimension-shaped, so the joins are
broadcast (reference inputs are ~20 rows; at 1000x the plan is still N
broadcast hash joins over one pass of the anchor — zero shuffles except the
player rollup's partial+final agg).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame

from bigdata_rags_spark.functions.metrics import (
    ATTACK_METRICS,
    DEFENSE_METRICS,
    DISCIPLINE_METRICS,
)
from bigdata_rags_spark.operators.relational import (
    derive_metrics,
    multi_join,
    project_rename,
    rollup_sum,
)

KEY = "Team"


def player_assists_rollup(player_expected_assists: DataFrame) -> DataFrame:
    """R1: player-grain -> team-grain (reference dag-transform.py:166-169).

    The reference sums ``Actual Assists`` (alias unchanged) and ``Expected
    Assists (xA)`` aliased to ``Expected Assists`` (reference :168) —
    spellings matched exactly so downstream consumers of the reference's
    stage schema see identical column names.
    """
    return rollup_sum(
        player_expected_assists,
        KEY,
        {"Actual Assists": "Actual Assists", "Expected Assists": "Expected Assists (xA)"},
    )


def attack_pipeline(t: Mapping[str, DataFrame]) -> DataFrame:
    """transform_attack (reference dag-transform.py:131-239).

    ``t`` maps table name -> DataFrame for the 10 attack inputs
    (schemas.FOOTBALL keys F1-F10).
    """
    assists = player_assists_rollup(t["player_expected_assists"])
    joined = multi_join(
        t["big_chance_team"],
        "bc",
        {
            "cs": t["clean_sheet_team"],
            "ec": t["effective_clearance_team"],
            "xg": t["expected_goals_team"],
            "ot": t["ontarget_scoring_att_team"],
            "pw": t["penalty_won_team"],
            "pa": t["possession_won_att"],
            "gm": t["team_goals_per_match"],
            "tb": t["touches_in_opp_box_team"],
            "xa": assists,
        },
        key=KEY,
        broadcast_others=True,
    )
    # reference :182-201 — qualified select with alias renames, disambiguating
    # the shared `Conversion Rate (%)` name
    projected = project_rename(
        joined,
        {
            "Team": f"bc.{KEY}",
            "Big Chances": "bc.Big Chances",
            "Clean Sheets": "cs.Clean Sheets",
            "Clearances per Match": "ec.Clearances per Match",
            "Total Clearances": "ec.Total Clearances",
            "Expected Goals": "xg.Expected Goals",
            "Shots on Target per Match": "ot.Shots on Target per Match",
            "Shot Conversion Rate (%)": "ot.Shot Conversion Rate (%)",
            "Penalties Won": "pw.Penalties Won",
            # reference :192 alias spelling, exactly
            "Penalties Conversion Rate (%)": "pw.Conversion Rate (%)",
            "Possession Won Final 3rd per Match": "pa.Possession Won Final 3rd per Match",
            "Total Possessions Won": "pa.Total Possessions Won",
            "Goals per Match": "gm.Goals per Match",
            "Total Goals Scored": "gm.Total Goals Scored",
            "Matches": "gm.Matches",
            "Touches in Opposition Box": "tb.Touches in Opposition Box",
            "Actual Assists": "xa.Actual Assists",
            # reference :200 carries the rollup's `Expected Assists` alias
            "Expected Assists": "xa.Expected Assists",
        },
    )
    # reference :205-236 — the 10 attack metrics
    return derive_metrics(projected, ATTACK_METRICS)


def defense_pipeline(t: Mapping[str, DataFrame]) -> DataFrame:
    """transform_defense (reference dag-transform.py:243-320), anchor ``egc``."""
    joined = multi_join(
        t["expected_goals_conceded_team"],
        "egc",
        {
            "gc": t["goals_conceded_team_match"],
            "it": t["interception_team"],
            "pc": t["penalty_conceded_team"],
            "sv": t["saves_team"],
            "wt": t["won_tackle_team"],
        },
        key=KEY,
        broadcast_others=True,
    )
    projected = project_rename(
        joined,
        {
            "Team": f"egc.{KEY}",
            "Matches": "egc.Matches",
            "Expected Goals Conceded": "egc.Expected Goals Conceded",
            "Goals Conceded per Match": "gc.Goals Conceded per Match",
            "Total Goals Conceded": "gc.Total Goals Conceded",
            "Interceptions per Match": "it.Interceptions per Match",
            "Total Interceptions": "it.Total Interceptions",
            "Penalties Conceded": "pc.Penalties Conceded",
            "Penalty Goals Conceded": "pc.Penalty Goals Conceded",
            "Saves per Match": "sv.Saves per Match",
            "Total Saves": "sv.Total Saves",
            "Successful Tackles per Match": "wt.Successful Tackles per Match",
            "Tackle Success (%)": "wt.Tackle Success (%)",
        },
    )
    return derive_metrics(projected, DEFENSE_METRICS)


def discipline_pipeline(t: Mapping[str, DataFrame]) -> DataFrame:
    """transform_discipline (reference dag-transform.py:324-389), anchor
    ``fouls``; 3-way join (R4)."""
    joined = multi_join(
        t["fk_foul_lost_team"],
        "fouls",
        {
            "yc": t["total_yel_card_team"],
            "it": t["interception_team"],
        },
        key=KEY,
        broadcast_others=True,
    )
    projected = project_rename(
        joined,
        {
            "Team": f"fouls.{KEY}",
            "Matches": "fouls.Matches",
            "Fouls per Match": "fouls.Fouls per Match",
            "Yellow Cards": "yc.Yellow Cards",
            "Red Cards": "yc.Red Cards",
            "Interceptions per Match": "it.Interceptions per Match",
            "Total Interceptions": "it.Total Interceptions",
        },
    )
    return derive_metrics(projected, DISCIPLINE_METRICS)
