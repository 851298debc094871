"""Three-zone pipeline runner: raw -> stage -> exploration (reference §3).

Reproduces the reference's lifecycle as plain functions over one shared
SparkSession — no Airflow:

- extract (reference dag-extract.py:41-111): per-dataset write to the raw
  zone with per-dataset try/except error isolation, empty-result detection
  (ERROR status, reference :91-93), and SUCCESS/ERROR markers (:114-161).
  The datasets' writes are independent, so they run as concurrent Spark
  jobs (``io/jobs.run_overlapped``, at most ``defaultParallelism`` at once).
- transform (dag-transform.py): all-sources gate (ShortCircuit analog,
  :55-63), then the three football pipelines written concurrently — the
  reference's TaskGroup parallelism (:426-496) becomes overlapped Spark
  jobs — and a single ``transform_SUCCESS`` marker once all three writes
  succeed (:393-412).
- load (dag-load.py): stage gate (:24-39), write exploration tables one at
  a time: ``write_table`` is the caller's callback, which need not be
  thread-safe.
  Deviations by design: run date is an explicit parameter (fixes the
  reference's import-time ``datetime.now()`` day-rollover bug, SURVEY §3.2),
  and load failures RAISE instead of being silently swallowed (the
  reference returns on download/read errors, dag-load.py:81-90 — a
  silent-partial-load hazard).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Mapping
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_rags_spark.io.jobs import run_overlapped
from bigdata_rags_spark.io.maintenance import remove_dir
from bigdata_rags_spark.io.writers import write_partitioned
from bigdata_rags_spark.operators.observability import observe_metrics
from bigdata_rags_spark.io.zones import (
    ERROR,
    SUCCESS,
    ZoneLayout,
    verify_zone_status,
    write_status_marker,
)
from bigdata_rags_spark.pipelines.football import (
    attack_pipeline,
    defense_pipeline,
    discipline_pipeline,
)
from bigdata_rags_spark.schemas import FOOTBALL

ATTACK_INPUTS = [
    "big_chance_team", "clean_sheet_team", "effective_clearance_team",
    "expected_goals_team", "ontarget_scoring_att_team", "penalty_won_team",
    "possession_won_att", "team_goals_per_match", "touches_in_opp_box_team",
    "player_expected_assists",
]
DEFENSE_INPUTS = [
    "expected_goals_conceded_team", "goals_conceded_team_match",
    "interception_team", "penalty_conceded_team", "saves_team", "won_tackle_team",
]
DISCIPLINE_INPUTS = ["fk_foul_lost_team", "total_yel_card_team", "interception_team"]

# the reference lists interception_team twice (dag-extract.py:31,36); the
# registry is deduped (SURVEY §7.4.5) by dict.fromkeys below
ALL_INPUTS = list(dict.fromkeys(ATTACK_INPUTS + DEFENSE_INPUTS + DISCIPLINE_INPUTS))

TRANSFORMS: dict[str, tuple[list[str], Callable[[Mapping[str, DataFrame]], DataFrame]]] = {
    "attack": (ATTACK_INPUTS, attack_pipeline),
    "defense": (DEFENSE_INPUTS, defense_pipeline),
    "discipline": (DISCIPLINE_INPUTS, discipline_pipeline),
}


def run_extract(
    sources: Mapping[str, DataFrame],
    layout: ZoneLayout,
    run_date: dt.date,
) -> dict[str, str]:
    """Source frames -> raw zone, every dataset's write submitted at once
    (``run_overlapped``) with per-dataset error isolation.

    Returns the per-dataset status dict in registration order (the
    reference's XCom payload, dag-extract.py:111 — here a plain return
    value)."""
    status: dict[str, str] = dict.fromkeys(sources, ERROR)

    def extract(name: str) -> None:
        df = sources[name]
        try:
            # ONE job per dataset: the row counter rides the write action via
            # the Observation API instead of a separate df.count() pre-scan
            # (reference dag-extract.py:91-93 re-counts; at 100 TB that is a
            # second full read of the source per table).
            observed, obs = observe_metrics(
                df, {"rows": F.count(F.lit(1))}, name=f"extract_{name}"
            )
            write_partitioned(observed, layout.table_dir("raw", name, run_date))
            if obs.get["rows"] == 0:
                # reference dag-extract.py:91-93 — empty extraction is ERROR;
                # drop the empty output so the raw zone only holds real data
                # (the status marker, not the dir, gates transform anyway)
                remove_dir(df.sparkSession, layout.table_dir("raw", name, run_date))
                status[name] = ERROR
            else:
                status[name] = SUCCESS
        except Exception:
            status[name] = ERROR
        write_status_marker(layout, "raw", name, status[name], run_date)

    run_overlapped(*[partial(extract, name) for name in status])
    return status


def run_transform(spark: SparkSession, layout: ZoneLayout, run_date: dt.date) -> bool:
    """Gate on all raw markers, run the three metric pipelines, write stage.

    Returns False (short-circuit, no side effects) if any source is missing —
    the reference's ShortCircuitOperator (dag-transform.py:436-441)."""
    if not verify_zone_status(layout, "raw", ALL_INPUTS, run_date):
        return False
    # the registered schema spares one schema-inference job per table
    tables = {
        name: spark.read.schema(FOOTBALL[name]).parquet(layout.table_dir("raw", name, run_date))
        for name in ALL_INPUTS
    }

    def transform(prefix: str) -> None:
        inputs, fn = TRANSFORMS[prefix]
        out = fn({k: tables[k] for k in inputs})
        write_partitioned(out, layout.table_dir("stage", prefix, run_date))

    # the three pipelines are independent (the reference's TaskGroup); a
    # failed write re-raises after all three finish, before the marker
    run_overlapped(*[partial(transform, prefix) for prefix in TRANSFORMS])
    write_status_marker(layout, "stage", "transform", SUCCESS, run_date)
    return True


def run_load(
    spark: SparkSession,
    layout: ZoneLayout,
    run_date: dt.date,
    write_table: Callable[[DataFrame, str], None],
) -> list[str]:
    """Gate on the stage marker, then hand each stage table to
    ``write_table(df, name)`` (parquet serving dir in tests; a
    ``write_jdbc_replace`` partial against MySQL in production — reference
    S13).  Raises on a missing gate — no silent partial loads."""
    if not verify_zone_status(layout, "stage", ["transform"], run_date):
        raise RuntimeError(
            f"stage zone not ready for {run_date:%Y-%m-%d}: transform_SUCCESS missing"
        )
    loaded = []
    for prefix in TRANSFORMS:
        df = spark.read.parquet(layout.table_dir("stage", prefix, run_date))
        write_table(df, prefix)
        loaded.append(prefix)
    return loaded


def run_pipeline(
    spark: SparkSession,
    sources: Mapping[str, DataFrame],
    layout: ZoneLayout,
    run_date: dt.date,
    write_table: Callable[[DataFrame, str], None],
) -> dict[str, object]:
    """extract -> transform -> load, sequentially (the reference's
    TriggerDagRun chaining collapses into function calls, SURVEY §2.3 O3)."""
    status = run_extract(sources, layout, run_date)
    transformed = run_transform(spark, layout, run_date)
    loaded = run_load(spark, layout, run_date, write_table) if transformed else []
    return {"extract_status": status, "transformed": transformed, "loaded": loaded}
