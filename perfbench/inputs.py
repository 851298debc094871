"""Seeded, disk-cached input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the same
files.  Inputs are generated with numpy/pyarrow before the Spark session
starts and cached under ``<cache>/<name>-<seed>/`` (a ``DONE`` file marks a
complete entry), so generation never counts toward a timed phase.

Sizes and operation counts are fixed here and recorded in BENCHMARK.json's
workload ``why`` lines; changing one changes what the benchmark measures.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# medallion ETL: N teams, ~15 players each
N_TEAMS = 1_000
PLAYERS_PER_TEAM = 15
TEAM_MISSING_RATE = 0.01  # a team absent from one joined table (inner-join drop)
ZERO_DIVISOR_RATE = 0.02  # zero denominators: NULL-guarded ratios

# corpus curation: a base set scaled by token-salted copies + planted rows
BASE_DOCS = 150
SALT_COPIES = 4
EXACT_DUP_RATE = 0.05  # of base-scaled docs, copied verbatim (case/space-perturbed)
NEAR_DUP_RATE = 0.05  # copied with NEAR_DUP_EDITS token substitutions
NEAR_DUP_EDITS = 1  # shingle Jaccard >= 0.9: the default LSH banding misses < 1e-4 of them
LOW_QUALITY_RATE = 0.04  # repetitive or too-short docs the gate must drop
DOC_TOKENS = (100, 140)
VOCAB = 30_000

# RAG serving + ingest
N_VECTORS = 4_000
DIM = 64
N_SERVE_DOCS = 1_000  # docs (and their aligned embeddings) for hybrid search
QUERY_POOL = 64  # distinct queries; drawn with a Zipf skew so some repeat
QUERY_SKEW = 1.2
SERVE_REQUESTS = 1  # read-only requests per run, alternating hybrid and ANN
INGEST_STEPS = 1  # upsert/delete steps per run, each followed by a fresh read
INGEST_NEW = 40  # new ids per step
INGEST_UPDATES = 10  # existing ids re-written per step
INGEST_DELETES = 5  # existing ids deleted per step

# the 18 football source tables (bigdata_rags_spark/schemas.py FOOTBALL);
# kinds: i = int column, d = one-decimal double
FOOTBALL_COLUMNS: dict[str, list[tuple[str, str, float]]] = {
    "big_chance_team": [("Big Chances", "i", 80)],
    "clean_sheet_team": [("Clean Sheets", "i", 25)],
    "effective_clearance_team": [("Clearances per Match", "d", 30), ("Total Clearances", "i", 1200)],
    "expected_goals_team": [("Expected Goals", "d", 90)],
    "ontarget_scoring_att_team": [("Shots on Target per Match", "d", 8), ("Shot Conversion Rate (%)", "d", 25)],
    "penalty_won_team": [("Penalties Won", "i", 12), ("Conversion Rate (%)", "d", 100)],
    "possession_won_att": [("Possession Won Final 3rd per Match", "d", 9), ("Total Possessions Won", "i", 300)],
    "team_goals_per_match": [("Goals per Match", "d", 3), ("Total Goals Scored", "i", 110), ("Matches", "i", 38)],
    "touches_in_opp_box_team": [("Touches in Opposition Box", "i", 1400)],
    "expected_goals_conceded_team": [("Matches", "i", 38), ("Expected Goals Conceded", "d", 80)],
    "goals_conceded_team_match": [("Goals Conceded per Match", "d", 2.5), ("Total Goals Conceded", "i", 90)],
    "interception_team": [("Interceptions per Match", "d", 14), ("Total Interceptions", "i", 520)],
    "penalty_conceded_team": [("Penalties Conceded", "i", 12), ("Penalty Goals Conceded", "i", 10)],
    "saves_team": [("Saves per Match", "d", 5), ("Total Saves", "i", 190)],
    "won_tackle_team": [("Successful Tackles per Match", "d", 20), ("Tackle Success (%)", "d", 100)],
    "fk_foul_lost_team": [("Matches", "i", 38), ("Fouls per Match", "d", 14)],
    "total_yel_card_team": [("Yellow Cards", "i", 90), ("Red Cards", "i", 6)],
}
# columns that feed a NULLIF-guarded denominator get planted zeros
ZERO_COLUMNS = {"Big Chances", "Red Cards", "Yellow Cards", "Penalties Conceded", "Total Saves"}


def _cached(cache_dir: str, name: str, seed: int, build, sizes: tuple) -> str:
    """Return ``<cache_dir>/<name>-<sizes>-<seed>``, building it once with
    ``build(path, rng)``; a partial entry from a killed run is rebuilt.  The
    sizes are part of the key, so changing one never reuses stale inputs."""
    key = "x".join(str(v) for v in sizes)
    path = os.path.join(cache_dir, f"{name}-{key}-{seed}")
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path, np.random.default_rng([seed, sum(map(ord, name))]))
    with open(os.path.join(path, "DONE"), "w") as f:
        f.write("ok\n")
    return path


def _write(path: str, name: str, pdf: pd.DataFrame, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(path, f"{name}.parquet"))


# --------------------------------------------------------------------------
# medallion ETL: the reference's 18 football source tables
# --------------------------------------------------------------------------


def _football(path: str, rng: np.random.Generator) -> None:
    teams = np.array([f"Team {i:06d}" for i in range(N_TEAMS)], dtype=object)
    rows = 0
    for table, cols in FOOTBALL_COLUMNS.items():
        keep = rng.random(N_TEAMS) >= TEAM_MISSING_RATE
        n = int(keep.sum())
        data: dict[str, object] = {"Team": teams[keep]}
        fields = [pa.field("Team", pa.string())]
        for col, kind, scale in cols:
            if kind == "i":
                v = rng.integers(1, int(scale) + 1, n).astype(np.int32)
                if col in ZERO_COLUMNS:
                    v[rng.random(n) < ZERO_DIVISOR_RATE] = 0
                fields.append(pa.field(col, pa.int32()))
            else:
                v = np.round(rng.uniform(0.1, scale, n), 1)
                fields.append(pa.field(col, pa.float64()))
            data[col] = v
        _write(path, table, pd.DataFrame(data), pa.schema(fields))
        rows += n
    n_players = N_TEAMS * PLAYERS_PER_TEAM
    players = pd.DataFrame(
        {
            "Player": [f"Player {i:07d}" for i in range(n_players)],
            "Team": teams[rng.integers(0, N_TEAMS, n_players)],
            "Actual Assists": rng.integers(0, 15, n_players).astype(np.int32),
            "Expected Assists (xA)": np.round(rng.uniform(0.0, 12.0, n_players), 1),
        }
    )
    _write(
        path,
        "player_expected_assists",
        players,
        pa.schema(
            [
                pa.field("Player", pa.string()),
                pa.field("Team", pa.string()),
                pa.field("Actual Assists", pa.int32()),
                pa.field("Expected Assists (xA)", pa.float64()),
            ]
        ),
    )
    rows += n_players
    _write_meta(path, {"input_rows": rows})


def football_inputs(cache_dir: str, seed: int) -> str:
    return _cached(
        cache_dir, "football", seed, _football, (N_TEAMS, PLAYERS_PER_TEAM, TEAM_MISSING_RATE, ZERO_DIVISOR_RATE)
    )


# --------------------------------------------------------------------------
# corpus curation: salted copies of a base set + planted duplicates / junk
# --------------------------------------------------------------------------


def _base_text(rng: np.random.Generator, vocab: np.ndarray) -> list[str]:
    n = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
    # draw from a large vocabulary with a mild skew: natural enough to vary,
    # flat enough that every base doc passes the repetition gate
    idx = np.minimum((rng.pareto(1.5, n) * VOCAB / 40).astype(np.int64), VOCAB - 1)
    return list(vocab[idx])


def _corpus(path: str, rng: np.random.Generator) -> None:
    vocab = np.array([f"t{i}" for i in range(VOCAB)], dtype=object)
    base = [_base_text(rng, vocab) for _ in range(BASE_DOCS)]
    docs: list[list[str]] = []
    for k in range(SALT_COPIES):  # scripts/scale_probe.py: copy k suffixes tokens with ~k
        docs.extend(base if k == 0 else [[f"{t}~{k}" for t in toks] for toks in base])
    n_clean = len(docs)
    texts = [" ".join(toks) for toks in docs]
    truth = ["keep"] * n_clean
    origin = list(range(n_clean))

    sources = rng.permutation(n_clean)
    n_exact = int(n_clean * EXACT_DUP_RATE)
    n_near = int(n_clean * NEAR_DUP_RATE)
    for src in sources[:n_exact]:
        # normalization-equivalent copy: case and whitespace differ only
        texts.append("  " + texts[src].upper().replace(" ", "   ", 3) + " ")
        truth.append("exact_dup")
        origin.append(int(src))
    for src in sources[n_exact : n_exact + n_near]:
        toks = list(docs[src])
        for pos in rng.choice(len(toks), NEAR_DUP_EDITS, replace=False):
            toks[pos] = f"edit{int(rng.integers(1_000_000))}"
        texts.append(" ".join(toks))
        truth.append("near_dup")
        origin.append(int(src))
    for i in range(int(n_clean * LOW_QUALITY_RATE)):
        if i % 2:
            texts.append(" ".join(["buy", "now", "cheap"] * 30))  # repetitive
        else:
            texts.append(" ".join(vocab[rng.integers(0, VOCAB, 12)]))  # too short
        truth.append("low_quality")
        origin.append(-1)

    # planted copies come after their origins, so the min-id keeper of every
    # duplicate cluster is the origin
    n = len(texts)
    ids = np.arange(n, dtype=np.int64) * 7 + 1_000
    pdf = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "truth": truth,
            "origin_id": [ids[o] if o >= 0 else -1 for o in origin],
        }
    )
    _write(path, "documents", pdf[["doc_id", "text"]])
    _write(path, "truth", pdf[["doc_id", "truth", "origin_id"]])
    _write_meta(path, {"input_rows": n})


def corpus_inputs(cache_dir: str, seed: int) -> str:
    return _cached(
        cache_dir,
        "corpus",
        seed,
        _corpus,
        (BASE_DOCS, SALT_COPIES, EXACT_DUP_RATE, NEAR_DUP_RATE, NEAR_DUP_EDITS, LOW_QUALITY_RATE, *DOC_TOKENS, VOCAB),
    )


# --------------------------------------------------------------------------
# RAG serving + index ingest
# --------------------------------------------------------------------------


def _unit(rng: np.random.Generator, n: int, centers: np.ndarray) -> np.ndarray:
    """Clustered unit vectors (a mixture around ``centers``), float32."""
    v = centers[rng.integers(0, len(centers), n)] + 0.35 * rng.normal(size=(n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _serving(path: str, rng: np.random.Generator) -> None:
    centers = rng.normal(size=(48, DIM))
    vecs = _unit(rng, N_VECTORS, centers)
    emb_schema = pa.schema(
        [pa.field("vec_id", pa.int64()), pa.field("embedding", pa.list_(pa.float32()))]
    )
    emb = pd.DataFrame({"vec_id": np.arange(N_VECTORS, dtype=np.int64), "embedding": list(vecs)})
    _write(path, "embeddings", emb, emb_schema)
    _write(path, "doc_embeddings", emb.iloc[:N_SERVE_DOCS], emb_schema)
    # hybrid-search corpus: docs aligned by id with the first embeddings;
    # topic words tie a doc's text to its vector cluster
    vocab = np.array([f"w{i}" for i in range(5_000)], dtype=object)
    texts = []
    for _ in range(N_SERVE_DOCS):
        n = int(rng.integers(30, 80))
        texts.append(" ".join(vocab[np.minimum((rng.pareto(1.2, n) * 60).astype(int), 4_999)]))
    _write(path, "documents", pd.DataFrame({"doc_id": np.arange(N_SERVE_DOCS, dtype=np.int64), "text": texts}))

    # query pool: each query = (terms for BM25, a doc vector id for the dense
    # side, a perturbed vector for ANN); requests draw pool entries with a
    # Zipf skew so popular queries repeat
    pool_vecs = _unit(rng, QUERY_POOL, centers)
    pool = [
        {
            "terms": [str(t) for t in vocab[np.minimum((rng.pareto(1.2, 3) * 60).astype(int), 4_999)]],
            "vec_id": int(rng.integers(0, N_SERVE_DOCS)),
            "embedding": [float(x) for x in pool_vecs[i]],
        }
        for i in range(QUERY_POOL)
    ]
    weights = 1.0 / np.arange(1, QUERY_POOL + 1) ** QUERY_SKEW
    # one draw per serving request, per fresh read and for the overhead probe
    draws = rng.choice(QUERY_POOL, size=SERVE_REQUESTS + INGEST_STEPS + 1, p=weights / weights.sum())

    # upsert/delete stream: per step new ids, re-written existing ids and
    # deleted existing ids; an id is touched by at most one step
    touched = rng.permutation(N_VECTORS)
    per_step = INGEST_UPDATES + INGEST_DELETES
    steps = []
    for s in range(INGEST_STEPS):
        chunk = touched[s * per_step : (s + 1) * per_step]
        new_ids = np.arange(N_VECTORS + s * INGEST_NEW, N_VECTORS + (s + 1) * INGEST_NEW)
        steps.append(
            {
                "upsert_ids": [int(i) for i in np.concatenate([new_ids, chunk[:INGEST_UPDATES]])],
                "delete_ids": [int(i) for i in chunk[INGEST_UPDATES:]],
            }
        )
    upsert_vecs = _unit(rng, INGEST_STEPS * (INGEST_NEW + INGEST_UPDATES), centers)
    _write(
        path,
        "upserts",
        pd.DataFrame(
            {
                "step": np.repeat(np.arange(INGEST_STEPS), INGEST_NEW + INGEST_UPDATES),
                "vec_id": np.array([i for st in steps for i in st["upsert_ids"]], dtype=np.int64),
                "embedding": list(upsert_vecs),
            }
        ),
        pa.schema(
            [
                pa.field("step", pa.int64()),
                pa.field("vec_id", pa.int64()),
                pa.field("embedding", pa.list_(pa.float32())),
            ]
        ),
    )
    _write_meta(
        path,
        {
            "input_rows": N_VECTORS + N_SERVE_DOCS,
            "pool": pool,
            "draws": [int(d) for d in draws],
            "deletes": [st["delete_ids"] for st in steps],
        },
    )


def serving_inputs(cache_dir: str, seed: int) -> str:
    return _cached(
        cache_dir,
        "serving",
        seed,
        _serving,
        (N_VECTORS, DIM, N_SERVE_DOCS, QUERY_POOL, QUERY_SKEW, SERVE_REQUESTS, INGEST_STEPS, INGEST_NEW, INGEST_UPDATES, INGEST_DELETES),
    )


# --------------------------------------------------------------------------


def _write_meta(path: str, meta: dict) -> None:
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def input_bytes(path: str, names: list[str]) -> int:
    return sum(os.path.getsize(os.path.join(path, f"{n}.parquet")) for n in names)
