"""Workload definitions and their output checks.

A workload names the generated tables it reads, the registry jobs one pass
runs, where each job's output goes, and the untimed checks that decide
whether the run's outputs are correct. Each check returns a list of failure
strings; every failure counts against ``ok_share``.
"""

from __future__ import annotations

import glob
import math
import os
from dataclasses import dataclass

import duckdb


@dataclass(frozen=True)
class Job:
    name: str
    #: ``"csv"`` (``sinks.write_single_csv``) or ``"parquet"``
    #: (``sinks.write_partitioned_parquet`` by ``partition_by``): the output
    #: is written there on every pass and checked from the files. Without a
    #: sink it is collected on the first pass and written to ``noop`` after.
    sink: str | None = None
    partition_by: tuple[str, ...] = ()


@dataclass(frozen=True)
class Workload:
    name: str
    table_sets: tuple[str, ...]
    jobs: tuple[Job, ...]
    #: Exact jobs whose answers score the approximate ones, taken untimed
    #: from their registry oracle SQL run in DuckDB (the SQL each of those
    #: Spark jobs is held equal to).
    twins: tuple[str, ...] = ()


RECSYS = Workload(
    name="recsys",
    table_sets=("events", "tpch"),
    jobs=(
        Job("als_predict", sink="csv"),
        Job("q3_shipping_priority"),
        Job("agg_cube_revenue", sink="parquet", partition_by=("gid",)),
    ),
)

CORPUS = Workload(
    name="corpus",
    table_sets=("corpus",),
    jobs=(
        Job("dedup_minhash_lsh"),
        Job("sim_topk_ivfpq"),
        Job("agg_conditional_count"),
    ),
    twins=("sim_topk_bruteforce", "dedup_ngram_jaccard"),
)

WORKLOADS = {w.name: w for w in (RECSYS, CORPUS)}

#: Gates on the quality metrics. ANN recall uses the repository's own test
#: gate for IVFPQ (tests/test_similarity.py); near-duplicates planted by the
#: generator share all but one shingle, so MinHash must find nearly all.
ANN_RECALL_MIN = 0.5
DEDUP_RECALL_MIN = 0.8


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def query_rows(con, sql: str) -> list[dict]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return [dict(zip(cols, r)) for r in res.fetchall()]


def _norm(v):
    """Value normalisation of the repository's oracle sweep
    (tools/drive_full.py): floats rounded to 9 places, NaN as a string."""
    if v is None:
        return None
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def oracle_check(name: str, got: list[dict], want: list[dict]) -> list[str]:
    """Compare a job's rows with its oracle's as sorted, normalised tuples
    over the job's columns."""
    if not want:
        return [f"{name}: oracle returned no rows"]
    cols = list(want[0])
    if got and set(got[0]) != set(cols):
        return [f"{name}: columns {sorted(got[0])}, oracle has {sorted(cols)}"]

    def canon(rows):
        return sorted((tuple(_norm(r[c]) for c in cols) for r in rows), key=repr)

    g, w = canon(got), canon(want)
    if g == w:
        return []
    diff = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b), min(len(g), len(w)))
    return [f"{name}: {len(g)} rows differ from the oracle's {len(w)} (first at sorted row {diff})"]


def ann_recall(approx: list, exact: list) -> float:
    """Mean over queries of |approx top-k ∩ exact top-k| / |exact top-k|."""
    want, got = {}, {}
    for r in exact:
        want.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return sum(len(got.get(q, set()) & n) / len(n) for q, n in want.items()) / len(want)


def pair_recall(approx: list, exact: list) -> float:
    """Share of the exact near-duplicate pairs the approximate job found."""
    want = {(r["doc_a"], r["doc_b"]) for r in exact}
    got = {(r["doc_a"], r["doc_b"]) for r in approx}
    return len(want & got) / len(want)


def pair_precision_check(name: str, approx: list, exact: list) -> list[str]:
    """MinHash verifies its candidates with the exact Jaccard, so every pair
    it reports must be an exact pair, with the exact score."""
    want = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in exact}
    wrong = [r for r in approx if want.get((r["doc_a"], r["doc_b"])) != r["jaccard"]]
    if not wrong:
        return []
    return [f"{name}: {len(wrong)} of {len(approx)} pairs are not exact pairs, e.g. {wrong[0]}"]


def data_files(path: str, ext: str) -> list[str]:
    """The data files a sink wrote under ``path`` (no markers or checksums)."""
    return sorted(
        f for f in glob.glob(os.path.join(path, "**", f"*{ext}"), recursive=True)
        if not os.path.basename(f).startswith((".", "_"))
    )


def read_parquet_sink(con, path: str) -> list[dict]:
    """Rows of a partitioned parquet sink, partition columns included."""
    files = data_files(path, ".parquet")
    if not files:
        return []
    return query_rows(con, f"SELECT * FROM read_parquet({files!r}, hive_partitioning = true)")


def predictions_check(con, csv_dir: str, rmse_band) -> tuple[list[str], float | None]:
    """Read back the held-out predictions ``als_predict`` wrote through the
    CSV sink and compute their RMSE (``als_rmse``'s metric: same split, seed
    and fit). One file; every row a held-out (user, item, rating) of the
    input with a finite prediction; about a fifth of the ratings; RMSE
    inside the engine's band and below the ratings' standard deviation (a
    model that cannot beat the mean fails)."""
    files = data_files(csv_dir, ".csv")
    if len(files) != 1:
        return [f"als_predict: sink wrote {len(files)} csv files, want 1"], None
    con.execute(f"CREATE VIEW preds AS SELECT * FROM read_csv('{files[0]}', header = true)")
    n, n_bad, rmse = con.execute("""
        SELECT COUNT(*),
               COUNT(*) FILTER (WHERE prediction IS NULL OR isnan(prediction)),
               SQRT(AVG((rating - prediction) ^ 2))
        FROM preds
    """).fetchone()
    (n_ratings, rating_sd) = con.execute(
        "SELECT COUNT(*), STDDEV_POP(CAST(value / 40.0 AS FLOAT)) FROM events"
    ).fetchone()
    (n_unknown,) = con.execute("""
        SELECT COUNT(*) FROM preds p ANTI JOIN events e
          ON p.user_id = e.user_id AND p.item_id = e.event_id % 101
         AND ABS(p.rating - CAST(e.value / 40.0 AS FLOAT)) < 1e-5
    """).fetchone()
    fails = []
    if not 0.1 * n_ratings < n < 0.3 * n_ratings:
        fails.append(f"als_predict: {n} held-out rows for {n_ratings} ratings (split is 80/20)")
    if n_bad or n_unknown:
        fails.append(f"als_predict: {n_bad} rows without a prediction, {n_unknown} not input ratings")
    lo, hi = rmse_band
    if rmse is None or not (lo < rmse < hi) or rmse >= rating_sd:
        fails.append(f"als_predict: rmse {rmse} outside ({lo}, min({hi}, rating sd {rating_sd:.4f}))")
    return fails, rmse


def sink_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files a sink wrote under ``path``."""
    files = [f for f in data_files(path, "") if os.path.isfile(f)]
    return sum(os.path.getsize(f) for f in files), len(files)
