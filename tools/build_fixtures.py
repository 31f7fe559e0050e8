"""Generate literal-VALUES DuckDB oracles for the engine-output queries.

The crawl engine's exactness oracle is the single-threaded reference
simulator (bitextor_spark/frontier/simulator.py) — the analog of the
reference's golden-output md5 comparison (tests/common.sh:27-60). This
script runs the simulator (pure Python, no Spark) for EXACTLY the worlds
and configs the registry queries `crawl_wave` / `crawl_wave_priority`
execute, and the image pipeline's expected aggregate (pure numpy, no
Spark), then emits:

- ``bitextor_spark/expected_fixtures.py`` — a generated module holding the
  expected result rows and DuckDB ``SELECT ... FROM (VALUES ...)`` oracle
  strings. The driver's DuckDB correctness gate replays these literals, so
  the engine's actual ordered fetch log is hash-compared against the
  simulator's — the strongest check the driver can express, with no
  filesystem dependency inside the oracle SQL.
- ``fixtures/*.parquet`` — the same expected tables as parquet, for human
  inspection and the pytest drift guard (tests assert the committed module
  matches a fresh in-process simulation, so the fixtures can never go
  stale silently).

Run: ``python tools/build_fixtures.py`` (idempotent; deterministic output).
"""

from __future__ import annotations

import hashlib
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bitextor_spark.config import CrawlConfig, WorldConfig  # noqa: E402
from bitextor_spark.frontier.simulator import simulate  # noqa: E402
from bitextor_spark.frontier.world import small_world  # noqa: E402
from bitextor_spark.functions.images import (  # noqa: E402
    decode_image,
    make_image_row,
    phash64,
    png_encode,
)

# --- the registry queries' exact world/config (queries.py::_crawl_wave_impl)
WORLD_CFG = WorldConfig(n_hosts=4, n_pages=60)
BASE_CFG = dict(max_epochs=2, max_retries=1)

FETCH_LOG_COLS = (
    ("seq", "BIGINT"),
    ("epoch", "INTEGER"),
    ("url_canon", "VARCHAR"),
    ("host", "VARCHAR"),
    ("hop", "INTEGER"),
    ("fetch_start_ms", "BIGINT"),
    ("status", "INTEGER"),
    ("outcome", "VARCHAR"),
)

IMG_COLS = (
    ("fmt", "VARCHAR"),
    ("n", "BIGINT"),
    ("avg_r", "DOUBLE"),
    ("avg_g", "DOUBLE"),
    ("avg_b", "DOUBLE"),
    ("n_phash_ok", "BIGINT"),
    ("n_thumbs", "BIGINT"),
)

MATCH_COLS = (
    ("src", "BIGINT"),
    ("trg", "BIGINT"),
    ("score", "DOUBLE"),
)

# the driver's correctness gate runs every query at this sf dir; the W3/W4
# oracles are baked for exactly this input (drift-guarded in pytest)
DRIVER_SF_DIR = "/root/testdata/sf0.01"


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def values_sql(rows: list[tuple], cols: tuple[tuple[str, str], ...]) -> str:
    """Typed DuckDB query over literal rows: every column CAST explicitly so
    the driver's schema compare sees the same types Spark reports."""
    names = ", ".join(f"c{i}" for i in range(len(cols)))
    proj = ", ".join(
        f"CAST(c{i} AS {typ}) AS {name}" for i, (name, typ) in enumerate(cols)
    )
    vals = ",\n      ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in rows
    )
    return f"SELECT {proj}\n    FROM (VALUES {vals}) AS t({names})"


def crawl_expected(cfg_kwargs: dict) -> list[tuple]:
    world = small_world(WORLD_CFG)
    cfg = CrawlConfig(**BASE_CFG, **cfg_kwargs)
    sim = simulate(world, cfg)
    return [
        (r.seq, r.epoch, r.url_canon, r.host, r.hop, r.fetch_start_ms,
         r.status, r.outcome)
        for r in sim.fetch_log
    ]


def _round_half_up(x: float, nd: int) -> float:
    """Spark's F.round / DuckDB's round: HALF_UP decimal rounding."""
    return float(Decimal(repr(x)).quantize(Decimal(10) ** -nd, ROUND_HALF_UP))


def img_expected(n: int = 64) -> list[tuple]:
    """Pure-numpy recomputation of queries_batch2.img_pipeline — decode,
    per-channel means, phash recheck, 16x16 thumb digest, grouped by fmt."""
    groups: dict[str, dict] = {}
    for i in range(n):
        row = make_image_row(f"img-{i:04d}")
        px = decode_image(row["bytes"])
        means = px.reshape(-1, 3).mean(axis=0)
        h, w, _ = px.shape
        yi = (np.arange(16) * h // 16).astype(int)
        xi = (np.arange(16) * w // 16).astype(int)
        enc = png_encode(np.ascontiguousarray(px[np.ix_(yi, xi)]))
        g = groups.setdefault(
            row["fmt"],
            {"n": 0, "r": [], "g": [], "b": [], "ok": 0, "digests": set()},
        )
        g["n"] += 1
        g["r"].append(float(means[0]))
        g["g"].append(float(means[1]))
        g["b"].append(float(means[2]))
        if row["fmt"] == "png" and phash64(px) == row["phash"]:
            g["ok"] += 1
        g["digests"].add(hashlib.md5(enc).hexdigest())
    return [
        (fmt, g["n"],
         _round_half_up(float(np.mean(g["r"])), 2),
         _round_half_up(float(np.mean(g["g"])), 2),
         _round_half_up(float(np.mean(g["b"])), 2),
         g["ok"], len(g["digests"]))
        for fmt, g in sorted(groups.items())
    ]


def tfidf_pairs(sf_dir: str = DRIVER_SF_DIR) -> list[tuple[int, int, float]]:
    """The matching input, recomputed Spark-independently: DuckDB runs the
    registry's own tfidf_similarity oracle SQL over the driver's sf tables.
    That SQL is hash-green against the Spark plan (CORRECTNESS r2-r4), so
    its (src, trg, score) rows — scores rounded to 4 decimals on BOTH
    engines — are the exact pair set the W3/W4 queries consume."""
    import duckdb

    from bitextor_spark.queries import _TFIDF_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    rows = con.execute(_TFIDF_SQL).fetchall()
    con.close()
    # canonical order: DuckDB's parallel scan returns rows in arbitrary
    # order; the matchers are order-independent (total tiebreaks) but the
    # baked literals must be byte-stable across builder runs
    return sorted((int(s), int(t), float(sc)) for s, t, sc, _rank in rows)


def greedy_expected(pairs: list[tuple[int, int, float]]) -> list[tuple]:
    """Pure-Python replay of operators/matching.greedy_one_to_one: best
    score first, (score desc, src, trg) deterministic order, keep iff
    neither side is matched (docalign.cpp:424-462 sweep semantics).
    Distinct rounded scores differ by >= 5e-5 >> 1 ulp, so the float sort
    order is engine-independent."""
    taken_src: set[int] = set()
    taken_trg: set[int] = set()
    out = []
    for src, trg, score in sorted(pairs, key=lambda p: (-p[2], p[0], p[1])):
        if src in taken_src or trg in taken_trg:
            continue
        taken_src.add(src)
        taken_trg.add(trg)
        out.append((src, trg, score))
    return sorted(out)


def converge_expected(pairs: list[tuple[int, int, float]]) -> list[tuple]:
    """Pure-Python replay of operators/matching.mutually_best_converge
    (bitextor_align_documents.py:36-365 converge mode): keep pairs that are
    BOTH their src's best (score desc, trg asc) and their trg's best
    (score desc, src asc), drop every pair touching a matched doc, iterate
    to fixpoint. Output order is irrelevant (driver hashes order-
    insensitively)."""
    remaining = list(pairs)
    matched: list[tuple] = []
    while remaining:
        best_for_src: dict[int, tuple] = {}
        best_for_trg: dict[int, tuple] = {}
        for src, trg, score in remaining:
            b = best_for_src.get(src)
            if b is None or (-score, trg) < (-b[2], b[1]):
                best_for_src[src] = (src, trg, score)
            b = best_for_trg.get(trg)
            if b is None or (-score, src) < (-b[2], b[0]):
                best_for_trg[trg] = (src, trg, score)
        mutual = [
            p for p in remaining
            if best_for_src[p[0]] == p and best_for_trg[p[1]] == p
        ]
        if not mutual:
            break
        matched.extend(mutual)
        m_src = {p[0] for p in mutual}
        m_trg = {p[1] for p in mutual}
        remaining = [
            p for p in remaining if p[0] not in m_src and p[1] not in m_trg
        ]
    return sorted(matched)


def write_parquet(path: str, rows: list[tuple], cols) -> None:
    typemap = {"BIGINT": pa.int64(), "INTEGER": pa.int32(),
               "VARCHAR": pa.string(), "DOUBLE": pa.float64()}
    schema = pa.schema([(name, typemap[t]) for name, t in cols])
    arrays = [
        pa.array([r[i] for r in rows], type=typemap[t])
        for i, (_, t) in enumerate(cols)
    ]
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)


def main() -> None:
    bfs = crawl_expected({})
    pri = crawl_expected({"queue_order": "priority", "priority_floor": 1e-6})
    img = img_expected()
    pairs = tfidf_pairs()
    w3 = greedy_expected(pairs)
    w4 = converge_expected(pairs)

    fx_dir = os.path.join(REPO, "fixtures")
    os.makedirs(fx_dir, exist_ok=True)
    write_parquet(os.path.join(fx_dir, "crawl_wave_expected.parquet"),
                  bfs, FETCH_LOG_COLS)
    write_parquet(os.path.join(fx_dir, "crawl_wave_priority_expected.parquet"),
                  pri, FETCH_LOG_COLS)
    write_parquet(os.path.join(fx_dir, "img_pipeline_expected.parquet"),
                  img, IMG_COLS)
    write_parquet(os.path.join(fx_dir, "w3_greedy_match_expected.parquet"),
                  w3, MATCH_COLS)
    write_parquet(os.path.join(fx_dir, "w4_converge_match_expected.parquet"),
                  w4, MATCH_COLS)

    mod = os.path.join(REPO, "bitextor_spark", "expected_fixtures.py")
    with open(mod, "w", encoding="utf-8") as fh:
        fh.write(
            '"""AUTO-GENERATED by tools/build_fixtures.py — do not edit.\n\n'
            "Expected results (reference-simulator fetch logs, pure-numpy\n"
            "image aggregate) as rows + literal-VALUES DuckDB oracle SQL.\n"
            "The pytest drift guard (tests/test_oracle_parity.py) re-runs\n"
            "the simulator and fails if this module is stale.\n"
            '"""\n\n'
        )
        fh.write(f"CRAWL_WAVE_ROWS = {bfs!r}\n\n")
        fh.write(f"CRAWL_WAVE_PRIORITY_ROWS = {pri!r}\n\n")
        fh.write(f"IMG_PIPELINE_ROWS = {img!r}\n\n")
        fh.write(f"W3_GREEDY_ROWS = {w3!r}\n\n")
        fh.write(f"W4_CONVERGE_ROWS = {w4!r}\n\n")
        fh.write("EXPECTED_SQL = {\n")
        for name, rows, cols in (
            ("crawl_wave", bfs, FETCH_LOG_COLS),
            ("crawl_wave_priority", pri, FETCH_LOG_COLS),
            ("img_pipeline", img, IMG_COLS),
            ("w3_greedy_match", w3, MATCH_COLS),
            ("w4_converge_match", w4, MATCH_COLS),
        ):
            fh.write(f'    "{name}": """\n    {values_sql(rows, cols)}\n    """,\n')
        fh.write("}\n")
    print(f"crawl_wave: {len(bfs)} rows; priority: {len(pri)} rows; "
          f"img: {len(img)} rows; w3: {len(w3)} rows; w4: {len(w4)} rows "
          f"-> {mod}")


if __name__ == "__main__":
    main()
