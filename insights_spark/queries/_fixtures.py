"""Fixtures shared by the query modules: table reads, synthetic points,
the synthetic countries, and the SQL fragments that oracles in more than
one module use. A fragment used by a single module lives in that module;
one used by a single query sits next to that query."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import FIXTURES

# Tables fanned out after the scan (see _t) and the size cap above which a
# table is taken to have enough row groups to parallelize on its own.
_FANOUT_TABLES = {"documents", "embeddings"}
_FANOUT_MAX_BYTES = 256 * 1024 * 1024


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as its declared schema
    (``schemas.FIXTURES``), which spares the read Spark's footer-inference
    job.

    The fixture parquet ships ONE row group per file, so every row lands
    in the single scan task holding the row group's offset and all
    map-side work serializes on one core. The text and vector tables feed
    per-row Arrow kernels (grams, signatures, fold dots) whose map cost
    per byte dwarfs one shuffle, so a round-robin repartition to default
    parallelism right after the scan won 2-5x per query. The point and
    fact tables (events, lineitem, orders) are keyed by their first
    exchange anyway and measured slower with the same fan-out. Filters
    still push below the repartition, and every registered query is
    partition-assignment invariant, so results are unchanged. Tables of
    ``_FANOUT_MAX_BYTES`` or more (production shards with many row
    groups) never pay the shuffle.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(FIXTURES[name]).parquet(path)
    if name in _FANOUT_TABLES:
        try:
            if os.path.isdir(path):
                # spark-written tables are directories of part files
                sz = sum(
                    e.stat().st_size for e in os.scandir(path)
                    if e.is_file()
                )
            else:
                sz = os.path.getsize(path)
        except OSError:
            sz = 1 << 40
        if sz < _FANOUT_MAX_BYTES:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _points(df: DataFrame, key: str) -> DataFrame:
    """Deterministic synthetic lon/lat from an integer key (same math as
    the SQL oracle; all values are multiples of 0.001 so they never sit on
    the synthetic polygon edges, which are offset by 0.0005)."""
    return df.withColumn(
        "lon", F.pmod(F.col(key) * 7919, F.lit(360000)) / 1000.0 - 180.0
    ).withColumn("lat", F.pmod(F.col(key) * 104729, F.lit(170000)) / 1000.0 - 85.0)


_POINTS_SQL = (
    "mod({k} * 7919, 360000) / 1000.0 - 180.0 AS lon, "
    "mod({k} * 104729, 170000) / 1000.0 - 85.0 AS lat"
)

# Synthetic countries for the PIP operator (lon0, lat0, lon1, lat1).
# Tie-break order (priority DESC, name ASC): Aztlan, Westland, Eastland, Northia.
# Aztlan overlaps Eastland — overlap points go to Aztlan (priority).
_COUNTRIES = [
    ("Aztlan", True, 60.0005, -10.0005, 100.0005, 30.0005),
    ("Westland", True, -150.0005, -60.0005, -30.0005, 20.0005),
    ("Eastland", False, 0.0005, -20.0005, 90.0005, 60.0005),
    ("Northia", False, -29.9995, 30.0005, -0.0005, 79.9995),
]


def _boundary_rows():
    rows = []
    for name, pri, x0, y0, x1, y1 in _COUNTRIES:
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        rows.append(
            {"name_en": name, "admin_level": 2, "tags": {}, "polygons": [[ring]],
             "priority": pri}
        )
    return rows


def _country_case_sql() -> str:
    """CASE replicating the PIP kernel's deterministic tie-break order."""
    branches = []
    for name, _pri, x0, y0, x1, y1 in [
        _COUNTRIES[0], _COUNTRIES[1], _COUNTRIES[2], _COUNTRIES[3]
    ]:
        branches.append(
            f"WHEN lon >= {x0} AND lon <= {x1} AND lat >= {y0} AND lat <= {y1} "
            f"THEN '{name}'"
        )
    return "CASE " + " ".join(branches) + " ELSE NULL END"


_EV_PTS = f"SELECT event_id, event_type, {_POINTS_SQL.format(k='event_id')} FROM events"

# S2 Hilbert lookup table (public S2 spec): pos = IJ_TO_POS[orient][ij],
# flattened to orient*4 + ij
_S2_IJ2POS = (0, 1, 3, 2, 0, 3, 1, 2, 2, 3, 1, 0, 2, 1, 3, 0)


def _s2_cells_sql(src: str, level: int = 12, rollup: bool = True) -> str:
    """ANSI-SQL replica of geo.cells.s2_cell_id: face selection → quadratic
    (u,v)→(s,t) projection → (i,j) → `level` unrolled Hilbert-curve steps →
    uint64 cell id reinterpreted as two's-complement BIGINT. Every step is
    plain integer/real arithmetic, so DuckDB reproduces the numpy kernel
    bit-for-bit (trunc matches numpy's toward-zero int cast; values are
    clamped before it matters). rollup=False returns per-row
    (event_id, s2_l12) with the ids CTE MATERIALIZED — an outer equality
    filter otherwise gets pushed/inlined through the unrolled CASE chain
    and DuckDB's optimizer blows up exponentially (measured: 0.06 s
    materialized vs >120 s inlined at sf0.01)."""
    n = 1 << level
    steps = []
    prev = "s0"
    for idx, k in enumerate(range(level - 1, -1, -1)):
        ij = f"(((i >> {k}) & 1) * 2 + ((j >> {k}) & 1))"
        p_case = (
            "CASE orient * 4 + " + ij + " "
            + " ".join(f"WHEN {c} THEN {_S2_IJ2POS[c]}" for c in range(16))
            + " END"
        )
        cur = f"s{idx + 1}"
        steps.append(
            f"{cur} AS (SELECT event_id, i, j, face, pos * 4 + p AS pos, "
            f"xor(orient, CASE p WHEN 0 THEN 1 WHEN 3 THEN 3 ELSE 0 END) AS orient "
            f"FROM (SELECT *, {p_case} AS p FROM {prev}))"
        )
        prev = cur
    shift = 2 * (30 - level)
    return f"""
        WITH pts AS ({src}),
        xyz AS (SELECT event_id,
                       cos(radians(lat)) * cos(radians(lon)) AS x,
                       cos(radians(lat)) * sin(radians(lon)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        fc AS (SELECT event_id, x, y, z,
                      CASE WHEN abs(x) >= abs(y) THEN
                             CASE WHEN abs(x) >= abs(z) THEN 0 ELSE 2 END
                           ELSE CASE WHEN abs(y) >= abs(z) THEN 1 ELSE 2 END
                      END AS comp
               FROM xyz),
        fc2 AS (SELECT event_id, x, y, z, comp,
                       comp + CASE WHEN (CASE comp WHEN 0 THEN x WHEN 1 THEN y
                                         ELSE z END) >= 0
                              THEN 0 ELSE 3 END AS face
                FROM fc),
        uv AS (SELECT event_id, face,
                      CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
                                WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
                      CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
                                WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
               FROM fc2),
        st AS (SELECT event_id, face,
                      CASE WHEN u >= 0 THEN 0.5 * sqrt(1 + 3*u)
                           ELSE 1 - 0.5 * sqrt(1 - 3*u) END AS su,
                      CASE WHEN v >= 0 THEN 0.5 * sqrt(1 + 3*v)
                           ELSE 1 - 0.5 * sqrt(1 - 3*v) END AS sv
               FROM uv),
        s0 AS (SELECT event_id, face,
                      greatest(0, least({n - 1}, CAST(trunc(su * {n}) AS BIGINT))) AS i,
                      greatest(0, least({n - 1}, CAST(trunc(sv * {n}) AS BIGINT))) AS j,
                      CAST(0 AS BIGINT) AS pos, face % 2 AS orient
               FROM st),
        {','.join(steps)},
        ids AS {'' if rollup else 'MATERIALIZED '}(SELECT event_id,
                       CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                                 THEN h - 18446744073709551616::HUGEINT
                            ELSE h END AS BIGINT) AS s2_l12
                FROM (SELECT event_id,
                             face::HUGEINT * {1 << 61}::HUGEINT
                             + pos::HUGEINT * {1 << (shift + 1)}::HUGEINT
                             + {1 << shift}::HUGEINT AS h
                      FROM {prev}))
        SELECT {{final}}
    """.replace(
        "{final}",
        "s2_l12, CAST(count(*) AS BIGINT) AS n FROM ids GROUP BY 1"
        if rollup else "event_id, s2_l12 FROM ids",
    )
