"""r11 wave 24 (engine-parity grids): banker's rounding and explicit
NULLS ordering.

- num_round_even_parity pins HALF_EVEN rounding (Spark `bround` vs
  DuckDB `round_even`) on a VALUES grid of exact-double inputs —
  the complement of rule 8's HALF_UP `round` pin, and the function a
  finance user reaches for to avoid the systematic half-up bias. The
  grid includes the binary-representation traps (2.345 is NOT a
  binary half — both engines see the same double bits, so both
  round it DOWN) and the inputs are CAST to DOUBLE inside the oracle
  (rule 27: bare VALUES decimals type as DECIMAL and round on a
  different axis). MEASURED zero-sign divergence: rounding -0.5 to
  zero yields +0.0 from Spark's bround but -0.0 from DuckDB's
  round_even — numerically equal, string-hash different — so both
  sides normalize with an identical `+ 0.0` (IEEE: -0.0 + 0.0 = +0.0)
  and the divergence is recorded here rather than hidden by dropping
  the input.
- win_nulls_ordering_parity pins EXPLICIT `NULLS FIRST`/`NULLS LAST`
  rankings in both directions. The DEFAULTS diverge between engines
  (Spark ASC puts NULLs first, DuckDB ASC puts them last), which is
  exactly why portable SQL must spell the placement — this entry
  hashes all four explicit spellings so a regression in either
  engine's explicit path is caught, and its docstring is the
  documentation of the default trap.

Determinism: both grids are constant VALUES relations; rounding
operates on identical IEEE doubles; rankings are integer.

Scale notes: map-only constant grids — on real data these are scan
projections and window specs, exercised at scale by the win_* and
num_* production entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.session import local_frame

# ---------------------------------------------------------------------------
# num_round_even_parity — bround ≡ round_even on the double grid
# ---------------------------------------------------------------------------

_ROUND_GRID = [
    (0.5, 0), (1.5, 0), (2.5, 0), (3.5, 0), (-0.5, 0), (-1.5, 0), (-2.5, 0),
    (0.25, 1), (0.75, 1), (-0.25, 1), (0.125, 2), (0.375, 2),
    (2.345, 2), (2.675, 2), (1.005, 2),  # binary-representation traps
    (12345.0, -2), (12350.0, -2), (12450.0, -2), (-12350.0, -2),
]

_ROUND_VALUES = ", ".join(f"({v!r}, {s})" for v, s in _ROUND_GRID)

ROUND_EVEN_ORACLE = f"""
WITH g(v, s) AS (VALUES {_ROUND_VALUES})
SELECT CAST(v AS DOUBLE) AS v, CAST(s AS BIGINT) AS s,
       round_even(CAST(v AS DOUBLE), CAST(s AS INTEGER)) + 0.0 AS rounded
FROM g
ORDER BY v, s
"""


@register("num_round_even_parity", ROUND_EVEN_ORACLE)
def num_round_even_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark's bround requires a FOLDABLE scale, so the grid unions one
    # constant-scale slice per distinct scale (4 slices, same rows).
    slices = []
    for s in sorted({s for _, s in _ROUND_GRID}):
        vals = [(v,) for v, sc in _ROUND_GRID if sc == s]
        slices.append(
            local_frame(spark, vals, "v DOUBLE").selectExpr(
                "v", f"CAST({s} AS BIGINT) AS s", f"bround(v, {s}) + 0.0 AS rounded"
            )
        )
    out = slices[0]
    for sl in slices[1:]:
        out = out.unionByName(sl)
    return out.orderBy("v", "s")


# ---------------------------------------------------------------------------
# win_nulls_ordering_parity — explicit NULLS FIRST/LAST rankings
# ---------------------------------------------------------------------------
# DEFAULTS DIVERGE: Spark ASC ranks NULLs first, DuckDB ASC ranks
# them last — so only the four EXPLICIT spellings are portable, and
# only those are hashed here. id breaks ties totally.

_NULLS_ROWS = [(1, 10), (2, None), (3, 5), (4, None), (5, 20), (6, 5)]

_NULLS_VALUES = ", ".join(
    f"({i}, {('NULL' if v is None else v)})" for i, v in _NULLS_ROWS
)

_NULLS_EXPRS = [
    "row_number() OVER (ORDER BY v ASC NULLS FIRST, id) AS rn_asc_nf",
    "row_number() OVER (ORDER BY v ASC NULLS LAST, id) AS rn_asc_nl",
    "row_number() OVER (ORDER BY v DESC NULLS FIRST, id) AS rn_desc_nf",
    "row_number() OVER (ORDER BY v DESC NULLS LAST, id) AS rn_desc_nl",
]

NULLS_ORDER_ORACLE = f"""
WITH g(id, v) AS (VALUES {_NULLS_VALUES})
SELECT CAST(id AS BIGINT) AS id, CAST(v AS BIGINT) AS v,
       {", ".join(e.replace("row_number()", "CAST(row_number()").replace(") AS", ") AS BIGINT) AS") for e in _NULLS_EXPRS)}
FROM g
ORDER BY id
"""


@register("win_nulls_ordering_parity", NULLS_ORDER_ORACLE)
def win_nulls_ordering_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = local_frame(spark, _NULLS_ROWS, "id INT, v INT")
    return g.selectExpr(
        "CAST(id AS BIGINT) AS id",
        "CAST(v AS BIGINT) AS v",
        *[
            e.replace("row_number()", "CAST(row_number()").replace(") AS", ") AS BIGINT) AS")
            for e in _NULLS_EXPRS
        ],
    ).orderBy("id")
