"""Output checks: engine results against DuckDB on the same parquet files.

Catalog entries with an oracle are compared with ``tools/check_oracle.py``'s
``frame_to_canon`` (columns sorted by name, rows by content, values in one
canonical text form). Where the canonical frames differ, rows are aligned in
that order and two cells still match when both are floats within a relative
1e-12 of each other, or both are decimals of the same scale one unit apart
in their last digit: both engines rounded a value on a rounding boundary
after different intermediate precision. Every such cell is listed in the
run's detail record.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any

from aws_cli_data_pipeline_tools_spark.render import _cell
from tools.check_oracle import canon, frame_to_canon

FLOAT_REL_TOL = 1e-12


@dataclass
class Verdict:
    ok: bool
    reason: str = ""
    rounding_cells: list[str] = field(default_factory=list)


def _boundary_close(a: Any, b: Any) -> bool:
    """True when two differing cells are floats within ``FLOAT_REL_TOL`` of
    each other, or decimals of equal scale one unit apart."""
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=FLOAT_REL_TOL)
    if isinstance(a, Decimal) and isinstance(b, Decimal):
        exp = a.as_tuple().exponent
        if not isinstance(exp, int) or exp != b.as_tuple().exponent:
            return False
        return abs(a - b) <= Decimal(1).scaleb(exp)
    return False


def _aligned(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Raw rows in ``frame_to_canon``'s column and row order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keyed = [(tuple(canon(r[i]) for i in order), tuple(r[i] for i in order))
             for r in rows]
    return [raw for _, raw in sorted(keyed, key=lambda kr: kr[0])]


def compare_frames(cols: list[str], rows: list[tuple],
                   w_cols: list[str], w_rows: list[tuple]) -> Verdict:
    """Compare an engine frame with the oracle's rows."""
    g_cols, g_canon = frame_to_canon(cols, rows)
    o_cols, o_canon = frame_to_canon(w_cols, w_rows)
    if g_cols != o_cols:
        return Verdict(False, f"columns {g_cols} != oracle {o_cols}")
    if len(g_canon) != len(o_canon):
        return Verdict(False, f"{len(g_canon)} rows != oracle {len(o_canon)}")
    if g_canon == o_canon:
        return Verdict(True)
    boundary: list[str] = []
    pairs = zip(g_canon, o_canon, _aligned(cols, rows), _aligned(w_cols, w_rows))
    for i, (gc, oc, gr, orow) in enumerate(pairs):
        for col, gv, ov, graw, oraw in zip(g_cols, gc, oc, gr, orow):
            if gv == ov:
                continue
            if not _boundary_close(graw, oraw):
                return Verdict(False, f"row {i} {col}: {gv} != oracle {ov}")
            boundary.append(f"{col}: {gv} vs oracle {ov}")
    return Verdict(True, rounding_cells=boundary)


def compare_tsv(tsv: str, cols: list[str], rows: list[tuple]) -> Verdict:
    """Compare a ``render.to_tsv`` result with DuckDB's rows for the same
    statement (row order ignored, every statement orders totally anyway)."""
    lines = tsv.rstrip("\n").split("\n")
    header = lines[0].split("\t")
    if header != cols:
        return Verdict(False, f"header {header} != oracle {cols}")
    got = sorted(tuple(line.split("\t")) for line in lines[1:])
    want = sorted(tuple(_cell(v) for v in r) for r in rows)
    if got != want:
        return Verdict(False, f"{len(got)} rows differ from oracle's {len(want)}")
    return Verdict(True)


def probe_top1_ok(rows: list[tuple[int, int, float, int]]) -> Verdict:
    """A probe whose query vector is in the corpus must find a neighbour
    at cosine 1.0 (to the operator's 6-decimal rounding) ranked first.
    ``rows``: (query_id, neighbor_id, cosine, rank)."""
    if not rows:
        return Verdict(False, "probe returned no rows")
    first = min(rows, key=lambda r: r[3])
    if first[3] != 1 or not math.isclose(first[2], 1.0, abs_tol=1e-9):
        return Verdict(False, f"top-1 cosine {first[2]} at rank {first[3]}")
    return Verdict(True)
