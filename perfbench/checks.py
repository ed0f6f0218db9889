"""Output checks computed without the engine's tile path or operators.

* tiles: centroids come from the tiepoints the benchmark wrote; polygon
  containment is a numpy even-odd ray test over
  ``fixtures.polygons.make_polygon_rows``; span and doc counts come from
  the (doc, ref) index of every media span, read back from the docs
  parquet with pyarrow (or kept by the numpy generator) when the input is
  generated.
* registry queries: DuckDB runs ``oracle_sql()`` over the same parquet and
  the two Arrow tables are compared with ``tools/check_oracle.py``'s typed
  comparison (column names, canonical types, order-insensitive values).
"""

from __future__ import annotations

import numpy as np


def contains(cx: np.ndarray, cy: np.ndarray, rings: list[list[tuple]]) -> np.ndarray:
    """Boolean (points x polygons) even-odd containment."""
    out = np.zeros((len(cx), len(rings)), dtype=bool)
    for j, ring in enumerate(rings):
        xs = np.array([p[0] for p in ring])
        ys = np.array([p[1] for p in ring])
        inside = np.zeros(len(cx), dtype=bool)
        for k in range(len(xs) - 1):
            x1, y1, x2, y2 = xs[k], ys[k], xs[k + 1], ys[k + 1]
            crosses = (y1 > cy) != (y2 > cy)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x1 + (cy - y1) * (x2 - x1) / (y2 - y1)
            inside ^= crosses & (cx < xint)
        out[:, j] = inside
    return out


def tile_reference(span_doc: np.ndarray, span_ref: np.ndarray, refs: list[str],
                   ref_dir: str, tiles: list[dict], polygon_rows: list[tuple],
                   n_docs: int) -> dict:
    """Expected per-polygon aggregate, per-tile row count and error refs.

    ``span_doc``/``span_ref`` index the docs and ``refs`` of every media
    span; ``tiles`` are the farm facts (name, ok, cx, cy,
    mean). A referenced name with no ok fact is a planted error.
    """
    facts = {f"file://{ref_dir}/{t['name']}": t for t in tiles}
    counts = np.bincount(span_ref, minlength=len(refs))
    used = np.nonzero(counts)[0]
    ok = np.array([i for i in used if facts.get(refs[i], {}).get("ok")], dtype=np.int64)
    cx = np.array([facts[refs[i]]["cx"] for i in ok])
    cy = np.array([facts[refs[i]]["cy"] for i in ok])
    mean = np.array([facts[refs[i]]["mean"] for i in ok])
    hit = contains(cx, cy, [[(p["x"], p["y"]) for p in row[1]] for row in polygon_rows])

    order = np.argsort(span_ref, kind="stable")
    docs_by_ref = span_doc[order]
    starts = np.concatenate([[0], np.cumsum(counts)])
    mark = np.zeros(n_docs, dtype=bool)
    expected = {}
    for j, row in enumerate(polygon_rows):
        members = ok[hit[:, j]]
        if not len(members):
            continue
        seg = np.concatenate([docs_by_ref[starts[r]:starts[r + 1]] for r in members])
        mark[seg] = True
        n_distinct = int(np.count_nonzero(mark))
        mark[seg] = False
        expected[row[0]] = (
            int(counts[members].sum()), n_distinct, len(members),
            float((mean[hit[:, j]] * counts[members]).sum()),
        )
    return {
        "aggregate": expected,
        "ok_refs": len(ok),
        "error_refs": len(used) - len(ok),
        "tile_rows": int(np.maximum(hit.sum(axis=1), 1).sum()),
        "refs": [refs[i] for i in used],
    }


def check_aggregate(rows, expected: dict) -> str | None:
    """``flagship_aggregate`` rows against the reference; None when equal.

    n_docs is an HLL estimate (lgK=10, relative std. error 3.25%): it must
    lie within 17% (over five standard errors) or 2 docs of the exact count.
    """
    got = {r["polygon_id"]: r for r in rows}
    if set(got) != set(expected):
        miss = sorted(set(expected) - set(got))[:3]
        extra = sorted(set(got) - set(expected))[:3]
        return f"polygon sets differ: missing {miss} extra {extra}"
    for p, (n_spans, n_docs, n_tiles, s_mean) in expected.items():
        r = got[p]
        if r["n_spans"] != n_spans or r["n_tiles"] != n_tiles:
            return f"{p}: spans/tiles {r['n_spans']}/{r['n_tiles']} != {n_spans}/{n_tiles}"
        if abs(r["sum_tile_mean"] - s_mean) > 1e-9 * max(1.0, abs(s_mean)):
            return f"{p}: sum_tile_mean {r['sum_tile_mean']} != {s_mean}"
        if abs(r["n_docs"] - n_docs) > max(2, 0.17 * n_docs):
            return f"{p}: n_docs estimate {r['n_docs']} vs exact {n_docs}"
    return None


def compare_oracle(stbl, otbl) -> str | None:
    """tools/check_oracle.py's typed comparison; None when equal."""
    from tools.check_oracle import arrow_cols_types_rows, canon

    scols, stypes, srows = arrow_cols_types_rows(stbl)
    ocols, otypes, orows = arrow_cols_types_rows(otbl)
    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} != {sorted(ocols)}"
    if len(srows) != len(orows):
        return f"rowcount {len(srows)} != {len(orows)}"
    tdiff = {c: (stypes[c], otypes[c]) for c in scols if stypes[c] != otypes[c]}
    if tdiff:
        return f"types {tdiff}"
    a, b = canon(srows, scols), canon(orows, ocols)
    if a != b:
        return f"values differ: {[(x, y) for x, y in zip(a, b) if x != y][:2]}"
    return None
