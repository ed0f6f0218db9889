"""Per-query frame loop, haversine and rank: the reference that
``cog3pio_spark/operators/knn.py::_frame_topk`` is checked against in
tests/test_knn_oracle.py.

``frames`` is the former sort-merge kNN kernel with its loop unchanged: for
each non-ghost query of one bucket it emits every point among the
±``sw`` rows around it in (_cell, _is_q, _id) order, with both rows'
coordinates. ``ranked`` is the stage that followed it on the JVM, in
pandas: haversine over the candidate rows, then a row number per query by
(dist_m, point_id), cut at ``k``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from cog3pio_spark.functions.geo import EARTH_RADIUS_M


def frames(pdf: pd.DataFrame, sw: int, query_id: str, point_id: str) -> pd.DataFrame:
    pdf = pdf.sort_values(["_cell", "_is_q", "_id"])
    isq = pdf["_is_q"].to_numpy()
    ghost = pdf["_ghost"].to_numpy()
    ids = pdf["_id"].to_numpy()
    lat = pdf["lat"].to_numpy()
    lng = pdf["lng"].to_numpy()
    nrows = len(pdf)
    q_idx = np.nonzero(isq & ~ghost)[0]
    qa, qla, qlg, pa, pla, plg = [], [], [], [], [], []
    for i in q_idx:
        lo, hi = max(0, i - sw), min(nrows, i + sw + 1)
        sel = np.nonzero(~isq[lo:hi])[0] + lo
        if sel.size:
            qa.append(np.repeat(ids[i], sel.size))
            qla.append(np.repeat(lat[i], sel.size))
            qlg.append(np.repeat(lng[i], sel.size))
            pa.append(ids[sel])
            pla.append(lat[sel])
            plg.append(lng[sel])
    cols = [query_id, "q_lat", "q_lng", point_id, "p_lat", "p_lng"]
    if not qa:
        return pd.DataFrame({c: pd.Series(dtype="float64") for c in cols})
    return pd.DataFrame(
        dict(zip(cols, map(np.concatenate, (qa, qla, qlg, pa, pla, plg))))
    )


def haversine(lat1, lng1, lat2, lng2):
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2 - lat1)
    dlng = np.radians(lng2 - lng1)
    a = np.sin(dlat / 2) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlng / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def ranked(cand: pd.DataFrame, k: int, query_id: str, point_id: str) -> pd.DataFrame:
    cand = cand.assign(
        dist_m=haversine(cand["q_lat"], cand["q_lng"], cand["p_lat"], cand["p_lng"])
    ).sort_values([query_id, "dist_m", point_id], kind="stable")
    cand["rank"] = cand.groupby(query_id).cumcount() + 1
    return cand[cand["rank"] <= k][[query_id, "rank", point_id, "dist_m"]]
