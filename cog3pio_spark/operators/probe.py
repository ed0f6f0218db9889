"""The one list-probe top-k core behind indexed vector search and ring kNN.

After Jégou et al., *Product Quantization for Nearest Neighbor Search*
(TPAMI 2011): every row of a corpus is assigned to exactly one list, each
query probes a few distinct lists, the probed rows are scored exactly
against the queries that probe them, and a top-k cut keeps the best. A ring
kNN probe is the same shape — a band join in cell space (Band Joins for
Interval Data, EDBT 2020): the list is a point's hex cell and a query's
probes are the cells of its k-ring.

``_search`` takes the corpus already encoded as (id, ivf_list, payload), a
driver-side query batch with its probes, and a ``Scorer``. Its callers:

* operators/ann.py — lsh_topk, ivf_topk, ivf2_topk, ivfpq_topk and pq_topk,
  scoring by exact cosine or by ADC over PQ codes;
* operators/knn.py — knn_join, scoring by negated haversine distance.

Its top-k tail, ``_topk``, also cuts knn_sort_merge's curve frames.
"""

from __future__ import annotations

from collections import namedtuple
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cog3pio_spark.operators.pip_join import _ragged

# largest query batch a list-probe search collects to the driver
MAX_QUERIES = 10_000
# (row, query) pairs the search kernel expands at once: bounds its memory
# when many queries probe the same lists
PAIR_CHUNK = 1 << 16


# An exact scorer: ``fn(pdf, row, qi)`` scores the probed rows
# ``pdf.iloc[row]`` against the queries ``qi`` (higher is better); ``payload``
# names the encoded columns it reads. The kernel calls the score ``col``, and
# the ranked result emits it as the Column ``out``.
Scorer = namedtuple("Scorer", "fn payload col out")


def _finite_rows(df: DataFrame, *cols: str) -> DataFrame:
    """Rows whose every named column is non-NULL and finite: a number, or an
    array whose every component is (a NULL or NaN component makes ``forall``
    NULL or false). A NaN score or a NULL distance would rank as a
    valid-looking top hit, so such rows are never indexed or scored."""

    def finite(x):
        return ~F.isnan(x) & (F.abs(x) != float("inf"))

    for c in cols:
        is_array = isinstance(df.schema[c].dataType, T.ArrayType)
        df = df.filter(F.col(c).isNotNull() & (F.forall(c, finite) if is_array else finite(c)))
    return df


def _collect_query_batch(
    queries: DataFrame, cols: list, max_queries: int, bulk_hint: str
) -> list:
    """Bounded driver-side collection of a *serving-sized* query batch.

    Every list-probe search computes its queries' probes on the driver, so
    the batch must be small. ``limit(max+1)`` collected as Arrow is the
    guarded collect itself — no O(n) scan of the set it refuses — so an
    oversized query set errors loudly instead of OOMing the driver. The
    collect is one job whatever the partition layout (``take`` runs a
    scale-up series of jobs when the first partitions hold few rows)."""
    got = queries.select(*cols).limit(max_queries + 1).toArrow()
    rows = list(zip(*(c.to_pylist() for c in got.columns)))
    if len(rows) > max_queries:
        raise ValueError(f"query set exceeds max_queries={max_queries}: the search collects "
                         f"the query batch to the driver to compute its probes. {bulk_hint}")
    return rows


def _rank_topk(
    scored: DataFrame, k: int, query_id_col: str, id_col: str, score_col: str, out: Column
) -> DataFrame:
    """Final per-query cut over partial top-k survivors. Ordering uses the
    UNROUNDED score, higher first, with ascending id on ties (the oracle's
    ORDER BY); ``out`` is the emitted score column."""
    w = Window.partitionBy(query_id_col).orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    return ranked.select(query_id_col, "rank", id_col, out)


def _topk(qi: np.ndarray, ids: np.ndarray, s: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Top-k cut of scored (query, id) pairs: (positions, 1-based ranks) of
    each query's ``k`` best, ordered by query, higher score first and
    ascending id on ties (the oracle's ORDER BY)."""
    o = np.lexsort((ids, -s, qi))
    qi = qi[o]
    head = np.r_[True, qi[1:] != qi[:-1]]
    at = np.arange(len(qi))
    rank = at - np.maximum.accumulate(np.where(head, at, 0))
    keep = rank < k
    return o[keep], rank[keep] + 1


def _search(
    encoded: DataFrame,
    qids: np.ndarray,
    query_type: T.DataType,
    probes,
    scorer: Scorer,
    k: int,
    *,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Top-k of the ``encoded`` (id, ivf_list, payload) rows for each query.

    ``probes[i]`` holds the DISTINCT list ids query ``qids[i]`` probes; the
    widths may differ per query (a rectangular (n_queries, P) array is the
    special case). Since every row lives in exactly one list, each
    (query, row) pair is scored at most once. Returns
    (query_id_col, rank, id_col, scorer.out).

    The caller narrows ``encoded`` to the probed lists (ann.py with a
    literal ``IN``, which prunes an ivf_list-partitioned index at
    file-listing time; knn_join with its cell UDF); rows of other lists
    score nothing. The kernel finds each row's probing queries through a
    CSR index of the probes (lists sorted, one run of query indices per
    list; none for a row of an unprobed list),
    expands the (row, query) pairs in numpy, and keeps each query's top-k
    per slice (top-k is a monoid), so the final window ranks
    ≤ slices·|queries|·k rows."""
    flat = np.concatenate(probes)
    order = np.argsort(flat, kind="stable")
    q_of = np.repeat(np.arange(len(probes)), [len(p) for p in probes])[order]
    lists, starts, counts = np.unique(flat[order], return_index=True, return_counts=True)
    step = max(1, PAIR_CHUNK // int(counts.max()))
    score, col = scorer.fn, scorer.col  # the kernel must not close over out, a JVM Column

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        lst = pdf["ivf_list"].to_numpy()
        pos = np.minimum(np.searchsorted(lists, lst), len(lists) - 1)
        cnt = np.where(lists[pos] == lst, counts[pos], 0)  # 0: an unprobed list
        row = np.repeat(np.arange(len(pdf)), cnt)
        qi = q_of[_ragged(starts[pos], cnt)]
        s = score(pdf, row, qi)
        ids = pdf[id_col].to_numpy()[row]
        o, _ = _topk(qi, ids, s, k)
        return pd.DataFrame({query_id_col: qids[qi[o]], id_col: ids[o], col: s[o]})

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), step):
                yield _score(pdf.iloc[lo : lo + step])

    part_schema = (
        T.StructType().add(query_id_col, query_type)
        .add(id_col, encoded.schema[id_col].dataType).add(scorer.col, T.DoubleType())
    )
    probed = encoded.select(id_col, "ivf_list", *scorer.payload).mapInPandas(_kernel, part_schema)
    return _rank_topk(probed, k, query_id_col, id_col, scorer.col, scorer.out)
